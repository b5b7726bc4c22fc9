"""The one driver for the loops that run to a fixpoint.

A round materializes its state with one ``materialize``, which also
truncates the plan the next round builds on, and reads the stop test
through ``observe`` on that same job, so a round costs one Spark action and
no more.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

from hackatonbigdata_spark.functions.materialize import materialize


def _observed(df: DataFrame, signal: Column) -> tuple[DataFrame, object]:
    obs = Observation()
    df = materialize(df.observe(obs, signal.alias("signal")))
    return df, obs.get["signal"]


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    signal: Column,
    max_rounds: int,
    *,
    budget: bool = False,
) -> list[DataFrame]:
    """Materialize ``state``, then ``step`` it until the aggregate
    ``signal`` no longer changes; return every materialized state, the
    initial one first and the fixpoint last.

    ``signal`` must be a function of the state that changes on every round
    that is not a fixpoint (an integer sum over monotone labels, a row
    count of a shrinking set).  After ``max_rounds`` steps without a
    fixpoint the loop raises, naming the cap; with ``budget`` the cap is
    instead part of what the caller computes, and the states reached so
    far are returned."""
    state, prev = _observed(state, signal)
    states = [state]
    for _ in range(max_rounds):
        state, cur = _observed(step(state), signal)
        states.append(state)
        if cur == prev:
            return states
        prev = cur
    if budget:
        return states
    raise RuntimeError(
        f"{step.__name__} did not reach a fixpoint in {max_rounds} rounds"
    )
