"""The fixpoint driver ``functions.fixpoint.iterate`` on a toy DataFrame:
every round is one Spark job, the stop test rides that job, every
materialized state comes back, and a cap without a fixpoint is loud."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hackatonbigdata_spark.functions.fixpoint import iterate

def halve(df):
    return df.select((F.col("x") / 2).cast("long").alias("x"))


def _values(df) -> list[int]:
    return sorted(r.x for r in df.collect())


def _jobs(spark, group: str, fn):
    """fn()'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_iterate_returns_every_state_up_to_the_fixpoint(spark):
    start = spark.range(8).select(F.col("id").alias("x"))
    states = iterate(start, halve, F.sum("x"), 10)
    # sums 28, 12, 4, 0, 0: the fourth step certifies the fixpoint
    assert [_values(s) for s in states] == [
        list(range(8)),
        [0, 0, 1, 1, 2, 2, 3, 3],
        [0, 0, 0, 0, 1, 1, 1, 1],
        [0] * 8,
        [0] * 8,
    ]


def test_iterate_starts_one_job_per_round_and_no_other_action(spark):
    start = spark.range(0, 8, numPartitions=2).select(F.col("id").alias("x"))
    states, n_jobs = _jobs(
        spark, "fixpoint-test-jobs", lambda: iterate(start, halve, F.sum("x"), 10)
    )
    assert len(states) == 5
    assert n_jobs == len(states)
    # the states are materialized: reading one back is a fresh job on a
    # checkpointed RDD, not a replay of the rounds before it
    _, n_read = _jobs(spark, "fixpoint-test-read", lambda: states[-1].collect())
    assert n_read == 1


def test_iterate_raises_naming_the_cap(spark):
    start = spark.range(8).select(F.col("id").alias("x"))
    with pytest.raises(RuntimeError, match="halve did not reach a fixpoint in 0 rounds"):
        iterate(start, halve, F.sum("x"), 0)
    with pytest.raises(RuntimeError, match="in 2 rounds"):
        iterate(start, halve, F.sum("x"), 2)


def test_iterate_budget_returns_the_states_reached(spark):
    start = spark.range(8).select(F.col("id").alias("x"))
    states = iterate(start, halve, F.sum("x"), 2, budget=True)
    assert [_values(s) for s in states][-1] == [0, 0, 0, 0, 1, 1, 1, 1]
    assert len(states) == 3

