"""Pure helpers of the benchmark: the spread statistic, failure counting and
the seeded op order.  No Spark import, so the unit tests run without a JVM."""

from __future__ import annotations

import random
import statistics


def relative_iqr(values: list[float]) -> float:
    """Distance between the first and third quartile, as
    ``statistics.quantiles(values, n=4)`` gives them, as a share of the
    median: the spread a bound in BENCHMARK.json is compared against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def failed_ops(records: list[dict], verified: dict[str, dict]) -> list[str]:
    """The ops of one process that failed: an op fails once, whether it
    raised in any pass (``records``: one dict per op and pass) or its output
    failed verification (``verified``: op -> outcome)."""
    raised = {r["op"] for r in records if not r["ok"]}
    mismatched = {op for op, v in verified.items() if not v["ok"]}
    return sorted(raised | mismatched)


def fail_ratio(failed: int, attempted: int) -> float:
    """Failed ops over attempted ops."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: {failed} failed of {attempted} attempted")
    return failed / attempted


def op_order(ops: list[str], seed: int) -> list[str]:
    """The run's op order: a permutation of ``ops`` fixed by ``seed`` alone
    (independent of the interpreter's hash seed and of the input order's
    identity, only of its contents)."""
    order = sorted(ops)
    random.Random(seed).shuffle(order)
    return order
