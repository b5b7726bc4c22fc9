"""Physical-plan audit helpers.

The engine's scale discipline (SURVEY.md §4): dims broadcast, shuffles only
on intended keys, filters/projections reach the parquet scan.  These helpers
read those facts off ``df.explain()`` output so tests and reviews can assert
them instead of eyeballing — the Spark-side replacement for the reference's
hand-rolled memory/chunking instrumentation
(/root/reference/src/utils/data_loader.py:52-103).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class PlanStats:
    shuffles: int
    broadcasts: int
    pushed_filter_scans: int
    scans: int
    has_python_udf: bool


def _final_plan(df: DataFrame) -> str:
    """The executed physical plan as text: the final plan once an adaptive
    query has run, the current one before.  The adaptive node's own text
    also prints the Initial Plan after a run, which would count every
    operator twice."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


def plan_stats(df: DataFrame) -> PlanStats:
    """Summarize the executed (post-AQE-planning) physical plan."""
    plan = _final_plan(df)
    n_exchange = plan.count("Exchange")
    n_broadcast = plan.count("BroadcastExchange")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return PlanStats(
        shuffles=n_exchange - n_broadcast,
        broadcasts=n_broadcast,
        pushed_filter_scans=len([p for p in pushed if p.strip()]),
        scans=plan.count("FileScan"),
        has_python_udf=any(
            marker in plan
            for marker in (
                "BatchEvalPython",
                "ArrowEvalPython",
                "FlatMapGroupsInPandas",
                "MapInPandas",
            )
        ),
    )


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each parquet scan (projection pruning
    evidence: a 2-column query must not scan 16 columns)."""
    plan = _final_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def unpartitioned_windows(df: DataFrame) -> int:
    """Count Window specs with NO partition key — every such window funnels
    all rows through one task (`WARN WindowExec: No Partition Defined`), the
    classic 100 TB scale-killer.  In the plan text, partition columns appear
    before the ordering columns and carry no ASC/DESC marker, so a spec
    whose first argument is already directional (or that starts at the
    frame) has an empty partition clause."""
    plan = _final_plan(df)
    n = 0
    for m in re.finditer(r"windowspecdefinition\(([^()]*?)(?:,\s*specifiedwindowframe|\))", plan):
        args = m.group(1).strip()
        first = args.split(",")[0].strip() if args else ""
        if not first or re.search(r"\s(ASC|DESC)\b", first):
            n += 1
    return n
