"""Unit tests of the benchmark's own code; no JVM is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import ops  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import parse_sql_metric  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


# a metric name starts with a letter or digit; at most 64 of [A-Za-z0-9_.-]
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_relative_iqr_uses_statistics_quartiles():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert q2 == statistics.median(values) == 3.75
    assert (q1, q3) == (1.875, 5.625)
    assert stats.relative_iqr(values) == pytest.approx((5.625 - 1.875) / 3.75)
    assert stats.relative_iqr([2.0] * 10) == 0.0
    with pytest.raises(statistics.StatisticsError):
        stats.relative_iqr([2.0])


def test_fail_ratio_counts_failed_ops_over_attempted():
    records = [
        {"op": "a", "pass": 1, "ok": True},
        {"op": "a", "pass": 2, "ok": False},  # raised in a later pass only
        {"op": "b", "pass": 1, "ok": True},
        {"op": "b", "pass": 2, "ok": True},
        {"op": "c", "pass": 1, "ok": False},
        {"op": "c", "pass": 2, "ok": False},  # counted once
        {"op": "d", "pass": 1, "ok": True},
        {"op": "d", "pass": 2, "ok": True},
    ]
    verified = {"b": {"ok": False}, "d": {"ok": True}}  # b's output mismatched
    failed = stats.failed_ops(records, verified)
    assert failed == ["a", "b", "c"]
    assert stats.fail_ratio(len(failed), 4) == 0.75
    assert stats.fail_ratio(0, 4) == 0.0
    for bad in [(0, 0), (5, 4), (-1, 4)]:
        with pytest.raises(ValueError):
            stats.fail_ratio(*bad)


@pytest.mark.parametrize(
    "name, ok",
    [
        ("setup_s", True),
        ("catalog.schema_jobs_per_call", True),
        ("python_workers.bytes-sent", True),
        ("0warm", True),
        ("x" * 64, True),
        ("x" * 65, False),
        ("_leading", False),
        (".leading", False),
        ("has space", False),
        ("slash/ed", False),
        ("", False),
    ],
)
def test_metric_name_validity(name, ok):
    assert (METRIC_NAME.fullmatch(name) is not None) is ok


def test_seed_permutation_is_deterministic():
    names = list(WORKLOADS["write-stream"])
    order = stats.op_order(names, 7)
    assert order == stats.op_order(list(reversed(names)), 7)
    assert sorted(order) == sorted(names)
    orders = {tuple(stats.op_order(names, seed)) for seed in range(20)}
    assert len(orders) > 1


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert METRIC_NAME.fullmatch(m["name"]), m["name"]
    assert spec["paths"] == ["perfbench"]


@pytest.mark.parametrize(
    "text, value",
    [
        ("1.5 s", 1500.0),
        ("150 ms", 150.0),
        ("12.0 KiB", 12288.0),
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n3.1 s (1 ms, 2 ms, 3 s (stage 4.0: task 9))", 3100.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_dedup_sink_compare():
    twin = pd.DataFrame({
        "event_id": [1, 2, 3],
        "user_id": [7, 7, 8],
        "event_type": ["view", "view", "click"],
        "ts": pd.to_datetime(["2024-01-01 00:01", "2024-01-01 00:15", "2024-01-01 02:00"]),
        "value": [1.0, 2.0, 3.0],
    })
    # the last bucket is still open under the 10-minute watermark
    assert ops.dedup_subset(twin.iloc[:2], twin)[0]
    assert not ops.dedup_subset(twin.iloc[1:2], twin)[0]  # a closed bucket is missing
    wrong = twin.iloc[:2].assign(value=[1.0, 2.5])
    assert not ops.dedup_subset(wrong, twin)[0]
    assert not ops.dedup_subset(twin.iloc[[0, 0, 1]], twin)[0]  # emitted twice


def test_stream_progress_sums_batches():
    progress = [
        {"numInputRows": 10, "durationMs": {"triggerExecution": 5, "addBatch": 3, "walCommit": 1}},
        {
            "numInputRows": 0,
            "durationMs": {"triggerExecution": 2, "commitOffsets": 1},
            "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 100}],
        },
    ]
    assert ops.stream_progress(progress) == {
        "batches": 2, "input_rows": 10, "trigger_ms": 7, "add_batch_ms": 3,
        "commit_ms": 2, "state_rows": 4, "state_memory_bytes": 100,
    }
