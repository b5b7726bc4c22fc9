"""The one events reader on the ``ts`` encodings the shipped data lacks.

The shipped test data stores ``ts`` as microseconds, so the nanosecond path
is pinned here on a small table written by pyarrow: every reader must give
the microsecond-truncated wall clock DuckDB reads, and none may touch the
session's ``nanosAsLong`` setting.  A table Spark writes with its default
INT96 timestamps must read like DuckDB reads it too.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog, read_events
from hackatonbigdata_spark.streaming import jobs

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _write_nanos_events(sf_dir) -> str:
    base = 1_709_283_600 * 10**9  # 2024-03-01 09:00:00
    # sub-microsecond digits on every row, including one a nanosecond short
    # of the next microsecond and one a nanosecond past a whole second
    ns = [base + 123_456_789, base + 999_999_999, base + 3_600 * 10**9 + 1, base + 7_777]
    table = pa.table(
        {
            "event_id": pa.array(range(len(ns)), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([1, 2, 1, 3], pa.int64()),
            "event_type": ["view", "click", "purchase", "view"],
            "value": [1.5, 2.0, 3.25, 0.0],
            "props": ["{}", "{}", "{}", "{}"],
        }
    )
    sf_dir.mkdir()
    path = str(sf_dir / "events.parquet")
    pq.write_table(table, path)
    assert "Timestamp(isAdjustedToUTC=false, timeUnit=nanoseconds" in str(
        pq.read_metadata(path).schema.column(1).logical_type
    )
    return str(sf_dir)


def _ts_strings(df) -> list[tuple[int, str]]:
    return sorted(
        (r.event_id, r.s) for r in df.select("event_id", F.date_format("ts", _FMT).alias("s")).collect()
    )


def test_nanos_events_read_like_duckdb_without_session_config(spark, tmp_path):
    sf = _write_nanos_events(tmp_path / "nanos")
    conf_before = spark.conf.get(NANOS_CONF, "false")
    con = duckdb.connect()
    want = sorted(
        con.execute(
            f"SELECT event_id, strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f') "
            f"FROM '{sf}/events.parquet'"
        ).fetchall()
    )
    con.close()
    assert want[0][1].endswith(".123456")

    table = Catalog(spark, sf).table("events")
    assert dict(table.dtypes)["ts"] == "timestamp_ntz"
    assert _ts_strings(table) == want

    assert _ts_strings(jobs.read_events_batch(spark, sf)) == want

    jobs.run_to_memory(jobs.read_events_stream(spark, sf), "t_nanos_events", "append")
    assert _ts_strings(spark.table("t_nanos_events")) == want

    assert spark.conf.get(NANOS_CONF, "false") == conf_before


def test_spark_default_int96_events_read_like_duckdb(spark, tmp_path):
    """Spark writes timestamps as INT96 unless told otherwise, and pyarrow
    reports INT96 as ``timestamp[ns]`` too; the footer's physical type
    keeps such a file off the nanosecond path."""
    sf = tmp_path / "int96"
    rows = [(1, "2024-03-01 09:00:00.123456", 1.5), (2, "2024-03-01 10:30:00", 2.0)]
    (
        spark.createDataFrame(rows, "event_id long, ts string, value double")
        .select(
            "event_id",
            F.to_timestamp("ts").alias("ts"),
            F.lit(7).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            "value",
            F.lit("{}").alias("props"),
        )
        .coalesce(1)
        .write.parquet(str(sf / "events.parquet"))
    )
    part = next((sf / "events.parquet").glob("*.parquet"))
    assert pq.read_metadata(part).schema.column(1).physical_type == "INT96"
    con = duckdb.connect()
    want = sorted(
        con.execute(
            f"SELECT event_id, strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f') "
            f"FROM '{sf}/events.parquet/*.parquet'"
        ).fetchall()
    )
    con.close()
    assert want == [(1, "2024-03-01 09:00:00.123456"), (2, "2024-03-01 10:30:00.000000")]

    table = read_events(spark, str(sf))
    assert dict(table.dtypes)["ts"] == "timestamp_ntz"
    assert _ts_strings(table) == want
