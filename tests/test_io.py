from __future__ import annotations

import glob

import pytest

from pyspark.sql import functions as F

from hackatonbigdata_spark.sources.io import SchemaError, load_typed, write_submission

SF_DIR = "/root/testdata/sf0.001"


def test_load_typed_checks_columns(spark):
    df = load_typed(spark, f"{SF_DIR}/lineitem.parquet", ["l_orderkey", "l_quantity"])
    assert df.count() > 0
    with pytest.raises(SchemaError, match="missing required columns"):
        load_typed(spark, f"{SF_DIR}/lineitem.parquet", ["nonexistent_col"])


def test_write_submission_roundtrip(spark, tmp_path):
    sub = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy(
            F.weekofyear("l_shipdate").alias("semana"),
            F.col("l_suppkey").alias("pdv"),
            F.col("l_partkey").alias("produto"),
        )
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("quantidade"))
    )
    out = str(tmp_path / "submission")
    n = write_submission(sub, out)
    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1, "submission must be a single CSV file"
    back = spark.read.option("sep", ";").option("header", "true").csv(out)
    assert back.columns == ["semana", "pdv", "produto", "quantidade"]
    assert back.count() == n
    with pytest.raises(SchemaError):
        write_submission(sub.drop("quantidade"), str(tmp_path / "bad"))


def test_export_feature_store_roundtrip(spark, tmp_path):
    from hackatonbigdata_spark.registry import all_queries
    from hackatonbigdata_spark.sources.io import export_feature_store
    import json

    df = all_queries()["feature_matrix_daily_store"](spark, SF_DIR)
    out = str(tmp_path / "fs")
    meta = export_feature_store(df, out, key_cols=["l_suppkey", "l_shipdate"])
    back = spark.read.parquet(f"{out}/features")
    assert back.count() == meta["n_rows"] > 0
    with open(f"{out}/metadata.json", encoding="utf-8") as fh:
        disk = json.load(fh)
    assert disk == meta
    assert "qty_pctile" in disk["feature_columns"]
    assert "l_suppkey" not in disk["feature_columns"]


def test_partitioned_export_prunes_partitions(spark, tmp_path):
    """A feature-store export partitioned by a column must let a reader skip
    partitions: the filtered read-back plan shows a partition filter and
    reads only the matching directory."""
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.sources.io import write_parquet

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumn(
        "ship_month", F.month("l_shipdate")
    )
    out = str(tmp_path / "bymonth")
    write_parquet(df, out, partition_by=["ship_month"])
    back = spark.read.parquet(out).filter(F.col("ship_month") == 3)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ship_month" in plan.split("PartitionFilters", 1)[1][:200]
    got = back.count()
    expect = df.filter(F.col("ship_month") == 3).count()
    assert got == expect > 0


def test_compact_parquet_reduces_files(spark, tmp_path):
    """Small-files compaction: 40 shards in -> size-targeted file count out,
    same rows."""
    from hackatonbigdata_spark.sources.io import compact_parquet

    src = str(tmp_path / "shards")
    dst = str(tmp_path / "compacted")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.repartition(40).write.mode("overwrite").parquet(src)
    stats = compact_parquet(spark, src, dst, target_file_mb=128)
    assert stats["files_before"] >= 40
    assert stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(dst).count() == li.count()


def _last_sql_execution_id(spark) -> int:
    """The newest SQL execution id in the status store, once the listener
    bus has delivered every event (ids only grow; a count would shrink when
    the store trims old executions)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return executions.last().executionId() if executions.nonEmpty() else -1


def test_upsert_parquet_is_one_sql_execution(spark, tmp_path):
    """The returned counts ride the staging write: one upsert is one SQL
    execution, not one per count plus the write."""
    from hackatonbigdata_spark.sources.io import upsert_parquet

    target = str(tmp_path / "features")
    base = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    base.write.parquet(target)
    updates = spark.createDataFrame(
        [(1, "Brand#99", 1.0), (10_000_001, "Brand#99", 9.99)],
        ["p_partkey", "p_brand", "p_retailprice"],
    )
    n0 = base.count()
    first = _last_sql_execution_id(spark)
    stats = upsert_parquet(spark, target, updates, ["p_partkey"])
    assert _last_sql_execution_id(spark) - first == 1
    assert stats == {
        "rows_before": n0,
        "rows_updated": 1,
        "rows_inserted": 1,
        "rows_after": n0 + 1,
    }


def test_upsert_parquet_updates_and_inserts(spark, tmp_path):
    """Keyed MERGE onto plain parquet: updated keys take the new values,
    unknown keys append, untouched rows survive byte-for-byte."""
    from hackatonbigdata_spark.sources.io import upsert_parquet

    target = str(tmp_path / "features")
    base = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    base.write.parquet(target)
    n0 = base.count()
    updates = (
        base.filter(F.col("p_partkey") <= 10)
        .withColumn("p_retailprice", F.lit(1.0))
        .union(
            spark.createDataFrame(
                [(10_000_001, "Brand#99", 9.99)], ["p_partkey", "p_brand", "p_retailprice"]
            )
        )
    )
    stats = upsert_parquet(spark, target, updates, ["p_partkey"])
    back = spark.read.parquet(target)
    assert stats["rows_after"] == back.count() == n0 + 1
    assert stats["rows_updated"] == base.filter("p_partkey <= 10").count()
    assert back.filter("p_partkey <= 10").select(F.min("p_retailprice"), F.max("p_retailprice")).first() == (1.0, 1.0)
    assert back.filter("p_partkey = 10000001").count() == 1
