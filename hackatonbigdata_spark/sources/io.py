"""Sources & sinks (SURVEY.md §2.1).

Schema-on-read typed loaders with required-column checks (replacing the
reference's TransactionLoader/ProductLoader/StoreLoader,
/root/reference/src/data/loaders.py:159-239) and the submission CSV sink
(`;`-separated UTF-8, fixed schema, row-count assert,
/root/reference/generate_submission_with_trained_model.py:222-243).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class SchemaError(ValueError):
    pass


def load_typed(
    spark: SparkSession,
    path: str,
    required_cols: list[str],
    not_null_cols: list[str] | None = None,
) -> DataFrame:
    """Parquet scan + required-column validation + optional null-drop on
    critical columns.  Projection/predicate pushdown is Catalyst's job —
    no manual ``columns=``/``filters=`` plumbing needed."""
    df = spark.read.parquet(path)
    missing = [c for c in required_cols if c not in df.columns]
    if missing:
        raise SchemaError(f"{path}: missing required columns {missing}")
    if not_null_cols:
        df = df.na.drop(subset=not_null_cols)
    return df


SUBMISSION_COLS = ["semana", "pdv", "produto", "quantidade"]


def write_submission(df: DataFrame, path: str) -> int:
    """Write the 4-column submission CSV: `;` separator, UTF-8, header,
    single file.  Returns the row count written (the reference asserts
    count and schema before writing).

    Scale note: coalesce(1) is required by the output contract (one CSV);
    everything upstream stays parallel and only the final encoded rows
    funnel through one writer task.
    """
    missing = [c for c in SUBMISSION_COLS if c not in df.columns]
    if missing:
        raise SchemaError(f"submission missing columns {missing}")
    # persist so the upstream DAG executes once for both the row-count
    # assert and the write (count + write were two full executions before)
    out = df.select(*SUBMISSION_COLS).persist()
    try:
        n = out.count()
        (
            out.coalesce(1)
            .write.mode("overwrite")
            .option("sep", ";")
            .option("header", "true")
            .option("encoding", "UTF-8")
            .csv(path)
        )
    finally:
        out.unpersist()
    return n


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Snappy parquet sink (Spark default codec), optionally partitioned —
    the scale path writes partitioned-by-date so downstream scans prune."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def export_feature_store(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    partition_by: list[str] | None = None,
) -> dict:
    """Feature-store export: partitioned parquet + a JSON metadata sidecar
    (schema, key columns, feature list, row count) — the Spark form of the
    reference's export (/root/reference/src/features/feature_pipeline.py:
    470-585 writes parquet + JSON metadata + importance CSV + txt summary;
    the metadata sidecar subsumes the sidecar family).

    Returns the metadata dict that was written.  The parquet write is fully
    parallel; only the tiny sidecar is driver-side."""
    import json
    import os

    write_parquet(df, f"{path}/features", partition_by)
    features = [c for c in df.columns if c not in set(key_cols)]
    meta = {
        "key_columns": key_cols,
        "feature_columns": features,
        "n_features": len(features),
        "n_rows": df.count(),
        "schema": {f.name: f.dataType.simpleString() for f in df.schema.fields},
        "partitioned_by": partition_by or [],
    }
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/metadata.json", "w", encoding="utf-8") as fh:
        json.dump(meta, fh, indent=2)
    return meta


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 128,
) -> dict:
    """Small-files compaction: rewrite a parquet dataset into files sized
    for scan efficiency (the 100 TB operational chore — thousands of tiny
    files per partition destroy scan parallelism economics and NameNode/
    listing budgets).

    Sizing is data-driven: total input bytes / target size -> file count ->
    ``repartition(n)`` before a single overwrite.  Returns {files_before,
    files_after, bytes}.  At cluster scale the same routine runs per
    partition directory with ``spark.read.parquet(part_dir)``."""
    import glob
    import os

    files = [
        f
        for f in glob.glob(os.path.join(src_path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ] or ([src_path] if os.path.isfile(src_path) else [])
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    df.repartition(n_out).write.mode("overwrite").parquet(dst_path)
    files_after = len(
        [f for f in glob.glob(os.path.join(dst_path, "*.parquet")) if os.path.isfile(f)]
    )
    return {"files_before": len(files), "files_after": files_after, "bytes": total_bytes}


def upsert_parquet(spark, target_path: str, updates: DataFrame, key_cols: list[str]) -> dict:
    """Keyed upsert (MERGE) onto a plain-parquet table: update rows whose
    key appears in ``updates``, insert the rest — the feature-store refresh
    operation.  Plain parquet has no transactional MERGE, so the pattern is
    read -> drop the rows of the updated keys -> union the updates -> rewrite
    through a staging directory and swap (the lazy source read must not be
    overwritten mid-write).  On a table format (Delta/Iceberg) the same
    call becomes a native MERGE INTO; at scale the rewrite is scoped to the
    partitions the update keys touch, not the whole table.

    Returns {rows_before, rows_updated, rows_inserted, rows_after}.  The
    counts ride the staging write as observed metrics, so the whole upsert
    is one Spark action: a left join flags the target rows whose key is
    updated (the key table is distinct, so no row fans out), the flagged
    rows are dropped and the updates appended."""
    import os
    import shutil

    tgt = spark.read.parquet(target_path)
    upd_keys = updates.select(*key_cols).distinct().withColumn("_upd", F.lit(True))
    before, after = Observation(), Observation()
    flagged = tgt.join(upd_keys, key_cols, "left").observe(
        before, F.count(F.lit(1)).alias("rows"), F.count("_upd").alias("updated")
    )
    merged = (
        flagged.filter(F.col("_upd").isNull())
        .select(*tgt.columns)
        .unionByName(updates)
        .observe(after, F.count(F.lit(1)).alias("rows"))
    )
    staging = target_path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    rows_before, rows_updated = before.get["rows"], before.get["updated"]
    rows_after = after.get["rows"]
    # Crash-safe swap: rename the live table aside BEFORE promoting staging,
    # so an interruption at any point leaves either the old or the new copy
    # on disk (target__old is the recovery artifact) — never neither.
    old = target_path.rstrip("/") + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(target_path, old)
    os.rename(staging, target_path)
    shutil.rmtree(old)
    return {
        "rows_before": rows_before,
        "rows_updated": rows_updated,
        "rows_inserted": rows_after - rows_before,
        "rows_after": rows_after,
    }
