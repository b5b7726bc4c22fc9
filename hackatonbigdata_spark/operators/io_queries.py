"""Driver-checkable sink round-trips (SURVEY.md §2.1 extras).

Small-files compaction and keyed MERGE-upsert (``sources/io.py``) exercised
end-to-end as registered queries: write a scratch copy of a real table, run
the sink operation, read the result back, and return a content aggregate the
DuckDB oracle can compute directly from the SOURCE table — equality proves
the round-trip preserved every row and value (the reference's sink contract,
/root/reference/src/data/load_data.py:120-135).

Scratch lives under the repo (``.scratch/io``), one directory per scale
factor, overwritten per run so the queries are idempotent.  At cluster scale
the same routines run against object-store paths; nothing here is
local-mode-specific except the scratch location.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import h32, py_h32, r4
from hackatonbigdata_spark.registry import register
from hackatonbigdata_spark.sources.io import compact_parquet, upsert_parquet

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _scratch(sf_dir: str, leaf: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(_REPO_ROOT, ".scratch", "io", tag, leaf)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _write_meta_parquet(dst: str, columns: dict[str, tuple[list, str]]) -> None:
    """DRIVER-SIDE metadata write for manifests and delete-file
    tombstones: a real table format commits its manifest files from the
    driver's metadata layer, never as a distributed job — and a 13-row
    ``spark.createDataFrame(...).write`` pays 5-8 s of job/commit
    overhead per call, which dominated the table-
    lifecycle queries.  ``columns`` maps name -> (values, arrow type
    name in {'int32', 'int64', 'string'}); the result is a plain
    snappy parquet directory Spark reads like any other."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    types = {"int32": pa.int32(), "int64": pa.int64(), "string": pa.string()}
    tb = pa.table(
        {name: pa.array(vals, types[tname]) for name, (vals, tname) in columns.items()}
    )
    pq.write_table(
        tb, os.path.join(dst, "part-00000.parquet"), compression="snappy"
    )


def _write_manifest(dst: str, rows: list[tuple[int, str, str]]) -> None:
    """Write a (snapshot_id, path, kind) manifest via the driver-side
    metadata path (see ``_write_meta_parquet``)."""
    _write_meta_parquet(
        dst,
        {
            "snapshot_id": ([r[0] for r in rows], "int32"),
            "path": ([r[1] for r in rows], "string"),
            "kind": ([r[2] for r in rows], "string"),
        },
    )


@register(
    "io_compact_roundtrip",
    oracle="""
SELECT p_brand,
       count(*) AS n_parts,
       round(sum(p_retailprice), 4) AS sum_retail
FROM part
GROUP BY p_brand
""",
)
def io_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round-trip: fragment ``part`` into 16 small
    files, compact them into size-targeted files, and aggregate the
    read-back — matching the oracle's aggregate over the original table
    proves compaction is content-preserving.

    Scale: compaction is the 100 TB operational chore (tiny files destroy
    scan parallelism economics); sizing is data-driven bytes/target →
    ``repartition(n)`` → single overwrite, per partition directory in
    production."""
    t = Catalog(spark, sf_dir)
    src = _scratch(sf_dir, "compact_src")
    dst = _scratch(sf_dir, "compact_dst")
    t.part.repartition(16).write.mode("overwrite").parquet(src)
    compact_parquet(spark, src, dst, target_file_mb=128)
    back = spark.read.parquet(dst)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        r4(F.sum("p_retailprice")).alias("sum_retail"),
    )


@register(
    "io_upsert_roundtrip",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n_orders,
       round(sum(CASE WHEN o_orderkey % 10 = 0
                      THEN o_totalprice * 1.1
                      ELSE o_totalprice END), 4) AS sum_price
FROM orders
GROUP BY o_orderstatus
""",
)
def io_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE-upsert round-trip: seed a scratch copy of ``orders``,
    upsert a 10% slice with repriced totals (key = o_orderkey), and
    aggregate the read-back — the oracle computes the expected post-merge
    state directly from the source with a CASE, so equality proves the
    anti-join + union + staged-swap rewrite updated exactly the keyed rows
    and lost none.

    Scale: plain parquet has no transactional MERGE, so the pattern is
    read → anti-join out updated keys → union updates → staged rewrite;
    on Delta/Iceberg the same call is a native MERGE INTO scoped to touched
    partitions."""
    t = Catalog(spark, sf_dir)
    target = _scratch(sf_dir, "upsert_target")
    t.orders.write.mode("overwrite").parquet(target)
    updates = (
        spark.read.parquet(target)
        .filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    upsert_parquet(spark, target, updates, ["o_orderkey"])
    back = spark.read.parquet(target)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r4(F.sum("o_totalprice")).alias("sum_price"),
    )


@register(
    "io_csv_roundtrip",
    oracle="""
SELECT n_regionkey,
       count(*) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM nation
GROUP BY n_regionkey
""",
)
def io_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source round-trip (the reference's primary interchange
    format, /root/reference/src/data/loaders.py:159-239 ingests `;` CSV):
    write ``nation`` through the `;`-separated UTF-8 writer, read it back
    with an EXPLICIT schema (schema inference at 100 TB means a second full
    pass over the data — never infer in production), and aggregate the
    read-back; matching the oracle's aggregate over the original table
    proves the text encode/decode preserved every row and value.

    Scale: CSV is the interchange boundary, parquet the working format —
    this round-trip is the ingest step's contract check."""
    t = Catalog(spark, sf_dir)
    path = _scratch(sf_dir, "csv_roundtrip")
    (
        t.nation.write.mode("overwrite")
        .option("sep", ";")
        .option("header", "true")
        .option("encoding", "UTF-8")
        .csv(path)
    )
    back = (
        spark.read.option("sep", ";")
        .option("header", "true")
        .schema("n_nationkey long, n_name string, n_regionkey long, n_comment string")
        .csv(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").alias("key_sum"),
    )


@register(
    "io_partitioned_prune",
    oracle="""
SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem WHERE CAST(year(l_shipdate) AS INTEGER) = 1997
GROUP BY 1
""",
)
def io_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink + partition-pruned read-back: write ``lineitem``
    partitioned by ship year, then answer a one-year query from the
    partitioned copy — matching the oracle's aggregate over the ORIGINAL
    table proves the layout round-trip is lossless, and the read plan
    prunes to the single ``ship_year=1997`` directory (asserted in
    tests/test_plan_audit.py: PartitionFilters carries the predicate, so
    files from other years are never opened).

    This is the data-layout half of the reference's year-sliced export
    convention (/root/reference/src/data/load_data.py: per-period output
    files), done the warehouse way: partition columns become directories,
    and partition pruning turns a 100 TB scan into a 1-year scan with zero
    row-level filtering I/O.

    Scale: partitionBy(year) yields O(years × shuffle partitions) files —
    coarse enough to stay small-file-safe; production layouts add a second
    bucketing dimension before this becomes the bottleneck."""
    t = Catalog(spark, sf_dir)
    dst = _scratch(sf_dir, "part_by_year")
    (
        t.lineitem.withColumn("ship_year", F.year("l_shipdate"))
        .write.mode("overwrite")
        .partitionBy("ship_year")
        .parquet(dst)
    )
    back = spark.read.parquet(dst).filter(F.col("ship_year") == 1997)
    return back.groupBy(
        F.month("l_shipdate").cast("int").alias("ship_month")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        r4(F.sum("l_quantity")).alias("sum_qty"),
    )


@register(
    "io_bucketed_join",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_quantity), 4) AS sum_qty,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
)
def io_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: write ``lineitem`` and ``orders`` as
    bucketed tables (16 buckets, hashed and sorted on the order key), then
    join the read-backs — Spark's bucketing metadata lets the sort-merge
    join run with ZERO exchanges (asserted in tests/test_plan_audit.py),
    because both sides' files are already hash-clustered on the key.

    This is THE structural answer to the fact-fact join at 100 TB: the
    shuffle that dominates every orders⋈lineitem query happens once at
    write time and is amortized over every subsequent join, exactly the
    trade the reference bakes into its pre-joined export files
    (/root/reference/src/utils/data_loader.py:320-421) — done here with
    catalog metadata instead of materialized denormalization.

    The result aggregate matches the oracle's plain join over the ORIGINAL
    tables, proving the bucketed layout is content-preserving."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    t = Catalog(spark, sf_dir)
    lt, ot = f"hb_li_bkt_{tag}".replace(".", "_"), f"hb_ord_bkt_{tag}".replace(".", "_")
    (
        t.lineitem.select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .format("parquet")
        .option("path", _scratch(sf_dir, "bkt_lineitem"))
        .bucketBy(16, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(lt)
    )
    (
        t.orders.select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .format("parquet")
        .option("path", _scratch(sf_dir, "bkt_orders"))
        .bucketBy(16, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(ot)
    )
    li, od = spark.table(lt), spark.table(ot)
    joined = li.join(od, li.l_orderkey == od.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        r4(F.sum("l_quantity")).alias("sum_qty"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


def clustered_file_stats(spark: SparkSession, path: str):
    """Per-file (min, max) statistics of ``l_shipdate`` over a clustered
    parquet directory — the engine's ANALYZE step for stats-based file
    skipping.  Returns a small list[(file, min, max)]; bounded by the file
    count (16 here), the documented metadata-to-driver exception."""
    df = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("f"), "l_shipdate")
        .groupBy("f")
        .agg(F.min("l_shipdate").alias("mn"), F.max("l_shipdate").alias("mx"))
    )
    return [(r.f, r.mn, r.mx) for r in df.collect()]


@register(
    "io_clustered_stats_prune",
    oracle="""
SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1997-07-01'
GROUP BY 1
""",
)
def io_clustered_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered layout + stats-based file skipping: range-repartition
    ``lineitem`` on ship date (16 range buckets, sorted within files),
    collect per-file min/max stats once, then answer a half-year query by
    READING ONLY THE FILES whose [min, max] overlaps the predicate — the
    poor-man's Z-order/Delta data-skipping, built from plain parquet +
    `input_file_name()` stats.  Matching the oracle's aggregate over the
    ORIGINAL table proves the pruned read is lossless.

    This is the complementary layout to ``io_partitioned_prune``:
    partitioning prunes by directory on a coarse column; range-clustering
    skips by file stats on any orderable column without exploding the
    directory count.  At 100 TB the stats table lives in a catalog
    (Delta/Iceberg manifest) instead of a driver list; the clustering
    write is the same ``repartitionByRange`` + sorted files.

    Scale: the one-time clustering write is a single range shuffle; the
    stats scan reads only the (file, date) projection; the pruned query
    reads ~1/6 of the files for a 6-month slice of a 7-year span."""
    t = Catalog(spark, sf_dir)
    dst = _scratch(sf_dir, "clustered_by_shipdate")
    (
        t.lineitem.select("l_shipdate", "l_quantity")
        .repartitionByRange(16, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(dst)
    )
    lo, hi = "1997-01-01", "1997-07-01"
    stats = clustered_file_stats(spark, dst)
    keep = [
        f
        for f, mn, mx in stats
        if str(mx)[:10] >= lo and str(mn)[:10] < hi
    ]
    if not keep:
        # no file overlaps the window: an empty result with the clustered
        # schema, not a spark.read.parquet() with zero paths (which raises)
        back = spark.createDataFrame([], spark.read.parquet(dst).schema)
    else:
        back = spark.read.parquet(*keep)
    back = back.filter(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
    )
    return back.groupBy(
        F.month("l_shipdate").cast("int").alias("ship_month")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        r4(F.sum("l_quantity")).alias("sum_qty"),
    )


@register(
    "io_schema_evolution",
    oracle="""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
), v2 AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
), unioned AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority, 'v1' AS src
  FROM v1
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority, 'v2' AS src FROM v2
)
SELECT src,
       coalesce(o_orderpriority, '__missing__') AS priority,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(o_totalprice), 4) AS sum_price
FROM unioned GROUP BY 1, 2
""",
)
def io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: write an old-schema slice (two columns)
    and a new-schema slice (adds ``o_orderpriority``) as separate parquet
    generations of one dataset, then read the whole dataset back with
    ``mergeSchema`` — rows from the old generation surface the new column
    as NULL, exactly the append-only evolution contract every long-lived
    table needs (the reference's loaders hard-code one schema and re-export
    everything on change, /root/reference/src/data/loaders.py:43-118).

    The oracle reproduces the merged view relationally; matching proves
    the evolved read is lossless and the missing-column semantics are
    NULL, not error or default-fill.

    Scale: mergeSchema costs one footer read per file generation (not per
    row); production tables handle this via catalog schema tracking, same
    semantics."""
    t = Catalog(spark, sf_dir)
    base = _scratch(sf_dir, "schema_evo")
    (
        t.orders.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(f"{base}/gen=1")
    )
    (
        t.orders.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(f"{base}/gen=2")
    )
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return (
        merged.select(
            F.when(F.col("gen") == 1, "v1").otherwise("v2").alias("src"),
            F.coalesce(F.col("o_orderpriority"), F.lit("__missing__")).alias(
                "priority"
            ),
            "o_totalprice",
        )
        .groupBy("src", "priority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            r4(F.sum("o_totalprice")).alias("sum_price"),
        )
    )


@register(
    "io_incremental_rollup",
    oracle="""
SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
       CAST(month(l_shipdate) AS INTEGER) AS mth,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty,
       round(min(l_quantity), 4) AS min_qty,
       round(max(l_quantity), 4) AS max_qty
FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-07-01'
GROUP BY 1, 2
""",
)
def io_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a materialized monthly rollup is kept
    current by MERGING one new month's partial aggregate into the stored
    state — never recomputing history — and the result must equal the
    full-recompute oracle exactly.  This is the warehouse pattern that
    turns an O(history) nightly job into O(new data): all maintained
    metrics (count, sum, min, max) are mergeable semigroups, so
    state ⊕ batch ≡ full recompute.  (Exact distinct counts are NOT
    mergeable — production maintains HLL sketches for those, whose union
    is the ``agg_sketches_only`` path.)  The reference re-exports the
    whole aggregate on every run (/root/reference/src/data/load_data.py).

    Steps: materialize the rollup of months < 1997-06 to parquet, compute
    June's partial aggregate from the fact table alone, union + re-merge
    on the month key, overwrite the state, return the read-back.

    Scale: the incremental pass reads ONE month of facts plus the
    (months × metrics)-sized state table; the merge is a keyed aggregate
    over |state| + |batch grains| rows."""
    t = Catalog(spark, sf_dir)
    state_path = _scratch(sf_dir, "rollup_state")
    cut_lo = F.lit("1997-06-01").cast("timestamp")
    cut_hi = F.lit("1997-07-01").cast("timestamp")

    def month_agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year("l_shipdate").cast("int").alias("yr"),
            F.month("l_shipdate").cast("int").alias("mth"),
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty_raw"),
            F.min("l_quantity").alias("min_qty_raw"),
            F.max("l_quantity").alias("max_qty_raw"),
        )

    # (re)materialize the historical state — idempotent per run
    month_agg(t.lineitem.filter(F.col("l_shipdate") < cut_lo)).write.mode(
        "overwrite"
    ).parquet(state_path)
    state = spark.read.parquet(state_path)
    batch = month_agg(
        t.lineitem.filter(
            (F.col("l_shipdate") >= cut_lo) & (F.col("l_shipdate") < cut_hi)
        )
    )
    merged = (
        state.unionByName(batch)
        .groupBy("yr", "mth")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_qty_raw").alias("sum_qty_raw"),
            F.min("min_qty_raw").alias("min_qty_raw"),
            F.max("max_qty_raw").alias("max_qty_raw"),
        )
    )
    out_path = _scratch(sf_dir, "rollup_state_v2")
    merged.write.mode("overwrite").parquet(out_path)
    back = spark.read.parquet(out_path)
    return back.select(
        "yr",
        "mth",
        "n_rows",
        r4(F.col("sum_qty_raw")).alias("sum_qty"),
        r4(F.col("min_qty_raw")).alias("min_qty"),
        r4(F.col("max_qty_raw")).alias("max_qty"),
    )


_Z_BITS = 12  # bits per dimension in the interleaved z-value


def _morton_spread(col: str) -> str:
    """SQL expression spreading the low 16 bits of ``col`` so bit i lands
    at position 2i — the classic shift-or-mask Morton spread (4 rounds of
    ``x = (x | x << s) & mask``), plain integer ops inside whole-stage
    codegen.  Interleave two dimensions as ``spread(x) * 2 | spread(y)``."""
    # explicit input mask: the contract is "the low 16 bits", so inputs
    # past 2^16 (or negative after the bigint cast) must TRUNCATE, not
    # corrupt the interleave — callers here pre-scale into 12 bits, but
    # the helper stays safe for any caller
    x = f"(cast({col} as bigint) & 65535)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        x = f"(({x} | shiftleft({x}, {shift})) & {mask})"
    return x


def zorder_file_stats(spark: SparkSession, path: str):
    """Per-file (min, max) statistics of BOTH z-ordered dimensions over a
    clustered parquet directory — the two-column ANALYZE step for
    multi-dimensional file skipping.  Returns a small
    list[(file, mn_date, mx_date, mn_pk, mx_pk)]; bounded by the file
    count (16 here), the documented metadata-to-driver exception."""
    df = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("f"), "l_shipdate", "l_partkey")
        .groupBy("f")
        .agg(
            F.min("l_shipdate").alias("mnd"),
            F.max("l_shipdate").alias("mxd"),
            F.min("l_partkey").alias("mnk"),
            F.max("l_partkey").alias("mxk"),
        )
    )
    return [(r.f, r.mnd, r.mxd, r.mnk, r.mxk) for r in df.collect()]


@register(
    "io_zorder_prune",
    oracle="""
SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1995-07-01'
  AND l_partkey < 64
GROUP BY 1
""",
)
def io_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered layout + two-dimensional file skipping — the
    Delta/Iceberg ``OPTIMIZE ZORDER BY (a, b)`` move, built from plain
    parquet: interleave the bits of the two query dimensions
    (domain-scaled days-since-table-min of ``l_shipdate`` and
    ``l_partkey``, {_Z_BITS} bits each) into
    one integer z-value with the shift-or-mask Morton spread (plain
    integer ops inside whole-stage codegen — the per-row cost a layout
    pass over 100 TB actually pays), range-cluster the table into 16
    files sorted by it, collect per-file min/max stats on BOTH raw columns, and answer a
    2-D box query (a half-year AND a part-key slice) by READING ONLY THE
    FILES whose stats overlap the box on both dimensions.  Matching the
    oracle's aggregate over the ORIGINAL table proves the pruned read is
    lossless (the overlap rule is conservative and the box predicate is
    re-applied after the read).

    Why z-order beats one-column clustering: ``io_clustered_stats_prune``
    makes ONE column's per-file ranges tight and leaves every other
    column's ranges full-width; bit interleaving shrinks BOTH dimensions'
    per-file ranges together (toward the square root of the file count).
    BOTH dimensions are DOMAIN-SCALED into their {_Z_BITS}-bit budgets
    first (part key via a 1-row max, ship date via a 1-row min/max span —
    the ANALYZE step a real layout pass runs): a modulo or fixed-epoch
    mapping would wrap once the domain exceeds the budget, aliasing
    residue classes into every file and silently degrading the skipping
    to one dimension at exactly the scales that need it.  A dedicated
    test asserts files are actually skipped for the box and that BOTH
    dimensions' mean per-file extents sit well below their spans.

    Exactness: the z-value is pure integer bit arithmetic (never seen by
    the oracle — layout only); the emitted aggregate is exact counts +
    one 4dp sum over the re-filtered rows.

    Scale: the one-time clustering write is a single range shuffle on
    the z-value; at 100 TB the stats table lives in the table format's
    manifest (Delta/Iceberg) and this query is its data-skipping read
    path — same layout, same overlap rule."""
    t = Catalog(spark, sf_dir)
    dst = _scratch(sf_dir, "zorder_shipdate_partkey")
    # domain-scale BOTH dimensions into the bit budget (1-row bounded
    # metadata collect, the ANALYZE step a real layout pass runs) — a
    # modulo or fixed-epoch mapping would WRAP once the domain exceeds
    # 2^bits, aliasing residue classes into every file and silently
    # reducing the skipping to one dimension; the scaled mapping is
    # monotone at any scale
    dom = t.lineitem.agg(
        F.max("l_partkey").alias("maxpk"),
        F.min("l_shipdate").alias("mind"),
        F.max("l_shipdate").alias("maxd"),
    ).collect()[0]
    mind = str(dom["mind"])[:10]
    span_days = (dom["maxd"] - dom["mind"]).days
    zl = (
        t.lineitem.select("l_shipdate", "l_partkey", "l_quantity")
        .withColumn(
            "xd",
            F.expr(
                f"(datediff(l_shipdate, date '{mind}')"
                f" * {1 << _Z_BITS}) div {span_days + 1}"
            ),
        )
        .withColumn(
            "yk",
            F.expr(
                f"(l_partkey * {1 << _Z_BITS}) div {int(dom['maxpk']) + 1}"
            ),
        )
        # interleave with xd in the odd bit positions, yk in the even —
        # the shift-or-mask Morton spread (plain integer ops inside
        # whole-stage codegen; the per-bit HOF fold it replaces paid 12
        # interpreted lambda evaluations per row)
        .withColumn(
            "z",
            F.expr(
                f"shiftleft({_morton_spread('xd')}, 1)"
                f" | {_morton_spread('yk')}"
            ),
        )
        .select("l_shipdate", "l_partkey", "l_quantity", "z")
    )
    (
        zl.repartitionByRange(16, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(dst)
    )
    lo, hi, klo, khi = "1995-01-01", "1995-07-01", 0, 64
    stats = zorder_file_stats(spark, dst)
    keep = [
        f
        for f, mnd, mxd, mnk, mxk in stats
        if str(mxd)[:10] >= lo
        and str(mnd)[:10] < hi
        and mxk >= klo
        and mnk < khi
    ]
    if not keep:
        back = spark.createDataFrame([], spark.read.parquet(dst).schema)
    else:
        back = spark.read.parquet(*keep)
    back = back.filter(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
        & (F.col("l_partkey") >= klo)
        & (F.col("l_partkey") < khi)
    )
    return back.groupBy(
        F.month("l_shipdate").cast("int").alias("ship_month")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        r4(F.sum("l_quantity")).alias("sum_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


_MOR_FILES = 8  # base data files in the merge-on-read layout
_MOR_DEL_QTY = 48  # rows with l_quantity >= this get positional deletes


@register(
    "io_mor_deletes",
    oracle=f"""
WITH live AS (
  SELECT month(l_shipdate) AS m,
         CAST(count(*) AS BIGINT) AS n_rows,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_price
  FROM lineitem WHERE l_quantity < {_MOR_DEL_QTY} GROUP BY 1),
dead AS (
  SELECT month(l_shipdate) AS m, CAST(count(*) AS BIGINT) AS n_deleted
  FROM lineitem WHERE l_quantity >= {_MOR_DEL_QTY} GROUP BY 1)
SELECT CAST(live.m AS INTEGER) AS ship_month, live.n_rows, live.sum_qty,
       live.sum_price, COALESCE(dead.n_deleted, 0) AS n_deleted
FROM live LEFT JOIN dead ON dead.m = live.m
""",
)
def io_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ positional deletes — the Iceberg/Delta deletion-
    vector pattern, built from plain parquet: the base table is written
    ONCE into {_MOR_FILES} hive-partitioned data files with an explicit
    (file_id, pos) row identity; a DELETE lands as a separate tiny
    delete file holding only (file_id, pos) pairs — the base files are
    NEVER rewritten (``io_upsert_roundtrip`` is the copy-on-write
    alternative; this is the O(deletes) write path a GDPR erasure or CDC
    delete takes at 100 TB); the READ applies the delete file with one
    anti-join on the row identity, no data predicate re-evaluated
    (exactly how an Iceberg reader applies positional delete files).
    Matching the oracle's aggregate over ``WHERE NOT deleted`` proves
    the position assignment, the delete-file indirection, and the
    anti-join read are collectively lossless; the per-month
    ``n_deleted`` column applies the same delete file through the
    opposite (semi) join.

    Exactness: positions are a deterministic row_number over the unique
    lineitem key within each file; deletes/aggregates are exact counts
    plus 4dp sums.

    Scale: the delete write is O(matching rows) — never a base rewrite;
    the read is one (file_id, pos)-keyed anti-join, which at 100 TB an
    engine pushes down per data file (each task streams its own file's
    sorted positions); ``io_mor_compact`` is the maintenance pass that
    folds the delete file back into the base files.

    Reference parity: the delete/refresh half of the reference's
    keyed-upsert store (/root/reference/src/data/database.py family),
    re-expressed as the modern warehouse's merge-on-read layout."""
    t = Catalog(spark, sf_dir)
    base_dst = _scratch(sf_dir, "mor_base")
    del_dst = _scratch(sf_dir, "mor_deletes")
    li = t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_shipdate",
        "l_quantity",
        "l_extendedprice",
    )
    stamped = li.withColumn(
        "file_id", (F.col("l_orderkey") % _MOR_FILES).cast("int")
    ).withColumn(
        "pos",
        F.row_number()
        .over(
            W.partitionBy("file_id").orderBy(
                "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"
            )
        )
        .cast("long"),
    )
    (
        stamped.repartition("file_id")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(base_dst)
    )
    base = spark.read.parquet(base_dst)
    # the DELETE: predicate evaluated ONCE at delete-write time; the
    # delete file stores row positions only
    (
        base.filter(F.col("l_quantity") >= _MOR_DEL_QTY)
        .select("file_id", "pos")
        .write.mode("overwrite")
        .parquet(del_dst)
    )
    dels = spark.read.parquet(del_dst)
    live = base.join(dels, ["file_id", "pos"], "left_anti")
    dead = base.join(dels, ["file_id", "pos"], "left_semi")
    dm = dead.groupBy(
        F.month("l_shipdate").cast("int").alias("ship_month")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    return (
        live.groupBy(F.month("l_shipdate").cast("int").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            r4(F.sum("l_quantity")).alias("sum_qty"),
            r4(F.sum("l_extendedprice")).alias("sum_price"),
        )
        .join(dm, "ship_month", "left")
        .select(
            "ship_month",
            "n_rows",
            "sum_qty",
            "sum_price",
            F.coalesce("n_deleted", F.lit(0)).cast("long").alias(
                "n_deleted"
            ),
        )
    )


# --- merge-on-read COMPACTION + snapshot time-travel ---------------------
# the two remaining table-format read/maintenance behaviors after file
# skipping (io_zorder_prune / io_clustered_stats_prune) and merge-on-read
# (io_mor_deletes): folding delete files back into base files, and reading
# the table as of an earlier snapshot through a tiny manifest.

_MC_FILES = 8  # base data files in the compaction layout
_MC_DEL_FIDS = (0, 3)  # only these files receive deletes -> partial rewrite
_MC_DEL_QTY = 25  # within those files, rows with l_quantity >= this die


def _stamp_mor(li: DataFrame, n_files: int) -> DataFrame:
    """(file_id, pos) row identity over a lineitem projection: file_id from
    the order key, pos a deterministic row_number over the unique lineitem
    key within each file — the same identity contract ``io_mor_deletes``
    establishes, factored for the compaction/time-travel layouts."""
    return li.withColumn(
        "file_id", (F.col("l_orderkey") % n_files).cast("int")
    ).withColumn(
        "pos",
        F.row_number()
        .over(
            W.partitionBy("file_id").orderBy(
                "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"
            )
        )
        .cast("long"),
    )


def compact_mor_deletes(spark: SparkSession, base_dst: str, del_dst: str) -> dict:
    """Fold a positional delete file back into its merge-on-read base
    layout: rewrite ONLY the base files that have deletes (anti-join
    applied once, at compaction time), leave every other data file
    physically untouched, and retire the delete file.  The write goes
    through a staging directory and per-partition-directory swap —
    ``upsert_parquet``'s staged-swap move scoped to the touched files,
    so the lazy source read is never overwritten mid-write; the
    rename-aside recovery artifact lives OUTSIDE the table directory
    (a ``file_id=N__old`` sibling inside it would corrupt partition
    discovery), and an interruption never loses data — each file is
    either live or intact in the recovery sibling awaiting re-promotion
    (the two renames are not jointly atomic; a real table format makes
    this window disappear behind its metadata commit).  A file whose
    rows are ALL deleted is retired outright — dynamic partitionBy
    writes no staging directory for an empty partition, and removing
    the file is exactly what compacting a fully-dead file means.

    Returns {"affected": [file_id...], "n_files_rewritten": int,
    "n_files_retired": int}.

    Scale: compaction cost is O(rows in files-with-deletes), never a
    table rewrite — exactly Iceberg's rewrite_position_delete_files +
    rewrite_data_files maintenance pair; at 100 TB each affected file is
    one task's rewrite and the swap is an atomic metadata commit."""
    import os
    import shutil

    dels = spark.read.parquet(del_dst)
    # bounded metadata collect: one row per file that has deletes (<= the
    # file count, 8 here) — the documented metadata-to-driver exception
    affected = sorted(
        r.file_id for r in dels.select("file_id").distinct().collect()
    )
    base = spark.read.option("basePath", base_dst).parquet(base_dst)
    rewritten = base.filter(F.col("file_id").isin(affected)).join(
        dels, ["file_id", "pos"], "left_anti"
    )
    staging = base_dst.rstrip("/") + "__compact_staging"
    (
        rewritten.repartition("file_id")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(staging)
    )
    n_retired = 0
    for fid in affected:
        live_dir = os.path.join(base_dst, f"file_id={fid}")
        new_dir = os.path.join(staging, f"file_id={fid}")
        # recovery artifact OUTSIDE the table directory: a leftover
        # file_id=N__old INSIDE base_dst would poison partition discovery
        old_dir = base_dst.rstrip("/") + f"__old_file_id_{fid}"
        if os.path.exists(old_dir):
            shutil.rmtree(old_dir)
        os.rename(live_dir, old_dir)
        if os.path.exists(new_dir):
            os.rename(new_dir, live_dir)
        else:
            # every row of this file was deleted: the rewrite is empty
            # and dynamic partitionBy wrote no staging dir — retire the
            # file entirely
            n_retired += 1
        shutil.rmtree(old_dir)
    shutil.rmtree(staging)
    # retire the delete file: post-compaction the layout carries zero
    # delete rows (readers skip the anti-join entirely)
    _write_meta_parquet(
        del_dst, {"file_id": ([], "int32"), "pos": ([], "int64")}
    )
    return {
        "affected": affected,
        "n_files_rewritten": len(affected) - n_retired,
        "n_files_retired": n_retired,
    }


@register(
    "io_mor_compact",
    oracle=f"""
SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_price
FROM lineitem
WHERE NOT (l_orderkey % {_MC_FILES} IN {_MC_DEL_FIDS}
           AND l_quantity >= {_MC_DEL_QTY})
GROUP BY 1
""",
)
def io_mor_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read delete-file COMPACTION — the maintenance half
    ``io_mor_deletes``'s docstring promises: a positional delete file
    accumulates against {_MC_FILES} base files (deletes land only in
    files {_MC_DEL_FIDS}, so the rewrite is PARTIAL by construction),
    compaction folds it into the base by rewriting ONLY the affected
    files through a staged per-directory swap, retires the delete file,
    and the read afterwards is a plain scan — no anti-join, no delete
    state.  Matching the oracle's ``WHERE NOT deleted`` aggregate from a
    PLAIN post-compaction scan proves the fold was lossless; the layout
    test pins that untouched files are byte-identical, the delete file
    is empty, and reads before/after compaction agree row-for-row.

    Exactness: positions are the deterministic ``io_mor_deletes`` row
    identity; the aggregate is exact counts plus 4dp sums.

    Scale: write amplification is bounded by the files that actually
    have deletes ({len(_MC_DEL_FIDS)} of {_MC_FILES} here); everything
    else is metadata.  This is the Iceberg
    rewrite_position_delete_files / Delta OPTIMIZE maintenance pass that
    keeps merge-on-read read costs amortized at 100 TB.

    Reference parity: the delete/refresh maintenance of the reference's
    keyed store (/root/reference/src/data/database.py family), completed
    with the compaction pass the reference performs as full-table
    rewrites (/root/reference/src/data/load_data.py:120-135)."""
    t = Catalog(spark, sf_dir)
    base_dst = _scratch(sf_dir, "mc_base")
    del_dst = _scratch(sf_dir, "mc_deletes")
    li = t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_shipdate",
        "l_quantity",
        "l_extendedprice",
    )
    stamped = _stamp_mor(li, _MC_FILES)
    (
        stamped.repartition("file_id")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(base_dst)
    )
    base = spark.read.parquet(base_dst)
    (
        base.filter(
            F.col("file_id").isin(list(_MC_DEL_FIDS))
            & (F.col("l_quantity") >= _MC_DEL_QTY)
        )
        .select("file_id", "pos")
        .write.mode("overwrite")
        .parquet(del_dst)
    )
    compact_mor_deletes(spark, base_dst, del_dst)
    # plain scan: after compaction there is no delete state to apply
    back = spark.read.parquet(base_dst)
    return back.groupBy(
        F.month("l_shipdate").cast("int").alias("ship_month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        r4(F.sum("l_quantity")).alias("sum_qty"),
        r4(F.sum("l_extendedprice")).alias("sum_price"),
    )


_TT_FILES = 8  # base data files in the time-travel layout
_TT_DEL_QTY = 47  # snapshot 2 deletes rows with l_quantity >= this
_TT_RESTATE_MONTH = 1  # snapshot 3 re-appends month-1 deleted rows
_TT_APPEND_FID = 100  # file_id of the appended data file (disjoint from base)


def read_snapshot(
    spark: SparkSession, manifest_path: str, base_path: str, snapshot_id: int
) -> DataFrame:
    """Read a manifest-versioned merge-on-read table AS OF a snapshot:
    the manifest is a tiny (snapshot_id, path, kind) table — each
    snapshot lists its FULL file set, Iceberg-style, so time travel is
    'read the files that snapshot names' with zero data copied between
    versions (unchanged files are shared by path).  Data files under the
    base directory keep their hive partition column via ``basePath``;
    delete files apply as one (file_id, pos) anti-join."""
    m = spark.read.parquet(manifest_path).filter(
        F.col("snapshot_id") == snapshot_id
    )
    # bounded metadata collect: a manifest row per file (~10 per snapshot)
    rows = m.collect()
    # in-base means UNDER the base directory — a raw prefix test would
    # also catch siblings like {base}__compact_staging or {base}2 and
    # feed them the wrong basePath
    base_prefix = base_path.rstrip("/") + "/"
    data_in_base = [
        r.path
        for r in rows
        if r.kind == "data" and r.path.startswith(base_prefix)
    ]
    data_outside = [
        r.path
        for r in rows
        if r.kind == "data" and not r.path.startswith(base_prefix)
    ]
    del_paths = [r.path for r in rows if r.kind == "delete"]
    df = None
    if data_in_base:
        df = spark.read.option("basePath", base_path).parquet(*data_in_base)
    for p in data_outside:
        nxt = spark.read.parquet(p)
        df = nxt if df is None else df.unionByName(nxt.select(*df.columns))
    if df is None:
        raise ValueError(
            f"snapshot {snapshot_id} names no data files in {manifest_path}"
        )
    if del_paths:
        dels = spark.read.parquet(*del_paths)
        df = df.join(dels, ["file_id", "pos"], "left_anti")
    return df


@register(
    "io_time_travel",
    oracle=f"""
WITH live AS (
  SELECT 1 AS snapshot_id, l_shipdate, l_quantity FROM lineitem
  UNION ALL
  SELECT 2, l_shipdate, l_quantity FROM lineitem
  WHERE l_quantity < {_TT_DEL_QTY}
  UNION ALL
  SELECT 3, l_shipdate, l_quantity FROM lineitem
  WHERE l_quantity < {_TT_DEL_QTY}
  UNION ALL
  SELECT 3, l_shipdate, l_quantity FROM lineitem
  WHERE month(l_shipdate) = {_TT_RESTATE_MONTH}
    AND l_quantity >= {_TT_DEL_QTY})
SELECT CAST(snapshot_id AS INTEGER) AS snapshot_id,
       CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty
FROM live GROUP BY 1, 2
""",
)
def io_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TIME-TRAVEL read over a manifest-versioned table — the
    third modern-table-format read behavior after file skipping
    (``io_zorder_prune``) and merge-on-read (``io_mor_deletes``).  The
    table lives through three snapshots: (1) CREATE — {_TT_FILES} base
    data files; (2) DELETE — a positional delete file kills rows with
    l_quantity >= {_TT_DEL_QTY} (base files untouched); (3) APPEND — a
    restatement file re-inserts month-{_TT_RESTATE_MONTH}'s deleted rows
    as new data (its own file_id, fresh positions).  Each snapshot is a
    FULL file list in a tiny manifest, so as-of-N reads share unchanged
    files by path and copy nothing.  The query answers the same monthly
    aggregate AS OF each snapshot; matching the oracle proves all three
    read paths — as-of-pre-delete equals the full table, as-of-delete
    equals the undeleted slice, and as-of-latest (the live read) adds
    exactly the appended file.

    Exactness: snapshots are explicit manifest rows (no wall-clock
    anywhere); positions are the deterministic ``io_mor_deletes``
    identity; aggregates are exact counts plus 4dp sums.

    Scale: time travel costs one manifest scan (KB) plus the scan of the
    named files — the Iceberg snapshot/manifest-list design; old
    snapshots pin only files, so storage grows by churn, not by version
    count.

    Reference parity: reading historical run state by version id from
    the tracking store (/root/reference/src/experiment_tracking/
    enhanced_mlflow.py:404-430, get_best_run/get_run_comparison over run
    history), re-expressed as the warehouse table's snapshot read."""
    base_dst, del_dst, app_dst, man_dst = _build_tt_layout(spark, sf_dir)
    out = None
    for s in (1, 2, 3):
        snap = read_snapshot(spark, man_dst, base_dst, s)
        agg = snap.groupBy(
            F.month("l_shipdate").cast("int").alias("ship_month")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            r4(F.sum("l_quantity")).alias("sum_qty"),
        ).select(
            F.lit(s).cast("int").alias("snapshot_id"),
            "ship_month",
            "n_rows",
            "sum_qty",
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def _build_tt_layout(spark: SparkSession, sf_dir: str) -> tuple:
    """Write the three-snapshot time-travel layout (create → positional
    delete → restatement append) plus its manifest; returns the four
    paths.  Shared by ``io_time_travel`` (as-of reads) and
    ``io_time_travel_changes`` (the incremental changes-between
    read)."""
    t = Catalog(spark, sf_dir)
    base_dst = _scratch(sf_dir, "tt_base")
    del_dst = _scratch(sf_dir, "tt_deletes")
    app_dst = _scratch(sf_dir, "tt_append")
    man_dst = _scratch(sf_dir, "tt_manifest")
    li = t.lineitem.select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate", "l_quantity"
    )
    stamped = _stamp_mor(li, _TT_FILES)
    (
        stamped.repartition("file_id")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(base_dst)
    )
    base = spark.read.parquet(base_dst)
    # snapshot 2: the DELETE — positions only, base never rewritten
    (
        base.filter(F.col("l_quantity") >= _TT_DEL_QTY)
        .select("file_id", "pos")
        .write.mode("overwrite")
        .parquet(del_dst)
    )
    # snapshot 3: the APPEND — restate month-1's deleted rows as a new
    # data file with its own identity (deletes reference base files only)
    restated = base.filter(
        (F.month("l_shipdate") == _TT_RESTATE_MONTH)
        & (F.col("l_quantity") >= _TT_DEL_QTY)
    ).select("l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate", "l_quantity")
    app = restated.withColumn(
        "file_id", F.lit(_TT_APPEND_FID).cast("int")
    ).withColumn(
        "pos",
        F.row_number()
        .over(
            W.partitionBy("file_id").orderBy(
                "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"
            )
        )
        .cast("long"),
    )
    app.write.mode("overwrite").parquet(app_dst)
    base_dirs = [
        (f"{base_dst}/file_id={fid}", "data") for fid in range(_TT_FILES)
    ]
    manifest = (
        [(1, p, k) for p, k in base_dirs]
        + [(2, p, k) for p, k in base_dirs]
        + [(2, del_dst, "delete")]
        + [(3, p, k) for p, k in base_dirs]
        + [(3, del_dst, "delete"), (3, app_dst, "data")]
    )
    _write_manifest(man_dst, manifest)
    return base_dst, del_dst, app_dst, man_dst


def read_changes(
    spark: SparkSession,
    manifest_path: str,
    base_path: str,
    s_from: int,
    s_to: int,
) -> DataFrame:
    """INCREMENTAL read between two snapshots of a manifest-versioned
    table (Iceberg's incremental scan / Delta CDF shape, for the
    append-and-delete lifecycle this layout uses): diff the two
    snapshots' file lists, emit rows of data files ADDED in the span as
    inserts ('I') and rows killed by delete files ADDED in the span as
    deletes ('D') — reading ONLY the changed files plus the base rows
    the new deletes name, never rescanning the unchanged table."""
    m = spark.read.parquet(manifest_path)
    # bounded metadata collect: a manifest row per file per snapshot
    f_from = {
        (r.path, r.kind)
        for r in m.filter(F.col("snapshot_id") == s_from).collect()
    }
    f_to = {
        (r.path, r.kind)
        for r in m.filter(F.col("snapshot_id") == s_to).collect()
    }
    added = f_to - f_from
    new_data = [p for p, k in added if k == "data"]
    new_dels = [p for p, k in added if k == "delete"]
    parts = []
    if new_data:
        ins = spark.read.parquet(*new_data)
        parts.append(ins.withColumn("change", F.lit("I")))
    if new_dels:
        dels = spark.read.parquet(*new_dels)
        base = spark.read.option("basePath", base_path).parquet(base_path)
        killed = base.join(dels, ["file_id", "pos"], "left_semi")
        parts.append(killed.withColumn("change", F.lit("D")))
    if not parts:
        # an unchanged span is a valid CDC read: zero change rows, not
        # an error — keep the schema a consumer of any span would see
        return (
            spark.read.option("basePath", base_path)
            .parquet(base_path)
            .limit(0)
            .withColumn("change", F.lit("I"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "io_time_travel_changes",
    oracle=f"""
WITH ch AS (
  SELECT 1 AS from_snapshot, 2 AS to_snapshot, 'D' AS change,
         l_shipdate, l_quantity
  FROM lineitem WHERE l_quantity >= {_TT_DEL_QTY}
  UNION ALL
  SELECT 2, 3, 'I', l_shipdate, l_quantity
  FROM lineitem
  WHERE month(l_shipdate) = {_TT_RESTATE_MONTH}
    AND l_quantity >= {_TT_DEL_QTY})
SELECT CAST(from_snapshot AS INTEGER) AS from_snapshot,
       CAST(to_snapshot AS INTEGER) AS to_snapshot,
       change,
       CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty
FROM ch GROUP BY 1, 2, 3, 4
""",
)
def io_time_travel_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL changes-between read over the snapshot-versioned
    table — the CDC consumption path a table format serves (Iceberg
    incremental scan / Delta change-data-feed): for each adjacent
    snapshot pair, diff the manifests' file lists and emit what changed
    as typed rows — snapshot 1→2 produces the positional-delete kills
    as 'D' rows, snapshot 2→3 produces the restatement append as 'I'
    rows — reading ONLY the files added in each span (plus the base
    rows the new delete file names), never rescanning the table.
    Matching the oracle's direct slice aggregates proves the manifest
    diff recovers exactly the delta a downstream consumer would need
    to stay in sync.

    Exactness: the manifest is explicit (no wall clock); change rows
    are raw stored rows; aggregates are exact counts plus 4dp sums.

    Scale: incremental-read cost is O(churn between snapshots), the
    whole point of consuming CDC from a table format instead of
    re-diffing snapshots (``snapshot_table_diff`` is that full-outer
    re-diff for when no manifest exists); the manifest diff is
    KB-sized metadata.

    Reference parity: the reference re-derives what changed between
    runs by comparing full artifacts
    (/root/reference/src/experiment_tracking/enhanced_mlflow.py:420-430
    get_run_comparison); this is the read that makes the delta a
    first-class, file-pruned query."""
    base_dst, _, _, man_dst = _build_tt_layout(spark, sf_dir)
    out = None
    for s_from, s_to in ((1, 2), (2, 3)):
        ch = read_changes(spark, man_dst, base_dst, s_from, s_to)
        agg = (
            ch.groupBy(
                "change",
                F.month("l_shipdate").cast("int").alias("ship_month"),
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                r4(F.sum("l_quantity")).alias("sum_qty"),
            )
            .select(
                F.lit(s_from).cast("int").alias("from_snapshot"),
                F.lit(s_to).cast("int").alias("to_snapshot"),
                "change",
                "ship_month",
                "n_rows",
                "sum_qty",
            )
        )
        out = agg if out is None else out.unionByName(agg)
    return out


_EQ_DEL_FLAG = "R"  # equality-delete keys: orders with a returned line item


@register(
    "io_equality_deletes",
    oracle=f"""
WITH dk AS (SELECT DISTINCT l_orderkey FROM lineitem
            WHERE l_returnflag = '{_EQ_DEL_FLAG}'),
live AS (
  SELECT l.l_shipdate, l.l_quantity, l.l_extendedprice
  FROM lineitem l LEFT JOIN dk ON dk.l_orderkey = l.l_orderkey
  WHERE dk.l_orderkey IS NULL),
dead AS (
  SELECT month(l.l_shipdate) AS m, CAST(count(*) AS BIGINT) AS n_deleted
  FROM lineitem l JOIN dk ON dk.l_orderkey = l.l_orderkey GROUP BY 1)
SELECT CAST(month(live.l_shipdate) AS INTEGER) AS ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(live.l_quantity), 4) AS sum_qty,
       round(sum(live.l_extendedprice), 4) AS sum_price,
       COALESCE(any_value(dead.n_deleted), 0) AS n_deleted
FROM live LEFT JOIN dead ON dead.m = month(live.l_shipdate)
GROUP BY 1
""",
)
def io_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUALITY deletes — Iceberg's OTHER merge-on-read delete flavor
    beside the positional files of ``io_mor_deletes``: the delete file
    stores KEY VALUES (here: the distinct order keys with a returned
    line item — the shape a GDPR erasure or CDC delete-by-key arrives
    in), written BLIND from the request predicate with no base read and
    no position lookup (the O(keys) write even positional deletes can't
    match, because they must first find each row); the read applies it
    with one key anti-join that kills EVERY matching row in every data
    file, however many files or rows a key touches.  Matching the
    oracle's NOT-EXISTS aggregate proves the key indirection lossless;
    ``n_deleted`` counts the kills per month through the opposite
    (semi) join.

    Exactness: keys are exact BIGINTs; aggregates are exact counts plus
    4dp sums.

    Scale: the write is O(distinct keys) metadata; the read's anti-join
    is how Iceberg applies equality deletes at scan time (hashed
    against each task's rows — the delete-key set broadcasts when
    small, exactly this plan); compaction folding them into base files
    is ``io_mor_compact``'s move with the key join in place of the
    identity join.

    Reference parity: the keyed delete/refresh half of the reference's
    upsert store (/root/reference/src/data/database.py family), at the
    granularity requests actually arrive in — keys, not row ids."""
    t = Catalog(spark, sf_dir)
    base_dst = _scratch(sf_dir, "eq_base")
    del_dst = _scratch(sf_dir, "eq_deletes")
    li = t.lineitem.select(
        "l_orderkey",
        "l_returnflag",
        "l_shipdate",
        "l_quantity",
        "l_extendedprice",
    )
    li.repartition(8).write.mode("overwrite").parquet(base_dst)
    # the BLIND delete write: keys from the request predicate over the
    # source — no base scan, no positions
    (
        li.filter(F.col("l_returnflag") == _EQ_DEL_FLAG)
        .select("l_orderkey")
        .distinct()
        .write.mode("overwrite")
        .parquet(del_dst)
    )
    base = spark.read.parquet(base_dst)
    dk = spark.read.parquet(del_dst)
    live = base.join(F.broadcast(dk), "l_orderkey", "left_anti")
    dead = base.join(F.broadcast(dk), "l_orderkey", "left_semi")
    dm = dead.groupBy(
        F.month("l_shipdate").cast("int").alias("ship_month")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    return (
        live.groupBy(F.month("l_shipdate").cast("int").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            r4(F.sum("l_quantity")).alias("sum_qty"),
            r4(F.sum("l_extendedprice")).alias("sum_price"),
        )
        .join(dm, "ship_month", "left")
        .select(
            "ship_month",
            "n_rows",
            "sum_qty",
            "sum_price",
            F.coalesce("n_deleted", F.lit(0)).cast("long").alias("n_deleted"),
        )
    )


_BLOOM_FILE_M = 16384  # bits per file index (~2 KiB; ~12 bits/key/file at
#                        sf0.01 -> per-file false-positive rate ~0.2%)
_BLOOM_FILE_K = 4  # hash functions (same md5 j:key rule as the stream twins)
_BLOOM_FILES = 16  # hash-distributed data files


def _bloom_file_index(spark: SparkSession, path: str) -> dict[str, set[int]]:
    """Per-file Bloom bit sets over ``o_custkey`` — the file-level index a
    parquet bloom filter / Delta bloom index stores in the footer or
    sidecar.  Bounded driver collect: |files| × ≤ {m} positions, metadata
    scale, never row scale."""
    from pyspark.sql import functions as FF  # local alias for clarity

    jj = spark.range(_BLOOM_FILE_K).select(FF.col("id").cast("int").alias("j"))
    pos = (
        h32(
            FF.concat(
                FF.col("j").cast("string"),
                FF.lit(":"),
                FF.col("o_custkey").cast("string"),
            )
        )
        % _BLOOM_FILE_M
    )
    rows = (
        spark.read.parquet(path)
        .select(FF.input_file_name().alias("f"), "o_custkey")
        .distinct()
        .crossJoin(jj)
        .select("f", pos.alias("b"))
        .distinct()
        .groupBy("f")
        .agg(FF.collect_set("b").alias("bits"))
        .collect()
    )
    return {r["f"]: set(r["bits"]) for r in rows}


def _bloom_probe_positions(key: int) -> list[int]:
    """The SAME md5 j:key rule, driver-side (md5 is md5 — bit-identical
    to the Spark expression in ``_bloom_file_index``)."""
    return [py_h32(f"{j}:{key}") % _BLOOM_FILE_M for j in range(_BLOOM_FILE_K)]


@register(
    "io_bloom_skip_lookup",
    oracle="""
WITH probes AS (
  SELECT probe_key FROM (
    SELECT DISTINCT o_custkey AS probe_key FROM orders ORDER BY 1 LIMIT 3) a
  UNION ALL SELECT max(o_custkey) + 1 FROM orders
  UNION ALL SELECT max(o_custkey) + 2 FROM orders
)
SELECT p.probe_key,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0), 4) AS sum_total
FROM probes p LEFT JOIN orders o ON o.o_custkey = p.probe_key
GROUP BY 1
""",
)
def io_bloom_skip_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-INDEXED file skipping for point lookups — the third member of
    the skipping ladder: min/max ranges (``io_clustered_stats_prune``)
    need the key clustered, z-order (``io_zorder_prune``) needs it in the
    layout's dimension budget, but a HASH-DISTRIBUTED table (the layout
    co-located joins want) scatters every key across all files and makes
    both useless — every file's min/max spans the whole domain.  The fix
    real formats ship (parquet column bloom filters, Delta bloom
    indexes): a per-file Bloom filter over the lookup column, consulted
    before the scan.  This query hash-distributes ``orders`` into
    {files} files, builds a {m}-bit / {k}-hash per-file index with the
    engine-shared md5 ``j:key`` rule (``sketch_params`` discipline, same
    hash as ``stream_hourly_bloom``), then answers point lookups for 5
    probe customers (3 present — the smallest custkeys — and 2 absent)
    by reading ONLY the files whose filter claims all {k} bits of a
    probe.  Matching the oracle's LEFT-JOIN aggregate over the ORIGINAL
    table proves the pruned read lossless: Bloom filters have NO false
    negatives (every true containing file is always read — the dedicated
    layout test pins this inclusion), and the exact predicate re-applies
    after the read so false positives only cost I/O.

    Exactness: bit positions are integers from the shared md5 rule; the
    emitted aggregate is exact counts + one 4dp sum; absent probes emit
    (0, 0.0) through the same LEFT-JOIN shape as the oracle.

    Scale: the index build is one (file, key) DISTINCT + a bounded
    k-position explode — at 100 TB it rides the write path (parquet
    computes footer blooms inline) and the index lives in the manifest;
    the lookup reads |candidate files| ≈ |true files| + FP·|files|
    (~0.2% per file here), turning a full-table point scan into a
    few-file read.  The driver-side index dict is |files| × m bits of
    METADATA, the same bounded collect as the z-order stats table."""
    t = Catalog(spark, sf_dir)
    dst = _scratch(sf_dir, "bloom_skip_orders")
    (
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(_BLOOM_FILES, "o_orderkey")
        .write.mode("overwrite")
        .parquet(dst)
    )
    index = _bloom_file_index(spark, dst)
    # deterministic probes: 3 smallest distinct custkeys + 2 absent keys
    present = [
        r[0]
        for r in t.orders.select("o_custkey")
        .distinct()
        .orderBy("o_custkey")
        .limit(3)
        .collect()
    ]
    mx = t.orders.agg(F.max("o_custkey")).collect()[0][0]
    probes = present + [mx + 1, mx + 2]
    keep: set[str] = set()
    for key in probes:
        want = _bloom_probe_positions(key)
        keep |= {f for f, bits in index.items() if all(b in bits for b in want)}
    probes_df = spark.createDataFrame(
        [(int(k),) for k in probes], "probe_key long"
    )
    if keep:
        hits = (
            spark.read.parquet(*sorted(keep))
            .filter(F.col("o_custkey").isin([int(k) for k in probes]))
            .groupBy(F.col("o_custkey").alias("probe_key"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_hits"),
                F.sum("o_totalprice").alias("s_total"),
            )
        )
        out = probes_df.join(hits, "probe_key", "left")
    else:
        out = probes_df.withColumn("n_hits", F.lit(None).cast("long")).withColumn(
            "s_total", F.lit(None).cast("double")
        )
    return out.select(
        "probe_key",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_orders"),
        r4(F.coalesce(F.col("s_total"), F.lit(0.0))).alias("sum_total"),
    )


# --- snapshot EXPIRY + orphan-file vacuum ---------------------------------
# the fourth table-format maintenance behavior after file skipping,
# merge-on-read, and compaction: retiring old snapshots and physically
# reclaiming the files only they reference.

_SE_FILES = 6  # base data files in the expiry layout
_SE_DEL_FIDS = (1, 4)  # only these files receive deletes -> partial rewrite
_SE_DEL_QTY = 30  # within those files, rows with l_quantity >= this die


def expire_snapshots(
    spark: SparkSession, manifest_path: str, keep: tuple[int, ...]
) -> dict:
    """EXPIRE old snapshots of a manifest-versioned table and VACUUM the
    files only they reference — Iceberg's expire_snapshots +
    remove_orphan_files pair / Delta VACUUM: a path is reclaimable iff
    NO kept snapshot names it (files are shared across snapshots by
    path, so liveness is set subtraction over the manifest, never a data
    scan).  The manifest is rewritten to carry only the kept snapshots,
    so expired versions stop being addressable BEFORE their files go —
    readers of kept snapshots are never racing the delete.

    Returns {"n_snapshots_expired": int, "n_files_removed": int,
    "n_files_live": int}.

    Scale: expiry is pure metadata (a manifest scan, KB) plus one
    filesystem delete per orphaned file; cost is proportional to churn,
    never to table size — the property that makes retention enforcement
    affordable at 100 TB."""
    staging = manifest_path.rstrip("/") + "__staging"
    backup = manifest_path.rstrip("/") + "__old"
    # self-recovery from a crash BETWEEN the two swap renames: no manifest
    # at manifest_path but a complete new one at __staging — finish the
    # interrupted rename before reading, so the next expiry call (not an
    # operator) completes the swap
    if not os.path.exists(manifest_path) and os.path.exists(staging):
        os.rename(staging, manifest_path)
    m = spark.read.parquet(manifest_path)
    # bounded metadata collect: a manifest row per file per snapshot
    rows = m.collect()
    live = {r.path for r in rows if r.snapshot_id in keep}
    dead = {r.path for r in rows if r.snapshot_id not in keep} - live
    expired = {r.snapshot_id for r in rows if r.snapshot_id not in keep}
    # manifest swap FIRST, file deletes SECOND: a crash between the two
    # leaves orphaned-but-harmless files (recoverable as dir-listing minus
    # manifest paths), never a manifest addressing deleted paths — the
    # ordering the docstring promises.  The swap itself is two renames
    # around a retained backup (directories can't be rename-replaced
    # atomically): every crash point leaves a COMPLETE manifest on disk —
    # before the first rename the old one is live; between the renames the
    # new manifest sits whole at __staging and the old whole at __old
    # (recovery = the automatic finish-the-rename branch at function
    # entry); after the second the new one is live — and no reachable
    # state pairs deleted data files with a manifest that names them.
    kept_rows = [
        (r.snapshot_id, r.path, r.kind) for r in rows if r.snapshot_id in keep
    ]
    if os.path.exists(backup):  # leftover from a crashed prior swap
        shutil.rmtree(backup)
    _write_manifest(staging, kept_rows)
    os.rename(manifest_path, backup)
    os.rename(staging, manifest_path)
    shutil.rmtree(backup)
    for p in sorted(dead):
        shutil.rmtree(p)
    return {
        "n_snapshots_expired": len(expired),
        "n_files_removed": len(dead),
        "n_files_live": len(live),
    }


@register(
    "io_snapshot_expire",
    oracle=f"""
SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty,
       CAST(1 AS BIGINT) AS n_live_snapshots,
       CAST({len(_SE_DEL_FIDS) + 1} AS BIGINT) AS n_files_removed
FROM lineitem
WHERE NOT (l_orderkey % {_SE_FILES} IN {_SE_DEL_FIDS}
           AND l_quantity >= {_SE_DEL_QTY})
GROUP BY 1
""",
)
def io_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot EXPIRY with orphan-file vacuum — the retention half of
    the table-format lifecycle, closing the loop the other io queries
    open: write (``io_mor_deletes``) → compact (``io_mor_compact``) →
    time travel (``io_time_travel``) → EXPIRE.  The table lives through
    three snapshots: (1) CREATE — {_SE_FILES} base files; (2) DELETE — a
    positional delete file kills l_quantity >= {_SE_DEL_QTY} rows in
    files {_SE_DEL_FIDS}; (3) COMPACT — snapshot-isolated compaction
    rewrites ONLY the affected files to NEW generation-2 paths (old and
    new generations coexist so snapshots 1-2 stay readable — the Iceberg
    commit model, unlike ``io_mor_compact``'s in-place swap).  Expiring
    snapshots 1-2 then reclaims exactly the generation-1 versions of the
    rewritten files plus the delete file ({len(_SE_DEL_FIDS) + 1} paths)
    — files a kept snapshot names are never touched.

    Matching the oracle from a post-expiry as-of-latest read proves
    vacuum removed no live data; the n_live_snapshots/n_files_removed
    columns put the expiry's metadata effect INSIDE the compared values;
    the layout test pins that orphaned paths are gone from disk, shared
    untouched files are byte-stable, and expired snapshots stop being
    addressable.

    Reference parity: the reference's retention is log cleanup by age
    (/root/reference/src/monitoring/alerts.py rate-limit window pruning
    and the tracking store's run history); this is the warehouse-table
    form with physical reclamation.

    Scale: see ``expire_snapshots`` — metadata plus O(churn) deletes."""
    import os

    t = Catalog(spark, sf_dir)
    base_dst = _scratch(sf_dir, "se_base")
    rw_dst = _scratch(sf_dir, "se_rewrite")
    del_dst = _scratch(sf_dir, "se_deletes")
    man_dst = _scratch(sf_dir, "se_manifest")
    li = t.lineitem.select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate", "l_quantity"
    )
    stamped = _stamp_mor(li, _SE_FILES)
    (
        stamped.repartition("file_id")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(base_dst)
    )
    base = spark.read.parquet(base_dst)
    # snapshot 2: positional deletes against files _SE_DEL_FIDS only
    dels = base.filter(
        F.col("file_id").isin(list(_SE_DEL_FIDS))
        & (F.col("l_quantity") >= _SE_DEL_QTY)
    ).select("file_id", "pos")
    dels.write.mode("overwrite").parquet(del_dst)
    # snapshot 3: snapshot-isolated compaction — affected files rewritten
    # to NEW generation-2 paths; generation-1 files stay for time travel
    (
        base.filter(F.col("file_id").isin(list(_SE_DEL_FIDS)))
        .join(spark.read.parquet(del_dst), ["file_id", "pos"], "left_anti")
        .write.mode("overwrite")
        .parquet(rw_dst)
    )
    gen1 = {
        fid: os.path.join(base_dst, f"file_id={fid}") for fid in range(_SE_FILES)
    }
    untouched = [
        (p, "data") for fid, p in gen1.items() if fid not in _SE_DEL_FIDS
    ]
    affected = [(gen1[fid], "data") for fid in _SE_DEL_FIDS]
    manifest = (
        [(1, p, k) for p, k in untouched + affected]
        + [(2, p, k) for p, k in untouched + affected]
        + [(2, del_dst, "delete")]
        + [(3, p, k) for p, k in untouched]
        + [(3, rw_dst, "data")]
    )
    _write_manifest(man_dst, manifest)
    stats = expire_snapshots(spark, man_dst, keep=(3,))
    live = read_snapshot(spark, man_dst, base_dst, 3)
    return (
        live.groupBy(F.month("l_shipdate").cast("int").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            r4(F.sum("l_quantity")).alias("sum_qty"),
        )
        .crossJoin(
            spark.createDataFrame(
                [
                    (
                        3 - stats["n_snapshots_expired"],
                        stats["n_files_removed"],
                    )
                ],
                "n_live_snapshots long, n_files_removed long",
            )
        )
    )


# --- partition-spec EVOLUTION ----------------------------------------------
# the remaining core table-format lifecycle behavior after skipping
# (minmax/z-order/Bloom), merge-on-read deletes, compaction, time travel,
# CDC reads, and snapshot expiry: changing the partition LAYOUT mid-life
# while files written under the old spec stay readable and stay PRUNABLE
# under their own spec.

_PE_SPLIT_YEAR = 1996  # rows shipped before this: spec A; from it on: spec B
_PE_MONTH = 3  # the probe predicate both generations must prune on
_PE_FLAG = "R"  # the extra spec-B dimension's probe value


@register(
    "io_partition_evolution",
    oracle=f"""
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem
WHERE month(l_shipdate) = {_PE_MONTH} AND l_returnflag = '{_PE_FLAG}'
GROUP BY 1
""",
)
def io_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION — Iceberg's evolve-the-layout-without-
    rewriting behavior: the table starts partitioned by ship_month (spec
    A), later writes switch to (ship_month, ret) (spec B), and ONE query
    over the union answers with BOTH file generations pruned via their
    OWN spec's directories — spec-A files prune on month only (the ret
    predicate is row-level there), spec-B files prune on month AND ret.
    Old files are NEVER rewritten when the spec changes; that is the
    entire point (a 100 TB table cannot re-layout retroactively), and it
    is exactly how Iceberg executes it: each data file carries its
    partition-spec id, and the scan plans each spec's files with that
    spec's transforms.  Here the generations live in per-spec
    directories and the reader unions one pruned scan per spec — the
    same plan shape a spec-aware catalog produces.

    The generation split is by ship YEAR (< {split} = spec A, >= = spec
    B), modeling the real lifecycle: the layout changed at a point in
    time, so the old generation is exactly the old data.  Matching the
    oracle's aggregate over the ORIGINAL table proves the evolved layout
    is lossless across the spec boundary; the layout test pins that BOTH
    scans prune (PartitionFilters on each generation's own columns) and
    that the spec-A directory tree really has no ret level.

    Reference parity: the reference's per-period export convention
    (/root/reference/src/data/load_data.py) never revisits old periods;
    this is that convention with a mid-life layout upgrade.

    Scale: both writes are one-shuffle partitionBy sinks; the read is
    two directory-pruned scans (one per spec) unioned BEFORE the
    aggregate, so partial aggregation spans both generations and the
    month/ret predicates never touch non-matching files in either."""
    t = Catalog(spark, sf_dir)
    a_dst = _scratch(sf_dir, "pe_spec_a")
    b_dst = _scratch(sf_dir, "pe_spec_b")
    li = t.lineitem.select(
        "l_shipdate",
        "l_quantity",
        "l_suppkey",
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
        F.col("l_returnflag").alias("ret"),
    )
    # generation 1, spec A: partition by month only (ret stays a data col)
    (
        li.filter(F.col("ship_year") < _PE_SPLIT_YEAR)
        .write.mode("overwrite")
        .partitionBy("ship_month")
        .parquet(a_dst)
    )
    # generation 2, spec B: the evolved layout adds the ret dimension
    (
        li.filter(F.col("ship_year") >= _PE_SPLIT_YEAR)
        .write.mode("overwrite")
        .partitionBy("ship_month", "ret")
        .parquet(b_dst)
    )
    cols = ["l_shipdate", "l_quantity", "l_suppkey", "ship_year"]
    gen_a = (
        spark.read.parquet(a_dst)
        .filter(
            (F.col("ship_month") == _PE_MONTH) & (F.col("ret") == _PE_FLAG)
        )
        .select(*cols)
    )
    gen_b = (
        spark.read.parquet(b_dst)
        .filter(
            (F.col("ship_month") == _PE_MONTH) & (F.col("ret") == _PE_FLAG)
        )
        .select(*cols)
    )
    return (
        gen_a.unionByName(gen_b)
        .groupBy(F.col("ship_year").cast("int").alias("ship_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            r4(F.sum("l_quantity")).alias("sum_qty"),
            F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        )
    )


io_partition_evolution.__doc__ = io_partition_evolution.__doc__.format(
    split=_PE_SPLIT_YEAR
)
