"""Relational core: scans, filters, joins, dedup, set ops, top-k.

Reimplements the reference's relational surface (SURVEY.md §2.1-2.3, 2.6,
2.7) Spark-first.  Each query is registered with a DuckDB oracle.  Scale
notes per query live in the docstrings; the shared principles:

- dimension joins broadcast (part/supplier/nation/region are tiny vs the
  fact table at any scale — the reference hand-rolled this as per-key dict
  maps, /root/reference/src/utils/data_loader.py:320-421);
- "keep-first" dedup gets an explicit deterministic tie-break (Spark has no
  file order; /root/reference/src/data/clean_data.py:140-147);
- quantile thresholds are computed inside the query (scalar-aggregate
  cross join) so the plan stays one distributed DAG, no driver round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import h32, r4
from hackatonbigdata_spark.registry import register


@register(
    "flagship_weekly_brand_demand",
    oracle="""
WITH base AS (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
         CAST(weekofyear(l_shipdate) AS INTEGER) AS wk,
         coalesce(p_brand, 'Unknown') AS brand,
         l_quantity
  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
  WHERE l_quantity >= 0 AND l_quantity <= 50
), agg AS (
  SELECT yr, wk, brand,
         round(sum(l_quantity), 4) AS sum_qty,
         round(avg(l_quantity), 4) AS avg_qty,
         round(stddev_samp(l_quantity), 4) AS std_qty,
         count(*) AS n_rows
  FROM base GROUP BY yr, wk, brand
), ranked AS (
  SELECT *,
         round(sum_qty / sum(sum_qty) OVER (PARTITION BY yr, wk), 4) AS wk_share,
         CAST(rank() OVER (PARTITION BY yr, wk
                           ORDER BY sum_qty DESC, brand) AS BIGINT) AS brand_rank
  FROM agg
)
SELECT yr, wk, brand, sum_qty, avg_qty, std_qty, n_rows, wk_share, brand_rank
FROM ranked WHERE brand_rank <= 5
""",
)
def flagship_weekly_brand_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: weekly demand per brand with share + rank + top-k.

    The reference's core analytical skeleton — scan → valid-quantity filter →
    broadcast dim join → calendar group-by → multi-stat agg → global-share
    window → rank → top-k (/root/reference/generate_hackathon_final_perfect.py:126-196,
    /root/reference/src/features/aggregation_features_engine.py:64-151).

    Scale: one shuffle for the groupBy (map-side partial agg first), one for
    the per-week window — the window keys are a prefix of the agg keys so AQE
    can reuse the exchange.  `part` is broadcast; rank ties broken by brand
    name so the result is deterministic under float reordering.
    """
    t = Catalog(spark, sf_dir)
    base = (
        t.lineitem.filter((F.col("l_quantity") >= 0) & (F.col("l_quantity") <= 50))
        .join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .select(
            F.year("l_shipdate").alias("yr"),
            F.weekofyear("l_shipdate").alias("wk"),
            F.coalesce("p_brand", F.lit("Unknown")).alias("brand"),
            "l_quantity",
        )
    )
    agg = base.groupBy("yr", "wk", "brand").agg(
        r4(F.sum("l_quantity")).alias("sum_qty"),
        r4(F.avg("l_quantity")).alias("avg_qty"),
        r4(F.stddev("l_quantity")).alias("std_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    wk_win = W.partitionBy("yr", "wk")
    rank_win = wk_win.orderBy(F.col("sum_qty").desc(), F.col("brand"))
    return (
        agg.withColumn("wk_share", r4(F.col("sum_qty") / F.sum("sum_qty").over(wk_win)))
        .withColumn("brand_rank", F.rank().over(rank_win).cast("long"))
        .filter(F.col("brand_rank") <= 5)
    )


@register(
    "scan_project_filter",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_discount > 0.05
""",
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate at the scan (SURVEY §2.1/2.2).

    The reference passes ``columns=`` and pyarrow ``filters=`` by hand
    (/root/reference/src/data/loaders.py:43-118); here Catalyst pushes both
    into the parquet reader — `.explain` shows PushedFilters and a 4-column
    ReadSchema, so a 100 TB scan reads only the needed pages.
    """
    t = Catalog(spark, sf_dir)
    return t.lineitem.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    ).filter((F.col("l_shipdate") < "1997-01-01") & (F.col("l_discount") > 0.05))


@register(
    "sample_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
""",
)
def sample_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-sampling dev-subset scan (~10%), SURVEY §2.1
    (/root/reference/src/data/loaders.py:68-98 uses Bernoulli
    ``df.sample(fraction)``).

    Implemented as a deterministic hash-bucket filter on the key — the same
    10% sample on every run, engine, and partitioning, which Bernoulli
    ``df.sample(fraction, seed)`` cannot promise across engines (RNG
    stream is implementation-defined; it also can't be oracle-checked).
    ``df.sample`` remains the one-liner when reproducibility doesn't
    matter.  Scale: the filter is rowwise and codegen'd — no shuffle."""
    t = Catalog(spark, sf_dir)
    bucket = F.pmod(h32(F.col("o_orderkey").cast("string")), F.lit(10))
    return t.orders.filter(bucket == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


@register(
    "filter_quantile_band",
    oracle="""
WITH bounds AS (
  SELECT round(quantile_cont(l_extendedprice, 0.01), 4) AS lo,
         round(quantile_cont(l_extendedprice, 0.99), 4) AS hi
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem, bounds
WHERE l_extendedprice >= lo AND l_extendedprice <= hi
""",
)
def filter_quantile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-band outlier filter (Q01..Q99), thresholds computed in-plan.

    Mirrors /root/reference/src/data/clean_data.py:114-121.  The scalar
    bounds come from an exact percentile aggregate cross-joined back (no
    driver round-trip, stays one DAG).  At 100 TB swap `percentile` for
    `percentile_approx` — documented switch point per SURVEY §7.4(3).
    """
    t = Catalog(spark, sf_dir)
    bounds = t.lineitem.agg(
        r4(F.percentile("l_extendedprice", F.lit(0.01))).alias("lo"),
        r4(F.percentile("l_extendedprice", F.lit(0.99))).alias("hi"),
    )
    return (
        t.lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") <= F.col("hi")))
        .drop("lo", "hi")
    )


@register(
    "filter_date_range_valid",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate <= TIMESTAMP '1997-12-31'
  AND l_quantity > 0 AND l_extendedprice > 0
  AND l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
""",
)
def filter_date_range_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range + zero/negative removal + critical-null drop in one pass
    (/root/reference/src/data/clean_data.py:107-161,181-187)."""
    t = Catalog(spark, sf_dir)
    return (
        t.lineitem.na.drop(subset=["l_orderkey", "l_partkey"])
        .filter(F.col("l_shipdate").between("1996-01-01", "1997-12-31"))
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
    )


@register(
    "dedup_keep_first",
    oracle="""
SELECT l_partkey, l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity
FROM (
  SELECT l_partkey, l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
         row_number() OVER (PARTITION BY l_partkey, l_suppkey, l_shipdate
                            ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn = 1
""",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-'first' dedup with a deterministic tie-break.

    pandas ``drop_duplicates(keep='first')`` relies on file order
    (/root/reference/src/data/clean_data.py:140-147); Spark has no stable
    row order, so 'first' is defined as min (l_orderkey, l_linenumber) via
    row_number — same definition in the oracle (SURVEY §7.4 item 2).
    """
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("l_partkey", "l_suppkey", "l_shipdate").orderBy(
        "l_orderkey", "l_linenumber"
    )
    return (
        t.lineitem.select(
            "l_partkey", "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "join_multiway_enrich",
    oracle="""
SELECT coalesce(r_name, 'Unknown') AS region_name,
       coalesce(p_type, 'Unknown') AS part_type,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_rows,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem
LEFT JOIN part ON l_partkey = p_partkey
LEFT JOIN supplier ON l_suppkey = s_suppkey
LEFT JOIN nation ON s_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
""",
)
def join_multiway_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way broadcast left-join enrichment + rollup aggregate.

    The reference enriches the fact table with product and store dims via
    hand-rolled per-key dict maps with 'Unknown' null-fill
    (/root/reference/src/utils/data_loader.py:320-421); here every dim is a
    real broadcast join — at 100 TB the fact table never shuffles for these
    joins, and Catalyst prunes dim columns to the ones used.
    """
    t = Catalog(spark, sf_dir)
    df = (
        t.lineitem.join(F.broadcast(t.part.select("p_partkey", "p_type")),
                        F.col("l_partkey") == F.col("p_partkey"), "left")
        .join(F.broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"), "left")
        .join(F.broadcast(t.nation.select("n_nationkey", "n_regionkey")),
              F.col("s_nationkey") == F.col("n_nationkey"), "left")
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"), "left")
    )
    return df.groupBy(
        F.coalesce("r_name", F.lit("Unknown")).alias("region_name"),
        F.coalesce("p_type", F.lit("Unknown")).alias("part_type"),
    ).agg(
        r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@register(
    "join_anti_orphans",
    oracle="""
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
""",
)
def join_anti_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity check as a left-anti join.

    The reference computes orphaned keys with driver-side python sets
    (/root/reference/src/data/clean_data.py:303-322) — a non-starter at
    scale; left_anti distributes and AQE picks broadcast when the right
    side's distinct keys are small.
    """
    t = Catalog(spark, sf_dir)
    return t.orders.join(
        t.lineitem.select("l_orderkey"), F.col("o_orderkey") == F.col("l_orderkey"), "left_anti"
    ).select("o_orderkey", "o_totalprice", "o_orderstatus")


@register(
    "join_semi_active_customers",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style membership via left-semi join (SURVEY §2.7)."""
    t = Catalog(spark, sf_dir)
    return t.customer.join(
        t.orders.select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "share_window_vs_join_back",
    oracle="""
WITH pp AS (
  SELECT l_suppkey, l_partkey, round(sum(l_quantity), 4) AS part_qty
  FROM lineitem GROUP BY l_suppkey, l_partkey
)
SELECT l_suppkey, l_partkey, part_qty,
       round(sum(part_qty) OVER (PARTITION BY l_suppkey), 4) AS store_qty,
       round(part_qty / sum(part_qty) OVER (PARTITION BY l_suppkey), 4) AS part_share
FROM pp
""",
)
def share_window_vs_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join-back rewritten as a window over the aggregate.

    The reference does groupby→merge-back ~40 times (SURVEY §2.3); the Spark
    idiom aggregates once and takes the group total from an unbounded window
    partitioned by a prefix of the grouping keys — the window reuses the
    aggregation's hash partitioning, so it costs zero extra shuffles.
    """
    t = Catalog(spark, sf_dir)
    pp = t.lineitem.groupBy("l_suppkey", "l_partkey").agg(
        r4(F.sum("l_quantity")).alias("part_qty")
    )
    w = W.partitionBy("l_suppkey")
    return pp.withColumn("store_qty", r4(F.sum("part_qty").over(w))).withColumn(
        "part_share", r4(F.col("part_qty") / F.sum("part_qty").over(w))
    )


@register(
    "union_slices",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice, 'high_value_return' AS slice
FROM lineitem WHERE l_returnflag = 'R' AND l_extendedprice > 5000
UNION ALL
SELECT l_orderkey, l_linenumber, l_extendedprice, 'small_open' AS slice
FROM lineitem WHERE l_linestatus = 'O' AND l_quantity < 5
""",
)
def union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-all of two filtered slices with a provenance marker
    (pandas concat, /root/reference/src/data/loaders.py:97)."""
    t = Catalog(spark, sf_dir)
    cols = ["l_orderkey", "l_linenumber", "l_extendedprice"]
    a = (
        t.lineitem.filter((F.col("l_returnflag") == "R") & (F.col("l_extendedprice") > 5000))
        .select(*cols)
        .withColumn("slice", F.lit("high_value_return"))
    )
    b = (
        t.lineitem.filter((F.col("l_linestatus") == "O") & (F.col("l_quantity") < 5))
        .select(*cols)
        .withColumn("slice", F.lit("small_open"))
    )
    return a.unionByName(b)


@register(
    "topk_orders_by_value",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def topk_orders_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k via orderBy+limit (TakeOrdered — per-partition top-k then
    a k-row merge at the driver; no full sort at any scale).  Deterministic
    tie-break on the key (SURVEY §2.6)."""
    t = Catalog(spark, sf_dir)
    return (
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


def basket_pairs(
    lineitem: DataFrame, min_baskets: int, u: str = "u", v: str = "v", n: str = "nb"
) -> DataFrame:
    """``(u, v, n)``: every part pair u < v ordered together in at least
    ``min_baskets`` order baskets, with ``n`` its basket count — the edge
    set of the basket co-occurrence graph.  Lazy: callers that read it
    more than once checkpoint it themselves."""
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias(u), F.col("b.l_partkey").alias(v))
        .agg(F.count(F.lit(1)).alias(n))
        .filter(F.col(n) >= min_baskets)
    )


@register(
    "cooccurrence_pairs",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_baskets
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
""",
)
def cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket co-occurrence as a self-join (SURVEY §2.3).

    Replaces the reference's per-basket python pair loop
    (/root/reference/src/features/behavioral_features_engine.py:454-485).
    Scale: the self-join shuffles once on the basket key; baskets are small
    (few items per order) so the pair blow-up is bounded — for pathological
    baskets, cap basket size first (standard market-basket practice).
    """
    lineitem = Catalog(spark, sf_dir).lineitem
    return basket_pairs(lineitem, 2, "part_a", "part_b", "n_baskets")


@register(
    "join_integrity_check",
    oracle="""
WITH pre AS (
  SELECT count(*) AS n_rows, round(sum(l_quantity), 4) AS sum_qty FROM lineitem
), post AS (
  SELECT count(*) AS n_rows, round(sum(l_quantity), 4) AS sum_qty
  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
)
SELECT pre.n_rows AS rows_before, post.n_rows AS rows_after,
       pre.sum_qty AS qty_before, post.sum_qty AS qty_after,
       pre.n_rows = post.n_rows AND pre.sum_qty = post.sum_qty AS join_lossless
FROM pre, post
""",
)
def join_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-loss validation: row count and quantity sum must be unchanged
    by a left enrichment join
    (/root/reference/src/utils/data_loader.py:424-439).  One row out; both
    legs are single aggregates, the dim broadcasts."""
    t = Catalog(spark, sf_dir)
    pre = t.lineitem.agg(
        F.count(F.lit(1)).alias("rows_before"),
        r4(F.sum("l_quantity")).alias("qty_before"),
    )
    post = (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("rows_after"),
            r4(F.sum("l_quantity")).alias("qty_after"),
        )
    )
    return (
        pre.crossJoin(post)
        .select(
            "rows_before",
            "rows_after",
            "qty_before",
            "qty_after",
            (
                (F.col("rows_before") == F.col("rows_after"))
                & (F.col("qty_before") == F.col("qty_after"))
            ).alias("join_lossless"),
        )
    )


@register(
    "data_quality_profile",
    oracle="""
WITH c AS (
  SELECT count(*) AS n_rows,
         count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS n_dup_keys,
         sum(CASE WHEN l_suppkey IS NULL OR l_partkey IS NULL THEN 1 ELSE 0 END)
           AS n_null_keys,
         sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS n_null_qty,
         sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS n_nonpositive_qty,
         sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
                    OR l_shipdate >= TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END)
           AS n_bad_dates
  FROM lineitem
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_dup_keys AS BIGINT) AS n_dup_keys,
       CAST(n_null_keys AS BIGINT) AS n_null_keys,
       CAST(n_null_qty AS BIGINT) AS n_null_qty,
       CAST(n_nonpositive_qty AS BIGINT) AS n_nonpositive_qty,
       CAST(n_bad_dates AS BIGINT) AS n_bad_dates,
       round(1.0 - CAST(n_dup_keys AS DOUBLE) / n_rows, 4) AS uniqueness,
       round(1.0 - CAST(n_null_keys + n_null_qty AS DOUBLE) / (2.0 * n_rows), 4)
         AS completeness,
       round(1.0 - CAST(n_nonpositive_qty + n_bad_dates AS DOUBLE) / (2.0 * n_rows), 4)
         AS validity,
       round(0.4 * (1.0 - CAST(n_dup_keys AS DOUBLE) / n_rows)
           + 0.3 * (1.0 - CAST(n_null_keys + n_null_qty AS DOUBLE) / (2.0 * n_rows))
           + 0.3 * (1.0 - CAST(n_nonpositive_qty + n_bad_dates AS DOUBLE) / (2.0 * n_rows)),
           4) AS quality_score
FROM c
""",
)
def data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-table data-quality score: uniqueness (dup line keys),
    completeness (critical nulls), validity (non-positive quantities,
    out-of-range dates), and the 0.4/0.3/0.3 weighted composite — the
    data-quality component of the reference's KPI system
    (/root/reference/src/validation/kpi_system.py:43-330; validation rules
    from src/data/clean_data.py:107-187).

    Scale: ONE full-scan aggregate (count distinct on the line key is the
    only shuffle); every input to the score is an exact integer count, so
    the composite is engine-identical by construction."""
    t = Catalog(spark, sf_dir)
    n = F.count(F.lit(1))
    dup = n - F.countDistinct("l_orderkey", "l_linenumber")
    nulk = F.sum(
        F.when(F.col("l_suppkey").isNull() | F.col("l_partkey").isNull(), 1).otherwise(0)
    )
    nulq = F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0))
    nonpos = F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0))
    bad_dates = F.sum(
        F.when(
            (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp_ntz"))
            | (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp_ntz")),
            1,
        ).otherwise(0)
    )
    c = t.lineitem.agg(
        n.alias("n_rows"),
        dup.alias("n_dup_keys"),
        nulk.alias("n_null_keys"),
        nulq.alias("n_null_qty"),
        nonpos.alias("n_nonpositive_qty"),
        bad_dates.alias("n_bad_dates"),
    )
    nr = F.col("n_rows")
    uniq = 1.0 - F.col("n_dup_keys").cast("double") / nr
    comp = 1.0 - (F.col("n_null_keys") + F.col("n_null_qty")).cast("double") / (2.0 * nr)
    valid = 1.0 - (F.col("n_nonpositive_qty") + F.col("n_bad_dates")).cast("double") / (
        2.0 * nr
    )
    return c.select(
        nr.cast("long").alias("n_rows"),
        F.col("n_dup_keys").cast("long").alias("n_dup_keys"),
        F.col("n_null_keys").cast("long").alias("n_null_keys"),
        F.col("n_null_qty").cast("long").alias("n_null_qty"),
        F.col("n_nonpositive_qty").cast("long").alias("n_nonpositive_qty"),
        F.col("n_bad_dates").cast("long").alias("n_bad_dates"),
        r4(uniq).alias("uniqueness"),
        r4(comp).alias("completeness"),
        r4(valid).alias("validity"),
        r4(0.4 * uniq + 0.3 * comp + 0.3 * valid).alias("quality_score"),
    )


@register(
    "join_range_price_band",
    oracle="""
WITH b AS (
  SELECT p_brand,
         floor(min(p_retailprice) * 10000 + 0.5) / 10000 AS lo,
         floor(max(p_retailprice) * 10000 + 0.5) / 10000 AS hi
  FROM part GROUP BY p_brand
)
SELECT p.p_partkey, b.p_brand AS band_brand,
       floor(p.p_retailprice * 10000 + 0.5) / 10000 AS price, b.lo, b.hi
FROM part p JOIN b ON p.p_retailprice >= b.lo AND p.p_retailprice <= b.hi
""",
)
def join_range_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (interval containment) join: every part matched to every brand
    whose [min, max] price band contains its price — the non-equi join
    class that naively plans as a nested-loop pair scan.

    Spark-first scale pattern: BIN-BUCKETED range join.  Each interval
    explodes to the fixed-width buckets it covers
    (``sequence(floor(lo/W), floor(hi/W))``), the probe side computes its
    single bucket, and the join becomes an EQUI-join on bucket followed by
    the exact range filter — shuffle work is proportional to interval
    coverage, never |probe|x|intervals|.  The oracle states the naive
    BETWEEN join; results are identical.  (Here the build side is 25 brand
    bands and would broadcast anyway — the bucketed plan is the point: it
    stays a hash join when both sides are fact-scale.)"""
    t = Catalog(spark, sf_dir)
    width = 100
    bands = t.part.groupBy("p_brand").agg(
        r4(F.min("p_retailprice")).alias("lo"), r4(F.max("p_retailprice")).alias("hi")
    )
    buckets = bands.select(
        F.col("p_brand").alias("band_brand"),
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / width).cast("long"),
                F.floor(F.col("hi") / width).cast("long"),
            )
        ).alias("bucket"),
    )
    probe = t.part.select(
        "p_partkey",
        F.col("p_retailprice").alias("_raw_price"),
        F.floor(F.col("p_retailprice") / width).cast("long").alias("bucket"),
    )
    # range test on the RAW price (as the oracle does); quantize for output
    return (
        probe.join(buckets, "bucket")
        .filter((F.col("_raw_price") >= F.col("lo")) & (F.col("_raw_price") <= F.col("hi")))
        .select("p_partkey", "band_brand", r4("_raw_price").alias("price"), "lo", "hi")
    )


@register(
    "sample_reservoir_per_group",
    oracle="""
WITH h AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
         CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                                  CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) AS hk
  FROM lineitem
), r AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
         CAST(row_number() OVER (PARTITION BY l_suppkey
                                 ORDER BY hk, l_orderkey, l_linenumber) AS BIGINT)
           AS sample_rank,
         CAST(count(*) OVER (PARTITION BY l_suppkey) AS BIGINT) AS group_n
  FROM h
)
SELECT l_suppkey, sample_rank, l_orderkey, l_linenumber,
       round(l_quantity, 4) AS quantity, group_n
FROM r WHERE sample_rank <= 3
""",
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k per-group sample (k=3 rows per store): rank
    each row inside its group by the shared cross-engine hash of its primary
    key and keep the k smallest — a 'reservoir sample' that is stable across
    reruns, engines, and partitionings, unlike ``rand()``-based sampling.
    The per-group debugging/profiling sample every large pipeline needs
    (the reference samples per-segment for its validation previews,
    /root/reference/src/validation/integrity_checks.py: per-group head()).

    Scale: one keyed window per group (no global ordering); at extreme
    group sizes swap the full row_number for a per-partition bounded top-k
    (aggregate min_by(k)) — the hash-rank semantics are identical."""
    t = Catalog(spark, sf_dir)
    hk = h32(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        )
    )
    w = W.partitionBy("l_suppkey").orderBy("hk", "l_orderkey", "l_linenumber")
    return (
        t.lineitem.select(
            "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", hk.alias("hk")
        )
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.row_number().over(w).cast("long").alias("sample_rank"),
            F.count(F.lit(1)).over(W.partitionBy("l_suppkey")).cast("long").alias("group_n"),
        )
        .filter(F.col("sample_rank") <= 3)
        .select(
            "l_suppkey",
            "sample_rank",
            "l_orderkey",
            "l_linenumber",
            r4("l_quantity").alias("quantity"),
            "group_n",
        )
    )


@register(
    "anomaly_mad_flags",
    oracle="""
WITH med AS (
  SELECT l_suppkey, quantile_cont(l_quantity, 0.5) AS med
  FROM lineitem GROUP BY 1
), dev AS (
  SELECT l.l_suppkey, m.med, abs(l.l_quantity - m.med) AS adev
  FROM lineitem l JOIN med m ON l.l_suppkey = m.l_suppkey
), mad AS (
  SELECT l_suppkey, round(quantile_cont(adev, 0.5), 4) AS mad
  FROM dev GROUP BY 1
)
SELECT d.l_suppkey,
       round(max(d.med), 4) AS med_qty,
       max(m.mad) AS mad_qty,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN d.adev > 4.4478 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(sum(CASE WHEN d.adev > 4.4478 * m.mad THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS outlier_rate
FROM dev d JOIN mad m ON d.l_suppkey = m.l_suppkey
GROUP BY 1
""",
)
def anomaly_mad_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly detection via median absolute deviation:
    flag quantities beyond 3 robust sigmas (3 × 1.4826 × MAD) of the group
    median — the outlier detector the reference applies before model fits
    (/root/reference/src/data/clean_data.py: IQR/sigma-clip pass), in its
    robust form: unlike mean/std, median/MAD don't move when the outliers
    themselves get bigger.

    Two grouped exact medians (values, then absolute deviations) with a
    join back between them — both shuffles key on the group, reusing one
    partitioning.  Determinism: MAD is 4dp-quantized before the threshold
    compare in both engines; the 4.4478 factor keeps the threshold off the
    half-integer lattice the quantity deviations live on, so the strict
    inequality can't straddle.

    Scale: exact grouped percentiles sort within groups — fine while group
    cardinality × group size fits executor memory per task; at 100 TB the
    same query swaps ``percentile`` for ``percentile_approx`` (KLL sketch,
    mergeable, one pass) with the threshold semantics unchanged."""
    t = Catalog(spark, sf_dir)
    med = t.lineitem.groupBy("l_suppkey").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("med")
    )
    dev = t.lineitem.join(med, "l_suppkey").select(
        "l_suppkey", "med", F.abs(F.col("l_quantity") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("l_suppkey").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 4).alias("mad")
    )
    flagged = dev.join(mad, "l_suppkey")
    is_out = F.when(F.col("adev") > F.lit(4.4478) * F.col("mad"), 1).otherwise(0)
    return flagged.groupBy("l_suppkey").agg(
        r4(F.max("med")).alias("med_qty"),
        F.max("mad").alias("mad_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(is_out).cast("long").alias("n_outliers"),
        r4(F.sum(is_out) * F.lit(1.0) / F.count(F.lit(1))).alias("outlier_rate"),
    )


@register(
    "join_salted_skew",
    oracle="""
SELECT coalesce(p_brand, 'Unknown') AS brand,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY 1
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: the manual skew-mitigation pattern for when the
    dimension is too large to broadcast AND one join key carries a
    pathological share of the fact rows (the reference's own EDA: 5.3% of
    products carry 79.9% of volume,
    /root/reference/src/features/aggregation_features_engine.py:7-10).
    The fact side gets a deterministic salt (orderkey % 8); the dimension
    replicates once per salt via a bounded explode; the join key becomes
    (partkey, salt), spreading each hot key over 8 reducers.  A
    shuffle-hash hint keeps Catalyst from quietly broadcasting the small
    test dim, so the salted shuffle path is what actually executes (plan-
    asserted: zero broadcasts).

    Matching the oracle's PLAIN join aggregate proves salting is
    result-transparent.  AQE's skewJoin handles moderate skew
    automatically (on in session.py); explicit salting remains the
    portable answer for extreme keys and for engines/stages AQE can't
    re-plan (salted demo for aggregation skew: ``salted_skew_demo``)."""
    t = Catalog(spark, sf_dir)
    n_salt = 8
    fact = t.lineitem.select(
        "l_partkey", "l_quantity", (F.col("l_orderkey") % n_salt).alias("salt")
    )
    dim = (
        t.part.select("p_partkey", "p_brand")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
        .withColumn("salt", F.col("salt").cast("long"))
        .hint("shuffle_hash")
    )
    j = fact.join(
        dim,
        (F.col("l_partkey") == F.col("p_partkey")) & (fact.salt == dim.salt),
        "left",
    )
    return j.groupBy(
        F.coalesce(F.col("p_brand"), F.lit("Unknown")).alias("brand")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        r4(F.sum("l_quantity")).alias("sum_qty"),
    )


@register(
    "sample_weighted_aexpj",
    oracle="""
WITH pri AS (
  SELECT p_brand, p_partkey, p_retailprice,
         CAST(floor(
           -log2((CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8))
                  AS BIGINT) + 1.0) / 4294967297.0)
           / p_retailprice * 1000000 + 0.5) AS BIGINT) AS prio_q
  FROM part WHERE p_retailprice > 0
), rk AS (
  SELECT p_brand, p_partkey, p_retailprice, prio_q,
         CAST(row_number() OVER (PARTITION BY p_brand
                                 ORDER BY prio_q, p_partkey) AS BIGINT)
           AS sample_rank
  FROM pri
)
SELECT p_brand, p_partkey,
       round(p_retailprice, 4) AS weight,
       prio_q, sample_rank
FROM rk WHERE sample_rank <= 5
""",
)
def sample_weighted_aexpj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, deterministic (A-ExpJ /
    Efraimidis-Spirakis): each item draws a 'uniform' u from the shared
    cross-engine hash and is ranked by −log(u)/weight — the k smallest
    priorities per group are a weighted sample without replacement, with
    inclusion probability proportional to weight.  The weighted companion
    to ``sample_reservoir_per_group`` (uniform), with the SAME
    reproducibility contract: no RNG, the hash IS the randomness, so any
    engine/run/partitioning draws the identical sample — the property
    sampled training-data pipelines need for auditability.

    Exactness: u = (h32+1)/(2³²+1) ∈ (0,1) from identical BIGINTs, the
    priority is quantized to a 1e-6 integer grid before ranking, ties
    break on the item key.

    Scale: one keyed rank window over the (bounded) part dim per brand;
    for fact-scale populations the same priority is a one-pass TOP-K per
    group (no global sort)."""
    t = Catalog(spark, sf_dir)
    u = (h32(F.col("p_partkey").cast("string")) + F.lit(1.0)) / F.lit(4294967297.0)
    pri = t.part.filter(F.col("p_retailprice") > 0).select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.floor(-F.log2(u) / F.col("p_retailprice") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("prio_q"),
    )
    wr = W.partitionBy("p_brand").orderBy("prio_q", "p_partkey")
    rk = pri.withColumn(
        "sample_rank", F.row_number().over(wr).cast("long")
    )
    return rk.filter(F.col("sample_rank") <= 5).select(
        "p_brand",
        "p_partkey",
        r4(F.col("p_retailprice")).alias("weight"),
        "prio_q",
        "sample_rank",
    )


@register(
    "pareto_skyline_parts",
    oracle="""
WITH per_price AS (
  SELECT p_retailprice AS price, CAST(max(p_size) AS BIGINT) AS max_size_here
  FROM part GROUP BY 1
), sweep AS (
  SELECT price, max_size_here,
         max(max_size_here) OVER (
           ORDER BY price
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_cheaper
  FROM per_price
)
SELECT p.p_partkey AS part_key,
       round(p.p_retailprice, 4) AS price,
       CAST(p.p_size AS BIGINT) AS size
FROM part p JOIN sweep s ON p.p_retailprice = s.price
WHERE p.p_size = s.max_size_here
  AND (s.best_cheaper IS NULL OR s.best_cheaper < p.p_size)
""",
)
def pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto SKYLINE over parts — every part not dominated on
    (price low, size high): part q dominates p iff q is no pricier AND no
    smaller, strictly better on at least one axis (ties on both axes
    dominate neither, so duplicated optima all surface).  The
    multi-objective shortlist behind "cheapest for its size class" — the
    reference ranks by one weighted score
    (/root/reference/src/models/ensemble_orchestrator.py's weight grids);
    the skyline is the score-free frontier every such weighting would pick
    from.

    Implementation — dominance collapses to a PREFIX MAX over the price
    axis in 2-D: p survives iff (a) p.size equals the max size AT its
    exact price (same-price strict dominance) and (b) every strictly
    cheaper price's max size is strictly below p.size (cheaper
    non-strict dominance).  One keyed aggregate to the per-price table,
    one running max over it, one semi-join back — no pairwise NOT-EXISTS
    (quadratic) anywhere.

    Scale: the fact-table pass is the groupBy(price) partial aggregate
    (map-side combined) and the final per-price equi-join, for which the
    sweep table BROADCASTS (|distinct prices| ≪ |parts|).  The prefix
    max runs on the per-price table; its single-ordered-window stage is
    |distinct prices|-sized, and if the price domain itself outgrew one
    task the standard fix is the two-pass range-partitioned prefix max
    (per-range maxes, broadcast the range prefix) — documented, not
    needed at any plausible domain size.  Higher dimensions (3-D+) lose
    the prefix-max collapse and use the local-skyline-then-global
    pre-filter instead (a partition-local skyline is a superset filter:
    every global skyline point is a local one)."""
    t = Catalog(spark, sf_dir)
    per_price = t.part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").cast("long").alias("max_size_here")
    )
    sweep = per_price.withColumn(
        "best_cheaper",
        F.max("max_size_here").over(
            W.orderBy("price").rowsBetween(W.unboundedPreceding, -1)
        ),
    )
    return (
        t.part.join(
            F.broadcast(sweep), F.col("p_retailprice") == F.col("price")
        )
        .filter(
            (F.col("p_size") == F.col("max_size_here"))
            & (
                F.col("best_cheaper").isNull()
                | (F.col("best_cheaper") < F.col("p_size"))
            )
        )
        .select(
            F.col("p_partkey").alias("part_key"),
            r4(F.col("p_retailprice")).alias("price"),
            F.col("p_size").cast("long").alias("size"),
        )
    )
