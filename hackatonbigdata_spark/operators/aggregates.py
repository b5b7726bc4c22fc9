"""M2 — aggregation layer (SURVEY.md §2.4).

The reference's groupby-agg surface: multi-stat aggs, higher moments,
distinct counts, grouped quantiles, market shares, entropy/HHI (rewritten
from scipy UDAFs to pure two-step aggregates), top-k shares, pivots, basket
stats, grouped correlation, rollup/cube replacing the manual hierarchy loop.

Cross-engine conventions:
- exact `percentile` here (matches DuckDB quantile_cont); swap to
  `percentile_approx` at 100 TB — SURVEY §7.4(3).
- Spark's skewness/kurtosis are population moments (g1, excess g2); DuckDB's
  builtins are sample-corrected, so the oracles spell out the population
  formula explicitly.
- every float aggregate rounded to 4dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import iso_dow, r4
from hackatonbigdata_spark.functions.materialize import materialize
from hackatonbigdata_spark.registry import register


@register(
    "agg_multistat_product",
    oracle="""
SELECT l_partkey,
       round(sum(l_quantity), 4) AS sum_qty,
       round(avg(l_quantity), 4) AS avg_qty,
       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
       round(stddev_samp(l_quantity), 4) AS std_qty,
       round(min(l_quantity), 4) AS min_qty,
       round(max(l_quantity), 4) AS max_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY l_partkey
""",
)
def agg_multistat_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product multi-stat aggregate — the reference's core feature block
    (/root/reference/src/features/aggregation_features_engine.py:49,64-77).
    One hash-agg shuffle; partial aggregation is map-side automatic."""
    t = Catalog(spark, sf_dir)
    return t.lineitem.groupBy("l_partkey").agg(
        r4(F.sum("l_quantity")).alias("sum_qty"),
        r4(F.avg("l_quantity")).alias("avg_qty"),
        r4(F.percentile("l_quantity", F.lit(0.5))).alias("median_qty"),
        r4(F.stddev("l_quantity")).alias("std_qty"),
        r4(F.min("l_quantity")).alias("min_qty"),
        r4(F.max("l_quantity")).alias("max_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_moments_brand",
    oracle="""
WITH s AS (
  SELECT p_brand, l_quantity AS x
  FROM lineitem JOIN part ON l_partkey = p_partkey
), m AS (
  SELECT p_brand, avg(x) AS mu FROM s GROUP BY p_brand
)
SELECT s.p_brand,
       round(avg((x - mu) ^ 3) / power(avg((x - mu) ^ 2), 1.5), 4) AS skew_qty,
       round(avg((x - mu) ^ 4) / power(avg((x - mu) ^ 2), 2) - 3, 4) AS kurt_qty,
       round(var_samp(x), 4) AS var_qty
FROM s JOIN m USING (p_brand)
GROUP BY s.p_brand
""",
)
def agg_moments_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher moments per brand (skew/kurtosis/variance,
    /root/reference/src/features/aggregation_features_engine.py:80-91).
    Spark's builtins are population g1 / excess g2; the oracle mirrors that
    formula since DuckDB's builtins are sample-corrected."""
    t = Catalog(spark, sf_dir)
    df = t.lineitem.join(
        F.broadcast(t.part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return df.groupBy("p_brand").agg(
        r4(F.skewness("l_quantity")).alias("skew_qty"),
        r4(F.kurtosis("l_quantity")).alias("kurt_qty"),
        r4(F.variance("l_quantity")).alias("var_qty"),
    )


@register(
    "agg_distinct_counts",
    oracle="""
SELECT p_brand,
       count(DISTINCT l_suppkey) AS n_stores,
       count(DISTINCT l_shipdate) AS n_dates,
       count(DISTINCT l_partkey) AS n_parts,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per brand
    (/root/reference/src/features/aggregation_features_engine.py:82-84,392-394).
    Exact `countDistinct` matches the oracle; at 100 TB the scale path is
    `approx_count_distinct` (HLL, one pass, no expand) — the multi-distinct
    here triggers Spark's EXPAND operator, acceptable at this cardinality."""
    t = Catalog(spark, sf_dir)
    df = t.lineitem.join(
        F.broadcast(t.part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return df.groupBy("p_brand").agg(
        F.countDistinct("l_suppkey").alias("n_stores"),
        F.countDistinct("l_shipdate").alias("n_dates"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_grouped_quantiles",
    oracle="""
SELECT l_suppkey,
       round(quantile_cont(l_quantity, 0.5), 4) AS q50,
       round(quantile_cont(l_quantity, 0.75), 4) AS q75,
       round(quantile_cont(l_quantity, 0.95), 4) AS q95
FROM lineitem GROUP BY l_suppkey
""",
)
def agg_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact quantiles per store
    (/root/reference/generate_hackathon_final_perfect.py:159-166)."""
    t = Catalog(spark, sf_dir)
    return t.lineitem.groupBy("l_suppkey").agg(
        r4(F.percentile("l_quantity", F.lit(0.5))).alias("q50"),
        r4(F.percentile("l_quantity", F.lit(0.75))).alias("q75"),
        r4(F.percentile("l_quantity", F.lit(0.95))).alias("q95"),
    )


@register(
    "market_share_brand",
    oracle="""
WITH b AS (
  SELECT p_brand, sum(l_extendedprice * (1 - l_discount)) AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand,
       round(revenue, 4) AS revenue,
       round(revenue / sum(revenue) OVER (), 4) AS market_share,
       CAST(rank() OVER (ORDER BY round(revenue, 4) DESC, p_brand) AS BIGINT) AS brand_rank
FROM b
""",
)
def market_share_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share + global rank per brand
    (/root/reference/src/features/behavioral_features_engine.py:358-382).
    Global total via an empty-partition window (scalar broadcast), rank on
    the ROUNDED revenue with name tie-break for cross-engine determinism."""
    t = Catalog(spark, sf_dir)
    b = (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    all_w = W.partitionBy()
    return b.select(
        "p_brand",
        r4("revenue").alias("revenue"),
        r4(F.col("revenue") / F.sum("revenue").over(all_w)).alias("market_share"),
        F.rank()
        .over(W.partitionBy().orderBy(r4("revenue").desc(), F.col("p_brand")))
        .cast("long")
        .alias("brand_rank"),
    )


@register(
    "entropy_store_portfolio",
    oracle="""
WITH v AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS vol
  FROM lineitem GROUP BY l_suppkey, l_partkey
), p AS (
  SELECT l_suppkey, vol / sum(vol) OVER (PARTITION BY l_suppkey) AS share
  FROM v
)
SELECT l_suppkey, round(-sum(share * ln(share)), 4) AS portfolio_entropy
FROM p WHERE share > 0
GROUP BY l_suppkey
""",
)
def entropy_store_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each store's product-volume distribution.

    The reference calls scipy.stats.entropy as a groupby-apply UDAF
    (/root/reference/src/features/aggregation_features_engine.py:194-198);
    here it is two pure aggregate steps — no Python anywhere, fully
    distributable (SURVEY §2.12 'rewrite in SQL')."""
    t = Catalog(spark, sf_dir)
    v = t.lineitem.groupBy("l_suppkey", "l_partkey").agg(F.sum("l_quantity").alias("vol"))
    w = W.partitionBy("l_suppkey")
    p = v.select("l_suppkey", (F.col("vol") / F.sum("vol").over(w)).alias("share"))
    return (
        p.filter(F.col("share") > 0)
        .groupBy("l_suppkey")
        .agg(r4(-F.sum(F.col("share") * F.log("share"))).alias("portfolio_entropy"))
    )


@register(
    "hhi_by_type",
    oracle="""
WITH b AS (
  SELECT p_type, p_brand, sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type, p_brand
), s AS (
  SELECT p_type, rev / sum(rev) OVER (PARTITION BY p_type) AS share FROM b
)
SELECT p_type, round(sum(share * share), 4) AS hhi
FROM s GROUP BY p_type
""",
)
def hhi_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl index of brand concentration within each part type
    (/root/reference/src/features/behavioral_features_engine.py:396-400) —
    same two-step share-then-sum-of-squares pattern as entropy."""
    t = Catalog(spark, sf_dir)
    b = (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_type", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type", "p_brand")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    w = W.partitionBy("p_type")
    s = b.select("p_type", (F.col("rev") / F.sum("rev").over(w)).alias("share"))
    return s.groupBy("p_type").agg(r4(F.sum(F.col("share") * F.col("share"))).alias("hhi"))


@register(
    "top5_share_per_store",
    oracle="""
WITH v AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS vol
  FROM lineitem GROUP BY l_suppkey, l_partkey
), r AS (
  SELECT l_suppkey, vol,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY round(vol, 4) DESC, l_partkey) AS rn
  FROM v
)
SELECT l_suppkey,
       round(sum(CASE WHEN rn <= 5 THEN vol ELSE 0 END) / sum(vol), 4) AS top5_share
FROM r GROUP BY l_suppkey
""",
)
def top5_share_per_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each store's volume carried by its top-5 products
    (/root/reference/src/features/aggregation_features_engine.py:233-236) —
    nlargest-groupby-apply rewritten as row_number + conditional sum."""
    t = Catalog(spark, sf_dir)
    v = t.lineitem.groupBy("l_suppkey", "l_partkey").agg(F.sum("l_quantity").alias("vol"))
    rn_w = W.partitionBy("l_suppkey").orderBy(r4("vol").desc(), F.col("l_partkey"))
    r = v.withColumn("rn", F.row_number().over(rn_w))
    return r.groupBy("l_suppkey").agg(
        r4(
            F.sum(F.when(F.col("rn") <= 5, F.col("vol")).otherwise(F.lit(0.0)))
            / F.sum("vol")
        ).alias("top5_share")
    )


@register(
    "mode_share_store",
    oracle="""
WITH c AS (
  SELECT l_suppkey, l_partkey, count(*) AS cnt
  FROM lineitem GROUP BY l_suppkey, l_partkey
)
SELECT l_suppkey,
       CAST(max(cnt) AS BIGINT) AS top_part_rows,
       CAST(sum(cnt) AS BIGINT) AS total_rows,
       round(max(cnt) * 1.0 / sum(cnt), 4) AS mode_share
FROM c GROUP BY l_suppkey
""",
)
def mode_share_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-focus / mode share: how dominant the most-frequent product is
    per store (/root/reference/src/features/aggregation_features_engine.py:241-243).
    Uses max-count over counts (tie-safe) rather than `mode()`."""
    t = Catalog(spark, sf_dir)
    c = t.lineitem.groupBy("l_suppkey", "l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    return c.groupBy("l_suppkey").agg(
        F.max("cnt").alias("top_part_rows"),
        F.sum("cnt").cast("long").alias("total_rows"),
        r4(F.max("cnt") * F.lit(1.0) / F.sum("cnt")).alias("mode_share"),
    )


@register(
    "zero_ratio_per_part",
    oracle="""
SELECT l_partkey,
       round(avg(CASE WHEN l_discount = 0 THEN 1.0 ELSE 0.0 END), 4) AS zero_disc_ratio,
       CAST(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       count(*) AS n_rows
FROM lineitem GROUP BY l_partkey
""",
)
def zero_ratio_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-flag ratio per key — the intermittency zero-demand-ratio pattern
    (/root/reference/src/features/behavioral_features_engine.py:71-88),
    expressed on l_discount=0 for this schema."""
    t = Catalog(spark, sf_dir)
    is_zero = F.when(F.col("l_discount") == 0, F.lit(1)).otherwise(F.lit(0))
    return t.lineitem.groupBy("l_partkey").agg(
        r4(F.avg(is_zero.cast("double"))).alias("zero_disc_ratio"),
        F.sum(is_zero).cast("long").alias("n_zero"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "weekday_profile",
    oracle="""
SELECT CAST(isodow(l_shipdate) AS INTEGER) AS dow,
       round(avg(l_quantity), 4) AS avg_qty,
       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
       round(stddev_samp(l_quantity), 4) AS std_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY 1
""",
)
def weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday demand profile (ISO dow both engines;
    /root/reference/generate_hackathon_final_perfect.py:146-149)."""
    t = Catalog(spark, sf_dir)
    return t.lineitem.groupBy(iso_dow("l_shipdate").alias("dow")).agg(
        r4(F.avg("l_quantity")).alias("avg_qty"),
        r4(F.percentile("l_quantity", F.lit(0.5))).alias("median_qty"),
        r4(F.stddev("l_quantity")).alias("std_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "monthly_store_volume",
    oracle="""
SELECT l_suppkey, CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem GROUP BY 1, 2
""",
)
def monthly_store_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly volume per store — trend input
    (/root/reference/src/features/aggregation_features_engine.py:209-213;
    pandas to_period('M') → month truncation).

    ``F.trunc`` (DATE out), not ``F.date_trunc`` (TIMESTAMP out): the
    timestamp variant renders month boundaries in the SESSION timezone, so
    a non-UTC driver session would shift every month key; the date variant
    is timezone-free and matches DuckDB's date-in/date-out behavior."""
    t = Catalog(spark, sf_dir)
    return t.lineitem.groupBy(
        "l_suppkey", F.trunc("l_shipdate", "month").alias("month")
    ).agg(
        r4(F.sum("l_quantity")).alias("sum_qty"),
        r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
    )


@register(
    "pivot_brand_by_status",
    oracle="""
SELECT p_brand,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 4) AS "O",
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 4) AS "F"
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def pivot_brand_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded pivot: brand × linestatus quantity matrix
    (/root/reference/src/models/cold_start_solutions.py:95-101).  Pivot
    values are declared explicitly — at scale an unbounded pivot is a
    schema explosion; SURVEY §7.4(6) mandates capping (or staying long)."""
    t = Catalog(spark, sf_dir)
    return (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
        .select("p_brand", r4(F.coalesce("O", F.lit(0.0))).alias("O"), r4(F.coalesce("F", F.lit(0.0))).alias("F"))
    )


@register(
    "basket_stats",
    oracle="""
SELECT l_orderkey,
       count(*) AS n_items,
       count(DISTINCT l_partkey) AS n_parts,
       round(sum(l_quantity), 4) AS basket_qty
FROM lineitem GROUP BY l_orderkey
""",
)
def basket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket size/qty per order — the collect-list basket analysis reduced
    to its aggregable stats
    (/root/reference/src/features/behavioral_features_engine.py:454-456,511-517)."""
    t = Catalog(spark, sf_dir)
    return t.lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("l_partkey").alias("n_parts"),
        r4(F.sum("l_quantity")).alias("basket_qty"),
    )


@register(
    "corr_price_quantity",
    oracle="""
SELECT p_brand,
       round(corr(l_extendedprice / l_quantity, l_quantity), 4) AS price_qty_corr,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_quantity > 0
GROUP BY p_brand
""",
)
def corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-elasticity proxy: per-brand Pearson corr(unit price, quantity)
    (/root/reference/src/features/business_features_engine.py:516-528)."""
    t = Catalog(spark, sf_dir)
    c = F.corr(F.col("l_extendedprice") / F.col("l_quantity"), F.col("l_quantity"))
    return (
        t.lineitem.filter(F.col("l_quantity") > 0)
        .join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(r4(c)).alias("price_qty_corr"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "rollup_type_brand",
    oracle="""
SELECT coalesce(p_type, 'ALL') AS part_type,
       coalesce(p_brand, 'ALL') AS brand,
       CAST(grouping(p_type) * 2 + grouping(p_brand) AS INTEGER) AS gid,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY ROLLUP (p_type, p_brand)
""",
)
def rollup_type_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (type, brand) — one shuffle replacing the reference's
    manual per-level hierarchy aggregation loop
    (/root/reference/src/features/aggregation_features_engine.py:415-472)."""
    t = Catalog(spark, sf_dir)
    df = t.lineitem.join(
        F.broadcast(t.part.select("p_partkey", "p_type", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return (
        df.rollup("p_type", "p_brand")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("p_type", F.lit("ALL")).alias("part_type"),
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            "gid",
            "revenue",
            "n_rows",
        )
    )


@register(
    "cube_flag_status",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) AS gid,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all 2^2 grouping sets in one pass
    (SURVEY §2.4 grouping-sets row)."""
    t = Catalog(spark, sf_dir)
    return (
        t.lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            r4(F.sum("l_quantity")).alias("sum_qty"),
            r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "sum_qty",
            "revenue",
            "n_rows",
        )
    )


@register(
    "global_describe",
    oracle="""
SELECT round(avg(l_quantity), 4) AS mean_qty,
       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
       round(stddev_samp(l_quantity), 4) AS std_qty,
       round(quantile_cont(l_quantity, 0.25), 4) AS q25,
       round(quantile_cont(l_quantity, 0.75), 4) AS q75,
       round(quantile_cont(l_quantity, 0.95), 4) AS q95,
       round(stddev_samp(l_quantity) / avg(l_quantity), 4) AS cv,
       count(*) AS n_rows
FROM lineitem
""",
)
def global_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table describe (mean/median/std/quantiles/CV,
    /root/reference/generate_hackathon_final_perfect.py:132-141)."""
    t = Catalog(spark, sf_dir)
    return t.lineitem.agg(
        r4(F.avg("l_quantity")).alias("mean_qty"),
        r4(F.percentile("l_quantity", F.lit(0.5))).alias("median_qty"),
        r4(F.stddev("l_quantity")).alias("std_qty"),
        r4(F.percentile("l_quantity", F.lit(0.25))).alias("q25"),
        r4(F.percentile("l_quantity", F.lit(0.75))).alias("q75"),
        r4(F.percentile("l_quantity", F.lit(0.95))).alias("q95"),
        r4(F.stddev("l_quantity") / F.avg("l_quantity")).alias("cv"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "customer_proxy_daily",
    oracle="""
SELECT l_suppkey, l_shipdate AS day,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       round(sum(l_quantity), 4) AS sum_qty,
       count(DISTINCT l_partkey) AS n_parts,
       round(round(sum(l_extendedprice * (1 - l_discount)), 4) / count(*), 4) AS avg_txn_value
FROM lineitem GROUP BY 1, 2
""",
)
def customer_proxy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (store, day) customer-proxy aggregate
    (/root/reference/src/features/business_features_engine.py:500-512)."""
    t = Catalog(spark, sf_dir)
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    # avg is derived from the ROUNDED revenue so both engines divide the
    # identical double (a raw sum/2 can land exactly on a .00005 rounding
    # boundary and flip under float reassociation).
    return t.lineitem.groupBy("l_suppkey", F.col("l_shipdate").alias("day")).agg(
        r4(rev).alias("revenue"),
        r4(F.sum("l_quantity")).alias("sum_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
        r4(r4(rev) / F.count(F.lit(1))).alias("avg_txn_value"),
    )


@register(
    "agg_salted_skew",
    oracle="""
SELECT l_partkey,
       round(sum(l_quantity), 4) AS sum_value,
       count(l_quantity) AS count_value,
       round(min(l_quantity), 4) AS min_value,
       round(max(l_quantity), 4) AS max_value
FROM lineitem GROUP BY l_partkey
""",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys
    (hackatonbigdata_spark.functions.scale.salted_agg): phase 1 groups by
    (key, random salt) so a hot key's rows spread across reducers, phase 2
    merges the algebraic partials.  The result is EXACTLY a plain groupBy —
    which is what the oracle states — but the first shuffle is uniform even
    when 5% of keys carry 80% of rows
    (/root/reference/src/features/aggregation_features_engine.py:7-10)."""
    from hackatonbigdata_spark.functions.core import r4
    from hackatonbigdata_spark.functions.scale import salted_agg

    t = Catalog(spark, sf_dir)
    out = salted_agg(
        t.lineitem, ["l_partkey"], "l_quantity", ["sum", "count", "min", "max"]
    )
    return out.select(
        "l_partkey",
        r4("sum_value").alias("sum_value"),
        F.col("count_value").alias("count_value"),
        r4("min_value").alias("min_value"),
        r4("max_value").alias("max_value"),
    )


@register("agg_approx_sketches")
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB approx substitutions, exercised for real:
    ``approx_count_distinct`` (HyperLogLog++) and ``percentile_approx``
    (KLL-style quantile sketch) per brand next to their exact twins, with
    relative-error columns (SURVEY §7.4.3 names these as the exact->approx
    switch points; the exact forms stay the oracle-parity path).

    Rows-only by design: sketch outputs are implementation-specific, so
    there is no cross-engine oracle — tests/test_scale.py pins the relative
    error bounds instead.  Scale: sketches are mergeable, map-side partial
    aggregates; the exact twins here are the test harness, not the plan.

    The distinct counts and the percentile sketches are computed in
    SEPARATE aggregations joined on the 25-row brand key: mixing a DISTINCT
    aggregate with object-buffer aggregates in one ``agg`` makes Catalyst's
    distinct-rewrite carry the percentile buffers through the per-(brand,
    orderkey) pre-aggregation — measured 27 s vs 2.5 s split at sf0.1."""
    t = Catalog(spark, sf_dir)
    j = t.lineitem.join(
        F.broadcast(t.part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    counts = j.groupBy("p_brand").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
    )
    pcts = j.groupBy("p_brand").agg(
        r4(F.percentile("l_extendedprice", F.lit(0.5))).alias("exact_p50"),
        r4(F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000))).alias(
            "approx_p50"
        ),
    )
    agg = counts.join(F.broadcast(pcts), "p_brand")
    return agg.select(
        "p_brand",
        "exact_orders",
        "approx_orders",
        r4(
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            / F.col("exact_orders")
        ).alias("orders_rel_err"),
        "exact_p50",
        "approx_p50",
        r4(
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            / F.nullif(F.col("exact_p50"), F.lit(0.0))
        ).alias("p50_rel_err"),
    )


@register("agg_sketches_only")
def agg_sketches_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION sketch path: HyperLogLog++ distinct orders and KLL
    median price per brand with NO exact twins — the query a 100 TB job
    actually runs (``agg_approx_sketches`` keeps the exact columns as an
    in-query audit harness; at scale those exact twins ARE the cost — the
    countDistinct shuffle and full-percentile sort dominate, 3.1 s of its
    3.1 s at sf0.1).  Error bounds vs the exact values stay pinned by
    tests/test_scale.py against the audit query.

    Scale: both sketches are mergeable map-side partial aggregates — one
    combine-enabled shuffle of 25 sketch buffers, no distinct expansion, no
    sort.  Rows-only (sketch outputs are implementation-specific)."""
    t = Catalog(spark, sf_dir)
    j = t.lineitem.join(
        F.broadcast(t.part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return j.groupBy("p_brand").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        r4(F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000))).alias(
            "approx_p50"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "unpivot_store_metrics",
    oracle="""
WITH wide AS (
  SELECT l_suppkey,
         floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS qty_mean,
         floor(coalesce(stddev_samp(l_quantity), 0) * 10000 + 0.5) / 10000 AS qty_std,
         floor(min(l_quantity) * 10000 + 0.5) / 10000 AS qty_min,
         floor(max(l_quantity) * 10000 + 0.5) / 10000 AS qty_max
  FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, metric, value FROM wide
UNPIVOT (value FOR metric IN (qty_mean, qty_std, qty_min, qty_max))
""",
)
def unpivot_store_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (pd.melt): the per-store metric block folded from wide to
    long (store, metric, value) — the inverse of the bounded pivot
    (SURVEY §2.4; the reference melts feature frames for its reporting,
    e.g. /root/reference/src/features/feature_pipeline.py summary exports).

    Spark: native ``DataFrame.unpivot`` (Tungsten ``Expand`` — one pass, no
    shuffle beyond the aggregate); oracle: DuckDB UNPIVOT."""
    t = Catalog(spark, sf_dir)
    q4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000.0  # noqa: E731
    wide = t.lineitem.groupBy("l_suppkey").agg(
        q4(F.avg("l_quantity")).alias("qty_mean"),
        q4(F.coalesce(F.stddev("l_quantity"), F.lit(0.0))).alias("qty_std"),
        q4(F.min("l_quantity")).alias("qty_min"),
        q4(F.max("l_quantity")).alias("qty_max"),
    )
    return wide.unpivot(
        ids=["l_suppkey"],
        values=["qty_mean", "qty_std", "qty_min", "qty_max"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "diag_skew_heavy_hitters",
    oracle="""
WITH counts AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS total_rows,
         CAST(max(cnt) AS BIGINT) AS max_cnt,
         round(avg(cnt), 4) AS mean_cnt,
         round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
         round(quantile_cont(cnt, 0.99), 4) AS p99_cnt
  FROM counts
), top AS (
  SELECT l_partkey, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, l_partkey) AS BIGINT) AS hh_rank
  FROM counts
)
SELECT t.hh_rank, t.l_partkey, t.cnt,
       round(t.cnt * 1.0 / s.total_rows, 4) AS share_of_rows,
       round(t.cnt / s.mean_cnt, 4) AS x_mean,
       s.n_keys, s.total_rows, s.max_cnt, s.mean_cnt, s.p50_cnt, s.p99_cnt,
       round(s.max_cnt / s.mean_cnt, 4) AS skew_ratio,
       round(s.p99_cnt / s.p50_cnt, 4) AS p99_over_p50
FROM top t, stats s
WHERE t.hh_rank <= 5
""",
)
def diag_skew_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic: per-key row counts on the fact table's
    join key, the distribution summary (mean/p50/p99/max), the top-5 heavy
    hitters with their share, and the skew ratios that decide whether a
    shuffle needs salting or AQE skew-join handling — the measurement step
    behind the engine's documented salting demo (``agg_salted_skew_demo``)
    and the reference's pre-merge cardinality checks
    (/root/reference/src/utils/memory_optimizer.py: chunked-merge guards).

    Scale: the per-key count is one map-side-combined aggregate; the summary
    reduces that to ONE row (broadcast back for the ratio columns), and the
    top-5 is orderBy+limit — TakeOrdered's per-partition top-k + k-row
    merge, NEVER a global window over the key dimension (billions of parts
    at 100 TB); the rank window below runs over the already-limited 5 rows.
    At 100 TB swap the exact percentiles for percentile_approx."""
    t = Catalog(spark, sf_dir)
    counts = t.lineitem.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    stats = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        r4(F.avg("cnt")).alias("mean_cnt"),
        r4(F.percentile("cnt", F.lit(0.5))).alias("p50_cnt"),
        r4(F.percentile("cnt", F.lit(0.99))).alias("p99_cnt"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), "l_partkey")
        .limit(5)
        .withColumn(
            "hh_rank",
            F.row_number()
            .over(W.orderBy(F.col("cnt").desc(), "l_partkey"))
            .cast("long"),
        )
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "hh_rank",
        "l_partkey",
        "cnt",
        r4(F.col("cnt") * 1.0 / F.col("total_rows")).alias("share_of_rows"),
        r4(F.col("cnt") / F.col("mean_cnt")).alias("x_mean"),
        "n_keys",
        "total_rows",
        "max_cnt",
        "mean_cnt",
        "p50_cnt",
        "p99_cnt",
        r4(F.col("max_cnt") / F.col("mean_cnt")).alias("skew_ratio"),
        r4(F.col("p99_cnt") / F.col("p50_cnt")).alias("p99_over_p50"),
    )


@register(
    "grouping_sets_custom",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(CAST(CAST(year(l_shipdate) AS INTEGER) AS VARCHAR), 'ALL') AS yr,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) * 4 + grouping(year(l_shipdate)) * 2
            + grouping(l_linestatus) AS INTEGER) AS gid,
       round(sum(l_quantity), 4) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, year(l_shipdate)),
                        (l_returnflag, l_linestatus),
                        (year(l_shipdate)),
                        ())
""",
)
def grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form ROLLUP/CUBE specialize:
    exactly the four grains an analyst needs ((flag, year), (flag, status),
    (year), grand total) in ONE shuffle, instead of the CUBE's 2^n
    superset or the reference's one-groupby-per-grain loop
    (/root/reference/src/features/aggregation_features_engine.py:415-472).
    Completes the §2.4 lattice family next to ``rollup_type_brand`` /
    ``cube_flag_status``.

    Scale: Spark expands grouping sets map-side (each input row feeds its
    member grains) and aggregates once — at 100 TB picking 4 grains
    instead of a cube's 8 halves the shuffle volume."""
    t = Catalog(spark, sf_dir)
    df = t.lineitem.select(
        "l_returnflag",
        F.year("l_shipdate").cast("int").alias("_yr"),
        "l_linestatus",
        "l_quantity",
    )
    df.createOrReplaceTempView("_gs_lineitem")
    out = spark.sql(
        """
        SELECT l_returnflag, _yr, l_linestatus,
               CAST(grouping(l_returnflag) * 4 + grouping(_yr) * 2
                    + grouping(l_linestatus) AS INT) AS gid,
               round(sum(l_quantity), 4) AS sum_qty,
               count(*) AS n_rows
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, _yr), (l_returnflag, l_linestatus),
                                (_yr), ())
        """
    )
    return out.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce(F.col("_yr").cast("string"), F.lit("ALL")).alias("yr"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "gid",
        "sum_qty",
        "n_rows",
    )


@register(
    "ab_test_welch",
    oracle="""
WITH v AS (
  SELECT event_type, user_id % 2 AS variant,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
  FROM events
), s AS (
  SELECT event_type, variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v4) AS BIGINT) AS s1,
         CAST(sum(CAST(v4 AS HUGEINT) * v4) AS DOUBLE) AS s2
  FROM v GROUP BY 1, 2
), w AS (
  SELECT a.event_type,
         a.n AS n_a, b.n AS n_b,
         a.s1 * 1.0 / (a.n * 10000.0) AS mean_a,
         b.s1 * 1.0 / (b.n * 10000.0) AS mean_b,
         (a.s2 - a.s1 * 1.0 * a.s1 / a.n) / (a.n - 1) / 100000000.0 AS var_a,
         (b.s2 - b.s1 * 1.0 * b.s1 / b.n) / (b.n - 1) / 100000000.0 AS var_b
  FROM s a JOIN s b ON a.event_type = b.event_type
  WHERE a.variant = 0 AND b.variant = 1
)
SELECT event_type, n_a, n_b,
       round(mean_a, 4) AS mean_a,
       round(mean_b, 4) AS mean_b,
       round(mean_b - mean_a, 4) AS mean_diff,
       round((mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b), 4)
         AS welch_t,
       abs((mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b)) > 1.96
         AS significant_95
FROM w
""",
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with the Welch t statistic, exact: users are
    deterministically bucketed into two variants (user_id parity — the
    hash-bucket assignment every experimentation platform uses), and per
    event type the mean difference and Welch t are computed from INTEGER
    sufficient statistics (values quantized to 1e-4 before Σv, Σv²; Σv is
    a BIGINT sum and Σv² accumulates in decimal(38,0) / HUGEINT — both
    exact integer sums, order-free, converted to DOUBLE at the same
    expression point in both engines; sqrt is IEEE correctly-rounded, so
    the final statistic is bit-identical cross-engine through the regime
    where a plain BIGINT Σv² would overflow).  The reference computes its
    comparison statistics in scipy on collected arrays
    (/root/reference/src/evaluation/error_analysis.py:611-750); the
    decision threshold (|t| > 1.96) matches its 5% two-sided convention.

    Scale: one keyed aggregate to (type, variant) sufficient stats — the
    whole experiment readout is a handful of rows regardless of traffic;
    adding covariate adjustment (CUPED) is one more moment column."""
    t = Catalog(spark, sf_dir)
    v = t.events.select(
        "event_type",
        (F.col("user_id") % 2).alias("variant"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v4"),
    )
    s = v.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v4").alias("s1"),
        # one factor to decimal BEFORE the multiply (v4^2 ~1e14/row nears
        # Long.MAX within ~1e4 rows per group at large SF); decimal(38,0)
        # sum then one double conversion — the oracle mirrors with a
        # HUGEINT product/sum cast to DOUBLE at the identical point, so
        # both engines stay exact through the same overflow regime
        F.sum(
            (F.col("v4").cast("decimal(19,0)") * F.col("v4")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("s2"),
    )
    a = s.filter(F.col("variant") == 0).alias("a")
    b = s.filter(F.col("variant") == 1).alias("b")
    j = a.join(b, F.col("a.event_type") == F.col("b.event_type"))
    mean_a = F.col("a.s1") * F.lit(1.0) / (F.col("a.n") * F.lit(10000.0))
    mean_b = F.col("b.s1") * F.lit(1.0) / (F.col("b.n") * F.lit(10000.0))
    var_a = (
        (F.col("a.s2") - F.col("a.s1") * F.lit(1.0) * F.col("a.s1") / F.col("a.n"))
        / (F.col("a.n") - 1)
        / F.lit(100000000.0)
    )
    var_b = (
        (F.col("b.s2") - F.col("b.s1") * F.lit(1.0) * F.col("b.s1") / F.col("b.n"))
        / (F.col("b.n") - 1)
        / F.lit(100000000.0)
    )
    tstat = (mean_b - mean_a) / F.sqrt(var_a / F.col("a.n") + var_b / F.col("b.n"))
    return j.select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        r4(mean_a).alias("mean_a"),
        r4(mean_b).alias("mean_b"),
        r4(mean_b - mean_a).alias("mean_diff"),
        r4(tstat).alias("welch_t"),
        (F.abs(tstat) > F.lit(1.96)).alias("significant_95"),
    )


@register(
    "corr_spearman_store",
    oracle="""
WITH r AS (
  SELECT l_suppkey,
         2 * rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity)
           + count(*) OVER (PARTITION BY l_suppkey, l_quantity) - 1 AS rx,
         2 * rank() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice)
           + count(*) OVER (PARTITION BY l_suppkey, l_extendedprice) - 1 AS ry
  FROM lineitem
), m AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx,
         CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx * rx) AS BIGINT) AS sxx,
         CAST(sum(ry * ry) AS BIGINT) AS syy,
         CAST(sum(rx * ry) AS BIGINT) AS sxy
  FROM r GROUP BY 1
)
SELECT l_suppkey, n,
       round((n * sxy - sx * sy)
             / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0), 4)
         AS spearman_qty_price
FROM m
""",
)
def corr_spearman_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-store Spearman rank correlation (quantity vs line price),
    tie-aware and EXACT: average ranks are kept integral by doubling
    (2·min_rank + tie_count − 1), so all five co-moments are BIGINT sums
    and the statistic is a ratio of integers under two correctly-rounded
    sqrts — bit-identical cross-engine, no pandas `.corr(method=
    'spearman')` driver pass (the reference's correlation features are all
    Pearson-on-raw, /root/reference/src/features/feature_pipeline.py:
    283-360; Spearman is the robust companion for skewed demand data).

    Scale: the rank windows partition by store (and tie-groups within),
    then one keyed aggregate.  Integer moments hold to ~10⁶ rows per
    group (4n³ < 2⁶³); beyond that, switch the moment columns to DOUBLE —
    the estimator keeps ~15 significant digits either way."""
    t = Catalog(spark, sf_dir)
    wq = W.partitionBy("l_suppkey").orderBy("l_quantity")
    wp = W.partitionBy("l_suppkey").orderBy("l_extendedprice")
    tq = W.partitionBy("l_suppkey", "l_quantity")
    tp = W.partitionBy("l_suppkey", "l_extendedprice")
    r = t.lineitem.select(
        "l_suppkey",
        (2 * F.rank().over(wq) + F.count(F.lit(1)).over(tq) - 1)
        .cast("long")
        .alias("rx"),
        (2 * F.rank().over(wp) + F.count(F.lit(1)).over(tp) - 1)
        .cast("long")
        .alias("ry"),
    )
    m = r.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        "l_suppkey",
        "n",
        r4(num / F.nullif(den, F.lit(0.0))).alias("spearman_qty_price"),
    )


@register(
    "price_elasticity_brand",
    oracle="""
WITH b AS (
  SELECT coalesce(p_brand, 'Unknown') AS brand,
         CAST(floor(log2(l_extendedprice / l_quantity) * 10000 + 0.5) AS BIGINT)
           AS xq,
         CAST(floor(log2(l_quantity) * 10000 + 0.5) AS BIGINT) AS yq
  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
  WHERE l_quantity > 0 AND l_extendedprice > 0
), m AS (
  SELECT brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xq) AS BIGINT) AS sx,
         CAST(sum(yq) AS BIGINT) AS sy,
         CAST(sum(xq * xq) AS BIGINT) AS sxx,
         CAST(sum(xq * yq) AS BIGINT) AS sxy
  FROM b GROUP BY 1
)
SELECT brand, n,
       round((n * sxy - sx * sy) * 1.0 / nullif(n * sxx - sx * sx, 0), 4)
         AS elasticity,
       round(sx / (n * 10000.0), 4) AS mean_log2_price,
       round(sy / (n * 10000.0), 4) AS mean_log2_qty
FROM m
""",
)
def price_elasticity_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per brand: the OLS slope of
    log(quantity) on log(unit price), the econometric standard behind the
    reference's price-tier business features
    (/root/reference/src/features/business_features_engine.py:240-330) —
    computed distributed and EXACTLY: both logs are quantized to BIGINT
    1e-4 units first (the ``text_unigram_logprob`` discipline), so the
    five OLS co-moments are order-free integer sums and the slope is a
    ratio of integers; the 1e4 scaling cancels between numerator and
    denominator, leaving the dimensionless elasticity.

    Scale: one broadcast dim join + one keyed aggregate.  Integer moments
    hold to ~10⁷ rows per brand (xq² ≈ 2×10¹⁰); beyond that switch the
    moment columns to DOUBLE."""
    t = Catalog(spark, sf_dir)
    b = (
        t.lineitem.join(
            F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey"), "left"
        )
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select(
            F.coalesce(F.col("p_brand"), F.lit("Unknown")).alias("brand"),
            F.floor(
                F.log2(F.col("l_extendedprice") / F.col("l_quantity"))
                * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("xq"),
            F.floor(F.log2(F.col("l_quantity")) * 10000 + F.lit(0.5))
            .cast("long")
            .alias("yq"),
        )
    )
    m = b.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
    )
    return m.select(
        "brand",
        "n",
        r4(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * F.lit(1.0)
            / F.nullif(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
            )
        ).alias("elasticity"),
        r4(F.col("sx") / (F.col("n") * F.lit(10000.0))).alias("mean_log2_price"),
        r4(F.col("sy") / (F.col("n") * F.lit(10000.0))).alias("mean_log2_qty"),
    )


@register(
    "ab_test_ks",
    oracle="""
WITH v AS (
  SELECT event_type, user_id % 2 AS variant,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v2
  FROM events
), c AS (
  SELECT event_type, v2,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM v GROUP BY 1, 2
), cum AS (
  SELECT event_type,
         sum(c0) OVER w AS f0, sum(c1) OVER w AS f1,
         sum(c0) OVER (PARTITION BY event_type) AS n0,
         sum(c1) OVER (PARTITION BY event_type) AS n1
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY v2 ROWS UNBOUNDED PRECEDING)
)
SELECT event_type,
       CAST(max(n0) AS BIGINT) AS n_a,
       CAST(max(n1) AS BIGINT) AS n_b,
       round(max(abs(f0 * 1.0 / n0 - f1 * 1.0 / n1)), 4) AS ks_stat,
       max(abs(f0 * 1.0 / n0 - f1 * 1.0 / n1))
         > 1.3581 * sqrt((max(n0) + max(n1)) * 1.0 / (max(n0) * max(n1)))
         AS significant_95
FROM cum GROUP BY 1
""",
)
def ab_test_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distribution comparison per event
    type: the nonparametric companion to ``ab_test_welch`` — detects
    variance/shape shifts a mean test misses (the reference's
    ``distribution_shift`` drift method,
    /root/reference/src/evaluation/model_diagnostics.py:180-230, is this
    statistic's histogram cousin).  KS = max |F̂₀ − F̂₁| over the pooled
    support; the 95% line is the classic c(α)·√((n₀+n₁)/(n₀n₁)) with
    c(0.05)=1.3581.

    Exactness: values quantize to a 1e-2 grid first, so the support is a
    bounded per-type set, cumulative counts are exact integer window sums,
    and every CDF value divides identical BIGINTs.

    Scale: the cumulative window partitions by event TYPE over the
    quantized support (bounded by the grid, not the row count) — the
    standard trick that makes exact KS distributed; a finer grid trades
    support size for resolution."""
    t = Catalog(spark, sf_dir)
    v = t.events.select(
        "event_type",
        (F.col("user_id") % 2).alias("variant"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v2"),
    )
    c = v.groupBy("event_type", "v2").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("c1"),
    )
    wcum = (
        W.partitionBy("event_type").orderBy("v2").rowsBetween(W.unboundedPreceding, 0)
    )
    wall = W.partitionBy("event_type")
    cum = c.select(
        "event_type",
        F.sum("c0").over(wcum).alias("f0"),
        F.sum("c1").over(wcum).alias("f1"),
        F.sum("c0").over(wall).alias("n0"),
        F.sum("c1").over(wall).alias("n1"),
    )
    d = F.abs(F.col("f0") * F.lit(1.0) / F.col("n0") - F.col("f1") * F.lit(1.0) / F.col("n1"))
    return cum.groupBy("event_type").agg(
        F.max("n0").cast("long").alias("n_a"),
        F.max("n1").cast("long").alias("n_b"),
        r4(F.max(d)).alias("ks_stat"),
        (
            F.max(d)
            > F.lit(1.3581)
            * F.sqrt(
                (F.max("n0") + F.max("n1")) * F.lit(1.0) / (F.max("n0") * F.max("n1"))
            )
        ).alias("significant_95"),
    )


@register(
    "audit_benford_digits",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM orders WHERE o_totalprice >= 1
), c AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
), g AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
SELECT digit, n,
       round(n * 1.0 / g.total, 4) AS observed_share,
       round(log2(1.0 + 1.0 / digit) / log2(10.0), 4) AS benford_share,
       round(abs(n * 1.0 / g.total - log2(1.0 + 1.0 / digit) / log2(10.0)), 4)
         AS abs_dev
FROM c CROSS JOIN g
""",
)
def audit_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals: observed leading-
    digit shares vs the log10(1+1/d) expectation — the fraud/data-entry
    screen auditors run on financial columns, extending the engine's
    data-quality family (``data_quality_profile``; the reference validates
    ranges and nulls, /root/reference/src/data/validators.py:211-320, but
    has no distributional audit).  Digits come from the integer part
    (values ≥ 1), so extraction is exact; Benford expectation is written
    as log2 ratios (the engine's proven cross-engine log).

    Scale: one narrow map + a 9-group aggregate."""
    t = Catalog(spark, sf_dir)
    d = t.orders.filter(F.col("o_totalprice") >= 1).select(
        # explicit floor: DuckDB's double->BIGINT cast rounds to nearest
        # while Spark's truncates — floor first so both engines agree
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    g = c.agg(F.sum("n").cast("long").alias("total"))
    benford = F.log2(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log2(F.lit(10.0))
    return c.crossJoin(F.broadcast(g)).select(
        "digit",
        "n",
        r4(F.col("n") * F.lit(1.0) / F.col("total")).alias("observed_share"),
        r4(benford).alias("benford_share"),
        r4(F.abs(F.col("n") * F.lit(1.0) / F.col("total") - benford)).alias(
            "abs_dev"
        ),
    )


@register(
    "ab_test_cuped",
    oracle="""
WITH cut AS (SELECT TIMESTAMP '1995-06-15 00:00:00' AS c),
u AS (
  SELECT user_id, user_id % 2 AS variant,
         CAST(sum(CASE WHEN ts < cut.c
                       THEN CAST(floor(value * 10000 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x4,
         CAST(sum(CASE WHEN ts >= cut.c
                       THEN CAST(floor(value * 10000 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y4
  FROM events CROSS JOIN cut
  GROUP BY 1, 2
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x4) AS BIGINT) AS sx, CAST(sum(y4) AS BIGINT) AS sy,
         CAST(sum(x4 * x4) AS BIGINT) AS sxx,
         CAST(sum(x4 * y4) AS BIGINT) AS sxy
  FROM u
), th AS (
  SELECT (n * sxy - sx * sy) * 1.0 / nullif(n * sxx - sx * sx, 0) AS theta,
         sx * 1.0 / n AS mean_x
  FROM m
), adj AS (
  SELECT u.variant,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(u.y4) AS BIGINT) * 1.0 / (count(*) * 10000.0) AS mean_y,
         sum((u.y4 - th.theta * (u.x4 - th.mean_x)) / 10000.0) / count(*)
           AS mean_y_adj,
         var_samp(u.y4 / 10000.0) AS var_y,
         var_samp((u.y4 - th.theta * (u.x4 - th.mean_x)) / 10000.0)
           AS var_y_adj
  FROM u CROSS JOIN th
  GROUP BY 1
)
SELECT CAST(variant AS BIGINT) AS variant, n_users,
       round(mean_y, 4) AS mean_post,
       round(mean_y_adj, 4) AS mean_post_cuped,
       round(var_y, 4) AS var_post,
       round(var_y_adj, 4) AS var_post_cuped,
       round(1.0 - var_y_adj / nullif(var_y, 0), 4) AS variance_reduction
FROM adj
""",
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: each user's
    pre-period value total is the control covariate; θ = cov(X,Y)/var(X)
    from integer sufficient statistics, and the adjusted post-period
    metric Y − θ(X − X̄) shrinks variance by the squared pre/post
    correlation — the standard experimentation-platform technique the
    plain ``ab_test_welch`` docstring promises.  The reference has no
    experimentation module; this extends its error-analysis statistics
    (/root/reference/src/evaluation/error_analysis.py:611-750) to the
    experiment-readout setting.

    Exactness: per-user pre/post totals are integer 1e-4 sums; θ is a
    ratio of BIGINT co-moments; per-user adjusted values are identical
    doubles in both engines, and var_samp over identical doubles keyed by
    variant agrees after 4dp rounding (the variance is O(1) per group, so
    engine-order ulp drift sits far below the rounding grid).

    Scale: one user-keyed aggregate (fact-scale), one broadcast scalar θ
    row, one 2-group aggregate — CUPED costs ONE extra pass over the
    per-user table regardless of traffic."""
    t = Catalog(spark, sf_dir)
    cut = F.lit("1995-06-15 00:00:00").cast("timestamp")
    v4 = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    u = t.events.groupBy(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.sum(F.when(F.col("ts") < cut, v4).otherwise(F.lit(0))).alias("x4"),
        F.sum(F.when(F.col("ts") >= cut, v4).otherwise(F.lit(0))).alias("y4"),
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x4").alias("sx"),
        F.sum("y4").alias("sy"),
        F.sum(F.col("x4") * F.col("x4")).alias("sxx"),
        F.sum(F.col("x4") * F.col("y4")).alias("sxy"),
    )
    th = m.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * F.lit(1.0)
            / F.nullif(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
            )
        ).alias("theta"),
        (F.col("sx") * F.lit(1.0) / F.col("n")).alias("mean_x"),
    )
    yadj = (F.col("y4") - F.col("theta") * (F.col("x4") - F.col("mean_x"))) / F.lit(
        10000.0
    )
    yraw = F.col("y4") / F.lit(10000.0)
    adj = u.crossJoin(F.broadcast(th)).groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        # exact: BIGINT sum(y4) then one division — order-free, unlike a
        # double sum of y4/1e4 whose accumulation order could flip the 4dp
        # rounding at a half boundary
        (
            F.sum("y4").cast("long")
            * F.lit(1.0)
            / (F.count(F.lit(1)) * F.lit(10000.0))
        ).alias("mean_y"),
        (F.sum(yadj) / F.count(F.lit(1))).alias("mean_y_adj"),
        F.var_samp(yraw).alias("var_y"),
        F.var_samp(yadj).alias("var_y_adj"),
    )
    return adj.select(
        F.col("variant").cast("long").alias("variant"),
        "n_users",
        r4(F.col("mean_y")).alias("mean_post"),
        r4(F.col("mean_y_adj")).alias("mean_post_cuped"),
        r4(F.col("var_y")).alias("var_post"),
        r4(F.col("var_y_adj")).alias("var_post_cuped"),
        r4(
            F.lit(1.0) - F.col("var_y_adj") / F.nullif(F.col("var_y"), F.lit(0.0))
        ).alias("variance_reduction"),
    )


@register(
    "concentration_gini_brand",
    oracle="""
WITH pr AS (
  SELECT coalesce(p_brand, 'Unknown') AS brand, l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                       AS BIGINT)) AS BIGINT) AS rev_c
  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), rk AS (
  SELECT brand, rev_c,
         CAST(row_number() OVER (PARTITION BY brand
                                 ORDER BY rev_c, l_partkey) AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY brand) AS BIGINT) AS n
  FROM pr
), g AS (
  SELECT brand,
         CAST(max(n) AS BIGINT) AS n_parts,
         CAST(sum(i * rev_c) AS BIGINT) AS swr,
         CAST(sum(rev_c) AS BIGINT) AS sr
  FROM rk GROUP BY 1
)
SELECT brand, n_parts,
       round(sr / 100.0, 4) AS total_revenue,
       round((2.0 * swr) / (n_parts * 1.0 * sr) - (n_parts + 1.0) / n_parts, 4)
         AS gini
FROM g WHERE sr > 0
""",
)
def concentration_gini_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini per brand: how unequally a brand's
    revenue spreads across its parts — the inequality companion to the
    engine's HHI (``agg_hhi_concentration``) and top-5-share measures,
    directly quantifying the "5.3% of products carry 79.9% of volume"
    skew the reference's EDA reports
    (/root/reference/src/features/aggregation_features_engine.py:7-10).
    Computed with the exact rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    over ascending-sorted part revenues.

    Exactness: revenues quantize to integer cents at the row level, so
    ranks, the Σ(i·xᵢ) co-moment, and totals are all BIGINT — the Gini is
    a ratio of integers, bit-identical cross-engine (deterministic rank
    tie-break on part key).

    Scale: the rank window partitions by brand over the PART dimension
    (bounded), after a fact-scale keyed aggregate to (brand, part) —
    standard pre-aggregate-then-window."""
    t = Catalog(spark, sf_dir)
    pr = (
        t.lineitem.join(
            F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey"), "left"
        )
        .groupBy(
            F.coalesce(F.col("p_brand"), F.lit("Unknown")).alias("brand"),
            "l_partkey",
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    + F.lit(0.5)
                ).cast("long")
            ).alias("rev_c")
        )
    )
    wrk = W.partitionBy("brand").orderBy("rev_c", "l_partkey")
    wall = W.partitionBy("brand")
    rk = pr.select(
        "brand",
        "rev_c",
        F.row_number().over(wrk).cast("long").alias("i"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    g = rk.groupBy("brand").agg(
        F.max("n").cast("long").alias("n_parts"),
        F.sum(F.col("i") * F.col("rev_c")).alias("swr"),
        F.sum("rev_c").alias("sr"),
    )
    return g.filter(F.col("sr") > 0).select(
        "brand",
        "n_parts",
        r4(F.col("sr") / F.lit(100.0)).alias("total_revenue"),
        r4(
            (F.lit(2.0) * F.col("swr")) / (F.col("n_parts") * F.lit(1.0) * F.col("sr"))
            - (F.col("n_parts") + F.lit(1.0)) / F.col("n_parts")
        ).alias("gini"),
    )


@register(
    "ab_test_mannwhitney",
    oracle="""
WITH v AS (
  SELECT event_type, user_id % 2 AS variant,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v2
  FROM events
), r AS (
  SELECT event_type, variant,
         2 * rank() OVER (PARTITION BY event_type ORDER BY v2)
           + count(*) OVER (PARTITION BY event_type, v2) - 1 AS r2
  FROM v
), ties AS (
  SELECT event_type, CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM (SELECT event_type, v2, CAST(count(*) AS BIGINT) AS t
        FROM v GROUP BY 1, 2)
  GROUP BY 1
), s AS (
  SELECT event_type,
         CAST(sum(CASE WHEN variant = 0 THEN r2 ELSE 0 END) AS BIGINT) AS ra2,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM r GROUP BY 1
)
SELECT s.event_type, s.na, s.nb,
       round((s.ra2 - s.na * (s.na + 1)) / 2.0 - s.na * s.nb / 2.0, 4) AS u_centered,
       round(((s.ra2 - s.na * (s.na + 1)) / 2.0 - s.na * s.nb / 2.0)
             / sqrt(s.na * 1.0 * s.nb / 12.0
                    * ((s.na + s.nb + 1)
                       - t.tie3 * 1.0 / ((s.na + s.nb) * (s.na + s.nb - 1)))),
             4) AS mw_z,
       abs(((s.ra2 - s.na * (s.na + 1)) / 2.0 - s.na * s.nb / 2.0)
           / sqrt(s.na * 1.0 * s.nb / 12.0
                  * ((s.na + s.nb + 1)
                     - t.tie3 * 1.0 / ((s.na + s.nb) * (s.na + s.nb - 1)))))
         > 1.96 AS significant_95
FROM s JOIN ties t ON s.event_type = t.event_type
""",
)
def ab_test_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank test per event type — the nonparametric
    LOCATION test completing the experiment-readout trio (Welch for
    means, KS for shape, MW-U for stochastic dominance), tie-corrected:
    σ²_U = (n_a·n_b/12)·((N+1) − Σ(t³−t)/(N(N−1))).  Exact arithmetic via
    the same doubled-integer average ranks as ``corr_spearman_store``
    (2·min_rank + ties − 1), so the rank sum, the U statistic, and the
    tie correction are all BIGINT-derived; sqrt is correctly rounded.

    Scale: one pooled rank window keyed by event type over the quantized
    value grid + two keyed aggregates."""
    t = Catalog(spark, sf_dir)
    v = t.events.select(
        "event_type",
        (F.col("user_id") % 2).alias("variant"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v2"),
    )
    wr = W.partitionBy("event_type").orderBy("v2")
    wt = W.partitionBy("event_type", "v2")
    r = v.select(
        "event_type",
        "variant",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
        .cast("long")
        .alias("r2"),
    )
    ties = (
        v.groupBy("event_type", "v2")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tie3")
        )
    )
    s = r.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("ra2"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    j = s.join(ties, "event_type")
    n = F.col("na") + F.col("nb")
    u_c = (F.col("ra2") - F.col("na") * (F.col("na") + 1)) / F.lit(2.0) - F.col(
        "na"
    ) * F.col("nb") / F.lit(2.0)
    sigma = F.sqrt(
        F.col("na") * F.lit(1.0) * F.col("nb") / F.lit(12.0)
        * ((n + 1) - F.col("tie3") * F.lit(1.0) / (n * (n - 1)))
    )
    return j.select(
        "event_type",
        "na",
        "nb",
        r4(u_c).alias("u_centered"),
        r4(u_c / sigma).alias("mw_z"),
        (F.abs(u_c / sigma) > F.lit(1.96)).alias("significant_95"),
    )


@register(
    "trend_theilsen_brand",
    oracle="""
WITH m AS (
  SELECT p.p_brand AS brand,
         CAST(year(date_trunc('month', l.l_shipdate)) * 12
              + month(date_trunc('month', l.l_shipdate)) AS BIGINT) AS x,
         CAST(floor(sum(l.l_quantity) * 10000 + 0.5) AS BIGINT) AS qy
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), pr AS (
  SELECT a.brand,
         CAST(floor((b.qy - a.qy) * 1.0 / (b.x - a.x) + 0.5) AS BIGINT)
           AS slope_q
  FROM m a JOIN m b ON a.brand = b.brand AND b.x > a.x
), nm AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n_months,
         round(avg(qy) / 10000.0, 4) AS avg_monthly_qty
  FROM m GROUP BY 1
)
SELECT pr.brand, nm.n_months,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(quantile_cont(pr.slope_q, 0.5) / 10000.0, 4) AS ts_slope,
       nm.avg_monthly_qty
FROM pr JOIN nm ON nm.brand = pr.brand
GROUP BY pr.brand, nm.n_months, nm.avg_monthly_qty
""",
)
def trend_theilsen_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen ROBUST trend per brand — the median of all pairwise
    monthly-demand slopes, the estimator with a 29.3% breakdown point
    (Sen 1968) where ``price_elasticity_brand``'s OLS breaks on a single
    promo spike or stockout month.  Completes the robust-statistics
    family next to MAD outlier flags and Benford audits: MAD says WHICH
    months are anomalous, Theil-Sen gives the trend that ignores them.

    Exactness: monthly demand quantizes to BIGINT 1e-4 units first; each
    pairwise slope is ONE identically-structured floor(Δqy/Δx + 0.5) on
    exact integers (double division, not integer div — slopes go
    negative, and Spark ``div`` truncates toward zero while DuckDB
    ``//`` floors); the median is the
    engine-shared exact-percentile convention (``F.percentile`` ↔
    ``quantile_cont``) whose two-middle midpoint is an exact .5 double.
    Month index is calendar-absolute (year·12 + month), so gaps in a
    brand's history weight slopes by real elapsed time.

    Scale: the O(k²) pair blow-up runs on the ALREADY-AGGREGATED
    (brand, month) table — bounded by the calendar domain (~84 months →
    ≤3.5k pairs per brand), never by fact rows; the self-join shuffles
    once on brand and the month table broadcasts at any fact scale.  The
    fact-table pass is one keyed aggregate.  (Sub-quadratic Theil-Sen
    via k-th order statistics exists for series past ~1e4 points;
    calendar-bounded series never get there.)

    Reference parity: the reference fits per-series trends inside its
    temporal feature engine with least squares
    (/root/reference/src/features/temporal_features_engine.py:131-175);
    this is the robust drop-in the same pipeline reads."""
    t = Catalog(spark, sf_dir)
    # feeds the self-join AND the per-brand stats
    m = materialize(
        t.lineitem.join(
            F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").alias("mon"),
        )
        .agg(
            F.floor(F.sum("l_quantity") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("qy")
        )
        .select(
            "brand",
            (F.year("mon") * 12 + F.month("mon")).cast("long").alias("x"),
            "qy",
        )
    )
    a, b = m.alias("a"), m.alias("b")
    pr = a.join(
        F.broadcast(b),
        (F.col("a.brand") == F.col("b.brand")) & (F.col("b.x") > F.col("a.x")),
    ).select(
        F.col("a.brand").alias("brand"),
        F.floor(
            (F.col("b.qy") - F.col("a.qy"))
            * F.lit(1.0)
            / (F.col("b.x") - F.col("a.x"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("slope_q"),
    )
    nm = m.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        r4(F.avg("qy") / 10000.0).alias("avg_monthly_qty"),
    )
    return (
        pr.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            r4(F.percentile("slope_q", F.lit(0.5)) / 10000.0).alias(
                "ts_slope"
            ),
        )
        .join(F.broadcast(nm), "brand")
        .select("brand", "n_months", "n_pairs", "ts_slope", "avg_monthly_qty")
    )


@register(
    "ab_test_chi2_independence",
    oracle="""
WITH o AS (
  SELECT event_type AS t, isodow(CAST(ts AS DATE)) AS d,
         CAST(count(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
), rt AS (SELECT t, CAST(sum(obs) AS BIGINT) AS r FROM o GROUP BY 1),
ct AS (SELECT d, CAST(sum(obs) AS BIGINT) AS c FROM o GROUP BY 1),
nn AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
cells AS (
  SELECT coalesce(o.obs, 0) AS obs, rt.r, ct.c, nn.n
  FROM rt CROSS JOIN ct CROSS JOIN nn
  LEFT JOIN o ON o.t = rt.t AND o.d = ct.d
), q AS (
  SELECT CAST(floor(
           (obs * 1.0 * n - r * 1.0 * c) * (obs * 1.0 * n - r * 1.0 * c)
           / (r * 1.0 * c * n) * 10000 + 0.5) AS BIGINT) AS cell_q
  FROM cells
), s AS (
  SELECT CAST(sum(cell_q) AS BIGINT) AS chi2_q FROM q
), dims AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM rt) AS n_types,
         (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_dows
)
SELECT nn.n AS n_events, dims.n_types, dims.n_dows,
       (dims.n_types - 1) * (dims.n_dows - 1) AS dof,
       s.chi2_q,
       round(s.chi2_q / 10000.0, 4) AS chi2,
       round(sqrt((s.chi2_q / 10000.0)
                  / (nn.n * least(dims.n_types - 1, dims.n_dows - 1))),
             4) AS cramers_v
FROM s CROSS JOIN nn CROSS JOIN dims
""",
)
def ab_test_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of INDEPENDENCE — is the event-type mix
    independent of the weekday? — the contingency-table member the
    experimentation family lacked (Welch/KS/Mann-Whitney compare
    distributions of a value; chi-square tests association between two
    CATEGORICAL margins), plus Cramér's V as the effect size the raw
    statistic can't convey across table sizes.

    Exactness: the contingency table, both margins, and N are exact
    integers; each cell's (O−E)²/E is evaluated in the algebraically
    expanded form (O·N − R·C)²/(R·C·N) — one identically-structured
    double expression per cell on exact integers, quantized to a BIGINT
    1e-4 grid BEFORE the sum so the total is accumulation-order-free
    (the engine-wide quantize-then-sum rule); zero-observation cells are
    materialized by the margin cross join (they still carry E weight —
    dropping them understates the statistic).  sqrt is IEEE-exact.

    Scale: one keyed count over the fact table, then everything runs on
    the |types| × |weekdays| grid — margins broadcast, the cell table is
    domain-bounded metadata.  dof and the critical-value comparison are
    the reader's (the engine ships the statistic and effect size; CDF
    lookup tables are presentation, not dataflow).

    Reference parity: the reference eyeballs per-weekday event mix in
    its behavioral profiling (/root/reference/src/features/
    behavioral_features_engine.py:380-430); this is the test that says
    whether the variation is real."""
    t = Catalog(spark, sf_dir)
    # feeds margins AND the cell join
    o = materialize(
        t.events.groupBy(
            F.col("event_type").alias("t"),
            iso_dow(F.col("ts")).cast("long").alias("d"),
        ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    rt = o.groupBy("t").agg(F.sum("obs").cast("long").alias("r"))
    ct = o.groupBy("d").agg(F.sum("obs").cast("long").alias("c"))
    nn = o.agg(F.sum("obs").cast("long").alias("n"))
    cells = (
        rt.crossJoin(ct)
        .crossJoin(F.broadcast(nn))
        .join(o, ["t", "d"], "left")
        .select(
            F.coalesce(F.col("obs"), F.lit(0)).cast("long").alias("obs"),
            "r",
            "c",
            "n",
        )
    )
    diff = F.col("obs") * F.lit(1.0) * F.col("n") - F.col("r") * F.lit(
        1.0
    ) * F.col("c")
    q = cells.select(
        F.floor(
            diff * diff / (F.col("r") * F.lit(1.0) * F.col("c") * F.col("n"))
            * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cell_q")
    )
    s = q.agg(F.sum("cell_q").cast("long").alias("chi2_q"))
    dims = rt.agg(F.count(F.lit(1)).cast("long").alias("n_types")).crossJoin(
        ct.agg(F.count(F.lit(1)).cast("long").alias("n_dows"))
    )
    return (
        s.crossJoin(nn)
        .crossJoin(dims)
        .select(
            F.col("n").alias("n_events"),
            "n_types",
            "n_dows",
            ((F.col("n_types") - 1) * (F.col("n_dows") - 1)).alias("dof"),
            "chi2_q",
            r4(F.col("chi2_q") / 10000.0).alias("chi2"),
            r4(
                F.sqrt(
                    (F.col("chi2_q") / 10000.0)
                    / (
                        F.col("n")
                        * F.least(
                            F.col("n_types") - 1, F.col("n_dows") - 1
                        )
                    )
                )
            ).alias("cramers_v"),
        )
    )


def _phi_sql(x: str) -> str:
    """Standard-normal CDF as a SQL expression (Abramowitz & Stegun
    26.2.17, |error| < 7.5e-8) — identical literal-for-literal to the
    Spark build in ``_phi_col`` so both engines evaluate the same
    double-precision expression tree."""
    a = f"abs({x})"
    t = f"(1.0 / (1.0 + 0.2316419 * {a}))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937 "
        f"+ {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    upper = f"(1.0 - 0.3989422804014327 * exp(-{a} * {a} / 2.0) * {poly})"
    return f"(CASE WHEN {x} >= 0 THEN {upper} ELSE 1.0 - {upper} END)"


def _phi_col(x):  # noqa: ANN001, ANN202 - Column in, Column out
    """Spark twin of ``_phi_sql`` (same A&S 26.2.17 constants)."""
    a = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * a)
    poly = t * (
        F.lit(0.319381530)
        + t
        * (
            F.lit(-0.356563782)
            + t
            * (
                F.lit(1.781477937)
                + t * (F.lit(-1.821255978) + t * F.lit(1.330274429))
            )
        )
    )
    upper = F.lit(1.0) - F.lit(0.3989422804014327) * F.exp(
        -a * a / F.lit(2.0)
    ) * poly
    return F.when(x >= 0, upper).otherwise(F.lit(1.0) - upper)


_Z_ALPHA = 1.959964  # two-sided 5%
_Z_POWER = 0.841621  # 80% power


@register(
    "ab_test_power_mde",
    oracle=f"""
WITH v AS (
  SELECT event_type, user_id % 2 AS variant,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
  FROM events
), s AS (
  SELECT event_type, variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v4) AS BIGINT) AS s1,
         CAST(sum(CAST(v4 AS HUGEINT) * v4) AS DOUBLE) AS s2
  FROM v GROUP BY 1, 2
), w AS (
  SELECT a.event_type,
         a.n AS n_a, b.n AS n_b,
         a.s1 * 1.0 / (a.n * 10000.0) AS mean_a,
         b.s1 * 1.0 / (b.n * 10000.0) AS mean_b,
         (a.s2 - a.s1 * 1.0 * a.s1 / a.n) / (a.n - 1) / 100000000.0 AS var_a,
         (b.s2 - b.s1 * 1.0 * b.s1 / b.n) / (b.n - 1) / 100000000.0 AS var_b
  FROM s a JOIN s b ON a.event_type = b.event_type
  WHERE a.variant = 0 AND b.variant = 1
), d AS (
  SELECT event_type, n_a, n_b, mean_a, mean_b,
         sqrt(var_a / n_a + var_b / n_b) AS se,
         abs(mean_b - mean_a) AS adiff
  FROM w
)
SELECT event_type, n_a, n_b,
       round(mean_b - mean_a, 4) AS mean_diff,
       round(se, 4) AS se_diff,
       round(({_Z_ALPHA} + {_Z_POWER}) * se, 4) AS mde_abs,
       round(({_Z_ALPHA} + {_Z_POWER}) * se / mean_a, 4) AS mde_rel,
       round(adiff / se, 4) AS z_obs,
       round({_phi_sql(f"(adiff / se - {_Z_ALPHA})")}
             + {_phi_sql(f"(-(adiff / se) - {_Z_ALPHA})")}, 4)
         AS power_observed,
       adiff >= ({_Z_ALPHA} + {_Z_POWER}) * se AS powered_80
FROM d
""",
)
def ab_test_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment POWER readout — the design-side companion to
    ``ab_test_welch``'s decision side: per event type, the minimum
    detectable effect (MDE) the current sample sizes support at the
    standard alpha=0.05 two-sided / 80%-power operating point, the
    relative MDE a product owner budgets against, and the ACHIEVED power
    at the observed effect size.  An experiment platform that only ships
    t statistics invites underpowered launches; this is the readout that
    says "this arm cannot detect less than a 3.1% lift yet".

    Math: se = sqrt(var_a/n_a + var_b/n_b) from the same integer
    sufficient statistics as the Welch readout; MDE = (z_0.975 +
    z_0.80)*se (normal-approximation two-sample formula);
    power_observed = Phi(|d|/se - z_a) + Phi(-|d|/se - z_a) — BOTH
    rejection tails, so the number is exact under the normal
    approximation rather than the usual one-tail shortcut.  Phi is the
    Abramowitz-Stegun 26.2.17 polynomial (|err| < 7.5e-8), spelled with
    identical literals in the Spark expression tree and the oracle SQL
    so both engines walk the same double arithmetic.

    Reference parity: the reference's error analysis reports scipy
    t-tests but no power/MDE surface (/root/reference/src/evaluation/
    error_analysis.py:611-750); this completes the experiment family
    (Welch / Mann-Whitney / KS / CUPED / chi-square / power).

    Scale: one keyed aggregate to (type, variant) sufficient stats; the
    readout is |event types| rows of closed-form arithmetic."""
    t = Catalog(spark, sf_dir)
    v = t.events.select(
        "event_type",
        (F.col("user_id") % 2).alias("variant"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v4"),
    )
    s = v.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v4").alias("s1"),
        # one factor to decimal BEFORE the multiply (v4^2 ~1e14/row nears
        # Long.MAX within ~1e4 rows per group at large SF); decimal(38,0)
        # sum then one double conversion — the oracle mirrors with a
        # HUGEINT product/sum cast to DOUBLE at the identical point, so
        # both engines stay exact through the same overflow regime
        F.sum(
            (F.col("v4").cast("decimal(19,0)") * F.col("v4")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("s2"),
    )
    a = s.filter(F.col("variant") == 0).alias("a")
    b = s.filter(F.col("variant") == 1).alias("b")
    j = a.join(b, F.col("a.event_type") == F.col("b.event_type"))
    mean_a = F.col("a.s1") * F.lit(1.0) / (F.col("a.n") * F.lit(10000.0))
    mean_b = F.col("b.s1") * F.lit(1.0) / (F.col("b.n") * F.lit(10000.0))
    var_a = (
        (F.col("a.s2") - F.col("a.s1") * F.lit(1.0) * F.col("a.s1") / F.col("a.n"))
        / (F.col("a.n") - 1)
        / F.lit(100000000.0)
    )
    var_b = (
        (F.col("b.s2") - F.col("b.s1") * F.lit(1.0) * F.col("b.s1") / F.col("b.n"))
        / (F.col("b.n") - 1)
        / F.lit(100000000.0)
    )
    d = j.select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        F.sqrt(var_a / F.col("a.n") + var_b / F.col("b.n")).alias("se"),
        F.abs(mean_b - mean_a).alias("adiff"),
    )
    z_tot = F.lit(_Z_ALPHA + _Z_POWER)
    return d.select(
        "event_type",
        "n_a",
        "n_b",
        r4(F.col("mean_b") - F.col("mean_a")).alias("mean_diff"),
        r4(F.col("se")).alias("se_diff"),
        r4(z_tot * F.col("se")).alias("mde_abs"),
        r4(z_tot * F.col("se") / F.col("mean_a")).alias("mde_rel"),
        r4(F.col("adiff") / F.col("se")).alias("z_obs"),
        r4(
            _phi_col(F.col("adiff") / F.col("se") - F.lit(_Z_ALPHA))
            + _phi_col(-(F.col("adiff") / F.col("se")) - F.lit(_Z_ALPHA))
        ).alias("power_observed"),
        (F.col("adiff") >= z_tot * F.col("se")).alias("powered_80"),
    )


@register(
    "ab_test_srm_check",
    oracle="""
WITH u AS (
  SELECT DISTINCT event_type, user_id, user_id % 2 AS variant
  FROM events
), s AS (
  SELECT event_type,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS users_a,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS users_b
  FROM u GROUP BY 1
)
SELECT event_type, users_a, users_b,
       round(users_a * 1.0 / (users_a + users_b), 4) AS share_a,
       round((users_a - users_b) * (users_a - users_b) * 1.0
             / (users_a + users_b), 4) AS srm_chi2,
       (users_a - users_b) * (users_a - users_b) * 1.0
         / (users_a + users_b) > 3.841 AS srm_flag
FROM s
""",
)
def ab_test_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH check — the experiment-validity guardrail
    that runs BEFORE any effect readout: per event type, the distinct
    users landing in each 50/50 parity variant, the observed share, and
    the 1-dof chi-square against the designed split ((n_a-n_b)^2 /
    (n_a+n_b) — the algebraic collapse of sum (O-E)^2/E for two equal
    cells).  A flagged SRM means assignment or logging is broken and
    every downstream p-value (``ab_test_welch`` family) is void — the
    standard first row of an experimentation health dashboard (Fabijan
    et al. 2019 diagnose it as the most common trustworthiness bug).

    Exactness: distinct-user counts are exact integers; the statistic is
    one double ratio of integers; the 3.841 threshold is the 5% 1-dof
    chi-square critical value, a fixed literal on both sides.

    Scale: one distinct on (type, user) — the same shuffle any
    per-user metric pays — then a two-cell aggregate; the readout is
    |event types| rows."""
    t = Catalog(spark, sf_dir)
    u = t.events.select(
        "event_type", "user_id", (F.col("user_id") % 2).alias("variant")
    ).distinct()
    s = u.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("users_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("users_b"),
    )
    na, nb = F.col("users_a"), F.col("users_b")
    chi2 = (na - nb) * (na - nb) * F.lit(1.0) / (na + nb)
    return s.select(
        "event_type",
        "users_a",
        "users_b",
        r4(na * F.lit(1.0) / (na + nb)).alias("share_a"),
        r4(chi2).alias("srm_chi2"),
        (chi2 > F.lit(3.841)).alias("srm_flag"),
    )
