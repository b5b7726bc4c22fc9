"""M3 — window layer (SURVEY.md §2.5, §2.6 keep-first, §2.12 SQL rewrites).

The reference sorts each (product, store) series then applies shift /
rolling / ewm / groupby-transform in pandas.  Here every one of those is a
Spark window over ``partitionBy(keys).orderBy(unique order)``.

Determinism convention: every ordered window orders by a UNIQUE key tuple
(l_shipdate, l_orderkey, l_linenumber) — ties in a non-unique ordering would
make lag/row_number engine-dependent and break the oracle hash.  Rank-like
functions additionally rank on pre-quantized (r4) values.

Scale: (store) / (product, store) partitions are many and small — exactly
the shape window exchanges want.  Skewed hot keys are handled by AQE; the
windows below all share one partitioning per query so Catalyst plans a
single shuffle for stacked window columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import iso_dow, r4
from hackatonbigdata_spark.operators.series_kernels import _daily, daily_series
from hackatonbigdata_spark.registry import register

# unique intra-store ordering shared by the ordered windows below
_ORDER = ["l_shipdate", "l_orderkey", "l_linenumber"]
_ORDER_SQL = "l_shipdate, l_orderkey, l_linenumber"


def _keyed(t: Catalog) -> DataFrame:
    return t.lineitem.select(
        "l_suppkey", "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "window_lag_family",
    oracle=f"""
SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
       lag(l_quantity, 1) OVER w AS lag1,
       lag(l_quantity, 7) OVER w AS lag7,
       round(l_quantity - lag(l_quantity, 1) OVER w, 4) AS diff1,
       round(l_quantity / (lag(l_quantity, 1) OVER w + 1e-8) - 1, 4) AS pct1,
       round(l_quantity / (lag(l_quantity, 7) OVER w + 1e-8), 4) AS ratio7
FROM lineitem
WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL})
""",
)
def window_lag_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag family: shift-k + diff/pct-change/ratio
    (/root/reference/src/features/temporal_features_engine.py:120-148;
    lags at k∈{{1,7}} here — the full strategic set is a parameter)."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("l_suppkey").orderBy(*_ORDER)
    q = F.col("l_quantity")
    # one window slot per lag (window expressions are extracted per
    # occurrence, not CSE'd — see window_rolling_stats)
    raw = _keyed(t).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.lag("l_quantity", 1).over(w).alias("lag1"),
        F.lag("l_quantity", 7).over(w).alias("lag7"),
    )
    lag1, lag7 = F.col("lag1"), F.col("lag7")
    return raw.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "lag1",
        "lag7",
        r4(q - lag1).alias("diff1"),
        r4(q / (lag1 + F.lit(1e-8)) - 1).alias("pct1"),
        r4(q / (lag7 + F.lit(1e-8))).alias("ratio7"),
    )


@register(
    "window_rolling_stats",
    oracle=f"""
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(avg(l_quantity) OVER w, 4) AS roll_mean7,
       round(stddev_samp(l_quantity) OVER w, 4) AS roll_std7,
       round(min(l_quantity) OVER w, 4) AS roll_min7,
       round(max(l_quantity) OVER w, 4) AS roll_max7,
       round(stddev_samp(l_quantity) OVER w / (avg(l_quantity) OVER w + 1e-8), 4) AS roll_cv7
FROM lineitem
WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def window_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean/std/min/max/CV over a 7-row trailing frame with
    min_periods=1 semantics (frame shrinks at series start, like pandas
    rolling(min_periods=1); /root/reference/src/features/temporal_features_engine.py:179-201).

    Each window aggregate is materialized ONCE into a raw column before any
    r4/derived arithmetic touches it: the analyzer extracts one window slot
    per *occurrence* (no CSE across window expressions), so wrapping
    ``avg().over(w)`` in r4 directly would make WindowExec evaluate every
    sliding aggregate 4-8 times per row."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("l_suppkey").orderBy(*_ORDER).rowsBetween(-6, 0)
    raw = _keyed(t).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.avg("l_quantity").over(w).alias("_mean"),
        F.stddev("l_quantity").over(w).alias("_std"),
        F.min("l_quantity").over(w).alias("_min"),
        F.max("l_quantity").over(w).alias("_max"),
    )
    return raw.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        r4("_mean").alias("roll_mean7"),
        r4("_std").alias("roll_std7"),
        r4("_min").alias("roll_min7"),
        r4("_max").alias("roll_max7"),
        r4(F.col("_std") / (F.col("_mean") + F.lit(1e-8))).alias("roll_cv7"),
    )


@register(
    "window_rolling_median_skew",
    oracle=f"""
WITH s AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         count(*) OVER w AS n,
         median(l_quantity) OVER w AS med,
         sum(l_quantity) OVER w AS s1,
         sum(l_quantity * l_quantity) OVER w AS s2,
         sum(l_quantity * l_quantity * l_quantity) OVER w AS s3
  FROM lineitem
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
), m AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, n, med,
         s1 / n AS mean,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3
  FROM s
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(med, 4) AS roll_med7,
       CASE WHEN n >= 3 AND m2 > 0
            THEN round(sqrt(CAST(n * (n - 1) AS DOUBLE)) / (n - 2)
                       * m3 / (m2 * sqrt(m2)), 4)
            ELSE 0.0 END AS roll_skew7
FROM m
""",
)
def window_rolling_median_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median + rolling sample skewness over the 7-row trailing
    frame (pandas rolling(7, min_periods=1).median() and
    rolling(7, min_periods=3).skew().fillna(0);
    /root/reference/src/features/temporal_features_engine.py:179-201).

    Skewness is the bias-corrected sample statistic
    G1 = sqrt(n(n-1))/(n-2) * m3/m2^1.5 computed in closed form from the
    window power sums Σx, Σx², Σx³ — no per-row Python, one WindowExec pass
    (same frame for every aggregate).  Spark's ``median`` rejects window
    frames, so the median interpolates the sorted 7-element frame array
    (``collect_list`` over the frame), O(w log w) on a bounded w=7.  Both
    engines evaluate identical expression trees on exact integer-valued
    sums, so the doubles agree bit-for-bit before quantization.  n<3 or
    zero variance -> 0, the reference's fillna(0)."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("l_suppkey").orderBy(*_ORDER).rowsBetween(-6, 0)
    q = F.col("l_quantity")
    # one window slot per aggregate (see window_rolling_stats: the analyzer
    # duplicates window expressions per occurrence, so derive the composite
    # stats from materialized raw columns)
    raw = _keyed(t).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count(F.lit(1)).over(w).alias("_n"),
        F.sum(q).over(w).alias("_s1"),
        F.sum(q * q).over(w).alias("_s2"),
        F.sum(q * q * q).over(w).alias("_s3"),
        F.array_sort(F.collect_list(q).over(w)).alias("_arr"),
    )
    n, s1, s2, s3 = F.col("_n"), F.col("_s1"), F.col("_s2"), F.col("_s3")
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
    skew = (
        F.sqrt((n * (n - 1)).cast("double")) / (n - 2) * m3 / (m2 * F.sqrt(m2))
    )
    arr = F.col("_arr")
    na = F.size(arr)
    half = (na / 2).cast("int")
    med = F.when(na % 2 == 1, F.element_at(arr, half + 1)).otherwise(
        (F.element_at(arr, half) + F.element_at(arr, half + 1)) / 2
    )
    return raw.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        r4(med).alias("roll_med7"),
        F.when((n >= 3) & (m2 > 0), r4(skew)).otherwise(F.lit(0.0)).alias("roll_skew7"),
    )


@register(
    "window_rolling_slope",
    oracle=f"""
WITH r AS (
  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
         CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}) AS DOUBLE) AS x
  FROM lineitem
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       round((count(*) OVER w * sum(x * l_quantity) OVER w
              - sum(x) OVER w * sum(l_quantity) OVER w)
             / nullif(count(*) OVER w * sum(x * x) OVER w
                      - sum(x) OVER w * sum(x) OVER w, 0), 4) AS slope8
FROM r
WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
""",
)
def window_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling regression slope, closed form.

    The reference computes np.polyfit per rolling window in a python lambda
    (/root/reference/src/features/temporal_features_engine.py:203-207) —
    O(window) python per row.  The closed form
    (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) with x = row index is pure window sums:
    JVM-codegen'd, no Python, same answer (SURVEY §2.12 'rewrite')."""
    t = Catalog(spark, sf_dir)
    base_w = W.partitionBy("l_suppkey").orderBy(*_ORDER)
    w = base_w.rowsBetween(-7, 0)
    df = _keyed(t).withColumn("x", F.row_number().over(base_w).cast("double"))
    q = F.col("l_quantity")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum("x").over(w)
    sy = F.sum(q).over(w)
    sxy = F.sum(F.col("x") * q).over(w)
    sx2 = F.sum(F.col("x") * F.col("x")).over(w)
    denom = n * sx2 - sx * sx
    slope = (n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0))
    return df.select(
        "l_suppkey", "l_orderkey", "l_linenumber", r4(slope).alias("slope8")
    )


@register(
    "window_rank_volume",
    oracle="""
WITH v AS (
  SELECT l_suppkey, l_partkey, round(sum(l_quantity), 4) AS vol
  FROM lineitem GROUP BY l_suppkey, l_partkey
)
SELECT l_suppkey, l_partkey, vol,
       CAST(rank() OVER w AS BIGINT) AS vol_rank,
       CAST(dense_rank() OVER w AS BIGINT) AS vol_dense_rank,
       round(percent_rank() OVER w, 4) AS vol_pct_rank
FROM v
WINDOW w AS (PARTITION BY l_suppkey ORDER BY vol DESC, l_partkey)
""",
)
def window_rank_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank of product volume within store
    (/root/reference/src/features/aggregation_features_engine.py:340-345,
    behavioral :363-375).  Ranks on quantized volume + key tie-break."""
    t = Catalog(spark, sf_dir)
    v = t.lineitem.groupBy("l_suppkey", "l_partkey").agg(r4(F.sum("l_quantity")).alias("vol"))
    w = W.partitionBy("l_suppkey").orderBy(F.col("vol").desc(), F.col("l_partkey"))
    return v.select(
        "l_suppkey",
        "l_partkey",
        "vol",
        F.rank().over(w).cast("long").alias("vol_rank"),
        F.dense_rank().over(w).cast("long").alias("vol_dense_rank"),
        r4(F.percent_rank().over(w)).alias("vol_pct_rank"),
    )


@register(
    "window_interarrival",
    oracle="""
WITH d AS (
  SELECT DISTINCT l_suppkey, l_shipdate FROM lineitem
), g AS (
  SELECT l_suppkey,
         date_diff('day', lag(l_shipdate) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate),
                   l_shipdate) AS gap_days
  FROM d
)
SELECT l_suppkey,
       round(avg(gap_days), 4) AS avg_gap,
       CAST(max(gap_days) AS BIGINT) AS max_gap,
       CAST(count(gap_days) AS BIGINT) AS n_gaps
FROM g GROUP BY l_suppkey
""",
)
def window_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap stats between active days per store
    (/root/reference/src/features/behavioral_features_engine.py:135-163)."""
    t = Catalog(spark, sf_dir)
    d = t.lineitem.select("l_suppkey", "l_shipdate").distinct()
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate")
    g = d.withColumn("gap_days", F.datediff("l_shipdate", F.lag("l_shipdate").over(w)))
    return g.groupBy("l_suppkey").agg(
        r4(F.avg("gap_days")).alias("avg_gap"),
        F.max("gap_days").cast("long").alias("max_gap"),
        F.count("gap_days").alias("n_gaps"),
    )


@register(
    "window_zero_streaks",
    oracle=f"""
WITH f AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         CASE WHEN l_discount = 0 THEN 1 ELSE 0 END AS is_zero
  FROM lineitem
), isl AS (
  SELECT *, sum(1 - is_zero) OVER (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
                                   ROWS UNBOUNDED PRECEDING) AS island
  FROM f
), streaks AS (
  SELECT l_suppkey, island, count(*) AS streak_len
  FROM isl WHERE is_zero = 1
  GROUP BY l_suppkey, island
)
SELECT l_suppkey,
       CAST(max(streak_len) AS BIGINT) AS max_streak,
       round(avg(streak_len), 4) AS avg_streak,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM streaks GROUP BY l_suppkey
""",
)
def window_zero_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-'zero' streak stats via gaps-and-islands.

    The reference walks each series in a python loop
    (/root/reference/src/features/behavioral_features_engine.py:91-132);
    the islands rewrite (running count of breakers as island id) is pure
    SQL — one window + two aggregations, fully distributed."""
    t = Catalog(spark, sf_dir)
    f = t.lineitem.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.when(F.col("l_discount") == 0, 1).otherwise(0).alias("is_zero"),
    )
    w = W.partitionBy("l_suppkey").orderBy(*_ORDER).rowsBetween(W.unboundedPreceding, 0)
    isl = f.withColumn("island", F.sum(1 - F.col("is_zero")).over(w))
    streaks = (
        isl.filter(F.col("is_zero") == 1)
        .groupBy("l_suppkey", "island")
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return streaks.groupBy("l_suppkey").agg(
        F.max("streak_len").cast("long").alias("max_streak"),
        r4(F.avg("streak_len")).alias("avg_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@register(
    "window_seasonal_dow",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
       CAST(isodow(l_shipdate) AS INTEGER) AS dow,
       round(avg(l_quantity) OVER (PARTITION BY l_suppkey, isodow(l_shipdate)), 4) AS dow_avg,
       round(l_quantity - avg(l_quantity) OVER (PARTITION BY l_suppkey, isodow(l_shipdate)), 4)
         AS dow_dev
FROM lineitem
""",
)
def window_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal per-key average (day-of-week) broadcast back onto rows —
    fit+transform of the reference's seasonal encoder
    (/root/reference/src/features/temporal.py:225-305) as one unordered
    window; no agg+join round-trip."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("l_suppkey", iso_dow("l_shipdate"))
    avg = F.avg("l_quantity").over(w)
    return _keyed(t).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        iso_dow("l_shipdate").alias("dow"),
        r4(avg).alias("dow_avg"),
        r4(F.col("l_quantity") - avg).alias("dow_dev"),
    )


@register(
    "window_centered_smoothing",
    oracle=f"""
SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
       round(avg(l_quantity) OVER w, 4) AS smooth7,
       round(0.7 * l_quantity + 0.3 * avg(l_quantity) OVER w, 4) AS blended
FROM lineitem
WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
""",
)
def window_centered_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered moving-average smoothing + blend-at-factor
    (/root/reference/src/submissions/post_processor.py:383-432)."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("l_suppkey").orderBy(*_ORDER).rowsBetween(-3, 3)
    smooth = F.avg("l_quantity").over(w)
    return _keyed(t).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        r4(smooth).alias("smooth7"),
        r4(F.lit(0.7) * F.col("l_quantity") + F.lit(0.3) * smooth).alias("blended"),
    )


@register(
    "window_growth_cap",
    oracle=f"""
SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
       round(CASE WHEN lag(l_quantity) OVER w IS NOT NULL
                   AND l_quantity > lag(l_quantity) OVER w * 1.5
                  THEN lag(l_quantity) OVER w * 1.5
                  ELSE l_quantity END, 4) AS capped_qty
FROM lineitem
WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL})
""",
)
def window_growth_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential growth-rate cap vs previous observation
    (/root/reference/src/submissions/post_processor.py:135-163)."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("l_suppkey").orderBy(*_ORDER)
    prev = F.lag("l_quantity").over(w)
    capped = F.when(
        prev.isNotNull() & (F.col("l_quantity") > prev * 1.5), prev * 1.5
    ).otherwise(F.col("l_quantity"))
    return _keyed(t).select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", r4(capped).alias("capped_qty")
    )


@register(
    "window_group_transform",
    oracle="""
SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
       round(avg(l_quantity) OVER p, 4) AS part_mean,
       round(sum(l_quantity) OVER p, 4) AS part_sum,
       CAST(count(*) OVER p AS BIGINT) AS part_n,
       round(l_quantity / (avg(l_quantity) OVER p + 1e-8), 4) AS rel_to_mean
FROM lineitem
WINDOW p AS (PARTITION BY l_partkey)
""",
)
def window_group_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby().transform('mean'/'sum'/'count') — group stats broadcast to
    rows via unbounded windows
    (/root/reference/src/features/temporal_features_engine.py:389-421)."""
    t = Catalog(spark, sf_dir)
    p = W.partitionBy("l_partkey")
    mean = F.avg("l_quantity").over(p)
    return t.lineitem.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        r4(mean).alias("part_mean"),
        r4(F.sum("l_quantity").over(p)).alias("part_sum"),
        F.count(F.lit(1)).over(p).cast("long").alias("part_n"),
        r4(F.col("l_quantity") / (mean + F.lit(1e-8))).alias("rel_to_mean"),
    )


@register(
    "window_ffill",
    oracle=f"""
WITH s AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         CASE WHEN l_discount > 0.05 THEN NULL ELSE l_quantity END AS q_sparse
  FROM lineitem
)
SELECT l_suppkey, l_orderkey, l_linenumber, q_sparse,
       last_value(q_sparse IGNORE NULLS) OVER (
         PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_ffill
FROM s
""",
)
def window_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill as last(ignorenulls) over an unbounded-preceding frame
    (pandas ffill, /root/reference/src/features/temporal.py:164-170)."""
    t = Catalog(spark, sf_dir)
    sparse = F.when(F.col("l_discount") > 0.05, F.lit(None)).otherwise(F.col("l_quantity"))
    w = W.partitionBy("l_suppkey").orderBy(*_ORDER).rowsBetween(W.unboundedPreceding, 0)
    return t.lineitem.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        sparse.alias("q_sparse"),
        F.last(sparse, ignorenulls=True).over(w).alias("q_ffill"),
    )


@register(
    "window_momentum_accel",
    oracle=f"""
WITH b AS (
  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
         round(l_quantity / (lag(l_quantity, 7) OVER w + 1e-8) - 1, 4) AS momentum7,
         round(stddev_samp(l_quantity) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
           AS volatility7,
         round(avg(l_quantity) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS trend4
  FROM lineitem
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL})
)
SELECT l_suppkey, l_orderkey, l_linenumber, momentum7, volatility7, trend4,
       round(trend4 - lag(trend4) OVER (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}), 4)
         AS acceleration
FROM b
""",
)
def window_momentum_accel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Momentum / rolling volatility / trend acceleration
    (/root/reference/src/features/temporal_features_engine.py:344-361)."""
    t = Catalog(spark, sf_dir)
    ordered = W.partitionBy("l_suppkey").orderBy(*_ORDER)
    roll7 = ordered.rowsBetween(-6, 0)
    roll4 = ordered.rowsBetween(-3, 0)
    q = F.col("l_quantity")
    # raw window slots first (no r4 around .over — expressions are
    # extracted per occurrence, see window_rolling_stats)
    raw = _keyed(t).select(
        "l_suppkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.lag("l_quantity", 7).over(ordered).alias("_lag7"),
        F.stddev("l_quantity").over(roll7).alias("_vol7"),
        F.avg("l_quantity").over(roll4).alias("_trend4"),
    )
    b = raw.select(
        "l_suppkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        r4(q / (F.col("_lag7") + F.lit(1e-8)) - 1).alias("momentum7"),
        r4("_vol7").alias("volatility7"),
        r4("_trend4").alias("trend4"),
    )
    return b.withColumn(
        "_accel_raw", F.col("trend4") - F.lag("trend4").over(ordered)
    ).withColumn("acceleration", r4("_accel_raw")).drop("l_shipdate", "_accel_raw")


@register(
    "window_decline_indicator",
    oracle=f"""
WITH r AS (
  SELECT l_partkey, l_quantity,
         percent_rank() OVER (PARTITION BY l_partkey ORDER BY {_ORDER_SQL}) AS pr
  FROM lineitem
)
SELECT l_partkey,
       round(avg(CASE WHEN pr <= 0.75 THEN l_quantity END), 4) AS early_avg,
       round(avg(CASE WHEN pr > 0.75 THEN l_quantity END), 4) AS late_avg,
       round(avg(CASE WHEN pr > 0.75 THEN l_quantity END)
             / (avg(CASE WHEN pr <= 0.75 THEN l_quantity END) + 1e-8), 4) AS late_early_ratio
FROM r GROUP BY l_partkey
""",
)
def window_decline_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decline indicator: last-25%-of-history avg vs first-75% avg
    (/root/reference/src/features/behavioral_features_engine.py:308-334) —
    row-wise python apply rewritten as percent_rank + conditional aggs."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("l_partkey").orderBy(*_ORDER)
    r = t.lineitem.select("l_partkey", "l_quantity", F.percent_rank().over(w).alias("pr"))
    early = F.avg(F.when(F.col("pr") <= 0.75, F.col("l_quantity")))
    late = F.avg(F.when(F.col("pr") > 0.75, F.col("l_quantity")))
    return r.groupBy("l_partkey").agg(
        r4(early).alias("early_avg"),
        r4(late).alias("late_avg"),
        r4(late / (early + F.lit(1e-8))).alias("late_early_ratio"),
    )


@register(
    "ewm_daily_store",
    oracle="""
WITH daily AS (
  SELECT l_suppkey, l_shipdate,
         floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS qty
  FROM lineitem GROUP BY 1, 2
), seq AS (
  SELECT l_suppkey, list(qty ORDER BY l_shipdate) AS qs
  FROM daily GROUP BY l_suppkey
)
SELECT l_suppkey,
       round(list_reduce(qs, (acc, x) -> 0.5 * x + 0.5 * acc), 4) AS ema_qty,
       CAST(len(qs) AS BIGINT) AS n_days
FROM seq
""",
)
def ewm_daily_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWM (alpha=0.5, adjust=False) over each store's daily series.

    pandas ewm has no native Spark window; rewritten as an ordered
    collect_list + `aggregate` higher-order fold — stays JVM-side, no UDF
    (/root/reference/src/features/temporal_features_engine.py:227-259;
    SURVEY §2.12).  Daily inputs are quantized first so both engines fold
    identical doubles; the fold order is defined by the date sort.
    """
    t = Catalog(spark, sf_dir)
    qs = F.col("qs")
    ema = F.aggregate(
        F.slice(qs, 2, F.greatest(F.size(qs) - 1, F.lit(0))),
        F.element_at(qs, 1).cast("double"),
        lambda acc, x: F.lit(0.5) * x + F.lit(0.5) * acc,
    )
    return daily_series(t).select(
        "l_suppkey",
        r4(ema).alias("ema_qty"),
        F.size(qs).cast("long").alias("n_days"),
    )


@register(
    "holt_level_trend",
    oracle="""
WITH daily AS (
  SELECT l_suppkey, l_shipdate,
         floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS qty
  FROM lineitem GROUP BY 1, 2
), seq AS (
  SELECT l_suppkey, list(qty ORDER BY l_shipdate) AS qs
  FROM daily GROUP BY l_suppkey
), d AS (
  SELECT l_suppkey, qs,
         list_transform(range(2, len(qs) + 1), i -> qs[i] - qs[i - 1]) AS ds
  FROM seq
)
SELECT l_suppkey,
       round(list_reduce(qs, (acc, x) -> 0.3 * x + 0.7 * acc), 4) AS holt_level,
       CASE WHEN len(qs) < 2 THEN 0.0
            ELSE round(list_reduce(ds, (acc, x) -> 0.15 * x + 0.85 * acc), 4)
            END AS holt_trend,
       CAST(len(qs) AS BIGINT) AS n_days
FROM d
""",
)
def holt_level_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing, the reference's approximation:
    level = ewm(alpha=0.3, adjust=False) of the daily series, trend =
    ewm(alpha/2=0.15, adjust=False) of its first differences, 0 for
    single-point series (pandas ``.diff().ewm(...).mean()`` then fillna(0);
    /root/reference/src/features/temporal_features_engine.py:261-276).

    Same scale shape as ``ewm_daily_store``: the recursive folds run as
    JVM higher-order ``aggregate`` over each store's date-sorted daily
    array — one shuffle to the (store) grain, no Python, state bounded by
    series length (at 100 TB the per-(store,product) grain keeps arrays
    to a few hundred elements)."""
    t = Catalog(spark, sf_dir)
    qs = F.col("qs")
    n1 = F.greatest(F.size(qs) - 1, F.lit(0))
    # first differences qs[i+1] - qs[i]
    ds = F.zip_with(F.slice(qs, 2, n1), F.slice(qs, 1, n1), lambda a, b: a - b)
    level = F.aggregate(
        F.slice(qs, 2, n1),
        F.element_at(qs, 1).cast("double"),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    trend = F.aggregate(
        F.slice(ds, 2, F.greatest(F.size(ds) - 1, F.lit(0))),
        F.element_at(ds, 1).cast("double"),
        lambda acc, x: F.lit(0.15) * x + F.lit(0.85) * acc,
    )
    return daily_series(t).select(
        "l_suppkey",
        r4(level).alias("holt_level"),
        F.when(F.size(qs) < 2, F.lit(0.0)).otherwise(r4(trend)).alias("holt_trend"),
        F.size(qs).cast("long").alias("n_days"),
    )


@register(
    "window_rolling_multiscale",
    oracle="""
WITH daily AS (
  SELECT l_suppkey, l_shipdate,
         floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS qty
  FROM lineitem GROUP BY 1, 2
), r AS (
  SELECT l_suppkey, l_shipdate, qty,
         avg(qty) OVER w4  AS m4,  stddev_samp(qty) OVER w4  AS s4,
         avg(qty) OVER w12 AS m12, stddev_samp(qty) OVER w12 AS s12,
         avg(qty) OVER w26 AS m26, stddev_samp(qty) OVER w26 AS s26
  FROM daily
  WINDOW w4  AS (PARTITION BY l_suppkey ORDER BY l_shipdate ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
         w12 AS (PARTITION BY l_suppkey ORDER BY l_shipdate ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
         w26 AS (PARTITION BY l_suppkey ORDER BY l_shipdate ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
)
SELECT l_suppkey, l_shipdate, qty,
       round(m4, 4) AS mean_w4,   round(coalesce(s4, 0.0), 4) AS std_w4,
       round(m12, 4) AS mean_w12, round(coalesce(s12, 0.0), 4) AS std_w12,
       round(m26, 4) AS mean_w26, round(coalesce(s26, 0.0), 4) AS std_w26
FROM r
""",
)
def window_rolling_multiscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window rolling stats — the reference computes its rolling set
    over window sizes {4,8,12,26,52} per series
    (/root/reference/src/features/temporal_features_engine.py:55,179-194);
    here three scales (4/12/26) on the daily store series.

    Scale: all three frames share ONE partitioning and ordering, so
    Catalyst plans a single sort+shuffle feeding stacked Window operators —
    adding a window size costs compute, never another exchange.  Raw
    aggregates materialize once per frame (no r4 around .over)."""
    t = Catalog(spark, sf_dir)
    daily = _daily(t)
    base = W.partitionBy("l_suppkey").orderBy("l_shipdate")
    frames = {4: base.rowsBetween(-3, 0), 12: base.rowsBetween(-11, 0), 26: base.rowsBetween(-25, 0)}
    raw = daily.select(
        "l_suppkey",
        "l_shipdate",
        "qty",
        *[
            c
            for k, w in frames.items()
            for c in (
                F.avg("qty").over(w).alias(f"_m{k}"),
                F.stddev("qty").over(w).alias(f"_s{k}"),
            )
        ],
    )
    return raw.select(
        "l_suppkey",
        "l_shipdate",
        "qty",
        *[
            c
            for k in frames
            for c in (
                r4(f"_m{k}").alias(f"mean_w{k}"),
                r4(F.coalesce(f"_s{k}", F.lit(0.0))).alias(f"std_w{k}"),
            )
        ],
    )


@register(
    "window_expanding_stats",
    oracle=f"""
WITH s AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         count(*) OVER w AS n,
         sum(l_quantity) OVER w AS s1,
         sum(l_quantity * l_quantity) OVER w AS s2,
         min(l_quantity) OVER w AS mn,
         max(l_quantity) OVER w AS mx
  FROM lineitem
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
               ROWS UNBOUNDED PRECEDING)
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(n AS BIGINT) AS n_to_date,
       round(s1 / n, 4) AS expanding_mean,
       CASE WHEN n >= 2
            THEN round(sqrt(greatest(s2 - s1 * s1 / n, 0) / (n - 1)), 4)
            ELSE 0.0 END AS expanding_std,
       round(mn, 4) AS expanding_min,
       round(mx, 4) AS expanding_max
FROM s
""",
)
def window_expanding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding (to-date) mean/std/min/max per store series — pandas
    ``expanding()`` semantics, the prefix-frame complement of the bounded
    rolling family (/root/reference/src/features/temporal_features_engine.py
    uses cumulative transforms alongside rolling ones at :389-421).

    Std comes closed-form from the exact prefix power sums (sums of
    integer-valued quantities are exact doubles at any prefix length, so
    both engines compute identical values); raw window aggregates
    materialize once, derived stats in a second projection.  One shuffle,
    one running-frame WindowExec pass."""
    t = Catalog(spark, sf_dir)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(*_ORDER)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    q = F.col("l_quantity")
    raw = _keyed(t).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count(F.lit(1)).over(w).alias("_n"),
        F.sum(q).over(w).alias("_s1"),
        F.sum(q * q).over(w).alias("_s2"),
        F.min(q).over(w).alias("_mn"),
        F.max(q).over(w).alias("_mx"),
    )
    n, s1, s2 = F.col("_n"), F.col("_s1"), F.col("_s2")
    std = F.sqrt(F.greatest(s2 - s1 * s1 / n, F.lit(0.0)) / (n - 1))
    return raw.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        n.cast("long").alias("n_to_date"),
        r4(s1 / n).alias("expanding_mean"),
        F.when(n >= 2, r4(std)).otherwise(F.lit(0.0)).alias("expanding_std"),
        r4("_mn").alias("expanding_min"),
        r4("_mx").alias("expanding_max"),
    )


@register(
    "window_rank_movers",
    oracle="""
WITH m AS (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
         CAST(month(l_shipdate) AS INTEGER) AS mth,
         coalesce(p_brand, 'Unknown') AS brand,
         round(sum(l_quantity), 4) AS vol
  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
), rk AS (
  SELECT yr, mth, brand, vol,
         CAST(rank() OVER (PARTITION BY yr, mth
                           ORDER BY vol DESC, brand) AS BIGINT) AS rnk
  FROM m
), d AS (
  SELECT yr, mth, brand, vol, rnk,
         lag(rnk) OVER (PARTITION BY brand
                        ORDER BY yr, mth) AS prev_rnk
  FROM rk
)
SELECT yr, mth, brand, vol, rnk, prev_rnk,
       prev_rnk - rnk AS rank_delta
FROM d
WHERE prev_rnk IS NOT NULL AND abs(prev_rnk - rnk) >= 3
""",
)
def window_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month rank movers: rank brands by monthly volume, lag
    each brand's rank along its own timeline, and report entries that
    moved ≥ 3 places — the "movers & shakers" report analysts build from
    the reference's monthly volume tables
    (/root/reference/src/features/aggregation_features_engine.py:160-230)
    with spreadsheet diffs.  Composes two DIFFERENT window partitionings
    (rank within month, lag within brand) over one aggregate.

    Determinism: ranks tie-break on brand; volumes are 4dp-quantized
    before ranking so both engines order identical doubles.

    Scale: the aggregate shrinks the fact table to |months|×|brands| rows
    before any window touches it — both windows run on the bounded grain,
    the textbook pre-aggregate-then-window discipline."""
    t = Catalog(spark, sf_dir)
    m = (
        t.lineitem.join(
            F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey"), "left"
        )
        .groupBy(
            F.year("l_shipdate").cast("int").alias("yr"),
            F.month("l_shipdate").cast("int").alias("mth"),
            F.coalesce(F.col("p_brand"), F.lit("Unknown")).alias("brand"),
        )
        .agg(r4(F.sum("l_quantity")).alias("vol"))
    )
    wr = W.partitionBy("yr", "mth").orderBy(F.col("vol").desc(), "brand")
    rk = m.withColumn("rnk", F.rank().over(wr).cast("long"))
    wl = W.partitionBy("brand").orderBy("yr", "mth")
    d = rk.withColumn("prev_rnk", F.lag("rnk").over(wl))
    return d.filter(
        F.col("prev_rnk").isNotNull()
        & (F.abs(F.col("prev_rnk") - F.col("rnk")) >= 3)
    ).select(
        "yr",
        "mth",
        "brand",
        "vol",
        "rnk",
        "prev_rnk",
        (F.col("prev_rnk") - F.col("rnk")).alias("rank_delta"),
    )


@register(
    "window_cusum_changepoint",
    oracle="""
WITH seq AS (
  SELECT l_suppkey, l_quantity,
         row_number() OVER w AS k,
         sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS UNBOUNDED PRECEDING) AS sk,
         count(*) OVER (PARTITION BY l_suppkey) AS n,
         sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey) AS sn
  FROM lineitem
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
), dev AS (
  SELECT l_suppkey, k, n,
         abs(sk * n - k * sn) AS dev_scaled
  FROM seq WHERE k < n
), best AS (
  SELECT l_suppkey,
         CAST(max(n) AS BIGINT) AS n,
         CAST(max(dev_scaled) AS BIGINT) AS max_dev_scaled,
         CAST(min(CASE WHEN dev_scaled = max_dev THEN k END) AS BIGINT)
           AS changepoint_k
  FROM (SELECT *, max(dev_scaled) OVER (PARTITION BY l_suppkey) AS max_dev
        FROM dev)
  GROUP BY 1
)
SELECT l_suppkey, n, changepoint_k,
       round(max_dev_scaled * 1.0 / (n * n), 4) AS cusum_stat
FROM best
""",
)
def window_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per store: the index k maximizing
    |S_k − (k/n)·S_n| over the ordered demand series — where the mean most
    likely shifted, the classic structural-break screen the reference's
    lifecycle phase segmentation approximates with fixed thresholds
    (/root/reference/src/features/lifecycle_features.py).

    Fully exact: quantities are integers, so the deviation is computed in
    the cleared-denominator form |S_k·n − k·S_n| — pure BIGINT arithmetic;
    ties in the maximum break deterministically to the earliest k.  The
    reported statistic rescales by n² only at output.

    Scale: every window partitions by store; state is two running
    integers.  (Magnitude bound: S_k·n ≤ max_qty·n² — longs hold to
    n ≈ 10⁷ rows per store with 50-unit quantities.)"""
    t = Catalog(spark, sf_dir)
    order = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    wseq = W.partitionBy("l_suppkey").orderBy(*order)
    wall = W.partitionBy("l_suppkey")
    seq = t.lineitem.select(
        "l_suppkey",
        F.row_number().over(wseq).alias("k"),
        F.sum(F.col("l_quantity").cast("long"))
        .over(wseq.rowsBetween(W.unboundedPreceding, 0))
        .alias("sk"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).over(wall).alias("sn"),
    )
    dev = seq.filter(F.col("k") < F.col("n")).select(
        "l_suppkey",
        "k",
        "n",
        F.abs(F.col("sk") * F.col("n") - F.col("k") * F.col("sn")).alias(
            "dev_scaled"
        ),
    )
    wmax = W.partitionBy("l_suppkey")
    best = (
        dev.withColumn("max_dev", F.max("dev_scaled").over(wmax))
        .groupBy("l_suppkey")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("dev_scaled").cast("long").alias("max_dev_scaled"),
            F.min(
                F.when(F.col("dev_scaled") == F.col("max_dev"), F.col("k"))
            )
            .cast("long")
            .alias("changepoint_k"),
        )
    )
    return best.select(
        "l_suppkey",
        "n",
        "changepoint_k",
        r4(
            F.col("max_dev_scaled") * F.lit(1.0) / (F.col("n") * F.col("n"))
        ).alias("cusum_stat"),
    )


@register(
    "queue_backlog_lindley",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority,
         CAST(o_orderdate AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS arrivals
  FROM orders GROUP BY 1, 2
), cap AS (
  SELECT o_orderpriority,
         (CAST(sum(arrivals) AS BIGINT) * 2 + count(*)) // (2 * count(*))
           AS capacity
  FROM daily GROUP BY 1
), s AS (
  SELECT dd.o_orderpriority, dd.d, dd.arrivals, c.capacity,
         sum(dd.arrivals - c.capacity)
           OVER (PARTITION BY dd.o_orderpriority ORDER BY dd.d
                 ROWS UNBOUNDED PRECEDING) AS st
  FROM daily dd JOIN cap c ON dd.o_orderpriority = c.o_orderpriority
), b AS (
  SELECT o_orderpriority, d, arrivals, capacity, st,
         st - least(min(st) OVER (PARTITION BY o_orderpriority ORDER BY d
                                  ROWS UNBOUNDED PRECEDING), 0) AS backlog
  FROM s
)
SELECT o_orderpriority, d AS day, arrivals, CAST(capacity AS BIGINT) AS capacity,
       CAST(backlog AS BIGINT) AS backlog,
       backlog > 2 * capacity AS overloaded
FROM b
""",
)
def queue_backlog_lindley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-backlog simulation via the Lindley recursion IN CLOSED FORM:
    the sequential queue q_t = max(0, q_{t-1} + arrivals_t − capacity)
    — which looks like it needs a per-row loop — equals
    S_t − min(0, min_{k≤t} S_k) for the running net-flow sum S, so the
    whole trajectory is two keyed cumulative windows, no recursion.  The
    two-sided ``sequential_clamp_per_series`` has no such closed form and
    runs as a fold over each series; the one-sided floor has one.  This is
    the capacity-planning readout behind the reference's capacity business
    rule
    (/root/reference/src/models/business_rules.py:164-208).

    Exactness: arrivals are counts, capacity is the integer round-half-up
    mean daily arrival rate ((2ΣA + n) // 2n — queues at criticality), so
    every backlog value is BIGINT-exact.

    Scale: everything partitions by priority class; state per key is two
    running integers."""
    t = Catalog(spark, sf_dir)
    daily = t.orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).alias("arrivals"))
    cap = daily.groupBy("o_orderpriority").agg(
        F.expr("(sum(arrivals) * 2 + count(*)) div (2 * count(*))").alias(
            "capacity"
        )
    )
    wcum = (
        W.partitionBy("o_orderpriority").orderBy("d").rowsBetween(
            W.unboundedPreceding, 0
        )
    )
    s = daily.join(cap, "o_orderpriority").withColumn(
        "st", F.sum(F.col("arrivals") - F.col("capacity")).over(wcum)
    )
    backlog = F.col("st") - F.least(F.min("st").over(wcum), F.lit(0))
    return s.select(
        "o_orderpriority",
        F.col("d").alias("day"),
        "arrivals",
        F.col("capacity").cast("long").alias("capacity"),
        backlog.cast("long").alias("backlog"),
        (backlog > 2 * F.col("capacity")).alias("overloaded"),
    )


@register(
    "seasonal_strength_store",
    oracle="""
WITH daily AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
), trend AS (
  SELECT l_suppkey, d, qty,
         avg(qty) OVER (PARTITION BY l_suppkey ORDER BY d
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS tr,
         count(*) OVER (PARTITION BY l_suppkey ORDER BY d
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
  FROM daily
), det AS (
  SELECT l_suppkey, d,
         CAST(floor((qty - tr) * 10000 + 0.5) AS BIGINT) AS det4,
         CAST(isodow(d) AS INTEGER) AS dow
  FROM trend WHERE wn = 7
), dowm AS (
  SELECT l_suppkey, dow,
         CAST(sum(det4) AS BIGINT) AS sd4, CAST(count(*) AS BIGINT) AS nd
  FROM det GROUP BY 1, 2
), rem AS (
  SELECT det.l_suppkey,
         det.det4 / 10000.0 AS detrended,
         det.det4 / 10000.0 - dowm.sd4 * 1.0 / (dowm.nd * 10000.0) AS remainder
  FROM det JOIN dowm ON det.l_suppkey = dowm.l_suppkey AND det.dow = dowm.dow
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_days,
       round(var_samp(detrended), 4) AS var_detrended,
       round(var_samp(remainder), 4) AS var_remainder,
       round(greatest(0, 1 - var_samp(remainder) / nullif(var_samp(detrended), 0)),
             4) AS seasonal_strength
FROM rem GROUP BY 1
""",
)
def seasonal_strength_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal-strength diagnostic per store (Hyndman's
    STL-strength measure, simplified to a moving-average decomposition):
    detrend daily demand with a centered 7-day mean, estimate the
    day-of-week seasonal component, and report
    1 − var(remainder)/var(detrended) — how much of the detrended
    variation the weekly cycle explains.  This is the decision statistic
    behind the reference's seasonal-adjustment post-processor
    (/root/reference/src/submissions/post_processor.py:233-349 nudges
    toward dow means unconditionally; the strength says WHEN that helps).

    Cross-engine: the detrended series is quantized to BIGINT 1e-4 units
    before the dow-mean sums (order-free), remainders are then identical
    doubles, and the final variances tolerate engine-order ulp under 4dp
    rounding (established wmape-family precedent).  Incomplete trend
    windows (edges) are excluded via the exact count=7 guard.

    Scale: day-grain aggregate, then store-keyed windows and aggregates
    throughout — one shuffle chain on the store key."""
    t = Catalog(spark, sf_dir)
    daily = t.lineitem.groupBy(
        "l_suppkey", F.to_date("l_shipdate").alias("d")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    wtr = W.partitionBy("l_suppkey").orderBy("d").rowsBetween(-3, 3)
    trend = daily.select(
        "l_suppkey",
        "d",
        "qty",
        F.avg("qty").over(wtr).alias("tr"),
        F.count(F.lit(1)).over(wtr).alias("wn"),
    )
    from hackatonbigdata_spark.functions.core import iso_dow

    det = trend.filter(F.col("wn") == 7).select(
        "l_suppkey",
        F.floor((F.col("qty") - F.col("tr")) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("det4"),
        iso_dow(F.col("d")).alias("dow"),
    )
    dowm = det.groupBy("l_suppkey", "dow").agg(
        F.sum("det4").alias("sd4"), F.count(F.lit(1)).alias("nd")
    )
    rem = det.join(dowm, ["l_suppkey", "dow"]).select(
        "l_suppkey",
        (F.col("det4") / F.lit(10000.0)).alias("detrended"),
        (
            F.col("det4") / F.lit(10000.0)
            - F.col("sd4") * F.lit(1.0) / (F.col("nd") * F.lit(10000.0))
        ).alias("remainder"),
    )
    return rem.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_days"),
        r4(F.var_samp("detrended")).alias("var_detrended"),
        r4(F.var_samp("remainder")).alias("var_remainder"),
        r4(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - F.var_samp("remainder")
                / F.nullif(F.var_samp("detrended"), F.lit(0.0)),
            )
        ).alias("seasonal_strength"),
    )


@register(
    "window_max_drawdown",
    oracle="""
WITH daily AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                       AS BIGINT)) AS BIGINT) AS rev_c
  FROM lineitem GROUP BY 1, 2
), base AS (
  SELECT l_suppkey, d, rev_c,
         (CAST(sum(rev_c) OVER (PARTITION BY l_suppkey) AS BIGINT) * 2
          + count(*) OVER (PARTITION BY l_suppkey))
         // (2 * count(*) OVER (PARTITION BY l_suppkey)) AS avg_c
  FROM daily
), ce AS (
  SELECT l_suppkey, d,
         sum(rev_c - avg_c) OVER (PARTITION BY l_suppkey ORDER BY d
                                  ROWS UNBOUNDED PRECEDING) AS cum_excess
  FROM base
), cum AS (
  SELECT l_suppkey, d, cum_excess,
         max(cum_excess) OVER (PARTITION BY l_suppkey ORDER BY d
                               ROWS UNBOUNDED PRECEDING) AS run_peak
  FROM ce
)
, dd AS (
  SELECT l_suppkey, d, run_peak - cum_excess AS ddv,
         max(run_peak - cum_excess) OVER (PARTITION BY l_suppkey) AS max_dd
  FROM cum
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_days,
       round(max(ddv) / 100.0, 4) AS max_drawdown,
       CAST(min(CASE WHEN ddv = max_dd THEN d END) AS DATE) AS trough_day
FROM dd GROUP BY 1
""",
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per store: the deepest peak-to-trough slide of
    cumulative revenue relative to its own mean run-rate — the
    demand-collapse severity measure (finance's drawdown applied to
    demand), complementing ``window_decline_indicator``'s binary flag and
    ``window_cusum_changepoint``'s break LOCATION with the break DEPTH.

    Exactness: revenue quantizes to integer cents per row; the mean daily
    run-rate uses round-half-up integer division; cumulative excess and
    running peak are BIGINT window folds; the trough day tie-breaks to
    the earliest date.

    Scale: day-grain keyed aggregate then store-keyed running windows —
    two integers of state per store."""
    t = Catalog(spark, sf_dir)
    daily = t.lineitem.groupBy(
        "l_suppkey", F.to_date("l_shipdate").alias("d")
    ).agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                + F.lit(0.5)
            ).cast("long")
        ).alias("rev_c")
    )
    wall = W.partitionBy("l_suppkey")
    avg_c = F.expr(
        "(sum(rev_c) OVER (PARTITION BY l_suppkey) * 2"
        " + count(*) OVER (PARTITION BY l_suppkey))"
        " div (2 * count(*) OVER (PARTITION BY l_suppkey))"
    )
    base = daily.withColumn("avg_c", avg_c)
    wcum = W.partitionBy("l_suppkey").orderBy("d").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = base.select(
        "l_suppkey",
        "d",
        F.sum(F.col("rev_c") - F.col("avg_c")).over(wcum).alias("cum_excess"),
    ).withColumn("run_peak", F.max("cum_excess").over(wcum))
    dd = F.col("run_peak") - F.col("cum_excess")
    return (
        cum.withColumn("dd", dd)
        .withColumn("max_dd", F.max("dd").over(wall))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            r4(F.max("dd") / F.lit(100.0)).alias("max_drawdown"),
            F.min(F.when(F.col("dd") == F.col("max_dd"), F.col("d"))).alias(
                "trough_day"
            ),
        )
    )


@register(
    "orders_ship_sla",
    oracle="""
WITH lag_days AS (
  SELECT o.o_orderpriority,
         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(avg(lag_d), 4) AS avg_lag_days,
       round(quantile_cont(lag_d, 0.9), 4) AS p90_lag_days,
       round(sum(CASE WHEN lag_d <= 30 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS sla30_rate,
       round(sum(CASE WHEN lag_d <= 60 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS sla60_rate
FROM lag_days GROUP BY 1
""",
)
def orders_ship_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship SLA compliance per priority class: lag distribution
    (mean, p90) and 30/60-day fill rates — the fulfilment KPI table the
    reference's KPI system thresholds
    (/root/reference/src/validation/kpi_system.py:43-330) would read for
    logistics, built on the same interval the coverage-union query merges.

    Exactness: day lags are integers; rates divide integer counts; the
    mean averages integers (exact sum / count); only the interpolated p90
    leans on the established grouped-quantile parity.

    Scale: one broadcast-joined scan + one keyed aggregate."""
    t = Catalog(spark, sf_dir)
    lag_days = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("lag_d"),
        )
    )
    in30 = F.when(F.col("lag_d") <= 30, 1).otherwise(0)
    in60 = F.when(F.col("lag_d") <= 60, 1).otherwise(0)
    return lag_days.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        r4(F.avg("lag_d")).alias("avg_lag_days"),
        r4(F.percentile("lag_d", F.lit(0.9))).alias("p90_lag_days"),
        r4(F.sum(in30) * F.lit(1.0) / F.count(F.lit(1))).alias("sla30_rate"),
        r4(F.sum(in60) * F.lit(1.0) / F.count(F.lit(1))).alias("sla60_rate"),
    )


@register(
    "decompose_stl_residuals",
    oracle="""
WITH d AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
         CAST(sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) AS BIGINT)
           AS v4
  FROM lineitem GROUP BY 1, 2
), tw AS (
  SELECT l_suppkey, day, v4, isodow(day) AS dw,
         CAST(sum(v4) OVER w AS BIGINT) AS t7,
         count(*) OVER w AS wn
  FROM d
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT l_suppkey, day, dw, v4, t7, 7 * v4 - t7 AS dq
  FROM tw WHERE wn = 7
), seas AS (
  SELECT l_suppkey, dw,
         CAST(sum(dq) AS BIGINT) AS s_sum,
         CAST(count(*) AS BIGINT) AS s_n
  FROM det GROUP BY 1, 2
), r AS (
  SELECT det.l_suppkey, det.day, det.v4, det.t7, seas.s_sum, seas.s_n,
         CAST(floor((det.dq - seas.s_sum * 1.0 / seas.s_n) / 7.0 + 0.5)
              AS BIGINT) AS rq
  FROM det JOIN seas
    ON det.l_suppkey = seas.l_suppkey AND det.dw = seas.dw
), st AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rq) AS BIGINT) AS sr,
         CAST(sum(rq * rq) AS BIGINT) AS srr
  FROM r GROUP BY 1
)
SELECT r.l_suppkey, r.day,
       round(r.v4 / 10000.0, 4) AS daily_qty,
       round(r.t7 / 70000.0, 4) AS trend,
       round(r.s_sum * 1.0 / (r.s_n * 70000.0), 4) AS seasonal,
       round(r.rq / 10000.0, 4) AS residual
FROM r JOIN st ON r.l_suppkey = st.l_suppkey
WHERE st.n > 1
  AND r.rq * r.rq * (st.n - 1) * st.n
      > 4 * (st.n * st.srr - st.sr * st.sr)
""",
)
def decompose_stl_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive TREND + SEASONAL + RESIDUAL decomposition of each store's
    daily demand (the classical-decomposition backbone of STL, Cleveland
    et al. 1990, without loess smoothing) with residual-based anomaly
    flags — the composed operator behind ``window_centered_smoothing``
    (the trend half) and ``window_seasonal_dow`` (the seasonal half):
    trend is the full centered 7-row mean over the observed daily grid,
    the seasonal term is each ISO-weekday's mean DETRENDED value, and
    rows whose residual exceeds 2 sigma of the store's residuals are
    returned with all three components — the "demand was genuinely
    abnormal, not trend, not weekday" report.

    Exactness: daily volumes are BIGINT 1e-4 units; detrended values
    stay integer by working in 7ths (dq = 7*v4 - t7); the residual is
    quantized back to the 1e-4 grid the moment the seasonal mean (one
    double division from two exact integers) is subtracted, so the
    per-store variance comes from EXACT integer sums and the 2-sigma
    gate is a pure integer comparison — rq^2 * n(n-1) > 4(n*Srr - Sr^2)
    — with no float accumulation anywhere.

    Reference parity: the reference decomposes series with
    statsmodels-style rolling means and weekday factors in its feature
    engine (/root/reference/src/features/intelligent_features.py family)
    but never surfaces the residual anomaly view; the 2-sigma residual
    gate matches its outlier conventions
    (/root/reference/src/evaluation/error_analysis.py:400-520).

    Scale: one keyed daily aggregate, one store-partitioned window, one
    (store, dow) aggregate joined back, one store aggregate — every
    shuffle is on the store key already paid by the window."""
    t = Catalog(spark, sf_dir)
    d = t.lineitem.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("l_quantity") * 10000 + F.lit(0.5)))
        .cast("long")
        .alias("v4")
    )
    w = W.partitionBy("l_suppkey").orderBy("day").rowsBetween(-3, 3)
    tw = d.select(
        "l_suppkey",
        "day",
        "v4",
        iso_dow(F.col("day")).alias("dw"),
        F.sum("v4").over(w).cast("long").alias("t7"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    det = tw.filter(F.col("wn") == 7).select(
        "l_suppkey",
        "day",
        "dw",
        "v4",
        "t7",
        (F.lit(7) * F.col("v4") - F.col("t7")).alias("dq"),
    )
    seas = det.groupBy("l_suppkey", "dw").agg(
        F.sum("dq").cast("long").alias("s_sum"),
        F.count(F.lit(1)).cast("long").alias("s_n"),
    )
    r = det.join(seas, ["l_suppkey", "dw"]).select(
        "l_suppkey",
        "day",
        "v4",
        "t7",
        "s_sum",
        "s_n",
        F.floor(
            (F.col("dq") - F.col("s_sum") * F.lit(1.0) / F.col("s_n"))
            / F.lit(7.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("rq"),
    )
    st = r.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rq").cast("long").alias("sr"),
        F.sum(F.col("rq") * F.col("rq")).cast("long").alias("srr"),
    )
    n, sr, srr, rq = F.col("n"), F.col("sr"), F.col("srr"), F.col("rq")
    return (
        r.join(st, "l_suppkey")
        .filter(
            (n > 1)
            & (rq * rq * (n - 1) * n > F.lit(4) * (n * srr - sr * sr))
        )
        .select(
            "l_suppkey",
            "day",
            r4(F.col("v4") / F.lit(10000.0)).alias("daily_qty"),
            r4(F.col("t7") / F.lit(70000.0)).alias("trend"),
            r4(
                F.col("s_sum") * F.lit(1.0) / (F.col("s_n") * F.lit(70000.0))
            ).alias("seasonal"),
            r4(F.col("rq") / F.lit(10000.0)).alias("residual"),
        )
    )


_BSEG_MINSEG = 7  # minimum days on each side of a candidate split


@register(
    "window_changepoint_binseg",
    oracle=f"""
WITH d AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
         CAST(sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) AS BIGINT)
           AS v4
  FROM lineitem GROUP BY 1, 2
), p AS (
  SELECT l_suppkey, day, v4,
         CAST(row_number() OVER w AS BIGINT) AS i,
         CAST(sum(v4) OVER w AS BIGINT) AS sk,
         CAST(sum(v4) OVER (PARTITION BY l_suppkey) AS BIGINT) AS sn,
         CAST(count(*) OVER (PARTITION BY l_suppkey) AS BIGINT) AS n
  FROM d
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY day)
), cand AS (
  SELECT l_suppkey, day, i, sk, sn, n,
         CAST(sk AS DOUBLE) * sk / i
           + CAST(sn - sk AS DOUBLE) * (sn - sk) / (n - i) AS obj
  FROM p
  WHERE i >= {_BSEG_MINSEG} AND i <= n - {_BSEG_MINSEG}
), best AS (
  SELECT *, row_number() OVER (PARTITION BY l_suppkey
                               ORDER BY obj DESC, i) AS rn
  FROM cand
)
SELECT l_suppkey, CAST(n AS BIGINT) AS n_days, day AS split_day,
       round(sk / (i * 10000.0), 4) AS mean_before,
       round((sn - sk) / ((n - i) * 10000.0), 4) AS mean_after,
       round((obj - CAST(sn AS DOUBLE) * sn / n) / 100000000.0, 4)
         AS sse_gain
FROM best WHERE rn = 1
""",
)
def window_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-CHANGEPOINT localization per store — the first step of
    binary segmentation (Scott & Knott 1974; the workhorse behind ruptures'
    BinSeg): the split of the daily demand series that maximally reduces
    total squared error, i.e. argmax_k S_k^2/k + (S_n-S_k)^2/(n-k), with
    the classic minimum-segment guard of {minseg} days per side.  The
    LOCALIZATION companion to ``window_cusum_changepoint`` (CUSUM says
    "something drifted", binseg says WHERE) — together the standard level-
    shift pair; the day, the two segment means, and the SSE reduction (in
    value^2 units — the score a recursive segmentation would threshold
    on) come back per store.

    Exactness: prefix sums are exact BIGINT on the 1e-4 grid; each
    candidate's objective is one identically-structured double expression
    from those exact integers (the Cramer-solve discipline), ranked with
    a deterministic position tie-break, so the argmax is cross-engine
    stable without any float accumulation.

    Reference parity: the reference detects performance drift over
    fixed calendar halves (/root/reference/src/evaluation/
    error_analysis.py:400-520); this finds the data-driven break.

    Scale: one keyed daily aggregate + one store-ordered cumulative
    window + one rank — all on the store key; the candidate table is
    |store-days|, never quadratic, because prefix sums make every
    split's SSE O(1)."""
    t = Catalog(spark, sf_dir)
    d = t.lineitem.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("l_quantity") * 10000 + F.lit(0.5)))
        .cast("long")
        .alias("v4")
    )
    w = W.partitionBy("l_suppkey").orderBy("day")
    wa = W.partitionBy("l_suppkey")
    p = d.select(
        "l_suppkey",
        "day",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("v4").over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("sk"),
        F.sum("v4").over(wa).cast("long").alias("sn"),
        F.count(F.lit(1)).over(wa).cast("long").alias("n"),
    )
    i, sk, sn, n = F.col("i"), F.col("sk"), F.col("sn"), F.col("n")
    cand = p.filter(
        (i >= _BSEG_MINSEG) & (i <= n - _BSEG_MINSEG)
    ).withColumn(
        "obj",
        sk.cast("double") * sk / i
        + (sn - sk).cast("double") * (sn - sk) / (n - i),
    )
    wr = W.partitionBy("l_suppkey").orderBy(F.col("obj").desc(), "i")
    return (
        cand.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "l_suppkey",
            n.alias("n_days"),
            F.col("day").alias("split_day"),
            r4(sk / (i * F.lit(10000.0))).alias("mean_before"),
            r4((sn - sk) / ((n - i) * F.lit(10000.0))).alias("mean_after"),
            r4(
                (F.col("obj") - sn.cast("double") * sn / n)
                / F.lit(100000000.0)
            ).alias("sse_gain"),
        )
    )


window_changepoint_binseg.__doc__ = window_changepoint_binseg.__doc__.format(
    minseg=_BSEG_MINSEG
)
