"""Forecast-pipeline semantics (SURVEY.md §2.9-2.10).

The reference's model-adjacent dataflow re-expressed as queries:
WMAPE-family metrics, walk-forward CV fold generation, intermittency
classification, the business-rules post-processing rewrites, and the
heuristic coalesce-blend predictor (the reference's fallback forecaster).

A deterministic "forecast" column (lagged rolling mean, quantized) stands in
for model output so every metric/post-processing operator is
oracle-checkable end-to-end.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import h32, r4, wmape_expr
from hackatonbigdata_spark.functions.materialize import materialize
from hackatonbigdata_spark.operators.series_kernels import _daily
from hackatonbigdata_spark.registry import register

_ORDER_SQL = "l_shipdate, l_orderkey, l_linenumber"

# shared forecast construction: yesterday's 7-row rolling mean, quantized —
# both engines build the identical column before any metric touches it.
_FORECAST_SQL = f"""
  SELECT l_suppkey, l_partkey, l_shipdate, l_orderkey, l_linenumber, actual,
         CASE WHEN rm_lag IS NULL THEN NULL
              ELSE sign(rm_lag) * (floor(abs(rm_lag) * 10000 + 0.5) / 10000) END AS forecast
  FROM (
    SELECT l_suppkey, l_partkey, l_shipdate, l_orderkey, l_linenumber, actual,
           lag(rm) OVER (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}) AS rm_lag
    FROM (
      SELECT l_suppkey, l_partkey, l_shipdate, l_orderkey, l_linenumber,
             l_quantity AS actual,
             avg(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
                                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rm
      FROM lineitem
    )
  )
"""


def _with_forecast(t: Catalog) -> DataFrame:
    seq = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    roll = seq.rowsBetween(-6, 0)
    df = t.lineitem.select(
        "l_suppkey",
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("actual"),
        F.avg("l_quantity").over(roll).alias("_rm"),
    )
    # quantize BEFORE lag so both engines carry the identical double
    q = F.signum(F.lag("_rm").over(seq)) * (
        F.floor(F.abs(F.lag("_rm").over(seq)) * 10000.0 + 0.5) / 10000.0
    )
    return df.withColumn("forecast", q).drop("_rm")


@register(
    "metric_suite_global",
    oracle=f"""
WITH f AS ({_FORECAST_SQL})
SELECT round(sum(abs(actual - forecast)) / sum(abs(actual)) * 100, 4) AS wmape,
       round(100 * avg(abs(actual - forecast) / nullif(abs(actual), 0)), 4) AS mape,
       round(avg(abs(actual - forecast)), 4) AS mae,
       round(sqrt(avg((actual - forecast) * (actual - forecast))), 4) AS rmse,
       round(avg(forecast - actual), 4) AS bias,
       round(100 * avg(2 * abs(actual - forecast) / nullif(abs(actual) + abs(forecast), 0)), 4)
         AS smape,
       count(*) AS n_rows
FROM f WHERE forecast IS NOT NULL
""",
)
def metric_suite_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WMAPE / MAPE / MAE / RMSE / bias / sMAPE in one distributed aggregate
    (/root/reference/src/evaluation/metrics.py:12-126; plain MAPE masks
    zero-actual rows via nullif, the reference's epsilon guard).  At any
    scale this is one map-side-combined shuffle of a handful of doubles."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    a, p = F.col("actual"), F.col("forecast")
    return f.agg(
        r4(F.sum(F.abs(a - p)) / F.sum(F.abs(a)) * 100).alias("wmape"),
        r4(100 * F.avg(F.abs(a - p) / F.nullif(F.abs(a), F.lit(0.0)))).alias("mape"),
        r4(F.avg(F.abs(a - p))).alias("mae"),
        r4(F.sqrt(F.avg((a - p) * (a - p)))).alias("rmse"),
        r4(F.avg(p - a)).alias("bias"),
        r4(100 * F.avg(2 * F.abs(a - p) / F.nullif(F.abs(a) + F.abs(p), F.lit(0.0)))).alias(
            "smape"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "metric_wmape_by_store",
    oracle=f"""
WITH f AS ({_FORECAST_SQL})
SELECT l_suppkey,
       round(sum(abs(actual - forecast)) / sum(abs(actual)) * 100, 4) AS wmape,
       round(avg(abs(actual - forecast)), 4) AS mae,
       round(avg(forecast - actual), 4) AS bias,
       count(*) AS n_rows
FROM f WHERE forecast IS NOT NULL
GROUP BY l_suppkey
""",
)
def metric_wmape_by_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented WMAPE (/root/reference/src/evaluation/metrics.py:128-157)."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    a, p = F.col("actual"), F.col("forecast")
    return f.groupBy("l_suppkey").agg(
        r4(F.sum(F.abs(a - p)) / F.sum(F.abs(a)) * 100).alias("wmape"),
        r4(F.avg(F.abs(a - p))).alias("mae"),
        r4(F.avg(p - a)).alias("bias"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "metric_abc_tiers",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
vol AS (
  SELECT l_partkey, CAST(floor(sum(actual) * 10000 + 0.5) AS BIGINT) AS vl
  FROM f GROUP BY l_partkey
), cum AS (
  SELECT l_partkey,
         sum(vl) OVER (ORDER BY vl DESC, l_partkey) AS cum_vl,
         sum(vl) OVER () AS tot_vl
  FROM vol
), tiers AS (
  SELECT l_partkey,
         CASE WHEN 5 * cum_vl <= 4 * tot_vl THEN 'A'
              WHEN 20 * cum_vl <= 19 * tot_vl THEN 'B'
              ELSE 'C' END AS abc_tier
  FROM cum
)
SELECT abc_tier,
       round(sum(abs(actual - forecast)) / sum(abs(actual)) * 100, 4) AS wmape,
       round(avg(abs(actual - forecast)), 4) AS mae,
       CAST(count(DISTINCT f.l_partkey) AS BIGINT) AS n_parts,
       count(*) AS n_rows
FROM f JOIN tiers ON f.l_partkey = tiers.l_partkey
WHERE forecast IS NOT NULL
GROUP BY abc_tier
""",
)
def metric_abc_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-tier (cumulative-volume 80/95) metric table
    (/root/reference/src/evaluation/metrics.py:159-217).

    Scale: the cumulative share over all parts is computed as a BUCKETED
    prefix sum, not a global ordered window (WindowExec with no partition
    key moves every row to one task).  Parts are binned by balanced
    approx-quantile edges of their volume (the bin layout is a physical
    detail — results are edge-independent), per-bin running sums stay
    partition-parallel, and the ≤ O(bins) cross-bin offsets are driver-side
    metadata, exactly like Spark's own RangePartitioner sampling.  Volume is
    carried as a 1e4-scaled BIGINT so every sum is order-independent and
    the 80/95 thresholds are exact integer comparisons in both engines."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t)
    vol = f.groupBy("l_partkey").agg(
        F.floor(F.sum("actual") * 10000.0 + F.lit(0.5)).cast("long").alias("vl")
    )
    # balanced monotonic bins: ~32 approx-quantile edges of vl (tiny driver
    # metadata; any monotonic binning yields identical results)
    qs = [i / 32.0 for i in range(1, 32)]
    edges = sorted(set(vol.agg(F.percentile_approx("vl", qs).alias("e")).first()["e"] or []))
    bin_col = F.lit(0)
    for e in edges:
        bin_col = bin_col + F.when(F.col("vl") > F.lit(int(e)), 1).otherwise(0)
    binned = vol.withColumn("bin", bin_col)
    # per-bin totals -> driver (≤ len(edges)+1 rows): offset of each bin is
    # the total volume of all strictly-higher-volume bins
    bin_tot = {
        r["bin"]: r["s"]
        for r in binned.groupBy("bin").agg(F.sum("vl").alias("s")).collect()
    }
    tot_vl = sum(bin_tot.values())
    running, offs = 0, {}
    for b in sorted(bin_tot, reverse=True):
        offs[b] = running
        running += bin_tot[b]
    off_col = F.lit(0)
    for b, o in offs.items():
        off_col = F.when(F.col("bin") == b, F.lit(o)).otherwise(off_col)
    in_bin = (
        W.partitionBy("bin")
        .orderBy(F.col("vl").desc(), F.col("l_partkey"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = binned.withColumn("cum_vl", off_col.cast("long") + F.sum("vl").over(in_bin))
    # thresholds premultiplied in Python (arbitrary precision) and emitted as
    # LONG literals — `4 * F.lit(tot)` would overflow if tot fits int32
    a_thr = F.lit(4 * int(tot_vl)).cast("long")
    b_thr = F.lit(19 * int(tot_vl)).cast("long")
    tiers = cum.select(
        "l_partkey",
        F.when(5 * F.col("cum_vl") <= a_thr, "A")
        .when(20 * F.col("cum_vl") <= b_thr, "B")
        .otherwise("C")
        .alias("abc_tier"),
    )
    a, p = F.col("actual"), F.col("forecast")
    # tiers is per-part (can exceed broadcast size at scale) — let AQE pick
    # the join strategy rather than forcing a broadcast
    return (
        f.filter(p.isNotNull())
        .join(tiers, "l_partkey")
        .groupBy("abc_tier")
        .agg(
            r4(F.sum(F.abs(a - p)) / F.sum(F.abs(a)) * 100).alias("wmape"),
            r4(F.avg(F.abs(a - p))).alias("mae"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "cv_walkforward_folds",
    oracle="""
WITH bounds AS (
  SELECT min(l_shipdate) AS d0, max(l_shipdate) AS d1 FROM lineitem
), folds AS (
  SELECT f.fold_id,
         d0 + INTERVAL 1 DAY * (7 * (52 + f.fold_id)) AS train_end,
         d0 + INTERVAL 1 DAY * (7 * (53 + f.fold_id)) AS val_start,
         d0 + INTERVAL 1 DAY * (7 * (57 + f.fold_id)) AS val_end
  FROM bounds, (SELECT CAST(unnest(generate_series(0, 9)) AS INTEGER) AS fold_id) f
  WHERE d0 + INTERVAL 1 DAY * (7 * (57 + f.fold_id)) <= d1
)
SELECT fold_id, train_end, val_start, val_end,
       (SELECT count(*) FROM lineitem WHERE l_shipdate < train_end) AS n_train,
       (SELECT count(*) FROM lineitem
        WHERE l_shipdate >= val_start AND l_shipdate < val_end) AS n_val
FROM folds
""",
)
def cv_walkforward_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward CV folds: 52-week initial train, 4-week horizon, 1-week
    step, 1-week embargo, ≤10 splits
    (/root/reference/src/models/time_series_cv.py:42-157;
    lightgbm_master.py:210-245).  Folds are date-threshold filters — at any
    scale this is a broadcast of ~10 fold rows against the fact table."""
    t = Catalog(spark, sf_dir)
    bounds = t.lineitem.agg(
        F.min("l_shipdate").alias("d0"), F.max("l_shipdate").alias("d1")
    )
    folds = (
        spark.range(10)
        .select(F.col("id").cast("int").alias("fold_id"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "fold_id",
            F.date_add(F.col("d0").cast("date"), 7 * (52 + F.col("fold_id")))
            .cast("timestamp_ntz")
            .alias("train_end"),
            F.date_add(F.col("d0").cast("date"), 7 * (53 + F.col("fold_id")))
            .cast("timestamp_ntz")
            .alias("val_start"),
            F.date_add(F.col("d0").cast("date"), 7 * (57 + F.col("fold_id")))
            .cast("timestamp_ntz")
            .alias("val_end"),
            "d1",
        )
        .filter(F.col("val_end") <= F.col("d1"))
        .drop("d1")
    )
    li = t.lineitem.select("l_shipdate")
    joined = li.crossJoin(F.broadcast(folds))
    return (
        joined.groupBy("fold_id", "train_end", "val_start", "val_end")
        .agg(
            F.sum(F.when(F.col("l_shipdate") < F.col("train_end"), 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= F.col("val_start"))
                    & (F.col("l_shipdate") < F.col("val_end")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_val"),
        )
    )


@register(
    "intermittency_classify",
    oracle="""
WITH span AS (
  SELECT l_partkey,
         date_diff('day', min(l_shipdate), max(l_shipdate)) + 1 AS span_days,
         count(DISTINCT l_shipdate) AS active_days,
         avg(l_quantity) AS mu,
         stddev_samp(l_quantity) AS sigma
  FROM lineitem GROUP BY l_partkey
), c AS (
  SELECT l_partkey,
         CAST(span_days AS BIGINT) AS span_days,
         CAST(active_days AS BIGINT) AS active_days,
         round(1.0 - active_days * 1.0 / span_days, 4) AS zero_day_ratio,
         round(span_days * 1.0 / active_days, 4) AS adi,
         round((sigma / nullif(mu, 0)) * (sigma / nullif(mu, 0)), 4) AS cv2
  FROM span
)
SELECT l_partkey, span_days, active_days, zero_day_ratio, adi, cv2,
       CASE WHEN adi >= 1.32 AND cv2 >= 0.49 THEN 'lumpy'
            WHEN adi >= 1.32 THEN 'intermittent'
            WHEN cv2 >= 0.49 THEN 'erratic'
            ELSE 'smooth' END AS demand_class
FROM c
""",
)
def intermittency_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan intermittency classification (ADI × CV² quadrants)
    (/root/reference/src/models/intermittent_demand.py:411-490) — pure
    aggregations, no per-series python."""
    t = Catalog(spark, sf_dir)
    span = t.lineitem.groupBy("l_partkey").agg(
        (F.datediff(F.max("l_shipdate"), F.min("l_shipdate")) + 1).cast("long").alias("span_days"),
        F.countDistinct("l_shipdate").alias("active_days"),
        F.avg("l_quantity").alias("mu"),
        F.stddev("l_quantity").alias("sigma"),
    )
    cv = F.col("sigma") / F.nullif(F.col("mu"), F.lit(0.0))
    c = span.select(
        "l_partkey",
        "span_days",
        "active_days",
        r4(1.0 - F.col("active_days") * F.lit(1.0) / F.col("span_days")).alias("zero_day_ratio"),
        r4(F.col("span_days") * F.lit(1.0) / F.col("active_days")).alias("adi"),
        r4(cv * cv).alias("cv2"),
    )
    return c.withColumn(
        "demand_class",
        F.when((F.col("adi") >= 1.32) & (F.col("cv2") >= 0.49), "lumpy")
        .when(F.col("adi") >= 1.32, "intermittent")
        .when(F.col("cv2") >= 0.49, "erratic")
        .otherwise("smooth"),
    )


@register(
    "postproc_clip_caps",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
keystats AS (
  SELECT l_partkey,
         floor(avg(actual) * 10000 + 0.5) / 10000 AS mu,
         floor(coalesce(stddev_samp(actual), 0) * 10000 + 0.5) / 10000 AS sigma
  FROM f GROUP BY l_partkey
), p99 AS (
  SELECT floor(quantile_cont(forecast, 0.99) * 10000 + 0.5) / 10000 AS cap99
  FROM f WHERE forecast IS NOT NULL
)
SELECT f.l_suppkey, f.l_partkey, f.l_orderkey, f.l_linenumber, forecast,
       round(least(greatest(forecast, 0), mu + 5 * sigma, cap99), 4) AS forecast_capped
FROM f JOIN keystats ON f.l_partkey = keystats.l_partkey, p99
WHERE forecast IS NOT NULL
""",
)
def postproc_clip_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-processing caps: non-negativity, hist-mean+5σ clip, global P99
    quantile cap (/root/reference/src/submissions/post_processor.py:100-231)."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t)
    keystats = f.groupBy("l_partkey").agg(
        r4(F.avg("actual")).alias("mu"),
        r4(F.coalesce(F.stddev("actual"), F.lit(0.0))).alias("sigma"),
    )
    p99 = f.filter(F.col("forecast").isNotNull()).agg(
        r4(F.percentile("forecast", F.lit(0.99))).alias("cap99")
    )
    return (
        f.filter(F.col("forecast").isNotNull())
        .join(keystats, "l_partkey")
        .crossJoin(F.broadcast(p99))
        .select(
            "l_suppkey",
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            "forecast",
            r4(
                F.least(
                    F.greatest(F.col("forecast"), F.lit(0.0)),
                    F.col("mu") + 5 * F.col("sigma"),
                    F.col("cap99"),
                )
            ).alias("forecast_capped"),
        )
    )


@register(
    "postproc_business_rules",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
p AS (
  SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber, forecast
  FROM f WHERE forecast IS NOT NULL
), moq AS (
  SELECT *,
         CASE WHEN forecast < 6 THEN 0.0
              ELSE ceil(forecast / 12.0) * 12.0 END AS forecast_moq
  FROM p
), cap AS (
  SELECT *,
         sum(forecast_moq) OVER (PARTITION BY l_suppkey) AS store_total
  FROM moq
)
SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber, forecast, forecast_moq,
       round(CASE WHEN store_total > 50000
                  THEN forecast_moq * 50000 / store_total
                  ELSE forecast_moq END, 4) AS forecast_final,
       CASE WHEN forecast < 0.5 THEN 0
            ELSE CAST(floor(forecast + 0.5) AS BIGINT) END AS forecast_int
FROM cap
""",
)
def postproc_business_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business rules: MOQ rounding (min-order 12, zero below half), per-store
    capacity scaling, integer rounding with zero-below-0.5
    (/root/reference/src/models/business_rules.py:120-208,553-690)."""
    t = Catalog(spark, sf_dir)
    p = _with_forecast(t).filter(F.col("forecast").isNotNull())
    moq = p.withColumn(
        "forecast_moq",
        F.when(F.col("forecast") < 6, F.lit(0.0)).otherwise(
            F.ceil(F.col("forecast") / 12.0) * 12.0
        ),
    )
    cap = moq.withColumn("store_total", F.sum("forecast_moq").over(W.partitionBy("l_suppkey")))
    return cap.select(
        "l_suppkey",
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "forecast",
        "forecast_moq",
        r4(
            F.when(
                F.col("store_total") > 50000,
                F.col("forecast_moq") * 50000 / F.col("store_total"),
            ).otherwise(F.col("forecast_moq"))
        ).alias("forecast_final"),
        F.when(F.col("forecast") < 0.5, F.lit(0))
        .otherwise(F.floor(F.col("forecast") + 0.5))
        .cast("long")
        .alias("forecast_int"),
    )


@register(
    "postproc_seasonal_nudge",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
p AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, forecast
  FROM f WHERE forecast IS NOT NULL
), s AS (
  SELECT *,
         floor(avg(forecast) OVER (PARTITION BY l_suppkey, isodow(l_shipdate)) * 10000 + 0.5)
           / 10000 AS dow_mean
  FROM p
)
SELECT l_suppkey, l_orderkey, l_linenumber, forecast, dow_mean,
       round(forecast + least(greatest(dow_mean - forecast, -0.05 * forecast),
                              0.05 * forecast), 4) AS forecast_nudged
FROM s
""",
)
def postproc_seasonal_nudge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal adjustment: nudge ≤±5% toward the per-(store, dow) seasonal
    mean (/root/reference/src/submissions/post_processor.py:233-349)."""
    from hackatonbigdata_spark.functions.core import iso_dow

    t = Catalog(spark, sf_dir)
    p = _with_forecast(t).filter(F.col("forecast").isNotNull())
    s = p.withColumn(
        "dow_mean",
        r4(F.avg("forecast").over(W.partitionBy("l_suppkey", iso_dow("l_shipdate")))),
    )
    nudge = F.least(
        F.greatest(F.col("dow_mean") - F.col("forecast"), -0.05 * F.col("forecast")),
        0.05 * F.col("forecast"),
    )
    return s.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "forecast",
        "dow_mean",
        r4(F.col("forecast") + nudge).alias("forecast_nudged"),
    )


@register(
    "heuristic_blend_forecast",
    oracle="""
WITH sp AS (
  SELECT l_suppkey, l_partkey,
         floor(quantile_cont(l_quantity, 0.75) * 10000 + 0.5) / 10000 AS sp_q75
  FROM lineitem GROUP BY l_suppkey, l_partkey
), st AS (
  SELECT l_suppkey, floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS store_mean
  FROM lineitem GROUP BY l_suppkey
), pr AS (
  SELECT l_partkey, floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS part_mean,
         floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS part_vol
  FROM lineitem GROUP BY l_partkey
), g AS (
  SELECT floor(quantile_cont(l_quantity, 0.75) * 10000 + 0.5) / 10000 AS global_q75
  FROM lineitem
), thr AS (
  SELECT floor(quantile_cont(part_vol, 0.9) * 10000 + 0.5) / 10000 AS thr_hi,
         floor(quantile_cont(part_vol, 0.7) * 10000 + 0.5) / 10000 AS thr_mid
  FROM pr
), tier AS (
  SELECT l_partkey, part_mean,
         CASE WHEN part_vol > thr_hi THEN 1.2
              WHEN part_vol > thr_mid THEN 1.1
              ELSE 1.0 END AS vol_boost
  FROM pr, thr
)
SELECT sp.l_suppkey, sp.l_partkey,
       round((0.4 * sp_q75 + 0.25 * store_mean + 0.2 * part_mean + 0.15 * global_q75)
             * 1.687 * vol_boost,
             4) AS blended_forecast
FROM sp
JOIN st ON sp.l_suppkey = st.l_suppkey
JOIN tier ON sp.l_partkey = tier.l_partkey, g
""",
)
def heuristic_blend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's heuristic ensemble predictor: weighted coalesce-blend
    0.4·(store,product Q75) + 0.25·store-mean + 0.2·product-mean +
    0.15·global-Q75, ×1.687 global calibration, ×volume-tier boost
    (/root/reference/generate_hackathon_final_perfect.py:233-340).

    Scale: three aggregate tables + two scalars, joined back on their keys —
    store aggregates broadcast; the (store,product) grain never re-shuffles
    more than once.  The volume-tier boost comes from two scalar quantile
    thresholds (90th/70th pct of per-part volume) cross-joined back — NOT a
    global percent_rank window, which would funnel every part through one
    WindowExec task.  At 100 TB swap ``F.percentile`` for
    ``F.percentile_approx`` (single-reduce exact -> mergeable sketch)."""
    t = Catalog(spark, sf_dir)
    li = t.lineitem
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        r4(F.percentile("l_quantity", F.lit(0.75))).alias("sp_q75")
    )
    st = li.groupBy("l_suppkey").agg(r4(F.avg("l_quantity")).alias("store_mean"))
    pr = li.groupBy("l_partkey").agg(
        r4(F.avg("l_quantity")).alias("part_mean"), r4(F.sum("l_quantity")).alias("part_vol")
    )
    g = li.agg(r4(F.percentile("l_quantity", F.lit(0.75))).alias("global_q75"))
    thr = pr.agg(
        r4(F.percentile("part_vol", F.lit(0.9))).alias("thr_hi"),
        r4(F.percentile("part_vol", F.lit(0.7))).alias("thr_mid"),
    )
    tier = pr.crossJoin(F.broadcast(thr)).select(
        "l_partkey",
        "part_mean",
        F.when(F.col("part_vol") > F.col("thr_hi"), 1.2)
        .when(F.col("part_vol") > F.col("thr_mid"), 1.1)
        .otherwise(1.0)
        .alias("vol_boost"),
    )
    return (
        sp.join(F.broadcast(st), "l_suppkey")
        .join(F.broadcast(tier), "l_partkey")
        .crossJoin(F.broadcast(g))
        .select(
            "l_suppkey",
            "l_partkey",
            r4(
                (
                    0.4 * F.col("sp_q75")
                    + 0.25 * F.col("store_mean")
                    + 0.2 * F.col("part_mean")
                    + 0.15 * F.col("global_q75")
                )
                * 1.687
                * F.col("vol_boost")
            ).alias("blended_forecast"),
        )
    )


@register(
    "kpi_quality_bands",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
m AS (
  SELECT l_suppkey,
         floor(sum(abs(actual - forecast)) / sum(abs(actual)) * 100 * 10000 + 0.5) / 10000
           AS wmape
  FROM f WHERE forecast IS NOT NULL GROUP BY l_suppkey
)
SELECT l_suppkey, wmape,
       CASE WHEN wmape <= 10 THEN 'excellent'
            WHEN wmape <= 15 THEN 'good'
            WHEN wmape <= 20 THEN 'warning'
            WHEN wmape <= 30 THEN 'critical'
            ELSE 'failing' END AS kpi_band
FROM m
""",
)
def kpi_quality_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded KPI banding of per-store WMAPE
    (/root/reference/src/validation/kpi_system.py:43-330; bands at
    10/15/20/30)."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    a, p = F.col("actual"), F.col("forecast")
    m = f.groupBy("l_suppkey").agg(
        r4(F.sum(F.abs(a - p)) / F.sum(F.abs(a)) * 100).alias("wmape")
    )
    return m.withColumn(
        "kpi_band",
        F.when(F.col("wmape") <= 10, "excellent")
        .when(F.col("wmape") <= 15, "good")
        .when(F.col("wmape") <= 20, "warning")
        .when(F.col("wmape") <= 30, "critical")
        .otherwise("failing"),
    )


@register(
    "error_decomposition_brand",
    oracle=f"""
WITH f AS ({_FORECAST_SQL})
SELECT p_brand,
       round(avg(abs(actual - forecast)), 4) AS mae,
       round(avg(forecast - actual), 4) AS bias,
       round(stddev_samp(forecast - actual), 4) AS err_std,
       CAST(sum(CASE WHEN forecast > actual THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
       CAST(sum(CASE WHEN forecast < actual THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
       count(*) AS n_rows
FROM f JOIN part ON f.l_partkey = p_partkey
WHERE forecast IS NOT NULL
GROUP BY p_brand
""",
)
def error_decomposition_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error decomposition by dimension: MAE/bias/error-std/over-under
    counts per brand (/root/reference/src/evaluation/error_analysis.py:89-610)."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    a, p = F.col("actual"), F.col("forecast")
    return (
        f.join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            r4(F.avg(F.abs(a - p))).alias("mae"),
            r4(F.avg(p - a)).alias("bias"),
            r4(F.stddev(p - a)).alias("err_std"),
            F.sum(F.when(p > a, 1).otherwise(0)).cast("long").alias("n_over"),
            F.sum(F.when(p < a, 1).otherwise(0)).cast("long").alias("n_under"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "cv_blocked_folds",
    oracle="""
WITH bounds AS (
  SELECT min(l_shipdate) AS d0, max(l_shipdate) AS d1 FROM lineitem
), folds AS (
  SELECT f.fold_id,
         d0 + INTERVAL 1 DAY * (63 * f.fold_id) AS block_start,
         d0 + INTERVAL 1 DAY * (63 * f.fold_id + 42) AS train_end,
         d0 + INTERVAL 1 DAY * (63 * f.fold_id + 49) AS val_start,
         d0 + INTERVAL 1 DAY * (63 * f.fold_id + 63) AS val_end
  FROM bounds, (SELECT CAST(unnest(generate_series(0, 9)) AS INTEGER) AS fold_id) f
  WHERE d0 + INTERVAL 1 DAY * (63 * f.fold_id + 63) <= d1
)
SELECT fold_id, block_start, train_end, val_start, val_end,
       (SELECT count(*) FROM lineitem
        WHERE l_shipdate >= block_start AND l_shipdate < train_end) AS n_train,
       (SELECT count(*) FROM lineitem
        WHERE l_shipdate >= val_start AND l_shipdate < val_end) AS n_val
FROM folds
""",
)
def cv_blocked_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked time-series CV: non-overlapping 9-week blocks, 6-week train +
    1-week purge gap + 2-week validation each
    (/root/reference/src/models/time_series_cv.py:159-242).  Like the
    walk-forward splitter this is ~10 broadcast fold rows against date
    filters — no data movement at any scale."""
    t = Catalog(spark, sf_dir)
    bounds = t.lineitem.agg(
        F.min("l_shipdate").alias("d0"), F.max("l_shipdate").alias("d1")
    )
    day = lambda n: F.date_add(F.col("d0").cast("date"), n).cast("timestamp_ntz")  # noqa: E731
    folds = (
        spark.range(10)
        .select(F.col("id").cast("int").alias("fold_id"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "fold_id",
            day(63 * F.col("fold_id")).alias("block_start"),
            day(63 * F.col("fold_id") + 42).alias("train_end"),
            day(63 * F.col("fold_id") + 49).alias("val_start"),
            day(63 * F.col("fold_id") + 63).alias("val_end"),
            "d1",
        )
        .filter(F.col("val_end") <= F.col("d1"))
        .drop("d1")
    )
    li = t.lineitem.select("l_shipdate")
    return (
        li.crossJoin(F.broadcast(folds))
        .groupBy("fold_id", "block_start", "train_end", "val_start", "val_end")
        .agg(
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= F.col("block_start"))
                    & (F.col("l_shipdate") < F.col("train_end")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_train"),
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= F.col("val_start"))
                    & (F.col("l_shipdate") < F.col("val_end")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_val"),
        )
    )


@register(
    "kpi_directional_accuracy",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
d AS (
  SELECT l_suppkey,
         actual - lag(actual) OVER (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL})
           AS d_act,
         forecast - lag(forecast) OVER (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL})
           AS d_fc
  FROM f WHERE forecast IS NOT NULL
), s AS (
  SELECT l_suppkey,
         CAST(sum(CASE WHEN sign(d_act) = sign(d_fc) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_agree,
         count(*) AS n_moves
  FROM d WHERE d_act IS NOT NULL AND d_fc IS NOT NULL
  GROUP BY l_suppkey
)
SELECT l_suppkey, n_agree, n_moves,
       round(n_agree * 1.0 / n_moves, 4) AS directional_accuracy,
       CASE WHEN n_agree * 1.0 / n_moves >= 0.80 THEN 'excellent'
            WHEN n_agree * 1.0 / n_moves >= 0.70 THEN 'good'
            ELSE 'poor' END AS kpi_band
FROM s
""",
)
def kpi_directional_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional accuracy KPI: share of steps where forecast and actual
    move in the same direction, banded at the reference's 0.80/0.70
    thresholds (/root/reference/src/validation/kpi_system.py:184)."""
    t = Catalog(spark, sf_dir)
    seq = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    d = f.select(
        "l_suppkey",
        (F.col("actual") - F.lag("actual").over(seq)).alias("d_act"),
        (F.col("forecast") - F.lag("forecast").over(seq)).alias("d_fc"),
    )
    s = (
        d.filter(F.col("d_act").isNotNull() & F.col("d_fc").isNotNull())
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.when(F.signum("d_act") == F.signum("d_fc"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_agree"),
            F.count(F.lit(1)).alias("n_moves"),
        )
    )
    acc = F.col("n_agree") * F.lit(1.0) / F.col("n_moves")
    return s.select(
        "l_suppkey",
        "n_agree",
        "n_moves",
        r4(acc).alias("directional_accuracy"),
        F.when(acc >= 0.80, "excellent")
        .when(acc >= 0.70, "good")
        .otherwise("poor")
        .alias("kpi_band"),
    )


@register(
    "meta_features_ensemble",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
base AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, actual,
         forecast AS m_roll,
         lag(actual) OVER (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}) AS m_lag1,
         floor(avg(actual) OVER (PARTITION BY l_suppkey) * 10000 + 0.5) / 10000
           AS m_store
  FROM f
)
SELECT l_suppkey, l_orderkey, l_linenumber, m_roll, m_lag1, m_store,
       round((m_roll + m_lag1 + m_store) / 3, 4) AS pred_mean,
       round(least(m_roll, m_lag1, m_store), 4) AS pred_min,
       round(greatest(m_roll, m_lag1, m_store), 4) AS pred_max,
       round(greatest(m_roll, m_lag1, m_store)
             - least(m_roll, m_lag1, m_store), 4) AS pred_range,
       round(abs(m_roll - m_lag1), 4) AS diff_roll_lag1,
       round(abs(m_roll - m_store), 4) AS diff_roll_store,
       round(m_roll / (m_store + 0.00000001), 4) AS ratio_roll_store
FROM base
WHERE m_roll IS NOT NULL AND m_lag1 IS NOT NULL
""",
)
def meta_features_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stacking meta-features over three base predictors (rolling-mean
    forecast, lag-1, store mean): cross-model mean/min/max/range, pairwise
    absolute differences, and safe-divide ratios
    (/root/reference/src/models/advanced_ensemble.py:75-204).  Pure column
    expressions over one windowed pass — no extra shuffle beyond the
    per-store window."""
    t = Catalog(spark, sf_dir)
    seq = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    base = _with_forecast(t).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "actual",
        F.col("forecast").alias("m_roll"),
        F.lag("actual").over(seq).alias("m_lag1"),
        r4(F.avg("actual").over(W.partitionBy("l_suppkey"))).alias("m_store"),
        "l_shipdate",
    )
    three = [F.col("m_roll"), F.col("m_lag1"), F.col("m_store")]
    return (
        base.filter(F.col("m_roll").isNotNull() & F.col("m_lag1").isNotNull())
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "m_roll",
            "m_lag1",
            "m_store",
            r4((three[0] + three[1] + three[2]) / 3).alias("pred_mean"),
            r4(F.least(*three)).alias("pred_min"),
            r4(F.greatest(*three)).alias("pred_max"),
            r4(F.greatest(*three) - F.least(*three)).alias("pred_range"),
            r4(F.abs(three[0] - three[1])).alias("diff_roll_lag1"),
            r4(F.abs(three[0] - three[2])).alias("diff_roll_store"),
            r4(three[0] / (three[2] + F.lit(1e-8))).alias("ratio_roll_store"),
        )
    )


@register(
    "corr_matrix_top_parts",
    oracle="""
WITH top5 AS (
  SELECT l_partkey FROM lineitem GROUP BY l_partkey
  ORDER BY sum(l_quantity) DESC, l_partkey LIMIT 5
), daily AS (
  SELECT l_partkey, l_shipdate, sum(l_quantity) AS q
  FROM lineitem WHERE l_partkey IN (SELECT l_partkey FROM top5)
  GROUP BY 1, 2
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS n,
         sum(a.q) AS sx, sum(b.q) AS sy,
         sum(a.q * b.q) AS sxy, sum(a.q * a.q) AS sxx, sum(b.q * b.q) AS syy
  FROM daily a JOIN daily b
    ON a.l_shipdate = b.l_shipdate AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n,
       round((n * sxy - sx * sy)
             / nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0), 4)
         AS pearson_r
FROM pairs
""",
)
def corr_matrix_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the top-5 parts' daily demand
    series (/root/reference/src/features/behavioral_features_engine.py:593-615
    samples top products before correlating — the sample-then-compute
    policy).  Computed closed-form from co-moment sums: every sum is over
    exact integer-valued quantities, so both engines produce bit-identical
    doubles — no F.corr/corr() implementation drift."""
    t = Catalog(spark, sf_dir)
    top5 = (
        t.lineitem.groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("vol"))
        .orderBy(F.col("vol").desc(), "l_partkey")
        .limit(5)
        .select("l_partkey")
    )
    daily = (
        t.lineitem.join(F.broadcast(top5), "l_partkey")
        .groupBy("l_partkey", "l_shipdate")
        .agg(F.sum("l_quantity").alias("q"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_shipdate") == F.col("b.l_shipdate"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a.q").alias("sx"),
            F.sum("b.q").alias("sy"),
            F.sum(F.col("a.q") * F.col("b.q")).alias("sxy"),
            F.sum(F.col("a.q") * F.col("a.q")).alias("sxx"),
            F.sum(F.col("b.q") * F.col("b.q")).alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    r = (n * F.col("sxy") - sx * sy) / F.nullif(
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy),
        F.lit(0.0),
    )
    return pairs.select("part_a", "part_b", "n", r4(r).alias("pearson_r"))


@register(
    "postproc_outlier_dampening",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
p AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, forecast
  FROM f WHERE forecast IS NOT NULL
), q AS (
  SELECT l_suppkey,
         floor(quantile_cont(forecast, 0.25) * 10000 + 0.5) / 10000 AS q1,
         floor(quantile_cont(forecast, 0.50) * 10000 + 0.5) / 10000 AS med,
         floor(quantile_cont(forecast, 0.75) * 10000 + 0.5) / 10000 AS q3
  FROM p GROUP BY l_suppkey
)
SELECT p.l_suppkey, l_orderkey, l_linenumber, forecast,
       CASE WHEN forecast < q1 - 1.5 * (q3 - q1) OR forecast > q3 + 1.5 * (q3 - q1)
            THEN round(forecast + 0.3 * (med - forecast), 4)
            ELSE round(forecast, 4) END AS forecast_dampened,
       (forecast < q1 - 1.5 * (q3 - q1) OR forecast > q3 + 1.5 * (q3 - q1))
         AS was_outlier
FROM p JOIN q ON p.l_suppkey = q.l_suppkey
""",
)
def postproc_outlier_dampening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR-outlier dampening: forecasts outside [Q1-1.5·IQR, Q3+1.5·IQR] of
    their store's distribution are pulled 30% toward the store median
    (/root/reference/src/models/business_rules.py:295-351).  Group quantiles
    + broadcast join back — one shuffle to the per-store grain."""
    t = Catalog(spark, sf_dir)
    p = _with_forecast(t).filter(F.col("forecast").isNotNull())
    q = p.groupBy("l_suppkey").agg(
        r4(F.percentile("forecast", F.lit(0.25))).alias("q1"),
        r4(F.percentile("forecast", F.lit(0.50))).alias("med"),
        r4(F.percentile("forecast", F.lit(0.75))).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("forecast") < F.col("q1") - 1.5 * iqr) | (
        F.col("forecast") > F.col("q3") + 1.5 * iqr
    )
    return (
        p.join(F.broadcast(q), "l_suppkey")
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "forecast",
            F.when(is_out, r4(F.col("forecast") + 0.3 * (F.col("med") - F.col("forecast"))))
            .otherwise(r4(F.col("forecast")))
            .alias("forecast_dampened"),
            is_out.alias("was_outlier"),
        )
    )


@register(
    "cv_hierarchical_folds",
    oracle="""
WITH seg AS (
  SELECT p_brand, count(*) AS n_rows
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
  HAVING count(*) >= 1000
), bounds AS (
  SELECT p_brand, min(l_shipdate) AS d0, max(l_shipdate) AS d1
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN (SELECT p_brand FROM seg)
  GROUP BY p_brand
), folds AS (
  SELECT b.p_brand, f.fold_id,
         d0 + INTERVAL 1 DAY * (7 * (26 + 4 * f.fold_id)) AS train_end,
         d0 + INTERVAL 1 DAY * (7 * (30 + 4 * f.fold_id)) AS val_end
  FROM bounds b,
       (SELECT CAST(unnest(generate_series(0, 4)) AS INTEGER) AS fold_id) f
  WHERE d0 + INTERVAL 1 DAY * (7 * (30 + 4 * f.fold_id)) <= d1
)
SELECT folds.p_brand, fold_id, train_end, val_end,
       (SELECT count(*) FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = folds.p_brand AND l_shipdate < train_end) AS n_train,
       (SELECT count(*) FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = folds.p_brand
          AND l_shipdate >= train_end AND l_shipdate < val_end) AS n_val
FROM folds
""",
)
def cv_hierarchical_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical CV: per-segment (brand) walk-forward folds, only for
    segments with ≥1000 rows — 26-week initial train, 4-week horizon,
    4-week step, ≤5 folds per segment
    (/root/reference/src/models/time_series_cv.py:244-301).

    Scale: fold boundaries are one small broadcast table (segments × ≤5);
    counting is a single pass over the enriched fact with conditional
    aggregation — no per-segment job loop."""
    t = Catalog(spark, sf_dir)
    li = t.lineitem.join(
        F.broadcast(t.part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select("p_brand", "l_shipdate")
    bounds = (
        li.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_shipdate").alias("d0"),
            F.max("l_shipdate").alias("d1"),
        )
        .filter(F.col("n_rows") >= 1000)
        .drop("n_rows")
    )
    day = lambda n: F.date_add(F.col("d0").cast("date"), n).cast("timestamp_ntz")  # noqa: E731
    folds = (
        bounds.crossJoin(spark.range(5).select(F.col("id").cast("int").alias("fold_id")))
        .select(
            "p_brand",
            "fold_id",
            day(7 * (26 + 4 * F.col("fold_id"))).alias("train_end"),
            day(7 * (30 + 4 * F.col("fold_id"))).alias("val_end"),
            "d1",
        )
        .filter(F.col("val_end") <= F.col("d1"))
        .drop("d1")
    )
    return (
        li.join(F.broadcast(folds), "p_brand")
        .groupBy("p_brand", "fold_id", "train_end", "val_end")
        .agg(
            F.sum(F.when(F.col("l_shipdate") < F.col("train_end"), 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= F.col("train_end"))
                    & (F.col("l_shipdate") < F.col("val_end")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_val"),
        )
    )


# Shared feature-matrix CTE chain (daily per-store series → calendar /
# cyclical / lag / rolling / group-transform features): the full matrix is
# `fm`; used by feature_matrix_daily_store and feature_importance_topk.
_FM_CTES = """daily AS (
  SELECT l_suppkey, l_shipdate,
         floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS qty
  FROM lineitem GROUP BY 1, 2
), feat AS (
  SELECT l_suppkey, l_shipdate, qty,
         CAST(year(l_shipdate) AS INTEGER) AS year,
         CAST(month(l_shipdate) AS INTEGER) AS month,
         CAST(isodow(l_shipdate) AS INTEGER) AS dow,
         CASE WHEN isodow(l_shipdate) >= 6 THEN 1 ELSE 0 END AS is_weekend,
         round(sin(2 * pi() * month(l_shipdate) / 12), 4) AS month_sin,
         lag(qty, 1) OVER w AS lag_1,
         lag(qty, 7) OVER w AS lag_7,
         floor(avg(qty) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               * 10000 + 0.5) / 10000 AS roll_mean_7,
         round(coalesce(stddev_samp(qty)
               OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 0), 4)
           AS roll_std_7,
         floor(avg(qty) OVER (PARTITION BY l_suppkey) * 10000 + 0.5) / 10000
           AS store_mean,
         round(percent_rank() OVER (PARTITION BY l_suppkey ORDER BY qty, l_shipdate), 4)
           AS qty_pctile
  FROM daily
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
), fm AS (
  SELECT l_suppkey, l_shipdate, qty, year, month, dow, is_weekend, month_sin,
         lag_1, lag_7, roll_mean_7, roll_std_7, store_mean, qty_pctile,
         round(qty / (store_mean + 0.00000001), 4) AS rel_to_store
  FROM feat
)"""


@register(
    "feature_matrix_daily_store",
    oracle=f"WITH {_FM_CTES}\nSELECT * FROM fm",
)
def feature_matrix_daily_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point-B in miniature: the feature pipeline as ONE lazy DAG —
    calendar extracts, cyclical encoding, lag family, rolling stats, group
    transforms, and percentile rank appended to the per-(store, day) series
    in a single pass (/root/reference/src/features/feature_pipeline.py:80-186
    runs four sequential whole-table rewrites; Catalyst collapses all of
    these projections into one stage over one shuffle per window grain)."""
    from hackatonbigdata_spark.functions.core import iso_dow, safe_div

    t = Catalog(spark, sf_dir)
    daily = _daily(t)
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate")
    roll = w.rowsBetween(-6, 0)
    store = W.partitionBy("l_suppkey")
    pct = W.partitionBy("l_suppkey").orderBy("qty", "l_shipdate")
    dow = iso_dow("l_shipdate")
    return daily.select(
        "l_suppkey",
        "l_shipdate",
        "qty",
        F.year("l_shipdate").alias("year"),
        F.month("l_shipdate").alias("month"),
        dow.cast("int").alias("dow"),
        F.when(dow >= 6, 1).otherwise(0).alias("is_weekend"),
        r4(F.sin(2 * F.lit(3.141592653589793) * F.month("l_shipdate") / 12)).alias(
            "month_sin"
        ),
        F.lag("qty", 1).over(w).alias("lag_1"),
        F.lag("qty", 7).over(w).alias("lag_7"),
        r4(F.avg("qty").over(roll)).alias("roll_mean_7"),
        r4(F.coalesce(F.stddev("qty").over(roll), F.lit(0.0))).alias("roll_std_7"),
        r4(F.avg("qty").over(store)).alias("store_mean"),
        r4(F.percent_rank().over(pct)).alias("qty_pctile"),
    ).withColumn("rel_to_store", r4(safe_div(F.col("qty"), F.col("store_mean"))))


@register(
    "calibration_interval_coverage",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
p AS (
  SELECT l_suppkey, actual, forecast, actual - forecast AS resid
  FROM f WHERE forecast IS NOT NULL
), ranked AS (
  SELECT l_suppkey, resid,
         row_number() OVER (PARTITION BY l_suppkey ORDER BY resid) AS rn,
         count(*) OVER (PARTITION BY l_suppkey) AS n
  FROM p
), q AS (
  SELECT l_suppkey,
         max(CASE WHEN rn = CAST(floor((n-1) * 0.1) AS BIGINT) + 1
                  THEN resid END) AS a10,
         max(CASE WHEN rn = least(CAST(floor((n-1) * 0.1) AS BIGINT) + 2, n)
                  THEN resid END) AS b10,
         max((n-1) * 0.1 - floor((n-1) * 0.1)) AS f10,
         max(CASE WHEN rn = CAST(floor((n-1) * 0.9) AS BIGINT) + 1
                  THEN resid END) AS a90,
         max(CASE WHEN rn = least(CAST(floor((n-1) * 0.9) AS BIGINT) + 2, n)
                  THEN resid END) AS b90,
         max((n-1) * 0.9 - floor((n-1) * 0.9)) AS f90
  FROM ranked GROUP BY l_suppkey
), iv AS (
  -- half-away-from-zero like the Spark side's r4: residuals are negative,
  -- where a bare floor(x*1e4+0.5) would round halves toward +inf instead
  SELECT l_suppkey,
         sign(a10 + (b10 - a10) * f10)
           * floor(abs(a10 + (b10 - a10) * f10) * 10000 + 0.5) / 10000 AS r10,
         sign(a90 + (b90 - a90) * f90)
           * floor(abs(a90 + (b90 - a90) * f90) * 10000 + 0.5) / 10000 AS r90
  FROM q
)
SELECT p.l_suppkey,
       count(*) AS n_rows,
       round(avg(CASE WHEN actual >= forecast + r10 AND actual <= forecast + r90
                      THEN 1.0 ELSE 0.0 END), 4) AS coverage_80,
       round(min(r10), 4) AS r10, round(min(r90), 4) AS r90,
       CASE WHEN avg(CASE WHEN actual >= forecast + r10 AND actual <= forecast + r90
                          THEN 1.0 ELSE 0.0 END) >= 0.75 THEN 'calibrated'
            ELSE 'undercovered' END AS calibration_band
FROM p JOIN iv ON p.l_suppkey = iv.l_suppkey
GROUP BY p.l_suppkey
""",
)
def calibration_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformal-style interval calibration: per-store empirical P10/P90
    residual band around the forecast, then the fraction of actuals the
    interval covers (/root/reference/src/models/model_calibration.py:49-520
    — the interval-coverage validation reduced to its dataflow).

    Quantiles are rank-interpolated EXPLICITLY (value at floor((n-1)q) and
    the next, blended by the fractional part) rather than via
    percentile()/quantile_cont(): residuals sit on a 1e-4 grid and q=0.1 is
    not dyadic, so the engines' internal interpolation orders diverge in the
    last ulp right at 4dp rounding boundaries.  Writing the same arithmetic
    on both sides makes the value deterministic."""
    t = Catalog(spark, sf_dir)
    p = (
        _with_forecast(t)
        .filter(F.col("forecast").isNotNull())
        .select(
            "l_suppkey",
            "actual",
            "forecast",
            (F.col("actual") - F.col("forecast")).alias("resid"),
        )
    )
    ranked = p.select(
        "l_suppkey",
        "resid",
        F.row_number()
        .over(W.partitionBy("l_suppkey").orderBy("resid"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("l_suppkey")).alias("n"),
    )

    def _q(tag: str, frac: float) -> list:
        k = F.floor((F.col("n") - 1) * frac).cast("long")
        return [
            F.max(F.when(F.col("rn") == k + 1, F.col("resid"))).alias(f"a{tag}"),
            F.max(
                F.when(F.col("rn") == F.least(k + 2, F.col("n")), F.col("resid"))
            ).alias(f"b{tag}"),
            F.max((F.col("n") - 1) * frac - F.floor((F.col("n") - 1) * frac)).alias(
                f"f{tag}"
            ),
        ]

    qagg = ranked.groupBy("l_suppkey").agg(*_q("10", 0.1), *_q("90", 0.9))
    q = qagg.select(
        "l_suppkey",
        r4(F.col("a10") + (F.col("b10") - F.col("a10")) * F.col("f10")).alias("r10"),
        r4(F.col("a90") + (F.col("b90") - F.col("a90")) * F.col("f90")).alias("r90"),
    )
    covered = (
        (F.col("actual") >= F.col("forecast") + F.col("r10"))
        & (F.col("actual") <= F.col("forecast") + F.col("r90"))
    ).cast("double")
    return (
        p.join(F.broadcast(q), "l_suppkey")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            r4(F.avg(covered)).alias("coverage_80"),
            r4(F.min("r10")).alias("r10"),
            r4(F.min("r90")).alias("r90"),
            F.when(F.avg(covered) >= 0.75, "calibrated")
            .otherwise("undercovered")
            .alias("calibration_band"),
        )
    )


@register(
    "prophet_prep_segments",
    oracle="""
WITH daily AS (
  SELECT p_brand, l_shipdate AS ds,
         round(sum(l_quantity), 4) AS y,
         count(*) AS n_transactions
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), sized AS (
  SELECT p_brand, count(*) AS n_points FROM daily WHERE y > 0 GROUP BY 1
)
SELECT daily.p_brand, ds, y, n_transactions
FROM daily JOIN sized ON daily.p_brand = sized.p_brand
WHERE n_points >= 30 AND y > 0
""",
)
def prophet_prep_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment model-input preparation: daily (ds, y) series per brand,
    zero days dropped, segments below 30 usable points excluded
    (/root/reference/src/models/prophet_seasonal.py:304-367).  The output
    grain is exactly what an ``applyInPandas`` per-segment fit consumes."""
    t = Catalog(spark, sf_dir)
    daily = (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", F.col("l_shipdate").alias("ds"))
        .agg(
            r4(F.sum("l_quantity")).alias("y"),
            F.count(F.lit(1)).alias("n_transactions"),
        )
    )
    pos = daily.filter(F.col("y") > 0)
    sized = pos.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_points"))
    return (
        pos.join(F.broadcast(sized.filter(F.col("n_points") >= 30)), "p_brand")
        .select("p_brand", "ds", "y", "n_transactions")
    )


# No value-verified version: stage 1 is an L-BFGS logistic optimum scored
# through exp(), which is not correctly rounded, so no second engine
# reproduces its per-row 4dp outputs.
@register("zero_inflated_hurdle_mllib")
def zero_inflated_hurdle_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-inflated hurdle model as an MLlib pipeline (rows-only: model
    coefficients aren't SQL-reproducible): stage 1 logistic regression
    predicts P(demand event), stage 2 linear regression predicts magnitude
    on positive rows; final = p * magnitude
    (/root/reference/src/models/intermittent_demand.py:177-375).

    The dataflow is the point: one feature matrix, two fits, predictions
    joined back — all distributed, deterministic seed.

    Scoring is COLUMN MATH over the extracted coefficients (3 weights + an
    intercept per stage), not ``model.transform``: serializing a fitted
    MLlib model into task closures drags its trainingSummary and with it
    the owning SparkSession — which becomes non-serializable the moment
    anything in the session has used ``Observation`` (the connected-
    components query does).  Collecting the coefficient vector to the
    driver and broadcasting it as literals is also the cheaper plan: no
    Scala UDF, stays inside whole-stage codegen."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    t = Catalog(spark, sf_dir)
    daily = t.lineitem.groupBy("l_suppkey", "l_shipdate").agg(
        F.sum("l_quantity").alias("qty")
    )
    seq = W.partitionBy("l_suppkey").orderBy("l_shipdate")
    feats = (
        daily.select(
            "l_suppkey",
            "l_shipdate",
            "qty",
            F.lag("qty", 1).over(seq).alias("lag1"),
            F.lag("qty", 7).over(seq).alias("lag7"),
            F.avg("qty").over(seq.rowsBetween(-6, 0)).alias("roll7"),
        )
        .na.drop()
        # demand "event" := day above the store median, so stage 1 is
        # non-degenerate on this dense dataset (cf. croston_per_series)
        .withColumn(
            "med", F.expr("percentile(qty, 0.5)").over(W.partitionBy("l_suppkey"))
        )
        .withColumn("is_event", (F.col("qty") > F.col("med")).cast("double"))
    )
    assembler = VectorAssembler(inputCols=["lag1", "lag7", "roll7"], outputCol="x")
    vec = assembler.transform(feats)
    stage1 = LogisticRegression(
        featuresCol="x", labelCol="is_event", maxIter=20, regParam=0.1
    ).fit(vec)
    stage2 = LinearRegression(
        featuresCol="x", labelCol="qty", maxIter=20, regParam=0.1
    ).fit(vec.filter(F.col("is_event") > 0))
    w1 = [float(v) for v in stage1.coefficients]
    b1 = float(stage1.intercept)
    w2 = [float(v) for v in stage2.coefficients]
    b2 = float(stage2.intercept)
    feat_cols = [F.col("lag1"), F.col("lag7"), F.col("roll7")]
    z1 = sum((F.lit(w) * c for w, c in zip(w1, feat_cols)), F.lit(b1))
    p_event = F.lit(1.0) / (F.lit(1.0) + F.exp(-z1))
    magnitude = sum((F.lit(w) * c for w, c in zip(w2, feat_cols)), F.lit(b2))
    return feats.select(
        "l_suppkey",
        "l_shipdate",
        "qty",
        F.round(p_event, 4).alias("p_event"),
        F.round(magnitude, 4).alias("magnitude"),
        F.round(p_event * magnitude, 4).alias("hurdle_forecast"),
    )


@register(
    "postproc_lifecycle_promo",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
p AS (
  SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber, l_shipdate, forecast
  FROM f WHERE forecast IS NOT NULL
), promo(month_no, promo_mult) AS (
  VALUES (11, 1.15), (12, 1.30), (1, 0.90)
), span AS (
  SELECT l_partkey,
         date_diff('day', min(l_shipdate), max(l_shipdate)) + 1 AS life_days
  FROM lineitem GROUP BY l_partkey
), lifecycle AS (
  SELECT l_partkey,
         CASE WHEN life_days < 180 THEN 'launch'
              WHEN life_days < 360 THEN 'growth'
              ELSE 'mature' END AS life_stage,
         CASE WHEN life_days < 180 THEN 1.20
              WHEN life_days < 360 THEN 1.05
              ELSE 1.00 END AS life_mult
  FROM span
)
SELECT l_suppkey, p.l_partkey, l_orderkey, l_linenumber, forecast,
       life_stage,
       CAST(coalesce(promo_mult, 1.0) AS DOUBLE) AS promo_mult,
       round(forecast * CAST(coalesce(promo_mult, 1.0) AS DOUBLE) * life_mult, 4)
         AS forecast_adjusted
FROM p
LEFT JOIN promo ON month(l_shipdate) = promo.month_no
JOIN lifecycle ON p.l_partkey = lifecycle.l_partkey
""",
)
def postproc_lifecycle_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotional-calendar and lifecycle-stage multipliers: forecasts join
    two small rule dims — month→promo factor and product-age→lifecycle
    factor — and scale (/root/reference/src/models/business_rules.py:
    353-551,692-880).  Both rule tables broadcast; the fact never
    re-shuffles."""
    t = Catalog(spark, sf_dir)
    p = _with_forecast(t).filter(F.col("forecast").isNotNull())
    promo = spark.createDataFrame(
        [(11, 1.15), (12, 1.30), (1, 0.90)], "month_no int, promo_mult double"
    )
    span = t.lineitem.groupBy("l_partkey").agg(
        (F.datediff(F.max("l_shipdate"), F.min("l_shipdate")) + 1).alias("life_days")
    )
    lifecycle = span.select(
        "l_partkey",
        F.when(F.col("life_days") < 180, "launch")
        .when(F.col("life_days") < 360, "growth")
        .otherwise("mature")
        .alias("life_stage"),
        F.when(F.col("life_days") < 180, 1.20)
        .when(F.col("life_days") < 360, 1.05)
        .otherwise(1.00)
        .alias("life_mult"),
    )
    return (
        p.join(F.broadcast(promo), F.month("l_shipdate") == F.col("month_no"), "left")
        .join(F.broadcast(lifecycle), "l_partkey")
        .select(
            "l_suppkey",
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            "forecast",
            "life_stage",
            F.coalesce("promo_mult", F.lit(1.0)).alias("promo_mult"),
            r4(
                F.col("forecast")
                * F.coalesce("promo_mult", F.lit(1.0))
                * F.col("life_mult")
            ).alias("forecast_adjusted"),
        )
    )


@register(
    "store_coldstart_fallback",
    oracle="""
WITH prof AS (
  SELECT l_suppkey,
         sum(l_quantity) AS s1,
         sum(l_quantity * l_quantity) AS s2,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS np
  FROM lineitem GROUP BY l_suppkey
), feat AS (
  SELECT l_suppkey,
         s1 AS qty_sum,
         s1 / n AS qty_mean,
         CASE WHEN n >= 2 THEN sqrt(greatest(s2 - s1 * s1 / n, 0) / (n - 1))
              ELSE 0.0 END AS qty_std,
         CAST(n AS DOUBLE) AS n_rows,
         CAST(np AS DOUBLE) AS n_parts
  FROM prof
), mm AS (
  SELECT min(qty_sum) AS lo1, max(qty_sum) AS hi1,
         min(qty_mean) AS lo2, max(qty_mean) AS hi2,
         min(qty_std) AS lo3, max(qty_std) AS hi3,
         min(n_rows) AS lo4, max(n_rows) AS hi4,
         min(n_parts) AS lo5, max(n_parts) AS hi5
  FROM feat
), sc AS (
  SELECT l_suppkey, qty_mean,
         CASE WHEN hi1 > lo1 THEN (qty_sum - lo1) / (hi1 - lo1) ELSE 0.0 END AS f1,
         CASE WHEN hi2 > lo2 THEN (qty_mean - lo2) / (hi2 - lo2) ELSE 0.0 END AS f2,
         CASE WHEN hi3 > lo3 THEN (qty_std - lo3) / (hi3 - lo3) ELSE 0.0 END AS f3,
         CASE WHEN hi4 > lo4 THEN (n_rows - lo4) / (hi4 - lo4) ELSE 0.0 END AS f4,
         CASE WHEN hi5 > lo5 THEN (n_parts - lo5) / (hi5 - lo5) ELSE 0.0 END AS f5
  FROM feat, mm
), pairs AS (
  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb,
         (a.f1 * b.f1 + a.f2 * b.f2 + a.f3 * b.f3 + a.f4 * b.f4 + a.f5 * b.f5)
         / nullif(sqrt(a.f1 * a.f1 + a.f2 * a.f2 + a.f3 * a.f3 + a.f4 * a.f4 + a.f5 * a.f5)
                  * sqrt(b.f1 * b.f1 + b.f2 * b.f2 + b.f3 * b.f3 + b.f4 * b.f4 + b.f5 * b.f5),
                  0) AS cos_sim
  FROM sc a JOIN sc b ON a.l_suppkey <> b.l_suppkey
), top1 AS (
  SELECT sa, sb, cos_sim FROM (
    SELECT sa, sb, cos_sim,
           row_number() OVER (PARTITION BY sa ORDER BY cos_sim DESC NULLS LAST, sb) AS rn
    FROM pairs
  ) WHERE rn = 1
), qm AS (
  SELECT l_suppkey, CAST(floor(qty_mean * 10000 + 0.5) AS BIGINT) AS qml
  FROM feat
), nat AS (
  SELECT s.s_nationkey,
         floor((sum(qml) / (count(*) * 10000.0)) * 10000 + 0.5) / 10000 AS nation_avg
  FROM qm JOIN supplier s ON qm.l_suppkey = s.s_suppkey
  GROUP BY s.s_nationkey
), reg AS (
  SELECT n.n_regionkey,
         floor((sum(qml) / (count(*) * 10000.0)) * 10000 + 0.5) / 10000 AS region_avg
  FROM qm JOIN supplier s ON qm.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey
), g_avg AS (
  SELECT floor((sum(qml) / (count(*) * 10000.0)) * 10000 + 0.5) / 10000 AS global_avg
  FROM qm
)
SELECT s.s_suppkey,
       CASE WHEN f.l_suppkey IS NULL THEN 0 ELSE 1 END AS has_history,
       CASE WHEN f.l_suppkey IS NULL THEN NULL
            ELSE floor(f.qty_mean * 10000 + 0.5) / 10000 END AS own_mean,
       t.sb AS sim_suppkey,
       round(t.cos_sim, 4) AS sim_score,
       nat.nation_avg AS nation_avg,
       reg.region_avg AS region_avg,
       g_avg.global_avg AS global_avg,
       round(coalesce(floor(f.qty_mean * 10000 + 0.5) / 10000,
                      nat.nation_avg, reg.region_avg, g_avg.global_avg), 4)
         AS coldstart_forecast
FROM supplier s
LEFT JOIN feat f ON s.s_suppkey = f.l_suppkey
LEFT JOIN top1 t ON s.s_suppkey = t.sa
LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
LEFT JOIN nat ON s.s_nationkey = nat.s_nationkey
LEFT JOIN reg ON n.n_regionkey = reg.n_regionkey
CROSS JOIN g_avg
""",
)
def store_coldstart_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-similarity cold-start: per-store sales profiles -> scaled
    feature vectors -> top-1 most-similar store (cosine), plus the
    hierarchical fallback coalesce-chain own-mean -> nation avg -> region
    avg -> global avg for stores with no history
    (/root/reference/src/models/cold_start_solutions.py:281-507: profile =
    quantity sum/mean/std/count + distinct products, StandardScaler +
    cosine_similarity, fallback category->regional->global averages).

    Cross-engine determinism: profile stats come from exact integer power
    sums (closed-form std); features are min-max scaled (extrema are
    summation-order-independent, unlike a mean/std standardizer) so both
    engines scale bit-identical doubles; hierarchy averages divide exact
    1e4-scaled BIGINT sums.  Scale: the store-pair cosine is O(S²) on the
    STORE dimension only (stores are bounded — thousands, not fact-table
    cardinality); at larger S the IVF-bucketed search of
    ``similarity_ivf_bucketed`` is the bucketed path.  Hierarchy
    averages are tiny keyed aggregates broadcast back."""
    t = Catalog(spark, sf_dir)
    li = t.lineitem
    prof = li.groupBy("l_suppkey").agg(
        F.sum("l_quantity").alias("s1"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_partkey").alias("np"),
    )
    s1, s2, n = F.col("s1"), F.col("s2"), F.col("n")
    feat = prof.select(
        "l_suppkey",
        s1.alias("qty_sum"),
        (s1 / n).alias("qty_mean"),
        F.when(
            n >= 2, F.sqrt(F.greatest(s2 - s1 * s1 / n, F.lit(0.0)) / (n - 1))
        )
        .otherwise(F.lit(0.0))
        .alias("qty_std"),
        n.cast("double").alias("n_rows"),
        F.col("np").cast("double").alias("n_parts"),
    )
    cols = ["qty_sum", "qty_mean", "qty_std", "n_rows", "n_parts"]
    mm = feat.agg(
        *[F.min(c).alias(f"lo{i}") for i, c in enumerate(cols, 1)],
        *[F.max(c).alias(f"hi{i}") for i, c in enumerate(cols, 1)],
    )
    sc = feat.crossJoin(F.broadcast(mm)).select(
        "l_suppkey",
        "qty_mean",
        *[
            F.when(
                F.col(f"hi{i}") > F.col(f"lo{i}"),
                (F.col(c) - F.col(f"lo{i}")) / (F.col(f"hi{i}") - F.col(f"lo{i}")),
            )
            .otherwise(F.lit(0.0))
            .alias(f"f{i}")
            for i, c in enumerate(cols, 1)
        ],
    )
    a = sc.select(
        F.col("l_suppkey").alias("sa"), *[F.col(f"f{i}").alias(f"a{i}") for i in range(1, 6)]
    )
    b = sc.select(
        F.col("l_suppkey").alias("sb"), *[F.col(f"f{i}").alias(f"b{i}") for i in range(1, 6)]
    )
    dot = sum(F.col(f"a{i}") * F.col(f"b{i}") for i in range(1, 6))
    na = F.sqrt(sum(F.col(f"a{i}") * F.col(f"a{i}") for i in range(1, 6)))
    nb = F.sqrt(sum(F.col(f"b{i}") * F.col(f"b{i}") for i in range(1, 6)))
    pairs = a.join(b, F.col("sa") != F.col("sb")).select(
        "sa", "sb", (dot / F.nullif(na * nb, F.lit(0.0))).alias("cos_sim")
    )
    top1 = (
        pairs.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("sa").orderBy(F.col("cos_sim").desc_nulls_last(), "sb")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("sa", "sb", "cos_sim")
    )
    qm = feat.select(
        "l_suppkey", F.floor(F.col("qty_mean") * 10000 + F.lit(0.5)).cast("long").alias("qml")
    )
    sup = t.supplier
    nat = (
        qm.join(F.broadcast(sup.select("s_suppkey", "s_nationkey")), qm.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(r4(F.sum("qml") / (F.count(F.lit(1)) * 10000.0)).alias("nation_avg"))
    )
    reg = (
        qm.join(F.broadcast(sup.select("s_suppkey", "s_nationkey")), qm.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(t.nation.select("n_nationkey", "n_regionkey")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(r4(F.sum("qml") / (F.count(F.lit(1)) * 10000.0)).alias("region_avg"))
    )
    glob = qm.agg(r4(F.sum("qml") / (F.count(F.lit(1)) * 10000.0)).alias("global_avg"))
    own_mean = F.floor(F.col("qty_mean") * 10000 + F.lit(0.5)) / 10000.0
    return (
        sup.select("s_suppkey", "s_nationkey")
        .join(feat.select(F.col("l_suppkey"), "qty_mean"), sup.s_suppkey == F.col("l_suppkey"), "left")
        .join(F.broadcast(top1), sup.s_suppkey == F.col("sa"), "left")
        .join(F.broadcast(t.nation.select("n_nationkey", "n_regionkey")), F.col("s_nationkey") == F.col("n_nationkey"), "left")
        .join(F.broadcast(nat), "s_nationkey", "left")
        .join(F.broadcast(reg), "n_regionkey", "left")
        .crossJoin(F.broadcast(glob))
        .select(
            "s_suppkey",
            F.when(F.col("l_suppkey").isNull(), 0).otherwise(1).alias("has_history"),
            F.when(F.col("l_suppkey").isNull(), F.lit(None).cast("double"))
            .otherwise(own_mean)
            .alias("own_mean"),
            F.col("sb").alias("sim_suppkey"),
            r4(F.col("cos_sim")).alias("sim_score"),
            "nation_avg",
            "region_avg",
            "global_avg",
            r4(F.coalesce(own_mean, F.col("nation_avg"), F.col("region_avg"), F.col("global_avg"))).alias(
                "coldstart_forecast"
            ),
        )
    )


# Shared out-of-fold base-prediction construction: first-half train /
# second-half holdout, three deterministic base "models" (per-series train
# mean, per-series train Q75, per-store train mean) joined to holdout
# actuals per (store, part) series.  Used by stacking_predictions_join,
# stacking_ridge_weights, and ensemble_dynamic_weights so all three ensemble
# queries see the IDENTICAL design matrix in both engines.


def _oof_join(t: Catalog) -> DataFrame:
    """Spark twin of ``_OOF_SQL``: the OOF design matrix
    (l_suppkey, l_partkey, pred_mean, pred_q75, pred_store, tr_n, actual)."""
    li = t.lineitem
    bounds = li.agg(F.min("l_shipdate").alias("d0"), F.max("l_shipdate").alias("d1"))
    split = bounds.select(
        F.date_add(
            F.col("d0").cast("date"),
            F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2).cast("int"),
        )
        .cast("timestamp_ntz")
        .alias("mid")
    )
    lis = li.crossJoin(F.broadcast(split))
    train = lis.filter(F.col("l_shipdate") < F.col("mid"))
    valid = lis.filter(F.col("l_shipdate") >= F.col("mid"))
    q4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000.0  # noqa: E731
    base_sp = train.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("tr_sum"),
        F.count(F.lit(1)).alias("tr_n"),
        r4(F.percentile("l_quantity", F.lit(0.75))).alias("pred_q75"),
    )
    base_store = train.groupBy("l_suppkey").agg(
        q4(F.sum("l_quantity") / F.count(F.lit(1))).alias("pred_store")
    )
    preds = base_sp.join(F.broadcast(base_store), "l_suppkey").select(
        "l_suppkey",
        "l_partkey",
        q4(F.col("tr_sum") / F.col("tr_n")).alias("pred_mean"),
        "pred_q75",
        "pred_store",
        "tr_n",
    )
    act = valid.groupBy("l_suppkey", "l_partkey").agg(
        q4(F.sum("l_quantity") / F.count(F.lit(1))).alias("actual")
    )
    return preds.join(act, ["l_suppkey", "l_partkey"])


_OOF_SQL = """bounds AS (
  SELECT min(l_shipdate) AS d0, max(l_shipdate) AS d1 FROM lineitem
), split AS (
  SELECT d0 + INTERVAL 1 DAY * CAST(floor(date_diff('day', d0, d1) / 2) AS INTEGER) AS mid
  FROM bounds
), train AS (
  SELECT l.* FROM lineitem l, split WHERE l.l_shipdate < split.mid
), valid AS (
  SELECT l.* FROM lineitem l, split WHERE l.l_shipdate >= split.mid
), base_sp AS (
  SELECT l_suppkey, l_partkey,
         sum(l_quantity) AS tr_sum, CAST(count(*) AS BIGINT) AS tr_n,
         floor(quantile_cont(l_quantity, 0.75) * 10000 + 0.5) / 10000 AS pred_q75
  FROM train GROUP BY l_suppkey, l_partkey
), base_store AS (
  SELECT l_suppkey,
         floor((sum(l_quantity) / count(*)) * 10000 + 0.5) / 10000 AS pred_store
  FROM train GROUP BY l_suppkey
), preds AS (
  SELECT b.l_suppkey, b.l_partkey,
         floor((tr_sum / tr_n) * 10000 + 0.5) / 10000 AS pred_mean,
         pred_q75, pred_store, tr_n
  FROM base_sp b JOIN base_store s ON b.l_suppkey = s.l_suppkey
), act AS (
  SELECT l_suppkey, l_partkey,
         floor((sum(l_quantity) / count(*)) * 10000 + 0.5) / 10000 AS actual
  FROM valid GROUP BY l_suppkey, l_partkey
), j AS (
  SELECT p.*, a.actual FROM preds p JOIN act a
  ON p.l_suppkey = a.l_suppkey AND p.l_partkey = a.l_partkey
)"""


@register(
    "stacking_predictions_join",
    oracle=f"""
WITH {_OOF_SQL}, err AS (
  SELECT sum(CAST(floor(abs(actual - pred_mean) * 10000 + 0.5) AS BIGINT)) * 1.0
           / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) AS w_mean,
         sum(CAST(floor(abs(actual - pred_q75) * 10000 + 0.5) AS BIGINT)) * 1.0
           / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) AS w_q75,
         sum(CAST(floor(abs(actual - pred_store) * 10000 + 0.5) AS BIGINT)) * 1.0
           / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) AS w_store
  FROM j
), wts AS (
  SELECT (1.0 / w_mean) / (1.0 / w_mean + 1.0 / w_q75 + 1.0 / w_store) AS a_mean,
         (1.0 / w_q75) / (1.0 / w_mean + 1.0 / w_q75 + 1.0 / w_store) AS a_q75,
         (1.0 / w_store) / (1.0 / w_mean + 1.0 / w_q75 + 1.0 / w_store) AS a_store
  FROM err
)
SELECT j.l_suppkey, j.l_partkey, j.pred_mean, j.pred_q75, j.pred_store,
       j.actual, j.tr_n AS n_train,
       round(a_mean, 4) AS wt_mean,
       round(a_q75, 4) AS wt_q75,
       round(a_store, 4) AS wt_store,
       round(a_mean * pred_mean + a_q75 * pred_q75 + a_store * pred_store, 4)
         AS stacked_forecast
FROM j, wts
""",
)
def stacking_predictions_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stacking-ensemble DATAFLOW: N base predictions joined on the
    series key + holdout actuals -> per-model global error -> inverse-error
    dynamic weights -> weighted meta-forecast
    (/root/reference/src/models/advanced_ensemble.py:204-660 stacker +
    dynamic weighting; meta_ensemble.py:60-700).  The sklearn/LightGBM
    meta-LEARNER itself is library-level model fitting, out of engine scope
    (SURVEY §2.9) — this query is the distributed part: the predictions
    join, the holdout split, and the weight computation.

    Base models are deterministic stand-ins (train-half per-series mean,
    per-series Q75, per-store mean) so the whole flow is oracle-checkable.
    Cross-engine: every error sum is an exact 1e4-scaled BIGINT sum, so
    the weights are identical doubles in both engines.  Scale: two keyed
    aggregates + one keyed join + one scalar broadcast — map-side combine
    everywhere, no global window."""
    j = _oof_join(Catalog(spark, sf_dir))
    lq = lambda c: F.floor(F.abs(c) * 10000 + F.lit(0.5)).cast("long")  # noqa: E731
    err = j.agg(
        (F.sum(lq(F.col("actual") - F.col("pred_mean"))) * 1.0 / F.sum(lq(F.col("actual")))).alias("w_mean"),
        (F.sum(lq(F.col("actual") - F.col("pred_q75"))) * 1.0 / F.sum(lq(F.col("actual")))).alias("w_q75"),
        (F.sum(lq(F.col("actual") - F.col("pred_store"))) * 1.0 / F.sum(lq(F.col("actual")))).alias("w_store"),
    )
    inv_tot = 1.0 / F.col("w_mean") + 1.0 / F.col("w_q75") + 1.0 / F.col("w_store")
    wts = err.select(
        ((1.0 / F.col("w_mean")) / inv_tot).alias("a_mean"),
        ((1.0 / F.col("w_q75")) / inv_tot).alias("a_q75"),
        ((1.0 / F.col("w_store")) / inv_tot).alias("a_store"),
    )
    return j.crossJoin(F.broadcast(wts)).select(
        "l_suppkey",
        "l_partkey",
        "pred_mean",
        "pred_q75",
        "pred_store",
        "actual",
        F.col("tr_n").alias("n_train"),
        r4(F.col("a_mean")).alias("wt_mean"),
        r4(F.col("a_q75")).alias("wt_q75"),
        r4(F.col("a_store")).alias("wt_store"),
        r4(
            F.col("a_mean") * F.col("pred_mean")
            + F.col("a_q75") * F.col("pred_q75")
            + F.col("a_store") * F.col("pred_store")
        ).alias("stacked_forecast"),
    )


@register(
    "residual_diagnostics_store",
    oracle=f"""
WITH f AS ({{_FORECAST_SQL}}),
r AS (
  SELECT l_suppkey,
         CAST(floor((actual - forecast) * 10000 + 0.5) AS BIGINT) AS el,
         CAST(floor(forecast * 10000 + 0.5) AS BIGINT) AS fl,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY l_suppkey) AS cnt,
         lag(CAST(floor((actual - forecast) * 10000 + 0.5) AS BIGINT)) OVER w AS lel
  FROM f WHERE forecast IS NOT NULL
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY {{_ORDER_SQL}})
), med AS (
  SELECT l_suppkey, median(el) AS med_el FROM r GROUP BY l_suppkey
), rb AS (
  SELECT r.*, CASE WHEN r.el > m.med_el THEN 1 ELSE 0 END AS b,
         lag(CASE WHEN r.el > m.med_el THEN 1 ELSE 0 END)
           OVER (PARTITION BY r.l_suppkey ORDER BY r.rn) AS lb
  FROM r JOIN med m ON r.l_suppkey = m.l_suppkey
), a AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(el) AS HUGEINT) AS s1,
         sum(CAST(el AS HUGEINT) * el) AS s2,
         sum(CAST(el AS HUGEINT) * el * el) AS s3,
         sum(CAST(el AS HUGEINT) * el * el * el) AS s4,
         sum(CASE WHEN lel IS NULL THEN CAST(0 AS HUGEINT)
                  ELSE CAST(el AS HUGEINT) * lel END) AS lp,
         CAST(sum(fl) AS HUGEINT) AS sf1,
         sum(CAST(fl AS HUGEINT) * fl) AS sf2,
         sum(CAST(fl AS HUGEINT) * el * el) AS sxy,
         max(CASE WHEN rn = 1 THEN el END) AS el_first,
         max(CASE WHEN rn = cnt THEN el END) AS el_last,
         CAST(sum(b) AS BIGINT) AS n1,
         1 + CAST(sum(CASE WHEN lb IS NOT NULL AND b <> lb THEN 1 ELSE 0 END) AS BIGINT)
           AS runs
  FROM rb GROUP BY l_suppkey
), s AS (
  SELECT l_suppkey, n, n1, runs, el_first, el_last,
         CAST(s1 AS DOUBLE) / n AS mean,
         CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
         CAST(s3 AS DOUBLE) / n
           - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
           AS m3,
         CAST(s4 AS DOUBLE) / n
           - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
           + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4,
         CAST(s2 AS DOUBLE) AS s2d, CAST(lp AS DOUBLE) AS lpd,
         CAST(s1 AS DOUBLE) AS s1d, CAST(sf1 AS DOUBLE) AS sf1d,
         CAST(sf2 AS DOUBLE) AS sf2d, CAST(sxy AS DOUBLE) AS sxyd,
         CAST(s4 AS DOUBLE) AS s4d
  FROM a
), t AS (
  SELECT l_suppkey, n, n1, runs,
         CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skew_pop,
         CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurt_pop,
         CASE WHEN s2d > 0 THEN
           ((s2d - el_first * CAST(el_first AS DOUBLE))
            + (s2d - el_last * CAST(el_last AS DOUBLE)) - 2 * lpd) / s2d END AS dw,
         (n * sxyd - sf1d * (s2d))
           / nullif(sqrt(n * sf2d - sf1d * sf1d) * sqrt(n * s4d - s2d * s2d), 0) AS bp_corr,
         n - n1 AS n0
  FROM s
)
SELECT l_suppkey, n AS n_resid,
       round(CASE WHEN skew_pop IS NOT NULL AND kurt_pop IS NOT NULL THEN
         n / 6.0 * (skew_pop * skew_pop + (kurt_pop - 3) * (kurt_pop - 3) / 4.0) END, 4)
         AS jb_stat,
       round(skew_pop, 4) AS resid_skew,
       round(kurt_pop, 4) AS resid_kurt,
       round(dw, 4) AS dw_stat,
       round(bp_corr, 4) AS bp_corr,
       round(bp_corr * sqrt((n - 2) / nullif(1 - bp_corr * bp_corr, 0)), 4) AS bp_t,
       CAST(runs AS BIGINT) AS n_runs,
       round((runs - (2.0 * n1 * n0 / n + 1))
             / nullif(sqrt((2.0 * n1 * n0 * (2.0 * n1 * n0 - n))
                           / (CAST(n AS DOUBLE) * n * (n - 1))), 0), 4) AS runs_z
FROM t
""".replace("{_FORECAST_SQL}", _FORECAST_SQL).replace("{_ORDER_SQL}", _ORDER_SQL),
)
def residual_diagnostics_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-store residual diagnostics: Jarque-Bera normality statistic,
    Durbin-Watson + lag-1 structure, Breusch-Pagan correlation form, and
    the Wald-Wolfowitz runs test
    (/root/reference/src/evaluation/error_analysis.py:611-953: _test_normality
    jarque_bera, _test_autocorrelation, _test_heteroskedasticity's manual
    corr(fitted, e²) + t-stat, _test_randomness runs test on the
    above/below-median binary; p-values need CDF lookups — the reference
    thresholds them driver-side, the engine emits the statistics).

    Everything is closed-form from per-store power sums of the 1e4-scaled
    integer residual: Σe..Σe⁴ accumulate as DECIMAL(38,0)/HUGEINT so the
    sums are EXACT (e⁴ exceeds both int64 and the 2^53 double mantissa) and
    summation order can't drift between engines; the doubles only appear in
    the final closed forms, identically on both sides.  Scale: two keyed
    window passes + one keyed aggregate per store — no global ordering, no
    Python, map-side partial aggregation throughout."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    el = F.floor((F.col("actual") - F.col("forecast")) * 10000 + F.lit(0.5)).cast("long")
    fl = F.floor(F.col("forecast") * 10000 + F.lit(0.5)).cast("long")
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    r = f.select(
        "l_suppkey",
        el.alias("el"),
        fl.alias("fl"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("l_suppkey")).alias("cnt"),
        F.lag(el).over(w).alias("lel"),
    )
    med = r.groupBy("l_suppkey").agg(F.percentile("el", F.lit(0.5)).alias("med_el"))
    b = F.when(F.col("el") > F.col("med_el"), 1).otherwise(0)
    wb = W.partitionBy("l_suppkey").orderBy("rn")
    rb = r.join(med, "l_suppkey").select(
        "l_suppkey", "el", "fl", "rn", "cnt", "lel",
        b.alias("b"),
        F.lag(b).over(wb).alias("lb"),
    )
    d38 = "decimal(38,0)"
    eld = F.col("el").cast(d38)
    fld = F.col("fl").cast(d38)
    a = rb.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("el").cast(d38).alias("s1"),
        F.sum(eld * F.col("el")).alias("s2"),
        F.sum(eld * F.col("el") * F.col("el")).alias("s3"),
        F.sum(eld * F.col("el") * F.col("el") * F.col("el")).alias("s4"),
        F.sum(
            F.when(F.col("lel").isNull(), F.lit(0).cast(d38)).otherwise(eld * F.col("lel"))
        ).alias("lp"),
        F.sum("fl").cast(d38).alias("sf1"),
        F.sum(fld * F.col("fl")).alias("sf2"),
        F.sum(fld * F.col("el") * F.col("el")).alias("sxy"),
        F.max(F.when(F.col("rn") == 1, F.col("el"))).alias("el_first"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("el"))).alias("el_last"),
        F.sum("b").alias("n1"),
        (1 + F.sum(
            F.when(F.col("lb").isNotNull() & (F.col("b") != F.col("lb")), 1).otherwise(0)
        )).alias("runs"),
    )
    n = F.col("n")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3d, s4d = F.col("s3").cast("double"), F.col("s4").cast("double")
    mean = s1d / n
    m2 = s2d / n - mean * mean
    m3 = s3d / n - 3 * mean * (s2d / n) + 2 * mean * mean * mean
    m4 = (
        s4d / n
        - 4 * mean * (s3d / n)
        + 6 * mean * mean * (s2d / n)
        - 3 * mean * mean * mean * mean
    )
    s = a.select(
        "l_suppkey", "n", "n1", "runs", "el_first", "el_last",
        m2.alias("m2"), m3.alias("m3"), m4.alias("m4"),
        s2d.alias("s2d"),
        F.col("lp").cast("double").alias("lpd"),
        s1d.alias("s1d"),
        F.col("sf1").cast("double").alias("sf1d"),
        F.col("sf2").cast("double").alias("sf2d"),
        F.col("sxy").cast("double").alias("sxyd"),
        s4d.alias("s4d"),
    )
    m2c, m3c, m4c = F.col("m2"), F.col("m3"), F.col("m4")
    skew_pop = F.when(m2c > 0, m3c / (m2c * F.sqrt(m2c)))
    kurt_pop = F.when(m2c > 0, m4c / (m2c * m2c))
    dw = F.when(
        F.col("s2d") > 0,
        (
            (F.col("s2d") - F.col("el_first") * F.col("el_first").cast("double"))
            + (F.col("s2d") - F.col("el_last") * F.col("el_last").cast("double"))
            - 2 * F.col("lpd")
        )
        / F.col("s2d"),
    )
    bp_corr = (n * F.col("sxyd") - F.col("sf1d") * F.col("s2d")) / F.nullif(
        F.sqrt(n * F.col("sf2d") - F.col("sf1d") * F.col("sf1d"))
        * F.sqrt(n * F.col("s4d") - F.col("s2d") * F.col("s2d")),
        F.lit(0.0),
    )
    tt = s.select(
        "l_suppkey", "n", "n1", "runs",
        skew_pop.alias("skew_pop"),
        kurt_pop.alias("kurt_pop"),
        dw.alias("dw"),
        bp_corr.alias("bp_corr"),
        (n - F.col("n1")).alias("n0"),
    )
    sk, ku = F.col("skew_pop"), F.col("kurt_pop")
    bpc = F.col("bp_corr")
    n1c, n0c, runsc = F.col("n1"), F.col("n0"), F.col("runs")
    nn = F.col("n")
    return tt.select(
        "l_suppkey",
        nn.alias("n_resid"),
        r4(
            F.when(
                sk.isNotNull() & ku.isNotNull(),
                nn / 6.0 * (sk * sk + (ku - 3) * (ku - 3) / 4.0),
            )
        ).alias("jb_stat"),
        r4(sk).alias("resid_skew"),
        r4(ku).alias("resid_kurt"),
        r4(F.col("dw")).alias("dw_stat"),
        r4(bpc).alias("bp_corr"),
        r4(bpc * F.sqrt((nn - 2) / F.nullif(1 - bpc * bpc, F.lit(0.0)))).alias("bp_t"),
        runsc.cast("long").alias("n_runs"),
        r4(
            (runsc - (2.0 * n1c * n0c / nn + 1))
            / F.nullif(
                F.sqrt(
                    (2.0 * n1c * n0c * (2.0 * n1c * n0c - nn))
                    / (nn.cast("double") * nn * (nn - 1))
                ),
                F.lit(0.0),
            )
        ).alias("runs_z"),
    )


def _forecast_deciles(v: DataFrame) -> DataFrame:
    """``v`` plus ``forecast_decile`` (1-10): the forecast's bin among nine
    scalar quantile edges broadcast back, so there is no global ntile
    window."""
    edges = v.agg(
        *[
            r4(F.percentile("forecast", F.lit(i / 10.0))).alias(f"q{i}")
            for i in range(1, 10)
        ]
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + F.when(F.col("forecast") > F.col(f"q{i}"), 1).otherwise(0)
    return v.crossJoin(F.broadcast(edges)).select(
        *v.columns, decile.alias("forecast_decile")
    )


@register(
    "calibration_curve_bins",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
v AS (
  SELECT actual, forecast,
         CAST(floor(forecast * 10000 + 0.5) AS BIGINT) AS fl
  FROM f WHERE forecast IS NOT NULL
), e AS (
  SELECT floor(quantile_cont(forecast, 0.1) * 10000 + 0.5) / 10000 AS q1,
         floor(quantile_cont(forecast, 0.2) * 10000 + 0.5) / 10000 AS q2,
         floor(quantile_cont(forecast, 0.3) * 10000 + 0.5) / 10000 AS q3,
         floor(quantile_cont(forecast, 0.4) * 10000 + 0.5) / 10000 AS q4,
         floor(quantile_cont(forecast, 0.5) * 10000 + 0.5) / 10000 AS q5,
         floor(quantile_cont(forecast, 0.6) * 10000 + 0.5) / 10000 AS q6,
         floor(quantile_cont(forecast, 0.7) * 10000 + 0.5) / 10000 AS q7,
         floor(quantile_cont(forecast, 0.8) * 10000 + 0.5) / 10000 AS q8,
         floor(quantile_cont(forecast, 0.9) * 10000 + 0.5) / 10000 AS q9
  FROM v
), binned AS (
  SELECT actual, fl,
         1 + (CASE WHEN forecast > q1 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q2 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q3 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q4 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q5 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q6 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q7 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q8 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q9 THEN 1 ELSE 0 END) AS forecast_decile
  FROM v, e
)
SELECT CAST(forecast_decile AS BIGINT) AS forecast_decile,
       count(*) AS n_rows,
       floor((CAST(sum(fl) AS DOUBLE) / (count(*) * 10000.0)) * 10000 + 0.5) / 10000
         AS mean_forecast,
       floor((CAST(sum(actual) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000
         AS mean_actual,
       round(CAST(sum(actual) AS DOUBLE) * 10000.0 / nullif(CAST(sum(fl) AS DOUBLE), 0), 4)
         AS calibration_ratio
FROM binned
GROUP BY forecast_decile
""",
)
def calibration_curve_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration/reliability curve: forecasts bucketed into value-deciles,
    per-bin mean forecast vs mean actual and their ratio — the distributed
    dataflow behind the reference's calibration suite
    (/root/reference/src/models/model_calibration.py:49-520; the
    Platt/isotonic/temperature FITTING loops are scipy/sklearn model
    internals, out of engine scope — the engine supplies the binned curve
    they fit on, plus the conformal intervals in
    ``calibration_interval_coverage`` and the global 1.687 bias factor in
    ``heuristic_blend_forecast``).

    Scale: nine scalar quantile edges broadcast back (no ntile window), one
    keyed aggregate; means and ratio derive from exact integer sums of the
    1e4-scaled forecast so both engines emit identical doubles."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    v = f.select(
        "actual",
        "forecast",
        F.floor(F.col("forecast") * 10000 + F.lit(0.5)).cast("long").alias("fl"),
    )
    return _forecast_deciles(v).groupBy("forecast_decile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.floor(
                (F.sum("fl").cast("double") / (F.count(F.lit(1)) * 10000.0)) * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("mean_forecast"),
        (
            F.floor((F.sum("actual").cast("double") / F.count(F.lit(1))) * 10000 + F.lit(0.5))
            / 10000.0
        ).alias("mean_actual"),
        r4(
            F.sum("actual").cast("double")
            * 10000.0
            / F.nullif(F.sum("fl").cast("double"), F.lit(0.0))
        ).alias("calibration_ratio"),
    ).select(
        F.col("forecast_decile").cast("long").alias("forecast_decile"),
        "n_rows",
        "mean_forecast",
        "mean_actual",
        "calibration_ratio",
    )


# Pool-adjacent-violators as one left fold over the distinct forecasts in
# ascending order.  The stack holds one entry per pooled block: the running
# totals (cw rows, cs = sum of 1e4-scaled actuals) through the block's last
# forecast x, behind a zero sentinel.  Each point keeps the stack up to the
# topmost block whose mean is below the mean of everything above it plus
# the point, and pools the rest into one block — the greedy PAV pop loop
# as one filter.  Totals are exact integers, so every mean is one
# correctly rounded division and both engines take the same pooling path.
_PAV_ZERO = (
    "array(named_struct('x', cast(null as double),"
    " 'cw', cast(0 as bigint), 'cs', cast(0 as bigint)))"
)
_PAV_STEP = """(st, p) -> concat(
  slice(st, 1, 1 + array_max(filter(sequence(0, size(st) - 1), k ->
    CASE WHEN k = 0 THEN true
         ELSE (st[k].cs - st[k - 1].cs) / (st[k].cw - st[k - 1].cw)
              < (element_at(st, -1).cs + p.cs - st[k].cs)
                / (element_at(st, -1).cw + p.cw - st[k].cw) END))),
  array(named_struct('x', p.x, 'cw', element_at(st, -1).cw + p.cw,
                     'cs', element_at(st, -1).cs + p.cs)))"""

_DUCK_PAV_STEP = """(st, q) -> list_concat(
  st[1:list_max(list_filter(range(1, len(st) + 1), k ->
    CASE WHEN k = 1 THEN true
         ELSE (st[k].cs - st[k - 1].cs) / (st[k].cw - st[k - 1].cw)
              < (st[-1].cs + q[1].cs - st[k].cs) / (st[-1].cw + q[1].cw - st[k].cw) END))],
  [{'x': q[1].x, 'cw': st[-1].cw + q[1].cw, 'cs': st[-1].cs + q[1].cs}])"""

_ISO_EDGES_SQL = ",\n".join(
    f"         floor(quantile_cont(forecast, {i / 10}) * 10000 + 0.5) / 10000 AS q{i}"
    for i in range(1, 10)
)
_ISO_DECILE_SQL = "\n".join(
    f"           + (CASE WHEN forecast > q{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
)


@register(
    "calibration_isotonic",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
v AS (
  SELECT actual, forecast,
         CAST(floor(forecast * 10000 + 0.5) AS BIGINT) AS fl,
         CAST(floor(actual * 10000 + 0.5) AS BIGINT) AS al
  FROM f WHERE forecast IS NOT NULL
), pts AS (
  SELECT list_sort(list({{'x': forecast, 'cw': cw, 'cs': cs}})) AS pts
  FROM (SELECT forecast, count(*) AS cw, CAST(sum(al) AS BIGINT) AS cs
        FROM v GROUP BY forecast)
), fold AS (
  SELECT pts, list_reduce(
    list_prepend([{{'x': NULL::DOUBLE, 'cw': 0::BIGINT, 'cs': 0::BIGINT}}],
                 list_transform(pts, p -> [p])),
    {_DUCK_PAV_STEP}) AS st
  FROM pts
), blocks AS (
  SELECT pts, list_transform(range(2, len(st) + 1), k ->
    {{'hi': st[k].x,
     'c': (st[k].cs - st[k - 1].cs) / (st[k].cw - st[k - 1].cw) / 10000.0}}) AS bl
  FROM fold
), cal_map AS (
  SELECT m.forecast, m.calibrated
  FROM (SELECT unnest(list_transform(pts, p ->
          {{'forecast': p.x,
           'calibrated': list_filter(bl, b -> b.hi >= p.x)[1].c}})) AS m
        FROM blocks)
), cal AS (
  SELECT v.actual, v.forecast, v.fl, v.al,
         CAST(floor(c.calibrated * 10000 + 0.5) AS BIGINT) AS cl
  FROM v JOIN cal_map c ON v.forecast = c.forecast
), e AS (
  SELECT
{_ISO_EDGES_SQL}
  FROM cal
), binned AS (
  SELECT actual, fl, al, cl,
         1
{_ISO_DECILE_SQL} AS forecast_decile
  FROM cal, e
)
SELECT CAST(forecast_decile AS BIGINT) AS forecast_decile,
       count(*) AS n_rows,
       round(CAST(sum(fl) AS DOUBLE) / (count(*) * 10000.0), 4) AS mean_forecast,
       round(CAST(sum(cl) AS DOUBLE) / (count(*) * 10000.0), 4) AS mean_calibrated,
       round(CAST(sum(al) AS DOUBLE) / (count(*) * 10000.0), 4) AS mean_actual,
       round(CAST(sum(CAST(fl - al AS HUGEINT) * (fl - al)) AS DOUBLE) / 100000000.0, 4)
         AS sse_raw,
       round(CAST(sum(CAST(cl - al AS HUGEINT) * (cl - al)) AS DOUBLE) / 100000000.0, 4)
         AS sse_calibrated
FROM binned
GROUP BY forecast_decile
""",
)
def calibration_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the rolling-mean forecast: the monotone map
    forecast → actual that minimizes squared error, fitted by
    pool-adjacent-violators (the reference's sklearn isotonic calibrator,
    src/models/model_calibration.py:49-200), then the
    calibrated predictions are summarized per forecast-decile.  Total
    squared error is never worse than the raw forecast's on the fit data:
    the identity map is itself monotone.

    The fit runs on the weighted distinct-forecast points (rows, summed
    actual): PAV pools by feature value anyway, and the forecast lives on
    the 1e-4 grid, so the points stay a few hundred whatever the fact size.
    The points collect into one sorted array and ``_PAV_STEP`` folds them
    (O(points²) in the worst case); the per-point calibrated values
    explode back into a tiny map that broadcasts onto the full frame.
    Calibrated values are quantized to the 1e-4 grid (within a block the
    residuals sum to zero, so this adds at most n·(5e-5)² to the total
    error), and every reported sum is an exact integer sum, so the oracle
    replays the identical fold with ``list_reduce``.  The decile summary
    shares ``calibration_curve_bins``' broadcast quantile edges."""
    t = Catalog(spark, sf_dir)
    v = _with_forecast(t).filter(F.col("forecast").isNotNull()).select(
        "actual",
        "forecast",
        F.floor(F.col("forecast") * 10000 + F.lit(0.5)).cast("long").alias("fl"),
        F.floor(F.col("actual") * 10000 + F.lit(0.5)).cast("long").alias("al"),
    )
    pts = (
        v.groupBy("forecast")
        .agg(F.count(F.lit(1)).alias("cw"), F.sum("al").alias("cs"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("forecast").alias("x"), "cw", "cs"))
            ).alias("pts")
        )
    )
    cal_map = (
        pts.select("pts", F.expr(f"aggregate(pts, {_PAV_ZERO}, {_PAV_STEP})").alias("st"))
        .select(
            "pts",
            F.expr(
                "transform(slice(st, 2, size(st)), (b, i) -> named_struct('hi', b.x,"
                " 'c', (b.cs - st[i].cs) / (b.cw - st[i].cw) / 10000.0))"
            ).alias("bl"),
        )
        .select(
            F.explode(
                F.expr(
                    "transform(pts, p -> named_struct('forecast', p.x,"
                    " 'calibrated', filter(bl, b -> b.hi >= p.x)[0].c))"
                )
            ).alias("m")
        )
        .select("m.forecast", "m.calibrated")
    )
    cal = v.join(F.broadcast(cal_map), "forecast").select(
        "forecast",
        "fl",
        "al",
        F.floor(F.col("calibrated") * 10000 + F.lit(0.5)).cast("long").alias("cl"),
    )

    def sse(c: str) -> Column:
        d = F.col(c) - F.col("al")
        return r4(
            F.sum((d.cast("decimal(19,0)") * d).cast("decimal(38,0)")).cast("double")
            / 100000000.0
        )

    n = F.count(F.lit(1))
    return (
        _forecast_deciles(cal)
        .groupBy(F.col("forecast_decile").cast("long").alias("forecast_decile"))
        .agg(
            n.alias("n_rows"),
            r4(F.sum("fl") / (n * 10000.0)).alias("mean_forecast"),
            r4(F.sum("cl") / (n * 10000.0)).alias("mean_calibrated"),
            r4(F.sum("al") / (n * 10000.0)).alias("mean_actual"),
            sse("fl").alias("sse_raw"),
            sse("cl").alias("sse_calibrated"),
        )
    )


@register(
    "metric_wmape_weighted",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
v AS (
  SELECT f.l_suppkey AS l_suppkey,
         CAST(floor(abs(f.actual - f.forecast) * 10000 + 0.5) AS BIGINT) AS el,
         CAST(floor(abs(f.actual) * 10000 + 0.5) AS BIGINT) AS al,
         CAST(floor(li.l_extendedprice * 100 + 0.5) AS BIGINT) AS wl
  FROM f JOIN lineitem li
    ON f.l_orderkey = li.l_orderkey AND f.l_linenumber = li.l_linenumber
  WHERE f.forecast IS NOT NULL
)
SELECT l_suppkey,
       round(CAST(sum(CAST(wl AS HUGEINT) * el) AS DOUBLE)
             / nullif(CAST(sum(CAST(wl AS HUGEINT) * al) AS DOUBLE), 0) * 100, 4)
         AS weighted_wmape,
       round(CAST(sum(el) AS DOUBLE) / nullif(CAST(sum(al) AS DOUBLE), 0) * 100, 4)
         AS wmape,
       count(*) AS n_rows
FROM v GROUP BY l_suppkey
""",
)
def metric_wmape_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume(revenue)-weighted WMAPE per store next to the unweighted one
    (/root/reference/src/evaluation/metrics.py:159-190: weighted WMAPE/MAE
    with an external weight column).

    The weights multiply 1e4-scaled integer errors as HUGEINT/DECIMAL(38,0)
    sums, so both engines aggregate exact integers and divide identically —
    no float-summation-order drift (same discipline as
    ``residual_diagnostics_store``).  One keyed join + one aggregate."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    li = t.lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice")
    v = f.join(li, ["l_orderkey", "l_linenumber"]).select(
        "l_suppkey",
        F.floor(F.abs(F.col("actual") - F.col("forecast")) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("el"),
        F.floor(F.abs(F.col("actual")) * 10000 + F.lit(0.5)).cast("long").alias("al"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("wl"),
    )
    d38 = "decimal(38,0)"
    wld = F.col("wl").cast(d38)
    return v.groupBy("l_suppkey").agg(
        r4(
            F.sum(wld * F.col("el")).cast("double")
            / F.nullif(F.sum(wld * F.col("al")).cast("double"), F.lit(0.0))
            * 100
        ).alias("weighted_wmape"),
        r4(
            F.sum("el").cast("double")
            / F.nullif(F.sum("al").cast("double"), F.lit(0.0))
            * 100
        ).alias("wmape"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "customer_rfm_segments",
    oracle="""
WITH mx AS (
  SELECT max(o_orderdate) AS max_d FROM orders
), base AS (
  SELECT o_custkey,
         CAST(date_diff('day', max(o_orderdate), (SELECT max_d FROM mx)) AS BIGINT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS monetary_c
  FROM orders GROUP BY o_custkey
), e AS (
  SELECT floor(quantile_cont(CAST(recency_days AS DOUBLE), 0.5) * 10000 + 0.5) / 10000 AS r_med,
         floor(quantile_cont(CAST(frequency AS DOUBLE), 0.5) * 10000 + 0.5) / 10000 AS f_med,
         floor(quantile_cont(CAST(monetary_c AS DOUBLE), 0.5) * 10000 + 0.5) / 10000 AS m_med
  FROM base
)
SELECT o_custkey, recency_days, frequency,
       floor(CAST(monetary_c AS DOUBLE) / 100 * 10000 + 0.5) / 10000 AS monetary,
       CASE WHEN recency_days <= r_med THEN 1 ELSE 0 END AS r_hi,
       CASE WHEN frequency > f_med THEN 1 ELSE 0 END AS f_hi,
       CASE WHEN monetary_c > m_med THEN 1 ELSE 0 END AS m_hi,
       CASE
         WHEN recency_days <= r_med AND frequency > f_med AND monetary_c > m_med
           THEN 'champion'
         WHEN recency_days <= r_med AND frequency > f_med THEN 'loyal'
         WHEN recency_days <= r_med THEN 'recent'
         WHEN frequency > f_med OR monetary_c > m_med THEN 'at_risk'
         ELSE 'hibernating' END AS rfm_segment
FROM base, e
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer RFM segmentation: recency (days since last order vs corpus
    max date), frequency (order count), monetary (total spend), split at
    the median of each and combined into named segments — the behavioral
    customer-profiling pattern of
    /root/reference/src/features/behavioral_features_engine.py:135-382
    (purchase frequency/recency stats + threshold segmentation).

    Cross-engine: monetary accumulates as a 1e2-scaled BIGINT (prices are
    2dp) so spend sums are exact; the three median thresholds are scalar
    quantile aggregates cross-joined back (no global ntile window).
    Scale: one keyed aggregate over orders + one tiny broadcast."""
    t = Catalog(spark, sf_dir)
    o = t.orders
    mx = o.agg(F.max("o_orderdate").alias("max_d"))
    base = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("max_d"), F.max("o_orderdate")).cast("long").alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias(
                "monetary_c"
            ),
        )
    )
    e = base.agg(
        r4(F.percentile(F.col("recency_days").cast("double"), F.lit(0.5))).alias("r_med"),
        r4(F.percentile(F.col("frequency").cast("double"), F.lit(0.5))).alias("f_med"),
        r4(F.percentile(F.col("monetary_c").cast("double"), F.lit(0.5))).alias("m_med"),
    )
    r_hi = F.when(F.col("recency_days") <= F.col("r_med"), 1).otherwise(0)
    f_hi = F.when(F.col("frequency") > F.col("f_med"), 1).otherwise(0)
    m_hi = F.when(F.col("monetary_c") > F.col("m_med"), 1).otherwise(0)
    seg = (
        F.when((r_hi == 1) & (f_hi == 1) & (m_hi == 1), "champion")
        .when((r_hi == 1) & (f_hi == 1), "loyal")
        .when(r_hi == 1, "recent")
        .when((f_hi == 1) | (m_hi == 1), "at_risk")
        .otherwise("hibernating")
    )
    return base.crossJoin(F.broadcast(e)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        (F.floor(F.col("monetary_c").cast("double") / 100 * 10000 + F.lit(0.5)) / 10000.0).alias(
            "monetary"
        ),
        r_hi.alias("r_hi"),
        f_hi.alias("f_hi"),
        m_hi.alias("m_hi"),
        seg.alias("rfm_segment"),
    )


# Kept beside its oracled twin calibration_platt_exact, whose 12 GD steps
# stop short of the optimum: log-loss 0.6929 vs 0.6980 at sf0.01.
@register("calibration_platt")
def calibration_platt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling, distributed: a one-feature logistic regression maps
    the raw forecast to a calibrated P(demand event) — the sigmoid-fit
    calibrator from the reference suite
    (/root/reference/src/models/model_calibration.py:200-320), with the
    event defined as actual demand above the store median (the same label
    the hurdle model uses).  Rows-only: the fitted (slope, intercept) are
    optimizer outputs; tests pin sigmoid monotonicity, [0,1] range, and
    log-loss no worse than the base-rate predictor.

    Scale: MLlib LBFGS over one feature; scoring extracts the two scalars
    and applies the sigmoid as column math (no model object in any task
    closure — see zero_inflated_hurdle_mllib for why), so calibration adds
    zero Python and zero extra shuffles to the scored frame."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    labeled = f.withColumn(
        "med", F.expr("percentile(actual, 0.5)").over(W.partitionBy("l_suppkey"))
    ).withColumn("is_event", (F.col("actual") > F.col("med")).cast("double"))
    vec = VectorAssembler(inputCols=["forecast"], outputCol="x").transform(labeled)
    model = LogisticRegression(
        featuresCol="x", labelCol="is_event", maxIter=25, regParam=0.01
    ).fit(vec)
    slope = float(model.coefficients[0])
    intercept = float(model.intercept)
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.lit(slope) * F.col("forecast") + F.lit(intercept)))
    )
    scored = labeled.select(
        "l_suppkey",
        "forecast",
        "is_event",
        F.round(p, 4).alias("p_event_calibrated"),
    )
    return scored.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        r4(F.avg("is_event")).alias("event_rate"),
        r4(F.avg("p_event_calibrated")).alias("mean_calibrated_p"),
        r4(F.min("p_event_calibrated")).alias("min_p"),
        r4(F.max("p_event_calibrated")).alias("max_p"),
    )


@register(
    "calibration_conformal",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
p AS (
  SELECT l_suppkey, actual, forecast, abs(actual - forecast) AS score,
         l_orderkey % 2 AS grp
  FROM f WHERE forecast IS NOT NULL
), cal AS (
  SELECT l_suppkey, score,
         row_number() OVER (PARTITION BY l_suppkey ORDER BY score) AS rn,
         count(*) OVER (PARTITION BY l_suppkey) AS n
  FROM p WHERE grp = 0
), q AS (
  SELECT l_suppkey, CAST(max(n) AS BIGINT) AS n_cal,
         max(CASE WHEN rn = least(CAST(ceil((n + 1) * 0.9) AS BIGINT), n)
                  THEN score END) AS q_hat
  FROM cal GROUP BY l_suppkey
), t AS (
  SELECT p.l_suppkey,
         CAST(count(*) AS BIGINT) AS n_test,
         avg(CASE WHEN actual >= forecast - q_hat AND actual <= forecast + q_hat
                  THEN 1.0 ELSE 0.0 END) AS cov
  FROM p JOIN q ON p.l_suppkey = q.l_suppkey
  WHERE grp = 1
  GROUP BY p.l_suppkey
)
SELECT t.l_suppkey, q.n_cal, t.n_test,
       round(q.q_hat, 4) AS q_hat,
       round(cov, 4) AS coverage_90,
       round(cov - 0.9, 4) AS coverage_gap,
       CASE WHEN cov >= 0.85 THEN 'calibrated' ELSE 'undercovered' END
         AS calibration_band
FROM t JOIN q ON t.l_suppkey = q.l_suppkey
""",
)
def calibration_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals, fully distributed
    (/root/reference/src/models/model_calibration.py:196-295
    ConformalPredictor): conformity score = |actual - forecast| on a held-out
    calibration split, per-store threshold q̂ = the ⌈(n+1)·0.9⌉-th smallest
    score (the reference's np.partition rank, clamped to n), interval =
    forecast ± q̂ on the disjoint test split, then empirical coverage vs the
    nominal 90%.  The calibration/test split is a deterministic parity split
    on l_orderkey so both engines see identical halves.

    Cross-engine: the threshold is a pure ORDER STATISTIC (row_number =
    ceil-rank), not an interpolated percentile — the selected value is a
    member of the multiset, so no interpolation arithmetic can diverge.
    Scale: two windowed passes partitioned by store + one broadcast-size
    join of per-store thresholds; no global window, no Python."""
    t = Catalog(spark, sf_dir)
    p = (
        _with_forecast(t)
        .filter(F.col("forecast").isNotNull())
        .select(
            "l_suppkey",
            "actual",
            "forecast",
            F.abs(F.col("actual") - F.col("forecast")).alias("score"),
            (F.col("l_orderkey") % 2).alias("grp"),
        )
    )
    cal = p.filter(F.col("grp") == 0).select(
        "l_suppkey",
        "score",
        F.row_number().over(W.partitionBy("l_suppkey").orderBy("score")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("l_suppkey")).alias("n"),
    )
    q = cal.groupBy("l_suppkey").agg(
        F.max("n").alias("n_cal"),
        F.max(
            F.when(
                F.col("rn")
                == F.least(F.ceil((F.col("n") + 1) * 0.9), F.col("n")),
                F.col("score"),
            )
        ).alias("q_hat"),
    )
    covered = (
        (F.col("actual") >= F.col("forecast") - F.col("q_hat"))
        & (F.col("actual") <= F.col("forecast") + F.col("q_hat"))
    ).cast("double")
    tst = (
        p.filter(F.col("grp") == 1)
        .join(F.broadcast(q), "l_suppkey")
        .groupBy("l_suppkey")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count(F.lit(1)).alias("n_test"),
            F.avg(covered).alias("cov"),
            F.max("q_hat").alias("q_hat"),
        )
    )
    return tst.select(
        "l_suppkey",
        "n_cal",
        "n_test",
        r4(F.col("q_hat")).alias("q_hat"),
        r4(F.col("cov")).alias("coverage_90"),
        r4(F.col("cov") - 0.9).alias("coverage_gap"),
        F.when(F.col("cov") >= 0.85, "calibrated")
        .otherwise("undercovered")
        .alias("calibration_band"),
    )


@register(
    "stacking_ridge_weights",
    oracle=f"""
WITH {_OOF_SQL}, m AS (
  SELECT pred_mean, pred_q75, pred_store, actual,
         CAST(floor(pred_mean * 10000 + 0.5) AS BIGINT) AS pm,
         CAST(floor(pred_q75 * 10000 + 0.5) AS BIGINT) AS pq,
         CAST(floor(pred_store * 10000 + 0.5) AS BIGINT) AS ps,
         CAST(floor(actual * 10000 + 0.5) AS BIGINT) AS ay
  FROM j
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(pm AS HUGEINT) * pm) AS DOUBLE) AS smm,
         CAST(sum(CAST(pm AS HUGEINT) * pq) AS DOUBLE) AS smq,
         CAST(sum(CAST(pm AS HUGEINT) * ps) AS DOUBLE) AS sms,
         CAST(sum(CAST(pq AS HUGEINT) * pq) AS DOUBLE) AS sqq,
         CAST(sum(CAST(pq AS HUGEINT) * ps) AS DOUBLE) AS sqs,
         CAST(sum(CAST(ps AS HUGEINT) * ps) AS DOUBLE) AS sss,
         CAST(sum(CAST(pm AS HUGEINT) * ay) AS DOUBLE) AS smy,
         CAST(sum(CAST(pq AS HUGEINT) * ay) AS DOUBLE) AS sqy,
         CAST(sum(CAST(ps AS HUGEINT) * ay) AS DOUBLE) AS ssy
  FROM m
), d AS (
  SELECT n,
         smm + 100000000.0 AS a11, smq AS a12, sms AS a13,
         sqq + 100000000.0 AS a22, sqs AS a23, sss + 100000000.0 AS a33,
         smy AS v1, sqy AS v2, ssy AS v3
  FROM s
), beta AS (
  SELECT n,
         (v1*(a22*a33 - a23*a23) - a12*(v2*a33 - a23*v3) + a13*(v2*a23 - a22*v3))
           / (a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
              + a13*(a12*a23 - a22*a13)) AS b1,
         (a11*(v2*a33 - a23*v3) - v1*(a12*a33 - a23*a13) + a13*(a12*v3 - v2*a13))
           / (a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
              + a13*(a12*a23 - a22*a13)) AS b2,
         (a11*(a22*v3 - v2*a23) - a12*(a12*v3 - v2*a13) + v1*(a12*a23 - a22*a13))
           / (a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
              + a13*(a12*a23 - a22*a13)) AS b3
  FROM d
), scored AS (
  SELECT m.actual,
         floor(greatest(b1 * pred_mean + b2 * pred_q75 + b3 * pred_store, 0)
               * 10000 + 0.5) / 10000 AS yhat,
         floor((pred_mean + pred_q75 + pred_store) / 3 * 10000 + 0.5) / 10000
           AS yhat_eq,
         b1, b2, b3, n
  FROM m, beta
), agg AS (
  SELECT max(n) AS n_rows, max(b1) AS b1, max(b2) AS b2, max(b3) AS b3,
         sum(CAST(floor(abs(actual - yhat) * 10000 + 0.5) AS BIGINT)) * 1.0
           / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) * 100
           AS wmape_ridge,
         sum(CAST(floor(abs(actual - yhat_eq) * 10000 + 0.5) AS BIGINT)) * 1.0
           / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) * 100
           AS wmape_equal
  FROM scored
)
SELECT n_rows, 1.0 AS ridge_alpha,
       round(b1, 4) AS w_mean, round(b2, 4) AS w_q75, round(b3, 4) AS w_store,
       round(wmape_ridge, 4) AS wmape_ridge,
       round(wmape_equal, 4) AS wmape_equal
FROM agg
""",
)
def stacking_ridge_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stacking META-LEARNER fit itself, as one fully oracled query:
    ridge regression (alpha=1.0, the reference's level-2 `Ridge(alpha=1.0)`
    at /root/reference/src/models/advanced_ensemble.py:407-601) over the
    three OOF base predictions, solved in CLOSED FORM from the 3×3 normal
    equations (XᵀX + αI)β = Xᵀy via Cramer's rule on plain aggregates — no
    driver-side model object, no MLlib, value-verified cross-engine.
    Deviations from sklearn's Ridge, documented: no intercept and no
    positivity projection (the closed form is the unconstrained optimum);
    predictions are clipped at 0 like the reference's np.maximum(pred, 0).

    Cross-engine determinism: X and y live on a 1e-4 grid, so every
    sufficient statistic (XᵀX, Xᵀy) accumulates as an EXACT integer sum
    (HUGEINT / decimal(38,0) — order-independent); the 3×3 solve then runs
    in doubles with the identical expression tree in both engines, so β is
    bit-identical.  The blended WMAPE quantizes ŷ to the same grid before
    the integer-scaled error sums.

    Scale: one map-side-combined aggregate of 10 numbers over the OOF join
    + one broadcast of 3 coefficients back — the textbook distributed
    normal-equations pattern; nothing grows with data size except the one
    scan."""
    j = _oof_join(Catalog(spark, sf_dir))
    m = j.select(
        "pred_mean",
        "pred_q75",
        "pred_store",
        "actual",
        F.floor(F.col("pred_mean") * 10000 + F.lit(0.5)).cast("long").alias("pm"),
        F.floor(F.col("pred_q75") * 10000 + F.lit(0.5)).cast("long").alias("pq"),
        F.floor(F.col("pred_store") * 10000 + F.lit(0.5)).cast("long").alias("ps"),
        F.floor(F.col("actual") * 10000 + F.lit(0.5)).cast("long").alias("ay"),
    )
    # exact integer cross-moments: cast one factor to decimal BEFORE the
    # multiply so the product can never overflow long at scale, then sum in
    # decimal(38,0) (order-independent) and convert once to double
    xp = lambda a, b: F.sum(  # noqa: E731
        (F.col(a).cast("decimal(19,0)") * F.col(b)).cast("decimal(38,0)")
    ).cast("double")
    s = m.agg(
        F.count(F.lit(1)).alias("n"),
        xp("pm", "pm").alias("smm"),
        xp("pm", "pq").alias("smq"),
        xp("pm", "ps").alias("sms"),
        xp("pq", "pq").alias("sqq"),
        xp("pq", "ps").alias("sqs"),
        xp("ps", "ps").alias("sss"),
        xp("pm", "ay").alias("smy"),
        xp("pq", "ay").alias("sqy"),
        xp("ps", "ay").alias("ssy"),
    )
    d = s.select(
        "n",
        (F.col("smm") + 100000000.0).alias("a11"),
        F.col("smq").alias("a12"),
        F.col("sms").alias("a13"),
        (F.col("sqq") + 100000000.0).alias("a22"),
        F.col("sqs").alias("a23"),
        (F.col("sss") + 100000000.0).alias("a33"),
        F.col("smy").alias("v1"),
        F.col("sqy").alias("v2"),
        F.col("ssy").alias("v3"),
    )
    a11, a12, a13 = F.col("a11"), F.col("a12"), F.col("a13")
    a22, a23, a33 = F.col("a22"), F.col("a23"), F.col("a33")
    v1, v2, v3 = F.col("v1"), F.col("v2"), F.col("v3")
    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    beta = d.select(
        "n",
        (
            (
                v1 * (a22 * a33 - a23 * a23)
                - a12 * (v2 * a33 - a23 * v3)
                + a13 * (v2 * a23 - a22 * v3)
            )
            / det
        ).alias("b1"),
        (
            (
                a11 * (v2 * a33 - a23 * v3)
                - v1 * (a12 * a33 - a23 * a13)
                + a13 * (a12 * v3 - v2 * a13)
            )
            / det
        ).alias("b2"),
        (
            (
                a11 * (a22 * v3 - v2 * a23)
                - a12 * (a12 * v3 - v2 * a13)
                + v1 * (a12 * a23 - a22 * a13)
            )
            / det
        ).alias("b3"),
    )
    q4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000.0  # noqa: E731
    scored = m.crossJoin(F.broadcast(beta)).select(
        "actual",
        q4(
            F.greatest(
                F.col("b1") * F.col("pred_mean")
                + F.col("b2") * F.col("pred_q75")
                + F.col("b3") * F.col("pred_store"),
                F.lit(0.0),
            )
        ).alias("yhat"),
        q4(
            (F.col("pred_mean") + F.col("pred_q75") + F.col("pred_store")) / 3
        ).alias("yhat_eq"),
        "b1",
        "b2",
        "b3",
        "n",
    )
    lq = lambda c: F.floor(F.abs(c) * 10000 + F.lit(0.5)).cast("long")  # noqa: E731
    agg = scored.agg(
        F.max("n").alias("n_rows"),
        F.max("b1").alias("b1"),
        F.max("b2").alias("b2"),
        F.max("b3").alias("b3"),
        (
            F.sum(lq(F.col("actual") - F.col("yhat")))
            * 1.0
            / F.sum(lq(F.col("actual")))
            * 100
        ).alias("wmape_ridge"),
        (
            F.sum(lq(F.col("actual") - F.col("yhat_eq")))
            * 1.0
            / F.sum(lq(F.col("actual")))
            * 100
        ).alias("wmape_equal"),
    )
    return agg.select(
        "n_rows",
        F.lit(1.0).alias("ridge_alpha"),
        r4(F.col("b1")).alias("w_mean"),
        r4(F.col("b2")).alias("w_q75"),
        r4(F.col("b3")).alias("w_store"),
        r4(F.col("wmape_ridge")).alias("wmape_ridge"),
        r4(F.col("wmape_equal")).alias("wmape_equal"),
    )


# Kept beside its oracled twin stacking_ridge_weights, which fits worse:
# in-sample WMAPE 46.92 vs 48.05 at sf0.01 (36.32 vs 38.72 at sf0.001).
@register("stacking_gbt_meta")
def stacking_gbt_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonlinear stacking meta-learner: an MLlib gradient-boosted-trees
    regressor over the same three OOF base predictions the closed-form
    ridge uses — the distributed twin of the reference's feature-based
    level-2 ``LGBMRegressor(objective='regression', n_estimators=100)``
    (/root/reference/src/models/advanced_ensemble.py:407-660; conditional
    weighting via feature interactions, the one level-2 capability the
    linear solvers can't express).  Rows-only: boosted-tree split
    thresholds aren't SQL-reproducible; tests/test_ensemble_gbt.py pins
    the in-sample WMAPE at no worse than both the closed-form ridge and the
    equal-weight blend, and the feature-importance simplex (non-negative,
    sums to 1).

    Output one row: tree-shape stats, per-base-model importance shares
    (the "which model does the router lean on" readout, complementing
    ``ensemble_dynamic_weights``), and the GBT vs equal-blend WMAPEs.

    Scale: MLlib GBT on a 3-column design matrix — each boosting round is
    a fixed number of distributed passes; scoring is model.transform
    (JVM-side, no Python).  Like the reference, the meta-learner fits on
    OOF predictions, so the input table is already the compact
    (supplier, part) grain, orders of magnitude below fact scale."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    j = _oof_join(Catalog(spark, sf_dir)).select(
        "pred_mean", "pred_q75", "pred_store", "actual"
    )
    # materialize the compact design matrix once: every boosting round
    # re-reads it, and without this the OOF join re-executes per iteration
    vec = materialize(
        VectorAssembler(
            inputCols=["pred_mean", "pred_q75", "pred_store"], outputCol="x"
        )
        .transform(j)
        .coalesce(8)
    )
    model = GBTRegressor(
        featuresCol="x",
        labelCol="actual",
        maxIter=20,
        maxDepth=3,
        stepSize=0.2,
        seed=42,
    ).fit(vec)
    fi = model.featureImportances.toArray().tolist()
    fi = fi + [0.0] * (3 - len(fi))
    eq = (F.col("pred_mean") + F.col("pred_q75") + F.col("pred_store")) / 3
    scored = model.transform(vec).select(
        "actual",
        F.greatest(F.col("prediction"), F.lit(0.0)).alias("yhat"),
        eq.alias("yhat_eq"),
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(model.getNumTrees).cast("int").alias("n_trees"),
        F.lit(model.totalNumNodes).cast("int").alias("total_nodes"),
        F.lit(round(fi[0], 4)).alias("fi_mean"),
        F.lit(round(fi[1], 4)).alias("fi_q75"),
        F.lit(round(fi[2], 4)).alias("fi_store"),
        r4(wmape_expr(F.col("actual"), F.col("yhat"))).alias("wmape_gbt"),
        r4(wmape_expr(F.col("actual"), F.col("yhat_eq"))).alias("wmape_equal"),
    )


@register(
    "ensemble_dynamic_weights",
    oracle=f"""
WITH {_OOF_SQL}, pstats AS (
  SELECT l_partkey,
         CAST(date_diff('day', min(l_shipdate), max(l_shipdate)) + 1 AS BIGINT)
           AS span_days,
         CAST(count(DISTINCT l_shipdate) AS BIGINT) AS active_days,
         CAST(floor(sum(l_quantity) * 10000 + 0.5) AS BIGINT) AS vol_l
  FROM train GROUP BY l_partkey
), thr AS (
  SELECT floor(quantile_cont(CAST(vol_l AS DOUBLE), 1.0/3) * 10000 + 0.5) / 10000
           AS t1,
         floor(quantile_cont(CAST(vol_l AS DOUBLE), 2.0/3) * 10000 + 0.5) / 10000
           AS t2
  FROM pstats
), seg AS (
  SELECT l_partkey,
         CASE WHEN span_days * 1.0 / active_days >= 1.32
              THEN 'intermittent' ELSE 'smooth' END AS demand_profile,
         CASE WHEN CAST(vol_l AS DOUBLE) > t2 THEN 'high'
              WHEN CAST(vol_l AS DOUBLE) > t1 THEN 'mid'
              ELSE 'low' END AS volume_tier
  FROM pstats, thr
), e AS (
  SELECT s.demand_profile, s.volume_tier,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT j.l_partkey) AS BIGINT) AS n_parts,
         sum(CAST(floor(abs(actual - pred_mean) * 10000 + 0.5) AS BIGINT)) * 1.0
           / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) * 100 AS w_mean,
         sum(CAST(floor(abs(actual - pred_q75) * 10000 + 0.5) AS BIGINT)) * 1.0
           / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) * 100 AS w_q75,
         sum(CAST(floor(abs(actual - pred_store) * 10000 + 0.5) AS BIGINT)) * 1.0
           / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) * 100 AS w_store
  FROM j JOIN seg s ON j.l_partkey = s.l_partkey
  GROUP BY 1, 2
)
SELECT demand_profile, volume_tier, n_parts, n_rows,
       CASE WHEN w_mean <= w_q75 AND w_mean <= w_store THEN 'mean'
            WHEN w_q75 <= w_store THEN 'q75'
            ELSE 'store' END AS best_model,
       round(w_mean, 4) AS wmape_mean,
       round(w_q75, 4) AS wmape_q75,
       round(w_store, 4) AS wmape_store,
       round((1.0 / (w_mean + 0.00000001))
             / (1.0 / (w_mean + 0.00000001) + 1.0 / (w_q75 + 0.00000001)
                + 1.0 / (w_store + 0.00000001)), 4) AS wt_mean,
       round((1.0 / (w_q75 + 0.00000001))
             / (1.0 / (w_mean + 0.00000001) + 1.0 / (w_q75 + 0.00000001)
                + 1.0 / (w_store + 0.00000001)), 4) AS wt_q75,
       round((1.0 / (w_store + 0.00000001))
             / (1.0 / (w_mean + 0.00000001) + 1.0 / (w_q75 + 0.00000001)
                + 1.0 / (w_store + 0.00000001)), 4) AS wt_store
FROM e
""",
)
def ensemble_dynamic_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic per-scenario model weighting
    (/root/reference/src/models/advanced_ensemble.py:204-406
    DynamicWeightingSystem): rows are segmented by demand context —
    Syntetos-Boylan intermittency (train ADI ≥ 1.32, the
    `intermittency_classify` threshold) × train-volume tercile tier — and
    each segment gets inverse-WMAPE weights per base model, normalized to
    1 (the reference's `1/(wmape + 1e-8)` then sum-normalize, computed per
    scenario instead of per rolling window).

    Cross-engine: error sums are exact 1e4-scaled integers; the tercile
    thresholds are two scalar quantile aggregates over exact integer
    volumes (broadcast back, same pattern as customer_rfm_segments); the
    ADI cut is an exact integer-ratio comparison.  Scale: two keyed
    aggregates over the train half + one part-keyed join + one 6-row
    output — no global window, map-side combine everywhere."""
    t = Catalog(spark, sf_dir)
    j = _oof_join(t)
    li = t.lineitem
    bounds = li.agg(F.min("l_shipdate").alias("d0"), F.max("l_shipdate").alias("d1"))
    split = bounds.select(
        F.date_add(
            F.col("d0").cast("date"),
            F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2).cast("int"),
        )
        .cast("timestamp_ntz")
        .alias("mid")
    )
    train = li.crossJoin(F.broadcast(split)).filter(F.col("l_shipdate") < F.col("mid"))
    pstats = train.groupBy("l_partkey").agg(
        (F.datediff(F.max("l_shipdate"), F.min("l_shipdate")) + 1)
        .cast("long")
        .alias("span_days"),
        F.countDistinct("l_shipdate").alias("active_days"),
        F.floor(F.sum("l_quantity") * 10000 + F.lit(0.5)).cast("long").alias("vol_l"),
    )
    thr = pstats.agg(
        r4(F.percentile(F.col("vol_l").cast("double"), F.lit(1.0 / 3))).alias("t1"),
        r4(F.percentile(F.col("vol_l").cast("double"), F.lit(2.0 / 3))).alias("t2"),
    )
    seg = pstats.crossJoin(F.broadcast(thr)).select(
        "l_partkey",
        F.when(
            F.col("span_days") * 1.0 / F.col("active_days") >= 1.32, "intermittent"
        )
        .otherwise("smooth")
        .alias("demand_profile"),
        F.when(F.col("vol_l").cast("double") > F.col("t2"), "high")
        .when(F.col("vol_l").cast("double") > F.col("t1"), "mid")
        .otherwise("low")
        .alias("volume_tier"),
    )
    lq = lambda c: F.floor(F.abs(c) * 10000 + F.lit(0.5)).cast("long")  # noqa: E731
    wm = lambda p: (  # noqa: E731
        F.sum(lq(F.col("actual") - F.col(p))) * 1.0 / F.sum(lq(F.col("actual"))) * 100
    )
    e = (
        j.join(seg, "l_partkey")
        .groupBy("demand_profile", "volume_tier")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_partkey").alias("n_parts"),
            wm("pred_mean").alias("w_mean"),
            wm("pred_q75").alias("w_q75"),
            wm("pred_store").alias("w_store"),
        )
    )
    inv = lambda c: 1.0 / (F.col(c) + F.lit(1e-8))  # noqa: E731
    tot = inv("w_mean") + inv("w_q75") + inv("w_store")
    return e.select(
        "demand_profile",
        "volume_tier",
        "n_parts",
        "n_rows",
        # the model ROUTER (advanced_ensemble.py:204-406's router classifier
        # reduced to its dataflow): per scenario, route to the lowest-WMAPE
        # model, ties broken by the fixed mean < q75 < store order
        F.when(
            (F.col("w_mean") <= F.col("w_q75")) & (F.col("w_mean") <= F.col("w_store")),
            "mean",
        )
        .when(F.col("w_q75") <= F.col("w_store"), "q75")
        .otherwise("store")
        .alias("best_model"),
        r4(F.col("w_mean")).alias("wmape_mean"),
        r4(F.col("w_q75")).alias("wmape_q75"),
        r4(F.col("w_store")).alias("wmape_store"),
        r4(inv("w_mean") / tot).alias("wt_mean"),
        r4(inv("w_q75") / tot).alias("wt_q75"),
        r4(inv("w_store") / tot).alias("wt_store"),
    )


# feature columns scored by feature_importance_topk, with their adapted
# keyword tiers (reference feature_pipeline.py keyword lists mapped onto this
# catalog's feature names): business high = volume/market-position features,
# business medium = lag/rolling/seasonal; WMAPE-critical = volume-position,
# WMAPE-helpful = stability (rolling) features.
_FI_COLS = [
    "lag_1",
    "lag_7",
    "roll_mean_7",
    "roll_std_7",
    "store_mean",
    "qty_pctile",
    "rel_to_store",
    "month_sin",
    "dow",
    "is_weekend",
    "month",
    "year",
]
_FI_BUSINESS_HIGH = ("store_mean", "rel_to_store", "qty_pctile")
_FI_BUSINESS_MED = ("lag_1", "lag_7", "roll_mean_7", "roll_std_7", "month_sin", "month", "dow")
_FI_WMAPE_CRIT = ("qty_pctile", "rel_to_store", "store_mean")
_FI_WMAPE_HELP = ("roll_std_7", "roll_mean_7")


def _sql_in(names: tuple) -> str:
    return ", ".join(f"'{n}'" for n in names)


@register(
    "feature_importance_topk",
    oracle=f"""
WITH {_FM_CTES}, long AS (
  {" UNION ALL ".join(f"SELECT '{c}' AS feature, CAST({c} AS DOUBLE) AS v, qty FROM fm" for c in _FI_COLS)}
), li AS (
  SELECT feature,
         CAST(sign(v) * floor(abs(v) * 10000 + 0.5) AS BIGINT) AS vl,
         CAST(floor(qty * 10000 + 0.5) AS BIGINT) AS yl
  FROM long WHERE v IS NOT NULL
), st AS (
  SELECT feature,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(vl AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(yl AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(vl AS HUGEINT) * vl) AS DOUBLE) AS sxx,
         CAST(sum(CAST(yl AS HUGEINT) * yl) AS DOUBLE) AS syy,
         CAST(sum(CAST(vl AS HUGEINT) * yl) AS DOUBLE) AS sxy
  FROM li GROUP BY feature
), sc AS (
  SELECT feature, n,
         CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
              THEN abs((n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
              ELSE 0.0 END AS abs_corr,
         CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0
              THEN least(sqrt((n * sxx - sx * sx) / (n * 1.0 * (n - 1))) / 10000.0
                         / (abs(sx / n / 10000.0) + 0.00000001), 1.0)
              ELSE 0.0 END AS norm_var,
         CASE WHEN feature IN ({_sql_in(_FI_BUSINESS_HIGH)}) THEN 15
              WHEN feature IN ({_sql_in(_FI_BUSINESS_MED)}) THEN 10
              ELSE 0 END AS business_score,
         CASE WHEN feature IN ({_sql_in(_FI_WMAPE_CRIT)}) THEN 15
              WHEN feature IN ({_sql_in(_FI_WMAPE_HELP)}) THEN 8
              ELSE 0 END AS wmape_score
  FROM st
), raw AS (
  SELECT feature, n, abs_corr, norm_var, business_score, wmape_score,
         abs_corr * 30 + norm_var * 20 + business_score / 20.0 * 25
           + wmape_score / 20.0 * 25 AS raw_score
  FROM sc
), mx AS (SELECT max(raw_score) AS max_raw FROM raw),
ranked AS (
  SELECT feature, n, abs_corr, norm_var, business_score, wmape_score,
         100.0 * raw_score / max_raw AS importance,
         row_number() OVER (ORDER BY raw_score DESC, feature) AS rank
  FROM raw, mx
)
SELECT feature, n, round(abs_corr, 4) AS abs_corr, round(norm_var, 4) AS norm_var,
       business_score, wmape_score, round(importance, 4) AS importance,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
""",
)
def feature_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-importance scoring + top-k selection over the engine's own
    feature matrix (/root/reference/src/features/feature_pipeline.py:283-468
    calculate_feature_importance / select_best_features): per-feature
    |corr(target)| (30%), mean-normalized variance capped at 1 (20%), and
    the reference's two keyword tiers — business relevance and WMAPE
    criticality, each capped and worth 25% — summed, normalized to 0-100 by
    the max score, ranked, and cut to the top k=10.  Keyword lists are
    adapted to this catalog's feature names (the reference matches on its
    own column names); the tier/cap/weight machinery is faithful.

    Cross-engine: every feature lives on a 1e-4 grid, so corr and variance
    are computed from EXACT integer sufficient statistics (HUGEINT /
    decimal(38,0) sums of scaled products — order-independent), then
    finished in doubles with the identical expression tree.  Scale: the
    unpivot is a rowwise flatMap (no shuffle), the stats are one keyed
    aggregate with map-side combine, and the ranking window runs over
    #features rows (bounded by the schema, not the data)."""
    fm = feature_matrix_daily_store(spark, sf_dir)
    stack_expr = "stack({}, {})".format(
        len(_FI_COLS),
        ", ".join(f"'{c}', cast({c} as double)" for c in _FI_COLS),
    )
    long = fm.select(F.expr(stack_expr).alias("feature", "v"), "qty").filter(
        F.col("v").isNotNull()
    )
    li = long.select(
        "feature",
        (F.signum("v") * F.floor(F.abs("v") * 10000 + F.lit(0.5))).cast("long").alias("vl"),
        F.floor(F.col("qty") * 10000 + F.lit(0.5)).cast("long").alias("yl"),
    )
    xp = lambda a, b: F.sum(  # noqa: E731
        (F.col(a).cast("decimal(19,0)") * F.col(b)).cast("decimal(38,0)")
    ).cast("double")
    st = li.groupBy("feature").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vl").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("yl").cast("decimal(38,0)")).cast("double").alias("sy"),
        xp("vl", "vl").alias("sxx"),
        xp("yl", "yl").alias("syy"),
        xp("vl", "yl").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var_x, var_y = n * sxx - sx * sx, n * syy - sy * sy
    abs_corr = F.when(
        var_x * var_y > 0, F.abs((n * sxy - sx * sy) / F.sqrt(var_x * var_y))
    ).otherwise(0.0)
    norm_var = F.when(
        (n > 1) & (var_x > 0),
        F.least(
            F.sqrt(var_x / (n * F.lit(1.0) * (n - 1)))
            / 10000.0
            / (F.abs(sx / n / 10000.0) + F.lit(1e-8)),
            F.lit(1.0),
        ),
    ).otherwise(0.0)
    business = (
        F.when(F.col("feature").isin(*_FI_BUSINESS_HIGH), 15)
        .when(F.col("feature").isin(*_FI_BUSINESS_MED), 10)
        .otherwise(0)
    )
    wmape_kw = (
        F.when(F.col("feature").isin(*_FI_WMAPE_CRIT), 15)
        .when(F.col("feature").isin(*_FI_WMAPE_HELP), 8)
        .otherwise(0)
    )
    sc = st.select(
        "feature",
        "n",
        abs_corr.alias("abs_corr"),
        norm_var.alias("norm_var"),
        business.alias("business_score"),
        wmape_kw.alias("wmape_score"),
    ).withColumn(
        "raw_score",
        F.col("abs_corr") * 30
        + F.col("norm_var") * 20
        + F.col("business_score") / 20.0 * 25
        + F.col("wmape_score") / 20.0 * 25,
    )
    mx = sc.agg(F.max("raw_score").alias("max_raw"))
    # ranking window spans #features rows (schema-bounded), not data rows
    ranked = (
        sc.crossJoin(F.broadcast(mx))
        .withColumn("importance", 100.0 * F.col("raw_score") / F.col("max_raw"))
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.col("raw_score").desc(), F.col("feature"))
            ),
        )
        .filter(F.col("rank") <= 10)
    )
    return ranked.select(
        "feature",
        "n",
        r4(F.col("abs_corr")).alias("abs_corr"),
        r4(F.col("norm_var")).alias("norm_var"),
        "business_score",
        "wmape_score",
        r4(F.col("importance")).alias("importance"),
        F.col("rank").cast("long").alias("rank"),
    )


# Temperature grid for calibration_temperature: 40 log-spaced points over the
# reference's minimize_scalar bounds (0.1, 10) plus the T=1 identity baseline.
# Literals are rounded to 6dp so both engines parse the identical doubles.
_TEMP_GRID = sorted({round(0.1 * (100.0 ** (i / 39.0)), 6) for i in range(40)} | {1.0})


@register(
    "calibration_temperature",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
v0 AS (
  SELECT actual, forecast,
         CAST(floor(forecast * 10000 + 0.5) AS BIGINT) AS fl
  FROM f WHERE forecast IS NOT NULL
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(fl AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(fl AS HUGEINT) * fl) AS DOUBLE) AS s2,
         floor(quantile_cont(actual, 0.5) * 10000 + 0.5) / 10000 AS a_med
  FROM v0
), v AS (
  SELECT (forecast - s1 / n / 10000.0)
           / (sqrt((n * s2 - s1 * s1) / (n * 1.0 * (n - 1))) / 10000.0) AS z,
         CASE WHEN actual > a_med THEN 1 ELSE 0 END AS y,
         n
  FROM v0, st
), grid AS (
  SELECT unnest([{", ".join(repr(t) for t in _TEMP_GRID)}]) AS t
), nll AS (
  SELECT t, max(n) AS n,
         sum(CAST(floor(
           (CASE WHEN y = 1
                 THEN -ln(least(greatest(1.0 / (1.0 + exp(-(z / t))), 0.0000001),
                                0.9999999))
                 ELSE -ln(1.0 - least(greatest(1.0 / (1.0 + exp(-(z / t))),
                                               0.0000001), 0.9999999))
            END) * 10000 + 0.5) AS BIGINT)) AS nll_l
  FROM v, grid GROUP BY t
), best AS (
  SELECT min(nll_l) AS min_l FROM nll
), pick AS (
  SELECT min(t) AS t_best FROM nll, best WHERE nll_l = min_l
)
SELECT CAST(n.n AS BIGINT) AS n_rows,
       round(p.t_best, 4) AS temperature,
       round(n.nll_l * 1.0 / n.n / 10000.0, 4) AS nll_best,
       round(n1.nll_l * 1.0 / n1.n / 10000.0, 4) AS nll_t1,
       round((n1.nll_l - n.nll_l) * 1.0 / n1.nll_l, 4) AS nll_gain
FROM pick p
JOIN nll n ON n.t = p.t_best
JOIN nll n1 ON n1.t = 1.0
""",
)
def calibration_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature scaling, fully oracled
    (/root/reference/src/models/model_calibration.py:133-192
    TemperatureScaling): logits are the standardized forecast, labels are
    actual-above-global-median demand events, and the temperature minimizes
    the clipped sigmoid NLL — the reference's bounded scalar optimization
    over (0.1, 10) discretized to a fixed 41-point log grid so the argmin
    is an EXACT integer comparison instead of an optimizer internal.

    Cross-engine determinism: standardization uses exact integer moments of
    the 1e-4-grid forecast; each row's NLL contribution is quantized to the
    1e-4 grid before the (order-independent) integer sum, so per-grid-point
    NLL totals are identical integers in both engines and ties break to the
    smaller temperature.  Scale: one narrow 41× row expansion (broadcast
    grid) into one 41-group aggregate with map-side combine; the argmin is
    over 41 rows."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    v0 = f.select(
        "actual",
        "forecast",
        F.floor(F.col("forecast") * 10000 + F.lit(0.5)).cast("long").alias("fl"),
    )
    st = v0.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("fl").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(
            (F.col("fl").cast("decimal(19,0)") * F.col("fl")).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("s2"),
        r4(F.percentile("actual", F.lit(0.5))).alias("a_med"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    z = (F.col("forecast") - s1 / n / 10000.0) / (
        F.sqrt((n * s2 - s1 * s1) / (n * F.lit(1.0) * (n - 1))) / 10000.0
    )
    v = v0.crossJoin(F.broadcast(st)).select(
        z.alias("z"),
        F.when(F.col("actual") > F.col("a_med"), 1).otherwise(0).alias("y"),
        "n",
    )
    g = v.select(
        "z",
        "y",
        "n",
        F.explode(F.array(*[F.lit(float(x)) for x in _TEMP_GRID])).alias("t"),
    )
    p = F.least(
        F.greatest(1.0 / (1.0 + F.exp(-(F.col("z") / F.col("t")))), F.lit(0.0000001)),
        F.lit(0.9999999),
    )
    loss = F.when(F.col("y") == 1, -F.log(p)).otherwise(-F.log(1.0 - p))
    nll = g.groupBy("t").agg(
        F.max("n").alias("n"),
        F.sum(F.floor(loss * 10000 + F.lit(0.5)).cast("long")).alias("nll_l"),
    )
    best = nll.agg(F.min("nll_l").alias("min_l"))
    pick = (
        nll.crossJoin(F.broadcast(best))
        .filter(F.col("nll_l") == F.col("min_l"))
        .agg(F.min("t").alias("t_best"))
    )
    n1 = nll.filter(F.col("t") == 1.0).select(
        F.col("nll_l").alias("nll1_l"), F.col("n").alias("n1")
    )
    return (
        pick.crossJoin(F.broadcast(nll))
        .filter(F.col("t") == F.col("t_best"))
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("n").cast("long").alias("n_rows"),
            r4(F.col("t_best")).alias("temperature"),
            r4(F.col("nll_l") * 1.0 / F.col("n") / 10000.0).alias("nll_best"),
            r4(F.col("nll1_l") * 1.0 / F.col("n1") / 10000.0).alias("nll_t1"),
            r4((F.col("nll1_l") - F.col("nll_l")) * 1.0 / F.col("nll1_l")).alias(
                "nll_gain"
            ),
        )
    )


# Scale-factor grid for calibration_quantile_band: 0.0..3.0 in 0.1 steps —
# exact 1dp literals, identical doubles in both engines.  Wide enough that
# neither fitted quantile scale sits on a grid boundary on this data.
_QBAND_GRID = [round(0.1 * i, 2) for i in range(31)]


@register(
    "calibration_quantile_band",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
v AS (
  SELECT actual, forecast FROM f WHERE forecast IS NOT NULL
), grid AS (
  SELECT unnest([{", ".join(repr(c) for c in _QBAND_GRID)}]) AS c
), pin AS (
  SELECT c,
         sum(CAST(floor(
           (CASE WHEN actual >= c * forecast
                 THEN 0.1 * (actual - c * forecast)
                 ELSE 0.9 * (c * forecast - actual) END) * 10000 + 0.5
         ) AS BIGINT)) AS lo_l,
         sum(CAST(floor(
           (CASE WHEN actual >= c * forecast
                 THEN 0.9 * (actual - c * forecast)
                 ELSE 0.1 * (c * forecast - actual) END) * 10000 + 0.5
         ) AS BIGINT)) AS hi_l
  FROM v, grid GROUP BY c
), c_lo AS (
  SELECT min(c) AS c10 FROM pin
  WHERE lo_l = (SELECT min(lo_l) FROM pin)
), c_hi AS (
  SELECT min(c) AS c90 FROM pin
  WHERE hi_l = (SELECT min(hi_l) FROM pin)
), cov AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         avg(CASE WHEN actual >= c10 * forecast AND actual <= c90 * forecast
                  THEN 1.0 ELSE 0.0 END) AS coverage
  FROM v, c_lo, c_hi
)
SELECT n_rows,
       round(c10, 4) AS scale_q10,
       round(c90, 4) AS scale_q90,
       round(coverage, 4) AS coverage_80,
       CASE WHEN coverage >= 0.75 THEN 'calibrated' ELSE 'undercovered' END
         AS calibration_band
FROM cov, c_lo, c_hi
""",
)
def calibration_quantile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-regression prediction band, discretized
    (/root/reference/src/models/model_calibration.py:296-420
    QuantileRegressor: per-quantile models for P10/P90 bounds): a
    one-parameter multiplicative model ŷ_q = c·forecast per quantile, fit by
    minimizing the pinball (quantile) loss over a fixed 31-point scale grid
    — the same loss the reference's quantile regressors optimize, with the
    argmin reduced to an exact integer comparison.  Emits the fitted P10/P90
    scale factors and the band's empirical coverage.

    Cross-engine: per-row pinball losses are quantized to the 1e-4 grid
    before order-independent integer sums; ties break to the smaller scale.
    Scale: one narrow 31× expansion (broadcast grid) into a 31-group
    map-side-combined aggregate + one final scan for coverage."""
    t = Catalog(spark, sf_dir)
    v = (
        _with_forecast(t)
        .filter(F.col("forecast").isNotNull())
        .select("actual", "forecast")
    )
    g = v.select(
        "actual",
        "forecast",
        F.explode(F.array(*[F.lit(float(c)) for c in _QBAND_GRID])).alias("c"),
    )
    pred = F.col("c") * F.col("forecast")
    under = F.col("actual") >= pred

    def pinball(q: float):
        return F.sum(
            F.floor(
                F.when(under, F.lit(q) * (F.col("actual") - pred))
                .otherwise(F.lit(1.0 - q) * (pred - F.col("actual")))
                * 10000
                + F.lit(0.5)
            ).cast("long")
        )

    pin = g.groupBy("c").agg(
        pinball(0.1).alias("lo_l"), pinball(0.9).alias("hi_l")
    )
    c_lo = (
        pin.crossJoin(F.broadcast(pin.agg(F.min("lo_l").alias("m"))))
        .filter(F.col("lo_l") == F.col("m"))
        .agg(F.min("c").alias("c10"))
    )
    c_hi = (
        pin.crossJoin(F.broadcast(pin.agg(F.min("hi_l").alias("m"))))
        .filter(F.col("hi_l") == F.col("m"))
        .agg(F.min("c").alias("c90"))
    )
    covered = (
        (F.col("actual") >= F.col("c10") * F.col("forecast"))
        & (F.col("actual") <= F.col("c90") * F.col("forecast"))
    ).cast("double")
    cov = (
        v.crossJoin(F.broadcast(c_lo))
        .crossJoin(F.broadcast(c_hi))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.avg(covered).alias("coverage"),
            F.max("c10").alias("c10"),
            F.max("c90").alias("c90"),
        )
    )
    return cov.select(
        "n_rows",
        r4(F.col("c10")).alias("scale_q10"),
        r4(F.col("c90")).alias("scale_q90"),
        r4(F.col("coverage")).alias("coverage_80"),
        F.when(F.col("coverage") >= 0.75, "calibrated")
        .otherwise("undercovered")
        .alias("calibration_band"),
    )


@register(
    "calibration_subsample_uncertainty",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
v AS (
  SELECT actual, forecast,
         CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
                                  || CAST(l_linenumber AS VARCHAR)), 1, 8))
              AS BIGINT) % 20 AS rep
  FROM f WHERE forecast IS NOT NULL
), per AS (
  SELECT rep,
         CAST(count(*) AS BIGINT) AS n_rep,
         floor((sum(CAST(floor(abs(actual - forecast) * 10000 + 0.5) AS BIGINT)) * 1.0
                / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) * 100)
               * 10000 + 0.5) AS wl
  FROM v GROUP BY rep
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(wl AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(wl AS HUGEINT) * wl) AS DOUBLE) AS s2,
         CAST(min(n_rep) AS BIGINT) AS min_rep_rows
  FROM per
), full_w AS (
  SELECT sum(CAST(floor(abs(actual - forecast) * 10000 + 0.5) AS BIGINT)) * 1.0
           / sum(CAST(floor(abs(actual) * 10000 + 0.5) AS BIGINT)) * 100 AS w
  FROM v
)
SELECT k AS n_replicates, min_rep_rows,
       round(full_w.w, 4) AS wmape_full,
       round(s1 / k / 10000.0, 4) AS wmape_mean,
       round(sqrt((k * s2 - s1 * s1) / (k * 1.0 * (k - 1))) / 10000.0, 4)
         AS wmape_std,
       round(s1 / k / 10000.0
             - 1.96 * sqrt((k * s2 - s1 * s1) / (k * 1.0 * (k - 1))) / 10000.0, 4)
         AS ci_lo,
       round(s1 / k / 10000.0
             + 1.96 * sqrt((k * s2 - s1 * s1) / (k * 1.0 * (k - 1))) / 10000.0, 4)
         AS ci_hi
FROM s, full_w
""",
)
def calibration_subsample_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling-based metric uncertainty
    (/root/reference/src/models/model_calibration.py:421-498
    bootstrap-style uncertainty estimation): the WMAPE's sampling spread
    estimated from K=20 disjoint hash-assigned subsamples — per-replicate
    WMAPE, replicate mean/std, and a normal-approximation 95% CI around the
    full-sample metric.  Documented deviation: the reference resamples WITH
    replacement; row-level bootstrap weights are not reproducible across
    engines, so this uses the deterministic md5 row hash (the engine's
    shared split primitive, cf. sample_stratified_split) for disjoint
    subsamples — the same estimator family (subsampling a.k.a. delete-d
    jackknife), fully value-verified instead of seed-dependent.

    Cross-engine: replicate WMAPEs are ratios of exact integer sums,
    quantized to the 1e-4 grid before the exact integer moment sums that
    feed mean/std.  Scale: one narrow map (hash) + two keyed aggregates —
    K is fixed, nothing grows with data."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    rep = (
        h32(
            F.concat_ws(
                "|",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        )
        % 20
    )
    v = f.select("actual", "forecast", rep.alias("rep"))
    lq = lambda c: F.floor(F.abs(c) * 10000 + F.lit(0.5)).cast("long")  # noqa: E731
    wm = (
        F.sum(lq(F.col("actual") - F.col("forecast")))
        * 1.0
        / F.sum(lq(F.col("actual")))
        * 100
    )
    per = v.groupBy("rep").agg(
        F.count(F.lit(1)).alias("n_rep"),
        F.floor(wm * 10000 + F.lit(0.5)).alias("wl"),
    )
    s = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("wl").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(
            (F.col("wl").cast("decimal(19,0)") * F.col("wl")).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("s2"),
        F.min("n_rep").alias("min_rep_rows"),
    )
    full_w = v.agg(wm.alias("w"))
    k, s1, s2 = F.col("k"), F.col("s1"), F.col("s2")
    std = F.sqrt((k * s2 - s1 * s1) / (k * F.lit(1.0) * (k - 1))) / 10000.0
    return s.crossJoin(F.broadcast(full_w)).select(
        F.col("k").alias("n_replicates"),
        "min_rep_rows",
        r4(F.col("w")).alias("wmape_full"),
        r4(s1 / k / 10000.0).alias("wmape_mean"),
        r4(std).alias("wmape_std"),
        r4(s1 / k / 10000.0 - 1.96 * std).alias("ci_lo"),
        r4(s1 / k / 10000.0 + 1.96 * std).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# calibration_platt_exact: fixed-iteration gradient-descent logistic fit in
# exact cross-engine arithmetic.  The true Platt sigmoid needs exp(), whose
# last-ulp behaviour libm (DuckDB) and the JVM (Spark) do NOT guarantee to
# agree on; every other op used here (+ - * / abs floor min max) is
# IEEE-754 correctly-rounded, so swapping exp for the algebraic sigmoid
#   s(z) = 0.5 + 0.5 * z / (1 + |z|)
# makes each per-row gradient bit-identical in both engines, and quantizing
# per-row gradients to integer nano-units makes the SUM order-independent —
# the whole 12-step optimizer trajectory is then bit-reproducible across
# engines, partitionings, and executor schedules.

_PLATT_ITERS = 12
_PLATT_LR = "4.0"


def _platt_exact_oracle() -> str:
    grads = """
    SELECT a, b,
           floor((0.5 + 0.5 * (z / (1 + abs(z))) - y)
                 * (0.5 / ((1 + abs(z)) * (1 + abs(z)))) * xs
                 * 1000000000 + 0.5) AS ga,
           floor((0.5 + 0.5 * (z / (1 + abs(z))) - y)
                 * (0.5 / ((1 + abs(z)) * (1 + abs(z))))
                 * 1000000000 + 0.5) AS gb
    FROM (SELECT p.a, p.b, c.y, c.xs,
                 (p.a / 1000000000.0) * c.xs + (p.b / 1000000000.0) AS z
          FROM cal c CROSS JOIN {prev} p)
"""
    sql = """
WITH f0 AS ({fsql}),
f AS (SELECT * FROM f0 WHERE forecast IS NOT NULL),
lab AS (
  SELECT f.l_suppkey, f.l_orderkey, f.forecast,
         CASE WHEN f.actual > m.med THEN 1.0 ELSE 0.0 END AS y
  FROM f JOIN (SELECT l_suppkey, quantile_cont(actual, 0.5) AS med
               FROM f GROUP BY 1) m
    ON f.l_suppkey = m.l_suppkey
),
mm AS (SELECT min(forecast) AS mn, max(forecast) AS mx
       FROM lab WHERE l_orderkey % 2 = 0),
sc AS (
  SELECT l.l_orderkey, l.y,
         CASE WHEN mm.mx > mm.mn THEN (l.forecast - mm.mn) / (mm.mx - mm.mn)
              ELSE 0.5 END AS xs
  FROM lab l CROSS JOIN mm
),
cal AS (SELECT xs, y FROM sc WHERE l_orderkey % 2 = 0),
p0 AS (SELECT CAST(1000000000 AS BIGINT) AS a, CAST(-500000000 AS BIGINT) AS b)
""".replace("{fsql}", _FORECAST_SQL)
    for i in range(1, _PLATT_ITERS + 1):
        sql += """, p{i} AS (
  SELECT CAST(any_value(a) - floor({lr} * sum(ga) / count(*) + 0.5) AS BIGINT) AS a,
         CAST(any_value(b) - floor({lr} * sum(gb) / count(*) + 0.5) AS BIGINT) AS b
  FROM ({grads})
)""".format(i=i, lr=_PLATT_LR, grads=grads.format(prev=f"p{i-1}"))
    sql += """
, scored AS (
  SELECT CAST(greatest(0, least(9, floor(s.xs * 10))) AS INTEGER) AS bin,
         s.y,
         floor((0.5 + 0.5 * (z / (1 + abs(z)))) * 100000000 + 0.5) AS p8,
         s.a, s.b
  FROM (SELECT sc.xs, sc.y,
               (p.a / 1000000000.0) * sc.xs + (p.b / 1000000000.0) AS z,
               p.a, p.b
        FROM sc CROSS JOIN p{last} p) s
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(y) / count(*), 4) AS event_rate,
       round(sum(p8) / (count(*) * 100000000.0), 4) AS mean_p,
       CAST(any_value(a) AS BIGINT) AS slope_nano,
       CAST(any_value(b) AS BIGINT) AS intercept_nano
FROM scored GROUP BY bin
""".replace("{last}", str(_PLATT_ITERS))
    return sql


@register("calibration_platt_exact", oracle=_platt_exact_oracle())
def calibration_platt_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt-style probability calibration as a FULLY ORACLED fixed-point:
    a one-feature logistic fit by {iters} deterministic gradient-descent
    steps, replacing exp() with the algebraic sigmoid
    ``s(z) = 0.5 + 0.5·z/(1+|z|)`` (same monotone S-shape and [0,1] range
    as /root/reference/src/models/model_calibration.py:200-320's sigmoid
    calibrator, but built solely from correctly-rounded IEEE ops, which
    exp is not).  Params live as BIGINT nano-units; per-row gradients are
    quantized to integers before summing, so the entire optimizer
    trajectory — not just the final report — is bit-identical between
    Spark and DuckDB and across any partitioning: the value-verified
    counterpart of MLlib ``calibration_platt``.

    Calibration split mirrors ``calibration_conformal`` (even orderkeys
    fit, everything scores); the label is the same above-store-median
    event ``calibration_platt`` uses; output is a 10-bin reliability table
    plus the fitted params echoed as columns.

    Scale: the (xs, y) projection is materialized once (two doubles a
    row), then each GD step is one full-pass aggregate — the textbook
    distributed-GD layout.  {iters} sequential passes are the honest cost
    of an iterative fit; production fits on the hash-sampled calibration
    half (already the semantics here) and would sample further for 100 TB,
    exactly as the reference fits calibrators on held-out subsets."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    med = f.groupBy("l_suppkey").agg(
        F.percentile("actual", F.lit(0.5)).alias("med")
    )
    lab = f.join(med, "l_suppkey").select(
        "l_orderkey",
        "forecast",
        F.when(F.col("actual") > F.col("med"), 1.0).otherwise(0.0).alias("y"),
    )
    mm = lab.filter(F.col("l_orderkey") % 2 == 0).agg(
        F.min("forecast").alias("mn"), F.max("forecast").alias("mx")
    )
    xs = F.when(
        F.col("mx") > F.col("mn"),
        (F.col("forecast") - F.col("mn")) / (F.col("mx") - F.col("mn")),
    ).otherwise(F.lit(0.5))
    # checkpoint the labeled projection ONCE: both the GD fit below and
    # the final scoring pass read it, and without this the whole label
    # pipeline (per-supplier median + join + min-max scaling) would run
    # twice
    sc = materialize(
        lab.crossJoin(F.broadcast(mm))
        .select("l_orderkey", "y", xs.alias("xs"))
    )
    # the GD input is two doubles a row — repartition (NOT coalesce, which
    # would drag the upstream join down to the same width) before
    # checkpointing so the iteration aggregates schedule a handful of
    # tasks each instead of spraying every round across all shuffle
    # partitions
    cal = materialize(
        sc.filter(F.col("l_orderkey") % 2 == 0)
        .select("xs", "y")
        .repartition(4)
    )

    def z_col(a, b):
        return (a / F.lit(1e9)) * F.col("xs") + (b / F.lit(1e9))

    lr = float(_PLATT_LR)
    # the same flat-aggregate GD loop as calibration_quantile_fit (see
    # its loop comment): the (a, b) nano-params live on the driver and
    # are inlined as literals, each step is one flat aggregate + a 1-row
    # collect, and the integer param trajectory is exact.
    a_i, b_i = 1000000000, -500000000
    for _ in range(_PLATT_ITERS):
        z = z_col(F.lit(a_i), F.lit(b_i))
        az1 = F.lit(1) + F.abs(z)
        p = F.lit(0.5) + F.lit(0.5) * (z / az1)
        w = F.lit(0.5) / (az1 * az1)
        e = p - F.col("y")
        row = cal.agg(
            F.sum(
                F.floor(e * w * F.col("xs") * F.lit(1000000000) + F.lit(0.5))
            ).alias("sga"),
            F.sum(F.floor(e * w * F.lit(1000000000) + F.lit(0.5))).alias(
                "sgb"
            ),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        a_i -= int(math.floor(lr * row["sga"] / row["n"] + 0.5))
        b_i -= int(math.floor(lr * row["sgb"] / row["n"] + 0.5))
    params = spark.range(1).select(
        F.lit(a_i).cast("long").alias("a"),
        F.lit(b_i).cast("long").alias("b"),
    )
    zf = z_col(F.col("a"), F.col("b"))
    azf = F.lit(1) + F.abs(zf)
    pf = F.lit(0.5) + F.lit(0.5) * (zf / azf)
    scored = sc.crossJoin(F.broadcast(params)).select(
        F.greatest(F.lit(0), F.least(F.lit(9), F.floor(F.col("xs") * 10)))
        .cast("int")
        .alias("bin"),
        "y",
        F.floor(pf * F.lit(100000000) + F.lit(0.5)).alias("p8"),
        "a",
        "b",
    )
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        r4(F.sum("y") / F.count(F.lit(1))).alias("event_rate"),
        r4(F.sum("p8") / (F.count(F.lit(1)) * F.lit(100000000.0))).alias("mean_p"),
        F.first("a").cast("long").alias("slope_nano"),
        F.first("b").cast("long").alias("intercept_nano"),
    )


calibration_platt_exact.__doc__ = calibration_platt_exact.__doc__.replace(
    "{iters}", str(_PLATT_ITERS)
)


# calibration_quantile_fit: fitted pinball-loss quantile regressors in the
# same exact cross-engine arithmetic as calibration_platt_exact.  The
# pinball subgradient is SIGN-BASED — per row it is either -tau or (1-tau),
# optionally times xs — so every per-row gradient is built from comparisons
# and multiplies only (all correctly-rounded IEEE ops; no exp/log anywhere),
# then quantized to integer nano-units before summing: the whole optimizer
# trajectory is bit-identical between Spark and DuckDB.
_QFIT_ITERS = 12
_QFIT_LR = "0.5"


def _quantile_fit_oracle() -> str:
    sql = """
WITH f0 AS ({fsql}),
f AS (SELECT * FROM f0 WHERE forecast IS NOT NULL),
mm AS (SELECT min(forecast) AS mn, max(forecast) AS mx,
              min(actual) AS amn, max(actual) AS amx
       FROM f WHERE l_orderkey % 2 = 0),
sc AS (
  SELECT l_orderkey,
         CASE WHEN mm.mx > mm.mn
              THEN (forecast - mm.mn) / (mm.mx - mm.mn) ELSE 0.5 END AS xs,
         CASE WHEN mm.amx > mm.amn
              THEN (actual - mm.amn) / (mm.amx - mm.amn) ELSE 0.5 END AS ys
  FROM f CROSS JOIN mm
),
cal AS (SELECT xs, ys FROM sc WHERE l_orderkey % 2 = 0),
p0 AS (SELECT CAST(tq AS BIGINT) AS tq, CAST(0 AS BIGINT) AS a,
              CAST(tq * 100000000 AS BIGINT) AS b
       FROM (VALUES (1), (5), (9)) t(tq))
""".replace("{fsql}", _FORECAST_SQL)
    for i in range(1, _QFIT_ITERS + 1):
        sql += """, p{i} AS (
  SELECT tq,
         CAST(any_value(a) - floor({lr} * sum(ga) / count(*) + 0.5)
              AS BIGINT) AS a,
         CAST(any_value(b) - floor({lr} * sum(gb) / count(*) + 0.5)
              AS BIGINT) AS b
  FROM (
    SELECT g.tq, g.a, g.b,
           floor(g.gc * g.xs * 1000000000 + 0.5) AS ga,
           floor(g.gc * 1000000000 + 0.5) AS gb
    FROM (
      SELECT p.tq, p.a, p.b, c.xs,
             CASE WHEN c.ys > (p.a / 1000000000.0) * c.xs
                             + (p.b / 1000000000.0)
                  THEN -(p.tq / 10.0) ELSE 1 - p.tq / 10.0 END AS gc
      FROM cal c CROSS JOIN p{prev} p
    ) g
  ) GROUP BY tq
)""".format(i=i, prev=i - 1, lr=_QFIT_LR)
    sql += """
, scored AS (
  SELECT p.tq, p.a, p.b, s.ys,
         s.ys - ((p.a / 1000000000.0) * s.xs + (p.b / 1000000000.0)) AS u
  FROM sc s CROSS JOIN p{last} p
)
SELECT CAST(tq AS INTEGER) AS tau_x10,
       CAST(any_value(a) AS BIGINT) AS slope_nano,
       CAST(any_value(b) AS BIGINT) AS intercept_nano,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(CASE WHEN u <= 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS coverage,
       round(sum(floor(greatest((tq / 10.0) * u, (tq / 10.0 - 1) * u)
                       * 100000000 + 0.5))
             / (count(*) * 100000000.0), 4) AS mean_pinball
FROM scored GROUP BY tq
""".replace("{last}", str(_QFIT_ITERS))
    return sql


@register("calibration_quantile_fit", oracle=_quantile_fit_oracle())
def calibration_quantile_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FITTED quantile-regression calibrator: three pinball-loss linear
    regressors (tau = 0.1, 0.5, 0.9) trained jointly by {iters}
    deterministic subgradient-descent steps — the engine's counterpart of
    the reference's per-quantile ``QuantileRegressor``
    (/root/reference/src/models/model_calibration.py:296-371, sklearn
    pinball fits at [0.05..0.95]), completing the calibration family next
    to the static ``calibration_quantile_band``.

    Exactness: the pinball subgradient per row is sign-based (-tau if
    y > prediction else 1-tau, times xs for the slope), so each gradient
    uses only comparisons and multiplies — correctly-rounded IEEE ops —
    and is quantized to BIGINT nano-units before the sum; like
    ``calibration_platt_exact``, the whole trajectory is bit-identical
    across engines and partitionings.  All three taus ride ONE gradient
    pass per step: the driver-held (tau, a, b) params are inlined as
    literals into a single flat aggregate computing all six gradient sums
    at once (see the loop comment).

    Output: per tau, the fitted nano-params plus the two diagnostics that
    matter — empirical coverage (P[y <= q_tau(x)]; near tau when the fit
    is honest) and mean pinball loss over ALL rows.

    Scale: the (xs, ys) projection is materialized once (two doubles
    a row); each step is one keyed aggregate over cal x 3 taus.  {iters}
    sequential passes are the honest distributed-GD cost; production fits
    on the calibration half (already the semantics) and would subsample
    at 100 TB exactly as the reference fits on held-out subsets."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    mm = f.filter(F.col("l_orderkey") % 2 == 0).agg(
        F.min("forecast").alias("mn"),
        F.max("forecast").alias("mx"),
        F.min("actual").alias("amn"),
        F.max("actual").alias("amx"),
    )
    # read by BOTH the fit and the final scoring pass
    sc = materialize(
        f.crossJoin(F.broadcast(mm)).select(
            "l_orderkey",
            F.when(
                F.col("mx") > F.col("mn"),
                (F.col("forecast") - F.col("mn")) / (F.col("mx") - F.col("mn")),
            )
            .otherwise(F.lit(0.5))
            .alias("xs"),
            F.when(
                F.col("amx") > F.col("amn"),
                (F.col("actual") - F.col("amn")) / (F.col("amx") - F.col("amn")),
            )
            .otherwise(F.lit(0.5))
            .alias("ys"),
        )
    )
    cal = materialize(
        sc.filter(F.col("l_orderkey") % 2 == 0)
        .select("xs", "ys")
        .repartition(4)
    )
    lr = float(_QFIT_LR)
    # the 3-row param state lives on the DRIVER and is inlined as
    # literals, so each step is ONE flat global aggregate over cal
    # computing all six gradient sums (no 3x broadcast row blow-up, no
    # groupBy shuffle, no 12-level nested lazy plan whose codegen compile
    # time would dominate), followed by a 1-row collect — the same bounded
    # driver round-trip class as the documented bin-edge collects.
    # repartition(4) (not coalesce, which would drag the upstream join
    # down to the same width) sizes the per-step job for data this small.
    state = {tq: (0, tq * 100000000) for tq in (1, 5, 9)}
    for _ in range(_QFIT_ITERS):
        aggs = []
        for tq, (a, b) in state.items():
            pred = (F.lit(a) / F.lit(1e9)) * F.col("xs") + F.lit(b) / F.lit(1e9)
            gc = F.when(F.col("ys") > pred, F.lit(-(tq / 10.0))).otherwise(
                F.lit(1 - tq / 10.0)
            )
            aggs.append(
                F.sum(
                    F.floor(gc * F.col("xs") * F.lit(1000000000) + F.lit(0.5))
                ).alias(f"ga{tq}")
            )
            aggs.append(
                F.sum(F.floor(gc * F.lit(1000000000) + F.lit(0.5))).alias(
                    f"gb{tq}"
                )
            )
        aggs.append(F.count(F.lit(1)).alias("n"))
        row = cal.agg(*aggs).collect()[0]
        n = row["n"]
        state = {
            tq: (
                a - int(math.floor(lr * row[f"ga{tq}"] / n + 0.5)),
                b - int(math.floor(lr * row[f"gb{tq}"] / n + 0.5)),
            )
            for tq, (a, b) in state.items()
        }
    params = spark.createDataFrame(
        sorted((tq, a, b) for tq, (a, b) in state.items()),
        "tq long, a long, b long",
    )
    u = F.col("ys") - (
        (F.col("a") / F.lit(1e9)) * F.col("xs") + F.col("b") / F.lit(1e9)
    )
    tau = F.col("tq") / F.lit(10.0)
    scored = sc.crossJoin(F.broadcast(params)).select(
        "tq",
        "a",
        "b",
        u.alias("u"),
        F.floor(
            F.greatest(tau * u, (tau - F.lit(1)) * u) * F.lit(100000000)
            + F.lit(0.5)
        ).alias("pq"),
    )
    return scored.groupBy("tq").agg(
        F.first("a").cast("long").alias("slope_nano"),
        F.first("b").cast("long").alias("intercept_nano"),
        F.count(F.lit(1)).alias("n_rows"),
        r4(
            F.sum(F.when(F.col("u") <= 0, 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1))
        ).alias("coverage"),
        r4(F.sum("pq") / (F.count(F.lit(1)) * F.lit(100000000.0))).alias(
            "mean_pinball"
        ),
    ).select(
        F.col("tq").cast("int").alias("tau_x10"),
        "slope_nano",
        "intercept_nano",
        "n_rows",
        "coverage",
        "mean_pinball",
    )


calibration_quantile_fit.__doc__ = calibration_quantile_fit.__doc__.replace(
    "{iters}", str(_QFIT_ITERS)
)


@register(
    "eval_confusion_by_store",
    oracle=f"""
WITH f0 AS ({_FORECAST_SQL}),
f AS (SELECT * FROM f0 WHERE forecast IS NOT NULL),
m AS (
  SELECT l_suppkey,
         quantile_cont(actual, 0.5) AS med_a,
         quantile_cont(forecast, 0.5) AS med_f
  FROM f GROUP BY 1
), lab AS (
  SELECT f.l_suppkey,
         CASE WHEN f.actual > m.med_a THEN 1 ELSE 0 END AS y,
         CASE WHEN f.forecast > m.med_f THEN 1 ELSE 0 END AS yhat
  FROM f JOIN m ON f.l_suppkey = m.l_suppkey
)
SELECT l_suppkey,
       CAST(sum(y * yhat) AS BIGINT) AS tp,
       CAST(sum((1 - y) * yhat) AS BIGINT) AS fp,
       CAST(sum(y * (1 - yhat)) AS BIGINT) AS fn,
       CAST(sum((1 - y) * (1 - yhat)) AS BIGINT) AS tn,
       round(sum(y * yhat) * 1.0 / nullif(sum(yhat), 0), 4) AS precision_,
       round(sum(y * yhat) * 1.0 / nullif(sum(y), 0), 4) AS recall_,
       round(2.0 * sum(y * yhat) / nullif(sum(y) + sum(yhat), 0), 4) AS f1
FROM lab GROUP BY 1
""",
)
def eval_confusion_by_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-store confusion matrix + precision/recall/F1 for the demand-event
    classifier (event := above-median actual, prediction := above-median
    forecast) — the thresholded-classifier report the reference derives in
    sklearn on collected arrays (/root/reference/src/evaluation/
    error_analysis.py:89-300 classification summaries).  All four cells are
    integer sums; every ratio divides identical integers, so the table is
    exact in both engines (F1 written as 2·TP/(P+PP), the integer-ratio
    form of the harmonic mean).

    Scale: one grouped-median pass + one keyed aggregate, both on the
    store key."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    m = f.groupBy("l_suppkey").agg(
        F.percentile("actual", F.lit(0.5)).alias("med_a"),
        F.percentile("forecast", F.lit(0.5)).alias("med_f"),
    )
    lab = f.join(m, "l_suppkey").select(
        "l_suppkey",
        F.when(F.col("actual") > F.col("med_a"), 1).otherwise(0).alias("y"),
        F.when(F.col("forecast") > F.col("med_f"), 1).otherwise(0).alias("yhat"),
    )
    y, yh = F.col("y"), F.col("yhat")
    tp = F.sum(y * yh)
    return lab.groupBy("l_suppkey").agg(
        tp.cast("long").alias("tp"),
        F.sum((1 - y) * yh).cast("long").alias("fp"),
        F.sum(y * (1 - yh)).cast("long").alias("fn"),
        F.sum((1 - y) * (1 - yh)).cast("long").alias("tn"),
        r4(tp * F.lit(1.0) / F.nullif(F.sum(yh), F.lit(0))).alias("precision_"),
        r4(tp * F.lit(1.0) / F.nullif(F.sum(y), F.lit(0))).alias("recall_"),
        r4(
            F.lit(2.0) * tp / F.nullif(F.sum(y) + F.sum(yh), F.lit(0))
        ).alias("f1"),
    )


@register(
    "eval_decile_lift",
    oracle=f"""
WITH f0 AS ({_FORECAST_SQL}),
f AS (SELECT * FROM f0 WHERE forecast IS NOT NULL),
m AS (
  SELECT l_suppkey, quantile_cont(actual, 0.5) AS med_a
  FROM f GROUP BY 1
), lab AS (
  SELECT f.forecast,
         CASE WHEN f.actual > m.med_a THEN 1 ELSE 0 END AS y
  FROM f JOIN m ON f.l_suppkey = m.l_suppkey
), e AS (
  SELECT floor(quantile_cont(forecast, 0.1) * 10000 + 0.5) / 10000 AS q1,
         floor(quantile_cont(forecast, 0.2) * 10000 + 0.5) / 10000 AS q2,
         floor(quantile_cont(forecast, 0.3) * 10000 + 0.5) / 10000 AS q3,
         floor(quantile_cont(forecast, 0.4) * 10000 + 0.5) / 10000 AS q4,
         floor(quantile_cont(forecast, 0.5) * 10000 + 0.5) / 10000 AS q5,
         floor(quantile_cont(forecast, 0.6) * 10000 + 0.5) / 10000 AS q6,
         floor(quantile_cont(forecast, 0.7) * 10000 + 0.5) / 10000 AS q7,
         floor(quantile_cont(forecast, 0.8) * 10000 + 0.5) / 10000 AS q8,
         floor(quantile_cont(forecast, 0.9) * 10000 + 0.5) / 10000 AS q9
  FROM lab
), binned AS (
  SELECT y,
         1 + (CASE WHEN forecast > q1 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q2 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q3 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q4 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q5 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q6 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q7 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q8 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q9 THEN 1 ELSE 0 END) AS decile
  FROM lab CROSS JOIN e
), d AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(y) AS BIGINT) AS n_events
  FROM binned GROUP BY 1
), g AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS tot_rows,
         CAST(sum(n_events) AS BIGINT) AS tot_events
  FROM d
)
SELECT CAST(decile AS INTEGER) AS decile, n_rows, n_events,
       round(n_events * 1.0 / n_rows, 4) AS event_rate,
       round((n_events * 1.0 / n_rows) / (g.tot_events * 1.0 / g.tot_rows), 4)
         AS lift,
       round(sum(n_events) OVER (ORDER BY decile DESC
                                 ROWS UNBOUNDED PRECEDING)
             * 1.0 / g.tot_events, 4) AS cum_capture
FROM d CROSS JOIN g
""",
)
def eval_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & gains table for the demand-event score: bin rows by
    forecast deciles (value bins at broadcast quantile edges — never a
    global ntile window), then per decile the event rate, lift vs the base
    rate, and top-down cumulative event capture — the gains chart the
    reference plots from sklearn arrays during error analysis
    (/root/reference/src/evaluation/error_analysis.py:300-460).

    Exactness: all rates/lifts are ratios of BIGINT counts.  The one
    unpartitioned window (cumulative capture) runs over exactly 10 decile
    rows — the documented bounded-domain exemption
    (``diag_skew_heavy_hitters`` precedent), not a fact-scale sort.

    Scale: two passes (edges, bin-aggregate) + arithmetic on a 10-row
    frame; ``percentile_approx`` is the 100 TB edge substitution."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    m = f.groupBy("l_suppkey").agg(
        F.percentile("actual", F.lit(0.5)).alias("med_a")
    )
    lab = f.join(m, "l_suppkey").select(
        "forecast",
        F.when(F.col("actual") > F.col("med_a"), 1).otherwise(0).alias("y"),
    )
    e = lab.agg(
        *[
            r4(F.percentile("forecast", F.lit(q / 10.0))).alias(f"q{q}")
            for q in range(1, 10)
        ]
    )
    decile = F.lit(1)
    for q in range(1, 10):
        decile = decile + F.when(F.col("forecast") > F.col(f"q{q}"), 1).otherwise(0)
    binned = lab.crossJoin(F.broadcast(e)).select("y", decile.alias("decile"))
    d = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("y").cast("long").alias("n_events"),
    )
    g = d.agg(
        F.sum("n_rows").cast("long").alias("tot_rows"),
        F.sum("n_events").cast("long").alias("tot_events"),
    )
    wcum = W.orderBy(F.col("decile").desc()).rowsBetween(W.unboundedPreceding, 0)
    return (
        d.crossJoin(F.broadcast(g))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_rows",
            "n_events",
            r4(F.col("n_events") * F.lit(1.0) / F.col("n_rows")).alias("event_rate"),
            r4(
                (F.col("n_events") * F.lit(1.0) / F.col("n_rows"))
                / (F.col("tot_events") * F.lit(1.0) / F.col("tot_rows"))
            ).alias("lift"),
            r4(
                F.sum("n_events").over(wcum) * F.lit(1.0) / F.col("tot_events")
            ).alias("cum_capture"),
        )
    )


@register(
    "postproc_topdown_reconcile",
    oracle="""
WITH hist AS (
  SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_hist
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1
), ghist AS (SELECT CAST(sum(s_hist) AS BIGINT) AS g_hist FROM hist),
cur AS (
  SELECT l_suppkey,
         CAST(year(l_shipdate) AS INTEGER) AS yr,
         CAST(month(l_shipdate) AS INTEGER) AS mth,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_cur
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  GROUP BY 1, 2, 3
), gplan AS (
  SELECT yr, mth,
         (CAST(sum(s_cur) AS BIGINT) * 105 + 50) // 100 AS plan_total
  FROM cur GROUP BY 1, 2
)
SELECT c.yr, c.mth, c.l_suppkey,
       c.s_cur AS bottom_up,
       CAST((g.plan_total * h.s_hist * 2 + gh.g_hist) // (2 * gh.g_hist)
            AS BIGINT) AS reconciled,
       CAST((g.plan_total * h.s_hist * 2 + gh.g_hist) // (2 * gh.g_hist)
            - c.s_cur AS BIGINT) AS delta,
       round(h.s_hist * 1.0 / gh.g_hist, 4) AS hist_share
FROM cur c
JOIN hist h ON c.l_suppkey = h.l_suppkey
JOIN gplan g ON c.yr = g.yr AND c.mth = g.mth
CROSS JOIN ghist gh
""",
)
def postproc_topdown_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical top-down reconciliation: allocate each month's global
    plan (here 105% of observed volume — the planning target) to stores
    proportionally to their HISTORICAL share, and report the per-store
    delta against the bottom-up number — the market-share-constrained
    allocation engine from the reference's business rules
    (/root/reference/src/models/business_rules.py:353-551: scale
    predictions to share targets), done as pure integer arithmetic:
    shares never materialize as floats (the allocation is
    (plan·s_hist·2 + g_hist) // (2·g_hist), exact round-half-up), so the
    reconciled hierarchy is bit-identical cross-engine and the per-month
    coherence residual is bounded by n_stores/2 units by construction.

    Scale: two keyed aggregates (store-history, store-month) + one tiny
    month-grain plan + broadcast scalars; the same shape handles deeper
    hierarchies level by level (region→store→product), each level one
    keyed aggregate + one integer allocation."""
    t = Catalog(spark, sf_dir)
    cutoff = F.lit("1997-01-01").cast("timestamp")
    hist = (
        t.lineitem.filter(F.col("l_shipdate") < cutoff)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("s_hist"))
    )
    ghist = hist.agg(F.sum("s_hist").cast("long").alias("g_hist"))
    cur = (
        t.lineitem.filter(F.col("l_shipdate") >= cutoff)
        .groupBy(
            "l_suppkey",
            F.year("l_shipdate").cast("int").alias("yr"),
            F.month("l_shipdate").cast("int").alias("mth"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("s_cur"))
    )
    gplan = cur.groupBy("yr", "mth").agg(
        F.expr("(sum(s_cur) * 105 + 50) div 100").alias("plan_total")
    )
    j = (
        cur.join(hist, "l_suppkey")
        .join(F.broadcast(gplan), ["yr", "mth"])
        .crossJoin(F.broadcast(ghist))
    )
    alloc = F.expr("(plan_total * s_hist * 2 + g_hist) div (2 * g_hist)").cast(
        "long"
    )
    return j.select(
        "yr",
        "mth",
        "l_suppkey",
        F.col("s_cur").alias("bottom_up"),
        alloc.alias("reconciled"),
        (alloc - F.col("s_cur")).cast("long").alias("delta"),
        r4(F.col("s_hist") * F.lit(1.0) / F.col("g_hist")).alias("hist_share"),
    )


@register(
    "eval_roc_auc",
    oracle=f"""
WITH f0 AS ({_FORECAST_SQL}),
f AS (SELECT * FROM f0 WHERE forecast IS NOT NULL),
m AS (
  SELECT l_suppkey, quantile_cont(actual, 0.5) AS med_a
  FROM f GROUP BY 1
), lab AS (
  SELECT f.l_suppkey, f.forecast,
         CASE WHEN f.actual > m.med_a THEN 1 ELSE 0 END AS y
  FROM f JOIN m ON f.l_suppkey = m.l_suppkey
), rk AS (
  SELECT l_suppkey, y,
         2 * rank() OVER (PARTITION BY l_suppkey ORDER BY forecast)
           + count(*) OVER (PARTITION BY l_suppkey, forecast) - 1 AS rank2
  FROM lab
), s AS (
  SELECT l_suppkey,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(1 - y) AS BIGINT) AS n_neg,
         CAST(sum(y * rank2) AS BIGINT) AS r2_pos
  FROM rk GROUP BY 1
)
SELECT l_suppkey, n_pos, n_neg,
       round((r2_pos - n_pos * (n_pos + 1)) * 1.0
             / nullif(2 * n_pos * n_neg, 0), 4) AS auc,
       round((r2_pos - n_pos * (n_pos + 1)) * 1.0
             / nullif(n_pos * n_neg, 0) - 1.0, 4) AS gini
FROM s
""",
)
def eval_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-store ROC AUC for the demand-event classifier, EXACT via the
    Mann-Whitney rank identity: AUC = (R1 - n1(n1+1)/2) / (n1·n0) with
    average ranks for ties — the threshold-free companion to
    ``eval_confusion_by_store`` (the reference computes sklearn
    ``roc_auc_score`` on collected arrays in its diagnostics,
    /root/reference/src/evaluation/error_analysis.py:89-300; this is the
    distributed closed form, no curve sweep needed).  Ties are handled by
    doubling: rank2 = 2·rank + tiecount - 1 is twice the average rank, an
    INTEGER, so every sum stays integer and AUC is one exact ratio.

    Scale: one grouped median, one store-keyed rank window, one keyed
    aggregate — the same single-shuffle chain as every eval query; the
    tie-count window shares the rank window's partitioning."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    m = f.groupBy("l_suppkey").agg(
        F.percentile("actual", F.lit(0.5)).alias("med_a")
    )
    lab = f.join(m, "l_suppkey").select(
        "l_suppkey",
        "forecast",
        F.when(F.col("actual") > F.col("med_a"), 1).otherwise(0).alias("y"),
    )
    wr = W.partitionBy("l_suppkey").orderBy("forecast")
    wt = W.partitionBy("l_suppkey", "forecast")
    rk = lab.select(
        "l_suppkey",
        "y",
        (
            F.lit(2) * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt)
            - F.lit(1)
        ).alias("rank2"),
    )
    s = rk.groupBy("l_suppkey").agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg"),
        F.sum(F.col("y") * F.col("rank2")).cast("long").alias("r2_pos"),
    )
    u2 = F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    return s.select(
        "l_suppkey",
        "n_pos",
        "n_neg",
        r4(
            u2 * F.lit(1.0)
            / F.nullif(F.lit(2) * F.col("n_pos") * F.col("n_neg"), F.lit(0))
        ).alias("auc"),
        r4(
            u2 * F.lit(1.0) / F.nullif(F.col("n_pos") * F.col("n_neg"), F.lit(0))
            - F.lit(1.0)
        ).alias("gini"),
    )


@register(
    "eval_brier_decomposition",
    oracle=f"""
WITH f0 AS ({_FORECAST_SQL}),
f AS (SELECT * FROM f0 WHERE forecast IS NOT NULL),
m AS (
  SELECT l_suppkey, quantile_cont(actual, 0.5) AS med_a
  FROM f GROUP BY 1
), mm AS (SELECT min(forecast) AS mn, max(forecast) AS mx FROM f),
lab AS (
  SELECT CASE WHEN f.actual > m.med_a THEN 1 ELSE 0 END AS y,
         CAST(floor(CASE WHEN mm.mx > mm.mn
                         THEN (f.forecast - mm.mn) / (mm.mx - mm.mn)
                         ELSE 0.5 END * 10000 + 0.5) AS BIGINT) AS p4
  FROM f JOIN m ON f.l_suppkey = m.l_suppkey CROSS JOIN mm
), b AS (
  SELECT least(9, p4 // 1000) AS bin,
         CAST(count(*) AS BIGINT) AS nk,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(p4) AS BIGINT) AS sp4,
         CAST(sum((p4 - y * 10000) * (p4 - y * 10000)) AS BIGINT) AS sd2
  FROM lab GROUP BY 1
), g AS (
  SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(sy) AS BIGINT) AS syg,
         CAST(sum(sd2) AS BIGINT) AS sd2g,
         sum(nk * (sp4 / (nk * 10000.0) - sy * 1.0 / nk)
                * (sp4 / (nk * 10000.0) - sy * 1.0 / nk)) AS rel_num
  FROM b
), g2 AS (
  SELECT g.n, g.syg, g.sd2g, g.rel_num,
         (SELECT sum(nk * (sy * 1.0 / nk - g.syg * 1.0 / g.n)
                        * (sy * 1.0 / nk - g.syg * 1.0 / g.n)) FROM b) AS res_num
  FROM g
)
SELECT n AS n_rows,
       round(sd2g / (n * 100000000.0), 4) AS brier,
       round(rel_num / n, 4) AS reliability,
       round(res_num / n, 4) AS resolution,
       round((syg * 1.0 / n) * (1.0 - syg * 1.0 / n), 4) AS uncertainty,
       round(rel_num / n - res_num / n
             + (syg * 1.0 / n) * (1.0 - syg * 1.0 / n), 4) AS brier_binned
FROM g2
""",
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — reliability (calibration
    error), resolution (discriminative sharpness), and uncertainty (base
    rate variance) — over the min-max-scaled forecast as the event score
    and the above-median demand event as the outcome: the standard
    "is the probabilistic forecast calibrated AND sharp" readout behind
    the reference's calibration curve + interval diagnostics
    (/root/reference/src/models/model_calibration.py 's calibration
    analysis; binned convention shared with ``calibration_curve_bins``).

    Exactness: the score lives on the 1e-4 grid, so the raw Brier sum is
    an INTEGER sum of squared grid differences d² (d = p4 - 10000·y);
    bins derive from p4 (integer //), bin means are exact ratios, and the
    rel/res sums run over exactly 10 bins — bounded-ulp, r4-safe.

    Scale: one scan into a 10-bin keyed aggregate, then a 10-row fold —
    shuffle width is the bin count, nothing else."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    m = f.groupBy("l_suppkey").agg(
        F.percentile("actual", F.lit(0.5)).alias("med_a")
    )
    mm = f.agg(F.min("forecast").alias("mn"), F.max("forecast").alias("mx"))
    p = F.when(
        F.col("mx") > F.col("mn"),
        (F.col("forecast") - F.col("mn")) / (F.col("mx") - F.col("mn")),
    ).otherwise(F.lit(0.5))
    lab = (
        f.join(m, "l_suppkey")
        .crossJoin(F.broadcast(mm))
        .select(
            F.when(F.col("actual") > F.col("med_a"), 1).otherwise(0).alias("y"),
            F.floor(p * 10000 + F.lit(0.5)).cast("long").alias("p4"),
        )
    )
    d = F.col("p4") - F.col("y") * 10000
    b = lab.groupBy(
        F.least(F.lit(9), F.expr("p4 div 1000")).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("nk"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("p4").cast("long").alias("sp4"),
        F.sum(d * d).cast("long").alias("sd2"),
    )
    # 10-row fold: two passes expressed as one aggregate by pre-joining the
    # global base rate (broadcast scalar) back onto the bins
    g = b.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("sy").cast("long").alias("syg"),
        F.sum("sd2").cast("long").alias("sd2g"),
    )
    bg = b.crossJoin(F.broadcast(g))
    pk = F.col("sp4") / (F.col("nk") * F.lit(10000.0))
    yk = F.col("sy") * F.lit(1.0) / F.col("nk")
    yg = F.col("syg") * F.lit(1.0) / F.col("n")
    out = bg.groupBy("n", "syg", "sd2g").agg(
        F.sum(F.col("nk") * (pk - yk) * (pk - yk)).alias("rel_num"),
        F.sum(F.col("nk") * (yk - yg) * (yk - yg)).alias("res_num"),
    )
    ygl = F.col("syg") * F.lit(1.0) / F.col("n")
    unc = ygl * (F.lit(1.0) - ygl)
    return out.select(
        F.col("n").alias("n_rows"),
        r4(F.col("sd2g") / (F.col("n") * F.lit(100000000.0))).alias("brier"),
        r4(F.col("rel_num") / F.col("n")).alias("reliability"),
        r4(F.col("res_num") / F.col("n")).alias("resolution"),
        r4(unc).alias("uncertainty"),
        r4(
            F.col("rel_num") / F.col("n") - F.col("res_num") / F.col("n") + unc
        ).alias("brier_binned"),
    )


@register(
    "cv_purged_embargo",
    oracle="""
WITH b AS (
  SELECT CAST(min(CAST(l_shipdate AS DATE)) AS DATE) AS d0,
         CAST(date_diff('day', min(CAST(l_shipdate AS DATE)),
                        max(CAST(l_shipdate AS DATE))) + 1 AS BIGINT) AS span
  FROM lineitem
), r AS (
  SELECT CAST(date_diff('day', b.d0, CAST(l_shipdate AS DATE)) AS BIGINT)
           AS day_idx,
         b.span
  FROM lineitem CROSS JOIN b
), fb AS (
  SELECT k, span,
         (k * span + 4) // 5 AS f_start,
         CASE WHEN k = 4 THEN span - 1
              ELSE ((k + 1) * span + 4) // 5 - 1 END AS f_end
  FROM (VALUES (CAST(0 AS BIGINT)), (1), (2), (3), (4)) t(k)
       CROSS JOIN (SELECT span FROM b)
), cl AS (
  SELECT fb.k, fb.f_start, fb.f_end,
         CASE WHEN r.day_idx BETWEEN fb.f_start AND fb.f_end THEN 'test'
              WHEN r.day_idx >= fb.f_start - 7 AND r.day_idx <= fb.f_end + 7
                THEN 'purged'
              ELSE 'train' END AS role
  FROM r CROSS JOIN fb
)
SELECT CAST(k AS INTEGER) AS fold,
       CAST(f_start AS BIGINT) AS test_start_day,
       CAST(f_end AS BIGINT) AS test_end_day,
       CAST(sum(CASE WHEN role = 'test' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_test,
       CAST(sum(CASE WHEN role = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train,
       CAST(sum(CASE WHEN role = 'purged' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purged,
       round(sum(CASE WHEN role = 'train' THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS train_share
FROM cl GROUP BY 1, 2, 3
""",
)
def cv_purged_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged K-fold time-series CV with embargo: 5 contiguous date folds;
    for each fold, rows within 7 days BEFORE the test window (purge — their
    aggregated features would leak test information backward) or 7 days
    AFTER it (embargo — autocorrelated labels leak forward) are excluded
    from training.  The reference's CV module names exactly this
    ("Gap and purge periods to prevent leakage", 1-week embargo —
    /root/reference/src/models/time_series_cv.py:8-10,57-73); this is the
    fold-assignment audit table: per fold, the test bounds and the
    test/train/purged row budget.

    Exactness: day indices, fold boundaries ((k·span+4)//5 on non-negative
    ints), and role classification are all integer arithmetic — bit-equal
    across engines; train_share is one exact ratio.

    Scale: one bounds scan, then a fact x 5-fold broadcast cross join into
    a 5-row keyed aggregate — the bounded-multiplier pattern (the fold
    table is 5 rows; nothing else is replicated)."""
    t = Catalog(spark, sf_dir)
    b = t.lineitem.agg(
        F.min(F.col("l_shipdate").cast("date")).alias("d0"),
        (
            F.datediff(
                F.max(F.col("l_shipdate").cast("date")),
                F.min(F.col("l_shipdate").cast("date")),
            )
            + 1
        )
        .cast("long")
        .alias("span"),
    )
    r = t.lineitem.select(F.col("l_shipdate").cast("date").alias("d")).crossJoin(
        F.broadcast(b)
    ).select(
        F.datediff(F.col("d"), F.col("d0")).cast("long").alias("day_idx"),
        "span",
    )
    folds = spark.createDataFrame([(k,) for k in range(5)], "k long")
    fb = folds.crossJoin(F.broadcast(b.select("span"))).select(
        "k",
        F.expr("(k * span + 4) div 5").alias("f_start"),
        F.when(F.col("k") == 4, F.col("span") - 1)
        .otherwise(F.expr("((k + 1) * span + 4) div 5 - 1"))
        .alias("f_end"),
    )
    role = (
        F.when(
            F.col("day_idx").between(F.col("f_start"), F.col("f_end")), "test"
        )
        .when(
            (F.col("day_idx") >= F.col("f_start") - 7)
            & (F.col("day_idx") <= F.col("f_end") + 7),
            "purged",
        )
        .otherwise("train")
    )
    cl = r.crossJoin(F.broadcast(fb)).select(
        "k", "f_start", "f_end", role.alias("role")
    )
    return cl.groupBy("k", "f_start", "f_end").agg(
        F.sum(F.when(F.col("role") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
        F.sum(F.when(F.col("role") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("role") == "purged", 1).otherwise(0))
        .cast("long")
        .alias("n_purged"),
        r4(
            F.sum(F.when(F.col("role") == "train", 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1))
        ).alias("train_share"),
    ).select(
        F.col("k").cast("int").alias("fold"),
        F.col("f_start").cast("long").alias("test_start_day"),
        F.col("f_end").cast("long").alias("test_end_day"),
        "n_test",
        "n_train",
        "n_purged",
        "train_share",
    )


@register(
    "metric_mase_seasonal_naive",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
s AS (
  SELECT l_suppkey, actual, forecast,
         lag(actual, 7) OVER (PARTITION BY l_suppkey
                              ORDER BY {_ORDER_SQL}) AS snaive
  FROM f
),
m AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n_rows,
         avg(CASE WHEN forecast IS NOT NULL
                  THEN abs(actual - forecast) END) AS mae_forecast,
         avg(CASE WHEN snaive IS NOT NULL
                  THEN abs(actual - snaive) END) AS mae_snaive
  FROM s GROUP BY 1
)
SELECT l_suppkey, n_rows,
       round(mae_forecast, 4) AS mae_forecast,
       round(mae_snaive, 4) AS mae_snaive,
       round(mae_forecast / nullif(mae_snaive, 0), 4) AS mase,
       mae_forecast < mae_snaive AS beats_snaive
FROM m
""",
)
def metric_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE — mean absolute SCALED error (Hyndman & Koehler 2006), the one
    headline forecast metric the WMAPE suite lacked: per store, the
    model's MAE divided by the in-sample MAE of the SEASONAL-NAIVE
    forecaster (y-hat_t = y_(t-7), one week back in the per-store row
    sequence).  MASE < 1 means the model beats the no-skill seasonal
    benchmark — the scale-free comparison WMAPE can't make across stores
    with different volumes, and the standard tie-breaker metric in the
    M-competitions.

    Uses the engine-wide shared forecast column (yesterday's 7-row
    rolling mean, quantized before the lag) so the metric family —
    WMAPE / MAE / bias / ABC tiers / MASE — reads one consistent model.
    Denominator rows are the full in-sample seasonal-naive errors,
    numerator rows the scored forecast rows, both as conditional
    averages inside ONE keyed aggregate (Hyndman's definition, not the
    matched-rows shortcut); a constant series (zero seasonal-naive MAE)
    yields NULL MASE via nullif, never a division error.

    Reference parity: the reference's metrics module ships
    WMAPE/MAE/bias (/root/reference/src/evaluation/metrics.py:128-157)
    but no scaled error; its baseline comparisons
    (/root/reference/src/models/*baseline*) motivate exactly this
    benchmark-relative readout.

    Scale: one window pass (already paid by the shared forecast) plus a
    7-row lag in the same partition order — no extra shuffle — then one
    keyed aggregate to |stores| rows."""
    t = Catalog(spark, sf_dir)
    seq = W.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    f = _with_forecast(t).withColumn("snaive", F.lag("actual", 7).over(seq))
    a = F.col("actual")
    m = f.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.avg(
            F.when(F.col("forecast").isNotNull(), F.abs(a - F.col("forecast")))
        ).alias("_mf"),
        F.avg(
            F.when(F.col("snaive").isNotNull(), F.abs(a - F.col("snaive")))
        ).alias("_ms"),
    )
    return m.select(
        "l_suppkey",
        "n_rows",
        r4(F.col("_mf")).alias("mae_forecast"),
        r4(F.col("_ms")).alias("mae_snaive"),
        r4(F.col("_mf") / F.nullif(F.col("_ms"), F.lit(0))).alias("mase"),
        (F.col("_mf") < F.col("_ms")).alias("beats_snaive"),
    )


@register(
    "explain_linear_contributions",
    oracle="""
WITH m AS (
  SELECT CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) AS x1,
         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS x2,
         CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS x3,
         CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT) AS y
  FROM lineitem
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x1 AS HUGEINT)) AS sx1, sum(CAST(x2 AS HUGEINT)) AS sx2,
         sum(CAST(x3 AS HUGEINT)) AS sx3, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x1 AS HUGEINT) * x1) AS s11, sum(CAST(x1 AS HUGEINT) * x2) AS s12,
         sum(CAST(x1 AS HUGEINT) * x3) AS s13, sum(CAST(x2 AS HUGEINT) * x2) AS s22,
         sum(CAST(x2 AS HUGEINT) * x3) AS s23, sum(CAST(x3 AS HUGEINT) * x3) AS s33,
         sum(CAST(x1 AS HUGEINT) * y) AS sy1, sum(CAST(x2 AS HUGEINT) * y) AS sy2,
         sum(CAST(x3 AS HUGEINT) * y) AS sy3
  FROM m
), c AS (
  SELECT n,
         CAST(s11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n AS a11,
         CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS a12,
         CAST(s13 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx3 AS DOUBLE) / n AS a13,
         CAST(s22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS a22,
         CAST(s23 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx3 AS DOUBLE) / n AS a23,
         CAST(s33 AS DOUBLE) - CAST(sx3 AS DOUBLE) * CAST(sx3 AS DOUBLE) / n AS a33,
         CAST(sy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE) / n AS v1,
         CAST(sy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE) / n AS v2,
         CAST(sy3 AS DOUBLE) - CAST(sx3 AS DOUBLE) * CAST(sy AS DOUBLE) / n AS v3,
         CAST(sy AS DOUBLE) AS syd
  FROM s
), beta AS (
  SELECT n, syd,
         (v1*(a22*a33 - a23*a23) - a12*(v2*a33 - a23*v3) + a13*(v2*a23 - a22*v3))
           / (a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
              + a13*(a12*a23 - a22*a13)) AS b1,
         (a11*(v2*a33 - a23*v3) - v1*(a12*a33 - a23*a13) + a13*(a12*v3 - v2*a13))
           / (a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
              + a13*(a12*a23 - a22*a13)) AS b2,
         (a11*(a22*v3 - v2*a23) - a12*(a12*v3 - v2*a13) + v1*(a12*a23 - a22*a13))
           / (a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
              + a13*(a12*a23 - a22*a13)) AS b3
  FROM c
), mad AS (
  SELECT sum(abs(CAST(x1 AS HUGEINT) * s.n - s.sx1)) AS m1,
         sum(abs(CAST(x2 AS HUGEINT) * s.n - s.sx2)) AS m2,
         sum(abs(CAST(x3 AS HUGEINT) * s.n - s.sx3)) AS m3
  FROM m, s
), mac AS (
  SELECT b.n, b.syd, b.b1, b.b2, b.b3,
         abs(b1) * CAST(m1 AS DOUBLE) / (CAST(b.n AS DOUBLE) * b.n * 10000.0) AS c1,
         abs(b2) * CAST(m2 AS DOUBLE) / (CAST(b.n AS DOUBLE) * b.n * 10000.0) AS c2,
         abs(b3) * CAST(m3 AS DOUBLE) / (CAST(b.n AS DOUBLE) * b.n * 10000.0) AS c3
  FROM beta b, mad
)
SELECT feature, n_rows, baseline, beta, mean_abs_contrib, contrib_share
FROM (
  SELECT 'extendedprice' AS feature, n AS n_rows,
         round(syd / (n * 10000.0), 4) AS baseline,
         round(b1, 4) AS beta, round(c1, 4) AS mean_abs_contrib,
         round(c1 / (c1 + c2 + c3), 4) AS contrib_share
  FROM mac
  UNION ALL
  SELECT 'discount', n, round(syd / (n * 10000.0), 4), round(b2, 4),
         round(c2, 4), round(c2 / (c1 + c2 + c3), 4) FROM mac
  UNION ALL
  SELECT 'tax', n, round(syd / (n * 10000.0), 4), round(b3, 4),
         round(c3, 4), round(c3 / (c1 + c2 + c3), 4) FROM mac
)
""",
)
def explain_linear_contributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT model explanation for a linear fit — the SHAP decomposition,
    which for a linear model on independent features is closed-form
    (Lundberg & Lee 2017 §4, 'Linear SHAP'): phi_ij = beta_j*(x_ij -
    mean(x_j)), baseline = mean(y-hat) = mean(y).  The query fits OLS
    (intercept via centering) of l_quantity on extendedprice/discount/tax
    from exact integer sufficient statistics, then reports per feature
    the global attribution readout: beta, mean |contribution|, and each
    feature's share of total attribution — the 'why does the model say
    that' table every model-adjacent pipeline owes its consumers,
    companion to ``feature_importance_topk`` (which ranks by fit
    improvement, not attribution mass).

    Exactness discipline: features/target live on a 1e-4 grid so XtX /
    Xty accumulate as exact HUGEINT/decimal sums (order-free); the
    centered 3x3 system solves by Cramer with the identical double
    expression tree in both engines.  The mean absolute deviation that
    scales each |beta_j| is computed WITHOUT a float subtraction per
    row: sum |x4_i*n - Sx4| is an exact integer (the per-row term never
    leaves the grid), divided once by n^2*1e4 — so mean|contribution| =
    |beta_j| * MAD_j is deterministic despite being a full second pass.

    Reference parity: the reference explains models via sklearn
    feature_importances_ on collected frames
    (/root/reference/src/models/lightgbm_hierarchical.py family and
    /root/reference/src/evaluation/error_analysis.py:200-320); this is
    the attribution-exact form a SQL engine can actually certify.

    Scale: two scans (moments, then MAD against broadcast 1-row stats),
    each one map-side-combined aggregate; the solve and the 3-row
    readout are driver-free column arithmetic on 1-row tables."""
    t = Catalog(spark, sf_dir)
    # two aggregate passes read this projection
    m = materialize(
        t.lineitem.select(
            F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("x1"),
            F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long").alias("x2"),
            F.floor(F.col("l_tax") * 10000 + F.lit(0.5)).cast("long").alias("x3"),
            F.floor(F.col("l_quantity") * 10000 + F.lit(0.5)).cast("long").alias("y"),
        )
    )
    xp = lambda a, b: F.sum(  # noqa: E731
        (F.col(a).cast("decimal(19,0)") * F.col(b)).cast("decimal(38,0)")
    )
    # feeds the solve AND the per-row MAD pass
    s = materialize(
        m.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("x1").cast("decimal(38,0)")).alias("sx1"),
            F.sum(F.col("x2").cast("decimal(38,0)")).alias("sx2"),
            F.sum(F.col("x3").cast("decimal(38,0)")).alias("sx3"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
            xp("x1", "x1").alias("s11"),
            xp("x1", "x2").alias("s12"),
            xp("x1", "x3").alias("s13"),
            xp("x2", "x2").alias("s22"),
            xp("x2", "x3").alias("s23"),
            xp("x3", "x3").alias("s33"),
            xp("x1", "y").alias("sy1"),
            xp("x2", "y").alias("sy2"),
            xp("x3", "y").alias("sy3"),
        )
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    c = s.select(
        "n",
        (dd("s11") - dd("sx1") * dd("sx1") / F.col("n")).alias("a11"),
        (dd("s12") - dd("sx1") * dd("sx2") / F.col("n")).alias("a12"),
        (dd("s13") - dd("sx1") * dd("sx3") / F.col("n")).alias("a13"),
        (dd("s22") - dd("sx2") * dd("sx2") / F.col("n")).alias("a22"),
        (dd("s23") - dd("sx2") * dd("sx3") / F.col("n")).alias("a23"),
        (dd("s33") - dd("sx3") * dd("sx3") / F.col("n")).alias("a33"),
        (dd("sy1") - dd("sx1") * dd("sy") / F.col("n")).alias("v1"),
        (dd("sy2") - dd("sx2") * dd("sy") / F.col("n")).alias("v2"),
        (dd("sy3") - dd("sx3") * dd("sy") / F.col("n")).alias("v3"),
        dd("sy").alias("syd"),
    )
    a11, a12, a13 = F.col("a11"), F.col("a12"), F.col("a13")
    a22, a23, a33 = F.col("a22"), F.col("a23"), F.col("a33")
    v1, v2, v3 = F.col("v1"), F.col("v2"), F.col("v3")
    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    beta = c.select(
        "n",
        "syd",
        (
            (
                v1 * (a22 * a33 - a23 * a23)
                - a12 * (v2 * a33 - a23 * v3)
                + a13 * (v2 * a23 - a22 * v3)
            )
            / det
        ).alias("b1"),
        (
            (
                a11 * (v2 * a33 - a23 * v3)
                - v1 * (a12 * a33 - a23 * a13)
                + a13 * (a12 * v3 - v2 * a13)
            )
            / det
        ).alias("b2"),
        (
            (
                a11 * (a22 * v3 - v2 * a23)
                - a12 * (a12 * v3 - v2 * a13)
                + v1 * (a12 * a23 - a22 * a13)
            )
            / det
        ).alias("b3"),
    )
    mterm = lambda x, sx: F.sum(  # noqa: E731
        F.abs(
            (F.col(x).cast("decimal(19,0)") * F.col("n")).cast("decimal(38,0)")
            - F.col(sx)
        )
    )
    mad = m.crossJoin(F.broadcast(s.select("n", "sx1", "sx2", "sx3"))).agg(
        mterm("x1", "sx1").alias("m1"),
        mterm("x2", "sx2").alias("m2"),
        mterm("x3", "sx3").alias("m3"),
    )
    nn = F.col("n").cast("double") * F.col("n") * F.lit(10000.0)
    mac = beta.crossJoin(mad).select(
        "n",
        "syd",
        "b1",
        "b2",
        "b3",
        (F.abs(F.col("b1")) * F.col("m1").cast("double") / nn).alias("c1"),
        (F.abs(F.col("b2")) * F.col("m2").cast("double") / nn).alias("c2"),
        (F.abs(F.col("b3")) * F.col("m3").cast("double") / nn).alias("c3"),
    )
    tot = F.col("c1") + F.col("c2") + F.col("c3")
    baseline = r4(F.col("syd") / (F.col("n") * F.lit(10000.0)))
    rows = []
    for name, b, cc in (
        ("extendedprice", "b1", "c1"),
        ("discount", "b2", "c2"),
        ("tax", "b3", "c3"),
    ):
        rows.append(
            mac.select(
                F.lit(name).alias("feature"),
                F.col("n").alias("n_rows"),
                baseline.alias("baseline"),
                r4(F.col(b)).alias("beta"),
                r4(F.col(cc)).alias("mean_abs_contrib"),
                r4(F.col(cc) / tot).alias("contrib_share"),
            )
        )
    return rows[0].unionByName(rows[1]).unionByName(rows[2])


@register(
    "eval_pr_auc",
    oracle=f"""
WITH f0 AS ({_FORECAST_SQL}),
f AS (SELECT * FROM f0 WHERE forecast IS NOT NULL),
m AS (
  SELECT l_suppkey, quantile_cont(actual, 0.5) AS med_a
  FROM f GROUP BY 1
), lab AS (
  SELECT f.l_suppkey, f.forecast,
         CASE WHEN f.actual > m.med_a THEN 1 ELSE 0 END AS y
  FROM f JOIN m ON f.l_suppkey = m.l_suppkey
), blk AS (
  SELECT l_suppkey, forecast,
         CAST(sum(y) AS BIGINT) AS tp_blk,
         CAST(count(*) AS BIGINT) AS n_blk
  FROM lab GROUP BY 1, 2
), cum AS (
  SELECT l_suppkey, tp_blk,
         sum(tp_blk) OVER (PARTITION BY l_suppkey
                           ORDER BY forecast DESC) AS cum_tp,
         sum(n_blk) OVER (PARTITION BY l_suppkey
                          ORDER BY forecast DESC) AS cum_n,
         sum(tp_blk) OVER (PARTITION BY l_suppkey) AS n_pos,
         sum(n_blk) OVER (PARTITION BY l_suppkey) AS n_all
  FROM blk
), terms AS (
  SELECT l_suppkey, n_pos, n_all,
         CAST(floor(tp_blk * cum_tp * 10000.0 / cum_n + 0.5) AS BIGINT)
           AS term_q
  FROM cum
)
SELECT l_suppkey,
       CAST(max(n_pos) AS BIGINT) AS n_pos,
       CAST(max(n_all) - max(n_pos) AS BIGINT) AS n_neg,
       round(sum(term_q) / (max(n_pos) * 10000.0), 4) AS pr_auc,
       round(max(n_pos) * 1.0 / max(n_all), 4) AS prevalence,
       round(sum(term_q) / (max(n_pos) * 10000.0)
             / (max(n_pos) * 1.0 / max(n_all)), 4) AS lift_vs_random
FROM terms GROUP BY 1
""",
)
def eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-store PRECISION-RECALL AUC (average precision, the sklearn
    step-sum definition: AP = sum_k (R_k - R_(k-1)) * P_k over descending
    score thresholds) for the same demand-event classifier as
    ``eval_roc_auc`` — the imbalanced-class companion: ROC AUC is blind
    to prevalence, AP degrades exactly when the positive class thins,
    which is why retrieval and anomaly stacks report both.  Prevalence
    (= the AP of a random ranker) and the lift over it come along so the
    number is readable without a baseline lookup.

    Exactness: score ties are handled BLOCK-wise (every distinct
    forecast value is one threshold — sklearn's convention); each
    block's term (delta_tp * cum_tp / cum_n) is integer arithmetic up to
    one double division, quantized to a BIGINT 1e-4 grid BEFORE the sum
    (order-free), divided once by n_pos at the end.

    Reference parity: the reference reports sklearn roc_auc_score in
    its error analysis (/root/reference/src/evaluation/
    error_analysis.py:89-300) but never the PR curve; this completes
    the threshold-free pair.

    Scale: one grouped median + one (store, score) block aggregate +
    a store-keyed ordered window over DISTINCT thresholds (blocks, not
    rows — the window input is already collapsed), then one keyed
    aggregate.  Same single-shuffle discipline as the ROC query."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    m = f.groupBy("l_suppkey").agg(
        F.percentile("actual", F.lit(0.5)).alias("med_a")
    )
    lab = f.join(m, "l_suppkey").select(
        "l_suppkey",
        "forecast",
        F.when(F.col("actual") > F.col("med_a"), 1).otherwise(0).alias("y"),
    )
    blk = lab.groupBy("l_suppkey", "forecast").agg(
        F.sum("y").cast("long").alias("tp_blk"),
        F.count(F.lit(1)).cast("long").alias("n_blk"),
    )
    wc = W.partitionBy("l_suppkey").orderBy(F.col("forecast").desc())
    wa = W.partitionBy("l_suppkey")
    cum = blk.select(
        "l_suppkey",
        "tp_blk",
        F.sum("tp_blk").over(wc).alias("cum_tp"),
        F.sum("n_blk").over(wc).alias("cum_n"),
        F.sum("tp_blk").over(wa).alias("n_pos"),
        F.sum("n_blk").over(wa).alias("n_all"),
    )
    terms = cum.select(
        "l_suppkey",
        "n_pos",
        "n_all",
        F.floor(
            F.col("tp_blk") * F.col("cum_tp") * F.lit(10000.0) / F.col("cum_n")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("term_q"),
    )
    ap = F.sum("term_q") / (F.max("n_pos") * F.lit(10000.0))
    prev = F.max("n_pos") * F.lit(1.0) / F.max("n_all")
    return terms.groupBy("l_suppkey").agg(
        F.max("n_pos").cast("long").alias("n_pos"),
        (F.max("n_all") - F.max("n_pos")).cast("long").alias("n_neg"),
        r4(ap).alias("pr_auc"),
        r4(prev).alias("prevalence"),
        r4(ap / prev).alias("lift_vs_random"),
    )


@register(
    "metric_pinball_loss",
    oracle=f"""
WITH {_OOF_SQL}, g AS (
  SELECT l_suppkey,
         CAST(floor(actual * 10000 + 0.5) AS BIGINT) AS y4,
         CAST(floor(pred_q75 * 10000 + 0.5) AS BIGINT) AS q4,
         CAST(floor(pred_mean * 10000 + 0.5) AS BIGINT) AS m4
  FROM j
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(CASE WHEN y4 >= q4 THEN 3 * (y4 - q4)
                      ELSE q4 - y4 END) / (count(*) * 40000.0), 4)
         AS pinball_q75,
       round(sum(abs(y4 - m4)) / (count(*) * 20000.0), 4) AS pinball_mean,
       round(sum(CASE WHEN y4 <= q4 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS coverage_q75,
       round(sum(CASE WHEN y4 <= q4 THEN 1 ELSE 0 END) * 1.0 / count(*)
             - 0.75, 4) AS coverage_gap
FROM g GROUP BY 1
""",
)
def metric_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PINBALL (quantile) loss — the proper scoring rule for quantile
    forecasts (Koenker & Bassett 1978), evaluated per store on the
    engine's shared OOF design matrix: the q75 base model is scored at
    tau=0.75, the mean model at tau=0.5 (where pinball is half the MAE —
    the sanity anchor), alongside empirical q75 coverage and its gap
    from the nominal 0.75.  A quantile model whose pinball beats the
    mean model's may STILL be miscalibrated — the coverage gap is the
    diagnosis column; this completes the probabilistic-forecast eval row
    next to ``calibration_interval_coverage`` and
    ``calibration_quantile_band``.

    Exactness: actuals and predictions already live on the OOF 1e-4
    grid, so each pinball term is PURE INTEGER arithmetic — tau=0.75
    terms are computed in quarter-units (3*(y-q) vs 1*(q-y)), summed as
    BIGINT (order-free), divided once by 4*n*1e4; coverage is an integer
    count ratio.

    Reference parity: the reference trains quantile LightGBM objectives
    (/root/reference/src/models/lightgbm_hierarchical.py, objective
    'quantile') but evaluates only WMAPE; pinball is the loss those
    models actually optimize, now first-class in the eval suite.

    Scale: the OOF join is the shared two-aggregate chain; the metric
    adds one keyed aggregate of integer sums — nothing new shuffles."""
    j = _oof_join(Catalog(spark, sf_dir))
    g = j.select(
        "l_suppkey",
        F.floor(F.col("actual") * 10000 + F.lit(0.5)).cast("long").alias("y4"),
        F.floor(F.col("pred_q75") * 10000 + F.lit(0.5)).cast("long").alias("q4"),
        F.floor(F.col("pred_mean") * 10000 + F.lit(0.5)).cast("long").alias("m4"),
    )
    y4, q4, m4 = F.col("y4"), F.col("q4"), F.col("m4")
    pin75 = F.sum(
        F.when(y4 >= q4, F.lit(3) * (y4 - q4)).otherwise(q4 - y4)
    )
    cov = F.sum(F.when(y4 <= q4, 1).otherwise(0)) * F.lit(1.0) / F.count(
        F.lit(1)
    )
    return g.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        r4(pin75 / (F.count(F.lit(1)) * F.lit(40000.0))).alias("pinball_q75"),
        r4(
            F.sum(F.abs(y4 - m4)) / (F.count(F.lit(1)) * F.lit(20000.0))
        ).alias("pinball_mean"),
        r4(cov).alias("coverage_q75"),
        r4(cov - F.lit(0.75)).alias("coverage_gap"),
    )


@register(
    "calibration_ece_summary",
    oracle=f"""
WITH f AS ({_FORECAST_SQL}),
v AS (
  SELECT actual, forecast,
         CAST(floor(forecast * 10000 + 0.5) AS BIGINT) AS fl,
         CAST(floor(actual * 10000 + 0.5) AS BIGINT) AS al
  FROM f WHERE forecast IS NOT NULL
), e AS (
  SELECT floor(quantile_cont(forecast, 0.1) * 10000 + 0.5) / 10000 AS q1,
         floor(quantile_cont(forecast, 0.2) * 10000 + 0.5) / 10000 AS q2,
         floor(quantile_cont(forecast, 0.3) * 10000 + 0.5) / 10000 AS q3,
         floor(quantile_cont(forecast, 0.4) * 10000 + 0.5) / 10000 AS q4,
         floor(quantile_cont(forecast, 0.5) * 10000 + 0.5) / 10000 AS q5,
         floor(quantile_cont(forecast, 0.6) * 10000 + 0.5) / 10000 AS q6,
         floor(quantile_cont(forecast, 0.7) * 10000 + 0.5) / 10000 AS q7,
         floor(quantile_cont(forecast, 0.8) * 10000 + 0.5) / 10000 AS q8,
         floor(quantile_cont(forecast, 0.9) * 10000 + 0.5) / 10000 AS q9
  FROM v
), binned AS (
  SELECT fl, al,
         1 + (CASE WHEN forecast > q1 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q2 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q3 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q4 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q5 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q6 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q7 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q8 THEN 1 ELSE 0 END)
           + (CASE WHEN forecast > q9 THEN 1 ELSE 0 END) AS b
  FROM v, e
), per_bin AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(fl) AS BIGINT) AS sf,
         CAST(sum(al) AS BIGINT) AS sa
  FROM binned GROUP BY 1
)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_bins,
       round(sum(abs(sf - sa)) / (sum(n) * 10000.0), 4) AS ece,
       round(max(abs(sf - sa) * 1.0 / n) / 10000.0, 4) AS mce,
       round(sum(sa) * 1.0 / sum(sf), 4) AS overall_ratio
FROM per_bin
""",
)
def calibration_ece_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPECTED CALIBRATION ERROR — the one-number reliability summary
    over the same forecast-decile bins as ``calibration_curve_bins``
    (Naeini et al. 2015's ECE, in its regression form): ECE is the
    bin-size-weighted mean |mean forecast - mean actual|, MCE the worst
    bin's gap, and the overall actual/forecast ratio the global bias
    anchor.  The curve query shows WHERE miscalibration lives; this is
    the number a model registry thresholds on.

    Exactness: weighting collapses algebraically — (n_b/N)*|mf-ma| =
    |sum_f - sum_a|_b / N — so ECE is one integer sum of per-bin
    absolute differences of exact BIGINT 1e-4 sums, divided once; MCE
    is a max over exact per-bin ratios.  No per-row float ever
    accumulates.

    Reference parity: the reference's calibration suite plots the curve
    and fits correctors (/root/reference/src/models/
    model_calibration.py:49-520) but never ships the summary statistic;
    this completes curve -> corrector -> NUMBER.

    Scale: identical dataflow to the curve query (nine broadcast
    quantile edges + one keyed aggregate) collapsed one step further."""
    t = Catalog(spark, sf_dir)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    # feeds the quantile edges AND the binned pass
    v = materialize(
        f.select(
            "forecast",
            F.floor(F.col("forecast") * 10000 + F.lit(0.5)).cast("long").alias("fl"),
            F.floor(F.col("actual") * 10000 + F.lit(0.5)).cast("long").alias("al"),
        )
    )
    qs = [
        F.floor(F.percentile("forecast", F.lit(p)) * 10000 + F.lit(0.5))
        / 10000.0
        for p in [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    ]
    e = v.agg(*[q.alias(f"q{i + 1}") for i, q in enumerate(qs)])
    b = F.lit(1)
    for i in range(1, 10):
        b = b + (F.col("forecast") > F.col(f"q{i}")).cast("int")
    per_bin = (
        v.crossJoin(F.broadcast(e))
        .select("fl", "al", b.alias("b"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("fl").cast("long").alias("sf"),
            F.sum("al").cast("long").alias("sa"),
        )
    )
    d = F.abs(F.col("sf") - F.col("sa"))
    return per_bin.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        r4(F.sum(d) / (F.sum("n") * F.lit(10000.0))).alias("ece"),
        r4(F.max(d * F.lit(1.0) / F.col("n")) / F.lit(10000.0)).alias("mce"),
        r4(F.sum("sa") * F.lit(1.0) / F.sum("sf")).alias("overall_ratio"),
    )
