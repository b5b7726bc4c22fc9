"""Per-series models: pandas kernels on the Arrow/`applyInPandas` path, and
the per-series fits that run as JVM higher-order folds.

SURVEY §2.12: four reference operators are genuinely not expressible as
fixed-frame windows (EWM with pandas `adjust=True`, rolling autocorr,
recursive smoothing clamp, Holt-Winters state).  Those run as grouped-map
pandas kernels: each (store) / (store, product) series is one small group,
Arrow-batched to Python, processed vectorized, returned.

Croston's constant-α SES and the AR(2) Yule-Walker closed form are
SEQUENTIAL folds of plain IEEE doubles, so they run as higher-order
``aggregate`` folds over each series' date-sorted array, with no Python
worker.  Their DuckDB oracles replay the identical fold over the identical
list, so JVM and DuckDB produce the same bits; tests/test_series_kernels.py
pins both against a plain-Python reference fit.  Kernels that lean on
pandas-internal accumulation schemes (`ewm(adjust=True)`, `.autocorr`,
Holt-Winters seasonal state) stay rows-only by design with property tests.

Scale: key cardinality is millions of small series — one shuffle to the
series grain, and each series costs O(series length).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import r4
from hackatonbigdata_spark.registry import register


def _daily(t: Catalog) -> DataFrame:
    return t.lineitem.groupBy("l_suppkey", "l_shipdate").agg(
        r4(F.sum("l_quantity")).alias("qty")
    )


_DUCK_DAILY = """daily AS (
  SELECT l_suppkey, l_shipdate, floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS qty
  FROM lineitem GROUP BY 1, 2
)"""

# sequential sum with an explicit 0.0 seed: bit-identical to Python's
# sum() ((0 + x0) + x1 ...) and to Spark's F.aggregate(init=0.0), and safe
# on empty lists (reduce of [0.0] alone is 0.0)
def _duck_fsum(lst: str) -> str:
    return f"list_reduce(list_prepend(0.0, {lst}), (a, x) -> a + x)"


def _fsum(xs: Column) -> Column:
    """Sequential left fold sum seeded at 0.0 — Spark twin of _duck_fsum."""
    return F.aggregate(xs, F.lit(0.0), lambda a, x: a + x)


@register("ewm_pandas_per_series")
def ewm_pandas_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas-exact EWM (alpha=0.3, adjust=True) per store daily series
    (/root/reference/src/features/temporal_features_engine.py:227-259).

    adjust=True weights (1-a)^i / Σ(1-a)^j are not a simple recurrence, so
    this is the honest pandas kernel rather than the HOF fold used by
    `ewm_daily_store`."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("l_shipdate")
        ema = pdf["qty"].ewm(alpha=0.3, adjust=True).mean()
        return pd.DataFrame(
            {
                "l_suppkey": pdf["l_suppkey"].iloc[:1],
                "ema_last": [round(float(ema.iloc[-1]), 4)],
                "ema_mean": [round(float(ema.mean()), 4)],
                "n_days": [len(pdf)],
            }
        )

    t = Catalog(spark, sf_dir)
    return (
        _daily(t)
        .groupBy("l_suppkey")
        .applyInPandas(kernel, schema="l_suppkey long, ema_last double, ema_mean double, n_days long")
    )


# Croston closed form: the constant-α SES recurrences z_t = αs_t + (1-α)z_{t-1}
# and p_t = αi_t + (1-α)p_{t-1} are sequential folds over the event-size and
# event-interval subsequences of the date-sorted daily series.  DuckDB's
# no-init list_reduce seeds the accumulator with the first element — exactly
# the Spark fold's z = sizes[0] / p = intervals[0] seed — and folds the rest
# left-to-right, so both engines produce the same doubles.
_CROSTON_SQL = f"""
WITH {_DUCK_DAILY}, seq AS (
  SELECT l_suppkey, list(qty ORDER BY l_shipdate) AS qs,
         quantile_cont(qty, 0.5) AS thr
  FROM daily GROUP BY l_suppkey
), ev AS (
  SELECT l_suppkey, qs,
         list_filter(range(1, len(qs) + 1), i -> qs[i] > thr) AS idx
  FROM seq
), se AS (
  SELECT l_suppkey, len(idx) AS m,
         list_transform(idx, i -> qs[i]) AS sizes,
         list_transform(range(1, len(idx)), j -> CAST(idx[j + 1] - idx[j] AS DOUBLE)) AS ivs
  FROM ev
), fit AS (
  SELECT l_suppkey, m,
         list_reduce(CASE WHEN m >= 2 THEN sizes ELSE [1.0] END,
                     (a, x) -> 0.1 * x + 0.9 * a) AS z,
         list_reduce(CASE WHEN m >= 2 THEN ivs ELSE [1.0] END,
                     (a, x) -> 0.1 * x + 0.9 * a) AS p
  FROM se
)
SELECT l_suppkey,
       CASE WHEN m >= 2 THEN round(z / p, 4) END AS croston_forecast,
       CAST(m AS BIGINT) AS n_events
FROM fit
"""


@register("croston_per_series", oracle=_CROSTON_SQL)
@register("croston_ses_sql", oracle=_CROSTON_SQL)
def croston_ses_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (SES alpha=0.1 on event sizes and inter-arrival
    intervals) per store series
    (/root/reference/src/models/intermittent_demand.py:44-175).
    Demand event := day with qty above the series median (so intervals are
    non-trivial on this dense dataset).

    The SES recurrences run as JVM higher-order ``aggregate`` folds over
    each store's date-sorted daily array (the ``ewm_daily_store``
    pattern), seeded with the first size / interval, so the DuckDB oracle's
    no-init ``list_reduce`` replays the same doubles.  Both registered
    names are this one fold.

    Scale: one shuffle to the series grain, whole-stage-codegen'd folds,
    state bounded by series length."""
    t = Catalog(spark, sf_dir)
    seq = _daily(t).groupBy("l_suppkey").agg(
        F.array_sort(F.collect_list(F.struct("l_shipdate", "qty"))).alias("arr"),
        F.percentile("qty", F.lit(0.5)).alias("thr"),
    )
    # project the qty array once: a getField inside the per-element filter
    # lambda below would re-extract the whole array for every element
    ser = seq.select("l_suppkey", F.col("arr").getField("qty").alias("qs"), "thr")
    qs = F.col("qs")
    # 1-based positions of demand events (days above the series median):
    # the threshold can only ever EQUAL a data point when it IS that sorted
    # element in every engine, so `>` membership is ulp-stable cross-engine.
    stepped = ser.select(
        "l_suppkey",
        F.filter(
            F.sequence(F.lit(1), F.size(qs)),
            lambda i: F.element_at(qs, i) > F.col("thr"),
        ).alias("idx"),
        "qs",
    )
    m = F.size("idx")
    sizes = F.transform(F.col("idx"), lambda i: F.element_at(qs, i))
    n1 = F.greatest(m - 1, F.lit(0))
    ivs = F.zip_with(
        F.slice(F.col("idx"), 2, n1),
        F.slice(F.col("idx"), 1, n1),
        lambda a, b: (a - b).cast("double"),
    )
    se = stepped.select(
        "l_suppkey", m.alias("m"), sizes.alias("sizes"), ivs.alias("ivs")
    )
    ses = lambda lst: F.aggregate(  # noqa: E731
        F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0))),
        F.element_at(lst, 1).cast("double"),
        lambda a, x: F.lit(0.1) * x + F.lit(0.9) * a,
    )
    fit = se.select(
        "l_suppkey",
        "m",
        ses(F.col("sizes")).alias("z"),
        ses(F.col("ivs")).alias("p"),
    )
    return fit.select(
        "l_suppkey",
        F.when(F.col("m") >= 2, r4(F.col("z") / F.col("p"))).alias("croston_forecast"),
        F.col("m").cast("long").alias("n_events"),
    )


@register("sequential_clamp_per_series")
def sequential_clamp_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-dependent recursive change-rate limiter: each value may move at
    most ±50% from the PREVIOUS CLAMPED value
    (/root/reference/src/models/business_rules.py:231-293).  Depends on its
    own prior output, so no fixed-frame window can express it (SURVEY
    §7.4.1) — per-key pandas kernel with guaranteed intra-key ordering."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("l_shipdate").reset_index(drop=True)
        vals = pdf["qty"].tolist()
        out = []
        prev = None
        for v in vals:
            if prev is None or prev == 0:
                c = round(v, 4)
            else:
                c = round(min(max(v, prev * 0.5), prev * 1.5), 4)
            out.append(c)
            prev = c
        pdf["qty_clamped"] = out
        return pdf[["l_suppkey", "l_shipdate", "qty", "qty_clamped"]]

    t = Catalog(spark, sf_dir)
    return (
        _daily(t)
        .groupBy("l_suppkey")
        .applyInPandas(
            kernel,
            schema="l_suppkey long, l_shipdate timestamp_ntz, qty double, qty_clamped double",
        )
    )


@register("rolling_autocorr_per_series")
def rolling_autocorr_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each store's daily series
    (/root/reference/src/features/temporal_features_engine.py:209-214) —
    pandas kernel (no native Spark autocorr)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("l_shipdate")
        ac = pdf["qty"].autocorr(lag=1)
        return pd.DataFrame(
            {
                "l_suppkey": pdf["l_suppkey"].iloc[:1],
                "autocorr1": [None if pd.isna(ac) else round(float(ac), 4)],
                "n_days": [len(pdf)],
            }
        )

    t = Catalog(spark, sf_dir)
    return (
        _daily(t)
        .groupBy("l_suppkey")
        .applyInPandas(kernel, schema="l_suppkey long, autocorr1 double, n_days long")
    )


# AR(2) Yule-Walker closed form as SQL: μ and the autocovariances r0/r1/r2
# are sequential 0-seeded sums over the date-sorted list (bit-identical to
# the Spark query's ``_fsum``), and the φ/σ²/forecast arithmetic is the same
# double expression tree in both engines.
_AR2_SQL = f"""
WITH {_DUCK_DAILY}, seq AS (
  SELECT l_suppkey, list(qty ORDER BY l_shipdate) AS qs FROM daily GROUP BY l_suppkey
), b AS (
  SELECT l_suppkey, qs, len(qs) AS n,
         {_duck_fsum('qs')} / len(qs) AS mu
  FROM seq
), r AS (
  SELECT l_suppkey, qs, n, mu,
         {_duck_fsum('list_transform(qs, x -> (x - mu) * (x - mu))')} / n AS r0,
         {_duck_fsum('list_transform(range(1, n), i -> (qs[i] - mu) * (qs[i + 1] - mu))')} / n AS r1,
         {_duck_fsum('list_transform(range(1, n - 1), i -> (qs[i] - mu) * (qs[i + 2] - mu))')} / n AS r2
  FROM b
), d AS (
  SELECT l_suppkey, qs, n, mu, r0, r1, r2, r0 * r0 - r1 * r1 AS den
  FROM r
), p AS (
  SELECT l_suppkey, n, mu, r0, r1, r2, den,
         r1 * (r0 - r2) / den AS phi1,
         (r0 * r2 - r1 * r1) / den AS phi2,
         qs[n] AS y1, qs[n - 1] AS y2,
         n >= 5 AND r0 > 0 AND den > 0 AS ok
  FROM d
)
SELECT l_suppkey,
       CASE WHEN ok THEN round(phi1, 4) END AS phi1,
       CASE WHEN ok THEN round(phi2, 4) END AS phi2,
       CASE WHEN ok THEN round(r0 - phi1 * r1 - phi2 * r2, 4) END AS sigma2,
       CASE WHEN ok THEN round(mu + phi1 * (y1 - mu) + phi2 * (y2 - mu), 4) END AS forecast_1d,
       CAST(n AS BIGINT) AS n_days
FROM p
"""


@register("ar2_yule_walker_per_series", oracle=_AR2_SQL)
@register("ar2_yule_walker_sql", oracle=_AR2_SQL)
def ar2_yule_walker_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) per-series fit by the closed-form Yule-Walker equations — the
    autoregressive member of the reference's per-series family
    (/root/reference/src/models/arima_temporal.py: per-series ARIMA fits;
    statsmodels is absent in this container, so the AR(p) core is solved in
    closed form instead of via MLE).  Emits φ1, φ2, the innovation variance
    and a 1-step-ahead forecast per store daily series.

    Biased autocovariances r_k = (1/n) Σ (y_t - μ)(y_{t+k} - μ); solving
    | r0 r1 | |φ1|   |r1|
    | r1 r0 | |φ2| = |r2|   →  φ1 = r1(r0 - r2)/(r0² - r1²),
                               φ2 = (r0·r2 - r1²)/(r0² - r1²);
    innovation variance σ² = r0 - φ1·r1 - φ2·r2, one-step forecast
    ŷ_{n+1} = μ + φ1(y_n - μ) + φ2(y_{n-1} - μ).  Biased (1/n) covariances
    keep the autocovariance matrix positive-definite, so the solution exists
    whenever the series is non-constant; series shorter than 5 days or with
    zero variance get null fits.

    Every sum is a sequential 0-seeded IEEE fold (``_fsum``) over the
    date-sorted series, replayed exactly by the DuckDB oracle.  Both
    registered names are this one fold.

    Scale: one shuffle to the series grain, codegen'd folds, no Python."""
    t = Catalog(spark, sf_dir)
    seq = _daily(t).groupBy("l_suppkey").agg(
        F.array_sort(F.collect_list(F.struct("l_shipdate", "qty"))).alias("arr")
    )
    qs0 = F.col("arr").getField("qty")
    b = seq.select(
        "l_suppkey",
        qs0.alias("qs"),
        F.size(qs0).alias("n"),
        (_fsum(qs0) / F.size(qs0)).alias("mu"),
    )
    qs, n, mu = F.col("qs"), F.col("n"), F.col("mu")
    lagprod = lambda k: F.zip_with(  # noqa: E731
        F.slice(qs, 1, F.greatest(n - k, F.lit(0))),
        F.slice(qs, 1 + k, F.greatest(n - k, F.lit(0))),
        lambda a, c: (a - mu) * (c - mu),
    )
    r = b.select(
        "l_suppkey",
        "qs",
        "n",
        "mu",
        (_fsum(F.transform(qs, lambda x: (x - mu) * (x - mu))) / n).alias("r0"),
        (_fsum(lagprod(1)) / n).alias("r1"),
        (_fsum(lagprod(2)) / n).alias("r2"),
    )
    r0, r1, r2 = F.col("r0"), F.col("r1"), F.col("r2")
    d = r.select(
        "l_suppkey", "qs", "n", "mu", "r0", "r1", "r2",
        (r0 * r0 - r1 * r1).alias("den"),
    )
    den = F.col("den")
    p = d.select(
        "l_suppkey", "n", "mu", "r0", "r1", "r2", "den",
        (r1 * (r0 - r2) / den).alias("phi1"),
        ((r0 * r2 - r1 * r1) / den).alias("phi2"),
        F.element_at(qs, -1).alias("y1"),
        F.element_at(qs, -2).alias("y2"),
        ((n >= 5) & (r0 > 0) & (den > 0)).alias("ok"),
    )
    phi1, phi2 = F.col("phi1"), F.col("phi2")
    ok = F.col("ok")
    return p.select(
        "l_suppkey",
        F.when(ok, r4(phi1)).alias("phi1"),
        F.when(ok, r4(phi2)).alias("phi2"),
        F.when(ok, r4(r0 - phi1 * r1 - phi2 * r2)).alias("sigma2"),
        F.when(
            ok, r4(mu + phi1 * (F.col("y1") - mu) + phi2 * (F.col("y2") - mu))
        ).alias("forecast_1d"),
        F.col("n").cast("long").alias("n_days"),
    )


def holt_winters_fit(
    y: list[float],
    m: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    horizon: int = 7,
) -> tuple[float, float, float] | None:
    """Additive Holt-Winters recursion over one series: returns (level,
    trend, h-step forecast), or None when the series is shorter than two
    seasons.  Standard initialization: first-season mean level, mean
    season-over-season difference for trend, de-meaned first season for the
    seasonal state."""
    if len(y) < 2 * m:
        return None
    level = float(sum(y[:m]) / m)
    trend = float((sum(y[m : 2 * m]) / m - sum(y[:m]) / m) / m)
    season = [float(v - level) for v in y[:m]]
    for i in range(m, len(y)):
        s = season[i % m]
        prev_level = level
        level = alpha * (y[i] - s) + (1 - alpha) * (level + trend)
        trend = beta * (level - prev_level) + (1 - beta) * trend
        season[i % m] = gamma * (y[i] - level) + (1 - gamma) * s
    fc = level + horizon * trend + season[(len(y) + horizon - 1) % m]
    return level, trend, fc


@register("holt_winters_per_series")
def holt_winters_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + weekly seasonality) fit per
    store daily series — the closed-form per-series seasonal fit the
    reference runs through Prophet
    (/root/reference/src/models/prophet_seasonal.py:304-367: per-segment
    seasonal model fit + forecast).  Smoothing recursions (alpha=0.3,
    beta=0.1, gamma=0.2, m=7) depend on their own prior state, so this is a
    pandas kernel, not a window rewrite; emits the final state and a 7-day-
    ahead forecast per series.

    Scale: one grouped-map shuffle keyed by series; each kernel call is
    O(series length) with O(m) state.  Millions of series parallelize
    embarrassingly — the same shape as the reference's per-segment loop,
    minus the driver-side iteration."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("l_shipdate").reset_index(drop=True)
        key = int(pdf["l_suppkey"].iloc[0])
        fit = holt_winters_fit([float(v) for v in pdf["qty"]])
        if fit is None:
            return pd.DataFrame(
                {
                    "l_suppkey": [key],
                    "level": [None],
                    "trend": [None],
                    "forecast_7d": [None],
                    "n_days": [len(pdf)],
                }
            )
        level, trend, fc = fit
        return pd.DataFrame(
            {
                "l_suppkey": [key],
                "level": [round(level, 4)],
                "trend": [round(trend, 4)],
                "forecast_7d": [round(fc, 4)],
                "n_days": [len(pdf)],
            }
        )

    t = Catalog(spark, sf_dir)
    return (
        _daily(t)
        .groupBy("l_suppkey")
        .applyInPandas(
            kernel,
            schema=(
                "l_suppkey long, level double, trend double,"
                " forecast_7d double, n_days long"
            ),
        )
    )
