"""Per-series models as JVM higher-order folds over each store's daily series.

SURVEY §2.12: EWM with pandas ``adjust=True``, the recursive ±50% clamp,
lag-1 autocorrelation, Holt-Winters, Croston's SES and the AR(2)
Yule-Walker fit are not fixed-frame windows, but each is a SEQUENTIAL fold
of plain IEEE doubles over the date-sorted series.  So every one runs as a
higher-order ``aggregate`` over the array that ``daily_series`` builds, with
no Python worker.  Each DuckDB oracle replays the identical fold over the
identical list (``list_reduce``; sums through ``_duck_fsum``), so both
engines produce the same bits; tests/test_series_kernels.py pins every fold
against a plain-Python or pandas reference over every sf0.001 series.

Scale: key cardinality is millions of small series — one shuffle to the
series grain, and each series costs O(series length) (the clamp, which
emits an array, O(length²) in copies).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import r4
from hackatonbigdata_spark.registry import register


def _daily(t: Catalog) -> DataFrame:
    return t.lineitem.groupBy("l_suppkey", "l_shipdate").agg(
        r4(F.sum("l_quantity")).alias("qty")
    )


def daily_series(t: Catalog, *aggs: Column) -> DataFrame:
    """``(l_suppkey, qs, *aggs)``: each store's daily quantities as one
    date-sorted array, plus any further aggregates over the store's daily
    rows (``qty``, ``l_shipdate``) that a caller passes in."""
    seq = _daily(t).groupBy("l_suppkey").agg(
        F.array_sort(F.collect_list(F.struct("l_shipdate", "qty"))).alias("arr"), *aggs
    )
    return seq.select(
        "l_suppkey", F.col("arr").getField("qty").alias("qs"), *seq.columns[2:]
    )


_DUCK_DAILY = """daily AS (
  SELECT l_suppkey, l_shipdate, floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS qty
  FROM lineitem GROUP BY 1, 2
)"""

_DUCK_SEQ = f"""{_DUCK_DAILY}, seq AS (
  SELECT l_suppkey, list(qty ORDER BY l_shipdate) AS qs FROM daily GROUP BY l_suppkey
)"""

# sequential sum with an explicit 0.0 seed: bit-identical to Python's
# sum() ((0 + x0) + x1 ...) and to Spark's F.aggregate(init=0.0), and safe
# on empty lists (reduce of [0.0] alone is 0.0)
def _duck_fsum(lst: str) -> str:
    return f"list_reduce(list_prepend(0.0, {lst}), (a, x) -> a + x)"


def _fsum(xs: Column) -> Column:
    """Sequential left fold sum seeded at 0.0 — Spark twin of _duck_fsum."""
    return F.aggregate(xs, F.lit(0.0), lambda a, x: a + x)


def _tail(qs: Column, k: int) -> Column:
    """``qs`` without its first ``k`` elements (empty when shorter)."""
    return F.slice(qs, k + 1, F.greatest(F.size(qs) - k, F.lit(0)))


# pandas ewm(alpha=0.3, adjust=True).mean() as its own recurrence: w is the
# total weight behind the running mean, decayed by 1 - alpha per step, and
# the new value enters with weight 1.  pandas leaves the mean as it is when
# the value equals it (the update would round it), so both folds do too.
# The running sum s feeds ema_mean.  Two DuckDB 1.0 pitfalls: a bare decimal
# literal inside a struct is DECIMAL, so every accumulator field is cast to
# DOUBLE; and a struct-valued list_reduce step that repeats one expression
# over the accumulator in two fields returns wrong values, so the new mean
# is bound once through a one-element list_transform.
_EWM_SQL = f"""
WITH {_DUCK_SEQ}, fold AS (
  SELECT l_suppkey, len(qs) AS n, list_reduce(
    list_transform(qs, x -> {{'avg': x, 'w': 1.0::DOUBLE, 's': x}}),
    (a, e) -> list_transform(
      [CASE WHEN a.avg = e.avg THEN a.avg
            ELSE (a.w * 0.7::DOUBLE * a.avg + e.avg) / (a.w * 0.7::DOUBLE + 1.0::DOUBLE) END],
      v -> {{'avg': v, 'w': a.w * 0.7::DOUBLE + 1.0::DOUBLE, 's': a.s + v}})[1]) AS st
  FROM seq
)
SELECT l_suppkey, round(st.avg, 4) AS ema_last, round(st.s / n, 4) AS ema_mean,
       CAST(n AS BIGINT) AS n_days
FROM fold
"""


def _ewm_step(a: Column, x: Column) -> Column:
    w = a["w"] * F.lit(0.7)
    avg = F.when(a["avg"] == x, a["avg"]).otherwise((w * a["avg"] + x) / (w + F.lit(1.0)))
    return F.struct(avg.alias("avg"), (w + F.lit(1.0)).alias("w"), (a["s"] + avg).alias("s"))


@register("ewm_pandas_per_series", oracle=_EWM_SQL)
def ewm_pandas_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas-exact EWM (alpha=0.3, adjust=True) per store daily series
    (/root/reference/src/features/temporal_features_engine.py:227-259):
    the last smoothed value and the mean of the smoothed series.

    adjust=True divides by the decayed weight total, which is a recurrence
    once the fold carries that total (``_ewm_step``); it equals pandas'
    own loop bit for bit.  ``ewm_daily_store`` is the adjust=False fold."""
    t = Catalog(spark, sf_dir)
    qs = F.col("qs")
    x0 = F.element_at(qs, 1)
    st = F.aggregate(
        _tail(qs, 1),
        F.struct(x0.alias("avg"), F.lit(1.0).alias("w"), x0.alias("s")),
        _ewm_step,
    )
    return daily_series(t).select(
        "l_suppkey",
        r4(st["avg"]).alias("ema_last"),
        r4(st["s"] / F.size(qs)).alias("ema_mean"),
        F.size(qs).cast("long").alias("n_days"),
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
    each store's date-sorted daily array, seeded with the first size /
    interval, so the DuckDB oracle's no-init ``list_reduce`` replays the
    same doubles.  Both registered names are this one fold.

    Scale: one shuffle to the series grain, whole-stage-codegen'd folds,
    state bounded by series length."""
    t = Catalog(spark, sf_dir)
    ser = daily_series(t, F.percentile("qty", F.lit(0.5)).alias("thr"))
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
    # a series with no demand event has no sizes: the seed is null there
    # (the forecast is null below two events anyway)
    ses = lambda lst: F.aggregate(  # noqa: E731
        _tail(lst, 1),
        F.try_element_at(lst, F.lit(1)).cast("double"),
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


# The clamp folds into the array of clamped values; each step reads the
# previous clamped value (the array's last element) and rounds to 4dp.
_CLAMP_SQL = f"""
WITH {_DUCK_DAILY}, seq AS (
  SELECT l_suppkey, list(l_shipdate ORDER BY l_shipdate) AS ds,
         list(qty ORDER BY l_shipdate) AS qs
  FROM daily GROUP BY l_suppkey
), fold AS (
  SELECT l_suppkey, ds, qs, list_reduce(
    list_prepend([round(qs[1], 4)], list_transform(list_slice(qs, 2, len(qs)), x -> [x])),
    (acc, e) -> list_append(acc, round(
      CASE WHEN acc[-1] = 0 THEN e[1]
           ELSE least(greatest(e[1], acc[-1] * 0.5::DOUBLE), acc[-1] * 1.5::DOUBLE) END,
      4))) AS cs
  FROM seq
)
SELECT l_suppkey, unnest(ds) AS l_shipdate, unnest(qs) AS qty, unnest(cs) AS qty_clamped
FROM fold
"""


def _clamp_step(prev: Column, v: Column) -> Column:
    return r4(
        F.when(prev == 0, v).otherwise(
            F.least(F.greatest(v, prev * F.lit(0.5)), prev * F.lit(1.5))
        )
    )


@register("sequential_clamp_per_series", oracle=_CLAMP_SQL)
def sequential_clamp_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-dependent recursive change-rate limiter: each value may move at
    most ±50% from the PREVIOUS CLAMPED value
    (/root/reference/src/models/business_rules.py:231-293).  No fixed-frame
    window expresses it (SURVEY §7.4.1), but it is a fold whose accumulator
    is the clamped series so far; the clamped array explodes back to one
    row per store day.

    Every clamped value is rounded with ``r4`` (half away from zero) inside
    the recursion, so the next step clamps against the rounded value.
    Python's ties-to-even ``round(v, 4)`` gives other values on half-quantum
    ties (``prev * 0.5``), and those propagate down the series."""
    t = Catalog(spark, sf_dir)
    ser = daily_series(t, F.array_sort(F.collect_list("l_shipdate")).alias("ds"))
    qs = F.col("qs")
    clamped = F.aggregate(
        _tail(qs, 1),
        F.array(r4(F.element_at(qs, 1))),
        lambda acc, v: F.concat(acc, F.array(_clamp_step(F.element_at(acc, -1), v))),
    )
    return ser.select(
        "l_suppkey",
        F.inline(
            F.arrays_zip(
                F.col("ds").alias("l_shipdate"),
                qs.alias("qty"),
                clamped.alias("qty_clamped"),
            )
        ),
    )


# Lag-1 autocorrelation as np.corrcoef computes it over the pairs
# (x[1:], x[:-1]): each side's mean first, then the centered products,
# scaled by 1 / (pairs - 1).  Fewer than two pairs, or a side with zero
# variance, gives null (pandas' NaN).
_AC_SQL = f"""
WITH {_DUCK_SEQ}, p AS (
  SELECT l_suppkey, len(qs) AS n,
         list_slice(qs, 2, len(qs)) AS a, list_slice(qs, 1, len(qs) - 1) AS b
  FROM seq
), m AS (
  SELECT l_suppkey, n, a, b,
         CASE WHEN n >= 3 THEN {_duck_fsum('a')} / (n - 1) END AS ma,
         CASE WHEN n >= 3 THEN {_duck_fsum('b')} / (n - 1) END AS mb
  FROM p
), c AS (
  SELECT l_suppkey, n, 1.0::DOUBLE / (n - 2) AS f,
         {_duck_fsum('list_transform(range(1, n), i -> (a[i] - ma) * (b[i] - mb))')} AS sab,
         {_duck_fsum('list_transform(a, u -> (u - ma) * (u - ma))')} AS saa,
         {_duck_fsum('list_transform(b, v -> (v - mb) * (v - mb))')} AS sbb
  FROM m
)
SELECT l_suppkey,
       CASE WHEN n >= 3 AND saa > 0 AND sbb > 0
            THEN round(sab * f / sqrt(saa * f) / sqrt(sbb * f), 4) END AS autocorr1,
       CAST(n AS BIGINT) AS n_days
FROM c
"""


@register("rolling_autocorr_per_series", oracle=_AC_SQL)
def rolling_autocorr_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each store's daily series
    (/root/reference/src/features/temporal_features_engine.py:209-214):
    pandas' ``Series.autocorr(lag=1)``, a Pearson correlation of the
    series against itself shifted by one, as two passes of ``_fsum`` folds
    over the pairs.  pandas sums in numpy's pairwise / BLAS order, so it
    may differ from this fold in the last bits before rounding."""
    t = Catalog(spark, sf_dir)
    qs = F.col("qs")
    n = F.size(qs)
    ok = n >= 3
    a, b = _tail(qs, 1), F.slice(qs, 1, F.greatest(n - 1, F.lit(0)))
    m = daily_series(t).select(
        "l_suppkey",
        n.alias("n"),
        a.alias("a"),
        b.alias("b"),
        F.when(ok, _fsum(a) / (n - 1)).alias("ma"),
        F.when(ok, _fsum(b) / (n - 1)).alias("mb"),
    )
    ma, mb = F.col("ma"), F.col("mb")
    c = m.select(
        "l_suppkey",
        "n",
        _fsum(F.zip_with("a", "b", lambda u, v: (u - ma) * (v - mb))).alias("sab"),
        _fsum(F.transform("a", lambda u: (u - ma) * (u - ma))).alias("saa"),
        _fsum(F.transform("b", lambda v: (v - mb) * (v - mb))).alias("sbb"),
    )
    f = F.lit(1.0) / (F.col("n") - 2)
    return c.select(
        "l_suppkey",
        F.when(
            (F.col("n") >= 3) & (F.col("saa") > 0) & (F.col("sbb") > 0),
            r4(F.col("sab") * f / F.sqrt(F.col("saa") * f) / F.sqrt(F.col("sbb") * f)),
        ).alias("autocorr1"),
        F.col("n").cast("long").alias("n_days"),
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
    qs = F.col("qs")
    b = daily_series(t).select(
        "l_suppkey", "qs", F.size(qs).alias("n"), (_fsum(qs) / F.size(qs)).alias("mu")
    )
    n, mu = F.col("n"), F.col("mu")
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
    # a constant or one-day series has den = 0: its fit is null (ok is
    # false), and neither division nor the lag-2 read may abort the query
    solvable = den > 0
    p = d.select(
        "l_suppkey", "n", "mu", "r0", "r1", "r2", "den",
        F.when(solvable, r1 * (r0 - r2) / den).alias("phi1"),
        F.when(solvable, (r0 * r2 - r1 * r1) / den).alias("phi2"),
        F.element_at(qs, -1).alias("y1"),
        F.try_element_at(qs, F.lit(-2)).alias("y2"),
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


# Additive Holt-Winters (alpha=0.3, beta=0.1, gamma=0.2, m=7).  The seed is
# the first week's mean level, the mean week-over-week change / 7 for the
# trend and the de-meaned first week for the season, all through the
# 0-seeded sums.  The season is a 7-slot queue: step i (from day 8 on) reads
# its slot at the head and appends the updated slot at the tail, so the head
# is always slot i % 7 and the tail the slot the 7-day forecast reads.  The
# oracle binds the new level once (the _EWM_SQL pitfall).
_HW_SQL = f"""
WITH {_DUCK_SEQ}, s0 AS (
  SELECT l_suppkey, qs, len(qs) AS n, {_duck_fsum('qs[1:7]')} / 7 AS l0
  FROM seq
), fold AS (
  SELECT l_suppkey, n, list_reduce(
    list_prepend(
      {{'l': l0, 't': ({_duck_fsum('qs[8:14]')} / 7 - l0) / 7,
       's': list_transform(qs[1:7], v -> v - l0), 'x': 0.0::DOUBLE}},
      list_transform(list_slice(qs, 8, len(qs)), x ->
        {{'l': 0.0::DOUBLE, 't': 0.0::DOUBLE, 's': []::DOUBLE[], 'x': x}})),
    (a, e) -> list_transform(
      [0.3::DOUBLE * (e.x - a.s[1]) + 0.7::DOUBLE * (a.l + a.t)],
      lv -> {{'l': lv, 't': 0.1::DOUBLE * (lv - a.l) + 0.9::DOUBLE * a.t,
             's': list_append(a.s[2:7], 0.2::DOUBLE * (e.x - lv) + 0.8::DOUBLE * a.s[1]),
             'x': 0.0::DOUBLE}})[1]) AS st
  FROM s0
)
SELECT l_suppkey,
       CASE WHEN n >= 14 THEN round(st.l, 4) END AS level,
       CASE WHEN n >= 14 THEN round(st.t, 4) END AS trend,
       CASE WHEN n >= 14 THEN round(st.l + 7 * st.t + st.s[7], 4) END AS forecast_7d,
       CAST(n AS BIGINT) AS n_days
FROM fold
"""


def _hw_step(a: Column, x: Column) -> Column:
    s = F.element_at(a["s"], 1)
    level = F.lit(0.3) * (x - s) + F.lit(0.7) * (a["l"] + a["t"])
    trend = F.lit(0.1) * (level - a["l"]) + F.lit(0.9) * a["t"]
    season = F.concat(
        F.slice(a["s"], 2, 6), F.array(F.lit(0.2) * (x - level) + F.lit(0.8) * s)
    )
    return F.struct(level.alias("l"), trend.alias("t"), season.alias("s"))


@register("holt_winters_per_series", oracle=_HW_SQL)
def holt_winters_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + weekly seasonality) fit per
    store daily series — the closed-form per-series seasonal fit the
    reference runs through Prophet
    (/root/reference/src/models/prophet_seasonal.py:304-367: per-segment
    seasonal model fit + forecast).  Emits the final level and trend and a
    7-day-ahead forecast; series shorter than two weeks get nulls.

    The smoothing recursions depend on their own prior state, which makes
    them a fold (``_hw_step``) whose accumulator holds the level, the trend
    and the 7-slot season.

    Scale: one shuffle to the series grain; each series is O(length) with
    O(m) state, so millions of series run in parallel — the reference's
    per-segment loop without the driver-side iteration."""
    t = Catalog(spark, sf_dir)
    qs = F.col("qs")
    week1 = F.slice(qs, 1, 7)
    l0 = _fsum(week1) / 7
    seed = F.struct(
        l0.alias("l"),
        ((_fsum(F.slice(qs, 8, 7)) / 7 - l0) / 7).alias("t"),
        F.transform(week1, lambda v: v - l0).alias("s"),
    )
    st = daily_series(t).select(
        "l_suppkey",
        F.size(qs).alias("n"),
        F.aggregate(_tail(qs, 7), seed, _hw_step).alias("st"),
    )
    ok = F.col("n") >= 14
    level, trend = F.col("st.l"), F.col("st.t")
    return st.select(
        "l_suppkey",
        F.when(ok, r4(level)).alias("level"),
        F.when(ok, r4(trend)).alias("trend"),
        F.when(
            ok, r4(level + F.lit(7.0) * trend + F.element_at(F.col("st.s"), -1))
        ).alias("forecast_7d"),
        F.col("n").cast("long").alias("n_days"),
    )
