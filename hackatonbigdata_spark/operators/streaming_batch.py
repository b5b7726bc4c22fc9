"""Event-stream semantics, batch-checkable form (SURVEY.md §2.11).

The reference has no streaming; its closest analogs are threshold-based
alerting off an event bus (/root/reference/src/monitoring/alerts.py:632-662)
and a 5-minute alert rate-limit window
(/root/reference/src/monitoring/alerts.py:472-505).  This module defines
the engine's event-time semantics on the ``events`` table as DataFrame
queries whose results are identical whether executed in batch or incremental
mode — tumbling/sliding/session windows, within-watermark dedup, late-data
policy, and threshold alerts.  Every query here has a DuckDB oracle; the
live Structured Streaming twins (same logic through ``readStream``) live in
``hackatonbigdata_spark/streaming/jobs.py`` and are pinned batch-vs-stream
by tests/test_streaming.py.

Scale: every query keys its shuffle by (window bucket, low-cardinality
dimension) — state per key is a handful of doubles, so a 1000-executor
streaming job partitions cleanly by bucket hash with no skew.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import h32, r4
from hackatonbigdata_spark.functions.fixpoint import iterate
from hackatonbigdata_spark.functions.materialize import materialize
from hackatonbigdata_spark.registry import register
from hackatonbigdata_spark.sketch_params import (
    BLOOM_K,
    BLOOM_M,
    CMS_D,
    CMS_MONITORED,
    CMS_W,
    HLL_ALPHA64,
    HLL_M,
    HLL_W,
    KLL_K,
    KLL_LEVELS,
    KMV_K,
    QUANT_PCTS,
    SAMPLE_K,
    bloom_pos_sql,
)


@register(
    "stream_tumbling_hourly",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 4) AS sum_value,
       round(round(sum(value), 4) / count(*), 4) AS avg_value
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type — the batch form of
    ``groupBy(window("ts", "1 hour"), "event_type")``.  Windowed-rate
    semantics from /root/reference/src/monitoring/alerts.py:472-505 (_is_rate_limited)."""
    t = Catalog(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            r4(F.sum("value")).alias("sum_value"),
            # avg derived from the quantized sum: engine-order ulp drift in
            # SUM(float) can straddle a 4dp half boundary (e.g. 290.93/8 =
            # 36.36625); dividing identical rounded doubles is deterministic
            r4(r4(F.sum("value")) / F.count(F.lit(1))).alias("avg_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events",
                "n_users", "sum_value", "avg_value")
    )


@register(
    "stream_sliding_1h_30m",
    oracle="""
WITH expanded AS (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTES, ts),
                 time_bucket(INTERVAL 30 MINUTES, ts) - INTERVAL 30 MINUTES])
           AS window_start,
         event_type, value
  FROM events
)
SELECT window_start, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM expanded
GROUP BY 1, 2
""",
)
def stream_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour length, 30-minute slide — each event lands in
    two overlapping windows.  Spark: ``F.window(ts, '1 hour', '30 minutes')``;
    the oracle expands each row into its two member windows explicitly."""
    t = Catalog(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), r4(F.sum("value")).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )


@register(
    "stream_session_windows",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTES
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM seq
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTES AS session_end,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM islands
GROUP BY user_id, session_id
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap per user —
    ``F.session_window`` (which also works in batch).  Session end is
    last-event + gap, matching Spark's semantics; the oracle derives the
    same sessions with gaps-and-islands SQL."""
    t = Catalog(spark, sf_dir)
    return (
        t.events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), r4(F.sum("value")).alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "session_gaps_custom_close",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR date_diff('microsecond',
                           lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id),
                           ts) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM seq
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_v4
FROM islands
GROUP BY user_id, session_id
""",
)
def session_gaps_custom_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the CUSTOM-CLOSE sessionizer kernel
    (``streaming/jobs.py`` ``session_gap_kernel_stream``): gaps-and-islands
    sessions per user with the kernel's exact close rule — a session ends
    when the next event arrives >= 30 minutes after the last (end-EXCLUSIVE,
    i.e. a gap of exactly 30:00.000000 closes), ``session_end`` is the LAST
    EVENT's timestamp (not last + gap), and the session value is the
    kernel's 1e-4-quantized integer sum.  Registering the batch semantics
    separately gives the kernel's close rule its own oracle evidence; the
    built-in ``session_window`` twin (``stream_session_windows``) covers
    only the gap-> semantics with end = last + gap.

    Exactness: the gap test runs on ``timestampdiff(MICROSECOND, ...)``
    over the ntz columns — session-timezone-independent, microsecond-exact
    — and the value sum is quantize-then-sum BIGINT, order-free.

    Scale: one window + one aggregate, both partitioned by ``user_id`` —
    the standard sessionization shuffle; no unpartitioned window."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND,"
        " lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    seq = t.events.select(
        "user_id",
        "ts",
        "value",
        F.when(gap_us.isNull() | (gap_us >= 1800000000), 1)
        .otherwise(0)
        .alias("new_session"),
        "event_id",
    )
    islands = seq.select(
        "user_id",
        "ts",
        "value",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("session_id"),
    )
    return islands.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sum_v4"),
    ).drop("session_id")


@register(
    "stream_threshold_alerts",
    oracle="""
WITH rates AS (
  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS window_start,
         count(*) AS n_total,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors
  FROM events
  GROUP BY 1
)
SELECT window_start, n_total, n_errors,
       round(n_errors * 1.0 / n_total, 4) AS error_rate,
       CASE WHEN n_errors * 1.0 / n_total > 0.25 AND n_total >= 5
            THEN 'critical'
            WHEN n_errors * 1.0 / n_total > 0.15 AND n_total >= 5
            THEN 'warning'
            ELSE 'ok' END AS alert_level
FROM rates
""",
)
def stream_threshold_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold alerting over 5-minute windows: error-rate banded at
    warn 0.15 / critical 0.25 with a minimum sample size — the reference's
    WMAPE threshold alert semantics
    (/root/reference/src/monitoring/alerts.py:632-662) applied to an event
    stream."""
    t = Catalog(spark, sf_dir)
    rates = t.events.groupBy(F.window("ts", "5 minutes")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )
    rate = F.col("n_errors") * F.lit(1.0) / F.col("n_total")
    return rates.select(
        F.col("window.start").alias("window_start"),
        "n_total",
        "n_errors",
        r4(rate).alias("error_rate"),
        F.when((rate > 0.25) & (F.col("n_total") >= 5), "critical")
        .when((rate > 0.15) & (F.col("n_total") >= 5), "warning")
        .otherwise("ok")
        .alias("alert_level"),
    )


@register(
    "stream_alert_rate_limit",
    oracle="""
WITH ranked AS (
  SELECT event_id, user_id, ts,
         row_number() OVER (
           PARTITION BY user_id, time_bucket(INTERVAL 5 MINUTES, ts)
           ORDER BY ts, event_id) AS rn
  FROM events
  WHERE event_type = 'error'
)
SELECT event_id, user_id, ts
FROM ranked WHERE rn = 1
""",
)
def stream_alert_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert rate-limiting: at most one error alert per user per 5-minute
    window, keeping the earliest
    (/root/reference/src/monitoring/alerts.py:472-505)."""
    t = Catalog(spark, sf_dir)
    errors = t.events.filter(F.col("event_type") == "error")
    w = W.partitionBy("user_id", F.window("ts", "5 minutes")).orderBy("ts", "event_id")
    return (
        errors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts")
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
WITH ranked AS (
  SELECT event_id, user_id, event_type, ts, value,
         row_number() OVER (
           PARTITION BY user_id, event_type, time_bucket(INTERVAL 10 MINUTES, ts)
           ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_id, user_id, event_type, ts, value
FROM ranked WHERE rn = 1
""",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-watermark dedup: first (user, event_type) occurrence per
    10-minute bucket survives — the batch form of
    ``withWatermark("ts", "10 minutes").dropDuplicates([...])`` with a
    deterministic keep-first tie-break (SURVEY §7.4.2)."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("user_id", "event_type", F.window("ts", "10 minutes")).orderBy(
        "ts", "event_id"
    )
    return (
        t.events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts", "value")
    )


@register(
    "stream_late_data_policy",
    oracle="""
WITH marked AS (
  SELECT event_type, ts,
         max(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS high_watermark_ts
  FROM events
)
SELECT event_type,
       CAST(sum(CASE WHEN ts < high_watermark_ts - INTERVAL 10 MINUTES
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late_dropped,
       CAST(sum(CASE WHEN high_watermark_ts IS NULL
                     OR ts >= high_watermark_ts - INTERVAL 10 MINUTES
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
       count(*) AS n_total
FROM marked
GROUP BY event_type
""",
)
def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting under a 10-minute watermark: arrival order is
    ``event_id``; an event is dropped-late if its event time is more than
    10 minutes behind the max event time already seen (SURVEY §7.4.7 —
    documented default: 10-min watermark, drop beyond it).

    Scale: the running max over global arrival order is a BUCKETED prefix
    max, not a global ordered window (WindowExec with no partition key moves
    every row to one task).  Events are binned by balanced approx-quantile
    edges of ``event_id``; the ≤ O(bins) per-bin maxima collect to the
    driver, their prefix maxima come back as bin offsets, and the within-bin
    running max stays partition-parallel — the same pattern as
    ``metric_abc_tiers``.  Timestamps cross the driver as integer
    epoch-micros so no tz/precision drift is possible.  The live path gets
    the watermark from the streaming engine per micro-batch, no sort at all."""
    t = Catalog(spark, sf_dir)
    ev = t.events.select("event_id", "event_type", "ts")
    qs = [i / 32.0 for i in range(1, 32)]
    edges = sorted(
        set(ev.agg(F.percentile_approx("event_id", qs).alias("e")).first()["e"] or [])
    )
    bin_col = F.lit(0)
    for e in edges:
        bin_col = bin_col + F.when(F.col("event_id") > F.lit(int(e)), 1).otherwise(0)
    binned = ev.withColumn("bin", bin_col)
    # per-bin max event time -> driver (≤ len(edges)+1 rows); the offset of
    # each bin is the max over all strictly-earlier bins (None for bin 0)
    # ts is TIMESTAMP_NTZ here; session tz is UTC so the NTZ->LTZ cast for
    # unix_micros (and the reverse below) is a lossless identity
    bin_max = {
        r["bin"]: r["m"]
        for r in binned.groupBy("bin")
        .agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("m"))
        .collect()
    }
    run, offs = None, {}
    for b in sorted(bin_max):
        offs[b] = run
        run = bin_max[b] if run is None else max(run, bin_max[b])
    off_col = F.lit(None).cast("long")
    for b, o in offs.items():
        if o is not None:
            off_col = F.when(F.col("bin") == b, F.lit(int(o))).otherwise(off_col)
    in_bin = W.partitionBy("bin").orderBy("event_id").rowsBetween(W.unboundedPreceding, -1)
    marked = binned.select(
        "event_type",
        "ts",
        F.greatest(
            F.timestamp_micros(off_col).cast("timestamp_ntz"),
            F.max("ts").over(in_bin),
        ).alias("high_watermark_ts"),
    )
    late = F.col("ts") < F.col("high_watermark_ts") - F.expr("INTERVAL 10 MINUTES")
    return marked.groupBy("event_type").agg(
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late_dropped"),
        F.sum(F.when(F.col("high_watermark_ts").isNull() | ~late, 1).otherwise(0))
        .cast("long")
        .alias("n_accepted"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register(
    "stream_json_props_extract",
    oracle="""
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k,
       count(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def stream_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the ``events.props`` payload column —
    ``get_json_object`` stays JVM-side (SURVEY §2.8 notes the reference only
    touches JSON driver-side; the column form is the engine extension)."""
    t = Catalog(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return t.events.groupBy("event_type").agg(
        r4(F.avg(k)).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "event_cohort_retention",
    oracle="""
WITH firstday AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM events e JOIN firstday f ON e.user_id = f.user_id
), cohort_size AS (
  SELECT cohort_day, count(*) AS n_cohort FROM firstday GROUP BY cohort_day
)
SELECT CAST(a.cohort_day AS TIMESTAMP) AS cohort_day,
       CAST(a.day_offset AS BIGINT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(s.n_cohort AS BIGINT) AS n_cohort,
       round(count(*) * 1.0 / s.n_cohort, 4) AS retention
FROM activity a JOIN cohort_size s ON a.cohort_day = s.cohort_day
GROUP BY a.cohort_day, a.day_offset, s.n_cohort
""",
)
def event_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, the
    fraction active again N days later — the engine extension of the
    reference's behavioral recency/frequency profiling
    (/root/reference/src/features/behavioral_features_engine.py:135-230)
    to event streams.

    Scale: two user-keyed aggregates + one distinct at (user, offset) grain
    + a cohort-keyed join of a tiny per-day table; every output value is an
    exact integer count or a single division of two of them."""
    t = Catalog(spark, sf_dir)
    ev = t.events.select("user_id", F.col("ts").cast("date").alias("d"))
    firstday = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = (
        ev.join(firstday, "user_id")
        .select(
            "user_id", "cohort_day", F.datediff("d", "cohort_day").alias("day_offset")
        )
        .distinct()
    )
    cohort_size = firstday.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_cohort"))
    return (
        activity.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(cohort_size), "cohort_day")
        .select(
            # DATE out of one engine canonicalizes as midnight TIMESTAMP out
            # of the other; emit TIMESTAMP explicitly on both sides
            F.col("cohort_day").cast("timestamp_ntz").alias("cohort_day"),
            F.col("day_offset").cast("long").alias("day_offset"),
            "n_active",
            "n_cohort",
            r4(F.col("n_active") * F.lit(1.0) / F.col("n_cohort")).alias("retention"),
        )
    )


@register(
    "event_funnel_conversion",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'click' AND e.ts >= s2.t2 GROUP BY e.user_id
), s4 AS (
  SELECT e.user_id, min(e.ts) AS t4 FROM events e JOIN s3 ON e.user_id = s3.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s3.t3 GROUP BY e.user_id
), counts AS (
  SELECT 1 AS stage_no, 'signup' AS stage, (SELECT count(*) FROM s1) AS n_users
  UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
  UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
  UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)
)
SELECT CAST(stage_no AS BIGINT) AS stage_no, stage,
       CAST(n_users AS BIGINT) AS n_users,
       round(n_users * 1.0 / nullif(lag(n_users) OVER (ORDER BY stage_no), 0), 4)
         AS conv_from_prev,
       round(n_users * 1.0 / nullif(first_value(n_users) OVER (ORDER BY stage_no), 0), 4)
         AS conv_from_start
FROM counts
""",
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup -> view -> click -> purchase: a user advances a
    stage only with an event at-or-after their previous stage's first time;
    per-stage user counts and step/overall conversion rates (event-stream
    engine extension of the reference's behavioral profiling; alert
    semantics from /root/reference/src/monitoring/alerts.py thresholds).

    Scale: four user-keyed min-aggregates chained by keyed joins (each
    stage's frame shrinks), then a 4-row driver-sized summary — the final
    ordered window runs over exactly 4 rows.  All counts exact."""
    t = Catalog(spark, sf_dir)
    ev = t.events.select("user_id", "event_type", "ts")

    def first_after(etype: str, prev: DataFrame, tprev: str, tcol: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") >= F.col(tprev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    s1 = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = first_after("view", s1, "t1", "t2")
    s3 = first_after("click", s2, "t2", "t3")
    s4 = first_after("purchase", s3, "t3", "t4")
    rows = None
    for no, (stage, df) in enumerate(
        [("signup", s1), ("view", s2), ("click", s3), ("purchase", s4)], start=1
    ):
        c = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(no).cast("long").alias("stage_no"),
            F.lit(stage).alias("stage"),
            F.col("n_users"),
        )
        rows = c if rows is None else rows.unionAll(c)
    w = W.orderBy("stage_no")
    raw = rows.select(
        "stage_no",
        "stage",
        "n_users",
        F.lag("n_users").over(w).alias("_prev"),
        F.first("n_users").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("_start"),
    )
    return raw.select(
        "stage_no",
        "stage",
        "n_users",
        r4(F.col("n_users") * F.lit(1.0) / F.nullif(F.col("_prev"), F.lit(0))).alias(
            "conv_from_prev"
        ),
        r4(F.col("n_users") * F.lit(1.0) / F.nullif(F.col("_start"), F.lit(0))).alias(
            "conv_from_start"
        ),
    )


@register(
    "join_asof_view_attribution",
    oracle="""
WITH v AS (
  SELECT user_id, ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
), p AS (
  SELECT event_id AS purchase_event_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_event_id, p.user_id, p.ts AS purchase_ts,
       round(p.value, 4) AS purchase_value,
       v.view_event_id AS attributed_view_id,
       v.ts AS view_ts,
       CAST(CASE WHEN v.ts IS NULL THEN NULL
                 ELSE date_diff('second', v.ts, p.ts) END AS BIGINT)
         AS seconds_since_view
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
""",
)
def join_asof_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each purchase attributed to the user's most recent view
    at-or-before it (last-touch attribution) — the time-series join class
    Spark lacks natively.

    Spark-first implementation is the union-sort trick, NOT a range join:
    tag views and purchases, union, and take ``last(view_id, ignorenulls)``
    over (user, ts, tag) — views sort before purchases at equal ts so the
    match is inclusive.  ONE shuffle on user_id, no non-equi join, no pair
    explosion; this is the scalable pattern for as-of at any size.  Views
    are pre-deduped to one per (user, ts) (keep max event_id) so the
    attribution is deterministic under timestamp ties; the oracle uses
    DuckDB's native ASOF LEFT JOIN over the same deduped view table."""
    t = Catalog(spark, sf_dir)
    ev = t.events
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts", "value"
    )
    tagged = v.select(
        "user_id",
        "ts",
        F.lit(0).alias("is_p"),
        "view_event_id",
        F.lit(None).cast("long").alias("purchase_event_id"),
        F.lit(None).cast("double").alias("value"),
    ).unionAll(
        p.select(
            "user_id",
            "ts",
            F.lit(1).alias("is_p"),
            F.lit(None).cast("long").alias("view_event_id"),
            "purchase_event_id",
            "value",
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_p")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    raw = tagged.select(
        "user_id",
        "ts",
        "is_p",
        "purchase_event_id",
        "value",
        F.last(F.when(F.col("is_p") == 0, F.col("view_event_id")), ignorenulls=True)
        .over(w)
        .alias("attributed_view_id"),
        F.last(F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("view_ts"),
    )
    return raw.filter(F.col("is_p") == 1).select(
        "purchase_event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        r4("value").alias("purchase_value"),
        "attributed_view_id",
        "view_ts",
        F.when(
            F.col("view_ts").isNotNull(),
            # truncate-then-diff on the ntz columns: same boundary-crossing
            # semantics as DuckDB's date_diff('second', ...) and, unlike
            # unix_timestamp, independent of the session timezone
            F.expr(
                "timestampdiff(SECOND, date_trunc('SECOND', view_ts),"
                " date_trunc('SECOND', ts))"
            ),
        )
        .cast("long")
        .alias("seconds_since_view"),
    )


@register(
    "stream_interval_join_views",
    oracle="""
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       v.user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts,
       CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_seconds,
       round(p.value, 4) AS purchase_value
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTE
""",
)
def stream_interval_join_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time INTERVAL JOIN: every (view, purchase) pair for the same
    user where the purchase lands within 30 minutes after the view — the
    multi-touch attribution join (the as-of query keeps only the last
    touch; this one scores every touch in the window).

    This is the batch-checkable form of Spark's stream-stream join: the
    live twin (``streaming/jobs.py:interval_join_stream``) runs the same
    condition over two watermarked streams, where the time bounds are what
    let the state store evict rows — a stream-stream join WITHOUT an
    interval condition would buffer both sides forever.

    Scale: one shuffle keyed on user_id for both sides; within a user the
    pair work is bounded by events-per-user × window width.  The join
    condition's time bounds prune before any pair materializes."""
    t = Catalog(spark, sf_dir)
    ev = t.events
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("interval 30 minutes")
        ),
    )
    return joined.select(
        "view_id",
        "purchase_id",
        "user_id",
        "view_ts",
        "purchase_ts",
        # truncate-then-diff: DuckDB date_diff semantics, session-tz-free
        F.expr(
            "timestampdiff(SECOND, date_trunc('SECOND', view_ts),"
            " date_trunc('SECOND', purchase_ts))"
        ).cast("long").alias("lag_seconds"),
        r4("value").alias("purchase_value"),
    )


@register(
    "stream_interval_join_outer",
    oracle="""
SELECT v.event_id AS view_id,
       v.user_id,
       v.ts AS view_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_seconds,
       round(p.value, 4) AS purchase_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'view') v
LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTE
""",
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time LEFT OUTER interval join: every view paired with each
    same-user purchase inside its 30-minute window, AND every view with
    no such purchase emitted once with null purchase columns — the
    attribution join that also surfaces the non-converting touches (the
    numerator AND denominator of a conversion rate in one pass).

    This is the batch-checkable form of Structured Streaming's
    stream-stream LEFT OUTER join (live twin
    ``streaming/jobs.py:interval_join_outer_stream``): in the stream the
    interval bounds are what let the state store evict a buffered view,
    and eviction is exactly when the unmatched-null row may emit — a
    multi-batch test pins that the null arrives once the watermark
    passes ``view_ts + 30min``, never twice, and that a late in-window
    purchase converts the would-be-null row into a pair.  The left
    filter sits in a subquery, NOT the ON clause: an ON-clause filter on
    the preserved side of a left join would stop filtering and instead
    null-extend every non-view event (the classic outer-join rewrite
    trap — both engines spell it identically here).

    Scale: one shuffle keyed on user_id for both sides, same as the
    inner twin; the null extension adds no state, and at 100 TB the
    stream form holds ~watermark + interval width per side.

    Reference parity: the orphan set-difference check
    (/root/reference/src/data/clean_data.py:303-322) generalized from
    an anti-join count to the full outer-extended pair table."""
    t = Catalog(spark, sf_dir)
    ev = t.events
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("interval 30 minutes")
        ),
        "leftOuter",
    )
    return joined.select(
        "view_id",
        "user_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        # truncate-then-diff: DuckDB date_diff semantics, session-tz-free;
        # null-propagating for unmatched views
        F.expr(
            "timestampdiff(SECOND, date_trunc('SECOND', view_ts),"
            " date_trunc('SECOND', purchase_ts))"
        ).cast("long").alias("lag_seconds"),
        r4("value").alias("purchase_value"),
    )


@register(
    "stream_interval_join_full_outer",
    oracle="""
SELECT v.event_id AS view_id,
       coalesce(v.user_id, p.user_id) AS user_id,
       v.ts AS view_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_seconds,
       round(p.value, 4) AS purchase_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'view') v
FULL JOIN (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTE
""",
)
def stream_interval_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time FULL OUTER interval join — the third and last member of
    the interval-join family (after inner and left-outer): every matched
    (view, purchase) pair, every view with no in-window purchase
    null-extended once, AND every purchase with no same-user view in the
    preceding 30 minutes null-extended once.  The left-outer query answers
    "which touches converted"; this one also answers the inverse —
    "which conversions are ORGANIC" (no attributable touch), the row a
    left join silently drops.

    This is the batch-checkable form of Structured Streaming's
    stream-stream FULL OUTER join (live twin
    ``streaming/jobs.py:interval_join_full_outer_stream``): BOTH sides
    buffer in the state store, BOTH evict on the interval bound, and each
    side's unmatched rows emit exactly once when the watermark passes its
    eviction point — a view's at ``view_ts + 30min``, a purchase's at
    ``purchase_ts`` itself (a matching view can be no later than the
    purchase).  The multi-batch test pins both emissions plus late-match
    conversion on each side.  Both event-type filters sit in subqueries,
    NOT the ON clause: on a full join an ON-clause filter stops filtering
    ENTIRELY — it would null-extend every non-view and non-purchase event
    into a phantom row on both sides (the outer-join rewrite trap, now on
    both flanks).

    Scale: identical to the inner twin — one shuffle keyed on user_id per
    side; the null extensions add no state; at 100 TB the stream form
    holds ~watermark + interval width per side.

    Reference parity: the two-sided orphan check the reference runs as two
    separate set differences (/root/reference/src/data/clean_data.py:
    303-322) produced in ONE pass alongside the matched pairs."""
    t = Catalog(spark, sf_dir)
    ev = t.events
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("interval 30 minutes")
        ),
        "fullOuter",
    )
    return joined.select(
        "view_id",
        # the preserved key lives on whichever side is non-null per row
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        "view_ts",
        "purchase_id",
        "purchase_ts",
        # truncate-then-diff: DuckDB date_diff semantics, session-tz-free;
        # null-propagating on BOTH unmatched sides
        F.expr(
            "timestampdiff(SECOND, date_trunc('SECOND', view_ts),"
            " date_trunc('SECOND', purchase_ts))"
        ).cast("long").alias("lag_seconds"),
        r4("value").alias("purchase_value"),
    )


@register(
    "cdc_scd2_user_state",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, ts, event_type, value,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), isl AS (
  SELECT user_id, ts, event_type, value,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM o
), runs AS (
  SELECT user_id, CAST(version AS BIGINT) AS version, event_type AS state,
         min(ts) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 4) AS sum_value
  FROM isl GROUP BY user_id, version, event_type
)
SELECT user_id, version, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL
         AS is_current,
       n_events, sum_value
FROM runs
""",
)
def cdc_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC → SCD-type-2 history build: collapse each user's event stream
    into state intervals (state := event_type), one row per contiguous run,
    with valid_from/valid_to boundaries, a monotone version number, an
    is_current flag, and per-run rollups — the classic warehouse
    change-data-capture operator the reference applies to product lifecycle
    states (/root/reference/src/features/lifecycle_features.py: phase
    segmentation per product over time).

    The run segmentation is gaps-and-islands: a change flag via lag(), a
    running sum to number islands, then one grouped aggregate per island —
    three window passes all sharing the SAME (user_id, ts) partitioning, so
    Catalyst plans a single sort+shuffle feeding stacked Window operators.

    Scale: keyed by user_id throughout (no global window); at 100 TB the
    identical plan feeds an incremental foreachBatch MERGE (the
    ``io_upsert_roundtrip`` sink) to maintain the SCD2 table continuously.
    """
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    o = t.events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1)
        .otherwise(0)
        .alias("chg"),
    )
    isl = o.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("version"),
    )
    runs = isl.groupBy(
        "user_id", F.col("version").cast("long").alias("version"),
        F.col("event_type").alias("state"),
    ).agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
        r4(F.sum("value")).alias("sum_value"),
    )
    wv = W.partitionBy("user_id").orderBy("version")
    return runs.select(
        "user_id",
        "version",
        "state",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        "n_events",
        "sum_value",
    )


@register(
    "snapshot_table_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderpriority AS prio
  FROM orders WHERE o_orderkey % 11 <> 0
), new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 7 = 0
              THEN floor(o_totalprice * 105 + 0.5) / 100.0
              ELSE o_totalprice END AS price,
         CASE WHEN o_orderkey % 5 = 0 THEN 'RECLASSIFIED'
              ELSE o_orderpriority END AS prio
  FROM orders WHERE o_orderkey % 13 <> 0
), d AS (
  SELECT CASE WHEN o.k IS NULL THEN 'added'
              WHEN n.k IS NULL THEN 'removed'
              WHEN o.price <> n.price OR o.prio <> n.prio THEN 'changed'
              ELSE 'unchanged' END AS diff_status,
         CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL AND o.price <> n.price
              THEN 1 ELSE 0 END AS price_chg,
         CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL AND o.prio <> n.prio
              THEN 1 ELSE 0 END AS prio_chg,
         CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
              THEN CAST(floor(abs(n.price - o.price) * 100 + 0.5) AS BIGINT)
              ELSE 0 END AS delta_cents
  FROM old o FULL OUTER JOIN new n ON o.k = n.k
)
SELECT diff_status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(price_chg) AS BIGINT) AS n_price_changed,
       CAST(sum(prio_chg) AS BIGINT) AS n_prio_changed,
       round(sum(delta_cents) / 100.0, 4) AS sum_abs_price_delta
FROM d GROUP BY 1
""",
)
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: full-outer diff of two table versions into
    added / removed / changed / unchanged classes with column-level change
    counts and a value-drift total — the audit the reference runs between
    pipeline reruns by exporting both frames to pandas and comparing
    row-by-row (/root/reference/src/data/load_data.py:120-135 validation
    pass).  The two versions are derived deterministically from ``orders``
    (modular key filters simulate deletes/inserts, a repriced subset and a
    reclassified subset simulate updates) so the oracle sees identical
    inputs.

    Exactness: the simulated reprice quantizes to cents with
    ``floor(x*105 + 0.5)/100`` and the drift total sums integer cents —
    both order-independent, so the diff is bit-identical across engines.

    Scale: one full-outer hash join on the key plus a 4-group aggregate.
    At 100 TB both snapshots would be bucketed on the key, turning the join
    shuffle-free; changed-row *extraction* (not just counts) is the same
    plan minus the final aggregate."""
    t = Catalog(spark, sf_dir)
    old = t.orders.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("prio"),
    )
    new = t.orders.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.floor(F.col("o_totalprice") * 105 + F.lit(0.5)) / F.lit(100.0),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("RECLASSIFIED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
    )
    o, n = old.alias("o"), new.alias("n")
    both = F.col("o.k").isNotNull() & F.col("n.k").isNotNull()
    d = o.join(n, F.col("o.k") == F.col("n.k"), "full_outer").select(
        F.when(F.col("o.k").isNull(), "added")
        .when(F.col("n.k").isNull(), "removed")
        .when(
            (F.col("o.price") != F.col("n.price"))
            | (F.col("o.prio") != F.col("n.prio")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("diff_status"),
        F.when(both & (F.col("o.price") != F.col("n.price")), 1)
        .otherwise(0)
        .alias("price_chg"),
        F.when(both & (F.col("o.prio") != F.col("n.prio")), 1)
        .otherwise(0)
        .alias("prio_chg"),
        F.when(
            both,
            F.floor(F.abs(F.col("n.price") - F.col("o.price")) * 100 + F.lit(0.5))
            .cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("delta_cents"),
    )
    return d.groupBy("diff_status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price_chg").cast("long").alias("n_price_changed"),
        F.sum("prio_chg").cast("long").alias("n_prio_changed"),
        r4(F.sum("delta_cents") / F.lit(100.0)).alias("sum_abs_price_delta"),
    )


@register(
    "alert_error_burnrate",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM events GROUP BY 1
), win AS (
  SELECT h, n_all, n_err,
         CAST(sum(n_all) OVER w6 AS BIGINT) AS all_6h,
         CAST(sum(n_err) OVER w6 AS BIGINT) AS err_6h
  FROM hourly
  WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
), rates AS (
  SELECT h, n_all, n_err, all_6h, err_6h,
         n_err * 1.0 / n_all AS rate_1h,
         err_6h * 1.0 / all_6h AS rate_6h
  FROM win
)
SELECT h AS hour, n_err, n_all,
       round(rate_1h, 4) AS rate_1h,
       round(rate_6h, 4) AS rate_6h,
       round(rate_1h / 0.2, 4) AS burn_1h,
       rate_1h > 0.28 AND rate_6h > 0.24 AS page_alert
FROM rates
WHERE rate_1h > 0.28 AND rate_6h > 0.24
""",
)
def alert_error_burnrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window burn-rate alerting (the SRE error-budget policy): page
    only when BOTH the fast 1-hour error rate and the slow 6-hour rate
    breach their thresholds — the fast window catches the spike, the slow
    window proves it's sustained, and requiring both kills the flappiness
    of the reference's single-threshold alert
    (/root/reference/src/monitoring/alerts.py:632-662).  Thresholds are
    1.4× and 1.2× a 20% budget rate, the classic paging pair.

    Exactness: both rates divide BIGINT counts from the same hourly
    grid; comparisons sit on identical doubles.

    Scale: the hourly pre-aggregate bounds the window input to the time
    grid; the 6h frame is a 6-row running sum.  The one unpartitioned
    window runs over that bounded hour grid — in production it partitions
    by service key; the live twin rides the tumbling-aggregate stream
    with a 6-slot state per key."""
    t = Catalog(spark, sf_dir)
    hourly = t.events.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_err"),
    )
    w6 = W.orderBy("h").rowsBetween(-5, 0)
    win = hourly.select(
        "h",
        "n_all",
        "n_err",
        F.sum("n_all").over(w6).cast("long").alias("all_6h"),
        F.sum("n_err").over(w6).cast("long").alias("err_6h"),
    )
    rate_1h = F.col("n_err") * F.lit(1.0) / F.col("n_all")
    rate_6h = F.col("err_6h") * F.lit(1.0) / F.col("all_6h")
    return win.filter((rate_1h > 0.28) & (rate_6h > 0.24)).select(
        F.col("h").alias("hour"),
        "n_err",
        "n_all",
        r4(rate_1h).alias("rate_1h"),
        r4(rate_6h).alias("rate_6h"),
        r4(rate_1h / F.lit(0.2)).alias("burn_1h"),
        ((rate_1h > 0.28) & (rate_6h > 0.24)).alias("page_alert"),
    )


@register(
    "join_asof_interpolate",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id,
         CAST(date_diff('second',
                min(date_trunc('second', ts)) OVER (PARTITION BY user_id),
                date_trunc('second', ts)) AS BIGINT) AS rel,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
  FROM events
), span AS (
  SELECT user_id, CAST(max(rel) // 3600 AS BIGINT) AS n_hours
  FROM ev GROUP BY 1
), grid AS (
  SELECT user_id, CAST(u.k * 3600 AS BIGINT) AS rel
  FROM span, unnest(range(1, n_hours + 1)) AS u(k)
  WHERE n_hours >= 1
), pts AS (
  SELECT user_id, rel, v4 AS ev_v4, rel AS ev_rel, 0 AS is_grid,
         event_id
  FROM ev
  UNION ALL
  SELECT user_id, rel, NULL, NULL, 1, NULL FROM grid
), w AS (
  SELECT user_id, rel, is_grid,
         last_value(ev_rel IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY rel, is_grid, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
         last_value(ev_v4 IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY rel, is_grid, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
         first_value(ev_rel IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY rel, is_grid, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS t1,
         first_value(ev_v4 IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY rel, is_grid, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v1
  FROM pts
)
SELECT user_id,
       CAST(rel // 3600 AS BIGINT) AS grid_hour,
       CAST(t1 - t0 AS BIGINT) AS gap_seconds,
       round((v0 + (v1 - v0) * ((rel - t0) * 1.0 / (t1 - t0))) / 10000.0, 4)
         AS v_interp
FROM w
WHERE is_grid = 1 AND t0 IS NOT NULL AND t1 IS NOT NULL
""",
)
def join_asof_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of INTERPOLATION join: align each user's irregular event series
    onto an hourly grid, linearly interpolating between the straddling
    events — the `aj`-with-interpolation primitive time-series stores
    (kdb+, TimescaleDB `interpolate()`) ship natively, and the alignment
    step the reference performs by pandas daily resampling
    (/root/reference/src/features/temporal.py); plain as-of
    (``join_asof_view_attribution``) carries the LAST value forward, this
    reconstructs the value BETWEEN observations.

    Exactness: grid and event times are integer seconds RELATIVE to each
    user's first event (no epoch, no timezone anywhere); values are 1e-4
    BIGINTs; the interpolation expression is the identical tree of
    correctly-rounded IEEE ops in both engines.  Ties inside one second
    resolve by (is_grid, event_id) — the straddle window is
    last/first_value IGNORE NULLS over the event↔grid union, so one
    user-keyed window chain answers every grid point.

    Scale: the union has |events| + span-hours rows per user — the grid is
    bounded by the TIME SPAN, not the event volume; one shuffle on
    user_id covers grid generation, both straddle lookups, and the
    interpolation."""
    t = Catalog(spark, sf_dir)
    wu = W.partitionBy("user_id")
    sec = F.expr(
        "timestampdiff(SECOND, date_trunc('SECOND', first_ts),"
        " date_trunc('SECOND', ts))"
    )
    ev = (
        t.events.withColumn(
            "first_ts", F.min(F.date_trunc("SECOND", "ts")).over(wu)
        )
        .select(
            "user_id",
            "event_id",
            sec.cast("long").alias("rel"),
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v4"),
        )
    )
    span = ev.groupBy("user_id").agg(
        F.expr("max(rel) div 3600").cast("long").alias("n_hours")
    )
    grid = (
        span.filter(F.col("n_hours") >= 1)
        .select(
            "user_id",
            F.explode(F.expr("sequence(1, n_hours)")).alias("k"),
        )
        .select("user_id", (F.col("k") * 3600).cast("long").alias("rel"))
    )
    pts = ev.select(
        "user_id",
        "rel",
        F.col("v4").alias("ev_v4"),
        F.col("rel").alias("ev_rel"),
        F.lit(0).alias("is_grid"),
        "event_id",
    ).unionAll(
        grid.select(
            "user_id",
            "rel",
            F.lit(None).cast("long").alias("ev_v4"),
            F.lit(None).cast("long").alias("ev_rel"),
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    wp = (
        W.partitionBy("user_id")
        .orderBy("rel", "is_grid", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wn = (
        W.partitionBy("user_id")
        .orderBy("rel", "is_grid", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    w = pts.select(
        "user_id",
        "rel",
        "is_grid",
        F.last("ev_rel", ignorenulls=True).over(wp).alias("t0"),
        F.last("ev_v4", ignorenulls=True).over(wp).alias("v0"),
        F.first("ev_rel", ignorenulls=True).over(wn).alias("t1"),
        F.first("ev_v4", ignorenulls=True).over(wn).alias("v1"),
    )
    frac = (F.col("rel") - F.col("t0")) * F.lit(1.0) / (F.col("t1") - F.col("t0"))
    return w.filter(
        (F.col("is_grid") == 1) & F.col("t0").isNotNull() & F.col("t1").isNotNull()
    ).select(
        "user_id",
        F.expr("rel div 3600").cast("long").alias("grid_hour"),
        (F.col("t1") - F.col("t0")).cast("long").alias("gap_seconds"),
        r4(
            (F.col("v0") + (F.col("v1") - F.col("v0")) * frac) / F.lit(10000.0)
        ).alias("v_interp"),
    )


@register(
    "stream_hourly_heavy_hitters",
    oracle="""
WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n_events DESC, user_id) AS rnk
      FROM c)
SELECT window_start, CAST(rnk AS BIGINT) AS rnk, user_id, n_events
FROM r WHERE rnk <= 3
""",
)
def stream_hourly_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-hour top-3 heavy hitters (users by event count) — the
    batch twin of the bounded-state space-saving sketch kernel
    (``streaming/jobs.py: heavyhitters_topk_stream``), which the streaming
    tests pin against this query (the sketch is exact whenever an hour's
    distinct-user count fits its k=32 counters).  Rate-per-entity alerting
    shape from /root/reference/src/monitoring/alerts.py:472-505 (_is_rate_limited).

    Scale: one keyed aggregate on (hour, user) with map-side partial
    counts, then a per-hour partitioned window limited by
    WindowGroupLimit.  Ties break (count desc, user_id asc) so ranking is
    engine-independent."""
    t = Catalog(spark, sf_dir)
    c = (
        t.events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "user_id"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "rnk", "user_id", "n_events")
    )


@register(
    "stream_hourly_distinct",
    oracle="""
SELECT date_trunc('hour', ts) AS hour,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
""",
)
def stream_hourly_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-hour distinct-user cardinality (plus total event count) —
    the batch twin of the bounded-state bottom-k KMV sketch kernel
    (``streaming/jobs.py: distinct_kmv_stream``), which the streaming
    tests pin against this query: the sketch is EXACT whenever an hour's
    distinct-user count fits its k=32 budget (true of the sf test data),
    and beyond budget the tests pin the stream against the deterministic
    pure-Python estimator over the same hash space.  Per-entity
    cardinality monitoring shape from
    /root/reference/src/monitoring/alerts.py:472-505 (_is_rate_limited: rate alerting on
    distinct actors per window).

    Scale: Spark plans COUNT(DISTINCT) as a two-phase aggregate (partial
    distinct on (hour, user), then the per-hour count), so the shuffle
    carries one row per (hour, user) — never raw events; at 100 TB the
    streaming KMV twin replaces it with O(k) state per hour."""
    t = Catalog(spark, sf_dir)
    return (
        t.events.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


# Shared consecutive-hour scaffolding for the sketch SET-OPERATION queries
# (HLL inclusion-exclusion + KMV overlap): ONE definition of the distinct
# (hour, user) table, the hours-with-a-predecessor pair set, and the exact
# hour-over-hour returning-user count, in both engines — so the two
# operators' exact columns can never desync (the _duck_hll_summary
# discipline applied to the scaffolding).

_DUCK_HOURLY_PAIRS = """
hu AS (SELECT DISTINCT date_trunc('hour', ts) AS hour, user_id FROM events),
hrs AS (SELECT DISTINCT hour FROM hu),
bh AS (SELECT b.hour FROM hrs a JOIN hrs b
       ON b.hour = a.hour + INTERVAL 1 HOUR),
ret AS (SELECT b.hour, CAST(count(*) AS BIGINT) AS n_returning
        FROM hu a JOIN hu b
          ON b.user_id = a.user_id AND b.hour = a.hour + INTERVAL 1 HOUR
        GROUP BY 1)"""


def _hourly_users(t: Catalog) -> DataFrame:
    """Distinct (hour, user_id) over events — checkpointed, since every
    consumer reads it several times (sketch build + exact columns)."""
    return materialize(
        t.events.select(F.date_trunc("hour", "ts").alias("hour"), "user_id")
        .distinct()
    )


def _consecutive_hours(hu: DataFrame) -> DataFrame:
    """(hour,) for every hour whose predecessor hour also has events."""
    hrs = hu.select("hour").distinct()
    return (
        hrs.alias("a")
        .join(
            hrs.alias("b"),
            F.col("b.hour") == F.col("a.hour") + F.expr("interval 1 hour"),
        )
        .select(F.col("b.hour").alias("hour"))
    )


def _returning_exact(hu: DataFrame) -> DataFrame:
    """(hour, n_returning): exact count of users active in hour-1 AND
    hour — the ground truth both sketch set-operations sit beside."""
    return (
        hu.alias("a")
        .join(
            hu.alias("b"),
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.hour") == F.col("a.hour") + F.expr("interval 1 hour")),
        )
        .groupBy(F.col("b.hour").alias("hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_returning"))
    )


@register(
    "sketch_kmv_overlap",
    oracle=f"""
WITH {_DUCK_HOURLY_PAIRS},
hd AS (SELECT DISTINCT hour,
              CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                   AS BIGINT) AS h
       FROM hu),
sk AS (SELECT hour, h FROM (
         SELECT hour, h, row_number() OVER (PARTITION BY hour ORDER BY h)
                AS rn
         FROM hd) WHERE rn <= {KMV_K}),
uni AS (SELECT hour, h, mn FROM (
          SELECT u.hour, u.h, row_number() OVER (PARTITION BY u.hour
                                                 ORDER BY u.h) AS mn
          FROM (SELECT bh.hour, sk.h FROM bh
                JOIN sk ON sk.hour = bh.hour - INTERVAL 1 HOUR
                UNION
                SELECT bh.hour, sk.h FROM bh
                JOIN sk ON sk.hour = bh.hour) u)
        WHERE mn <= {KMV_K}),
st AS (SELECT uni.hour,
              CAST(count(*) AS BIGINT) AS n_merged,
              CAST(max(uni.h) AS BIGINT) AS kth,
              CAST(sum(CASE WHEN pa.h IS NOT NULL AND pb.h IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
       FROM uni
       LEFT JOIN sk pa ON pa.hour = uni.hour - INTERVAL 1 HOUR
                      AND pa.h = uni.h
       LEFT JOIN sk pb ON pb.hour = uni.hour AND pb.h = uni.h
       GROUP BY 1),
est AS (SELECT hour, n_merged, n_matches,
               n_merged < {KMV_K} AS is_exact,
               CASE WHEN n_merged < {KMV_K} THEN n_merged
                    ELSE CAST(floor(({KMV_K} - 1)
                              * CAST({1 << 52} AS DOUBLE) / (kth + 1)
                              + 0.5) AS BIGINT) END AS est_union
        FROM st)
SELECT est.hour, est.n_merged, est.n_matches, est.est_union,
       CAST(floor(est.n_matches * CAST(est.est_union AS DOUBLE)
                  / est.n_merged + 0.5) AS BIGINT) AS est_returning,
       est.is_exact,
       COALESCE(ret.n_returning, 0) AS n_returning
FROM est LEFT JOIN ret ON ret.hour = est.hour
""",
)
def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) SET INTERSECTION — the exact-under-budget
    companion to ``stream_hll_returning_users``'s inclusion-exclusion:
    hour-over-hour returning users from each hour's {KMV_K}
    smallest user-id hashes.  The union sketch of two bottom-k sets is
    the bottom-k of their union (a pure set-of-minima merge); every
    union-sketch member that lies in BOTH input sketches is a certified
    intersection element (h ≤ the union's kth-min ≤ each input's
    kth-min), so est_inter = matches/|K| × est_union — and while the
    union is under budget the sketch holds EVERY distinct hash, making
    the intersection count EXACT, the guarantee HLL can never give.
    ``is_exact`` tells the reader which regime each row is in; the exact
    ``n_returning`` sits beside it (equal wherever ``is_exact`` holds,
    up to md5-prefix hash collisions).

    Hash domain: the engine-shared md5-hex rule (first 13 hex chars →
    52-bit integer), the same cross-engine-parseable domain as the HLL
    and Bloom twins — the streaming kernel's splitmix64 needs mod-2⁶⁴
    wraparound that signed-BIGINT SQL engines reject, so the oracled
    twin pins the SAME bottom-k/merge/estimate ALGEBRA on the SQL-safe
    hash (``tests/test_r11_semantics.py`` re-derives it in pure Python,
    and the kernel's own invariants stay fuzzed in
    ``tests/test_kernel_state_machines.py``).

    Exactness: sketches, merges, matches, and the budget flag are pure
    integer/set operations; the at-budget estimator is
    floor((k−1)·2⁵²/(kth+1) + 0.5) and the combination
    floor(matches·est_union/|K| + 0.5) — single identically-structured
    float expressions on exact integers.

    Scale: state is {KMV_K} longs per hour (the kernel already
    holds it); the query shuffles one row per (hour, user) for the
    distinct, then everything is ≤{KMV_K}-rows-per-hour —
    the audience-overlap readout every sketch store serves.

    Reference parity: the per-key windowed monitoring count
    (/root/reference/src/monitoring/alerts.py:472-502, the
    window-reset counting loop), answered from bounded sketch state
    with an exactness certificate instead of a full recount."""
    t = Catalog(spark, sf_dir)
    k = KMV_K
    hu = _hourly_users(t)
    hd = hu.select(
        "hour",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 13),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    sk = materialize(
        hd.withColumn(
            "rn", F.row_number().over(W.partitionBy("hour").orderBy("h"))
        )
        .filter(F.col("rn") <= k)
        .select("hour", "h")
    )
    bh = _consecutive_hours(hu)
    ua = bh.join(
        sk.select(
            (F.col("hour") + F.expr("interval 1 hour")).alias("hour"), "h"
        ),
        "hour",
    )
    ub = bh.join(sk, "hour")
    uni = (
        ua.unionByName(ub)
        .distinct()
        .withColumn(
            "mn", F.row_number().over(W.partitionBy("hour").orderBy("h"))
        )
        .filter(F.col("mn") <= k)
    )
    pa = sk.select(
        (F.col("hour") + F.expr("interval 1 hour")).alias("hour"),
        F.col("h").alias("h"),
        F.lit(1).alias("in_a"),
    )
    pb = sk.select("hour", "h", F.lit(1).alias("in_b"))
    st = (
        uni.join(pa, ["hour", "h"], "left")
        .join(pb, ["hour", "h"], "left")
        .groupBy("hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_merged"),
            F.max("h").cast("long").alias("kth"),
            F.sum(
                F.when(
                    F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_matches"),
        )
    )
    est = st.select(
        "hour",
        "n_merged",
        "n_matches",
        (F.col("n_merged") < k).alias("is_exact"),
        F.when(F.col("n_merged") < k, F.col("n_merged"))
        .otherwise(
            F.floor(
                (k - 1)
                * F.lit(float(1 << 52))
                / (F.col("kth") + 1)
                + F.lit(0.5)
            )
        )
        .cast("long")
        .alias("est_union"),
    )
    ret = _returning_exact(hu)
    return est.join(ret, "hour", "left").select(
        "hour",
        "n_merged",
        "n_matches",
        "est_union",
        F.floor(
            F.col("n_matches")
            * F.col("est_union").cast("double")
            / F.col("n_merged")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("est_returning"),
        "is_exact",
        F.coalesce("n_returning", F.lit(0)).cast("long").alias(
            "n_returning"
        ),
    )


@register(
    "stream_hourly_sample",
    oracle=f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour, event_id, user_id,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY hour
                                   ORDER BY h, event_id) AS rnk
      FROM h)
SELECT hour, CAST(rnk AS BIGINT) AS rnk, event_id, user_id, h
FROM r WHERE rnk <= {SAMPLE_K}
""",
)
def stream_hourly_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-hour uniform sample: the {SAMPLE_K} events with
    the smallest content hash of their event id (bottom-k sampling —
    hashing induces a uniform random order, so the k smallest ARE a
    uniform sample without replacement, reproducible on every engine and
    every run).  Batch twin of the bounded-state
    ``streaming/jobs.py: sample_bottomk_stream`` kernel, which the
    streaming tests pin EQUAL to this query — bottom-k state is a pure
    set-of-minima, so unlike the KMV/space-saving sketches the stream
    result is exact at every scale, not just under budget.

    Scale: one keyed aggregate per (hour) partition with a
    WindowGroupLimit-pruned rank — the shuffle carries candidate rows
    only; the streaming twin replaces it with O(k) state per hour."""
    t = Catalog(spark, sf_dir)
    h = t.events.select(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_id",
        "user_id",
        h32(F.col("event_id").cast("string")).alias("h"),
    )
    w = W.partitionBy("hour").orderBy("h", "event_id")
    return (
        h.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= SAMPLE_K)
        .select("hour", "rnk", "event_id", "user_id", "h")
    )


@register(
    "stream_user_trailing_count",
    oracle="""
WITH m AS (SELECT user_id, max(ts) AS last_ts,
                  CAST(count(*) AS BIGINT) AS n_total
           FROM events GROUP BY user_id)
SELECT e.user_id, any_value(m.n_total) AS n_total,
       any_value(m.last_ts) AS last_ts,
       CAST(count(*) AS BIGINT) AS n_window
FROM events e JOIN m ON e.user_id = m.user_id
WHERE e.ts > m.last_ts - INTERVAL 6 HOUR
GROUP BY e.user_id
""",
)
def stream_user_trailing_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user trailing-6-hour event count, evaluated at each
    user's LAST event time — the batch twin of the logarithmic-state DGIM
    kernel (``streaming/jobs.py: trailing_count_dgim_stream``), which the
    streaming tests pin within the published DGIM bound of this query and
    EQUAL to the pure-Python fold of the same event sequence.
    Rate-per-entity trailing-window shape from
    /root/reference/src/monitoring/alerts.py:472-505 (_is_rate_limited).

    Scale: one per-user max (map-side partial), one user-keyed join, one
    filtered count — the shuffle carries (user, ts) pairs; at 100 TB the
    streaming twin replaces the second scan with O(log n) bucket state per
    user."""
    t = Catalog(spark, sf_dir)
    m = t.events.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    return (
        t.events.select("user_id", "ts")
        .join(m, "user_id")
        .filter(F.col("ts") > F.col("last_ts") - F.expr("INTERVAL 6 HOUR"))
        .groupBy("user_id")
        .agg(
            F.first("n_total").cast("long").alias("n_total"),
            F.first("last_ts").alias("last_ts"),
            F.count(F.lit(1)).cast("long").alias("n_window"),
        )
    )


def _cms_bucket_sql(d_expr: str, u_expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({d_expr} AS VARCHAR) || ':' || "
        f"CAST({u_expr} AS VARCHAR)), 1, 8)) AS BIGINT) % {CMS_W}"
    )


@register(
    "stream_hourly_cms",
    oracle=f"""
WITH c AS (SELECT date_trunc('hour', ts) AS hour, user_id,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
hrs AS (SELECT DISTINCT hour FROM c),
mu AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(u)),
dd AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(d)),
hb AS (SELECT c.hour, dd.d,
              {_cms_bucket_sql('dd.d', 'c.user_id')} AS b,
              sum(c.c) AS s
       FROM c CROSS JOIN dd GROUP BY 1, 2, 3),
g AS (SELECT hrs.hour, mu.u, dd.d,
             {_cms_bucket_sql('dd.d', 'mu.u')} AS b
      FROM hrs CROSS JOIN mu CROSS JOIN dd),
est AS (SELECT g.hour, g.u, CAST(min(coalesce(hb.s, 0)) AS BIGINT) AS cms_est
        FROM g LEFT JOIN hb
          ON hb.hour = g.hour AND hb.d = g.d AND hb.b = g.b
        GROUP BY 1, 2)
SELECT est.hour, CAST(est.u AS BIGINT) AS user_id,
       CAST(coalesce(c.c, 0) AS BIGINT) AS n_true,
       est.cms_est,
       CAST(est.cms_est - coalesce(c.c, 0) AS BIGINT) AS overcount
FROM est LEFT JOIN c ON c.hour = est.hour AND c.user_id = est.u
""",
)
def stream_hourly_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour count-min sketch point queries (Cormode & Muthukrishnan
    2005), computed EXACTLY in batch: for each hour and each monitored
    user id (0..{CMS_MONITORED-1}), the true event count, the CMS
    estimate min_d(counter[d][h_d(u)]), and the collision overcount
    (always >= 0 — the one-sided CMS guarantee, visible as a column).
    Counter cells are reconstructed as grouped sums over the bucket
    assignment h_d(u) = md5("d:u")[0:8] mod {CMS_W} — the same
    engine-shared hash the streaming kernel folds — so this batch twin IS
    the sketch's ground truth, not an approximation of it.

    Batch twin of the bounded-state ``streaming/jobs.py:
    freq_cms_stream`` kernel ({CMS_D}x{CMS_W} longs per hour bucket,
    O(1) per event), which the streaming tests pin EQUAL to this query —
    CMS counters are plain sums of increments, fully order-, chunking-
    and duplication-commutative, so equality holds at every scale with no
    under-budget caveat (unlike KMV/space-saving).

    Scale: one (hour, user) partial aggregate — the only event-wide
    shuffle — then bucket sums over {CMS_D} small rows and a broadcast
    grid join of hours x {CMS_MONITORED} monitored keys x depths; at
    100 TB the streaming twin replaces the per-user aggregate with the
    fixed {CMS_D}x{CMS_W} counter array per hour."""
    t = Catalog(spark, sf_dir)
    c = t.events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "user_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))

    def bucket(d_col, u_col):
        return (
            h32(F.concat(d_col.cast("string"), F.lit(":"), u_col.cast("string")))
            % CMS_W
        )

    dd = spark.range(CMS_D).select(F.col("id").cast("int").alias("d"))
    hb = (
        c.crossJoin(F.broadcast(dd))
        .groupBy("hour", "d", bucket(F.col("d"), F.col("user_id")).alias("b"))
        .agg(F.sum("c").alias("s"))
    )
    hrs = c.select("hour").distinct()
    mu = spark.range(CMS_MONITORED).select(F.col("id").alias("u"))
    g = hrs.crossJoin(F.broadcast(mu)).crossJoin(F.broadcast(dd)).select(
        "hour", "u", "d", bucket(F.col("d"), F.col("u")).alias("b")
    )
    est = (
        g.join(hb, ["hour", "d", "b"], "left")
        .groupBy("hour", "u")
        .agg(
            F.min(F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("cms_est")
        )
    )
    return (
        est.join(
            c, (c.hour == est.hour) & (c.user_id == est.u), "left"
        )
        .select(
            est.hour,
            F.col("u").cast("long").alias("user_id"),
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_true"),
            "cms_est",
            (F.col("cms_est") - F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("overcount"),
        )
    )


stream_hourly_cms.__doc__ = (
    stream_hourly_cms.__doc__.replace("{CMS_MONITORED-1}", str(CMS_MONITORED - 1))
    .replace("{CMS_W}", str(CMS_W))
    .replace("{CMS_D}", str(CMS_D))
    .replace("{CMS_MONITORED}", str(CMS_MONITORED))
)


@register(
    "stream_hourly_value_quantiles",
    oracle=f"""
WITH e AS (SELECT date_trunc('hour', ts) AS hour,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cent
           FROM events),
h AS (SELECT hour, cent, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
tot AS (SELECT hour, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
cum AS (SELECT hour, cent,
               CAST(sum(c) OVER (PARTITION BY hour ORDER BY cent)
                    AS BIGINT) AS cum
        FROM h),
q AS (SELECT * FROM (VALUES {', '.join(f'({p})' for p in QUANT_PCTS)}) t(pct)),
need AS (SELECT tot.hour, q.pct, tot.n,
                CAST((tot.n * q.pct + 99) // 100 AS BIGINT) AS k
         FROM tot CROSS JOIN q)
SELECT need.hour, CAST(need.pct AS INTEGER) AS pct, need.n AS n_events,
       CAST(min(cum.cent) AS BIGINT) AS cent,
       CAST(min(cum.cent) AS BIGINT) / 100.0 AS value
FROM need JOIN cum ON cum.hour = need.hour AND cum.cum >= need.k
GROUP BY 1, 2, 3
""",
)
def stream_hourly_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-hour value percentiles (p50/p90/p99) through an integer
    fixed-grid histogram: values land on the cent grid (floor(100v+0.5)),
    the percentile is DEFINED as the smallest grid point whose cumulative
    count reaches ceil(n*q) — the k-th order statistic, a pure integer
    rule with no interpolation and therefore no cross-engine float
    hazard.  Batch twin of the bounded-state ``streaming/jobs.py:
    value_quantiles_histogram_stream`` kernel, which the streaming tests
    pin EQUAL to this query: histogram state is a plain sum of per-cent
    increments (order/chunking/duplication commutative), so equality
    holds at every scale — the quantile analogue of the CMS twin above.

    Scale: one (hour, cent) partial aggregate is the only event-wide
    shuffle — the histogram bounds all later work by the grid size, not
    the event count (the reason production systems sketch quantiles as
    histograms/t-digests); the cumulative window runs per hour over grid
    rows only."""
    t = Catalog(spark, sf_dir)
    e = t.events.select(
        F.date_trunc("hour", "ts").alias("hour"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cent"),
    )
    h = e.groupBy("hour", "cent").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = h.groupBy("hour").agg(F.sum("c").cast("long").alias("n"))
    cum = h.withColumn(
        "cum",
        F.sum("c").over(W.partitionBy("hour").orderBy("cent")).cast("long"),
    )
    q = spark.createDataFrame(
        [(p,) for p in QUANT_PCTS], "pct int"
    )
    need = tot.crossJoin(F.broadcast(q)).select(
        "hour",
        "pct",
        "n",
        F.expr("(n * pct + 99) div 100").cast("long").alias("k"),
    )
    return (
        need.join(cum, "hour")
        .filter(F.col("cum") >= F.col("k"))
        .groupBy("hour", "pct", F.col("n").alias("n_events"))
        .agg(F.min("cent").cast("long").alias("cent"))
        .select(
            "hour",
            "pct",
            "n_events",
            "cent",
            (F.col("cent") / F.lit(100.0)).alias("value"),
        )
    )


# BLOOM_M / BLOOM_K are the package-shared grid (sketch_params): the
# byte-identical oracle SQL below derives from them, so the kernel and
# this twin can never desync.


@register(
    "stream_hourly_bloom",
    oracle=f"""
WITH c AS (SELECT DISTINCT date_trunc('hour', ts) AS hour, user_id
           FROM events),
jj AS (SELECT * FROM (VALUES {', '.join(f'({j})' for j in range(BLOOM_K))}) t(j)),
bits AS (SELECT DISTINCT hour, {bloom_pos_sql('jj.j', 'CAST(c.user_id AS VARCHAR)')} AS b
         FROM c CROSS JOIN jj),
bc AS (SELECT hour, CAST(count(*) AS BIGINT) AS n_bits_set
       FROM bits GROUP BY 1),
nt AS (SELECT date_trunc('hour', ts) AS hour,
              CAST(count(*) AS BIGINT) AS n_total,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY 1)
SELECT nt.hour, nt.n_total, bc.n_bits_set,
       CASE WHEN bc.n_bits_set >= {BLOOM_M} THEN NULL
            ELSE floor((-({BLOOM_M}.0 / {BLOOM_K}))
                       * ln(1 - bc.n_bits_set * 1.0 / {BLOOM_M})
                       * 10000 + 0.5) / 10000 END AS est_users,
       nt.n_users
FROM nt JOIN bc USING (hour)
""",
)
def stream_hourly_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour Bloom-filter membership state, computed EXACTLY in batch:
    for each hour, the number of bits the hour's user ids light in a
    1024-bit / 4-hash Bloom filter (Bloom 1970), the Swamidass-Baldi
    fill-rate cardinality estimate -(m/k)·ln(1 - b/m), and the exact
    distinct-user count the estimate approximates.  The lit-bit set is
    reconstructed as a DISTINCT over the engine-shared md5 positions
    md5("j:user") mod m — the same rule ``dedup_bloom_gate`` uses for
    its document-digest gate — so this twin IS the sketch's ground
    truth, not an approximation of it.

    Batch twin of the bounded-state ``streaming/jobs.py:
    bloom_membership_stream`` kernel (<= 1024 bits per hour bucket,
    O(k) per event), which the streaming tests pin EQUAL to this query —
    Bloom state is a pure OR-fold (idempotent set union), the strongest
    commutativity class in the sketch family, so equality holds at every
    scale with no under-budget caveat.

    Exactness: bit positions and counts are integers; b/m is a dyadic
    ratio (m = 1024), so the ln argument is bit-identical cross-engine
    and the one estimate quantizes to the 1e-4 grid.

    Scale: one (hour, user) distinct — the only event-wide shuffle —
    then a bounded (hour, 4·distinct) position explode and per-hour
    counts; at 100 TB the streaming twin replaces the distinct with the
    fixed m-bit array per hour."""
    t = Catalog(spark, sf_dir)
    c = t.events.select(
        F.date_trunc("hour", "ts").alias("hour"), "user_id"
    ).distinct()
    jj = spark.range(BLOOM_K).select(F.col("id").cast("int").alias("j"))

    def pos(j_col, u_col):
        return (
            h32(F.concat(j_col.cast("string"), F.lit(":"), u_col.cast("string")))
            % BLOOM_M
        )

    bits = (
        c.crossJoin(F.broadcast(jj))
        .select("hour", pos(F.col("j"), F.col("user_id")).alias("b"))
        .distinct()
    )
    bc = bits.groupBy("hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_bits_set")
    )
    nt = t.events.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return nt.join(bc, "hour").select(
        "hour",
        "n_total",
        "n_bits_set",
        F.when(F.col("n_bits_set") >= BLOOM_M, F.lit(None).cast("double"))
        .otherwise(
            F.floor(
                (-(float(BLOOM_M) / BLOOM_K))
                * F.log(1 - F.col("n_bits_set") * F.lit(1.0) / BLOOM_M)
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        )
        .alias("est_users"),
        "n_users",
    )


# HLL_M / HLL_W / HLL_ALPHA64 are the package-shared parameters
# (sketch_params); the oracle SQL derives from them byte-for-byte.
_HLL_POW53 = 9007199254740992  # 2^53: the integer register-sum scale

# Shared oracle fragments — ONE definition of the register rule and of the
# estimator for every HLL oracle (hourly twin + daily merge), so a rho or
# estimator fix can never desync them (the _duck_pq_codes discipline).
_DUCK_HLL_HREGS = f"""
hx AS (SELECT date_trunc('hour', ts) AS hour, user_id,
              md5(CAST(user_id AS VARCHAR)) AS hex
       FROM events),
rho AS (
  SELECT hour,
         CAST(('0x' || substr(hex, 1, 2)) AS BIGINT) % {HLL_M} AS j,
         CASE WHEN regexp_replace(substr(hex, 3, 13), '^0+', '') = ''
              THEN {HLL_W + 1}
              ELSE 4 * (13 - length(regexp_replace(substr(hex, 3, 13), '^0+', '')))
                   + CASE substr(regexp_replace(substr(hex, 3, 13), '^0+', ''), 1, 1)
                       WHEN '1' THEN 3
                       WHEN '2' THEN 2 WHEN '3' THEN 2
                       WHEN '4' THEN 1 WHEN '5' THEN 1
                       WHEN '6' THEN 1 WHEN '7' THEN 1
                       ELSE 0 END + 1 END AS rho
  FROM hx),
hregs AS (SELECT hour, j, CAST(max(rho) AS BIGINT) AS mj
          FROM rho GROUP BY 1, 2)"""


def _duck_hll_summary(src: str, key: str, p: str = "") -> str:
    """Grid-fill + integer register sum + zero count over sparse
    registers ``src(key, j, mj)`` — ends with ``{p}s({key}, s53, v)``.
    ``p`` prefixes the CTE names so two summaries (e.g. per-hour and
    merged-union) can coexist in one oracle."""
    return f"""
{p}grid AS (SELECT kk.{key}, jj.j
         FROM (SELECT DISTINCT {key} FROM {src}) kk
         CROSS JOIN (SELECT unnest(range(0, {HLL_M})) AS j) jj),
{p}fullr AS (SELECT {p}grid.{key}, COALESCE({src}.mj, 0) AS mj
          FROM {p}grid LEFT JOIN {src}
            ON {src}.{key} = {p}grid.{key} AND {src}.j = {p}grid.j),
{p}s AS (SELECT {key},
             CAST(sum(1::BIGINT << CAST({HLL_W + 1} - mj AS INTEGER))
                  AS BIGINT) AS s53,
             CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM {p}fullr GROUP BY 1)"""


def _duck_hll_est(a: str = "s") -> str:
    """The alpha_64 + linear-counting estimate over a summary aliased
    ``a(s53, v)`` — one definition for every HLL oracle."""
    return f"""floor(CASE WHEN {a}.v > 0
                   AND CAST({HLL_ALPHA64} AS DOUBLE) * {HLL_M} * {HLL_M}
                       * {_HLL_POW53} / {a}.s53 <= 2.5 * {HLL_M}
                  THEN CAST({HLL_M} AS DOUBLE)
                       * ln(CAST({HLL_M} AS DOUBLE) / {a}.v)
                  ELSE CAST({HLL_ALPHA64} AS DOUBLE) * {HLL_M} * {HLL_M}
                       * {_HLL_POW53} / {a}.s53
             END * 10000 + 0.5) / 10000"""


_DUCK_HLL_EST = _duck_hll_est()


@register(
    "stream_hourly_hll",
    oracle=f"""
WITH {_DUCK_HLL_HREGS},
{_duck_hll_summary("hregs", "hour")},
nt AS (SELECT date_trunc('hour', ts) AS hour,
              CAST(count(*) AS BIGINT) AS n_total,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY 1)
SELECT nt.hour, nt.n_total, s.v AS n_zero_registers,
       {_DUCK_HLL_EST} AS est_users,
       nt.n_users
FROM nt JOIN s USING (hour)
""",
)
def stream_hourly_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour HyperLogLog register state, computed EXACTLY in batch:
    for each hour, the 64-register HLL sketch (Flajolet et al. 2007,
    p=6) over the hour's user ids, its cardinality estimate, and the
    exact distinct-user count the estimate approximates — the EIGHTH
    member of the bounded-state sketch family and the industry-default
    distinct counter beside the KMV twin ``stream_hourly_distinct``.

    Register rule shared by both engines and the streaming kernel: for
    hex = md5(user), the register index j is the first hex byte mod 64
    and rho is the 1-based position of the first 1-bit in the following
    52-bit window (4·leading-zero-digits + zero-bits inside the first
    nonzero digit + 1; 53 when the window is all zero), derived purely
    in the hex-string domain so no engine ever parses a 64-bit integer.
    M[j] = max(rho) — an order-free, idempotent, merge-by-max fold, the
    same commutativity class as the Bloom OR-fold, so the streaming
    twin equals this query at every scale with no under-budget caveat.

    Estimate: alpha_64·m²/sum(2^-M[j]) with the register sum carried as
    the INTEGER sum(2^(53-M[j])) (each term an exact BIGINT shift, so
    the fold is order-free), alpha_64 = 0.709 per the paper, and the
    standard small-range correction — linear counting m·ln(m/V) when
    the raw estimate is <= 2.5m and V > 0 registers are zero.  The one
    float expression is structured identically in both engines and
    quantizes to the 1e-4 grid.

    Scale: one hash projection of the event stream, a (hour, 64)-max
    shuffle, and a 64-row-per-hour grid join — register state is 64
    bytes per hour no matter how many events arrive; the streaming twin
    (``streaming/jobs.py:hll_distinct_stream``) holds exactly that
    array per open hour."""
    t = Catalog(spark, sf_dir)
    regs = _hll_hour_regs(t)
    summ = _hll_summary(spark, regs, "hour")
    nt = t.events.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return nt.join(summ, "hour").select(
        "hour", "n_total", "n_zero_registers", "est_users", "n_users"
    )


def _hll_hour_regs(t: Catalog) -> DataFrame:
    """Sparse per-hour HLL registers (hour, j, mj) under the shared md5
    hex rule — the core both ``stream_hourly_hll`` and the daily merge
    rollup reconstruct from."""
    hexc = F.md5(F.col("user_id").cast("string"))
    tcol = F.regexp_replace(F.substring(hexc, 3, 13), "^0+", "")
    d = F.substring(tcol, 1, 1)
    rho = F.when(tcol == "", F.lit(HLL_W + 1)).otherwise(
        4 * (13 - F.length(tcol))
        + F.when(d == "1", 3)
        .when(d.isin("2", "3"), 2)
        .when(d.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
        + 1
    )
    hx = t.events.select(
        F.date_trunc("hour", "ts").alias("hour"),
        (F.conv(F.substring(hexc, 1, 2), 16, 10).cast("long") % HLL_M).alias(
            "j"
        ),
        rho.alias("rho"),
    )
    return hx.groupBy("hour", "j").agg(F.max("rho").cast("long").alias("mj"))


def _hll_summary(spark: SparkSession, regs: DataFrame, key: str) -> DataFrame:
    """(key, n_zero_registers, est_users) from sparse registers keyed by
    ``key``: fill the {HLL_M}-register grid, carry the harmonic register
    sum as the integer sum(2^(53-M[j])), and apply the alpha_64 estimate
    with the standard linear-counting small-range correction — one
    identically-structured float expression per the batch-twin
    contract."""
    jj = spark.range(HLL_M).select(F.col("id").cast("long").alias("j"))
    grid = regs.select(key).distinct().crossJoin(F.broadcast(jj))
    fullr = grid.join(regs, [key, "j"], "left").select(
        key, F.coalesce("mj", F.lit(0)).alias("mj")
    )
    s = fullr.groupBy(key).agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST({HLL_W + 1} - mj AS INT))"
            )
        )
        .cast("long")
        .alias("s53"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0))
        .cast("long")
        .alias("v"),
    )
    raw = (
        F.lit(HLL_ALPHA64)
        * HLL_M
        * HLL_M
        * F.lit(float(_HLL_POW53))
        / F.col("s53")
    )
    lc = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v"))
    return s.select(
        key,
        F.col("v").alias("n_zero_registers"),
        (
            F.floor(
                F.when((F.col("v") > 0) & (raw <= 2.5 * HLL_M), lc)
                .otherwise(raw)
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("est_users"),
    )


@register(
    "stream_hll_daily_merge",
    oracle=f"""
WITH {_DUCK_HLL_HREGS},
dregs AS (SELECT date_trunc('day', hour) AS day, j,
                 CAST(max(mj) AS BIGINT) AS mj
          FROM hregs GROUP BY 1, 2),
{_duck_hll_summary("dregs", "day")},
hh AS (SELECT hour, CAST(count(DISTINCT user_id) AS BIGINT) AS du
       FROM hx GROUP BY 1),
shu AS (SELECT date_trunc('day', hour) AS day,
               CAST(sum(du) AS BIGINT) AS sum_hourly_users
        FROM hh GROUP BY 1),
nt AS (SELECT date_trunc('day', ts) AS day,
              CAST(count(*) AS BIGINT) AS n_total,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY 1)
SELECT nt.day, nt.n_total, s.v AS n_zero_registers,
       {_DUCK_HLL_EST} AS est_users,
       nt.n_users, shu.sum_hourly_users
FROM nt JOIN s ON s.day = nt.day JOIN shu ON shu.day = nt.day
""",
)
def stream_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-user rollup by MERGING the per-hour HyperLogLog
    sketches — the property that makes HLL the industry default at
    100 TB: register arrays merge by elementwise max, so the daily
    estimate comes from 24 already-computed 64-byte hourly states with
    NO rescan of the event stream (and no risk of the classic
    sum-of-hourly-distincts overcount, emitted alongside as
    ``sum_hourly_users`` for contrast with the exact daily
    ``n_users``).  max is associative, so merging hourly registers is
    definitionally equal to folding the day's events directly — the
    twin reconstructs the merge itself: per-hour grouped-max registers
    (``_hll_hour_regs``, the ``stream_hourly_hll`` core), merged by a
    second grouped max onto days, then the shared estimator
    (``_hll_summary``).

    Exactness: registers and both distinct counts are integers; the
    estimate follows the hourly twin's contract (integer register sum,
    identically-structured float expression, 1e-4 grid).

    Scale: the event stream is touched once for the hourly registers
    (the state the streaming kernel already holds); the merge is a
    (days x 64)-row grouped max.  This is the cross-shard / cross-
    window reduce pattern every production HLL deployment runs."""
    t = Catalog(spark, sf_dir)
    hregs = _hll_hour_regs(t)
    dregs = (
        hregs.groupBy(
            F.date_trunc("day", "hour").alias("day"), F.col("j")
        ).agg(F.max("mj").cast("long").alias("mj"))
    )
    summ = _hll_summary(spark, dregs, "day")
    hh = t.events.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.countDistinct("user_id").cast("long").alias("du")
    )
    shu = hh.groupBy(F.date_trunc("day", "hour").alias("day")).agg(
        F.sum("du").cast("long").alias("sum_hourly_users")
    )
    nt = t.events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return (
        nt.join(summ, "day")
        .join(shu, "day")
        .select(
            "day",
            "n_total",
            "n_zero_registers",
            "est_users",
            "n_users",
            "sum_hourly_users",
        )
    )


@register(
    "stream_hll_returning_users",
    oracle=f"""
WITH {_DUCK_HLL_HREGS},
prev AS (SELECT hour + INTERVAL 1 HOUR AS hour, j, mj FROM hregs),
mregs AS (SELECT hour, j, CAST(max(mj) AS BIGINT) AS mj
          FROM (SELECT * FROM hregs UNION ALL SELECT * FROM prev)
          GROUP BY 1, 2),
{_duck_hll_summary("hregs", "hour")},
{_duck_hll_summary("mregs", "hour", "u")},
{_DUCK_HOURLY_PAIRS},
nu AS (SELECT hour, CAST(count(*) AS BIGINT) AS n_users FROM hu GROUP BY 1),
est AS (SELECT bh.hour,
               {_duck_hll_est("sa")} AS est_prev,
               {_duck_hll_est("sb")} AS est_curr,
               {_duck_hll_est("us")} AS est_union
        FROM bh
        JOIN s sa ON sa.hour = bh.hour - INTERVAL 1 HOUR
        JOIN s sb ON sb.hour = bh.hour
        JOIN us ON us.hour = bh.hour)
SELECT est.hour, est.est_prev, est.est_curr, est.est_union,
       est.est_prev + est.est_curr - est.est_union AS est_returning,
       COALESCE(ret.n_returning, 0) AS n_returning,
       nu.n_users
FROM est
LEFT JOIN ret ON ret.hour = est.hour
JOIN nu ON nu.hour = est.hour
""",
)
def stream_hll_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET INTERSECTION via inclusion-exclusion — the sketch set
    operation a real dashboard computes from stored register state:
    hour-over-hour RETURNING users, |A∩B| ≈ est(A) + est(B) − est(A∪B),
    where the union estimate comes from the elementwise MAX merge of the
    two hours' registers (``stream_hll_daily_merge``'s mergeability,
    pointed at a set operation instead of a rollup), emitted beside the
    EXACT returning-user count so the estimate's error is readable per
    row.  No event rescan: everything derives from the same per-hour
    registers the streaming kernel (``hll_distinct_stream``) already
    holds — intersection is the one set op HLL cannot answer from a
    single sketch, and inclusion-exclusion over merged registers is the
    standard production answer (exact-under-budget KMV is the engine's
    other path, ``stream_hourly_distinct``).

    Exactness: registers and both exact counts are integers; the three
    estimates use the shared identically-structured float expression
    (integer register sum, 1e-4 grid), and the inclusion-exclusion
    combination is one IEEE add/subtract of those already-quantized
    doubles in both engines.  The estimate may be negative for tiny
    overlaps — that is honest HLL behavior and is left unclamped.

    Scale: one event pass for the registers (already held as kernel
    state), then a (hours × 64) shifted-union grouped max and three
    64-row-per-hour summaries — independent of event volume.  This is
    the cross-segment-overlap pattern (audiences, cohorts, A∩B of any
    two stored sketches) at 64 bytes per segment.

    Reference parity: the per-key windowed monitoring count
    (/root/reference/src/monitoring/alerts.py:472-502, the
    window-reset counting loop) extended to the cross-window overlap
    a retention dashboard reads."""
    t = Catalog(spark, sf_dir)
    hregs = materialize(_hll_hour_regs(t))
    prev = hregs.select(
        (F.col("hour") + F.expr("interval 1 hour")).alias("hour"), "j", "mj"
    )
    mregs = (
        hregs.unionByName(prev)
        .groupBy("hour", "j")
        .agg(F.max("mj").cast("long").alias("mj"))
    )
    s = _hll_summary(spark, hregs, "hour")
    us = _hll_summary(spark, mregs, "hour")
    hu = _hourly_users(t)
    both = _consecutive_hours(hu)
    ret = _returning_exact(hu)
    nu = hu.groupBy("hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    est = (
        both.join(
            s.select(
                (F.col("hour") + F.expr("interval 1 hour")).alias("hour"),
                F.col("est_users").alias("est_prev"),
            ),
            "hour",
        )
        .join(
            s.select("hour", F.col("est_users").alias("est_curr")), "hour"
        )
        .join(
            us.select("hour", F.col("est_users").alias("est_union")), "hour"
        )
    )
    return (
        est.join(ret, "hour", "left")
        .join(nu, "hour")
        .select(
            "hour",
            "est_prev",
            "est_curr",
            "est_union",
            (
                F.col("est_prev") + F.col("est_curr") - F.col("est_union")
            ).alias("est_returning"),
            F.coalesce("n_returning", F.lit(0)).cast("long").alias(
                "n_returning"
            ),
            "n_users",
        )
    )


# --- KLL-style bounded quantile sketch ------------------------------------
# the ninth sketch-family member: rank-based compaction quantiles on an
# UNBOUNDED value domain — where the fixed-grid histogram twin above
# (stream_hourly_value_quantiles) is exact only because values land on
# the cent grid, this one's state is bounded by construction (KLL_K
# items per level) whatever the domain.  Deterministic variant: no
# random coin — a full level sorts and keeps its odd ranks, so both
# engines replay the identical cascade (the exactness-over-randomness
# trade every sketch in this family makes; Karnin-Lall-Liberty 2016 is
# the randomized original).


def _duck_kll_levels() -> str:
    """The KLL_LEVELS-deep deterministic compaction cascade as DuckDB
    CTEs over ``vals(d, v, id)``: level l holds items of weight 2^l; a
    level with more than KLL_K items sorts by (v, id) and promotes its
    odd ranks to level l+1 (weight doubled), discarding the evens; a
    level at or under budget is retained as-is.  The top level is
    retained unconditionally (the level budget covers KLL_K·2^14 items
    per key)."""
    parts = ["l0 AS (SELECT d, v, id FROM vals)"]
    keeps = []
    for i in range(KLL_LEVELS):
        parts.append(
            f"""r{i} AS MATERIALIZED (
  SELECT d, v, id,
         row_number() OVER (PARTITION BY d ORDER BY v, id) AS rn,
         count(*) OVER (PARTITION BY d) AS c
  FROM l{i}),
k{i} AS (SELECT d, v, id, CAST({2 ** i} AS BIGINT) AS w
         FROM r{i} WHERE c <= {KLL_K}),
l{i + 1} AS (SELECT d, v, id FROM r{i}
             WHERE c > {KLL_K} AND rn % 2 = 1)"""
        )
        keeps.append(f"SELECT d, v, id, w FROM k{i}")
    keeps.append(
        f"SELECT d, v, id, CAST({2 ** KLL_LEVELS} AS BIGINT) AS w"
        f" FROM l{KLL_LEVELS}"
    )
    parts.append(
        "ret AS MATERIALIZED (" + "\nUNION ALL\n".join(keeps) + ")"
    )
    return ",\n".join(parts)


@register(
    "sketch_kll_quantiles",
    oracle=f"""
WITH vals AS (
  SELECT CAST(ts AS DATE) AS d, value AS v, event_id AS id
  FROM events WHERE value IS NOT NULL),
{_duck_kll_levels()},
vw AS (SELECT d, v, CAST(sum(w) AS BIGINT) AS vw FROM ret GROUP BY d, v),
cum AS (SELECT d, v, CAST(sum(vw) OVER (PARTITION BY d ORDER BY v)
                          AS BIGINT) AS cum FROM vw),
tot AS (SELECT d, CAST(sum(w) AS BIGINT) AS w_total,
               CAST(count(*) AS BIGINT) AS n_retained
        FROM ret GROUP BY d),
nev AS (SELECT d, CAST(count(*) AS BIGINT) AS n_events FROM vals GROUP BY d),
q AS (SELECT * FROM (VALUES {", ".join(f"({p})" for p in QUANT_PCTS)}) t(pct)),
need AS (
  SELECT tot.d, q.pct, nev.n_events, tot.w_total, tot.n_retained,
         (q.pct * tot.w_total + 99) // 100 AS tgt
  FROM tot JOIN nev ON nev.d = tot.d CROSS JOIN q)
SELECT need.d AS day, CAST(need.pct AS INTEGER) AS pct, need.n_events,
       need.w_total, need.n_retained,
       CAST(CASE WHEN need.n_events <= {KLL_K} THEN 1 ELSE 0 END
            AS INTEGER) AS is_exact,
       min(cum.v) AS value
FROM need JOIN cum ON cum.d = need.d AND cum.cum >= need.tgt
GROUP BY 1, 2, 3, 4, 5, 6
""",
)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded quantile SKETCH on an unbounded value domain — per-day
    p50/p90/p99 of ``value`` served from O(KLL_K · log n) retained items
    instead of the day's full value set: all values enter level 0 with
    weight 1; any level holding more than {KLL_K} items sorts by
    (value, event_id) and promotes its odd ranks to the next level with
    doubled weight, discarding the evens (one deterministic compaction
    per level — the batch form of the KLL/MRL compactor cascade, no
    random coin); the percentile is the smallest retained value whose
    cumulative retained weight reaches ceil(q·W) — under budget
    (n <= {KLL_K}, ``is_exact`` = 1) nothing compacts and that IS the
    exact order statistic, the KMV exact-under-budget discipline.

    Exactness (cross-engine): the cascade is pure integer set algebra —
    row_numbers over (value, event_id), parity filters, BIGINT weights —
    and the readout target uses integer ceil division ((pct·W + 99) //
    100, non-negative operands so Spark ``div`` == DuckDB ``//``);
    returned quantiles are raw stored doubles, never arithmetic on them.

    Accuracy (pinned in tests, not assumed): each level-l compaction
    shifts any rank by at most 2^l, so |rank(answer) − target| <=
    Σ 2^l over compacted levels — the test re-derives the cascade in
    pure Python, checks the bound against the EXACT ranks, and fuzzes
    the invariants (weight drift, subset property, level budgets) with
    hypothesis.

    Scale: this is the t-digest/KLL role done exactly — state per key is
    bounded by {KLL_K}·{KLL_LEVELS} items however large the day is (the
    fixed-grid histogram twin ``stream_hourly_value_quantiles`` needs a
    bounded DOMAIN; this needs nothing), each level is one partitioned
    window over a geometrically shrinking frame, and the readout is the
    same cumulative-weight join the histogram twin uses.  The streaming
    kernel (``streaming/jobs.py: kll_quantiles_stream``) maintains the
    same compactor state incrementally with mergeable per-batch updates.

    Reference parity: the reference serves fixed percentiles from full
    in-memory series (/root/reference/src/evaluation/error_analysis.py
    quantile readouts); this is that readout made scale-honest."""
    t = Catalog(spark, sf_dir)
    vals = (
        t.events.filter(F.col("value").isNotNull())
        .select(
            F.to_date("ts").alias("d"),
            F.col("value").alias("v"),
            F.col("event_id").alias("id"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "d")
    )
    ret = _kll_cascade(vals, "d").select(
        "d", "v", "id", F.pow(2, "lvl").cast("long").alias("w")
    )
    return _kll_readout(materialize(ret), vals)


def _kll_cascade(items: DataFrame, *keys: str) -> DataFrame:
    """``(*keys, v, id, lvl)``: the items the KLL compactor cascade keyed
    on ``keys`` retains, each with its level.  A level holding more than
    KLL_K items of a key sorts them by (v, id) and promotes the odd ranks
    to the next level; a level at or under budget is retained whole.  The
    levels run through ``iterate`` until no key promotes (the oracle's
    fixed unroll is empty past that point); after KLL_LEVELS levels the
    remainder is retained at level KLL_LEVELS, because the level budget
    defines the sketch and is not a convergence cap."""
    by_key = W.partitionBy(*keys)

    def level(df: DataFrame) -> DataFrame:
        return df.select(
            *keys,
            "v",
            "id",
            F.row_number().over(by_key.orderBy("v", "id")).alias("rn"),
            F.count(F.lit(1)).over(by_key).alias("c"),
        )

    promoted = (F.col("c") > KLL_K) & (F.col("rn") % 2 == 1)

    def compact(r: DataFrame) -> DataFrame:
        return level(r.filter(promoted).select(*keys, "v", "id"))

    states = iterate(
        level(items), compact, F.count_if(promoted), KLL_LEVELS - 1, budget=True
    )
    kept = [
        r.filter(F.col("c") <= KLL_K).select(*keys, "v", "id", F.lit(i).alias("lvl"))
        for i, r in enumerate(states)
    ]
    kept.append(
        states[-1]
        .filter(promoted)
        .select(*keys, "v", "id", F.lit(len(states)).alias("lvl"))
    )
    return reduce(DataFrame.unionByName, kept)


def _kll_readout(ret: DataFrame, vals: DataFrame) -> DataFrame:
    """Per-day p50/p90/p99 from retained ``(d, v, id, w)`` items: the
    smallest retained value whose cumulative weight reaches
    ceil(pct·W/100), with each day's event count from ``vals``."""
    vw = ret.groupBy("d", "v").agg(F.sum("w").cast("long").alias("vw"))
    cum = vw.withColumn(
        "cum",
        F.sum("vw").over(W.partitionBy("d").orderBy("v")).cast("long"),
    )
    tot = ret.groupBy("d").agg(
        F.sum("w").cast("long").alias("w_total"),
        F.count(F.lit(1)).cast("long").alias("n_retained"),
    )
    nev = vals.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    pcts = ret.sparkSession.createDataFrame([(p,) for p in QUANT_PCTS], "pct int")
    need = (
        tot.join(nev, "d")
        .crossJoin(F.broadcast(pcts))
        .withColumn(
            "tgt", F.expr("(pct * w_total + 99) div 100").cast("long")
        )
    )
    return (
        need.join(cum, "d")
        .filter(F.col("cum") >= F.col("tgt"))
        .groupBy("d", "pct", "n_events", "w_total", "n_retained")
        .agg(F.min("v").alias("value"))
        .select(
            F.col("d").alias("day"),
            "pct",
            "n_events",
            "w_total",
            "n_retained",
            F.when(F.col("n_events") <= KLL_K, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_exact"),
            "value",
        )
    )


# --- KLL sketch MERGE -------------------------------------------------------
# mergeability is what makes a sketch warehouse-native: store one small
# sketch per hour, answer the day (or any hour range) by MERGING states
# instead of rescanning events — the same read the HLL daily merge
# (stream_hll_daily_merge) proves for distinct counts, now for quantiles.

_KLLM_EXTRA = 5  # merge-cascade headroom: 24 hour-sketches per level can
#                  stack <= 24*KLL_K items on one level; ceil(log2 24) < 5


def _duck_kll_hour_levels() -> str:
    """Per-HOUR compaction cascade (partition key (d, h)) retaining each
    item WITH its level — the stored sketch state a real warehouse would
    persist per hour."""
    parts = ["hl0 AS (SELECT d, h, v, id FROM hvals)"]
    keeps = []
    for i in range(KLL_LEVELS):
        parts.append(
            f"""hr{i} AS MATERIALIZED (
  SELECT d, h, v, id,
         row_number() OVER (PARTITION BY d, h ORDER BY v, id) AS rn,
         count(*) OVER (PARTITION BY d, h) AS c
  FROM hl{i}),
hk{i} AS (SELECT d, h, v, id, {i} AS lvl FROM hr{i} WHERE c <= {KLL_K}),
hl{i + 1} AS (SELECT d, h, v, id FROM hr{i}
              WHERE c > {KLL_K} AND rn % 2 = 1)"""
        )
        keeps.append(f"SELECT d, h, v, id, lvl FROM hk{i}")
    keeps.append(
        f"SELECT d, h, v, id, {KLL_LEVELS} AS lvl FROM hl{KLL_LEVELS}"
    )
    parts.append(
        "hret AS MATERIALIZED (" + "\nUNION ALL\n".join(keeps) + ")"
    )
    return ",\n".join(parts)


def _duck_kll_merge_levels() -> str:
    """Day-level MERGE cascade: level l's input is every hour sketch's
    stored level-l items plus the promotions from level l-1; an
    over-budget level promotes its odd ranks and retains nothing, an
    at-budget level is retained whole — the standard KLL merge
    (concatenate level-wise, re-compact bottom-up)."""
    top = KLL_LEVELS + _KLLM_EXTRA
    parts = ["mp0 AS (SELECT d, v, id FROM hret WHERE 1 = 0)"]
    keeps = []
    for i in range(top):
        parts.append(
            f"""mi{i} AS (
  SELECT d, v, id FROM hret WHERE lvl = {i}
  UNION ALL SELECT d, v, id FROM mp{i}),
mr{i} AS MATERIALIZED (
  SELECT d, v, id,
         row_number() OVER (PARTITION BY d ORDER BY v, id) AS rn,
         count(*) OVER (PARTITION BY d) AS c
  FROM mi{i}),
mk{i} AS (SELECT d, v, id, CAST({2 ** i} AS BIGINT) AS w
          FROM mr{i} WHERE c <= {KLL_K}),
mp{i + 1} AS (SELECT d, v, id FROM mr{i}
              WHERE c > {KLL_K} AND rn % 2 = 1)"""
        )
        keeps.append(f"SELECT d, v, id, w FROM mk{i}")
    keeps.append(
        f"SELECT d, v, id, CAST({2 ** top} AS BIGINT) AS w FROM mp{top}"
    )
    parts.append(
        "mret AS MATERIALIZED (" + "\nUNION ALL\n".join(keeps) + ")"
    )
    return ",\n".join(parts)


@register(
    "sketch_kll_merge_daily",
    oracle=f"""
WITH hvals AS (
  SELECT CAST(ts AS DATE) AS d, date_part('hour', ts) AS h,
         value AS v, event_id AS id
  FROM events WHERE value IS NOT NULL),
{_duck_kll_hour_levels()},
{_duck_kll_merge_levels()},
vw AS (SELECT d, v, CAST(sum(w) AS BIGINT) AS vw FROM mret GROUP BY d, v),
cum AS (SELECT d, v, CAST(sum(vw) OVER (PARTITION BY d ORDER BY v)
                          AS BIGINT) AS cum FROM vw),
tot AS (SELECT d, CAST(sum(w) AS BIGINT) AS w_total,
               CAST(count(*) AS BIGINT) AS n_retained
        FROM mret GROUP BY d),
nev AS (SELECT d, CAST(count(*) AS BIGINT) AS n_events FROM hvals GROUP BY d),
q AS (SELECT * FROM (VALUES {", ".join(f"({p})" for p in QUANT_PCTS)}) t(pct)),
need AS (
  SELECT tot.d, q.pct, nev.n_events, tot.w_total, tot.n_retained,
         (q.pct * tot.w_total + 99) // 100 AS tgt
  FROM tot JOIN nev ON nev.d = tot.d CROSS JOIN q)
SELECT need.d AS day, CAST(need.pct AS INTEGER) AS pct, need.n_events,
       need.w_total, need.n_retained,
       CAST(CASE WHEN need.n_events <= {KLL_K} THEN 1 ELSE 0 END
            AS INTEGER) AS is_exact,
       min(cum.v) AS value
FROM need JOIN cum ON cum.d = need.d AND cum.cum >= need.tgt
GROUP BY 1, 2, 3, 4, 5, 6
""",
)
def sketch_kll_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL sketch MERGE — the mergeability read that makes the quantile
    sketch warehouse-native, the tenth sketch-family capability: build
    one bounded sketch per HOUR (the state a dashboard would persist),
    then answer each DAY's p50/p90/p99 by merging the 24 stored hour
    states level-wise and re-compacting — never rescanning events.  The
    quantile answer differs from the single-pass day sketch only within
    the same rank-error envelope (the cross-sketch test pins both
    against exact ranks), and under budget both are the exact order
    statistic.  The HLL daily merge proves this property for distinct
    counts; this proves it for quantiles — together they are why a
    warehouse stores sketch STATE, not answers.

    Merge rule (deterministic twin of Karnin-Lall-Liberty 2016 merge):
    level l of the merged sketch ingests every hour sketch's stored
    level-l items plus the promotions from level l-1; an over-budget
    level sorts by (value, event_id) and promotes its odd ranks with
    doubled weight, retaining nothing; an at-budget level is retained
    whole.  {_KLLM_EXTRA} headroom levels absorb the <= 24·{KLL_K}
    items 24 hour-states can stack on one level.

    Exactness (cross-engine): identical integer set algebra to
    ``sketch_kll_quantiles`` — parity filters, BIGINT weights, integer
    ceil-division readout.  Both cascades checkpoint per level and STOP
    EARLY once every key drains (a lazy single-lineage variant measured
    16.9 s at sf0.1 — exchange reuse does not rescue the 33-level
    fixed unroll — vs ~4 s with the day sketch's eager early-stop
    shape; the oracle keeps the fixed unroll, whose trailing empty
    levels contribute nothing).

    Scale: per-hour state is O({KLL_K}·log n) items; the merge touches
    ONLY stored sketch rows (24·state per day), so a year's percentile
    trend reads ~9k tiny rows per day instead of the events table —
    the entire point of mergeable summaries at 100 TB."""
    t = Catalog(spark, sf_dir)
    hvals = (
        t.events.filter(F.col("value").isNotNull())
        .select(
            F.to_date("ts").alias("d"),
            F.hour("ts").alias("h"),
            F.col("value").alias("v"),
            F.col("event_id").alias("id"),
        )
    )
    # per-hour cascade: retained items keep their LEVEL (the stored state);
    # the stored state is the ONE checkpoint: everything upstream is the
    # build (write path), everything downstream is the merge (read path)
    hret = materialize(
        _kll_cascade(
            hvals.repartition(spark.sparkContext.defaultParallelism, "d"), "d", "h"
        )
    )
    # day-level merge cascade over stored states only, inline rather than
    # through ``iterate``: each level injects the stored items of that
    # level, so an unchanged promotion count is not a fixpoint here.  A
    # 1-row bounded collect of the deepest stored level tells the
    # early-stop when injection is exhausted
    top = KLL_LEVELS + _KLLM_EXTRA
    max_lvl = int(hret.agg(F.max("lvl")).collect()[0][0])
    promo = None
    merge_keeps: list[DataFrame] = []
    i = 0
    for i in range(top):
        mi = hret.filter(F.col("lvl") == i).select("d", "v", "id")
        if promo is not None:
            mi = mi.unionByName(promo)
        r = materialize(
            mi.select(
                "d",
                "v",
                "id",
                F.row_number()
                .over(W.partitionBy("d").orderBy("v", "id"))
                .alias("rn"),
                F.count(F.lit(1)).over(W.partitionBy("d")).alias("c"),
            )
        )
        merge_keeps.append(
            r.filter(F.col("c") <= KLL_K).select(
                "d", "v", "id", F.lit(2**i).cast("long").alias("w")
            )
        )
        promo = r.filter(
            (F.col("c") > KLL_K) & (F.col("rn") % 2 == 1)
        ).select("d", "v", "id")
        # all injection levels consumed and nothing left to promote:
        # every remaining fixed-unroll level is an empty no-op
        if i >= max_lvl and promo.isEmpty():
            break
    merge_keeps.append(
        promo.select(
            "d", "v", "id", F.lit(2 ** (i + 1)).cast("long").alias("w")
        )
    )
    return _kll_readout(reduce(DataFrame.unionByName, merge_keeps), hvals)
