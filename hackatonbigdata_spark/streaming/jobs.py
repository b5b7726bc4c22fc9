"""Live Structured Streaming jobs over the ``events`` table.

The reference is batch-only; these jobs give the engine the incremental
execution mode for the same event semantics defined (and oracle-checked) in
``operators/streaming_batch.py``: a file-source stream with event-time
watermarking, tumbling-window aggregation, threshold alerting, in-stream
dedup, and an ``applyInPandasWithState`` custom stateful counter (the
pattern per-series forecast state would use in production).

tests/test_streaming.py runs each with ``trigger(availableNow=True)`` into a
memory sink and pins the result against the batch twin — the engine's
batch/stream consistency guarantee — plus multi-file (one file = one
micro-batch) streams that inject within-watermark LATE events to pin the
out-of-order paths.

Out-of-order discipline: every ORDER-dependent custom kernel
(sessionizer, funnel, Markov transitions, running TWA, running drawdown,
DGIM trailing count) keeps a bounded buffer of in-horizon events and
treats only data behind the watermark as final — compacted into an O(1)
accumulator — because a late-but-within-watermark event can re-order,
re-split, or merge what a naive kernel would have already folded (or, in
append mode, already emitted).  Append-mode deltas are made retractable
(negative counts) where the consumer aggregates them.

Two state lifecycles serve the custom kernels:

- **Bucket-keyed** (``_bucket_sketch_stream``): the bounded-state
  sketches (space-saving top-k, KMV, bottom-k sample, count-min, grid
  histogram, Bloom, HLL per hour; KLL per day).  State is keyed by the
  event-time bucket, and the single eviction rule removes it, emitting
  nothing, once its event-time timeout fires or the watermark reaches the
  bucket end (the timeout is the bucket end).  Each sketch supplies only
  its schemas, how a pandas chunk becomes items, its pure fold, how the
  sketch is stored and what rows it emits.
- **User-keyed buffer** (``_user_buffer_stream``): Markov transitions,
  running TWA, running drawdown and the DGIM trailing count.  State is
  keyed by user with no timeout: a finalized accumulator plus the
  in-horizon buffer.  Each call splits the sorted buffer at the watermark
  (``_watermark_split``), folds the final prefix into the accumulator and
  emits from the re-folded tail (``refold_step``; transitions use the
  split directly).  Each kernel supplies its event fields, its step, how
  state is loaded and stored and what rows it emits.

The sessionizer, funnel, user counter and burn-rate kernels keep their own
lifecycle, with the difference named at each.

Scale: state is keyed by (window, low-cardinality dim) or user_id; the
10-minute watermark bounds both the compacted state and every in-horizon
buffer, so a long-running job's store stays O(active keys x horizon), not
O(history).
"""

from __future__ import annotations

import copy
import math
from functools import partial
from operator import itemgetter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hackatonbigdata_spark.catalog import scan_events
from hackatonbigdata_spark.functions.core import py_h32, r4
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
    KMV_K,
    QUANT_PCTS,
    SAMPLE_K,
)

WATERMARK = "10 minutes"


# --- pure kernel state machines ---------------------------------------------
# The order-dependent stateful kernels below delegate their whole state
# transition to these module-level PURE functions: (previous state, new
# events, watermark) -> (next state, emissions).  The Spark ``update``
# closures are thin GroupState adapters, so the intricate logic —
# finalization, out-of-order repair, retraction telescoping — is testable
# at full fidelity without a JVM (tests/test_kernel_state_machines.py
# drives them with hypothesis over random arrival orders and batch splits).


def _ts_us(ts) -> int:
    """Epoch microseconds of a pandas timestamp cell."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    return int(pd.Timestamp(ts).value // 1_000)


def _v4(value) -> int:
    """A value on the 1e-4 integer grid: floor(1e4 * v + 0.5), the batch
    twins' quantization."""
    return math.floor(float(value) * 10000 + 0.5)


def _r4(x: float) -> float:
    """``functions.core.r4`` in Python: 4 decimals, half away from zero
    (not Python's banker's ``round``)."""
    return math.copysign(math.floor(abs(x) * 10000 + 0.5), x) / 10000.0


SESSION_GAP_US = 1800 * 1_000_000  # 30 minutes, matching the built-in twin


def fold_sessions(buf, gap_us=SESSION_GAP_US):
    """Sorted (ts_us, v4) events -> sessions [(start, last, n, sv4)] under
    the custom close rule (a gap of EXACTLY ``gap_us`` closes)."""
    sessions = []
    start = last = None
    n = sv4 = 0
    for ts_us, v4 in buf:
        if start is None:
            start, last, n, sv4 = ts_us, ts_us, 0, 0
        elif ts_us - last >= gap_us:
            sessions.append((start, last, n, sv4))
            start, last, n, sv4 = ts_us, ts_us, 0, 0
        last = ts_us
        n += 1
        sv4 += v4
    if start is not None:
        sessions.append((start, last, n, sv4))
    return sessions


def session_step(buf, new_events, wm_us, gap_us=SESSION_GAP_US):
    """One sessionizer transition: merge + sort the in-horizon buffer,
    emit every WATERMARK-FINAL session (last + gap <= wm: no acceptable
    future event can extend, split, or merge it), keep the rest.

    Returns (kept_buf, final_sessions, next_timeout_us_or_None) where the
    timeout is the FIRST pending session's close — firing per boundary so
    a key active near stream end still emits its final prefix."""
    buf = sorted(buf + list(new_events))
    final, kept, keep_from, pos = [], [], 0, 0
    for s in fold_sessions(buf, gap_us):
        if s[1] + gap_us <= wm_us:
            final.append(s)
            keep_from = pos + s[2]
        else:
            kept.append(s)
        pos += s[2]
    buf = buf[keep_from:]
    timeout_us = (kept[0][1] + gap_us) if kept else None
    return buf, final, timeout_us


def transition_tail_counts(last, types):
    """Adjacent-pair counts of ``types`` walked from ``last`` (None for a
    fresh key)."""
    counts = {}
    for t in types:
        if last is not None:
            counts[(last, t)] = counts.get((last, t), 0) + 1
        last = t
    return counts


def _watermark_split(buf, new_events, wm_us):
    """Sort the in-horizon buffer with the new events and split it at the
    watermark: (final prefix with ts < ``wm_us``, in-horizon tail).  No
    acceptable event can sort before the prefix; an event exactly at the
    watermark can still be preceded by one, so it stays in the tail."""
    buf = sorted(buf + list(new_events))
    k = 0
    while k < len(buf) and buf[k][0] < wm_us:
        k += 1
    return buf[:k], buf[k:]


def transition_step(last_final, buf, new_events, wm_us):
    """One Markov-transition transition: returns (new_last_final, kept_buf,
    delta) where ``delta`` is the RETRACTABLE correction — after minus
    before over the in-horizon tail — whose running sum always equals the
    true in-order transition counts.  Events behind the watermark compact
    into ``last_final``."""
    before = transition_tail_counts(last_final, [t for _, _, t in sorted(buf)])
    final, buf = _watermark_split(buf, new_events, wm_us)
    after = transition_tail_counts(last_final, [t for _, _, t in final + buf])
    if final:
        last_final = final[-1][2]
    delta = {
        key: after.get(key, 0) - before.get(key, 0)
        for key in set(after) | set(before)
        if after.get(key, 0) != before.get(key, 0)
    }
    return last_final, buf, delta


def refold_step(fold, project, acc, buf, new_events, wm_us):
    """The out-of-order repair of the running-fold kernels: fold the final
    prefix (``_watermark_split``) into the accumulator, keep the tail, and
    return (acc, tail, emitted) where ``emitted`` is the accumulator
    extended by the re-folded tail — the fold of every event seen, in
    event order.  ``fold(acc, items)`` runs over ``project(event)`` items;
    the tail re-folds a COPY of ``acc`` because a fold may mutate it
    (``dgim_fold`` appends to its list)."""
    final, tail = _watermark_split(buf, new_events, wm_us)
    acc = fold(acc, [project(e) for e in final])
    return acc, tail, fold(copy.copy(acc), [project(e) for e in tail])


def drawdown_fold(acc, events):
    """Fold (cum4, peak4, maxdd4, n) over v4 values in the given order."""
    cum4, peak4, maxdd4, n = acc
    for v4 in events:
        cum4 += v4
        peak4 = max(peak4, cum4)
        maxdd4 = max(maxdd4, peak4 - cum4)
        n += 1
    return cum4, peak4, maxdd4, n


def twa_fold(acc, events):
    """Fold the held-value integral (last_ts_s, last_value, vdt4, dt, n)
    over (ts_us, value) points in the given order."""
    last_ts, last_value, vdt, dt, n = acc
    for ts_us, val in events:
        ts_s = ts_us // 1_000_000
        if last_ts is not None:
            step = ts_s - last_ts
            if step > 0:
                # math.floor(x+0.5), matching the batch twin's
                # floor(value*dt*1e4 + 0.5) for negative products too
                vdt += math.floor((last_value * step) * 10000 + 0.5)
                dt += step
                n += 1
        last_ts, last_value = ts_s, float(val)
    return last_ts, last_value, vdt, dt, n


FUNNEL_STAGES = ["signup", "view", "click", "purchase"]


def funnel_stage_times(bufs):
    """Greedy earliest-advance over per-stage candidate time lists:
    [t1, t2, t3, t4] with None from the first unreached stage."""
    ts_out = []
    prev = None
    for i in range(4):
        cands = [t for t in bufs[i] if t >= prev] if prev is not None else bufs[i]
        if i == 0:
            cur = min(bufs[0]) if bufs[0] else None
        else:
            cur = min(cands) if cands and prev is not None else None
        ts_out.append(cur)
        prev = cur if cur is not None else prev
        if cur is None and i > 0:
            ts_out.extend([None] * (3 - i))
            break
    return (ts_out + [None] * 4)[:4]


def funnel_step(bufs, new_events, wm_us):
    """One funnel transition: append (ts_us, stage_idx) events, recompute
    the greedy stage times, prune every buffered time below
    min(t1, watermark) — provably never choosable again — and return
    (pruned_bufs, stage_times)."""
    bufs = [list(b) for b in bufs]
    for ts_us, i in new_events:
        bufs[i].append(ts_us)
    ts_out = funnel_stage_times(bufs)
    floor_us = min(ts_out[0], wm_us) if ts_out[0] is not None else wm_us
    bufs = [[t for t in b if t >= floor_us] for b in bufs]
    return bufs, ts_out


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet directory — one file = one
    micro-batch under availableNow; in production the same code points at a
    landing directory or Kafka source.  ``ts`` is cast to TIMESTAMP (ltz)
    for watermarking; the session tz is pinned UTC, so the values equal the
    batch catalog's timestamp_ntz column."""
    stream = scan_events(spark, sf_dir, stream=True)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read with the same column types as ``read_events_stream`` — the
    twin input for batch/stream consistency tests."""
    return scan_events(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_hourly_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the ``stream_tumbling_hourly`` query: watermarked
    1-hour tumbling windows per event type."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def threshold_alerts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``stream_threshold_alerts``: 5-minute error-rate
    windows banded at warn 0.15 / critical 0.25
    (threshold semantics from /root/reference/src/monitoring/alerts.py:632-662)."""
    rates = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
    )
    rate = F.col("n_errors") * F.lit(1.0) / F.col("n_total")
    return rates.select(
        F.col("window.start").alias("window_start"),
        "n_total",
        "n_errors",
        F.when((rate > 0.25) & (F.col("n_total") >= 5), "critical")
        .when((rate > 0.15) & (F.col("n_total") >= 5), "warning")
        .otherwise("ok")
        .alias("alert_level"),
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """In-stream dedup: the first (user_id, event_type) occurrence per
    10-minute event-time bucket survives, keep-first by (ts, event_id).

    Expressed as a watermarked windowed ``min_by`` aggregate rather than
    ``dropDuplicates`` because (a) the event-time window is part of the
    state key, so the store is evicted as the watermark advances — a plain
    ``dropDuplicates([user_id, event_type])`` key has no event-time column
    and its state NEVER expires — and (b) the survivor is the
    (ts, event_id)-minimal row, so the stream output equals the oracled
    batch twin ``stream_dedup_within_watermark`` exactly instead of keeping
    whichever duplicate happened to arrive first.  When duplicates are
    byte-identical redeliveries (at-least-once sources), Spark 3.5+'s
    ``dropDuplicatesWithinWatermark`` is the cheaper arrival-order variant."""
    first_row = F.min_by(
        F.struct("event_id", "ts", "value"), F.struct("ts", "event_id")
    )
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id", "event_type", F.window("ts", "10 minutes"))
        .agg(first_row.alias("first_row"))
        .select(
            F.col("first_row.event_id").alias("event_id"),
            "user_id",
            "event_type",
            F.col("first_row.ts").alias("ts"),
            F.col("first_row.value").alias("value"),
        )
    )


def stateful_user_counter_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-user event counter + value total that survives across micro-batches
    — the state pattern a production per-series forecaster (Croston/EWM
    state per (store, product)) plugs into."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    # own lifecycle: commutative totals, no out-of-order buffer to repair
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> None:
    """Drain a stream into an in-memory table with availableNow (test/dev
    path); production uses the same writer with a real sink + checkpoint.
    ``output_mode``: "complete" for windowed aggs, "append" for row streams,
    "update" for stateful operators."""
    (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def interval_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream INTERVAL JOIN: views joined to same-user purchases
    arriving within 30 minutes after them — the live twin of the oracled
    batch query ``stream_interval_join_views``.  Both sides carry a
    watermark and the join condition bounds purchase time relative to view
    time; those bounds are what let Spark evict buffered rows from the
    state store (an unbounded stream-stream join buffers both sides
    forever).  State held: ~watermark + interval width per side, keyed by
    user_id."""
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = v.join(
        p,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= view_ts"
            " AND purchase_ts <= view_ts + interval 30 minutes"
        ),
    )
    return joined.select(
        "view_id",
        "purchase_id",
        "user_id",
        "view_ts",
        "purchase_ts",
        # same truncate-then-diff expression as the oracled batch twin
        F.expr(
            "timestampdiff(SECOND, date_trunc('SECOND', view_ts),"
            " date_trunc('SECOND', purchase_ts))"
        ).cast("long").alias("lag_seconds"),
        r4("value").alias("purchase_value"),
    )


def interval_join_outer_stream(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the inner join above plus
    the eviction semantics Structured Streaming users actually hit: a
    view with NO purchase within its 30-minute window must still emit,
    exactly once, with null purchase columns, and it can only do so when
    the watermark passes ``view_ts + 30 minutes`` (before that a matching
    purchase could still arrive, so the row sits in the state store).
    Matched pairs emit as they join; unmatched views emit on expiry; a
    late-arriving in-window purchase CONVERTS a would-be-null row into a
    real pair (the multi-batch test pins all three behaviors).  Live twin
    of the oracled batch query ``stream_interval_join_outer`` (a plain
    LEFT JOIN with the same interval predicate — withWatermark is a no-op
    in batch, so this one body serves both modes).

    State held: ~watermark + interval width per side, keyed by user_id —
    the same bound as the inner join; the outer variant adds no state,
    only the null emission on eviction.

    Reference semantic precedent: the orphan set-difference check
    (/root/reference/src/data/clean_data.py:303-322) as a continuous
    query — rows of the left table that never find a partner, produced
    incrementally instead of by a full-table anti-join."""
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = v.join(
        p,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= view_ts"
            " AND purchase_ts <= view_ts + interval 30 minutes"
        ),
        "leftOuter",
    )
    return joined.select(
        "view_id",
        "user_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        # same truncate-then-diff expression as the oracled batch twin;
        # null-propagating for unmatched views
        F.expr(
            "timestampdiff(SECOND, date_trunc('SECOND', view_ts),"
            " date_trunc('SECOND', purchase_ts))"
        ).cast("long").alias("lag_seconds"),
        r4("value").alias("purchase_value"),
    )


def interval_join_full_outer_stream(events: DataFrame) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both flanks of the outer
    family at once: matched pairs emit as they join, a view with no
    in-window purchase emits null purchase columns when the watermark
    passes ``view_ts + 30min``, and a purchase with no same-user view in
    the PRECEDING 30 minutes emits null view columns when the watermark
    passes ``purchase_ts`` (its latest possible match is a view at the
    purchase instant).  Each unmatched row emits exactly once, and a late
    in-window arrival on EITHER side converts the would-be-null row into
    a real pair — the multi-batch test pins all of it.  Live twin of the
    oracled batch query ``stream_interval_join_full_outer`` (withWatermark
    is a no-op in batch, so this one body serves both modes).

    State held: ~watermark + interval width per side, keyed by user_id —
    the same bound as the inner and left-outer twins; full-outer adds no
    state, only the second flank's null emission on eviction.

    Reference semantic precedent: the reference's TWO set-difference
    orphan checks (/root/reference/src/data/clean_data.py:303-322) as one
    continuous query — unmatched rows of BOTH tables produced
    incrementally beside the matches."""
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = v.join(
        p,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= view_ts"
            " AND purchase_ts <= view_ts + interval 30 minutes"
        ),
        "fullOuter",
    )
    return joined.select(
        "view_id",
        # the surviving key lives on whichever side is non-null per row
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        "view_ts",
        "purchase_id",
        "purchase_ts",
        # same truncate-then-diff expression as the oracled batch twin;
        # null-propagating on BOTH unmatched sides
        F.expr(
            "timestampdiff(SECOND, date_trunc('SECOND', view_ts),"
            " date_trunc('SECOND', purchase_ts))"
        ).cast("long").alias("lag_seconds"),
        r4("value").alias("purchase_value"),
    )


def upsert_serving_table_stream(
    spark: SparkSession, sf_dir: str, target_path: str
) -> None:
    """``foreachBatch`` sink: each micro-batch of the hourly aggregate
    MERGEs into a parquet serving table keyed by (window_start, event_type)
    — the production pattern for keeping a queryable table incrementally
    fresh from a stream when the store has no native streaming MERGE.
    Update-mode emissions re-upsert a window every time late data revises
    it, so the table converges to the batch aggregate.

    Scale/semantics: the upsert is idempotent per key (a replayed batch
    after a failure rewrites the same rows), which is what makes
    foreachBatch + MERGE exactly-once at the table level even though
    foreachBatch itself is at-least-once.  On Delta/Iceberg the body
    becomes a native MERGE INTO; the staged-parquet rewrite here is scoped
    the same way."""
    import os  # noqa: PLC0415

    from hackatonbigdata_spark.sources.io import upsert_parquet  # noqa: PLC0415

    agg = tumbling_hourly_stream(read_events_stream(spark, sf_dir))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if os.path.isdir(target_path):
            upsert_parquet(
                spark, target_path, batch_df, ["window_start", "event_type"]
            )
        else:
            batch_df.write.mode("overwrite").parquet(target_path)

    (
        agg.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def session_windows_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``stream_session_windows``: 30-minute-gap session
    windows per user under the watermark.  In append mode a session emits
    only once the watermark passes its end — sessions still open (or ending
    within the watermark of the final event) are withheld, which
    tests/test_streaming.py pins against the batch result."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def rate_limit_stream(events: DataFrame) -> DataFrame:
    """Live twin of ``stream_alert_rate_limit``: at most one error alert per
    (user, 5-minute window).  Uses ``dropDuplicatesWithinWatermark`` (Spark
    3.5+) — state for a key is dropped once the watermark passes its event
    time, so a long-running job holds O(active windows × alerting users)
    state, and duplicates arriving inside the watermark are suppressed.
    Within a micro-batch the survivor is the first ARRIVAL; the oracled
    batch twin keeps the (ts, event_id)-minimal row instead, so the test
    pins per-window alert counts and membership, not the surviving row id."""
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 300).cast("long") * 300
    )
    return (
        events.filter(F.col("event_type") == "error")
        .withWatermark("ts", WATERMARK)
        # arithmetic 5-min bucket, NOT F.window(): a window over a
        # watermarked column would introduce a second event-time column,
        # which streaming dedup rejects
        .withColumn("win", bucket)
        .dropDuplicatesWithinWatermark(["user_id", "win"])
        .select("event_id", "user_id", "ts")
    )


# --- user-keyed out-of-order buffer lifecycle -------------------------------


def _columns(rows, width: int) -> list:
    """Tuples -> ``width`` parallel lists, the array columns of a state."""
    return [[r[i] for r in rows] for i in range(width)]


def _user_buffer_update(columns, event, empty, load, step, store, emit):
    """The ``applyInPandasWithState`` update shared by the user-keyed
    kernels that repair out-of-order arrivals with an in-horizon buffer.
    Per call: start from ``load(*stored)`` or ``(empty(), [])`` as
    ``(acc, buf)``; gather one ``(ts_us, *event(*row))`` per row of the
    ``columns``; run ``step(acc, buf, events, watermark_us)`` ->
    ``(acc, buf, out)``; store ``store(acc, buf)`` and emit the rows of
    ``emit(user_id, out)``."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def update(key, pdfs, state: GroupState):
        acc, buf = load(*state.get) if state.exists else (empty(), [])
        new_events = [
            (_ts_us(ts), *event(*row))
            for pdf in pdfs
            for ts, *row in zip(pdf["ts"], *(pdf[c] for c in columns))
        ]
        acc, buf, out = step(
            acc, buf, new_events, state.getCurrentWatermarkMs() * 1000
        )
        state.update(store(acc, buf))
        rows = emit(key[0], out)
        if rows:
            yield pd.DataFrame(rows)

    return update


def _user_buffer_stream(
    events, out_schema, state_schema, output_mode, **kernel
) -> DataFrame:
    """Run ``_user_buffer_update(**kernel)`` per watermarked user in
    ``output_mode``, with no timeout: nothing per user ever expires, and
    the watermark bounds the buffer."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_buffer_update(**kernel),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode=output_mode,
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def transition_counts_stream(events: DataFrame) -> DataFrame:
    """Per-user Markov transition extraction as a custom stateful operator
    — the live twin of the batch ``seq_event_transitions`` query (whose
    oracle value-verifies the shared semantics).  Emits per-batch DELTA
    rows (prev, next, count); the consumer aggregates deltas, exactly how
    a streaming transition matrix is maintained in production.

    Adjacency is ORDER-dependent, so the deltas are RETRACTABLE
    (Flink-style): state = the last FINALIZED event type plus a bounded
    buffer of in-horizon events; each invocation re-sorts the buffer,
    recomputes the tail's transition counts, and emits the difference
    against what the tail contributed last time — negative ``n_trans``
    retracts a pair that a late-but-within-watermark event just split.
    The running delta sum therefore equals the true in-order transition
    counts after every batch, while events older than the watermark
    compact into a single string of state."""
    return _user_buffer_stream(
        events,
        "prev_type string, next_type string, n_trans long",
        "last_type string, bts array<long>, beid array<long>,"
        " betype array<string>",
        "append",
        columns=("event_id", "event_type"),
        event=lambda eid, t: (int(eid), t),
        empty=lambda: None,
        load=lambda last, *cols: (last, list(zip(*cols))),
        step=transition_step,
        store=lambda last, buf: (last, *_columns(buf, 3)),
        emit=lambda uid, delta: [
            {"prev_type": a, "next_type": b, "n_trans": c}
            for (a, b), c in delta.items()
        ],
    )


def time_weighted_avg_stream(events: DataFrame) -> DataFrame:
    """Running time-weighted average per user as a custom stateful
    operator — the live twin of the batch ``time_weighted_avg`` query.

    The held-value integral is ORDER-dependent, so state = the
    FINALIZED accumulator (last finalized point + Σv·dt in 1e-4 integer
    units + Σdt over events with ts < watermark) plus a bounded buffer of
    in-horizon events; each invocation re-sorts the buffer, recomputes
    the integral tail from the finalized point, and emits the up-to-date
    running TWA (update mode overwrites), so a late-but-within-watermark
    event re-times its neighboring intervals correctly instead of being
    integrated where it arrived."""

    def emit(uid, integral):
        _, _, vdt, dt, n = integral
        if dt <= 0:
            return []
        return [
            {
                "user_id": uid,
                "n_intervals": n,
                "span_seconds": dt,
                "twa_value": _r4(vdt / (dt * 10000.0)),
            }
        ]

    return _user_buffer_stream(
        events,
        "user_id long, n_intervals long, span_seconds long, twa_value double",
        "last_ts long, last_value double, vdt long, dt long, n long,"
        " bts array<long>, beid array<long>, bval array<double>",
        "update",
        columns=("event_id", "value"),
        event=lambda eid, val: (int(eid), float(val)),
        empty=lambda: (None, None, 0, 0, 0),
        load=lambda *s: (s[:5], list(zip(*s[5:]))),
        step=partial(refold_step, twa_fold, itemgetter(0, 2)),
        store=lambda acc, buf: (*acc, *_columns(buf, 3)),
        emit=emit,
    )


def enriched_segment_hourly_stream(
    events: DataFrame, customers: DataFrame
) -> DataFrame:
    """STREAM-STATIC join twin: the event stream broadcast-joins the
    customer dimension (user_id + 1 = c_custkey in this testdata) and
    aggregates hourly value per market segment — the canonical streaming
    enrichment topology (facts stream, dims are a static snapshot that
    Spark re-reads per micro-batch; with a broadcast dim the join adds no
    shuffle to the stream).  Values are quantized to the 1e-4 integer grid
    inside the aggregate so batch and stream sums agree exactly regardless
    of micro-batch accumulation order."""
    dim = customers.select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    joined = (
        events.withWatermark("ts", WATERMARK)
        .join(F.broadcast(dim), F.col("user_id") + 1 == F.col("cust_id"), "left")
        .select(
            "ts",
            F.coalesce(F.col("segment"), F.lit("UNKNOWN")).alias("segment"),
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v4"),
        )
    )
    return (
        joined.groupBy(F.window("ts", "1 hour"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v4").cast("long").alias("sum_v4"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "segment",
            "n_events",
            "sum_v4",
        )
    )


def running_drawdown_stream(events: DataFrame) -> DataFrame:
    """Per-user running peak-to-trough drawdown over the cumulative value
    series as a custom stateful operator — the live twin of the
    ``window_max_drawdown`` measure, re-based onto the event stream.

    The cumulative path is ORDER-dependent, so the state splits into
    a FINALIZED accumulator (cum/peak/maxdd over events whose ts has
    passed the watermark — no earlier event can still arrive) plus a
    bounded buffer of in-horizon events; each invocation re-sorts the
    buffer, recomputes the path tail from the finalized point, and emits
    the up-to-date extrema (update mode overwrites), so a
    late-but-within-watermark event re-orders the path correctly instead
    of being appended where it arrived.  All arithmetic is integer 1e-4
    units — exact across batch boundaries and accumulation orders."""

    def emit(uid, path):
        cum4, peak4, maxdd4, n = path
        return [
            {
                "user_id": uid,
                "n_events": n,
                "final_cum4": cum4,
                "peak4": peak4,
                "max_dd4": maxdd4,
            }
        ]

    return _user_buffer_stream(
        events,
        "user_id long, n_events long, final_cum4 long, peak4 long, max_dd4 long",
        "cum4 long, peak4 long, maxdd4 long, n long,"
        " bts array<long>, beid array<long>, bv4 array<long>",
        "update",
        columns=("event_id", "value"),
        event=lambda eid, val: (int(eid), _v4(val)),
        empty=lambda: (0, 0, 0, 0),
        load=lambda *s: (s[:4], list(zip(*s[4:]))),
        step=partial(refold_step, drawdown_fold, itemgetter(2)),
        store=lambda acc, buf: (*acc, *_columns(buf, 3)),
        emit=emit,
    )


def burnrate_stream(events: DataFrame) -> DataFrame:
    """Live twin of ``alert_error_burnrate``: multi-window burn-rate paging
    as ONE stateful operator.  State is the bounded hourly grid itself —
    three parallel arrays (hour epoch, total, errors) — so each micro-batch
    folds its events into the grid and re-emits EVERY hour's current
    alert row (update mode keeps the last, so late data inside the
    watermark retroactively fixes both the 1-hour rate of its own hour and
    the 6-hour rate of the five hours after it).  The 6-hour frame uses
    ROWS semantics over existing hours, exactly like the batch window.

    Keyed by a constant shard here because the batch semantics are global;
    production keys by service.  State IS bounded: each
    batch evicts grid hours that sit more than 5 ROWS-frame positions
    before the watermark hour — no surviving or future row's 6-hour frame
    can reach them (touched hours are >= the watermark hour, and a frame
    looks back exactly 5 existing rows) — and re-emits only the rows at or
    after the first touched hour (update mode keeps the last emission per
    hour, so untouched earlier hours stand on their prior, final row).
    State and per-batch output are O(watermark delay + 6h frame) hours,
    not O(job lifetime)."""
    import bisect  # noqa: PLC0415 — worker-side import

    import pandas as pd  # noqa: PLC0415 — worker-side import

    out_schema = (
        "hour timestamp, n_err long, n_all long,"
        " rate_1h double, rate_6h double, burn_1h double, page_alert boolean"
    )
    state_schema = "hs array<long>, na array<long>, ne array<long>"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            hs, na, ne = state.get
            grid = {h: [a, e] for h, a, e in zip(hs, na, ne)}
        else:
            grid = {}
        touched = set()
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            full = pd.concat(chunks)
            hour = full["ts"].dt.floor("h")
            for h, is_err in zip(hour, full["event_type"] == "error"):
                epoch = int(pd.Timestamp(h).value // 1_000_000_000)
                cell = grid.setdefault(epoch, [0, 0])
                cell[0] += 1
                if is_err:
                    cell[1] += 1
                touched.add(epoch)
        hours = sorted(grid)
        # evict hours no row's ROWS-frame can reach anymore: all touched
        # hours are >= the watermark hour, and a 6-hour frame looks back 5
        # existing rows, so everything more than 5 positions before the
        # watermark hour's insertion point is final and frame-invisible
        wm_hour = state.getCurrentWatermarkMs() // 1000 // 3600 * 3600
        keep_from = max(0, bisect.bisect_left(hours, wm_hour) - 5)
        for h in hours[:keep_from]:
            del grid[h]
        hours = hours[keep_from:]
        state.update(
            (
                hours,
                [grid[h][0] for h in hours],
                [grid[h][1] for h in hours],
            )
        )
        if not touched:
            return
        emit_from = bisect.bisect_left(hours, min(touched))
        rows = []
        for i, h in enumerate(hours):
            if i < emit_from:
                continue
            lo = max(0, i - 5)  # ROWS BETWEEN 5 PRECEDING AND CURRENT ROW
            all6 = sum(grid[hours[j]][0] for j in range(lo, i + 1))
            err6 = sum(grid[hours[j]][1] for j in range(lo, i + 1))
            n_all, n_err = grid[h]
            r1 = n_err / n_all
            r6 = err6 / all6
            rows.append(
                {
                    "hour": pd.Timestamp(h, unit="s"),
                    "n_err": n_err,
                    "n_all": n_all,
                    "rate_1h": _r4(r1),
                    "rate_6h": _r4(r6),
                    "burn_1h": _r4(r1 / 0.2),
                    "page_alert": bool(r1 > 0.28 and r6 > 0.24),
                }
            )
        if rows:
            yield pd.DataFrame(rows)

    # own lifecycle: one constant shard, not a user key; the grid evicts itself
    return (
        events.withWatermark("ts", WATERMARK)
        # materialized column, not groupBy(lit): grouping expressions must
        # resolve against the child's output for stateful pandas ops
        .withColumn("shard", F.lit(0))
        .groupBy("shard")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_gap_kernel_stream(events: DataFrame) -> DataFrame:
    """Custom sessionizer with EVENT-TIME TIMEOUT and full OUT-OF-ORDER
    correctness: sessions are emitted only once they are WATERMARK-FINAL —
    the same discipline the built-in ``session_window`` uses — because a
    late-but-within-watermark event can extend a session, split it
    differently, or MERGE two apparent sessions into one, and append-mode
    output cannot retract an early emission (a multi-batch out-of-order
    test pins this).

    Per user the state is the bounded buffer of (ts, quantized value)
    events still inside the merge horizon.  Each invocation folds the
    sorted buffer into sessions with the custom close rule (a gap of
    EXACTLY 30:00 closes — end-exclusive, the ``session_gaps_custom_close``
    batch-twin semantics), emits every session whose last event + gap <=
    watermark (no future event can reach it: any acceptable event has
    ts >= watermark >= last + gap, which starts a new session), and keeps
    only the remaining events — O(watermark delay + gap) per key, evicted
    by ``state.remove()``.  The event-time timeout (clamped above the
    watermark, which Spark rejects otherwise) fires the final no-data
    micro-batch close for abandoned sessions via ``state.hasTimedOut``.

    Session timestamps carry epoch MICROSECONDS through state:
    ``session_window`` boundaries are microsecond-precise, so
    second-truncated state would misalign the starts."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp,"
        " n_events long, sum_v4 long"
    )
    state_schema = "ts array<long>, v4 array<long>"

    def row(uid, s):
        start, last, n, sv4 = s
        return {
            "user_id": uid,
            "session_start": pd.Timestamp(start, unit="us"),
            "session_end": pd.Timestamp(last, unit="us"),
            "n_events": n,
            "sum_v4": sv4,
        }

    def update(key, pdfs, state: GroupState):
        uid = key[0]
        buf = list(zip(*state.get)) if state.exists else []
        new_events = []
        if not state.hasTimedOut:
            for pdf in pdfs:
                for ts, val in zip(pdf["ts"], pdf["value"]):
                    new_events.append((_ts_us(ts), _v4(val)))
        if not buf and not new_events:
            # a key invoked with only empty chunks and no prior state has
            # nothing to track
            return
        wm_ms = state.getCurrentWatermarkMs()
        buf, final, timeout_us = session_step(buf, new_events, wm_ms * 1000)
        if buf:
            state.update(([t for t, _ in buf], [v for _, v in buf]))
            # Spark rejects a timeout at or below the current watermark —
            # clamp just above (defensive: the kept head is always > wm,
            # or it would have been final)
            timeout_ms = timeout_us // 1000
            if timeout_ms <= wm_ms:
                timeout_ms = wm_ms + 1
            state.setTimeoutTimestamp(timeout_ms)
        elif state.exists:
            state.remove()
        if final:
            yield pd.DataFrame([row(uid, s) for s in final])

    # own lifecycle: an event-time timeout at each session close
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def funnel_stage_kernel_stream(events: DataFrame) -> DataFrame:
    """Live twin of ``event_funnel_conversion``'s greedy earliest-advance
    funnel (signup -> view -> click -> purchase; a stage's time is the
    earliest event of its type at-or-after the previous stage's time) as a
    per-user stateful kernel WITH OUT-OF-ORDER REPAIR: greedy stage times
    are not prefix-monotone — a late-but-within-watermark view can LOWER
    t2 and thereby re-open better clicks for t3 — so the state keeps
    per-stage candidate time buffers and re-runs the greedy advance each
    micro-batch, then re-emits the user's row (update mode keeps the
    last).

    State stays bounded: any buffered time below min(t1, watermark) can
    never be chosen again — every stage time is >= t1, and t1 itself can
    only be lowered by an event still above the watermark — so those
    entries are pruned each invocation.  In steady state a user's buffers
    hold only the watermark horizon, not their history.

    Output per user: the four stage times (null while unreached) and
    stage_reached; the batch twin's per-stage user counts are exactly the
    non-null counts over the final rows (pinned by
    tests/test_streaming.py)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    out_schema = (
        "user_id long, stage_reached int, t1 timestamp, t2 timestamp,"
        " t3 timestamp, t4 timestamp"
    )
    state_schema = (
        "b1 array<long>, b2 array<long>, b3 array<long>, b4 array<long>"
    )

    def update(key, pdfs, state: GroupState):
        uid = key[0]
        bufs = [list(b) for b in state.get] if state.exists else [[], [], [], []]
        new_events = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                try:
                    i = FUNNEL_STAGES.index(et)
                except ValueError:
                    continue
                new_events.append((_ts_us(ts), i))
        if not new_events:
            return
        bufs, ts_out = funnel_step(
            bufs, new_events, state.getCurrentWatermarkMs() * 1000
        )
        state.update(tuple(bufs))
        reached = sum(1 for t in ts_out if t is not None)
        yield pd.DataFrame(
            [
                {
                    "user_id": uid,
                    "stage_reached": reached,
                    **{
                        f"t{i + 1}": (
                            pd.Timestamp(t, unit="us") if t is not None else None
                        )
                        for i, t in enumerate(ts_out)
                    },
                }
            ]
        )

    # own lifecycle: per-stage buffers pruned at min(t1, watermark)
    return (
        events.withWatermark("ts", WATERMARK)
        .select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- bounded-state sketches per time bucket ----------------------------------

_BUCKET_US = {"hour": 3600 * 1_000_000, "day": 24 * 3600 * 1_000_000}


def _bucket_sketch_update(bucket, empty, load, items, fold, store, emit):
    """The ``applyInPandasWithState`` update shared by the sketch streams
    keyed by an event-time ``bucket`` ("hour" or "day").  Per call: evict
    the state, emitting nothing, once it timed out or the watermark reached
    the bucket end (no event for the bucket can still be accepted, and its
    final rows went out with its last data batch); otherwise gather
    ``items(pdf)`` over the chunks, and when there are any, fold them into
    the sketch (``load(*stored)`` or ``empty()``), store ``(*store(sketch),
    n)``, set the timeout to max(bucket end, watermark + 1), which is the
    bucket end (a watermark at or past it evicted above) and emit
    ``emit(sketch)`` rows stamped with the bucket and ``n_total``, the
    events absorbed so far."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    span_us = _BUCKET_US[bucket]

    def update(key, pdfs, state: GroupState):
        b = key[0]
        end_ms = (_ts_us(b) + span_us) // 1000
        wm_ms = state.getCurrentWatermarkMs()
        if state.hasTimedOut or wm_ms >= end_ms:
            if state.exists:
                state.remove()
            return
        new = [it for pdf in pdfs for it in items(pdf)]
        if not new:
            return
        if state.exists:
            *stored, n = state.get
            sketch = load(*stored)
        else:
            sketch, n = empty(), 0
        n += len(new)
        sketch = fold(sketch, new)
        state.update((*store(sketch), n))
        state.setTimeoutTimestamp(max(end_ms, wm_ms + 1))
        yield pd.DataFrame(
            [{bucket: b, "n_total": n, **row} for row in emit(sketch)]
        )

    return update


def _user_ids(pdf) -> list:
    return [int(u) for u in pdf["user_id"]]


def _bucket_sketch_stream(
    events, bucket, out_schema, state_schema, **sketch
) -> DataFrame:
    """Run ``_bucket_sketch_update(bucket, **sketch)`` per watermarked
    bucket in update mode, evicted by event-time timeout."""
    col = F.date_trunc("hour", "ts") if bucket == "hour" else F.to_date("ts")
    return (
        events.withWatermark("ts", WATERMARK)
        .withColumn(bucket, col)
        .groupBy(bucket)
        .applyInPandasWithState(
            _bucket_sketch_update(bucket, **sketch),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


HH_K = 32  # space-saving counter budget per hour bucket


def spacesaving_update(counters, items, k=HH_K):
    """One space-saving (Metwally et al. 2005) sketch pass: ``counters``
    maps key -> [est_count, err].  A known key increments; a new key takes
    a free slot; otherwise it REPLACES the minimum counter, inheriting its
    count as the overestimation error.  Mutates and returns ``counters``.

    Invariants (fuzzed in tests/test_kernel_state_machines.py): state never
    exceeds k entries; sum of estimates equals items seen; true <= est <=
    true + err; any key absent from the sketch has true count <= the
    sketch's minimum estimate (<= n/k) — so every hitter above n/k is
    tracked.  With <= k distinct keys the sketch IS the exact multiset
    count (err 0), which is what the batch-equality pin exploits.  The
    victim tie-break (count, key) keeps replacement deterministic."""
    for it in items:
        if it in counters:
            counters[it][0] += 1
        elif len(counters) < k:
            counters[it] = [1, 0]
        else:
            victim = min(counters, key=lambda c: (counters[c][0], c))
            vcnt = counters[victim][0]
            del counters[victim]
            counters[it] = [vcnt + 1, vcnt]
    return counters


def spacesaving_topk(counters, n):
    """Top-n (key, [est, err]) by (estimate desc, key asc)."""
    return sorted(counters.items(), key=lambda kv: (-kv[1][0], kv[0]))[:n]


def heavyhitters_topk_stream(events: DataFrame, k: int = HH_K) -> DataFrame:
    """Per-hour top-3 heavy hitters with BOUNDED state: each hour bucket
    holds a k=32-counter space-saving sketch — O(k) per key no matter how
    many distinct users an hour sees, the property that lets a
    1000-executor job track hitters over millions of users per bucket.
    Update-mode emission: each micro-batch re-emits the bucket's current
    top-3 stamped with ``n_total`` (events absorbed so far), so the final
    row set per hour is the one with the maximum n_total (monotone per
    key).  The sketch guarantee is ORDER-INSENSITIVE (any arrival order
    yields estimates within the same error bound, and with <= k distinct
    users the exact counts), so no out-of-order buffer is needed — unlike
    the path-dependent kernels above.

    State is evicted when the watermark reaches the hour's end (no event
    for the bucket can still be accepted), by the event-time timeout of
    the shared ``_bucket_sketch_stream`` lifecycle.

    Batch twin: ``stream_hourly_heavy_hitters`` (oracled); the streaming
    test pins stream == batch exactly because sf events have < 32 distinct
    users per hour."""
    return _bucket_sketch_stream(
        events,
        "hour",
        "hour timestamp, n_total long, rnk long, user_id long,"
        " n_events long, err long",
        "keys array<long>, cnts array<long>, errs array<long>, n long",
        empty=dict,
        load=lambda keys, cnts, errs: {
            k_: [c, e] for k_, c, e in zip(keys, cnts, errs)
        },
        items=_user_ids,
        fold=lambda counters, new: spacesaving_update(counters, new, k),
        store=lambda counters: (
            list(counters),
            [c for c, _ in counters.values()],
            [e for _, e in counters.values()],
        ),
        emit=lambda counters: [
            {"rnk": i + 1, "user_id": k_, "n_events": ce[0], "err": ce[1]}
            for i, (k_, ce) in enumerate(spacesaving_topk(counters, 3))
        ],
    )


_M64 = (1 << 64) - 1
_M63 = (1 << 63) - 1  # sketch hashes masked to 63 bits (fit a signed long)


def kmv_hash(x: int) -> int:
    """Deterministic 63-bit mix of an integer key (splitmix64 finalizer,
    public-domain constants), masked to a signed-long-safe range so the
    sketch state round-trips through an ``array<long>`` state column.
    Python's builtin ``hash`` is salted per process for str and would make
    executor restarts non-deterministic; this mix is stable everywhere."""
    z = (x + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return (z ^ (z >> 31)) & _M63


def kmv_update(sketch: set, items, k: int = KMV_K) -> set:
    """One bottom-k (KMV, Bar-Yossef et al. 2002) pass: ``sketch`` is the
    set of the k SMALLEST distinct hashes seen so far.  Mutates and
    returns it.

    Invariants (fuzzed in tests/test_kernel_state_machines.py): state
    never exceeds k entries; the state equals the k smallest distinct
    hashes of everything seen — a pure SET property, so the sketch is
    fully ORDER- and CHUNKING-insensitive and duplicate-blind; while
    |state| < k the estimate IS the exact distinct count, which is what
    the batch-equality pin exploits."""
    for it in items:
        h = kmv_hash(it)
        if h in sketch:
            continue
        if len(sketch) < k:
            sketch.add(h)
        else:
            mx = max(sketch)
            if h < mx:
                sketch.discard(mx)
                sketch.add(h)
    return sketch


def kmv_estimate(sketch: set, k: int = KMV_K) -> tuple[int, bool]:
    """(estimate, exact?) — exact while the sketch is under budget; at
    budget, the classic (k-1)/U_(k) estimator on the 63-bit hash space."""
    if len(sketch) < k:
        return len(sketch), True
    kth = max(sketch)
    return int(round((k - 1) * float(1 << 63) / float(kth + 1))), False


def distinct_kmv_stream(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Per-hour distinct-user count with BOUNDED state: each hour bucket
    keeps only the k=32 smallest user-id hashes (bottom-k / KMV sketch) —
    O(k) per bucket no matter how many distinct users the hour sees, the
    companion cardinality sketch to the space-saving heavy-hitters kernel
    above.  Because the sketch is a pure set-of-minima, it needs NO
    out-of-order buffer: any arrival order, chunking, or duplication
    yields the identical state, so late-but-within-watermark events are
    absorbed exactly.

    Update-mode emission: each micro-batch re-emits the bucket's current
    (estimate, exact?) stamped with ``n_total`` events absorbed, so the
    final row per hour is the one with the maximum n_total.  State is
    evicted by event-time timeout once the watermark passes the hour end,
    like every bucketed sketch.

    Batch twin: ``stream_hourly_distinct`` (oracled exact per-hour
    COUNT(DISTINCT)); the streaming test pins stream == batch exactly
    because sf events hold < 32 distinct users per hour (the sketch is
    exact under budget)."""
    return _bucket_sketch_stream(
        events,
        "hour",
        "hour timestamp, n_total long, n_users long, exact boolean",
        "hashes array<long>, n long",
        empty=set,
        load=set,
        items=_user_ids,
        fold=lambda sketch, new: kmv_update(sketch, new, k),
        store=lambda sketch: (sorted(sketch),),
        emit=lambda sketch: [
            dict(zip(("n_users", "exact"), kmv_estimate(sketch, k)))
        ],
    )


def sample_hash(event_id: int) -> int:
    """The engine's shared 32-bit content hash (first 8 md5 hex chars of
    the DECIMAL string form) — identical to the Spark/DuckDB expression
    the batch twin ranks by, so stream and batch select the same rows."""
    return py_h32(str(int(event_id)))


def bottomk_update(sample: list, items, k: int = SAMPLE_K) -> list:
    """One bottom-k sampling pass: ``sample`` is the sorted list of the k
    (hash, event_id, user_id) triples with the smallest (hash, event_id)
    among all DISTINCT events seen.  Returns the new list.

    Invariants (fuzzed in tests/test_kernel_state_machines.py): the state
    IS the k smallest distinct events by (hash, id) — a pure set-of-minima
    property, so the sample is ORDER-, CHUNKING- and DUPLICATE-insensitive
    and needs no out-of-order buffer; because hashing induces a uniform
    random order on event ids, the k minima are a uniform sample without
    replacement, and the stream result ALWAYS equals the batch ranking
    (exact at every scale, unlike the estimator sketches)."""
    merged = dict()
    for h, eid, uid in sample:
        merged[eid] = (h, eid, uid)
    for eid, uid in items:
        if eid not in merged:
            merged[eid] = (sample_hash(eid), eid, uid)
    return sorted(merged.values())[:k]


def sample_bottomk_stream(events: DataFrame, k: int = SAMPLE_K) -> DataFrame:
    """Per-hour deterministic uniform sample with BOUNDED state: each hour
    bucket keeps only the k events whose id hashes smallest (bottom-k
    sampling) — O(k) per bucket for any event volume, the third member of
    the bounded-state family (space-saving heavy hitters, KMV distinct,
    bottom-k sample).  Pure set-of-minima state: any arrival order,
    chunking, or replay yields the identical sample, so
    late-but-within-watermark events are absorbed exactly and the final
    emission per hour equals the batch twin ``stream_hourly_sample``
    EXACTLY — always, not just under a budget.

    Update-mode emission: each micro-batch re-emits the bucket's current
    ranked sample stamped with ``n_total`` events absorbed; final rows per
    hour are those with the maximum n_total.  State evicts by event-time
    timeout once the watermark passes the hour end."""
    return _bucket_sketch_stream(
        events,
        "hour",
        "hour timestamp, n_total long, rnk long, event_id long,"
        " user_id long, h long",
        "hs array<long>, ids array<long>, uids array<long>, n long",
        empty=list,
        load=lambda hs, ids, uids: sorted(zip(hs, ids, uids)),
        items=lambda pdf: [
            (int(e), int(u)) for e, u in zip(pdf["event_id"], pdf["user_id"])
        ],
        fold=lambda sample, new: bottomk_update(sample, new, k),
        store=lambda sample: (
            [h for h, _, _ in sample],
            [e for _, e, _ in sample],
            [u for _, _, u in sample],
        ),
        emit=lambda sample: [
            {"rnk": i + 1, "event_id": eid, "user_id": uid, "h": h}
            for i, (h, eid, uid) in enumerate(sample)
        ],
    )


DGIM_WINDOW_US = 21600 * 1_000_000  # 6-hour trailing window (== batch twin)


def dgim_fold(buckets: list, ts_events, r: int = 2) -> list:
    """DGIM bucket maintenance (Datar, Gionis, Indyk, Motwani 2002):
    ``buckets`` is the oldest-first list of (newest_ts, size) with sizes
    powers of two; each new event appends a size-1 bucket, and whenever
    more than ``r`` buckets share a size the two OLDEST of that size merge
    into one of double size carrying the newer timestamp.  Events must
    arrive in non-decreasing ts order (callers sort).

    Invariants (fuzzed in tests/test_kernel_state_machines.py): at most r
    buckets per size; sizes non-increasing and timestamps non-decreasing
    from oldest to newest; the total size always equals the number of
    events folded (merging never loses counts).  Without expiry the list
    is O(log n) buckets total — the bound this kernel's state relies on —
    because doubling sizes with <= r per size cover n events in
    O(log n) buckets."""
    for ts in ts_events:
        buckets.append((ts, 1))
        size = 1
        while True:
            idxs = [i for i, b in enumerate(buckets) if b[1] == size]
            if len(idxs) <= r:
                break
            i0, i1 = idxs[0], idxs[1]
            merged = (buckets[i1][0], size * 2)
            buckets = (
                buckets[:i0]
                + buckets[i0 + 1 : i1]
                + [merged]
                + buckets[i1 + 1 :]
            )
            # the merged bucket's newest ts equals buckets[i1]'s, so
            # re-inserting it AT i1's position keeps timestamps sorted
            size *= 2
    return buckets


def dgim_estimate(buckets: list, t: int, window_us: int) -> tuple:
    """(estimate, n_kept_buckets) of events in (t - window, t]: buckets
    whose newest event is inside the window contribute their size, minus
    half the OLDEST kept bucket's size (its tail may have expired) — the
    classic DGIM estimator.  Structural guarantee (fuzzed): the true
    count lies in [kept_total - oldest + 1, kept_total], so
    |est - true| <= oldest/2 <= (true + 1)/2 with r=2."""
    cutoff = t - window_us
    kept = [b for b in buckets if b[0] > cutoff]
    if not kept:
        return 0, 0
    total = sum(s for _, s in kept)
    return total - kept[0][1] // 2, len(kept)


def trailing_count_dgim_stream(
    events: DataFrame, window_us: int = DGIM_WINDOW_US
) -> DataFrame:
    """Per-user trailing-window event count with LOGARITHMIC state: a
    DGIM bucket list (O(log n) (ts, power-of-two size) pairs) replaces
    storing the window's events, answering "how many events did this user
    produce in the last 6 h" within the classic 50% guarantee — exact
    while buckets are unmerged.  Fourth member of the bounded-state
    family and the first ORDER-DEPENDENT sketch: like the drawdown/TWA
    kernels it keeps a finalized accumulator plus the in-horizon buffer
    and re-folds the tail each batch, so late-but-within-watermark
    arrivals repair the bucket structure exactly.

    Update-mode emission per user per batch: events absorbed, last event
    time, the DGIM estimate as of that time, and the kept-bucket count.
    Batch twin: ``stream_hourly_sample``'s sibling
    ``stream_user_trailing_count`` (exact trailing count, oracled); the
    streaming tests pin the estimate EQUAL to the pure-Python DGIM fold
    of the same sorted sequence and WITHIN the published bound of the
    twin's exact count.

    Buckets are NEVER expired in-state: that keeps the fold path identical
    to a one-shot fold over the full sorted sequence (expiry inside the
    stream would change later merges), at an O(log n_total) cost the
    sketch affords by design; expiry happens only inside
    ``dgim_estimate`` at read time."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def emit(uid, buckets):
        if not buckets:
            return []
        t_max = buckets[-1][0]
        est, n_kept = dgim_estimate(buckets, t_max, window_us)
        return [
            {
                "user_id": uid,
                "n_total": sum(size for _, size in buckets),
                "last_ts": pd.Timestamp(t_max, unit="us"),
                "n_window_est": est,
                "n_buckets": n_kept,
            }
        ]

    # folding never loses counts, so every event seen is in a bucket or
    # the buffer: ``n`` is stored for its readers and derived, not loaded
    return _user_buffer_stream(
        events,
        "user_id long, n_total long, last_ts timestamp,"
        " n_window_est long, n_buckets long",
        "bts array<long>, bsz array<long>,"
        " fts array<long>, feid array<long>, n long",
        "update",
        columns=("event_id",),
        event=lambda eid: (int(eid),),
        empty=list,
        load=lambda bts, bsz, fts, feid, n: (
            list(zip(bts, bsz)),
            list(zip(fts, feid)),
        ),
        step=partial(refold_step, dgim_fold, itemgetter(0)),
        store=lambda acc, buf: (
            *_columns(acc, 2),
            *_columns(buf, 2),
            sum(size for _, size in acc) + len(buf),
        ),
        emit=emit,
    )


# --- count-min sketch: per-hour frequency point queries ---------------------


def cms_hash(d: int, x: int, w: int = CMS_W) -> int:
    """Engine-shared CMS bucket hash: first 8 hex chars of md5("d:x") mod
    w — the exact construction the oracled batch twin
    (``operators/streaming_batch.py: stream_hourly_cms``) computes in SQL
    on both engines, so the streamed counter cells and the batch-
    reconstructed ones are the same integers by definition."""
    return py_h32(f"{d}:{x}") % w


def cms_update(counters: list, items, d: int = CMS_D, w: int = CMS_W) -> list:
    """Fold ``items`` into a flat row-major d*w counter array (mutates and
    returns it).  The state transition is pure integer addition, so the
    sketch is fully ORDER-, CHUNKING- and MERGE-commutative: folding any
    permutation in any batch split yields the identical array, and two
    arrays merge by elementwise sum — the property the stream == batch
    equality pin relies on, with no under-budget caveat.

    Invariants (fuzzed in tests/test_kernel_state_machines.py): every row
    d sums to the number of items folded; cell (d, b) equals the number
    of items hashing to b under h_d — the defining CMS property, from
    which est >= true and est <= n follow."""
    for u in items:
        for di in range(d):
            counters[di * w + cms_hash(di, u, w)] += 1
    return counters


def cms_query(counters: list, u: int, d: int = CMS_D, w: int = CMS_W) -> int:
    """CMS point estimate for key ``u``: min over depths of the cell the
    key hashes to — an upper bound on the true count (one-sided error)."""
    return min(counters[di * w + cms_hash(di, u, w)] for di in range(d))


def freq_cms_stream(
    events: DataFrame,
    d: int = CMS_D,
    w: int = CMS_W,
    monitored: tuple = tuple(range(CMS_MONITORED)),
) -> DataFrame:
    """Per-hour frequency point queries with BOUNDED state: each hour
    bucket holds one d x w count-min sketch (Cormode & Muthukrishnan
    2005) — d*w longs no matter how many distinct users the hour sees,
    the frequency-estimation member of the bounded-state sketch family
    (space-saving top-k, KMV distinct, bottom-k sample, DGIM trailing
    count).  Every event increments d cells; each micro-batch re-emits
    the current estimate for the fixed monitored key set stamped with
    ``n_total`` events absorbed, so the final row set per hour is the one
    with the maximum n_total.

    CMS state is a plain sum of per-event increments — fully order-,
    chunking- and duplication-commutative — so no out-of-order buffer is
    needed and the final estimates equal the oracled batch twin
    ``stream_hourly_cms`` EXACTLY at every scale (the twin reconstructs
    the same counter cells as grouped sums over the same md5 bucket
    hash).  State evicts by event-time timeout once the watermark passes
    the hour end, mirroring the other sketch kernels."""
    return _bucket_sketch_stream(
        events,
        "hour",
        "hour timestamp, n_total long, user_id long, est long",
        "cnts array<long>, n long",
        empty=lambda: [0] * (d * w),
        load=list,
        items=_user_ids,
        fold=lambda counters, new: cms_update(counters, new, d, w),
        store=lambda counters: (counters,),
        emit=lambda counters: [
            {"user_id": u, "est": cms_query(counters, u, d, w)}
            for u in monitored
        ],
    )


# --- fixed-grid histogram: per-hour exact quantiles -------------------------


def hist_cent(v: float) -> int:
    """Engine-shared grid assignment: floor(100*v + 0.5) — the same
    expression the oracled batch twin computes on both engines."""
    return int(math.floor(v * 100 + 0.5))


def hist_update(counter: dict, cents) -> dict:
    """Fold grid points into a {cent: count} histogram (mutates and
    returns it).  Pure integer addition — fully order-, chunking- and
    merge-commutative, like the CMS counters.

    Invariants (fuzzed in tests/test_kernel_state_machines.py): counts
    sum to items folded; each count equals the item multiplicity; the
    derived quantile equals the k-th order statistic of the raw
    multiset."""
    for c in cents:
        counter[c] = counter.get(c, 0) + 1
    return counter


def hist_quantile(counter: dict, pct: int) -> tuple:
    """(cent, n): the smallest grid point whose cumulative count reaches
    ceil(n * pct / 100) — the exact k-th order statistic, the same
    integer rule the batch twin evaluates in SQL."""
    n = sum(counter.values())
    k = (n * pct + 99) // 100
    cum = 0
    for c in sorted(counter):
        cum += counter[c]
        if cum >= k:
            return c, n
    return None, n


def value_quantiles_histogram_stream(
    events: DataFrame, pcts: tuple = QUANT_PCTS
) -> DataFrame:
    """Per-hour exact value percentiles with GRID-BOUNDED state: each
    hour bucket holds a {cent: count} histogram — state grows with
    distinct grid points (the value domain), never with event count, the
    quantile member of the bounded-state sketch family (space-saving,
    KMV, bottom-k sample, DGIM, count-min).  Histogram state is a plain
    sum of increments, so no out-of-order buffer is needed and the final
    percentiles equal the oracled batch twin
    ``stream_hourly_value_quantiles`` EXACTLY at every scale.  Each
    micro-batch re-emits the current p50/p90/p99 stamped with ``n_total``
    absorbed; final rows per hour are those with the maximum n_total;
    state evicts by event-time timeout once the watermark passes the
    hour end."""

    def emit(counter):
        rows = []
        for pct in pcts:
            cent, _ = hist_quantile(counter, pct)
            rows.append({"pct": pct, "cent": cent, "value": cent / 100.0})
        return rows

    return _bucket_sketch_stream(
        events,
        "hour",
        "hour timestamp, n_total long, pct int, cent long, value double",
        "cents array<long>, cnts array<long>, n long",
        empty=dict,
        load=lambda cents, cnts: dict(zip(cents, cnts)),
        items=lambda pdf: [hist_cent(float(v)) for v in pdf["value"]],
        fold=hist_update,
        store=lambda counter: (
            sorted(counter),
            [counter[c] for c in sorted(counter)],
        ),
        emit=emit,
    )


# --- Bloom filter: per-hour bounded-memory membership gate ------------------

# BLOOM_M / BLOOM_K come from hackatonbigdata_spark.sketch_params (one
# shared definition with the oracled batch twin and the llm batch gate).


def bloom_pos(j: int, key, m: int = BLOOM_M) -> int:
    """Engine-shared bit position: first 8 md5 hex chars of ``"j:key"``
    mod m — the identical expression the oracled batch twin
    ``stream_hourly_bloom`` and the batch gate ``dedup_bloom_gate``
    evaluate in SQL, so stream and batch light the same bits."""
    return py_h32(f"{j}:{key}") % m


def bloom_update(bits: set, items, m: int = BLOOM_M, k: int = BLOOM_K) -> set:
    """Fold ``items`` into the lit-bit set (mutates and returns it).
    The state transition is pure set union of per-item bit positions —
    IDEMPOTENT, MONOTONE, and fully order-, chunking-, duplication- and
    merge-commutative: the strongest invariance class in the sketch
    family (even replays change nothing), which is what makes a Bloom
    gate safe to shard and replay at ingest.

    Invariants (fuzzed in tests/test_kernel_state_machines.py): the
    state IS the union of the k positions of every distinct key seen;
    |bits| <= min(m, k * n_distinct); folding a key twice equals folding
    it once; any chunking/permutation yields the identical set."""
    for key in items:
        for j in range(k):
            bits.add(bloom_pos(j, key, m))
    return bits


def bloom_estimate(bits: set, m: int = BLOOM_M, k: int = BLOOM_K):
    """Swamidass-Baldi cardinality estimate from the fill rate:
    -(m/k) * ln(1 - b/m), quantized to the engine's 1e-4 grid — the
    same double expression the batch twin evaluates in SQL.  None once
    the filter is saturated (every bit lit)."""
    b = len(bits)
    if b >= m:
        return None
    return (
        math.floor((-(m / k)) * math.log(1.0 - b / float(m)) * 10000 + 0.5)
        / 10000.0
    )


def bloom_membership_stream(
    events: DataFrame, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Per-hour Bloom membership gate with BOUNDED state: each hour
    bucket holds one m-bit Bloom filter (Bloom 1970) over the hour's
    user ids — at most m bits no matter how many distinct users arrive,
    the membership member of the bounded-state sketch family
    (space-saving top-k, KMV distinct, bottom-k sample, DGIM trailing
    count, count-min, grid histogram) and the live counterpart of the
    batch ingestion gate ``dedup_bloom_gate``.  Each micro-batch
    re-emits the bucket's current lit-bit count and fill-rate cardinality
    estimate stamped with ``n_total`` events absorbed, so the final row
    per hour is the one with the maximum n_total.

    Bloom state is a pure OR-fold (set union of bit positions) —
    idempotent and fully order-, chunking-, duplication- and
    merge-commutative — so no out-of-order buffer is needed and the
    final n_bits_set / est_users equal the oracled batch twin
    ``stream_hourly_bloom`` EXACTLY at every scale (the twin
    reconstructs the same lit-bit set as a DISTINCT over the same md5
    positions).  State evicts by event-time timeout once the watermark
    passes the hour end, mirroring the other sketch kernels."""
    return _bucket_sketch_stream(
        events,
        "hour",
        "hour timestamp, n_total long, n_bits_set long, est_users double",
        "bits array<long>, n long",
        empty=set,
        load=set,
        items=_user_ids,
        fold=lambda bits, new: bloom_update(bits, new, m, k),
        store=lambda bits: (sorted(bits),),
        emit=lambda bits: [
            {"n_bits_set": len(bits), "est_users": bloom_estimate(bits, m, k)}
        ],
    )


# --- HyperLogLog: per-hour bounded-memory distinct counter -------------------

# HLL_M / HLL_W / HLL_ALPHA64 come from hackatonbigdata_spark.sketch_params
# (one shared definition with the oracled batch twins).


def hll_reg(key, m: int = HLL_M) -> tuple:
    """Engine-shared register rule: for hex = md5(key), the register
    index is the first hex byte mod m and rho is the 1-based position of
    the first 1-bit in the following 52-bit window (W+1 = 53 when the
    window is all zero) — the identical hex-string-domain expression the
    oracled batch twin ``stream_hourly_hll`` evaluates in SQL, so stream
    and batch hold the same registers."""
    import hashlib  # noqa: PLC0415 — worker-side import

    hx = hashlib.md5(str(key).encode()).hexdigest()
    j = int(hx[:2], 16) % m
    t = hx[2:15].lstrip("0")
    if not t:
        return j, HLL_W + 1
    d = int(t[0], 16)
    zb = 3 if d == 1 else 2 if d < 4 else 1 if d < 8 else 0
    return j, 4 * (13 - len(t)) + zb + 1


def hll_update(regs: list, items, m: int = HLL_M) -> list:
    """Fold ``items`` into the m-register array (mutates and returns
    it).  The state transition is an elementwise MAX — idempotent,
    monotone, and fully order-, chunking-, duplication- and
    merge-commutative, the same invariance class as the Bloom OR-fold,
    so shards fold independently and merge by max.

    Invariants (fuzzed in tests/test_kernel_state_machines.py): each
    register IS the max rho of every distinct key routed to it; folding
    a key twice equals folding it once; any chunking/permutation yields
    the identical array; merging two independently-folded tapes by
    elementwise max equals folding the concatenation."""
    for key in items:
        j, rho = hll_reg(key, m)
        if rho > regs[j]:
            regs[j] = rho
    return regs


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constants: fixed values for the small
    register counts, the closed form above 128."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return HLL_ALPHA64
    return 0.7213 / (1 + 1.079 / m)


def hll_estimate(regs: list, m: int = HLL_M) -> float:
    """HLL cardinality estimate with the standard small-range
    correction, evaluated in the exact shape of the batch twin's SQL:
    the register sum is the INTEGER sum(2^(53-M[j])) (order-free), the
    raw estimate alpha*m*m*2^53/S is one left-associated double chain,
    and linear counting m*ln(m/V) takes over when the raw estimate is
    <= 2.5m and V > 0 registers are zero; quantized to the 1e-4 grid."""
    s = sum(1 << (HLL_W + 1 - r) for r in regs)
    v = sum(1 for r in regs if r == 0)
    raw = _hll_alpha(m) * m * m * float(1 << (HLL_W + 1)) / s
    est = float(m) * math.log(float(m) / v) if v > 0 and raw <= 2.5 * m else raw
    return math.floor(est * 10000 + 0.5) / 10000.0


def hll_distinct_stream(events: DataFrame, m: int = HLL_M) -> DataFrame:
    """Per-hour HyperLogLog distinct-user counter with BOUNDED state:
    each hour bucket holds one m-register HLL sketch (Flajolet et al.
    2007) — m bytes of max-registers no matter how many distinct users
    arrive, the EIGHTH member of the bounded-state sketch family
    (space-saving top-k, KMV distinct, bottom-k sample, DGIM trailing
    count, count-min, grid histogram, Bloom membership) and the
    industry-default distinct counter beside the KMV kernel.  Each
    micro-batch re-emits the bucket's current zero-register count and
    cardinality estimate stamped with ``n_total`` events absorbed, so
    the final row per hour is the one with the maximum n_total.

    HLL state is a pure elementwise-MAX fold — idempotent and fully
    order-, chunking-, duplication- and merge-commutative — so no
    out-of-order buffer is needed and the final n_zero_registers /
    est_users equal the oracled batch twin ``stream_hourly_hll``
    EXACTLY at every scale (the twin reconstructs the same registers as
    a grouped max over the same md5 hex rule).  State evicts by
    event-time timeout once the watermark passes the hour end,
    mirroring the other sketch kernels."""
    return _bucket_sketch_stream(
        events,
        "hour",
        "hour timestamp, n_total long, n_zero_registers long,"
        " est_users double",
        "regs array<long>, n long",
        empty=lambda: [0] * m,
        load=list,
        items=_user_ids,
        fold=lambda regs, new: hll_update(regs, new, m),
        store=lambda regs: (regs,),
        emit=lambda regs: [
            {
                "n_zero_registers": sum(1 for r in regs if r == 0),
                "est_users": hll_estimate(regs, m),
            }
        ],
    )


# --- KLL-style compactor: per-day bounded-state quantiles --------------------

# KLL_K comes from hackatonbigdata_spark.sketch_params (one shared
# definition with the oracled batch twin sketch_kll_quantiles).


def kll_update(state: tuple, items, k: int = KLL_K) -> tuple:
    """Fold (value, id) items into a deterministic KLL/MRL compactor and
    return the new state ``(levels, err)``: ``levels[l]`` holds items of
    weight 2^l; whenever a level exceeds ``k`` items it sorts by
    (value, id), promotes its odd ranks (1-indexed) to level l+1 with
    doubled weight, and discards the evens; ``err`` accumulates 2^l per
    compaction performed — the sketch's SELF-CERTIFIED rank-error bound
    (each compaction shifts the weight below any threshold by at most
    the compacted level's item weight), the ``is_exact`` discipline of
    the KMV members: err == 0 means the answer is the exact order
    statistic.

    Unlike the Bloom/HLL/CMS folds this state is NOT order-commutative —
    compaction timing depends on arrival order — which is why the batch
    twin is a separate single-cascade definition and the kernel is
    pinned by its own error bound, not by twin equality.

    Invariants (fuzzed in tests/test_kernel_state_machines.py): every
    retained value was an input; every level holds <= k items after the
    fold; |total retained weight - n| <= err; the rank of the served
    quantile differs from its target by at most err."""
    levels = [list(lvl) for lvl in state[0]]
    err = state[1]
    if not levels:
        levels = [[]]
    levels[0].extend(items)
    lv = 0
    while lv < len(levels):
        if len(levels[lv]) > k:
            levels[lv].sort()
            promoted = levels[lv][0::2]
            levels[lv] = []
            if lv + 1 == len(levels):
                levels.append([])
            levels[lv + 1].extend(promoted)
            err += 1 << lv
        lv += 1
    return levels, err


def kll_merge(a: tuple, b: tuple, k: int = KLL_K) -> tuple:
    """Merge two compactor states: levelwise concatenation followed by
    the same bottom-up compaction cascade; the merged error bound is the
    sum of both inputs' bounds plus 2^l per compaction the merge itself
    performs — sketch stores merge partial days/shards this way."""
    la, lb = a[0], b[0]
    levels = [
        list(la[i] if i < len(la) else [])
        + list(lb[i] if i < len(lb) else [])
        for i in range(max(len(la), len(lb), 1))
    ]
    err = a[1] + b[1]
    lv = 0
    while lv < len(levels):
        if len(levels[lv]) > k:
            levels[lv].sort()
            promoted = levels[lv][0::2]
            levels[lv] = []
            if lv + 1 == len(levels):
                levels.append([])
            levels[lv + 1].extend(promoted)
            err += 1 << lv
        lv += 1
    return levels, err


def kll_quantile(state: tuple, pct: int) -> tuple:
    """(value, w_total): the smallest retained value whose cumulative
    retained weight reaches ceil(w_total * pct / 100) — the identical
    integer readout rule the oracled batch twin evaluates in SQL."""
    levels = state[0]
    vw: dict = {}
    w_total = 0
    for lv, items in enumerate(levels):
        w = 1 << lv
        for v, _ in items:
            vw[v] = vw.get(v, 0) + w
            w_total += w
    if not w_total:
        return None, 0
    tgt = (pct * w_total + 99) // 100
    cum = 0
    for v in sorted(vw):
        cum += vw[v]
        if cum >= tgt:
            return v, w_total
    return None, w_total


def kll_quantiles_stream(
    events: DataFrame, pcts: tuple = QUANT_PCTS, k: int = KLL_K
) -> DataFrame:
    """Per-day p50/p90/p99 of ``value`` from BOUNDED compactor state on
    an unbounded value domain — the general-domain member of the
    bounded-state sketch family, where the fixed-grid histogram kernel
    above needs values on a finite grid.  State per day is <= k items
    per level (k·log n total) plus the self-certified error bound;
    each micro-batch folds its values in arrival order (ties by
    event_id), re-emits the current percentiles stamped with ``n_total``
    and ``err_bound``, and evicts by event-time timeout once the
    watermark passes the day end.  Final rows per day are those with
    the maximum n_total; the streaming tests pin them within err_bound
    of the exact per-day order statistics, and equal to them whenever
    err_bound == 0."""

    def load(vs, ids, lvls, err):
        levels: list = [[] for _ in range(max(lvls) + 1 if lvls else 1)]
        for v, i, lv in zip(vs, ids, lvls):
            levels[lv].append((v, i))
        return levels, err

    def store(st):
        flat = [
            (v, i, lv)
            for lv, lvl_items in enumerate(st[0])
            for v, i in sorted(lvl_items)
        ]
        return (
            [v for v, _, _ in flat],
            [i for _, i, _ in flat],
            [lv for _, _, lv in flat],
            st[1],
        )

    def emit(st):
        rows = []
        for pct in pcts:
            val, w_total = kll_quantile(st, pct)
            rows.append(
                {"err_bound": st[1], "pct": pct, "w_total": w_total, "value": val}
            )
        return rows

    return _bucket_sketch_stream(
        events,
        "day",
        "day date, n_total long, err_bound long, pct int,"
        " w_total long, value double",
        "vs array<double>, ids array<long>, lvls array<int>,"
        " err long, n long",
        empty=lambda: ([], 0),
        load=load,
        items=lambda pdf: [
            (float(v), int(i))
            for v, i in zip(pdf["value"], pdf["event_id"])
            if v is not None
        ],
        # deterministic within-batch order: the engine's row order inside
        # a micro-batch is not a contract, (value, id) is
        fold=lambda st, new: kll_update(st, sorted(new), k),
        store=store,
        emit=emit,
    )
