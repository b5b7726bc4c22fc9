"""M8 — sequence & graph analytics: Markov transitions, interval algebra,
fixed-iteration PageRank (SURVEY.md §2 beyond-reference extensions).

The reference's behavioral-feature engine walks per-user event sequences in
Python loops (/root/reference/src/features/behavioral_features_engine.py:
380-520) and its co-occurrence analysis stops at pair counts.  This module
re-expresses the sequence/graph family as distributed DataFrame queries:

- ``seq_event_transitions`` — first-order Markov transition matrix over the
  per-user event stream (lag window + keyed agg, no Python loop);
- ``interval_merge_coverage`` — union of overlapping [order, ship]
  fulfilment intervals per supplier (cumulative-max gaps-and-islands), the
  general form of sessionization where interval lengths vary per row;
- ``graph_pagerank_parts`` — PageRank on the basket co-occurrence graph in
  exact integer (picoprob) arithmetic so a fixed iteration count is
  bit-reproducible across engines and partitionings.

Scale notes per query in the docstrings; the shared principle is that every
shuffle is keyed (user, supplier, graph node) — nothing global, nothing
driver-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import both_directions, r4
from hackatonbigdata_spark.functions.fixpoint import iterate
from hackatonbigdata_spark.functions.materialize import materialize
from hackatonbigdata_spark.operators.relational import basket_pairs
from hackatonbigdata_spark.registry import register


@register(
    "seq_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type,
         CAST(count(*) AS BIGINT) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n_trans,
       round(n_trans * 1.0 / sum(n_trans) OVER (PARTITION BY prev_type), 4)
         AS p_next
FROM pairs
""",
)
def seq_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    P(next event type | previous event type), estimated from every adjacent
    pair in each user's time-ordered sequence.  Replaces the reference's
    per-user Python sequence walk
    (/root/reference/src/features/behavioral_features_engine.py:380-430)
    with one lag window + one keyed aggregate.

    Determinism: the lag ordering tie-breaks on ``event_id``; counts are
    integers and the row-normalized probability divides identical BIGINTs,
    so both engines produce bit-identical doubles.

    Scale: the window partitions by user (bounded per-user state); the
    transition aggregate keys on (prev, next) — a tiny |types|² result.  No
    driver-side state; at 100 TB this is one user-keyed shuffle."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    wp = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_trans",
        r4(F.col("n_trans") * F.lit(1.0) / F.sum("n_trans").over(wp)).alias("p_next"),
    )


@register(
    "interval_merge_coverage",
    oracle="""
WITH iv AS (
  SELECT l_suppkey, o_orderdate AS s, l_shipdate AS e
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate >= o_orderdate
), seq AS (
  SELECT l_suppkey, s, e,
         max(e) OVER (PARTITION BY l_suppkey ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv
), flag AS (
  SELECT l_suppkey, s, e,
         CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END
           AS new_island
  FROM seq
), isl AS (
  SELECT l_suppkey, s, e,
         sum(new_island) OVER (PARTITION BY l_suppkey ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island_id
  FROM flag
), merged AS (
  SELECT l_suppkey, island_id,
         min(s) AS cov_start, max(e) AS cov_end,
         CAST(count(*) AS BIGINT) AS n_intervals
  FROM isl GROUP BY 1, 2
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(date_diff('day', cov_start, cov_end) + 1) AS BIGINT)
         AS covered_days,
       CAST(max(date_diff('day', cov_start, cov_end) + 1) AS BIGINT)
         AS max_island_days,
       CAST(max(n_intervals) AS BIGINT) AS max_island_intervals
FROM merged GROUP BY 1
""",
)
def interval_merge_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping intervals per key: merge each supplier's
    [orderdate, shipdate] fulfilment spans into disjoint coverage islands and report
    islands / covered days / widest island.  This is the variable-length
    generalization of session windows (``stream_session_windows`` merges
    fixed-gap points; here every row carries its own interval) — the
    pattern behind delivery-coverage, machine-uptime, and promo-overlap
    analyses the reference handles with sorted Python sweeps
    (/root/reference/src/features/temporal_features.py:140-210).

    Algorithm: cumulative-max-of-end over start-ordered intervals; a row
    opens a new island iff its start exceeds every prior end.  Determinism:
    island membership depends only on (s, prev running max e) — ties in
    (s, e) cannot flip the flag because a tied row's start never exceeds
    its twin's end.

    Scale: both windows partition by supplier — per-key sequential state,
    embarrassingly parallel across keys.  No global sort; at 100 TB the
    shuffle is one hash partition on the key, and skewed keys can be
    range-split by month first (merge is associative across a cut only at
    island boundaries, handled by a standard two-pass stitch)."""
    t = Catalog(spark, sf_dir)
    iv = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "l_suppkey",
            F.col("o_orderdate").alias("s"),
            F.col("l_shipdate").alias("e"),
        )
    )
    wseq = (
        W.partitionBy("l_suppkey")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seq = iv.withColumn("prev_max_e", F.max("e").over(wseq))
    flag = seq.withColumn(
        "new_island",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
        ).otherwise(0),
    )
    wisl = (
        W.partitionBy("l_suppkey")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    isl = flag.withColumn("island_id", F.sum("new_island").over(wisl))
    merged = isl.groupBy("l_suppkey", "island_id").agg(
        F.min("s").alias("cov_start"),
        F.max("e").alias("cov_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    span_days = F.datediff(F.col("cov_end"), F.col("cov_start")) + F.lit(1)
    return merged.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(span_days).alias("covered_days"),
        F.max(span_days).alias("max_island_days"),
        F.max("n_intervals").alias("max_island_intervals"),
    )


_PR_ITERS = 5
_PR_SCALE = 1_000_000_000_000  # picoprob integer units


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank in exact integer arithmetic.

    Every probability lives as a BIGINT in 1e-12 units; per-edge
    contributions use round-half-up integer division ((2p + d) // 2d) and
    the damping multiply is (85s + 50) // 100 — BIGINT sums are
    order-independent, so the whole fixpoint is bit-identical across
    engines and partitionings."""
    sql = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
pr0 AS (
  SELECT node, deg,
         CAST(floor({_PR_SCALE}.0 / nn.n + 0.5) AS BIGINT) AS pr
  FROM deg CROSS JOIN nn
)"""
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
pr{i} AS (
  SELECT d.node, d.deg,
         CAST(floor({_PR_SCALE * 15 // 100}.0 / nn.n + 0.5) AS BIGINT)
           + (coalesce(s.contrib, 0) * 85 + 50) // 100 AS pr
  FROM deg d CROSS JOIN nn
  LEFT JOIN (
    SELECT e.v AS node,
           CAST(sum((p.pr * 2 + p.deg) // (p.deg * 2)) AS BIGINT) AS contrib
    FROM edges e JOIN pr{i - 1} p ON e.u = p.node GROUP BY 1
  ) s ON d.node = s.node
)"""
    sql += f"""
SELECT node AS part_key, deg AS degree, pr AS pr_pico,
       CAST(rank() OVER (ORDER BY pr DESC, node) AS BIGINT) AS pr_rank
FROM pr{_PR_ITERS}
"""
    return sql


def _basket_graph(t: Catalog, wt: Column) -> tuple[DataFrame, DataFrame]:
    """The basket co-occurrence graph every PageRank, LPA, modularity and
    eigencentrality query runs on: nodes are parts, an undirected edge
    joins two parts co-ordered in >= 2 baskets, and its weight is the
    column ``wt``, read over ``basket_pairs``' co-basket count ``wt`` and
    cast to BIGINT.  The weighted queries pass that count; the unweighted
    ones pass the literal 1, which turns every weighted sum into the count
    it generalizes (strength into degree, sum(wt) into count(*)).

    Returns ``(adj, nodes)``: the adjacency ``(src, nbr, wt)`` in both
    directions, materialized once, and ``(node, degree, strength)``."""
    pairs = basket_pairs(t.lineitem, 2, n="wt").select(
        "u", "v", wt.cast("long").alias("wt")
    )
    # every round of every loop reads the edges: materialized, the
    # co-occurrence self-join runs once instead of once per round.  No hash
    # key: the plans that read a checkpoint shuffle it again anyway, so
    # hashing on src cost one more job and no time was saved
    adj = materialize(both_directions(pairs, "u", "v", "wt", names=("src", "nbr")))
    nodes = adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"),
        F.sum("wt").cast("long").alias("strength"),
    )
    return adj, nodes


def _pagerank(t: Catalog, wt: Column) -> DataFrame:
    """``(node, degree, strength, pr, pr_rank)``: {iters} rounds of
    PageRank with damping 0.85, each node sharing its rank over its edges
    in proportion to weight, round-half-up as (2·pr·wt + s) div (2s).  At
    unit weight that is (2·pr + deg) div (2·deg), the uniform 1/deg split.
    Operands are nonnegative, so Spark's truncating ``div`` equals
    DuckDB's flooring ``//``."""
    adj, nodes = _basket_graph(t, wt)
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node",
        "strength",
        "n",
        F.floor(F.lit(float(_PR_SCALE)) / F.col("n") + F.lit(0.5))
        .cast("long")
        .alias("pr"),
    )
    base = F.floor(
        F.lit(float(_PR_SCALE * 15 // 100)) / F.col("n") + F.lit(0.5)
    ).cast("long")
    for _ in range(_PR_ITERS):
        # one join and one aggregate per round: the graph is undirected, so
        # every node is some edge's nbr, and the sum of its incoming weights
        # is its own strength, carried to the next round with the node count
        pr = (
            adj.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("nbr").alias("node"))
            .agg(
                F.sum("wt").cast("long").alias("strength"),
                F.max("n").alias("n"),
                F.sum(F.expr("(pr * 2 * wt + strength) div (strength * 2)"))
                .cast("long")
                .alias("contrib"),
            )
            .select(
                "node",
                "strength",
                "n",
                (base + F.expr("(contrib * 85 + 50) div 100").cast("long")).alias("pr"),
            )
        )
    wr = W.orderBy(F.col("pr").desc(), "node")
    return pr.join(nodes.select("node", "degree"), "node").select(
        "node", "degree", "strength", "pr", F.rank().over(wr).cast("long").alias("pr_rank")
    )


_pagerank.__doc__ = _pagerank.__doc__.format(iters=_PR_ITERS)


@register("graph_pagerank_parts", oracle=_pagerank_oracle())
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {iters} fixed iterations) on the basket
    co-occurrence graph: parts are nodes, an undirected edge connects parts
    co-ordered in ≥ 2 baskets.  Extends the reference's pair-count analysis
    (/root/reference/src/features/behavioral_features_engine.py:454-485)
    into a centrality ranking — "which parts anchor the co-purchase graph".

    Exact integer arithmetic: probabilities are BIGINT picoprobs
    (1e-12 units); per-edge shares use round-half-up integer division and
    damping is (85·s + 50) // 100.  Integer sums are order-independent, so
    the result is bit-identical across engines, partition counts, and
    executor schedules — the property float PageRank never has.

    This is ``graph_pagerank_weighted`` on unit edge weights (``_pagerank``).

    Scale: each iteration is one shuffle — edges join ranks on the source
    key, aggregate on the destination key.  The edge table is materialized
    once; the rank table carries each node's strength to avoid a second
    join.  At 100 TB lineage grows linearly in
    iterations, so production would ``materialize`` every ~5 rounds; 5
    iterations here keeps the oracle's unrolled CTE chain cheap."""
    return _pagerank(Catalog(spark, sf_dir), F.lit(1)).select(
        F.col("node").alias("part_key"),
        "degree",
        F.col("pr").alias("pr_pico"),
        "pr_rank",
    )


graph_pagerank_parts.__doc__ = graph_pagerank_parts.__doc__.format(iters=_PR_ITERS)


@register(
    "window_rolling_distinct",
    oracle="""
WITH du AS (
  SELECT DISTINCT event_type, user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
), expanded AS (
  SELECT event_type, user_id,
         CAST(unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))
              AS DATE) AS window_end
  FROM du
)
SELECT event_type, window_end,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
FROM expanded
GROUP BY 1, 2
""",
)
def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day DISTINCT user count per event type — the aggregate
    Spark's window functions cannot express (no COUNT(DISTINCT) OVER a
    range frame), rewritten distributed: dedup to (type, user, day) grain,
    explode each day into the ≤7 window-ends it belongs to, then one
    distinct-count per (type, window_end).  The reference computes rolling
    nunique with pandas groupby-nunique passes
    (/root/reference/src/features/aggregation_features_engine.py:82-142).

    Scale: the explode factor is the window length (7) — bounded and
    independent of data size; both aggregates key on (type, day)-grain
    keys.  This beats the collect_set-over-window alternative, whose state
    per row is the full user set (unbounded memory per window); the same
    shape handles any "distinct over sliding window" need, with the window
    length as the only cost knob."""
    t = Catalog(spark, sf_dir)
    du = t.events.select(
        "event_type", "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    exp = du.select(
        "event_type",
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
            "window_end"
        ),
    )
    return exp.groupBy("event_type", "window_end").agg(
        F.countDistinct("user_id").alias("n_users_7d")
    )


@register(
    "time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT user_id, value,
         CAST(date_diff('second',
                        date_trunc('second', ts),
                        date_trunc('second',
                          lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)))
              AS BIGINT) AS dt
  FROM events
), w AS (
  SELECT user_id,
         CAST(floor(value * dt * 10000 + 0.5) AS BIGINT) AS vdt,
         dt
  FROM seq WHERE dt IS NOT NULL AND dt > 0
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(dt) AS BIGINT) AS span_seconds,
       round(sum(vdt) / (sum(dt) * 10000.0), 4) AS twa_value
FROM w GROUP BY 1
""",
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user over an irregular event stream: each
    value is held until the next event and weighted by its holding
    duration — the correct mean for irregularly-sampled series (sensor
    readings, account balances, price ticks), where the arithmetic mean
    over-weights bursts.  The reference resamples to a daily grid first
    (/root/reference/src/features/temporal.py) — the TWA form needs no
    resampling pass.

    Exactness: durations are integer seconds (truncate-then-diff, session
    timezone-free); each value×duration product is quantized to a BIGINT
    1e4 scale before summing, so the weighted sum is partition-order-free.

    Scale: one user-keyed window (lead) + one keyed aggregate — the same
    single-shuffle shape as the inter-arrival query; zero-duration repeats
    are dropped identically in both engines."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "user_id",
        "value",
        F.expr(
            "timestampdiff(SECOND, date_trunc('SECOND', ts),"
            " date_trunc('SECOND', lead(ts) OVER"
            " (PARTITION BY user_id ORDER BY ts, event_id)))"
        )
        .cast("long")
        .alias("dt"),
    )
    wd = seq.filter(F.col("dt").isNotNull() & (F.col("dt") > 0)).select(
        "user_id",
        F.floor(F.col("value") * F.col("dt") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("vdt"),
        "dt",
    )
    return wd.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt").cast("long").alias("span_seconds"),
        r4(F.sum("vdt") / (F.sum("dt") * F.lit(10000.0))).alias("twa_value"),
    )


@register(
    "attribution_multitouch_linear",
    oracle="""
WITH p AS (
  SELECT user_id, event_id AS pid, ts AS pts, value
  FROM events WHERE event_type = 'purchase'
), tch AS (
  SELECT user_id, event_type AS touch_type, ts AS tts, event_id AS tid
  FROM events WHERE event_type IN ('view', 'click')
), j AS (
  SELECT p.pid, p.value, tch.touch_type, tch.tid,
         CAST(count(*) OVER (PARTITION BY p.pid) AS BIGINT) AS n_touches_of_p
  FROM tch JOIN p
    ON tch.user_id = p.user_id
   AND tch.tts > p.pts - INTERVAL 60 MINUTES
   AND tch.tts <= p.pts
), c AS (
  SELECT touch_type, pid,
         CAST(floor(value / n_touches_of_p * 10000 + 0.5) AS BIGINT) AS credit_q
  FROM j
)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
       round(sum(credit_q) / 10000.0, 4) AS credited_value
FROM c GROUP BY 1
""",
)
def attribution_multitouch_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution: every view/click in the 60 minutes
    before a purchase shares the purchase value equally — the fractional-
    credit generalization of ``join_asof_view_attribution``'s last-touch
    model (marketing-analytics standard; the reference's behavioral engine
    only counts touches, /root/reference/src/features/
    behavioral_features_engine.py:380-430).

    Exactness: each touch's credit (value ÷ touches-per-purchase) is
    quantized to a BIGINT 1e4 scale before the order-free integer sum.

    Scale: the touch↔purchase match is an equi-join on user_id with a
    bounded time-range predicate — Spark executes the user-keyed hash join
    and filters the range inside the matched group (per-user event counts
    are bounded); the per-purchase touch count is a pid-keyed window.  At
    extreme per-user volumes the same query buckets both sides by
    (user, hour) first, exactly like ``stream_interval_join_views``."""
    t = Catalog(spark, sf_dir)
    p = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        "value",
    )
    tch = t.events.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
    )
    j = tch.join(
        p,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("tts") > F.col("pts") - F.expr("INTERVAL 60 MINUTES"))
        & (F.col("tts") <= F.col("pts")),
    ).select(
        "pid",
        "value",
        "touch_type",
        "tid",
        F.count(F.lit(1)).over(W.partitionBy("pid")).cast("long").alias(
            "n_touches_of_p"
        ),
    )
    c = j.select(
        "touch_type",
        "pid",
        F.floor(F.col("value") / F.col("n_touches_of_p") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("credit_q"),
    )
    return c.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.countDistinct("pid").alias("n_purchases"),
        r4(F.sum("credit_q") / F.lit(10000.0)).alias("credited_value"),
    )


@register(
    "survival_km_signup_purchase",
    oracle="""
WITH su AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY 1
), pu AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= su.t0
  GROUP BY 1
), mx AS (SELECT max(ts) AS tmax FROM events),
durs AS (
  SELECT su.user_id,
         CASE WHEN pu.t1 IS NULL THEN 0 ELSE 1 END AS converted,
         CAST(date_diff('day', CAST(su.t0 AS DATE),
                        CAST(coalesce(pu.t1, mx.tmax) AS DATE)) AS BIGINT)
           AS dur_days
  FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN mx
), daily AS (
  SELECT dur_days AS d,
         CAST(sum(converted) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_ending
  FROM durs GROUP BY 1
), risk AS (
  SELECT d, n_events,
         sum(n_ending) OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING)
           AS n_at_risk
  FROM daily
), step AS (
  SELECT d, n_events, CAST(n_at_risk AS BIGINT) AS n_at_risk,
         CASE WHEN n_events = 0 THEN 0
              ELSE CAST(floor(-log2((n_at_risk - n_events) * 1.0 / n_at_risk)
                              * 1000000 + 0.5) AS BIGINT) END AS nl2q
  FROM risk WHERE n_at_risk > n_events
)
SELECT d AS day, n_events, n_at_risk,
       round(-sum(nl2q) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
             / 1000000.0, 4) AS log2_survival
FROM step
""",
)
def survival_km_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup→purchase conversion: per
    signup cohort member, days until first purchase (right-censored at the
    observation horizon), then the product-limit estimator over the day
    grid — the survival-analysis operator behind retention/time-to-convert
    questions the reference answers with cohort tables only
    (``event_cohort_retention``; /root/reference/src/features/
    behavioral_features_engine.py:430-520 computes flat conversion rates).

    The curve is emitted in the LOG2 domain: each day's −log2(1 − d/n) is
    quantized to a BIGINT 1e-6 grid and the survival function is a running
    integer sum — fully exact cross-engine (2^x to leave the log domain is
    not correctly-rounded IEEE, so the exact-parity contract stops at the
    log; consumers exponentiate client-side).  Days where everyone at risk
    converts (S→0) are excluded by the n_at_risk > n_events guard, as in
    the standard estimator.

    Scale: keyed aggregates down to the DAY grid (bounded by the horizon,
    not the user count); both running windows are over that bounded grid.
    At 100 TB the per-user duration extraction is the only fact-scale
    stage — two keyed min-aggregates and a join."""
    t = Catalog(spark, sf_dir)
    su = (
        t.events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pu = (
        t.events.alias("e")
        .join(su.alias("s"), "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t0")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    mx = t.events.agg(F.max("ts").alias("tmax"))
    durs = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(F.col("t1").isNull(), 0).otherwise(1).alias("converted"),
            F.datediff(
                F.to_date(F.coalesce(F.col("t1"), F.col("tmax"))),
                F.to_date(F.col("t0")),
            )
            .cast("long")
            .alias("dur_days"),
        )
    )
    daily = durs.groupBy(F.col("dur_days").alias("d")).agg(
        F.sum("converted").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_ending"),
    )
    wrisk = W.orderBy(F.col("d").desc()).rowsBetween(W.unboundedPreceding, 0)
    risk = daily.select(
        "d",
        "n_events",
        F.sum("n_ending").over(wrisk).cast("long").alias("n_at_risk"),
    )
    step = risk.filter(F.col("n_at_risk") > F.col("n_events")).select(
        "d",
        "n_events",
        "n_at_risk",
        F.when(F.col("n_events") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                -F.log2(
                    (F.col("n_at_risk") - F.col("n_events"))
                    * F.lit(1.0)
                    / F.col("n_at_risk")
                )
                * 1000000
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("nl2q"),
    )
    wsurv = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    return step.select(
        F.col("d").alias("day"),
        "n_events",
        "n_at_risk",
        r4(-F.sum("nl2q").over(wsurv) / F.lit(1000000.0)).alias("log2_survival"),
    )


@register(
    "seq_path_trigrams",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS t3,
         lag(event_type, 1) OVER w AS t2,
         lag(event_type, 2) OVER w AS t1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), p AS (
  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_paths
  FROM seq WHERE t1 IS NOT NULL
  GROUP BY 1, 2, 3
), r AS (
  SELECT t1, t2, t3, n_paths,
         CAST(rank() OVER (ORDER BY n_paths DESC, t1, t2, t3) AS BIGINT)
           AS path_rank,
         round(n_paths * 1.0 / sum(n_paths) OVER (), 4) AS path_share
  FROM p
)
SELECT t1, t2, t3, n_paths, path_rank, path_share,
       t3 = 'purchase' AS ends_in_purchase
FROM r WHERE path_rank <= 20
""",
)
def seq_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: every 3-step event sequence (double-lag
    trigrams per user), ranked by frequency with the purchase-ending flag —
    the path-mining report behind funnel redesign questions, deepening
    ``seq_event_transitions`` from first-order to second-order structure
    (reference precedent: per-user sequence walks,
    /root/reference/src/features/behavioral_features_engine.py:380-430).

    Determinism: the lag window tie-breaks on event_id; counts and shares
    are integer-ratio exact; the ranking window runs over the bounded
    |event_types|³ ≤ 125-row path table, not the fact stream.

    Scale: one user-keyed window pass + one keyed aggregate; the trigram
    alphabet keeps the result tiny at any corpus size."""
    t = Catalog(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        F.col("event_type").alias("t3"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.lag("event_type", 2).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    p = seq.groupBy("t1", "t2", "t3").agg(F.count(F.lit(1)).alias("n_paths"))
    wr = W.orderBy(F.col("n_paths").desc(), "t1", "t2", "t3")
    r = p.select(
        "t1",
        "t2",
        "t3",
        "n_paths",
        F.rank().over(wr).cast("long").alias("path_rank"),
        r4(F.col("n_paths") * F.lit(1.0) / F.sum("n_paths").over(W.partitionBy())).alias(
            "path_share"
        ),
    )
    return r.filter(F.col("path_rank") <= 20).select(
        "t1",
        "t2",
        "t3",
        "n_paths",
        "path_rank",
        "path_share",
        (F.col("t3") == "purchase").alias("ends_in_purchase"),
    )


@register(
    "anomaly_poisson_spikes",
    oracle="""
WITH hc AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(hour(ts) AS INTEGER) AS hod,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3
), s AS (
  SELECT event_type, d, hod, c,
         CAST(sum(c) OVER (PARTITION BY event_type, hod) AS BIGINT) AS s_all,
         CAST(count(*) OVER (PARTITION BY event_type, hod) AS BIGINT) AS n_days
  FROM hc
), z AS (
  SELECT event_type, d, hod, c,
         (s_all - c) * 1.0 / (n_days - 1) AS loo_mean
  FROM s WHERE n_days >= 8
)
SELECT event_type, d AS day, hod, c AS n_events,
       round(loo_mean, 4) AS expected,
       round((c - loo_mean) / sqrt(loo_mean), 4) AS poisson_z
FROM z
WHERE loo_mean > 0 AND (c - loo_mean) / sqrt(loo_mean) > 3
""",
)
def anomaly_poisson_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate spike detection: for each (event type, day, hour-of-day)
    cell, a Poisson z-score against the LEAVE-ONE-OUT mean of the same
    hour-of-day across all other days — the statistical upgrade of the
    fixed-threshold ``stream_threshold_alerts`` (reference:
    /root/reference/src/monitoring/alerts.py:399 windowed rates with
    static thresholds).  Leave-one-out keeps the spike itself from
    inflating its own baseline — the classic self-masking failure of
    naive z-scores.

    Exactness: counts are integers, the LOO mean divides integers
    ((S − c)/(n − 1)), sqrt is correctly-rounded — the flag comparison is
    bit-identical cross-engine.

    Scale: one keyed aggregate to the (type, day, hour) grain, then
    unordered windows keyed by (type, hour-of-day).  State per key is two
    numbers; the same shape runs incrementally as a foreachBatch over the
    streamed hourly aggregate."""
    t = Catalog(spark, sf_dir)
    hc = t.events.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wk = W.partitionBy("event_type", "hod")
    s = hc.select(
        "event_type",
        "d",
        "hod",
        "c",
        F.sum("c").over(wk).cast("long").alias("s_all"),
        F.count(F.lit(1)).over(wk).cast("long").alias("n_days"),
    ).filter(F.col("n_days") >= 8)
    loo = (F.col("s_all") - F.col("c")) * F.lit(1.0) / (F.col("n_days") - 1)
    z = (F.col("c") - loo) / F.sqrt(loo)
    return (
        s.withColumn("loo_mean", loo)
        .filter((F.col("loo_mean") > 0) & (z > 3))
        .select(
            "event_type",
            F.col("d").alias("day"),
            "hod",
            F.col("c").alias("n_events"),
            r4(F.col("loo_mean")).alias("expected"),
            r4((F.col("c") - F.col("loo_mean")) / F.sqrt(F.col("loo_mean"))).alias(
                "poisson_z"
            ),
        )
    )


@register(
    "cohort_ltv_curve",
    oracle="""
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
  FROM events GROUP BY 1
), acts AS (
  SELECT f.cohort,
         CAST(date_diff('day', f.cohort,
                        CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT)
           AS age_weeks,
         CAST(floor(e.value * 10000 + 0.5) AS BIGINT) AS v4
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
), sz AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users FROM first_seen
  GROUP BY 1
), weekly AS (
  SELECT cohort, age_weeks, CAST(sum(v4) AS BIGINT) AS wv4
  FROM acts GROUP BY 1, 2
)
SELECT w.cohort, w.age_weeks, sz.cohort_users,
       round(w.wv4 / 10000.0, 4) AS week_value,
       round(sum(w.wv4) OVER (PARTITION BY w.cohort ORDER BY w.age_weeks
                              ROWS UNBOUNDED PRECEDING)
             / (sz.cohort_users * 10000.0), 4) AS ltv_per_user
FROM weekly w JOIN sz ON w.cohort = sz.cohort
""",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: per signup-week cohort, the running
    per-user cumulative value by cohort age (weeks) — the LTV companion to
    ``event_cohort_retention`` (which counts active users; this
    accumulates value), the curve marketing payback decisions read off
    (reference analog: flat per-cohort conversion aggregates,
    /root/reference/src/features/behavioral_features_engine.py:430-520).

    Exactness: values quantize to BIGINT 1e-4 units before every sum, and
    the cumulative window is an integer running sum over the bounded
    (cohort × age) grid — fully order-free.

    Scale: fact-scale work is one join to the first-seen table + one keyed
    aggregate to the (cohort, age) grain; the cumulative window runs on
    that bounded grid, partitioned by cohort."""
    t = Catalog(spark, sf_dir)
    first_seen = t.events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort")
    )
    acts = t.events.join(first_seen, "user_id").select(
        "cohort",
        F.floor(
            F.datediff(F.to_date(F.date_trunc("week", "ts")), F.col("cohort")) / 7
        )
        .cast("long")
        .alias("age_weeks"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v4"),
    )
    sz = first_seen.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    weekly = acts.groupBy("cohort", "age_weeks").agg(F.sum("v4").alias("wv4"))
    wcum = (
        W.partitionBy("cohort").orderBy("age_weeks").rowsBetween(
            W.unboundedPreceding, 0
        )
    )
    return weekly.join(sz, "cohort").select(
        "cohort",
        "age_weeks",
        "cohort_users",
        r4(F.col("wv4") / F.lit(10000.0)).alias("week_value"),
        r4(
            F.sum("wv4").over(wcum) / (F.col("cohort_users") * F.lit(10000.0))
        ).alias("ltv_per_user"),
    )


@register(
    "graph_triangle_count",
    oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.v = e2.u
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
),
tn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT a AS node FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri)
  GROUP BY 1
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY 1
)
SELECT d.node AS part, d.degree,
       CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_triangles,
       round(2.0 * coalesce(tn.n_tri, 0)
             / nullif(d.degree * (d.degree - 1), 0), 4) AS clustering_coef
FROM deg d LEFT JOIN tn ON d.node = tn.node
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting + local clustering coefficient on the
    basket co-occurrence graph — the cohesion companion to
    ``graph_pagerank_parts`` (same ≥2-basket edge set): parts whose
    neighborhoods close into triangles are bought in cliques (bundles),
    high-degree/low-clustering parts are hubs.  Extends the reference's
    pair-count analysis (/root/reference/src/features/
    behavioral_features_engine.py:454-485) one hop further.

    Algorithm: DEGREE-ORDERED compact-forward — every edge is oriented
    from its lower-(degree, id) endpoint to the higher one, and every
    triangle is emitted exactly once by joining oriented (a,b)x(b,c) and
    closing with oriented (a,c); two equi-joins on the edge table, never
    an all-pairs pass.  Degree ordering (vs the r6 ID ordering) bounds
    each node's OUT-degree — and therefore the (a,b)x(b,c) join fan-out —
    by O(sqrt(m)) / the graph's arboricity instead of by the raw max
    degree, the refinement that survives power-law hubs at 100 TB.  The
    triangle SET is orientation-invariant, so the per-node counts (and
    the ID-ordered oracle) are unchanged.

    Exactness: counts are integers; the clustering coefficient is one
    exact ratio per node."""
    t = Catalog(spark, sf_dir)
    # degree join + three self-joins: build once
    pairs = materialize(basket_pairs(t.lineitem, 2).select("u", "v"))
    deg = (
        pairs.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    # deg is node-sized: small enough for AQE to broadcast at this SF, but
    # NOT hinted — at 1e9-node scale it must stay a shuffle join
    oriented = materialize(
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).join(
        e3,
        (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
    ).select(
        F.col("e1.src").alias("a"),
        F.col("e1.dst").alias("b"),
        F.col("e2.dst").alias("c"),
    )
    tn = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return deg.join(tn, "node", "left").select(
        F.col("node").alias("part"),
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_triangles"),
        r4(
            F.lit(2.0)
            * F.coalesce(F.col("n_tri"), F.lit(0))
            / F.nullif(F.col("degree") * (F.col("degree") - 1), F.lit(0))
        ).alias("clustering_coef"),
    )


@register(
    "basket_association_rules",
    oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
       FROM items),
pc AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
  FROM items GROUP BY 1
),
pr AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
),
dir AS (
  SELECT u AS antecedent, v AS consequent, n_ab FROM pr
  UNION ALL
  SELECT v, u, n_ab FROM pr
)
SELECT d.antecedent, d.consequent, d.n_ab,
       pa.n_part AS n_antecedent, pc2.n_part AS n_consequent,
       round(d.n_ab * 1.0 / nb.n_baskets, 4) AS support,
       round(d.n_ab * 1.0 / pa.n_part, 4) AS confidence,
       round(d.n_ab * 1.0 * nb.n_baskets / (pa.n_part * pc2.n_part), 4)
         AS lift
FROM dir d
JOIN pc pa ON d.antecedent = pa.l_partkey
JOIN pc pc2 ON d.consequent = pc2.l_partkey
CROSS JOIN nb
""",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for every
    directed part pair with >= 3 co-baskets, support, confidence, and
    lift — the rule-mining layer on top of ``cooccurrence_pairs`` (which
    stops at raw counts), matching the reference's co-purchase analysis
    ambitions (/root/reference/src/features/behavioral_features_engine.py:
    454-485) with the standard Apriori statistics.

    Exactness: all three measures are single exact ratios of BIGINT
    counts.  Scale: the pair join is the guarded a<b self-join with a
    min-support cut (the Apriori pruning step — pairs below support never
    leave the aggregate); item counts broadcast back onto the surviving
    pairs; the basket total is one broadcast scalar."""
    lineitem = Catalog(spark, sf_dir).lineitem
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    nb = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_baskets")
    )
    pc = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_part")
    )
    pr = basket_pairs(lineitem, 3, n="n_ab")
    d = both_directions(pr, "u", "v", "n_ab", names=("antecedent", "consequent"))
    pa = pc.select(
        F.col("l_partkey").alias("antecedent"),
        F.col("n_part").alias("n_antecedent"),
    )
    pcq = pc.select(
        F.col("l_partkey").alias("consequent"),
        F.col("n_part").alias("n_consequent"),
    )
    out = (
        d.join(pa, "antecedent")
        .join(pcq, "consequent")
        .crossJoin(F.broadcast(nb))
    )
    return out.select(
        "antecedent",
        "consequent",
        "n_ab",
        "n_antecedent",
        "n_consequent",
        r4(F.col("n_ab") * F.lit(1.0) / F.col("n_baskets")).alias("support"),
        r4(F.col("n_ab") * F.lit(1.0) / F.col("n_antecedent")).alias("confidence"),
        r4(
            F.col("n_ab")
            * F.lit(1.0)
            * F.col("n_baskets")
            / (F.col("n_antecedent") * F.col("n_consequent"))
        ).alias("lift"),
    )


_MK_ITERS = 12
_MK_SCALE = 1_000_000_000_000  # picoprob integer units
_MK_CHANNELS = ("click", "error", "signup", "view")


def _markov_oracle() -> str:
    """Unrolled fixed-iteration absorbing-chain conversion probability in
    exact integer arithmetic (the ``_pagerank_oracle`` discipline):
    probabilities are BIGINT picoprobs, each step's weighted average uses
    round-half-up integer division ((2s + t) // 2t) on non-negative
    operands, so the 12-step trajectory is bit-identical across engines."""
    chans = ", ".join(f"('{c}')" for c in _MK_CHANNELS)
    sql = f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), pair_t AS (
  SELECT CASE WHEN prev_type IS NULL OR prev_type = 'purchase'
              THEN 'START' ELSE prev_type END AS src,
         CASE WHEN event_type = 'purchase' THEN 'CONV'
              ELSE event_type END AS dst
  FROM seq
), last_t AS (
  SELECT event_type AS src, 'DROP' AS dst
  FROM (SELECT event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) x
  WHERE rn = 1 AND event_type <> 'purchase'
), trans AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT src, dst FROM pair_t
        UNION ALL SELECT src, dst FROM last_t) u
  GROUP BY 1, 2
), scen AS (
  SELECT scenario FROM (VALUES ('base'), {chans}) s(scenario)
), strans AS (
  SELECT s.scenario, t.src,
         CASE WHEN t.dst = s.scenario THEN 'DROP' ELSE t.dst END AS dst,
         CAST(sum(t.n) AS BIGINT) AS n
  FROM scen s CROSS JOIN trans t
  GROUP BY 1, 2, 3
), tot AS (
  SELECT scenario, src, CAST(sum(n) AS BIGINT) AS total
  FROM strans GROUP BY 1, 2
), states AS (
  SELECT DISTINCT scenario, state FROM (
    SELECT scenario, src AS state FROM strans
    UNION ALL SELECT scenario, dst AS state FROM strans) z
), p0 AS (
  SELECT scenario, state,
         CASE WHEN state = 'CONV' THEN CAST({_MK_SCALE} AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS p
  FROM states
)"""
    for i in range(1, _MK_ITERS + 1):
        sql += f""",
p{i} AS (
  SELECT st.scenario, st.state,
         CASE WHEN st.state = 'CONV' THEN CAST({_MK_SCALE} AS BIGINT)
              WHEN st.state = 'DROP' THEN CAST(0 AS BIGINT)
              ELSE CAST((2 * coalesce(acc.a, 0) + t.total)
                        // (2 * t.total) AS BIGINT) END AS p
  FROM states st
  LEFT JOIN (SELECT c.scenario, c.src, sum(c.n * q.p) AS a
             FROM strans c JOIN p{i - 1} q
               ON q.scenario = c.scenario AND q.state = c.dst
             GROUP BY 1, 2) acc
    ON acc.scenario = st.scenario AND acc.src = st.state
  LEFT JOIN tot t ON t.scenario = st.scenario AND t.src = st.state
)"""
    sql += f""",
conv AS (
  SELECT scenario, p AS conv_pico FROM p{_MK_ITERS} WHERE state = 'START'
), re AS (
  SELECT c.scenario AS channel,
         b.conv_pico AS conv_base_pico,
         c.conv_pico AS conv_removed_pico,
         CAST(greatest(b.conv_pico - c.conv_pico, 0) AS BIGINT)
           AS removal_pico
  FROM conv c
  CROSS JOIN (SELECT conv_pico FROM conv WHERE scenario = 'base') b
  WHERE c.scenario <> 'base'
), tc AS (
  SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS n_touches
  FROM events WHERE event_type <> 'purchase' GROUP BY 1
)
SELECT r.channel, tc.n_touches, r.conv_base_pico, r.conv_removed_pico,
       r.removal_pico,
       round(r.removal_pico * 1.0
             / nullif(sum(r.removal_pico) OVER (), 0), 4) AS attribution
FROM re r JOIN tc ON tc.channel = r.channel
"""
    return sql


@register("attribution_markov_removal", oracle=_markov_oracle())
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution (Anderl et al. 2016) — the
    data-driven counterpart of ``attribution_multitouch_linear``'s
    position-free equal split: model each user's event stream as an
    absorbing Markov chain (START → touch channels → CONV on purchase /
    DROP at stream end, a purchase restarting the journey), and credit
    each channel by how much the 12-step conversion probability FALLS
    when every transition into that channel is redirected to DROP — "what
    fraction of conversions does this channel carry".  Attribution is
    each channel's clamped removal effect over the channel total.

    Exactness: transition counts are exact integers; absorption
    probabilities are BIGINT picoprobs iterated {iters} fixed steps with
    round-half-up integer division (non-negative operands, so Spark
    ``div``, DuckDB ``//``, and Python ``//`` all floor identically) —
    the ``graph_pagerank_parts`` discipline, so the whole trajectory is
    bit-identical in the oracle's unrolled CTE chain.  12 steps is the
    documented spec (P(convert within 12 transitions)), not a float
    fixpoint tolerance.  Every transient state has an outgoing total by
    construction: any channel appearing as a destination is an event
    that itself either transitions onward or emits a terminal DROP row.

    Scale: the fact-table work is ONE lag window and ONE row_number
    window (both user-keyed) plus a keyed count — the same passes
    ``seq_event_transitions`` makes.  The absorption loop runs on the
    driver over the collected transition table, which is bounded by the
    STATE SPACE (|event types|² + scenarios ≤ ~180 rows), never by data
    volume — the ``corpus_doremi_weights`` driver-held-state discipline;
    results re-attach as literal maps over the per-channel aggregate.

    Reference parity: the reference walks per-user sequences in Python
    for behavioral counts (/root/reference/src/features/
    behavioral_features_engine.py:380-430); this generalizes the walk
    into the marketing-standard attribution model."""
    t = Catalog(spark, sf_dir)
    ev = t.events.select("user_id", "ts", "event_id", "event_type")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(wseq))
    pair_t = seq.select(
        F.when(
            F.col("prev_type").isNull() | (F.col("prev_type") == "purchase"),
            F.lit("START"),
        )
        .otherwise(F.col("prev_type"))
        .alias("src"),
        F.when(F.col("event_type") == "purchase", F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("dst"),
    )
    wlast = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last_t = (
        ev.withColumn("rn", F.row_number().over(wlast))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "purchase"))
        .select(F.col("event_type").alias("src"), F.lit("DROP").alias("dst"))
    )
    trans_rows = [
        (r["src"], r["dst"], r["n"])
        for r in pair_t.union(last_t)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    ]
    # driver-held integer absorption over the state-space-bounded table
    scenarios = ["base", *_MK_CHANNELS]
    conv = {}
    for scen in scenarios:
        counts: dict[tuple[str, str], int] = {}
        for s, d, n in trans_rows:
            dd = "DROP" if d == scen else d
            counts[(s, dd)] = counts.get((s, dd), 0) + n
        tot: dict[str, int] = {}
        for (s, _), n in counts.items():
            tot[s] = tot.get(s, 0) + n
        states = {s for s, _ in counts} | {d for _, d in counts}
        p = {st: (_MK_SCALE if st == "CONV" else 0) for st in states}
        for _ in range(_MK_ITERS):
            acc: dict[str, int] = {}
            for (s, d), n in counts.items():
                acc[s] = acc.get(s, 0) + n * p[d]
            p = {
                st: (
                    _MK_SCALE
                    if st == "CONV"
                    else 0
                    if st == "DROP"
                    else (2 * acc.get(st, 0) + tot[st]) // (2 * tot[st])
                )
                for st in states
            }
        conv[scen] = p.get("START", 0)
    base_p = conv["base"]
    removal = {c: max(base_p - conv[c], 0) for c in _MK_CHANNELS}
    total_re = sum(removal.values())
    m_removed = F.create_map(
        *[F.lit(x) for c in _MK_CHANNELS for x in (c, conv[c])]
    )
    m_removal = F.create_map(
        *[F.lit(x) for c in _MK_CHANNELS for x in (c, removal[c])]
    )
    tc = (
        t.events.filter(F.col("event_type") != "purchase")
        .groupBy(F.col("event_type").alias("channel"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_touches"))
    )
    removal_col = m_removal[F.col("channel")].cast("long")
    attribution = (
        r4(removal_col * F.lit(1.0) / F.lit(total_re))
        if total_re > 0
        else F.lit(None).cast("double")
    )
    return tc.select(
        "channel",
        "n_touches",
        F.lit(base_p).cast("long").alias("conv_base_pico"),
        m_removed[F.col("channel")].cast("long").alias("conv_removed_pico"),
        removal_col.alias("removal_pico"),
        attribution.alias("attribution"),
    )


@register(
    "graph_link_prediction",
    oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS (SELECT u AS w, v AS nbr FROM pairs
        UNION ALL SELECT v, u FROM pairs),
deg AS (SELECT w AS node, CAST(count(*) AS BIGINT) AS degree
        FROM adj GROUP BY 1),
wedges AS (
  SELECT a1.nbr AS a, a2.nbr AS b, a1.w AS w
  FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.nbr < a2.nbr
),
cand AS (
  SELECT wg.a, wg.b,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         CAST(sum(CAST(floor(10000.0 / ln(d.degree) + 0.5) AS BIGINT))
              AS BIGINT) AS aa_q
  FROM wedges wg
  JOIN deg d ON d.node = wg.w
  LEFT JOIN pairs e ON e.u = wg.a AND e.v = wg.b
  WHERE e.u IS NULL
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT c.a AS part_a, c.b AS part_b, c.common_neighbors,
       round(c.aa_q / 10000.0, 4) AS adamic_adar,
       round(c.common_neighbors * 1.0
             / (da.degree + db.degree - c.common_neighbors), 4) AS jaccard
FROM cand c
JOIN deg da ON da.node = c.a
JOIN deg db ON db.node = c.b
""",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the basket co-occurrence graph — for every NON-edge
    (a, b) sharing at least 2 neighbors, the three classic topological
    scores: common-neighbor count, Adamic-Adar (shared neighbors weighted
    1/ln(degree) so promiscuous hubs count less), and neighborhood Jaccard
    — the "parts likely to be bundled next" recommender the pair-count
    analysis (/root/reference/src/features/behavioral_features_engine.py:
    454-485) stops one hop short of, and the prediction-side companion to
    ``graph_triangle_count`` (same >= 2-basket edge set).

    Algorithm: expand each node's adjacency into ordered WEDGES
    (a < b through shared w) — the same two-equi-join discipline as the
    triangle pass, never an all-pairs scan — anti-join the existing edge
    set so only candidate links remain, then aggregate.  Each wedge's
    Adamic-Adar term 1/ln(deg_w) is quantized to a BIGINT 1e-4 grid
    BEFORE the sum (reciprocal sums are accumulation-order dependent —
    the engine-wide quantize-then-sum rule); deg_w >= 2 by construction
    (w neighbors both a and b) so ln is never 0.

    Scale: wedge count is sum_w C(deg_w, 2) — the quadratic lives per
    NODE, not per graph, and a power-law hub dominates it; at 100 TB cap
    each node's expanded neighbor list (top-K by edge weight) before the
    wedge join, exactly as production link-prediction systems do.  The
    degree table is node-sized; the >= 2-common-neighbor HAVING bounds
    the output to the dense core."""
    t = Catalog(spark, sf_dir)
    # feeds adjacency AND the non-edge anti-join
    pairs = materialize(basket_pairs(t.lineitem, 2).select("u", "v"))
    adj = both_directions(pairs, "u", "v", names=("w", "nbr"))
    deg = adj.groupBy(F.col("w").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    wedges = a1.join(
        a2,
        (F.col("a1.w") == F.col("a2.w")) & (F.col("a1.nbr") < F.col("a2.nbr")),
    ).select(
        F.col("a1.nbr").alias("a"),
        F.col("a2.nbr").alias("b"),
        F.col("a1.w").alias("w"),
    )
    # deg is node-sized: AQE may broadcast it at this SF, but NOT hinted —
    # at 1e9-node scale it must stay a shuffle join
    cand = (
        wedges.join(deg.withColumnRenamed("node", "w"), "w")
        .join(pairs, (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")), "anti")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(
                F.floor(F.lit(10000.0) / F.log(F.col("degree")) + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("aa_q"),
        )
        .filter(F.col("common_neighbors") >= 2)
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "common_neighbors",
            r4(F.col("aa_q") / F.lit(10000.0)).alias("adamic_adar"),
            r4(
                F.col("common_neighbors")
                * F.lit(1.0)
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors"))
            ).alias("jaccard"),
        )
    )


_LPA_ROUNDS = 4  # fixed synchronous label-propagation rounds (oracle lockstep)


def _lpa_oracle() -> str:
    """Unrolled synchronous LPA rounds — every chain CTE MATERIALIZED
    (each round references its predecessor through the adjacency join;
    default CTE inlining would re-expand the chain per reference)."""
    sql = """
WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS MATERIALIZED (SELECT u AS w, v AS nbr FROM pairs
                     UNION ALL SELECT v, u FROM pairs),
deg AS MATERIALIZED (SELECT w AS node, CAST(count(*) AS BIGINT) AS degree
                     FROM adj GROUP BY 1),
lab0 AS MATERIALIZED (SELECT node, node AS lbl FROM deg)"""
    for r in range(1, _LPA_ROUNDS + 1):
        sql += f""",
cnt{r} AS MATERIALIZED (
  SELECT adj.w AS node, l.lbl AS lbl, CAST(count(*) AS BIGINT) AS c
  FROM adj JOIN lab{r - 1} l ON l.node = adj.nbr
  GROUP BY 1, 2),
lab{r} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM cnt{r}) WHERE rn = 1)"""
    sql += f""",
sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
       FROM lab{_LPA_ROUNDS} GROUP BY 1)
SELECT l.node AS part, l.lbl AS community, sz.community_size, d.degree
FROM lab{_LPA_ROUNDS} l
JOIN sz ON sz.lbl = l.lbl
JOIN deg d ON d.node = l.node
"""
    return sql


def _lpa(adj: DataFrame, nodes: DataFrame) -> DataFrame:
    """``(node, lbl)``, materialized: {rounds} synchronous
    label-propagation rounds over ``_basket_graph``'s adjacency.  Every
    node starts as its own label and each round takes the label with the
    largest incident weight sum, ties to the smaller label (Raghavan et
    al. 2007 §IV's weighted vote; at unit weight the sum is the neighbor
    count).  All sums are BIGINT and the tie order is
    total, so both engines replay the same evolution."""
    labels = nodes.select("node", F.col("node").alias("lbl"))
    # fixed rounds in lockstep with the oracle, so no ``iterate``: the label
    # chain is LINEAR — each round references its predecessor exactly ONCE
    # (through the adj join), so the plan grows linearly, not exponentially,
    # and needs none of the per-round materializations the twice-referenced
    # loops (k-core, power iteration) take.  One eager checkpoint AFTER the
    # loop gives every caller a flat, materialized-once labels table (the
    # readouts reference it 2-3x); that measured faster than none on both
    # the LPA and the modularity readout.
    for _ in range(_LPA_ROUNDS):
        labels = (
            adj.join(labels.select(F.col("node").alias("nbr"), "lbl"), "nbr")
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.sum("wt").cast("long").alias("c"))
            .withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("node").orderBy(F.col("c").desc(), "lbl")
                ),
            )
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return materialize(labels)


_lpa.__doc__ = _lpa.__doc__.format(rounds=_LPA_ROUNDS)


def _communities(t: Catalog, wt: Column) -> DataFrame:
    """``(node, lbl, community_size, degree, strength)``: each part's
    ``_lpa`` community with the community's size."""
    adj, nodes = _basket_graph(t, wt)
    labels = _lpa(adj, nodes)
    sz = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(sz, "lbl").join(nodes, "node")


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION by label propagation (Raghavan et al. 2007 —
    the classic near-linear distributed community algorithm, GraphX's
    LabelPropagation) on the basket co-occurrence graph — completing the
    graph shelf's mesoscale view next to connectivity (components),
    centrality (PageRank / eigenvector), density (triangles / k-core)
    and prediction (link scores), all on the family's shared
    >= 2-basket edge set: every node starts as its own label, and each
    of {rounds} SYNCHRONOUS rounds re-labels every node with the MODE of
    its neighbors' labels (count desc, label asc — a total tie order,
    so the whole evolution is deterministic set algebra both engines
    replay identically).  Synchronous-with-fixed-rounds is the
    deliberate choice: asynchronous LPA (the paper's default) is
    update-ORDER-dependent and therefore unreproducible cross-engine,
    and synchronous LPA can oscillate on bipartite structure rather
    than converge — a fixed round count makes the readout well-defined
    either way (the semantics test pins the label evolution round for
    round).  Emits each part's community, the community size, and the
    node degree — the shelf-layout readout ("which parts sell
    together as a block") the reference's pair-count analysis
    (/root/reference/src/features/behavioral_features_engine.py:454-485)
    stops short of.

    Scale: each round is ONE adjacency⋈labels equi-join + a keyed count
    + a per-node top-1 window — all hash-partitioned by node, no stage
    beyond the edge table's size; the label chain is LINEAR (each round
    referenced once), so there are no per-round checkpoints and
    one eager materialize after the loop keeps every caller's
    readout flat (see ``_lpa``).  This is
    ``graph_label_propagation_weighted`` on unit edge weights.  At 100 TB
    the same loop shards by node; the classic
    optimization (only re-propagate changed labels) alters constants,
    not semantics."""
    return _communities(Catalog(spark, sf_dir), F.lit(1)).select(
        F.col("node").alias("part"),
        F.col("lbl").alias("community"),
        "community_size",
        "degree",
    )


graph_label_propagation.__doc__ = graph_label_propagation.__doc__.format(
    rounds=_LPA_ROUNDS
)


def _modularity_oracle() -> str:
    """The LPA chain (identical to ``_lpa_oracle``'s) + Newman modularity
    terms per community, every value on an exact integer grid."""
    sql = _lpa_oracle()
    # swap the LPA readout tail for the modularity readout over the same
    # materialized chain
    tail_from = sql.index(",\nsz AS (")
    R = _LPA_ROUNDS
    return sql[:tail_from] + f""",
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
intra AS (
  SELECT lu.lbl AS lbl, CAST(count(*) AS BIGINT) AS e_c
  FROM pairs p
  JOIN lab{R} lu ON lu.node = p.u
  JOIN lab{R} lv ON lv.node = p.v
  WHERE lu.lbl = lv.lbl GROUP BY 1),
dsum AS (
  SELECT l.lbl, CAST(count(*) AS BIGINT) AS community_size,
         CAST(sum(d.degree) AS BIGINT) AS d_c
  FROM lab{R} l JOIN deg d ON d.node = l.node GROUP BY 1),
terms AS (
  SELECT dsum.lbl, dsum.community_size,
         COALESCE(intra.e_c, 0) AS e_c, dsum.d_c,
         CAST(floor((COALESCE(intra.e_c, 0) * 1.0 / m.m
                     - (dsum.d_c * 1.0 / (2 * m.m))
                       * (dsum.d_c * 1.0 / (2 * m.m))) * 100000000 + 0.5)
              AS BIGINT) AS term_q8
  FROM dsum LEFT JOIN intra ON intra.lbl = dsum.lbl CROSS JOIN m),
qt AS (SELECT CAST(sum(term_q8) AS BIGINT) AS q_total_q8 FROM terms)
SELECT terms.lbl AS community, terms.community_size,
       terms.e_c AS intra_edges, terms.d_c AS degree_sum,
       terms.term_q8, qt.q_total_q8
FROM terms CROSS JOIN qt
"""


def _modularity(t: Catalog, wt: Column) -> DataFrame:
    """``(lbl, community_size, w_c, s_c, term_q8, q_total_q8)``: Newman
    modularity of ``_lpa``'s partition, Q = sum_c [ W_c/W − (S_c/(2W))² ]
    with W the total edge weight, W_c the intra-community weight and S_c
    the community's strength mass (Newman 2004, "Analysis of weighted
    networks").  At unit weight these are the edge count m, the intra
    edges L_c and the degree mass d_c.  Each term is one double
    expression quantized to a 1e-8 BIGINT grid, and Q is the integer sum
    of the terms."""
    adj, nodes = _basket_graph(t, wt)
    labels = _lpa(adj, nodes)
    # the adjacency holds each edge in both directions: the rows leaving a
    # community sum its strength mass S_c, and those that stay in it sum
    # twice its intra weight W_c, so halving is exact
    lnbr = labels.select(F.col("node").alias("nbr"), F.col("lbl").alias("ln"))
    mass = (
        adj.join(labels.withColumnRenamed("node", "src"), "src")
        .join(lnbr, "nbr")
        .groupBy("lbl")
        .agg(
            F.sum("wt").cast("long").alias("s_c"),
            F.expr("sum(CASE WHEN lbl = ln THEN wt ELSE 0 END) div 2").alias("w_c"),
        )
    )
    size = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    wtot = mass.agg(F.expr("sum(s_c) div 2").alias("w"))
    half = F.col("s_c") * F.lit(1.0) / (F.lit(2) * F.col("w"))
    # feeds both the rows and the 1-row total
    terms = materialize(
        size.join(mass, "lbl")
        .crossJoin(F.broadcast(wtot))
        .select(
            "lbl",
            "community_size",
            F.coalesce("w_c", F.lit(0)).cast("long").alias("w_c"),
            "s_c",
            F.floor(
                (F.col("w_c") * F.lit(1.0) / F.col("w") - half * half)
                * F.lit(100000000)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("term_q8"),
        )
    )
    qt = terms.groupBy().agg(F.sum("term_q8").cast("long").alias("q_total_q8"))
    return terms.crossJoin(F.broadcast(qt))


@register("graph_modularity_score", oracle=_modularity_oracle())
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWMAN MODULARITY of the LPA partition — the one-number quality
    readout community detection is judged by (Newman & Girvan 2004):
    Q = sum_c [ L_c/m − (d_c/(2m))² ] over communities, where L_c =
    intra-community edges, d_c = the community's degree mass, m = total
    edges — detection (``graph_label_propagation``) and its quality
    metric as a pair, the same discipline as NN-descent reporting edge
    recall and the calibration family reporting ECE.  Emits one row per
    community: size, intra-edge count, degree mass, the community's
    modularity term, and the partition total Q — so the readout shows
    WHICH communities carry the structure, not just the headline
    number.

    Exactness: L_c, d_c, m are BIGINT counts; each term is one
    identical double expression quantized to a 1e-8 BIGINT grid
    (4dp would zero out 1/m-scale terms), and Q is the exact integer
    SUM of the quantized terms — order-free, so the compared values
    are integers end to end.  Q's range invariant (-0.5 <= Q < 1) and
    a from-scratch Python recompute are pinned in tests.

    This is ``graph_modularity_weighted`` on unit edge weights
    (``_modularity``).

    Scale: on top of ``_lpa``, one adjacency⋈labels⋈labels aggregate for
    intra edges and degree mass, one community-size count and a 1-row
    edge-count cross join — all keyed by community; nothing beyond the
    edge table's size.

    Reference parity: the reference stops at pair counts
    (/root/reference/src/features/behavioral_features_engine.py:
    454-485); this scores the block structure those pairs imply."""
    return _modularity(Catalog(spark, sf_dir), F.lit(1)).select(
        F.col("lbl").alias("community"),
        "community_size",
        F.col("w_c").alias("intra_edges"),
        F.col("s_c").alias("degree_sum"),
        "term_q8",
        "q_total_q8",
    )


_KCORE_ROUNDS = 16  # oracle peel rounds per k; extra rounds are no-ops
_KCORE_MAX_K = 3  # coreness reported up to this k (capped decomposition)


def _kcore_oracle() -> str:
    """Fixed-round peel chains for k=2 and k=3 — peeling is MONOTONE
    (each round only removes nodes), so any round past convergence is a
    no-op and a fixed round count equals the fixed point as long as it
    covers convergence; the Spark side raises if the live loop ever
    needs more than {_KCORE_ROUNDS} rounds, and the semantics test pins
    the actual convergence depth."""
    sql = """
WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY 1
)"""
    for k in (2, 3):
        sql += f""",
e_k{k}_0 AS MATERIALIZED (SELECT u, v FROM pairs)"""
        for i in range(1, _KCORE_ROUNDS + 1):
            p = f"e_k{k}_{i - 1}"
            sql += f""",
keep_k{k}_{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT u AS node FROM {p} UNION ALL SELECT v FROM {p}
  ) GROUP BY 1 HAVING count(*) >= {k}
),
e_k{k}_{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM {p} e
  JOIN keep_k{k}_{i} ku ON e.u = ku.node
  JOIN keep_k{k}_{i} kv ON e.v = kv.node
)"""
        sql += f""",
core{k} AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM e_k{k}_{_KCORE_ROUNDS}
    UNION ALL SELECT v FROM e_k{k}_{_KCORE_ROUNDS}
  )
)"""
    sql += """
SELECT d.node AS part, d.degree,
       CAST(CASE WHEN c3.node IS NOT NULL THEN 3
                 WHEN c2.node IS NOT NULL THEN 2
                 ELSE 1 END AS INTEGER) AS coreness
FROM deg d
LEFT JOIN core2 c2 ON d.node = c2.node
LEFT JOIN core3 c3 ON d.node = c3.node
"""
    return sql


@register("graph_kcore_decomposition", oracle=_kcore_oracle())
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE decomposition (capped at k={maxk}) of the basket
    co-occurrence graph — per part, the largest k such that the part
    survives in a subgraph where every member keeps >= k neighbors
    (Seidman 1983).  Coreness separates genuinely embedded products
    (dense bundles) from parts whose degree comes from one-off baskets —
    degree counts edges, coreness counts NEIGHBORHOOD RESILIENCE — and
    is the standard cheap structure signal next to the clustering
    coefficient (``graph_triangle_count``) and PageRank
    (``graph_pagerank_parts``), all on the same >= 2-basket edge set.

    Algorithm: textbook iterative peel per k — drop every node with
    degree < k, recompute, repeat to the FIXED POINT.  Peeling is
    monotone, so the DuckDB oracle runs a fixed {rounds}-round chain
    (no-ops past convergence) while the Spark side runs ``iterate``: an
    eager materialize per round truncates the plan each peel
    references twice, and the peel stops once the edge count is
    unchanged, raising if convergence ever needs more rounds than the
    oracle covers rather than silently diverging.

    Scale: each round is one degree aggregate + two anti-joins on the
    shrinking edge table; rounds are bounded by the peel depth (small in
    practice — the test pins it).  At 100 TB the same loop runs with the
    edge table hash-partitioned by u; the classic optimization (bucket
    nodes by degree, peel k in one pass per bucket) changes constant
    factors, not semantics."""
    t = Catalog(spark, sf_dir)
    # feeds the full-degree table and both peels
    pairs = materialize(basket_pairs(t.lineitem, 2).select("u", "v"))
    deg = (
        pairs.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )

    def core_nodes(k: int) -> DataFrame:
        def peel(edges: DataFrame) -> DataFrame:
            d = (
                edges.select(F.explode(F.array("u", "v")).alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("dg"))
            )
            bad = d.filter(F.col("dg") < k).select("node")
            return (
                edges.join(bad.withColumnRenamed("node", "u"), "u", "anti")
                .join(bad.withColumnRenamed("node", "v"), "v", "anti")
                .select("u", "v")
            )

        # the oracle chain covers exactly _KCORE_ROUNDS passes, and the
        # step after the last of them is the no-op that certifies it: a
        # graph that needs one more pass raises instead of diverging
        edges = iterate(pairs, peel, F.count(F.lit(1)), _KCORE_ROUNDS + 1)[-1]
        return edges.select(F.explode(F.array("u", "v")).alias("node")).distinct()

    c2 = core_nodes(2).withColumnRenamed("node", "n2")
    c3 = core_nodes(3).withColumnRenamed("node", "n3")
    return (
        deg.join(c2, deg.node == F.col("n2"), "left")
        .join(c3, deg.node == F.col("n3"), "left")
        .select(
            F.col("node").alias("part"),
            "degree",
            F.when(F.col("n3").isNotNull(), F.lit(3))
            .when(F.col("n2").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("coreness"),
        )
    )


graph_kcore_decomposition.__doc__ = graph_kcore_decomposition.__doc__.format(
    maxk=_KCORE_MAX_K, rounds=_KCORE_ROUNDS
)


_EIG_ITERS = 8  # fixed power-method iterations (identical in the oracle)
_EIG_SCALE = 1_000_000  # L-inf-normalized state lives on this integer grid


def _eigencentrality_oracle() -> str:
    """Unrolled fixed-iteration power method; every CTE MATERIALIZED —
    each iteration references its predecessor twice (contribution sum +
    max normalizer), so default CTE inlining would expand the chain
    exponentially (the k-core lesson)."""
    sql = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS MATERIALIZED (
  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
),
deg AS MATERIALIZED (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
  FROM edges GROUP BY 1
),
x0 AS MATERIALIZED (
  SELECT node, CAST(1000000 AS BIGINT) AS x FROM deg
)"""
    for i in range(1, _EIG_ITERS + 1):
        sql += f""",
v{i} AS MATERIALIZED (
  SELECT e.v AS node, CAST(sum(x.x) AS BIGINT) AS s
  FROM edges e JOIN x{i - 1} x ON e.u = x.node GROUP BY 1
),
x{i} AS MATERIALIZED (
  SELECT node, (2000000 * s + m.m) // (2 * m.m) AS x
  FROM v{i} CROSS JOIN (SELECT max(s) AS m FROM v{i}) m
)"""
    sql += f"""
SELECT d.node AS part, d.degree,
       CAST(x.x AS BIGINT) AS eig_scaled,
       round(x.x / 1000000.0, 4) AS eigencentrality,
       CAST(rank() OVER (ORDER BY x.x DESC, d.node) AS BIGINT) AS eig_rank
FROM deg d JOIN x{_EIG_ITERS} x ON d.node = x.node
"""
    return sql


@register("graph_eigencentrality", oracle=_eigencentrality_oracle())
def graph_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGENVECTOR CENTRALITY on the basket co-occurrence graph — the
    principal eigenvector of the adjacency matrix by {iters} fixed
    power-method iterations (Bonacich 1987): a part is central in
    proportion to how central its co-purchase partners are, the
    influence notion PageRank approximates with damping and degree
    normalization and raw degree misses entirely.  Completes the
    centrality shelf: degree (``graph_triangle_count``), PageRank
    (``graph_pagerank_parts``), coreness (``graph_kcore_decomposition``),
    now the spectral one.

    Exact integer arithmetic (the PageRank discipline): the state vector
    lives on a BIGINT 1e-6 grid, each iteration is one exact integer
    neighbor-sum followed by L-infinity normalization as round-half-up
    integer division ((2e6*s + m) div (2m), operands nonnegative by
    construction) — no float ever enters the fixpoint, so the trajectory
    is bit-identical across engines and partitionings.  L-inf (not L2)
    normalization keeps the step closed over integers; it rescales, not
    reorients, so the fixed direction is the same eigenvector.

    Scale: each iteration joins ``_basket_graph``'s edge table
    (materialized once) to the node-sized state and aggregates on the
    destination — one shuffle per iteration, the textbook distributed
    power method; the normalizer is a 1-row broadcast.  Per-iteration
    eager materialize keeps the two-reference plan linear.

    Reference parity: extends /root/reference/src/features/
    behavioral_features_engine.py:454-485 (pair counts) to spectral
    structure; the reference has no graph layer."""
    adj, nodes = _basket_graph(Catalog(spark, sf_dir), F.lit(1))
    x = nodes.select("node", F.lit(_EIG_SCALE).cast("long").alias("x"))
    # fixed iterations in lockstep with the oracle, not ``iterate``: there
    # is no convergence test to share
    for _ in range(_EIG_ITERS):
        # referenced twice below: keep the plan linear
        v = materialize(
            adj.join(x.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("nbr").alias("node"))
            .agg(F.sum("x").cast("long").alias("s"))
        )
        m = v.agg(F.max("s").alias("m"))
        x = v.crossJoin(F.broadcast(m)).select(
            "node",
            F.expr(f"({2 * _EIG_SCALE} * s + m) div (2 * m)")
            .cast("long")
            .alias("x"),
        )
    wr = W.orderBy(F.col("x").desc(), "node")
    return nodes.join(x, "node").select(
        F.col("node").alias("part"),
        "degree",
        F.col("x").alias("eig_scaled"),
        r4(F.col("x") / F.lit(1000000.0)).alias("eigencentrality"),
        F.rank().over(wr).cast("long").alias("eig_rank"),
    )


graph_eigencentrality.__doc__ = graph_eigencentrality.__doc__.format(
    iters=_EIG_ITERS
)


# ---------------------------------------------------------------------------
# WEIGHTED graph family: the identical >= 2-basket co-occurrence
# graph with the co-basket COUNT kept as the edge weight.  It is the
# general case: ``_basket_graph`` with unit weights gives the unweighted
# queries above, so each algorithm has one body.  The reference's pair
# analysis COUNTS co-occurrences
# (/root/reference/src/features/behavioral_features_engine.py:457-485), so
# the weighted forms (weighted LPA votes, weighted Newman Q, strength-
# normalized PageRank) are the faithful graph reading of its data: an edge
# seen in 7 baskets pulls 3.5x harder than one seen in 2.


def _weighted_edge_sql() -> str:
    """The shared weighted edge/adjacency/strength CTE block: pairs carry
    wt = co-basket count (BIGINT), adj is both directions, st holds each
    node's strength (sum of incident weights) and degree."""
    return """items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS BIGINT) AS wt
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS MATERIALIZED (SELECT u AS src, v AS nbr, wt FROM pairs
                     UNION ALL SELECT v, u, wt FROM pairs),
st AS MATERIALIZED (
  SELECT src AS node, CAST(sum(wt) AS BIGINT) AS strength,
         CAST(count(*) AS BIGINT) AS degree
  FROM adj GROUP BY 1)"""


def _wlpa_oracle() -> str:
    """Unrolled weighted-LPA rounds — ``_lpa_oracle``'s chain with
    sum(wt) votes; every chain CTE MATERIALIZED."""
    sql = "WITH " + _weighted_edge_sql() + """,
lab0 AS MATERIALIZED (SELECT node, node AS lbl FROM st)"""
    for r in range(1, _LPA_ROUNDS + 1):
        sql += f""",
cnt{r} AS MATERIALIZED (
  SELECT adj.src AS node, l.lbl AS lbl, CAST(sum(adj.wt) AS BIGINT) AS c
  FROM adj JOIN lab{r - 1} l ON l.node = adj.nbr
  GROUP BY 1, 2),
lab{r} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM cnt{r}) WHERE rn = 1)"""
    sql += f""",
sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
       FROM lab{_LPA_ROUNDS} GROUP BY 1)
SELECT l.node AS part, l.lbl AS community, sz.community_size,
       s.strength, s.degree
FROM lab{_LPA_ROUNDS} l
JOIN sz ON sz.lbl = l.lbl
JOIN st s ON s.node = l.node
"""
    return sql


@register("graph_label_propagation_weighted", oracle=_wlpa_oracle())
def graph_label_propagation_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED community detection by label propagation: the
    ``graph_label_propagation`` evolution with each neighbor's vote
    scaled by the edge weight — a part adopts the label with the largest
    incident WEIGHT mass (sum of co-basket counts), not the largest
    neighbor count, each of {rounds} synchronous rounds (weight-sum
    desc, label asc tie order — total, so both engines replay the
    identical evolution).  A pair co-ordered in 7 baskets binds its
    endpoints 3.5x as strongly as a 2-basket pair; binarizing (what the
    unweighted query does) erases exactly the signal the reference's
    pair analysis computes
    (/root/reference/src/features/behavioral_features_engine.py:457-485)
    — this query keeps it, and emits strength (weighted degree) next to
    degree so the two granularities sit side by side.

    Exactness: weights are BIGINT co-basket counts; votes are BIGINT
    sums (order-free); the tie order is total — no float ever enters
    the evolution.

    Scale: identical to the unweighted query — each round is ONE
    adjacency⋈labels equi-join + a keyed weight sum + a per-node top-1
    window, hash-partitioned by node.  The label chain is LINEAR (each
    round referenced once), so there are no per-round checkpoints; one
    eager materialize after the loop keeps every caller's
    readout flat (see ``_lpa``).  The weight column rides the same
    shuffles the count used; cost is unchanged at any scale."""
    return _communities(Catalog(spark, sf_dir), F.col("wt")).select(
        F.col("node").alias("part"),
        F.col("lbl").alias("community"),
        "community_size",
        "strength",
        "degree",
    )


graph_label_propagation_weighted.__doc__ = (
    graph_label_propagation_weighted.__doc__.format(rounds=_LPA_ROUNDS)
)


def _wmod_oracle() -> str:
    """The weighted-LPA chain + weighted Newman Q terms per community,
    every value on an exact integer grid."""
    sql = _wlpa_oracle()
    tail_from = sql.index(",\nsz AS (")
    R = _LPA_ROUNDS
    return sql[:tail_from] + f""",
wtot AS (SELECT CAST(sum(wt) AS BIGINT) AS w FROM pairs),
intra AS (
  SELECT lu.lbl AS lbl, CAST(sum(p.wt) AS BIGINT) AS w_c
  FROM pairs p
  JOIN lab{R} lu ON lu.node = p.u
  JOIN lab{R} lv ON lv.node = p.v
  WHERE lu.lbl = lv.lbl GROUP BY 1),
ssum AS (
  SELECT l.lbl, CAST(count(*) AS BIGINT) AS community_size,
         CAST(sum(s.strength) AS BIGINT) AS s_c
  FROM lab{R} l JOIN st s ON s.node = l.node GROUP BY 1),
terms AS (
  SELECT ssum.lbl, ssum.community_size,
         COALESCE(intra.w_c, 0) AS w_c, ssum.s_c,
         CAST(floor((COALESCE(intra.w_c, 0) * 1.0 / w.w
                     - (ssum.s_c * 1.0 / (2 * w.w))
                       * (ssum.s_c * 1.0 / (2 * w.w))) * 100000000 + 0.5)
              AS BIGINT) AS term_q8
  FROM ssum LEFT JOIN intra ON intra.lbl = ssum.lbl CROSS JOIN wtot w),
qt AS (SELECT CAST(sum(term_q8) AS BIGINT) AS q_total_q8 FROM terms)
SELECT terms.lbl AS community, terms.community_size,
       terms.w_c AS intra_weight, terms.s_c AS strength_sum,
       terms.term_q8, qt.q_total_q8
FROM terms CROSS JOIN qt
"""


@register("graph_modularity_weighted", oracle=_wmod_oracle())
def graph_modularity_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED Newman modularity of the weighted-LPA partition — the
    standard generalization (Newman 2004, "Analysis of weighted
    networks"): Q_w = sum_c [ W_c/W − (S_c/(2W))² ], where W = total
    edge weight, W_c = intra-community weight, S_c = the community's
    STRENGTH mass (sum of weighted degrees) — scoring the weighted
    detection (``graph_label_propagation_weighted``) with the weighted
    quality metric, the same detection+metric pairing as the unweighted
    shelf.  Comparing q_total_q8 here against ``graph_modularity_score``
    reads directly as "how much block structure the co-basket COUNTS
    carry beyond the binarized graph".

    Exactness: W, W_c, S_c are BIGINT sums of BIGINT weights
    (order-free); each term is one identical double expression
    quantized to the 1e-8 BIGINT grid, and Q is the exact integer sum
    of the quantized terms — the compared values are integers end to
    end.  The range invariant (-0.5 <= Q < 1) and a from-scratch
    Python recompute are pinned in tests.

    Scale: on top of ``_lpa``, one adjacency⋈labels⋈labels aggregate for
    intra weight and strength mass, one community-size count and a 1-row
    total cross join — all keyed by community; nothing beyond the edge
    table's size.

    Reference parity: the reference stops at pair counts
    (/root/reference/src/features/behavioral_features_engine.py:
    457-485); this scores the weighted block structure those counts
    imply."""
    return _modularity(Catalog(spark, sf_dir), F.col("wt")).select(
        F.col("lbl").alias("community"),
        "community_size",
        F.col("w_c").alias("intra_weight"),
        F.col("s_c").alias("strength_sum"),
        "term_q8",
        "q_total_q8",
    )


def _wpr_oracle() -> str:
    """Unrolled fixed-iteration WEIGHTED PageRank in exact integer
    arithmetic — ``_pagerank_oracle``'s grid with the per-edge share
    changed from pr/deg to pr·wt/strength, round-half-up as
    (2·pr·wt + s) // (2s)."""
    sql = "WITH " + _weighted_edge_sql() + f""",
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM st),
pr0 AS (
  SELECT node, strength,
         CAST(floor({_PR_SCALE}.0 / nn.n + 0.5) AS BIGINT) AS pr
  FROM st CROSS JOIN nn
)"""
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
pr{i} AS MATERIALIZED (
  SELECT d.node, d.strength,
         CAST(floor({_PR_SCALE * 15 // 100}.0 / nn.n + 0.5) AS BIGINT)
           + (coalesce(s.contrib, 0) * 85 + 50) // 100 AS pr
  FROM st d CROSS JOIN nn
  LEFT JOIN (
    SELECT e.nbr AS node,
           CAST(sum((p.pr * 2 * e.wt + p.strength)
                    // (p.strength * 2)) AS BIGINT) AS contrib
    FROM adj e JOIN pr{i - 1} p ON e.src = p.node GROUP BY 1
  ) s ON d.node = s.node
)"""
    sql += f"""
SELECT p.node AS part_key, st.degree, p.strength, p.pr AS pr_pico,
       CAST(rank() OVER (ORDER BY p.pr DESC, p.node) AS BIGINT) AS pr_rank
FROM pr{_PR_ITERS} p JOIN st ON st.node = p.node
"""
    return sql


@register("graph_pagerank_weighted", oracle=_wpr_oracle())
def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank (damping 0.85, {iters} fixed iterations): each
    node distributes its rank over out-edges IN PROPORTION TO EDGE
    WEIGHT — share(u→v) = pr(u)·wt(u,v)/strength(u) — the standard
    weighted random surfer (a shopper is 3.5x as likely to follow a
    7-basket association as a 2-basket one), versus the unweighted
    query's uniform 1/deg split.  Side-by-side with
    ``graph_pagerank_parts`` the rank deltas show which parts anchor
    the co-purchase graph by TIE STRENGTH rather than tie count —
    extending the reference's pair-count analysis
    (/root/reference/src/features/behavioral_features_engine.py:457-485)
    exactly where its counts matter.

    Exact integer arithmetic (the unweighted query's discipline):
    BIGINT picoprob grid; the weighted share is round-half-up integer
    division (2·pr·wt + s) div (2s) — operands nonnegative, so Spark's
    truncating ``div`` equals DuckDB's flooring ``//``; damping is
    (85·s + 50) div 100.  Integer sums are order-independent, so the
    whole fixpoint is bit-identical across engines and partitionings.
    (Magnitude check: pr ≤ 1e12 and wt ≤ strength, so pr·2·wt stays
    far below 2^63 for any co-basket count this schema can produce.)

    Scale: identical shuffle shape to the unweighted query — edges
    materialized once, one edges⋈ranks join + destination-keyed sum per
    iteration (``_pagerank``); strength rides with the rank table to
    avoid a second join."""
    return _pagerank(Catalog(spark, sf_dir), F.col("wt")).select(
        F.col("node").alias("part_key"),
        "degree",
        "strength",
        F.col("pr").alias("pr_pico"),
        "pr_rank",
    )


graph_pagerank_weighted.__doc__ = graph_pagerank_weighted.__doc__.format(
    iters=_PR_ITERS
)
