"""Math pins for the M8 sequence operators (beyond oracle parity):
invariants that would catch a wrong-but-consistent implementation in both
engines at once."""

from __future__ import annotations

from hackatonbigdata_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"

QUERIES = all_queries()


def test_transition_matrix_rows_are_distributions(spark):
    pdf = QUERIES["seq_event_transitions"](spark, SF_DIR).toPandas()
    sums = pdf.groupby("prev_type").p_next.sum()
    # rows sum to 1 up to the 4dp rounding of each cell
    assert ((sums - 1.0).abs() < 0.01).all(), sums
    assert (pdf.p_next > 0).all()
    assert (pdf.n_trans >= 1).all()


def test_interval_merge_invariants(spark):
    pdf = QUERIES["interval_merge_coverage"](spark, SF_DIR).toPandas()
    assert (pdf.n_islands >= 1).all()
    assert (pdf.max_island_days <= pdf.covered_days).all()
    assert (pdf.max_island_intervals >= 1).all()


def test_time_weighted_avg_bounded_by_value_range(spark):
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.catalog import Catalog

    t = Catalog(spark, SF_DIR)
    vr = t.events.agg(F.min("value"), F.max("value")).first()
    pdf = QUERIES["time_weighted_avg"](spark, SF_DIR).toPandas()
    assert (pdf.twa_value >= vr[0] - 1e-4).all()
    assert (pdf.twa_value <= vr[1] + 1e-4).all()
    assert (pdf.span_seconds > 0).all()


def test_multitouch_credit_totals_match_purchase_values(spark):
    """Linear attribution must conserve value: total credited over all touch
    types equals the total value of attributed purchases (up to the 1e-4
    per-touch quantization)."""
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.catalog import Catalog

    pdf = QUERIES["attribution_multitouch_linear"](spark, SF_DIR).toPandas()
    t = Catalog(spark, SF_DIR)
    p = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts"), "value"
    )
    tch = t.events.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"), F.col("ts").alias("tts")
    )
    attributed = (
        tch.join(
            p,
            (F.col("t_user") == F.col("user_id"))
            & (F.col("tts") > F.col("pts") - F.expr("INTERVAL 60 MINUTES"))
            & (F.col("tts") <= F.col("pts")),
        )
        .select("pid", "value")
        .distinct()
        .agg(F.sum("value"))
        .first()[0]
    )
    n_touches = int(pdf.n_touches.sum())
    assert abs(pdf.credited_value.sum() - attributed) < 1e-4 * n_touches + 1e-6


def test_lindley_closed_form_matches_naive_recursion(spark):
    """The prefix-min closed form must replay the sequential
    q_t = max(0, q_{t-1} + a_t - c) recursion exactly."""
    pdf = (
        QUERIES["queue_backlog_lindley"](spark, SF_DIR)
        .toPandas()
        .sort_values(["o_orderpriority", "day"])
    )
    for prio, g in pdf.groupby("o_orderpriority"):
        q = 0
        for _, row in g.iterrows():
            q = max(0, q + int(row.arrivals) - int(row.capacity))
            assert q == int(row.backlog), (prio, row.day, q, row.backlog)
