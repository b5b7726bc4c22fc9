"""Physical-plan assertions for headline queries: the scale contract
(broadcast dims, bounded shuffles, projection pruning, no Python in the hot
path) checked mechanically from the executed plan."""

from __future__ import annotations

import re

import pytest

from hackatonbigdata_spark.plans.audit import plan_stats, read_schema_columns
from hackatonbigdata_spark.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def test_flagship_broadcasts_dim_and_prunes_columns(spark):
    df = QUERIES["flagship_weekly_brand_demand"](spark, SF_DIR)
    s = plan_stats(df)
    assert s.broadcasts >= 1, "part dim should broadcast"
    assert s.shuffles <= 3, f"agg+window should need ≤3 shuffles, got {s.shuffles}"
    assert not s.has_python_udf
    for cols in read_schema_columns(df):
        # every scan must be pruned well below the full table width
        assert len(cols) <= 6, f"unpruned scan: {cols}"


def test_multiway_join_broadcasts_all_dims(spark):
    s = plan_stats(QUERIES["join_multiway_enrich"](spark, SF_DIR))
    assert s.broadcasts >= 3, "supplier/nation/region dims should all broadcast"


def test_heuristic_blend_bounded_shuffles(spark):
    s = plan_stats(QUERIES["heuristic_blend_forecast"](spark, SF_DIR))
    # 3 aggregate grains + rank + final join — must not grow beyond that
    assert s.shuffles <= 6, f"got {s.shuffles}"
    assert s.broadcasts >= 2


def test_series_kernels_are_the_only_python(spark):
    assert plan_stats(QUERIES["ewm_pandas_per_series"](spark, SF_DIR)).has_python_udf
    for name in ["agg_multistat_product", "window_rolling_stats", "ewm_daily_store"]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


# Bounded-domain exemptions for the exhaustive window audit: every name here
# has an unpartitioned ordered window whose INPUT is provably bounded (never
# fact-scale), with the bound documented.  Everything else must plan with
# zero unpartitioned windows — the r1 scale-killer class (a WindowExec with
# no partition key funnels all rows through one task).  The r5 verdict's
# text_zipf_slope miss is exactly what this exhaustive default catches.
WINDOW_EXEMPT: dict[str, str] = {
    "market_share_brand": "global rank over the 25-brand dimension",
    "label_encode_other": "rank over the bounded label vocabulary (~26 values)",
    "eval_decile_lift": "cumulative gains over exactly 10 decile rows",
    "event_funnel_conversion": "windows over the fixed funnel-stage list",
    "survival_km_signup_purchase": "KM product over distinct survival days "
    "(10-day study horizon)",
    "seq_path_trigrams": "top-20 rank over the event-type^3 path alphabet",
    "graph_pagerank_parts": "final rank over the bounded node dimension "
    "(parts with >=2 shared baskets)",
    "graph_eigencentrality": "final rank over the bounded node dimension "
    "(the graph_pagerank_parts exemption; the fixpoint itself is keyed)",
    "graph_pagerank_weighted": "final rank over the bounded node dimension "
    "(the graph_pagerank_parts exemption; the weighted fixpoint is keyed "
    "identically)",
    "feature_importance_topk": "rank over <= #features rows (the schema, "
    "not the data)",
    "diag_skew_heavy_hitters": "rank over TakeOrdered-limited top-5 rows",
    "alert_error_burnrate": "windows over bounded hourly buckets of the "
    "alert horizon",
    "text_zipf_slope": "prefix sum over DISTINCT frequencies — "
    "O(sqrt(total tokens)) rows for any corpus (r6 rewrite)",
    "text_bm25_topk": "rank over TakeOrdered-limited top-10 rows",
    "corpus_vocab_growth": "cumulative sums over the 20-row doc-range "
    "bucket table (corpus already aggregated away)",
    "search_hybrid_rrf": "two TakeOrdered-limited top-10 rankings plus a "
    "fusion rank over their <= 20-row union",
    "corpus_budget_selection": "prefix sum over the 1e-4 score grid "
    "(<= 10001 cells) plus doc-order allocation inside the single "
    "boundary grid cell",
    "corpus_vocab_coverage": "prefix sums over DISTINCT frequencies — "
    "O(sqrt(total tokens)) rows for any corpus (the text_zipf_slope "
    "collapse)",
    "pareto_skyline_parts": "prefix max over DISTINCT prices (the fact "
    "table is aggregated away first; >domain-size fix documented in the "
    "docstring: two-pass range-partitioned prefix max)",
}


# r15 suite-runtime restructure, same shape as test_oracle_parity: the
# exhaustive sweep constructs every registered DataFrame (iterative
# operators run their eager checkpoint jobs at construction), so the names
# are checked in chunks from a small driver thread pool, with the io_*
# catalog/scratch writers in a dedicated serial chunk, and constructions
# shared with the parity sweep via tests.conftest.cached_query_df.
_NAMES = sorted(QUERIES)
_PAR = [n for n in _NAMES if not n.startswith("io_")]
_SER = [n for n in _NAMES if n.startswith("io_")]
_CHUNK = 16
_WCHUNKS = [_PAR[i : i + _CHUNK] for i in range(0, len(_PAR), _CHUNK)]
if _SER:
    _WCHUNKS.append(_SER)


def _window_verdict(spark, name: str) -> str | None:
    from hackatonbigdata_spark.plans.audit import unpartitioned_windows

    from tests.conftest import cached_query_df

    try:
        n = unpartitioned_windows(cached_query_df(spark, SF_DIR, name, QUERIES[name]))
    except Exception as exc:  # noqa: BLE001 — report, don't kill the chunk
        return f"{name}: construction/plan failed: {type(exc).__name__}: {str(exc)[:300]}"
    if name in WINDOW_EXEMPT:
        if n < 1:
            return (
                f"{name} is window-exempt ({WINDOW_EXEMPT[name]}) but plans no "
                "unpartitioned window — drop the stale exemption"
            )
    elif n != 0:
        return (
            f"{name} plans {n} unpartitioned window(s) — a no-partition "
            "WindowExec moves every row to one task; key it, collapse it "
            "onto a bounded domain, or add a documented exemption"
        )
    return None


@pytest.mark.parametrize(
    "i",
    range(len(_WCHUNKS)),
    ids=[f"{i:02d}_{_WCHUNKS[i][0]}" for i in range(len(_WCHUNKS))],
)
def test_no_unpartitioned_windows_exhaustive(spark, i):
    """EVERY registered query plans with zero unpartitioned windows unless
    exempted above with a documented bounded-domain reason (mirroring how
    test_every_query_has_oracle_or_reason handles rows-only queries)."""
    from concurrent.futures import ThreadPoolExecutor

    names = _WCHUNKS[i]
    if names[0].startswith("io_"):
        verdicts = [_window_verdict(spark, n) for n in names]
    else:
        with ThreadPoolExecutor(max_workers=8) as pool:
            verdicts = list(pool.map(lambda n: _window_verdict(spark, n), names))
    bad = [v for v in verdicts if v]
    assert not bad, f"{len(bad)} of {len(names)} failed:\n" + "\n".join(bad)


def test_new_pipeline_ops_stay_jvm_side(spark):
    """The round-4 pipeline operators are pure column math / joins — no
    Python UDF may appear in their plans (the kernels in series_kernels.py
    and the decode stub stay the only Python)."""
    for name in [
        "sample_stratified_split",
        "contamination_ngram_overlap",
        "embedding_quantize_int8",
        "seqpack_greedy_bins",
        "corpus_curation_pipeline",
        "text_unigram_logprob",
        "text_repetition_ratio",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_contamination_broadcasts_benchmark_side(spark):
    s = plan_stats(QUERIES["contamination_ngram_overlap"](spark, SF_DIR))
    assert s.broadcasts >= 1, "the 2% benchmark shingle set should broadcast"


def test_round5_ops_stay_jvm_side(spark):
    """Round-5 operators: no Python UDF (window partitioning is covered for
    every query by test_no_unpartitioned_windows_exhaustive)."""
    for name in [
        "calibration_conformal",
        "calibration_temperature",
        "calibration_quantile_band",
        "calibration_subsample_uncertainty",
        "stacking_ridge_weights",
        "ensemble_dynamic_weights",
        "feature_importance_topk",
        "corpus_mixture_weights",
        "dedup_report_by_source",
        "agg_sketches_only",
        "cdc_scd2_user_state",
        "diag_skew_heavy_hitters",
        "sample_reservoir_per_group",
        "ann_recall_at_k",
        "text_dupgram_fraction",
        "ar2_yule_walker_sql",
        "croston_ses_sql",
        "dedup_incremental_vs_snapshot",
        "corpus_resample_ncopies",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_round5b_ops_stay_jvm_side(spark):
    """Round-5b operators (sequence/graph/diff/LM/MAD): no Python UDF
    anywhere (window partitioning is covered for every query by
    test_no_unpartitioned_windows_exhaustive)."""
    for name in [
        "seq_event_transitions",
        "interval_merge_coverage",
        "graph_pagerank_parts",
        "snapshot_table_diff",
        "text_bigram_logprob",
        "anomaly_mad_flags",
        "calibration_platt_exact",
        "encode_target_oof",
        "window_rolling_distinct",
        "time_weighted_avg",
        "attribution_multitouch_linear",
        "drift_psi_distribution",
        "drift_performance_periods",
        "window_rank_movers",
        "grouping_sets_custom",
        "eval_confusion_by_store",
        "eval_decile_lift",
        "ab_test_welch",
        "corr_spearman_store",
        "price_elasticity_brand",
        "ab_test_ks",
        "audit_benford_digits",
        "survival_km_signup_purchase",
        "seq_path_trigrams",
        "anomaly_poisson_spikes",
        "text_zipf_slope",
        "quantile_normalize_store",
        "io_schema_evolution",
        "ab_test_cuped",
        "cohort_ltv_curve",
        "window_cusum_changepoint",
        "postproc_topdown_reconcile",
        "io_incremental_rollup",
        "queue_backlog_lindley",
        "embedding_centroid_drift",
        "seasonal_strength_store",
        "concentration_gini_brand",
        "window_max_drawdown",
        "orders_ship_sla",
        "ab_test_mannwhitney",
        "alert_error_burnrate",
        "sample_weighted_aexpj",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_partitioned_read_prunes_partitions(spark):
    """io_partitioned_prune's read-back must carry the year predicate as a
    PartitionFilter (directory pruning), not a row-level filter."""
    df = QUERIES["io_partitioned_prune"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ship_year" in m.group(1), f"year predicate not pushed: {m}"


def test_bucketed_join_has_no_exchange(spark):
    """io_bucketed_join's whole point: after the bucketed write, the
    fact-fact sort-merge join must plan with ZERO exchanges."""
    QUERIES["io_bucketed_join"](spark, SF_DIR).collect()  # creates tables
    tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    li = spark.table(f"hb_li_bkt_{tag}")
    od = spark.table(f"hb_ord_bkt_{tag}")
    j = li.join(od, li.l_orderkey == od.o_orderkey)
    assert plan_stats(j).shuffles == 0


def test_salted_join_avoids_broadcast(spark):
    """join_salted_skew must execute the salted SHUFFLE path (zero
    broadcasts) or the demo proves nothing."""
    s = plan_stats(QUERIES["join_salted_skew"](spark, SF_DIR))
    assert s.broadcasts == 0
    assert not s.has_python_udf


def test_clustered_stats_prune_skips_files(spark):
    """io_clustered_stats_prune: after the range-clustered write, the
    half-year predicate must skip most of the 16 files."""
    from hackatonbigdata_spark.operators.io_queries import (
        _scratch,
        clustered_file_stats,
    )

    QUERIES["io_clustered_stats_prune"](spark, SF_DIR).collect()
    stats = clustered_file_stats(spark, _scratch(SF_DIR, "clustered_by_shipdate"))
    keep = [
        f for f, mn, mx in stats
        if str(mx)[:10] >= "1997-01-01" and str(mn)[:10] < "1997-07-01"
    ]
    assert len(stats) >= 8
    assert len(keep) <= len(stats) // 2, (len(keep), len(stats))


def test_round6_ops_stay_jvm_side(spark):
    """Round-6 operators are pure column math / joins / MLlib transforms —
    no Python UDF in any plan (decode_wav_kernel and the stateful
    streaming kernels are the only intentional Python, and they live
    outside the registry)."""
    for name in [
        "calibration_quantile_fit",
        "mm_magic_format_detect",
        "mm_payload_entropy",
        "mm_patch_byte_stats",
        "stacking_gbt_meta",
        "eval_roc_auc",
        "eval_brier_decomposition",
        "cv_purged_embargo",
        "text_pii_scrub",
        "graph_triangle_count",
        "basket_association_rules",
        "dedup_containment_pairs",
        "corpus_softdedup_weights",
        "join_asof_interpolate",
        "mm_wav_pcm_stats",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_round7b_ops_stay_jvm_side(spark):
    """r7b operators (substring spans, BM25, SemDeDup) are pure column
    math / keyed joins / partitioned windows — no Python UDF anywhere."""
    for name in [
        "dedup_substring_spans",
        "text_bm25_topk",
        "dedup_semdedup_ivf",
        "text_gopher_rules",
        "corpus_bpe_merges",
        "text_chunk_windows",
        "stream_hourly_heavy_hitters",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_multimodal_byte_kernels_have_no_byte_explode(spark):
    """r7: the byte-level kernels build their histograms/stats ROWWISE with
    higher-order functions — the r6 one-row-per-payload-byte explode
    (~60 B Tungsten row per byte of CPU work) must stay gone.  The only
    allowed Generate is mm_patch_byte_stats' one-row-per-PATCH explode,
    which is exactly the result granularity."""
    for name, max_generates in [
        ("mm_payload_entropy", 0),
        ("mm_wav_pcm_stats", 0),
        ("mm_patch_byte_stats", 1),
        ("mm_ppm_pixel_stats", 0),
    ]:
        plan = (
            QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Generate") <= max_generates, name


def test_round8_ops_stay_jvm_side(spark):
    """r8 operators are pure column math / keyed aggregates — no Python
    UDF anywhere (the KMV/space-saving streaming kernels are the declared
    applyInPandasWithState exceptions, tested in test_streaming)."""
    for name in [
        "stream_hourly_distinct",
        "dedup_chunk_hashes",
        "corpus_bpe_encode",
        "similarity_matryoshka_eval",
        "similarity_hamming_binary",
        "corpus_dsir_weights",
        "dedup_lsh_calibration",
        "corpus_mixture_temperature",
        "corpus_vocab_growth",
        "stream_hourly_sample",
        "stream_user_trailing_count",
        "search_hybrid_rrf",
        "corpus_source_report",
        "corpus_source_kl",
        "dedup_chunk_incremental",
        "embedding_int8_ranking",
        "dedup_savings_report",
        "quality_classifier_gd",
        "stream_hourly_cms",
        "dedup_bloom_gate",
        "stream_hourly_value_quantiles",
        "corpus_budget_selection",
        "corpus_ccnet_buckets",
        "corpus_cross_source_overlap",
        "text_winnowing_stats",
        "corpus_novelty_curve",
        "corpus_vocab_coverage",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_lsh_calibration_scores_candidates_only(spark):
    """The r8 verdict's one plan finding: true-Jaccard scoring must be
    scoped to the banded candidates, never a shingle-keyed co-occurrence
    self-join (a hot shingle shared by k docs would emit k²/2 pair rows
    regardless of candidacy).  Candidates-only means every exchange keys
    on doc ids / band buckets / the 9-level estimate grid — NO exchange
    may partition on the shingle column itself."""
    plan = (
        QUERIES["dedup_lsh_calibration"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            key = line.split("hashpartitioning(", 1)[1]
            assert not key.startswith("shingle"), line


def test_round9_ops_stay_jvm_side(spark):
    """r9 operators are pure column math / keyed windows+aggregates —
    no Python UDF anywhere."""
    for name in [
        "dedup_lines_ccnet",
        "embedding_pq_eval",
        "mm_ppm_pixel_stats",
        "stream_hourly_bloom",
        "similarity_ivfpq_topk",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_round10_ops_stay_jvm_side(spark):
    """r10 operators are pure column math / keyed windows+aggregates —
    no Python UDF anywhere."""
    for name in [
        "similarity_ivf_nprobe_sweep",
        "stream_hourly_hll",
        "corpus_doremi_weights",
        "stream_hll_daily_merge",
        "mm_phash_dedup",
        "io_zorder_prune",
        "text_kneser_ney_logprob",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_round11_ops_stay_jvm_side(spark):
    """r11 operators are pure column math / keyed windows+aggregates —
    no Python UDF anywhere."""
    for name in [
        "similarity_ivfpq_nprobe",
        "stream_interval_join_outer",
        "stream_hll_returning_users",
        "search_mmr_rerank",
        "sketch_kmv_overlap",
        "io_mor_deletes",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_round12_ops_stay_jvm_side(spark):
    """r12 operators are pure column math / keyed windows+aggregates —
    no Python UDF anywhere (the KLL cascade and the graph walk are
    bounded driver-side loops over DataFrame ops, never pandas)."""
    for name in [
        "similarity_graph_ann",
        "io_mor_compact",
        "io_time_travel",
        "sketch_kll_quantiles",
        "io_time_travel_changes",
        "io_equality_deletes",
        "similarity_nndescent_build",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_round13_ops_stay_jvm_side(spark):
    """r13 operators are pure column math / keyed windows+aggregates —
    no Python UDF anywhere (the fused walk is a bounded driver-side loop
    over DataFrame ops; the partition-evolution read is two pruned scans
    unioned; the tokenizer encode's Viterbi is a SQL aggregate fold)."""
    for name in [
        "similarity_graph_ann_nnd",
        "io_partition_evolution",
        "tokenizer_unigram_encode",
        "mm_ppm_resize",
        "graph_label_propagation",
        "graph_modularity_score",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_round13_ops_bounded_shuffles(spark):
    """Shuffle budgets for the r13 queries' FINAL plans (the walk/build
    stages are checkpointed, so the returned plan is the readout over
    their results): partition evolution = the two pruned scans union
    into one partial-agg + one exchange pair (≤3 leaves headroom for an
    AQE re-plan); the composed recall readout joins two checkpointed
    state tables to the ground truth (≤6, the heuristic-blend budget)."""
    s = plan_stats(QUERIES["io_partition_evolution"](spark, SF_DIR))
    assert s.shuffles <= 3, f"io_partition_evolution: got {s.shuffles}"
    s = plan_stats(QUERIES["similarity_graph_ann_nnd"](spark, SF_DIR))
    assert s.shuffles <= 6, f"similarity_graph_ann_nnd: got {s.shuffles}"


def test_round14_ops_stay_jvm_side(spark):
    """r14 operators are pure column math / keyed windows+aggregates —
    no Python UDF anywhere (both weighted iterations are bounded
    driver-side loops over checkpointed DataFrame ops)."""
    for name in [
        "graph_label_propagation_weighted",
        "graph_modularity_weighted",
        "graph_pagerank_weighted",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


def test_round14_ops_bounded_shuffles(spark):
    """Shuffle budgets for the r14 weighted-graph FINAL plans (the
    per-round evolution is checkpointed, so the returned plan is the
    readout over the final labels/ranks): the weighted LPA readout is
    labels⋈sizes⋈strengths (≤4); weighted modularity's term table is
    checkpointed, leaving the 1-row total cross join (≤2); weighted
    PageRank deliberately does NOT checkpoint per iteration (each
    round's state is referenced once, so lineage stays linear — the
    unweighted query's documented shape): its plan carries the whole
    {iters}-round fixpoint, bounded at ≤5 exchanges per iteration
    (edges⋈ranks, destination agg, state rejoin) — measured 24 vs the
    unweighted query's 29, i.e. the weight column rides existing
    shuffles."""
    from hackatonbigdata_spark.operators.sequence import _PR_ITERS

    s = plan_stats(QUERIES["graph_label_propagation_weighted"](spark, SF_DIR))
    assert s.shuffles <= 4, f"graph_label_propagation_weighted: got {s.shuffles}"
    s = plan_stats(QUERIES["graph_modularity_weighted"](spark, SF_DIR))
    assert s.shuffles <= 2, f"graph_modularity_weighted: got {s.shuffles}"
    s = plan_stats(QUERIES["graph_pagerank_weighted"](spark, SF_DIR))
    assert s.shuffles <= 5 * _PR_ITERS, f"graph_pagerank_weighted: got {s.shuffles}"


# Exact all-pairs cosine queries: each unordered pair is joined once
# (a.vec_id < b.vec_id, build side broadcast) and exploded to both
# directions.  A union of two directed scans would plan two
# BroadcastNestedLoopJoins and double the O(n²) work.
ALL_PAIRS_COSINE = [
    "dedup_embedding_cosine",
    "similarity_topk_cosine",
    "similarity_pca_cosine",
    "similarity_matryoshka_eval",
    "similarity_hamming_binary",
    "embedding_int8_ranking",
    "embedding_pq_eval",
]


@pytest.mark.parametrize("name", ALL_PAIRS_COSINE)
def test_all_pairs_cosine_scores_each_pair_once(spark, name):
    # a fresh DataFrame, not the sweep's shared one: once a query has run,
    # the adaptive plan prints its final AND its initial plan
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan))
    assert n == 1, f"{name} plans {n} BroadcastNestedLoopJoins, want 1"
