"""Physical-plan assertions for headline queries: the scale contract
(broadcast dims, bounded shuffles, projection pruning, no Python in the hot
path) checked mechanically from the executed plan."""

from __future__ import annotations

import re

import pytest

from hackatonbigdata_spark.operators.llm import _dup_edges
from hackatonbigdata_spark.plans.audit import (
    _final_plan,
    plan_stats,
    read_schema_columns,
    unpartitioned_windows,
)
from hackatonbigdata_spark.registry import all_queries
from tests.conftest import SF_DIR, cached_query_df, query_chunks

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


def test_only_the_decode_stub_plans_python(spark):
    assert plan_stats(QUERIES["multimodal_decode_stub"](spark, SF_DIR)).has_python_udf
    for name in [
        "ewm_pandas_per_series",
        "sequential_clamp_per_series",
        "rolling_autocorr_per_series",
        "holt_winters_per_series",
    ]:
        assert not plan_stats(QUERIES[name](spark, SF_DIR)).has_python_udf, name


# Bounded-domain exemptions for the exhaustive window audit: every name here
# has an unpartitioned ordered window whose INPUT is provably bounded (never
# fact-scale), with the bound documented.  Everything else must plan with
# zero unpartitioned windows — a WindowExec with no partition key funnels
# all rows through one task, the scale-killer this exhaustive default
# catches.
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
    "O(sqrt(total tokens)) rows for any corpus",
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


# Queries that run Python on purpose; every other plan must stay JVM-side
# (no BatchEvalPython / ArrowEvalPython / FlatMapGroupsInPandas /
# MapInPandas), so Python never enters a hot path unannounced.
PYTHON_EXEMPT: dict[str, str] = {
    "multimodal_decode_stub": "mapInPandas decode plumbing around the "
    "stubbed codec",
}


# Same chunks as test_oracle_parity (tests.conftest.query_chunks): the
# exhaustive sweep constructs every registered DataFrame (iterative
# operators run their eager checkpoint jobs at construction), and shares
# each construction with the parity sweep via tests.conftest.cached_query_df.
_WCHUNKS = query_chunks(QUERIES)


def _audited_facts(df) -> tuple:
    """(unpartitioned windows, plan_stats) of ``df``'s pre-run plan.  A new
    DataFrame over the same logical plan is compiled afresh whether or not
    ``df`` already ran; once run, ``df``'s own adaptive plan is the final
    one, re-planned from runtime statistics, so counts read off it would
    depend on test order."""
    fresh = df.alias("_plan_audit")
    return unpartitioned_windows(fresh), plan_stats(fresh)


def _plan_verdict(spark, name: str, df=None) -> str | None:
    try:
        if df is None:
            df = cached_query_df(spark, SF_DIR, name, QUERIES[name])
        n, stats = _audited_facts(df)
        python = stats.has_python_udf
    except Exception as exc:  # noqa: BLE001 — report, don't kill the chunk
        return f"{name}: construction/plan failed: {type(exc).__name__}: {str(exc)[:300]}"
    if python != (name in PYTHON_EXEMPT):
        if python:
            return (
                f"{name} runs a Python UDF/kernel — keep it JVM-side or add "
                "a documented PYTHON_EXEMPT reason"
            )
        return (
            f"{name} is Python-exempt ({PYTHON_EXEMPT[name]}) but plans no "
            "Python — drop the stale exemption"
        )
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
    """EVERY registered query plans with zero unpartitioned windows and no
    Python unless exempted above with a documented reason (mirroring how
    test_every_query_has_oracle_or_reason handles rows-only queries)."""
    from concurrent.futures import ThreadPoolExecutor

    names = _WCHUNKS[i]
    if names[0].startswith("io_"):
        verdicts = [_plan_verdict(spark, n) for n in names]
    else:
        with ThreadPoolExecutor(max_workers=8) as pool:
            verdicts = list(pool.map(lambda n: _plan_verdict(spark, n), names))
    bad = [v for v in verdicts if v]
    assert not bad, f"{len(bad)} of {len(names)} failed:\n" + "\n".join(bad)


@pytest.mark.parametrize("name", ["cv_hierarchical_folds", "corpus_budget_selection"])
def test_plan_verdict_is_the_same_before_and_after_a_run(spark, name):
    """The exhaustive audit judges one stated plan, the pre-run one, so its
    verdict and the facts behind it do not depend on whether the shared
    DataFrame already ran.  Once run, these two queries' own adaptive plans
    count fewer scans (4 -> 0) and fewer unpartitioned windows (5 -> 3)."""
    df = QUERIES[name](spark, SF_DIR)
    facts, verdict = _audited_facts(df), _plan_verdict(spark, name, df)
    df.collect()
    assert _audited_facts(df) == facts
    assert _plan_verdict(spark, name, df) == verdict


def test_contamination_broadcasts_benchmark_side(spark):
    s = plan_stats(QUERIES["contamination_ngram_overlap"](spark, SF_DIR))
    assert s.broadcasts >= 1, "the 2% benchmark shingle set should broadcast"


def test_partitioned_read_prunes_partitions(spark):
    """io_partitioned_prune's read-back must carry the year predicate as a
    PartitionFilter (directory pruning), not a row-level filter."""
    df = QUERIES["io_partitioned_prune"](spark, SF_DIR)
    plan = _final_plan(df)
    assert "PartitionFilters" in plan
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


def test_multimodal_byte_kernels_have_no_byte_explode(spark):
    """The byte-level kernels build their histograms/stats ROWWISE with
    higher-order functions — a one-row-per-payload-byte explode
    (~60 B Tungsten row per byte of CPU work) must stay gone.  The only
    allowed Generate is mm_patch_byte_stats' one-row-per-PATCH explode,
    which is exactly the result granularity."""
    for name, max_generates in [
        ("mm_payload_entropy", 0),
        ("mm_wav_pcm_stats", 0),
        ("mm_patch_byte_stats", 1),
        ("mm_ppm_pixel_stats", 0),
    ]:
        plan = _final_plan(QUERIES[name](spark, SF_DIR))
        assert plan.count("Generate") <= max_generates, name


def test_lsh_calibration_scores_candidates_only(spark):
    """True-Jaccard scoring must be scoped to the banded candidates, never
    a shingle-keyed co-occurrence self-join (a hot shingle shared by k docs
    would emit k²/2 pair rows regardless of candidacy).  Candidates-only
    means every exchange keys on doc ids / band buckets / the 9-level
    estimate grid — NO exchange may partition on the shingle column
    itself."""
    plan = _final_plan(QUERIES["dedup_lsh_calibration"](spark, SF_DIR))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            key = line.split("hashpartitioning(", 1)[1]
            assert not key.startswith("shingle"), line


def _documents_scans_after_a_run(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return len(re.findall(r"FileScan parquet [^\n]*documents", _final_plan(df)))


@pytest.mark.parametrize(
    "build",
    [QUERIES["dedup_minhash_lsh"], _dup_edges],
    ids=["dedup_minhash_lsh", "dedup_cluster_components_edges"],
)
def test_minhash_signature_is_computed_once(spark, build):
    """The MinHash signature subtree (text scan, normalization, shingle
    explode, 8 hashes per shingle) runs once per plan: the LSH candidates
    group the band buckets instead of self-joining them, and the
    components' edge build emits both edge orientations from one row
    instead of a mirrored union."""
    assert _documents_scans_after_a_run(build(spark, SF_DIR)) == 1


def test_partition_evolution_and_nnd_readout_bounded_shuffles(spark):
    """Shuffle budgets for the partition-evolution and graph-ANN/NN-descent
    FINAL plans (the walk/build stages are checkpointed, so the returned
    plan is the readout over their results): partition evolution = the
    two pruned scans union
    into one partial-agg + one exchange pair (≤3 leaves headroom for an
    AQE re-plan); the composed recall readout joins two checkpointed
    state tables to the ground truth (≤6, the heuristic-blend budget)."""
    s = plan_stats(QUERIES["io_partition_evolution"](spark, SF_DIR))
    assert s.shuffles <= 3, f"io_partition_evolution: got {s.shuffles}"
    s = plan_stats(QUERIES["similarity_graph_ann_nnd"](spark, SF_DIR))
    assert s.shuffles <= 6, f"similarity_graph_ann_nnd: got {s.shuffles}"


def test_weighted_graph_readouts_bounded_shuffles(spark):
    """Shuffle budgets for the graph FINAL plans, weighted and on unit
    weights alike (both run one body per algorithm): the LPA readout is
    labels⋈sizes⋈strengths over the materialized labels (≤4);
    modularity's term table is materialized, leaving the 1-row total
    cross join (≤2); PageRank does NOT materialize per iteration (each
    round's state is referenced once, so lineage stays linear): its
    plan carries the whole fixed-round fixpoint, bounded at ≤5
    exchanges per iteration.  Each round is one edges⋈ranks join and
    one destination aggregate; 15 exchanges in all at sf0.001."""
    from hackatonbigdata_spark.operators.sequence import _PR_ITERS

    for names, bound in [
        (("graph_label_propagation", "graph_label_propagation_weighted"), 4),
        (("graph_modularity_score", "graph_modularity_weighted"), 2),
        (("graph_pagerank_parts", "graph_pagerank_weighted"), 5 * _PR_ITERS),
    ]:
        for name in names:
            s = plan_stats(QUERIES[name](spark, SF_DIR))
            assert s.shuffles <= bound, f"{name}: got {s.shuffles}"


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


def _bnlj_count(df) -> int:
    return len(re.findall(r"\bBroadcastNestedLoopJoin\b", _final_plan(df)))


@pytest.mark.parametrize("name", ALL_PAIRS_COSINE)
def test_all_pairs_cosine_scores_each_pair_once(spark, name):
    n = _bnlj_count(cached_query_df(spark, SF_DIR, name, QUERIES[name]))
    assert n == 1, f"{name} plans {n} BroadcastNestedLoopJoins, want 1"


def test_plan_audit_counts_match_before_and_after_a_run(spark):
    """Once an adaptive query has run, its plan text also prints the
    initial plan; the audit reads the final plan only, so a run must not
    change what it counts.  A fresh DataFrame, so it has not run yet."""
    df = QUERIES["similarity_topk_cosine"](spark, SF_DIR)
    before = _bnlj_count(df)
    df.collect()
    assert _bnlj_count(df) == before == 1


@pytest.mark.parametrize("name", ["similarity_ivf_bucketed", "dedup_semdedup_ivf"])
def test_ivf_assignment_is_evaluated_once(spark, name):
    """The IVF assignment (``_ivf_ranks``' centroid cross join, one
    BroadcastNestedLoopJoin) feeds both sides of the bucket pair scan;
    the plan must not evaluate it once per reader."""
    n = _bnlj_count(cached_query_df(spark, SF_DIR, name, QUERIES[name]))
    assert n <= 1, f"{name} plans {n} BroadcastNestedLoopJoins, want at most 1"
