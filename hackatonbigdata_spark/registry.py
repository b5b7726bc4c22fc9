"""Query registry: the engine's operator catalog.

Every operator from SURVEY.md §2 is registered here as a named query —
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent ANSI SQL string a DuckDB oracle can run on the same parquet
tables.  The driver's correctness gate compares the two per query.

Conventions that keep Spark and DuckDB hash-comparable:
- alias every computed column identically in both
- round floating aggregates with ``round(x, 4)`` on both sides
- day-of-week is ISO (1=Mon..7=Sun) everywhere
- never depend on row order (the compare is order-insensitive)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query and (optionally) its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so decorators run."""
    from hackatonbigdata_spark.operators import (  # noqa: F401
        aggregates,
        drift,
        forecast,
        io_queries,
        llm,
        multimodal,
        relational,
        scalars,
        sequence,
        series_kernels,
        streaming_batch,
        windows,
    )


# Verification priority: the driver's correctness gate walks the queries()
# dict in insertion order and checks a bounded prefix, so the names whose
# code most recently changed are listed here first, newest change first;
# every other name follows in registration order.  Every name listed must
# be registered.
_PRIORITY: list[str] = [
    "graph_pagerank_parts",
    "graph_pagerank_weighted",
    "graph_label_propagation",
    "graph_label_propagation_weighted",
    "graph_modularity_score",
    "graph_modularity_weighted",
    "graph_eigencentrality",
    "ar2_yule_walker_per_series",
    "ar2_yule_walker_sql",
    "croston_per_series",
    "croston_ses_sql",
    "sketch_kmv_overlap",
    "stream_hourly_sample",
    "stream_hourly_cms",
    "stream_hourly_value_quantiles",
    "sketch_kll_quantiles",
    "sketch_kll_merge_daily",
    "stream_hourly_bloom",
    "dedup_bloom_gate",
    "ewm_pandas_per_series",
    "sequential_clamp_per_series",
    "rolling_autocorr_per_series",
    "holt_winters_per_series",
    "ewm_daily_store",
    "holt_level_trend",
    "window_rolling_multiscale",
    "feature_matrix_daily_store",
    "calibration_isotonic",
    "dedup_minhash_lsh",
    "dedup_cluster_components",
    "dedup_cluster_largestar",
    "dedup_lsh_calibration",
    "dedup_report_by_source",
    "dedup_pipeline_report",
    "dedup_savings_report",
    "io_upsert_roundtrip",
    "basket_association_rules",
    "graph_link_prediction",
    "graph_triangle_count",
    "graph_kcore_decomposition",
    "similarity_ivfpq_nprobe",
    "sample_scan",
    "io_bloom_skip_lookup",
    "calibration_subsample_uncertainty",
    "dedup_simhash",
    "encode_feature_hashing",
    "sample_stratified_split",
    "seqpack_greedy_bins",
    "text_chunk_windows",
    "corpus_curation_pipeline",
    "corpus_dsir_weights",
    "similarity_ivf_bucketed",
    "dedup_semdedup_ivf",
    "cooccurrence_pairs",
    "similarity_graph_ann",
    "similarity_graph_ann_nnd",
    "similarity_graph_ann_clustered",
    "similarity_nndescent_build",
    "search_rocchio_feedback",
    "corpus_novelty_curve",
    "text_winnowing_stats",
    "corpus_cross_source_overlap",
    "corpus_ccnet_buckets",
    "corpus_vocab_coverage",
    "dedup_chunk_hashes",
    "similarity_matryoshka_eval",
    "similarity_hamming_binary",
    "corpus_mixture_temperature",
    "corpus_vocab_growth",
    "search_hybrid_rrf",
    "corpus_source_report",
    "corpus_source_kl",
    "dedup_chunk_incremental",
    "embedding_int8_ranking",
    "quality_classifier_gd",
    "corpus_budget_selection",
    "stream_hourly_distinct",
    "stream_user_trailing_count",
    "dedup_lines_ccnet",
    "embedding_pq_eval",
    "mm_ppm_pixel_stats",
    "corpus_bpe_encode",
]


def _ordered(mapping: dict[str, "QueryFn | str"]) -> dict:
    # Every _PRIORITY name must exist in the full registry: a name that
    # resolves to nothing would silently shrink the driver's verification
    # window and record phantom work as planned-and-placed.
    unknown = set(_PRIORITY) - set(_QUERIES)
    if unknown:
        raise ValueError(f"_PRIORITY names not registered anywhere: {sorted(unknown)}")
    lead = {n: mapping[n] for n in _PRIORITY if n in mapping}
    tail = {n: v for n, v in mapping.items() if n not in lead}
    return {**lead, **tail}


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return _ordered(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return _ordered(_ORACLES)
