"""The benchmark's workloads: which ops each runs, on which input.

Kept free of Spark imports so run.py can validate its arguments and the
unit tests can read the table without a JVM.
"""

from __future__ import annotations

import os

# input tables of every workload: a copy of the project's sf0.01 test data
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# warm_s is this pass's wall time.  Warm passes keep speeding up as the JIT
# compiles more (pass 3 ran 13-31% faster than pass 2), so it names a fixed
# pass, the same on every commit compared.
WARM_PASS = 2


WORKLOADS = {
    # Building the DataFrames takes about two thirds of the cold pass (traced):
    # parquet schema jobs, the eager localCheckpoint loop of the dedup
    # components, the events reader; their sinks take about a quarter.
    "build-heavy": (
        "dedup_cluster_components",
        "join_multiway_enrich",
        "agg_multistat_product",
        "stream_session_windows",
    ),
    # Running the sinks takes about 70% of the cold pass (traced): the exact
    # cosine pair scan, a shuffle self-join, and an Arrow applyInPandas kernel
    # next to its pure-SQL twin; building takes about a fifth.
    "execute-heavy": (
        "similarity_topk_cosine",
        "cooccurrence_pairs",
        "ar2_yule_walker_per_series",
        "ar2_yule_walker_sql",
    ),
    # The paper's deliverable (the submission CSV through coalesce(1)), a
    # table-format rewrite, and Structured Streaming state and commits.  Every
    # op writes; the upsert writes while it is built, so build and sinks split
    # the cold pass about evenly.
    "write-stream": (
        "build_submission",
        "io_upsert_roundtrip",
        "dedup_stream",
    ),
}
