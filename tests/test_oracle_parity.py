"""The core correctness suite: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 gate (row count + schema + order-insensitive values)
at sf0.001 for speed; `pytest -m sf001` style full runs at sf0.01 happen in
test_oracle_parity_sf001 via the SPARK_GRAFT_TEST_SF env var.

One query at a time would leave the local master mostly idle while the
single-threaded driver loop pays per-job scheduling, toPandas, and DuckDB
latency serially, so the sweep runs in chunks (``tests.conftest.
query_chunks``) whose members are checked from a small driver thread pool
(concurrent actions backfill the executors; results are
position-independent).  Every registered name is compared against its
oracle, and a failing chunk names each failing query with its detail.
``io_*`` queries write catalog tables / scratch layouts during
construction (embedded-derby DDL is not safely concurrent), so they run in
a dedicated serial chunk.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from hackatonbigdata_spark.oracle import (
    CompareResult,
    compare_frames,
    duckdb_connection,
)
from hackatonbigdata_spark.registry import all_oracles, all_queries
from tests.conftest import cached_query_df, query_chunks

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

QUERIES = all_queries()
ORACLES = all_oracles()

CHUNKS = query_chunks(QUERIES)


def _check_one(spark, name: str) -> CompareResult:
    try:
        df = cached_query_df(spark, SF_DIR, name, QUERIES[name])
        sdf = df.toPandas()
        sql = ORACLES.get(name)
        if sql is None:
            return CompareResult(name, len(sdf) >= 0, f"rows-only: {len(sdf)} rows")
        con = duckdb_connection(SF_DIR)
        try:
            odf = con.execute(sql).fetchdf()
        finally:
            con.close()
        return compare_frames(name, sdf, odf)
    except Exception as exc:  # noqa: BLE001 — report, don't kill the chunk
        return CompareResult(name, False, f"{type(exc).__name__}: {str(exc)[:400]}")


@pytest.mark.parametrize(
    "i",
    range(len(CHUNKS)),
    ids=[f"{i:02d}_{CHUNKS[i][0]}" for i in range(len(CHUNKS))],
)
def test_query_matches_oracle(spark, i):
    names = CHUNKS[i]
    if names[0].startswith("io_"):
        results = [_check_one(spark, n) for n in names]
    else:
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(lambda n: _check_one(spark, n), names))
    bad = [f"{r.name}: {r.detail}" for r in results if not r.ok]
    assert not bad, f"{len(bad)} of {len(names)} failed:\n" + "\n".join(bad)


def test_every_query_has_oracle_or_reason():
    missing = set(QUERIES) - set(ORACLES)
    # rows-only queries are allowed but must be intentional; the list is
    # explicit and exact, so a forgotten oracle fails loudly and a name
    # that gains an oracle or leaves the registry must leave the list too.
    allowed_rows_only = {
        # deterministic fake decoder over mapInPandas; no SQL oracle by
        # design — pinned by tests/test_llm_multimodal.py
        "multimodal_decode_stub",
        # MLlib two-stage hurdle model: fitted coefficients aren't
        # SQL-reproducible; sanity-pinned by tests/test_hurdle.py
        "zero_inflated_hurdle_mllib",
        # HLL++/KLL sketch outputs are implementation-specific; error bounds
        # pinned by tests/test_scale.py
        "agg_approx_sketches",
        # production sketch path (no exact twins); equality to the audit
        # query's sketch columns pinned by tests/test_scale.py
        "agg_sketches_only",
        # MLlib KMeans centroids / PCA basis / Platt coefficients are model
        # internals; recall and calibration pinned by
        # tests/test_ml_similarity.py
        "similarity_ivf_kmeans",
        "similarity_pca_cosine",
        "calibration_platt",
        # MLlib GBT meta-learner: boosted-tree split thresholds are model
        # internals; not-worse-than-ridge WMAPE + importance simplex pinned
        # by tests/test_ensemble_gbt.py
        "stacking_gbt_meta",
        # 10-round iterative BPE merge learning: each round's argmax
        # depends on all prior merges — not one SQL statement; the full
        # merge table is pinned against pure-Python BPE over a
        # DuckDB-derived vocabulary in tests/test_r7_semantics.py
        "corpus_bpe_merges",
        # BPE application: encodes with the learner's (itself rows-only)
        # merge table; pinned end-to-end against pure-Python
        # learn-then-encode in tests/test_r8_semantics.py
        "corpus_bpe_encode",
    }
    assert missing == allowed_rows_only, (
        f"missing oracle SQL: {sorted(missing - allowed_rows_only)}; "
        f"allowlisted but oracled or unregistered: {sorted(allowed_rows_only - missing)}"
    )
