"""Independent semantic pins for the round-14 changes.

Same contract as test_r7..r13_semantics: the oracle parity suite proves
Spark == DuckDB; these tests guard against both engines computing the
same WRONG thing by re-deriving behavior independently.  The weighted
graph pins live in test_graph.py.
"""

from __future__ import annotations

import duckdb

from hackatonbigdata_spark.registry import all_queries

QUERIES = all_queries()

from tests.conftest import SF_DIR  # noqa: E402


# --- planted-cluster ANN fixture --------------------------------------------


def test_clustered_vectors_match_python(spark):
    """The planted-cluster derivation pinned bit-for-bit: cluster
    c = vec_id % K, vector = anchor_c + alpha*own elementwise, norm via
    the sequential left-fold dot — replayed in pure Python over the
    parquet and compared exactly (one multiply + one add per element:
    identical IEEE doubles, no accumulation order to diverge)."""
    import math

    from hackatonbigdata_spark.catalog import Catalog
    from hackatonbigdata_spark.operators.llm import (
        _PC_ALPHA,
        _PC_K,
        _embeddings_clustered,
    )

    raw = {
        vid: e
        for vid, e in duckdb.sql(
            f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet'"
        ).fetchall()
    }
    got = _embeddings_clustered(Catalog(spark, SF_DIR)).collect()
    assert len(got) == len(raw)
    for r in got:
        a, x = raw[r.vec_id % _PC_K], raw[r.vec_id]
        exp = [a[i] + _PC_ALPHA * x[i] for i in range(len(x))]
        assert list(r.emb) == exp, f"vec {r.vec_id}"
        acc = 0.0
        for v in exp:
            acc += v * v
        assert r.nrm == math.sqrt(acc), f"vec {r.vec_id} nrm"


def test_clustered_fixture_discriminates_regimes(spark):
    """The r14 recall-vs-cost chart (the round-13 verdict's ask): the
    SAME composed build-then-search query read in both regimes.  Pinned
    coordinates at sf0.001 — raw (near-uniform): graph 0.667@151,
    nnd 0.064@35; clustered (K=64, alpha=0.75): graph ~0.84@96,
    nnd ~0.12@35.  The transferable assertions: (1) the exact-graph
    walk IMPROVES on clustered structure (edge budget concentrates
    where the true neighbors are); (2) the NND walk moves materially
    off the hard-case floor (>= 1.5x) but stays FAR below the exact
    graph — the md5 seed is random hashing, not locality-sensitive, so
    the build stays seed-limited on exactly the structure it should
    exploit; (3) the decomposition is non-degenerate in the clustered
    regime (0 < recall_nnd < recall_graph < 1 with real gaps); (4) both
    variants stay indexes, never rescans."""
    comp_raw = QUERIES["similarity_graph_ann_nnd"](spark, SF_DIR).collect()
    comp_cl = QUERIES["similarity_graph_ann_clustered"](spark, SF_DIR).collect()
    assert {r.vec_id for r in comp_cl} == {r.vec_id for r in comp_raw}

    def means(rows):
        m = len(rows)
        return (
            sum(r.recall_graph_at_3 for r in rows) / m,
            sum(r.recall_nnd_at_3 for r in rows) / m,
        )

    rg_raw, rn_raw = means(comp_raw)
    rg_cl, rn_cl = means(comp_cl)
    # (1) clustered structure helps the exact-graph walk
    assert rg_cl > rg_raw and rg_cl >= 0.7, (rg_cl, rg_raw)
    # (2) NND walk off the floor but still seed-limited
    assert rn_cl >= 1.5 * rn_raw, (rn_cl, rn_raw)
    assert rn_cl < 0.5 * rg_cl, (rn_cl, rg_cl)
    # (3) non-degenerate decomposition
    assert 0.0 < rn_cl < rg_cl < 1.0
    n = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet(?)",
        [f"{SF_DIR}/embeddings.parquet"],
    ).fetchone()[0]
    # (4) bounded walks in the clustered regime too
    assert max(r.evals_graph for r in comp_cl) < 0.5 * (n - 1)
    assert max(r.evals_nnd for r in comp_cl) < 0.5 * (n - 1)
