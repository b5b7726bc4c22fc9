"""Pins of the graph-ANN walk ``_gann_walk``: the single-map guard, the
NULLS-LAST frontier comparator, and the hop-budget invariant."""

from __future__ import annotations

import pytest

import hackatonbigdata_spark.operators.llm as llm
from tests.conftest import SF_DIR


def test_gann_map_guard_fires_below_bound(spark, monkeypatch):
    """The broadcast single-map guard: when the embedding or graph table
    outgrows _GANN_MAP_MAX_ROWS the walk must raise with the documented
    fallback message instead of silently building a map value headed for
    the 2 GB single-object ceiling."""
    monkeypatch.setattr(llm, "_GANN_MAP_MAX_ROWS", 10)
    with pytest.raises(Exception, match="single-map bound exceeded"):
        llm.similarity_graph_ann(spark, SF_DIR).count()


def test_gann_map_guard_constant_sane():
    # the guard must sit well under the ~3.9M-row theoretical ceiling of
    # one 2 GB map value of 64-d (emb, nrm) entries (~550 B each)
    assert 0 < llm._GANN_MAP_MAX_ROWS <= 2_000_000


def test_gann_hops_invariant():
    # the fold unrolls hop 1 and folds hops 2..N with sequence(2, N);
    # sequence(2, 1) DESCENDS, so the code guards _GANN_HOPS <= 1 with an
    # explicit branch — the constant itself must stay a positive budget
    assert llm._GANN_HOPS >= 1


def test_gann_frontier_comparator_nulls_last(spark):
    """The frontier comparator must sort a NULL cos AFTER every scored
    row (the row_number window it replaced ordered cos DESC = NULLS
    LAST), never tie it into the beam by node order."""
    # comparator copied from _gann_walk via its module constants: rebuild
    # the lambda text exactly as the walk builds it
    cmp_sql = (
        "(x, y) -> CASE "
        "WHEN x.cos IS NULL AND y.cos IS NOT NULL THEN 1 "
        "WHEN x.cos IS NOT NULL AND y.cos IS NULL THEN -1 "
        "WHEN x.cos > y.cos THEN -1 WHEN x.cos < y.cos THEN 1 "
        "WHEN x.node < y.node THEN -1 WHEN x.node > y.node THEN 1 ELSE 0 END"
    )
    row = spark.sql(
        "SELECT transform(array_sort(array("
        "named_struct('node', 1L, 'cos', CAST(NULL AS DOUBLE)),"
        "named_struct('node', 9L, 'cos', 0.5D),"
        "named_struct('node', 3L, 'cos', 0.9D),"
        "named_struct('node', 2L, 'cos', CAST(NULL AS DOUBLE)),"
        f"named_struct('node', 7L, 'cos', 0.5D)), {cmp_sql}), s -> s.node)"
        " AS nodes"
    ).collect()[0]
    # scored rows first (cos desc, node asc), NULL-cos rows last (node asc)
    assert row["nodes"] == [3, 7, 9, 1, 2]
