"""The graph shelf by subject: PageRank, label propagation, Newman
modularity and eigencentrality on the >= 2-basket co-occurrence graph,
weighted and unweighted.

The oracle parity suite proves Spark == DuckDB; these tests re-derive
each algorithm in pure Python from edges pulled through DuckDB (never
through the Spark code under test), and pin that every graph query
declares the same edge set.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np

from hackatonbigdata_spark.registry import all_queries

QUERIES = all_queries()

from tests.conftest import SF_DIR  # noqa: E402


def _weighted_edges():
    """The weighted >= 2-basket edge list [(u, v, wt)] straight from
    DuckDB — the independent rebuild of the family's shared contract."""
    return duckdb.connect().execute(f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
                       FROM '{SF_DIR}/lineitem.parquet')
        SELECT a.l_partkey, b.l_partkey, CAST(count(*) AS BIGINT)
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    """).fetchall()


def _wadj(rows):
    adj: dict[int, list[tuple[int, int]]] = {}
    for u, v, w in rows:
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    return adj


def _wlpa_labels(adj, rounds):
    """Synchronous weighted LPA in pure Python: vote = sum of incident
    edge weights per neighbor label, tie (weight desc, label asc)."""
    lbl = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v, nbs in adj.items():
            votes: dict[int, int] = {}
            for u, w in nbs:
                votes[lbl[u]] = votes.get(lbl[u], 0) + w
            new[v] = min(votes, key=lambda k: (-votes[k], k))
        lbl = new
    return lbl


def test_graph_family_shares_one_edge_set(spark):
    """Five graph operators declare the same >= 2-basket co-occurrence
    graph; the per-node degree columns of PageRank, triangle counting,
    k-core, and eigencentrality must be identical node-for-node, and
    link prediction's candidate pairs must never include an existing
    edge (its anti-join contract) — drift in any one query's edge
    construction breaks this immediately."""
    pr = {r.part_key: r.degree for r in QUERIES["graph_pagerank_parts"](spark, SF_DIR).collect()}
    tri = {r.part: r.degree for r in QUERIES["graph_triangle_count"](spark, SF_DIR).collect()}
    kc = {r.part: r.degree for r in QUERIES["graph_kcore_decomposition"](spark, SF_DIR).collect()}
    eig = {r.part: r.degree for r in QUERIES["graph_eigencentrality"](spark, SF_DIR).collect()}
    assert pr == tri == kc == eig
    import duckdb

    edges = {
        (u, v)
        for u, v in duckdb.connect().execute(f"""
            WITH items AS (
              SELECT DISTINCT l_orderkey, l_partkey
              FROM '{SF_DIR}/lineitem.parquet'
            )
            SELECT a.l_partkey, b.l_partkey
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        """).fetchall()
    }
    lp = QUERIES["graph_link_prediction"](spark, SF_DIR).collect()
    assert all((r.part_a, r.part_b) not in edges for r in lp)
    assert all(r.part_a in pr and r.part_b in pr for r in lp)


def test_weighted_family_shares_unweighted_edge_set(spark):
    """The weighted trio declares the SAME graph as the unweighted
    shelf: node sets identical, per-node degree identical, and the two
    strength readouts (weighted LPA vs weighted PageRank) agree — drift
    in any one query's edge construction breaks this immediately."""
    wl = {
        r.part: r
        for r in QUERIES["graph_label_propagation_weighted"](
            spark, SF_DIR
        ).collect()
    }
    wp = {
        r.part_key: r
        for r in QUERIES["graph_pagerank_weighted"](spark, SF_DIR).collect()
    }
    up = {
        r.part_key: r.degree
        for r in QUERIES["graph_pagerank_parts"](spark, SF_DIR).collect()
    }
    ul = {
        r.part: r.degree
        for r in QUERIES["graph_label_propagation"](spark, SF_DIR).collect()
    }
    assert set(wl) == set(wp) == set(up) == set(ul)
    for k in wl:
        assert wl[k].degree == wp[k].degree == up[k] == ul[k]
        assert wl[k].strength == wp[k].strength
    # weighted modularity's community sizes partition the same node set
    wm = QUERIES["graph_modularity_weighted"](spark, SF_DIR).collect()
    assert sum(r.community_size for r in wm) == len(wl)


def test_pagerank_conserves_probability_mass(spark):
    pdf = QUERIES["graph_pagerank_parts"](spark, SF_DIR).toPandas()
    total = pdf.pr_pico.sum()
    # mass is conserved across iterations up to per-node integer rounding
    assert abs(total - 1_000_000_000_000) < 2 * len(pdf), total
    assert (pdf.pr_pico > 0).all()
    # rank 1 is the max score; ranks are a permutation with ties
    top = pdf[pdf.pr_rank == 1]
    assert (top.pr_pico == pdf.pr_pico.max()).all()
    # higher degree should correlate positively with rank score overall
    assert np.corrcoef(pdf.degree, pdf.pr_pico)[0, 1] > 0.5


def test_weighted_pagerank_matches_python(spark):
    """The weighted-PageRank integer fixpoint replayed in pure Python:
    picoprob grid, share = (2·pr·wt + s) // (2s), damping
    (85·s + 50) // 100 — matched node for node after the full
    iteration count, so any drift in the share rule or the grid shows
    immediately."""
    from hackatonbigdata_spark.operators.sequence import (
        _PR_ITERS,
        _PR_SCALE,
    )

    rows = _weighted_edges()
    adj = _wadj(rows)
    strength = {v: sum(w for _, w in nbs) for v, nbs in adj.items()}
    n = len(adj)
    pr = {v: int(math.floor(_PR_SCALE / n + 0.5)) for v in adj}
    base = int(math.floor(_PR_SCALE * 15 // 100 / n + 0.5))
    for _ in range(_PR_ITERS):
        contrib = {v: 0 for v in adj}
        for u, nbs in adj.items():
            s = strength[u]
            for v, w in nbs:
                contrib[v] += (2 * pr[u] * w + s) // (2 * s)
        pr = {v: base + (85 * contrib[v] + 50) // 100 for v in adj}

    got = QUERIES["graph_pagerank_weighted"](spark, SF_DIR).collect()
    assert len(got) == n > 0
    ranks = sorted(((-p, v) for v, p in pr.items()))
    rank_of = {}
    for i, (negp, v) in enumerate(ranks):
        rank_of[v] = (
            rank_of[ranks[i - 1][1]]
            if i and ranks[i - 1][0] == negp
            else i + 1
        )
    for r in got:
        assert r.pr_pico == pr[r.part_key], f"part {r.part_key}"
        assert r.strength == strength[r.part_key]
        assert r.degree == len(adj[r.part_key])
        assert r.pr_rank == rank_of[r.part_key]
    # total probability mass conservation on the grid: sum pr ~ SCALE
    # (exact up to one grid unit of rounding per node per iteration)
    assert abs(sum(pr.values()) - _PR_SCALE) <= n * (_PR_ITERS + 1)


def test_eigencentrality_trajectory_and_direction(spark):
    """Two independent pins: (1) the integer power-method trajectory
    replicated exactly in pure Python over DuckDB-pulled adjacency —
    every eig_scaled value must match bit-for-bit; (2) the resulting
    direction must align with numpy's true principal eigenvector of the
    adjacency matrix (cosine > 0.999), proving eight iterations actually
    converge in direction on this graph."""
    import numpy as np

    import duckdb

    from hackatonbigdata_spark.operators.sequence import _EIG_ITERS, _EIG_SCALE

    edges = duckdb.connect().execute(f"""
        WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey
          FROM '{SF_DIR}/lineitem.parquet'
        )
        SELECT a.l_partkey, b.l_partkey
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    """).fetchall()
    nbrs: dict[int, list[int]] = {}
    for u, v in edges:
        nbrs.setdefault(u, []).append(v)
        nbrs.setdefault(v, []).append(u)
    nodes = sorted(nbrs)
    x = {n: _EIG_SCALE for n in nodes}
    for _ in range(_EIG_ITERS):
        s = {n: sum(x[m] for m in nbrs[n]) for n in nodes}
        mx = max(s.values())
        x = {n: (2 * _EIG_SCALE * s[n] + mx) // (2 * mx) for n in nodes}
    got = {
        r.part: r for r in QUERIES["graph_eigencentrality"](spark, SF_DIR).collect()
    }
    assert set(got) == set(nodes)
    for n in nodes:
        assert got[n].eig_scaled == x[n], (n, got[n].eig_scaled, x[n])
        assert got[n].degree == len(nbrs[n])
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for u, ms in nbrs.items():
        for m in ms:
            A[idx[u], idx[m]] = 1.0
    w, V = np.linalg.eigh(A)
    true_vec = np.abs(V[:, np.argmax(w)])
    ours = np.array([x[n] for n in nodes], dtype=float)
    cos = ours @ true_vec / (np.linalg.norm(ours) * np.linalg.norm(true_vec))
    assert cos > 0.999, cos


def test_label_propagation_matches_python(spark):
    """Synchronous LPA re-derived in pure Python from DuckDB-loaded
    lineitem: the >= 2-basket edge set, node-id init, and four rounds of
    mode-of-neighbor-labels with the (count desc, label asc) tie order —
    matched node for node.  Plus the structural invariants: every
    community is contained in one connected component (labels cannot
    cross components), and community sizes partition the node set."""
    import duckdb

    from hackatonbigdata_spark.operators.sequence import _LPA_ROUNDS

    rows = duckdb.connect().execute(f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
                       FROM '{SF_DIR}/lineitem.parquet')
        SELECT a.l_partkey, b.l_partkey
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    """).fetchall()
    adj: dict[int, list[int]] = {}
    for u, v in rows:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    lbl = {v: v for v in adj}
    for _ in range(_LPA_ROUNDS):
        new = {}
        for v, nbs in adj.items():
            counts: dict[int, int] = {}
            for u in nbs:
                counts[lbl[u]] = counts.get(lbl[u], 0) + 1
            new[v] = min(counts, key=lambda k: (-counts[k], k))
        lbl = new
    sizes: dict[int, int] = {}
    for v in adj:
        sizes[lbl[v]] = sizes.get(lbl[v], 0) + 1

    got = QUERIES["graph_label_propagation"](spark, SF_DIR).collect()
    assert len(got) == len(adj) > 0
    for r in got:
        assert r.community == lbl[r.part], f"part {r.part}"
        assert r.community_size == sizes[lbl[r.part]]
        assert r.degree == len(adj[r.part])
    # invariant: no label crosses a connected component (union-find)
    parent = {v: v for v in adj}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in rows:
        parent[find(u)] = find(v)
    comp_of_label: dict[int, int] = {}
    for v in adj:
        c = find(v)
        assert comp_of_label.setdefault(lbl[v], c) == c, (
            f"label {lbl[v]} spans two components"
        )
    # sizes partition the node set
    assert sum(sizes.values()) == len(adj)


def test_weighted_lpa_matches_python(spark):
    """Weighted LPA re-derived in pure Python from DuckDB-loaded
    lineitem, matched node for node; strength/degree re-derived from
    the same edge list; community sizes partition the node set."""
    from hackatonbigdata_spark.operators.sequence import _LPA_ROUNDS

    rows = _weighted_edges()
    adj = _wadj(rows)
    lbl = _wlpa_labels(adj, _LPA_ROUNDS)
    sizes: dict[int, int] = {}
    for v in adj:
        sizes[lbl[v]] = sizes.get(lbl[v], 0) + 1

    got = QUERIES["graph_label_propagation_weighted"](spark, SF_DIR).collect()
    assert len(got) == len(adj) > 0
    for r in got:
        assert r.community == lbl[r.part], f"part {r.part}"
        assert r.community_size == sizes[lbl[r.part]]
        assert r.degree == len(adj[r.part])
        assert r.strength == sum(w for _, w in adj[r.part])
        # every weight is a >= 2-basket count, so strength >= 2*degree
        assert r.strength >= 2 * r.degree
    assert sum(sizes.values()) == len(adj)


def test_modularity_matches_python(spark):
    """Newman modularity re-derived from scratch in Python: the same
    edge set and LPA labels (the previous test's replay), intra-edge and
    degree-mass counts per community, each term quantized to the 1e-8
    grid with round-half-up, Q as the integer sum — matched row for row.
    Plus the metric's range invariant -0.5 <= Q < 1."""
    import duckdb

    from hackatonbigdata_spark.operators.sequence import _LPA_ROUNDS

    rows = duckdb.connect().execute(f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
                       FROM '{SF_DIR}/lineitem.parquet')
        SELECT a.l_partkey, b.l_partkey
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    """).fetchall()
    adj: dict[int, list[int]] = {}
    for u, v in rows:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    lbl = {v: v for v in adj}
    for _ in range(_LPA_ROUNDS):
        new = {}
        for v, nbs in adj.items():
            counts: dict[int, int] = {}
            for u in nbs:
                counts[lbl[u]] = counts.get(lbl[u], 0) + 1
            new[v] = min(counts, key=lambda k: (-counts[k], k))
        lbl = new

    import math

    m = len(rows)
    e_c: dict[int, int] = {}
    for u, v in rows:
        if lbl[u] == lbl[v]:
            e_c[lbl[u]] = e_c.get(lbl[u], 0) + 1
    d_c: dict[int, int] = {}
    size: dict[int, int] = {}
    for v, nbs in adj.items():
        d_c[lbl[v]] = d_c.get(lbl[v], 0) + len(nbs)
        size[lbl[v]] = size.get(lbl[v], 0) + 1
    term = {
        c: int(
            math.floor(
                (e_c.get(c, 0) / m - (d_c[c] / (2 * m)) ** 2) * 1e8 + 0.5
            )
        )
        for c in d_c
    }
    q8 = sum(term.values())

    got = QUERIES["graph_modularity_score"](spark, SF_DIR).collect()
    assert len(got) == len(d_c) > 0
    for r in got:
        c = r.community
        assert (
            r.community_size,
            r.intra_edges,
            r.degree_sum,
            r.term_q8,
            r.q_total_q8,
        ) == (size[c], e_c.get(c, 0), d_c[c], term[c], q8), f"community {c}"
    # Newman's range: -1/2 <= Q < 1 (on the 1e-8 grid)
    assert -50_000_000 <= q8 < 100_000_000


def test_weighted_modularity_matches_python(spark):
    """Weighted Newman Q re-derived from scratch: the weighted-LPA
    partition, intra-weight and strength-mass sums per community, each
    term quantized to the 1e-8 grid round-half-up, Q as the integer
    sum — matched row for row.  Plus the range invariant
    -0.5 <= Q < 1."""
    from hackatonbigdata_spark.operators.sequence import _LPA_ROUNDS

    rows = _weighted_edges()
    adj = _wadj(rows)
    lbl = _wlpa_labels(adj, _LPA_ROUNDS)

    wtot = sum(w for _, _, w in rows)
    w_c: dict[int, int] = {}
    for u, v, w in rows:
        if lbl[u] == lbl[v]:
            w_c[lbl[u]] = w_c.get(lbl[u], 0) + w
    s_c: dict[int, int] = {}
    size: dict[int, int] = {}
    for v, nbs in adj.items():
        s_c[lbl[v]] = s_c.get(lbl[v], 0) + sum(w for _, w in nbs)
        size[lbl[v]] = size.get(lbl[v], 0) + 1
    term = {
        c: int(
            math.floor(
                (w_c.get(c, 0) / wtot - (s_c[c] / (2 * wtot)) ** 2) * 1e8
                + 0.5
            )
        )
        for c in s_c
    }
    q8 = sum(term.values())

    got = QUERIES["graph_modularity_weighted"](spark, SF_DIR).collect()
    assert len(got) == len(s_c) > 0
    for r in got:
        c = r.community
        assert (
            r.community_size,
            r.intra_weight,
            r.strength_sum,
            r.term_q8,
            r.q_total_q8,
        ) == (size[c], w_c.get(c, 0), s_c[c], term[c], q8), f"community {c}"
    assert -0.5e8 <= q8 < 1e8
