"""Independent semantic pins for the round-12 operators.

Same contract as test_r7..r11_semantics: the oracle parity suite proves
Spark == DuckDB; these tests guard against both engines computing the
same WRONG thing by re-deriving each operator's result independently
(pure Python, with inputs pulled through DuckDB — never through the
Spark code under test), and pin the LAYOUT contracts (which files were
rewritten, what a manifest names) that no value aggregate can see.
"""

from __future__ import annotations

import glob
import hashlib
import os

from hackatonbigdata_spark.registry import all_queries

QUERIES = all_queries()

from tests.conftest import SF_DIR, SF_DIR_T2  # noqa: E402


def _dir_file_hashes(path: str) -> dict[str, str]:
    """{relative_path: sha256} over every data file under ``path``."""
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", ".")):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, path)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def test_io_mor_compact_layout(spark):
    """The compaction LAYOUT contract (losslessness is what the oracle
    parity proves): only the files that HAVE deletes are rewritten —
    every untouched base file is byte-identical after compaction; the
    delete file is retired (zero rows); the anti-joined read before
    compaction equals the plain read after, row for row."""
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.operators.io_queries import (
        _MC_DEL_FIDS,
        _MC_DEL_QTY,
        _MC_FILES,
        _scratch,
        _stamp_mor,
        compact_mor_deletes,
    )
    from hackatonbigdata_spark.catalog import Catalog

    t = Catalog(spark, SF_DIR)
    base_dst = _scratch(SF_DIR, "test_mc_base")
    del_dst = _scratch(SF_DIR, "test_mc_deletes")
    li = t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_shipdate",
        "l_quantity",
        "l_extendedprice",
    )
    (
        _stamp_mor(li, _MC_FILES)
        .repartition("file_id")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(base_dst)
    )
    base = spark.read.parquet(base_dst)
    (
        base.filter(
            F.col("file_id").isin(list(_MC_DEL_FIDS))
            & (F.col("l_quantity") >= _MC_DEL_QTY)
        )
        .select("file_id", "pos")
        .write.mode("overwrite")
        .parquet(del_dst)
    )
    n_dels = spark.read.parquet(del_dst).count()
    assert n_dels > 0, "delete predicate matched nothing — test is vacuous"
    before_hashes = {
        fid: _dir_file_hashes(os.path.join(base_dst, f"file_id={fid}"))
        for fid in range(_MC_FILES)
    }
    key = ["l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"]
    read_before = sorted(
        map(
            tuple,
            base.join(
                spark.read.parquet(del_dst), ["file_id", "pos"], "left_anti"
            )
            .select(*key, "l_quantity")
            .collect(),
        )
    )

    stats = compact_mor_deletes(spark, base_dst, del_dst)

    assert stats["affected"] == sorted(_MC_DEL_FIDS)
    assert stats["n_files_rewritten"] == len(_MC_DEL_FIDS)
    assert stats["n_files_retired"] == 0
    after_hashes = {
        fid: _dir_file_hashes(os.path.join(base_dst, f"file_id={fid}"))
        for fid in range(_MC_FILES)
    }
    for fid in range(_MC_FILES):
        if fid in _MC_DEL_FIDS:
            # rewritten: physically new files
            assert after_hashes[fid] != before_hashes[fid]
        else:
            # untouched: byte-identical, same file names
            assert after_hashes[fid] == before_hashes[fid]
    # delete file retired: zero rows, schema intact
    dels_after = spark.read.parquet(del_dst)
    assert dels_after.count() == 0
    assert sorted(dels_after.columns) == ["file_id", "pos"]
    # the plain post-compaction read equals the pre-compaction
    # anti-joined read, row for row
    read_after = sorted(
        map(
            tuple,
            spark.read.parquet(base_dst)
            .select(*key, "l_quantity")
            .collect(),
        )
    )
    assert read_after == read_before
    # and no surviving row in a rewritten file matches the delete predicate
    assert (
        spark.read.parquet(base_dst)
        .filter(
            F.col("file_id").isin(list(_MC_DEL_FIDS))
            & (F.col("l_quantity") >= _MC_DEL_QTY)
        )
        .count()
        == 0
    )


def test_io_time_travel_manifest(spark):
    """The time-travel MANIFEST contract: every snapshot names its FULL
    file set; the base data files are the SAME paths in all three
    snapshots (time travel shares unchanged files, copies nothing); the
    delete file appears from snapshot 2, the append file only in
    snapshot 3; and the as-of-latest read equals the live read (base ⊕
    deletes ⊕ append) row for row."""
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.operators.io_queries import (
        _TT_APPEND_FID,
        _TT_FILES,
        _scratch,
        read_snapshot,
    )

    QUERIES["io_time_travel"](spark, SF_DIR).collect()
    base_dst = _scratch(SF_DIR, "tt_base")
    del_dst = _scratch(SF_DIR, "tt_deletes")
    app_dst = _scratch(SF_DIR, "tt_append")
    man_dst = _scratch(SF_DIR, "tt_manifest")
    man = {
        s: {(r.path, r.kind) for r in rows}
        for s, rows in (
            (
                s,
                spark.read.parquet(man_dst)
                .filter(F.col("snapshot_id") == s)
                .collect(),
            )
            for s in (1, 2, 3)
        )
    }
    base_set = {
        (f"{base_dst}/file_id={fid}", "data") for fid in range(_TT_FILES)
    }
    assert man[1] == base_set
    assert man[2] == base_set | {(del_dst, "delete")}
    assert man[3] == base_set | {(del_dst, "delete"), (app_dst, "data")}

    key = ["file_id", "pos"]
    # as-of-1 == the full base table
    base = spark.read.parquet(base_dst)
    s1 = read_snapshot(spark, man_dst, base_dst, 1)
    assert s1.count() == base.count()
    # as-of-latest == the live read: base minus deletes plus the append
    dels = spark.read.parquet(del_dst)
    app = spark.read.parquet(app_dst)
    live = base.join(dels, key, "left_anti").select(*key).unionByName(
        app.select(*key)
    )
    s3 = read_snapshot(spark, man_dst, base_dst, 3).select(*key)
    assert sorted(map(tuple, s3.collect())) == sorted(
        map(tuple, live.collect())
    )
    # the append file's identity is disjoint from base file ids
    assert app.select("file_id").distinct().collect() == [
        (int(_TT_APPEND_FID),)
    ]
    # snapshot 2 strictly shrinks snapshot 1; snapshot 3 restores the
    # restated rows
    n1, n2, n3 = (
        read_snapshot(spark, man_dst, base_dst, s).count() for s in (1, 2, 3)
    )
    assert n1 > n2 and n3 == n2 + app.count()


# --- graph-based ANN ------------------------------------------------------


def _gann_python():
    """Pure-Python rederivation of similarity_graph_ann: the degree-16
    k-NN graph, the hub entry point, the 4-hop beam-4 best-first walk,
    and the per-query recall/cost readout."""
    import math

    from hackatonbigdata_spark.operators.llm import (
        _GANN_BEAM,
        _GANN_DEG,
        _GANN_HOPS,
    )
    from tests.test_r10_semantics import _load_embeddings, _r4, _seq_dot

    emb = _load_embeddings()
    ids = sorted(emb)
    nrm = {v: math.sqrt(_seq_dot(e, e)) for v, e in emb.items()}

    def cos(a, b):
        return _r4(_seq_dot(emb[a], emb[b]) / (nrm[a] * nrm[b]))

    ranked = {
        a: sorted((b for b in ids if b != a), key=lambda b: (-cos(a, b), b))[
            :_GANN_DEG
        ]
        for a in ids
    }
    entry = max(
        ids,
        key=lambda a: (
            sum(int(math.floor(cos(a, b) * 10000 + 0.5)) for b in ranked[a]),
            -a,
        ),
    )
    out = {}
    for q in ids:
        visited = {}  # node -> cos(q, node)
        expanded = set()
        if q != entry:
            visited[entry] = cos(q, entry)
        frontier = [entry]
        for _ in range(_GANN_HOPS):
            expanded.update(frontier)
            for node in frontier:
                for nb in ranked[node]:
                    if nb != q and nb not in visited:
                        visited[nb] = cos(q, nb)
            frontier = sorted(
                (n for n in visited if n not in expanded),
                key=lambda n: (-visited[n], n),
            )[:_GANN_BEAM]
        ann3 = sorted(visited, key=lambda n: (-visited[n], n))[:3]
        exact3 = ranked[q][:3]
        n_hits = len(set(ann3) & set(exact3))
        out[q] = (3, n_hits, _r4(n_hits / 3.0), len(visited))
    return out


def test_similarity_graph_ann_matches_python(spark):
    expected = _gann_python()
    rows = QUERIES["similarity_graph_ann"](spark, SF_DIR).collect()
    assert len(rows) == len(expected)
    for r in rows:
        exp = expected[r.vec_id]
        got = (r.n_exact, r.n_hits, r.recall_at_3, r.n_dist_evals)
        assert got == exp, f"vec {r.vec_id}: {got} != {exp}"


def test_graph_ann_on_recall_vs_cost_chart(spark):
    """Places the graph index on the recall-vs-cost chart beside the
    deterministic IVF (``ann_recall_at_k``): the walk must beat IVF's
    recall on this corpus while evaluating a small fraction of it —
    the property that makes a navigable graph an INDEX rather than a
    rescan (measured: graph ~0.66 recall@3 at ~149 evals vs IVF ~0.28
    at ~62 bucket-mate evals, n=500, both engines agreeing)."""
    import duckdb

    g = QUERIES["similarity_graph_ann"](spark, SF_DIR).collect()
    n = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet(?)",
        [f"{SF_DIR}/embeddings.parquet"],
    ).fetchone()[0]
    g_recall = sum(r.recall_at_3 for r in g) / len(g)
    g_cost = sum(r.n_dist_evals for r in g) / len(g)
    ivf = QUERIES["ann_recall_at_k"](spark, SF_DIR).collect()
    ivf_recall = sum(r.recall_at_3 for r in ivf) / len(ivf)
    # cost: the walk touches a bounded neighborhood, never the corpus
    assert g_cost < 0.5 * (n - 1)
    assert max(r.n_dist_evals for r in g) < 0.5 * (n - 1)
    # quality: on this corpus the graph walk dominates the IVF bucket
    # at the measured operating points
    assert g_recall > ivf_recall
    assert g_recall >= 0.5


# --- KLL-style quantile sketch ---------------------------------------------


def _kll_batch_python(levels: int | None = None, sf_dir: str = SF_DIR):
    """Pure-Python rederivation of the sketch_kll_quantiles batch
    cascade over DuckDB-loaded events: per-day level-by-level odd-rank
    compaction under a budget of ``levels`` levels (default KLL_LEVELS),
    integer-ceil readout, plus the per-day compaction error certificate
    (sum of 2^l over compacted levels), the number of items left over at
    the top level, and the exact sorted values for bound checking."""
    import duckdb

    from hackatonbigdata_spark.sketch_params import KLL_K, KLL_LEVELS

    levels = KLL_LEVELS if levels is None else levels

    rows = duckdb.connect().execute(
        "SELECT CAST(ts AS DATE), value, event_id FROM read_parquet(?)"
        " WHERE value IS NOT NULL",
        [f"{sf_dir}/events.parquet"],
    ).fetchall()
    by_day: dict = {}
    for d, v, i in rows:
        by_day.setdefault(d, []).append((float(v), int(i)))
    out = {}
    for d, items in by_day.items():
        level = sorted(items)
        retained = []  # (v, w)
        err = 0
        for lv in range(levels):
            if len(level) > KLL_K:
                promoted = level[0::2]
                err += 1 << lv
                level = promoted
            else:
                retained.extend((v, 1 << lv) for v, _ in level)
                level = []
        retained.extend((v, 1 << levels) for v, _ in level)
        n_top = len(level)
        w_total = sum(w for _, w in retained)
        n_ret = len(retained)
        ests = {}
        for pct in (50, 90, 99):
            tgt = (pct * w_total + 99) // 100
            vw: dict = {}
            for v, w in retained:
                vw[v] = vw.get(v, 0) + w
            cum = 0
            est = None
            for v in sorted(vw):
                cum += vw[v]
                if cum >= tgt:
                    est = v
                    break
            ests[pct] = (est, tgt)
        out[d] = {
            "n_events": len(items),
            "w_total": w_total,
            "n_retained": n_ret,
            "err": err,
            "n_top": n_top,
            "ests": ests,
            "sorted_vals": sorted(v for v, _ in items),
        }
    return out


def test_sketch_kll_quantiles_matches_python_and_bound(spark):
    """Two independent pins: (1) the Spark cascade equals the
    pure-Python rederivation exactly (day/pct/weights/values); (2) the
    served quantile's EXACT rank in the raw per-day multiset is within
    the deterministic compaction bound of the target — so both engines
    agreeing on a WRONG cascade would still be caught by the raw data;
    and under-budget days (is_exact=1) serve the exact order statistic."""
    from hackatonbigdata_spark.sketch_params import KLL_K

    expected = _kll_batch_python()
    rows = QUERIES["sketch_kll_quantiles"](spark, SF_DIR).collect()
    assert len(rows) == 3 * len(expected)
    n_exact_days = n_compacted_days = 0
    for r in rows:
        exp = expected[r.day]
        est, tgt = exp["ests"][r.pct]
        assert (r.n_events, r.w_total, r.n_retained) == (
            exp["n_events"],
            exp["w_total"],
            exp["n_retained"],
        )
        assert r.value == est, f"{r.day}/{r.pct}: {r.value} != {est}"
        assert r.is_exact == int(exp["n_events"] <= KLL_K)
        srt = exp["sorted_vals"]
        lo = srt.index(r.value) + 1
        hi = len(srt) - srt[::-1].index(r.value)
        if r.is_exact:
            n_exact_days += 1
            assert exp["err"] == 0
            k = (r.pct * r.n_events + 99) // 100
            assert srt[k - 1] == r.value  # the exact order statistic
        else:
            n_compacted_days += 1
            assert lo - 2 * exp["err"] <= tgt <= hi + 2 * exp["err"]
    # the sf0.001 day mix must exercise BOTH regimes
    assert n_exact_days > 0 and n_compacted_days > 0


def test_sketch_kll_quantiles_keeps_the_remainder_at_the_level_budget(
    spark, monkeypatch
):
    """With a 2-level budget every sf0.01 day (300+ values) still
    overflows after the last level: the cascade must stop there and
    retain the remainder at the top level with weight 2^2, exactly as
    the Python cascade does.  No sf0.001 day holds enough values."""
    import hackatonbigdata_spark.operators.streaming_batch as sb

    monkeypatch.setattr(sb, "KLL_LEVELS", 2)
    expected = _kll_batch_python(levels=2, sf_dir=SF_DIR_T2)
    assert all(exp["n_top"] > 0 for exp in expected.values())
    rows = sb.sketch_kll_quantiles(spark, SF_DIR_T2).collect()
    assert len(rows) == 3 * len(expected)
    for r in rows:
        exp = expected[r.day]
        assert (r.n_events, r.w_total, r.n_retained, r.value) == (
            exp["n_events"],
            exp["w_total"],
            exp["n_retained"],
            exp["ests"][r.pct][0],
        ), (r.day, r.pct)


def test_io_equality_deletes_layout(spark):
    """The equality-delete LAYOUT contract: the delete file holds ONLY
    distinct key values (one narrow column — the blind O(keys) write),
    at least one key kills multiple rows across data files (the
    one-key-many-rows semantics positional deletes can't express in one
    row), and the anti-join read drops exactly the keyed rows."""
    import duckdb

    from hackatonbigdata_spark.operators.io_queries import (
        _EQ_DEL_FLAG,
        _scratch,
    )

    QUERIES["io_equality_deletes"](spark, SF_DIR).collect()
    base = spark.read.parquet(_scratch(SF_DIR, "eq_base"))
    dk = spark.read.parquet(_scratch(SF_DIR, "eq_deletes"))
    assert dk.columns == ["l_orderkey"]
    con = duckdb.connect()
    n_keys, n_rows_killed, max_per_key = con.execute(
        f"""SELECT count(DISTINCT l_orderkey),
                   count(*),
                   max(c) FROM (
              SELECT l_orderkey, count(*) OVER (PARTITION BY l_orderkey) c
              FROM read_parquet(?) WHERE l_returnflag = '{_EQ_DEL_FLAG}')""",
        [f"{SF_DIR}/lineitem.parquet"],
    ).fetchone()
    assert dk.count() == dk.distinct().count() == n_keys > 0
    assert max_per_key > 1  # a key kills multiple rows — the point
    # every lineitem row of a deleted order dies, even rows whose own
    # returnflag differs
    live = base.join(dk, "l_orderkey", "left_anti")
    killed_true = con.execute(
        f"""SELECT count(*) FROM read_parquet(?) l
            WHERE EXISTS (SELECT 1 FROM read_parquet(?) k
                          WHERE k.l_returnflag = '{_EQ_DEL_FLAG}'
                            AND k.l_orderkey = l.l_orderkey)""",
        [f"{SF_DIR}/lineitem.parquet", f"{SF_DIR}/lineitem.parquet"],
    ).fetchone()[0]
    assert base.count() - live.count() == killed_true > n_rows_killed


def test_io_time_travel_changes_reads_only_the_delta(spark):
    """The incremental-read contract: changes 1→2 are exactly the rows
    the new delete file names (all 'D'), changes 2→3 exactly the
    appended file's rows (all 'I'), and each span's change set comes
    from the manifest DIFF — no change type leaks across spans."""
    from hackatonbigdata_spark.operators.io_queries import (
        _build_tt_layout,
        _scratch,
        read_changes,
    )

    _build_tt_layout(spark, SF_DIR)
    base_dst = _scratch(SF_DIR, "tt_base")
    man_dst = _scratch(SF_DIR, "tt_manifest")
    base = spark.read.parquet(base_dst)
    dels = spark.read.parquet(_scratch(SF_DIR, "tt_deletes"))
    app = spark.read.parquet(_scratch(SF_DIR, "tt_append"))

    c12 = read_changes(spark, man_dst, base_dst, 1, 2)
    assert c12.select("change").distinct().collect() == [("D",)]
    assert c12.count() == dels.count() > 0
    key = ["file_id", "pos"]
    assert sorted(map(tuple, c12.select(*key).collect())) == sorted(
        map(tuple, base.join(dels, key, "left_semi").select(*key).collect())
    )
    c23 = read_changes(spark, man_dst, base_dst, 2, 3)
    assert c23.select("change").distinct().collect() == [("I",)]
    assert sorted(map(tuple, c23.select(*key).collect())) == sorted(
        map(tuple, app.select(*key).collect())
    )


def _nnd_python(return_final_graph: bool = False):
    """Pure-Python rederivation of similarity_nndescent_build: the
    pair-hash bucket init, the forward+reverse NN-descent rounds, and
    the sampled edge-recall readout.  With ``return_final_graph`` the
    final round's {node: [nbs]} graph plus the shared cos() come back
    instead — the r13 composed walk pin builds on them."""
    import hashlib
    import math

    from hackatonbigdata_spark.operators.llm import (
        _NND_BUCKETS,
        _NND_DEG,
        _NND_ROUNDS,
        _NND_SAMPLE_MOD,
    )
    from tests.test_r10_semantics import _load_embeddings, _r4, _seq_dot

    emb = _load_embeddings()
    ids = sorted(emb)
    nrm = {v: math.sqrt(_seq_dot(e, e)) for v, e in emb.items()}

    def cos(a, b):
        return _r4(_seq_dot(emb[a], emb[b]) / (nrm[a] * nrm[b]))

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    bucket = {v: h32(str(v)) % _NND_BUCKETS for v in ids}
    g = {
        v: [
            u
            for u in sorted(
                (u for u in ids if u != v and bucket[u] == bucket[v]),
                key=lambda u: (
                    hashlib.md5(f"{v}:{u}".encode()).hexdigest(),
                    u,
                ),
            )
        ][:_NND_DEG]
        for v in ids
    }
    out = {}
    scored = {0: 0}
    snapshot = {0: {v: list(nbs) for v, nbs in g.items()}}
    for r in range(1, _NND_ROUNDS + 1):
        cand = {v: set() for v in ids}
        for v in ids:
            for u in g[v]:
                cand[v].add(u)  # direct
                cand[u].add(v)  # reverse
                for w in g[u]:
                    if w != v:
                        cand[v].add(w)  # neighbor-of-neighbor
            for u1 in g[v]:
                for u2 in g[v]:
                    if u1 != u2:
                        cand[u1].add(u2)  # co-neighbors
        for v in ids:
            cand[v].discard(v)
        scored[r] = sum(len(c) for c in cand.values())
        g = {
            v: sorted(cand[v], key=lambda u: (-cos(v, u), u))[:_NND_DEG]
            for v in ids
        }
        snapshot[r] = {v: list(nbs) for v, nbs in g.items()}
    if return_final_graph:
        return g, cos
    true_g = {
        v: set(
            sorted((u for u in ids if u != v), key=lambda u: (-cos(v, u), u))[
                :_NND_DEG
            ]
        )
        for v in ids
        if v % _NND_SAMPLE_MOD == 0
    }
    for r, gr in snapshot.items():
        sampled = [v for v in ids if v % _NND_SAMPLE_MOD == 0]
        n_true = sum(len(set(gr[v]) & true_g[v]) for v in sampled)
        out[r] = (
            len(sampled),
            n_true,
            _r4(n_true / (len(sampled) * _NND_DEG)),
            scored[r],
        )
    return out


def test_similarity_nndescent_build_matches_python(spark):
    """The full NN-descent refinement replayed in pure Python must match
    the Spark cascade round for round — and the curve must show the
    operator's pinned transferable invariants: edge recall strictly
    climbs over the hash-init baseline while the per-round scored pool
    stays a small fraction of the n² pair count."""
    expected = _nnd_python()
    rows = {
        r.round: (r.n_sampled_nodes, r.n_true_edges, r.edge_recall, r.n_scored)
        for r in QUERIES["similarity_nndescent_build"](spark, SF_DIR).collect()
    }
    assert rows == expected
    from hackatonbigdata_spark.operators.llm import _NND_ROUNDS

    n = 500
    rec = {r: rows[r][2] for r in rows}
    assert rec[_NND_ROUNDS] > rec[0] * 3  # climbs well over the baseline
    assert all(rec[r] >= rec[r - 1] for r in range(1, _NND_ROUNDS + 1))
    # cost: every round's pool is a small fraction of the n² pairs
    assert all(
        rows[r][3] < 0.2 * n * (n - 1) for r in range(1, _NND_ROUNDS + 1)
    )
    assert rows[0][3] == 0  # the init scores nothing


def test_io_mor_compact_retires_fully_dead_files(spark):
    """Compaction edge case: a delete file that kills EVERY row of a
    base file must retire that file outright (dynamic partitionBy
    writes no staging dir for an empty rewrite), never crash mid-swap
    or leave a recovery dir inside the table path — and the surviving
    read must still be exact."""
    import os

    from pyspark.sql import functions as F

    from hackatonbigdata_spark.operators.io_queries import (
        _scratch,
        _stamp_mor,
        compact_mor_deletes,
    )
    from hackatonbigdata_spark.catalog import Catalog

    t = Catalog(spark, SF_DIR)
    base_dst = _scratch(SF_DIR, "test_mc_dead_base")
    del_dst = _scratch(SF_DIR, "test_mc_dead_deletes")
    li = t.lineitem.select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate", "l_quantity"
    )
    (
        _stamp_mor(li, 4)
        .repartition("file_id")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(base_dst)
    )
    base = spark.read.parquet(base_dst)
    # kill ALL of file 1, and a slice of file 2
    (
        base.filter(
            (F.col("file_id") == 1)
            | ((F.col("file_id") == 2) & (F.col("l_quantity") >= 40))
        )
        .select("file_id", "pos")
        .write.mode("overwrite")
        .parquet(del_dst)
    )
    expected = sorted(
        map(
            tuple,
            base.join(
                spark.read.parquet(del_dst), ["file_id", "pos"], "left_anti"
            )
            .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
            .collect(),
        )
    )
    stats = compact_mor_deletes(spark, base_dst, del_dst)
    assert stats["affected"] == [1, 2]
    assert stats["n_files_retired"] == 1
    assert stats["n_files_rewritten"] == 1
    assert not os.path.exists(os.path.join(base_dst, "file_id=1"))
    # no recovery/staging artifacts inside the table directory
    assert all(
        e.startswith(("file_id=", "_", "."))
        for e in os.listdir(base_dst)
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(base_dst)
            .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
            .collect(),
        )
    )
    assert got == expected


def test_read_changes_empty_span_is_zero_rows(spark):
    """A snapshot span that adds no files is a valid CDC read: zero
    change rows with the usual schema, not an error."""
    from hackatonbigdata_spark.operators.io_queries import (
        _build_tt_layout,
        read_changes,
    )

    base_dst, _, _, man_dst = _build_tt_layout(spark, SF_DIR)
    same = read_changes(spark, man_dst, base_dst, 2, 2)
    assert same.count() == 0
    assert "change" in same.columns


def test_stamp_mor_matches_io_mor_deletes_identity(spark):
    """``io_mor_deletes`` still carries its own inline (file_id, pos)
    stamping (kept byte-stable this round — the query was
    driver-verified in r11 and the refactor to ``_stamp_mor`` is
    deferred to the r13 window); this pin proves the factored helper
    assigns the IDENTICAL row identity, so the compaction/time-travel
    layouts share the contract and any drift fails loudly."""
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.operators.io_queries import (
        _MOR_FILES,
        _scratch,
        _stamp_mor,
        io_mor_deletes,
    )
    from hackatonbigdata_spark.catalog import Catalog

    io_mor_deletes(spark, SF_DIR).collect()  # writes the r11 layout
    legacy = spark.read.parquet(_scratch(SF_DIR, "mor_base")).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "file_id", "pos"
    )
    t = Catalog(spark, SF_DIR)
    li = t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_shipdate",
        "l_quantity",
        "l_extendedprice",
    )
    fresh = _stamp_mor(li, _MOR_FILES).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "file_id", "pos"
    )
    assert (
        legacy.exceptAll(fresh).isEmpty() and fresh.exceptAll(legacy).isEmpty()
    )


def test_mmr_oracle_survives_sparsified_sim_pool():
    """The r12 oracle hardening under test: the step-k redundancy-max
    lookup is now a LEFT join with a COALESCE(maxsel, 0) penalty, so a
    candidate with NO sim row to any selected doc survives scoring with
    a zero penalty (the Spark loop's convention) instead of silently
    vanishing from the oracle.  Drive the actual ``_duck_mmr_steps``
    CTE chain over a crafted pool whose ``ps`` is SPARSIFIED (one
    candidate has no sim row at all) and pin it against a pure-Python
    greedy MMR using the same no-contribution convention."""
    import duckdb

    from hackatonbigdata_spark.operators.llm import (
        _MMR_K,
        _MMR_LAMBDA,
        _MMR_MU,
        _duck_mmr_steps,
    )

    # one query (vec_id=1), five candidates; candidate 50 has NO ps rows
    cand = [(1, 10, 0.9), (1, 20, 0.8), (1, 30, 0.7), (1, 40, 0.65), (1, 50, 0.6)]
    ps = [
        (1, 20, 10, 0.95),  # 20 is redundant with 10
        (1, 30, 10, 0.10),
        (1, 40, 10, 0.20),
        (1, 30, 20, 0.15),
        (1, 40, 20, 0.05),
        (1, 40, 30, 0.30),
        # no rows for d=50 at all — the sparsified candidate
        (1, 10, 20, 0.95),
        (1, 10, 30, 0.10),
        (1, 10, 40, 0.20),
        (1, 20, 30, 0.15),
        (1, 20, 40, 0.05),
        (1, 30, 40, 0.30),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cand AS SELECT * FROM (VALUES "
        + ",".join(map(str, cand))
        + ") t(vec_id, nb, rel)"
    )
    con.execute(
        "CREATE TABLE ps AS SELECT * FROM (VALUES "
        + ",".join(map(str, ps))
        + ") t(vec_id, d, s, sim)"
    )
    rows = con.execute(
        f"WITH {_duck_mmr_steps()} "
        f"SELECT mmr_rank, nb, round(score, 4) FROM sel{_MMR_K} ORDER BY 1"
    ).fetchall()

    # pure-Python greedy with the no-contribution convention
    sims = {(d, s): v for _, d, s, v in ps}
    rel = {nb: r for _, nb, r in cand}
    selected, expect = [], []
    for k in range(1, _MMR_K + 1):
        best = None
        for nb in sorted(rel):
            if nb in selected:
                continue
            pool = [sims[(nb, s)] for s in selected if (nb, s) in sims]
            pen = max(pool) if pool else 0.0
            sc = _MMR_LAMBDA * rel[nb] - _MMR_MU * pen
            if best is None or sc > best[1] + 1e-12:
                best = (nb, sc)
        if best is None:
            break
        selected.append(best[0])
        expect.append((k, best[0], round(best[1], 4)))
    assert [tuple(r) for r in rows] == expect
    # the sparsified candidate MUST have been rankable (it has the
    # lowest rel but zero penalty — with these sims it wins a slot)
    assert 50 in [nb for _, nb, _ in expect]


def test_pareto_skyline_matches_bruteforce(spark):
    """The skyline operator's prefix-max collapse vs the definition
    itself: a pure-Python O(n^2) NOT-EXISTS dominance scan over the part
    table (pulled through DuckDB, never the Spark code under test) must
    produce exactly the operator's rows, and every excluded part must be
    dominated by at least one skyline member."""
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT p_partkey, p_retailprice, p_size FROM"
        f" '{SF_DIR}/part.parquet'"
    ).fetchall()
    def dominated(p, q):
        # q dominates p: no pricier, no smaller, strict somewhere
        return (
            q[1] <= p[1]
            and q[2] >= p[2]
            and (q[1] < p[1] or q[2] > p[2])
        )
    want = {
        p[0] for p in rows if not any(dominated(p, q) for q in rows)
    }
    got_rows = QUERIES["pareto_skyline_parts"](spark, SF_DIR).collect()
    got = {r.part_key for r in got_rows}
    assert got == want
    # the frontier's defining property, re-checked from the output side
    sky = [p for p in rows if p[0] in got]
    for p in rows:
        if p[0] not in got:
            assert any(dominated(p, q) for q in sky)
    # ties on both axes must ALL surface (non-strict dominance keeps both)
    by_point = {}
    for p in rows:
        by_point.setdefault((p[1], p[2]), []).append(p[0])
    for (price, size), keys in by_point.items():
        if keys[0] in got:
            assert all(k in got for k in keys)


def test_markov_removal_matches_fraction_exact(spark, tmp_path):
    """The Markov removal-effect operator vs an INDEPENDENT exact
    implementation: crafted journeys with known chain structure, the
    12-step absorption iterated in ``fractions.Fraction`` arithmetic
    (no quantization anywhere), and the operator's picoprobs required
    to sit within the accumulated half-ulp rounding envelope
    (<= 0.5 pico per step, 12 steps).  Also pins the journey-restart
    rule (a purchase resets the chain to START) and that attribution
    normalizes the clamped removal effects."""
    from fractions import Fraction

    import pandas as pd

    base = pd.Timestamp("2024-05-01 00:00:00")
    rows, eid = [], 0

    def ev(uid, minute, etype):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, (base + pd.Timedelta(minutes=minute)).to_pydatetime(),
             uid, etype, 1.0)
        )

    # u1: view -> purchase; u2: view (drop); u3: click -> view -> purchase
    ev(1, 0, "view"); ev(1, 5, "purchase")
    ev(2, 0, "view")
    ev(3, 0, "click"); ev(3, 4, "view"); ev(3, 9, "purchase")
    # u4: click loop then drop; u5: the long chain with every channel
    ev(4, 0, "click"); ev(4, 2, "click")
    ev(5, 0, "signup"); ev(5, 1, "error"); ev(5, 2, "view")
    ev(5, 3, "purchase")
    # u6: organic purchase (START -> CONV); u7: restart after purchase
    ev(6, 0, "purchase")
    ev(7, 0, "view"); ev(7, 1, "purchase"); ev(7, 2, "click")
    sf = str(tmp_path / "crafted")
    import os
    os.makedirs(sf)
    # Spark's default INT96 timestamps read back as timestamp[ns] in the
    # catalog's footer probe; write MICROS so the crafted table takes the
    # same native-read path as the driver testdata
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    # independent transition extraction (pure python over the row list)
    from collections import defaultdict

    by_user = defaultdict(list)
    for e, ts, u, et, _ in rows:
        by_user[u].append((ts, e, et))
    trans = defaultdict(int)
    for u, es in by_user.items():
        es.sort()
        prev = "START"
        for _, _, et in es:
            if et == "purchase":
                trans[(prev, "CONV")] += 1
                prev = "START"
            else:
                trans[(prev, et)] += 1
                prev = et
        if prev != "START":
            trans[(prev, "DROP")] += 1

    def absorb_exact(removed):
        c = defaultdict(int)
        for (s, d), n in trans.items():
            c[(s, "DROP" if d == removed else d)] += n
        tot = defaultdict(int)
        for (s, _), n in c.items():
            tot[s] += n
        states = {s for s, _ in c} | {d for _, d in c}
        p = {st: Fraction(1 if st == "CONV" else 0) for st in states}
        for _ in range(12):
            acc = defaultdict(Fraction)
            for (s, d), n in c.items():
                acc[s] += n * p[d]
            p = {
                st: Fraction(1) if st == "CONV"
                else Fraction(0) if st == "DROP"
                else acc[st] / tot[st]
                for st in states
            }
        return p.get("START", Fraction(0))

    got = {
        r.channel: r
        for r in QUERIES["attribution_markov_removal"](spark, sf).collect()
    }
    SCALE = 10**12
    envelope = 12  # <= 0.5 pico rounding per step, 12 steps, + slack
    base_exact = absorb_exact(None)
    removal_exact = {}
    for ch in ("click", "error", "signup", "view"):
        rem = absorb_exact(ch)
        removal_exact[ch] = max(base_exact - rem, Fraction(0))
        if ch in got:
            r = got[ch]
            assert abs(r.conv_base_pico - base_exact * SCALE) <= envelope
            assert abs(r.conv_removed_pico - rem * SCALE) <= envelope
            assert r.conv_removed_pico <= r.conv_base_pico
    # attribution: proportional to removal effects, summing to ~1
    tot_re = sum(removal_exact.values())
    assert tot_re > 0
    att_sum = sum(r.attribution for r in got.values())
    assert abs(att_sum - 1.0) <= 5e-4
    for ch, r in got.items():
        assert abs(r.attribution - float(removal_exact[ch] / tot_re)) <= 1e-3
    # the restart rule showed up: u7's post-purchase click must register
    # as a START->click transition, so click has touches but view keeps
    # the dominant removal effect (every conversion path runs through it)
    assert removal_exact["view"] == max(removal_exact.values())
    assert got["view"].attribution == max(r.attribution for r in got.values())


def test_bloom_skip_inclusion_and_actual_skipping(spark):
    """The Bloom file index's defining guarantees, checked from the
    LAYOUT side (value parity is the oracle's job): every file that
    truly contains a probe key is a candidate (NO false negatives —
    the property that makes the pruned read lossless), and the
    candidate union is strictly smaller than the file count (the index
    actually skips; with ~12 bits/key the false-positive rate is far
    below one file per probe)."""
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.operators.io_queries import (
        _BLOOM_FILES,
        _bloom_file_index,
        _bloom_probe_positions,
        _scratch,
    )

    # run the query first so the layout + index exist for this sf_dir
    QUERIES["io_bloom_skip_lookup"](spark, SF_DIR).collect()
    dst = _scratch(SF_DIR, "bloom_skip_orders")
    index = _bloom_file_index(spark, dst)
    assert len(index) == _BLOOM_FILES
    present = [
        r[0]
        for r in spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .orderBy("o_custkey")
        .limit(3)
        .collect()
    ]
    mx = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .agg(F.max("o_custkey"))
        .collect()[0][0]
    )
    # one scan for all probe keys (was one full scan per key — r15
    # suite-runtime fix, same assertions)
    truth_rows = (
        spark.read.parquet(dst)
        .select(F.input_file_name().alias("f"), "o_custkey")
        .filter(F.col("o_custkey").isin([int(k) for k in present]))
        .distinct()
        .collect()
    )
    truth = {
        k: {r["f"] for r in truth_rows if r["o_custkey"] == int(k)}
        for k in present
    }
    all_candidates = set()
    for k in present:
        want = _bloom_probe_positions(k)
        cand = {f for f, bits in index.items() if all(b in bits for b in want)}
        assert truth[k] <= cand, f"false negative for key {k}"
        all_candidates |= cand
    for k in (mx + 1, mx + 2):
        want = _bloom_probe_positions(k)
        cand = {f for f, bits in index.items() if all(b in bits for b in want)}
        assert len(cand) <= 1, f"absent key {k} matched {len(cand)} files"
        all_candidates |= cand
    assert len(all_candidates) < _BLOOM_FILES, "index skipped nothing"


def test_theilsen_matches_python_median_of_slopes(spark):
    """Theil-Sen re-derived independently: the (brand, month) demand
    table pulled through DuckDB, every pairwise slope and the exact
    median recomputed in pure Python (statistics.median over the same
    1e-4-quantized slopes), matched to the operator's ts_slope per
    brand; plus the estimator's defining robustness property on a
    crafted series — one wild outlier month moves the OLS slope but
    not the Theil-Sen median."""
    import math
    import statistics

    import duckdb

    rows = duckdb.connect().execute(f"""
        SELECT p.p_brand,
               CAST(year(date_trunc('month', l.l_shipdate)) * 12
                    + month(date_trunc('month', l.l_shipdate)) AS BIGINT),
               CAST(floor(sum(l.l_quantity) * 10000 + 0.5) AS BIGINT)
        FROM '{SF_DIR}/lineitem.parquet' l
        JOIN '{SF_DIR}/part.parquet' p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    """).fetchall()
    series = {}
    for brand, x, qy in rows:
        series.setdefault(brand, []).append((x, qy))
    want = {}
    for brand, pts in series.items():
        # same orientation as the operator's b.x > a.x join
        slopes = [
            math.floor((q2 - q1) * 1.0 / (x2 - x1) + 0.5)
            for (x1, q1) in pts
            for (x2, q2) in pts
            if x2 > x1
        ]
        # keep the median UNROUNDED: the engines' shared round-half
        # convention at an exact .5 double differs from Python's
        # banker's round — the parity suite owns grid exactness, this
        # pin owns "not the same wrong thing", so half-grid tolerance
        want[brand] = (len(slopes), statistics.median(slopes) / 10000.0)
    got = {
        r.brand: (r.n_pairs, r.ts_slope)
        for r in QUERIES["trend_theilsen_brand"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for brand in want:
        assert got[brand][0] == want[brand][0], brand
        assert abs(got[brand][1] - want[brand][1]) <= 6e-5, brand
    # robustness: a 10x outlier month barely moves the median of slopes
    clean = [(x, 1000 * x + 50) for x in range(12)]
    # the outlier sits at the series END — maximum OLS leverage
    dirty = [(x, y * (10 if x == 11 else 1)) for x, y in clean]
    def ts(pts):
        return statistics.median(
            (q2 - q1) / (x2 - x1)
            for i, (x1, q1) in enumerate(pts)
            for (x2, q2) in pts[i + 1:]
        )
    def ols(pts):
        n = len(pts)
        mx = sum(x for x, _ in pts) / n
        my = sum(y for _, y in pts) / n
        return sum((x - mx) * (y - my) for x, y in pts) / sum(
            (x - mx) ** 2 for x, _ in pts
        )
    assert abs(ts(dirty) - 1000) < 300
    assert abs(ols(dirty) - 1000) > 2000


def test_unigram_tokenizer_matches_independent_em(spark):
    """The unigram tokenizer re-derived independently: word counts,
    candidate mass, vocab cut, two hard-EM rounds and the final table
    rebuilt in pure Python over DuckDB-pulled text (costs quantized
    through DuckDB's own floor(-log2) so the transcendental primitive is
    the proven one and the DP/EM semantics are what this pin isolates),
    compared EXACTLY to the operator's 30-row vocabulary.  Plus the
    tie-break contract on a crafted case: equal-cost segmentations
    resolve toward the shorter last piece."""
    import duckdb

    from hackatonbigdata_spark.operators.llm import (
        _DUCK_WORDS,
        _TOK_MAXLEN,
        _TOK_OUT,
        _TOK_PIECE_MAX,
        _TOK_VOCAB_MULTI,
        _TOK_WORD_CAP,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT *"
        f" FROM '{SF_DIR}/documents.parquet'"
    )
    words = con.execute(f"""
        SELECT word, CAST(count(*) AS BIGINT) FROM (
          SELECT unnest({_DUCK_WORDS}) AS word FROM documents)
        WHERE word <> '' AND length(word) <= {_TOK_MAXLEN}
        GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT {_TOK_WORD_CAP}
    """).fetchall()

    mass0 = {}
    for w, c in words:
        for i in range(len(w)):
            for l in range(1, _TOK_PIECE_MAX + 1):
                if i + l <= len(w):
                    p = w[i : i + l]
                    mass0[p] = mass0.get(p, 0) + c
    vocab = {p: n for p, n in mass0.items() if len(p) == 1}
    vocab.update(
        dict(
            sorted(
                ((p, n) for p, n in mass0.items() if len(p) > 1),
                key=lambda kv: (-kv[1], kv[0]),
            )[:_TOK_VOCAB_MULTI]
        )
    )

    def duck_costs(mass):
        nt = sum(mass.values())
        vals = ", ".join(
            f"('{p}', {n})" for p, n in sorted(mass.items())
        )
        return dict(
            con.execute(
                f"SELECT piece, CAST(floor(-log2(n * 1.0 / {nt})"
                f" * 10000 + 0.5) AS BIGINT)"
                f" FROM (VALUES {vals}) t(piece, n)"
            ).fetchall()
        )

    def em_round(cost):
        out = {}
        for w, c in words:
            best = [None] * (len(w) + 1)
            best[0] = (0, [])
            for i in range(1, len(w) + 1):
                cands = [
                    (best[i - l][0] + cost[w[i - l : i]], l, w[i - l : i])
                    for l in range(1, min(_TOK_PIECE_MAX, i) + 1)
                    if best[i - l] is not None and w[i - l : i] in cost
                ]
                if cands:
                    cst, l, p = min(cands)
                    best[i] = (cst, best[i - l][1] + [p])
            for p in best[len(w)][1]:
                out[p] = out.get(p, 0) + c
        return out

    r1 = em_round(duck_costs(vocab))
    r2 = em_round(duck_costs(r1))
    n2t = sum(r2.values())
    top = sorted(r2.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOK_OUT]
    want = {
        p: (
            len(p),
            mass0[p],
            r1[p],
            n,
            duck_costs(r2)[p],
        )
        for p, n in top
    }
    got = {
        r.piece: (r.piece_len, r.n_sub, r.n_r1, r.n_r2, r.cost2_q)
        for r in QUERIES["tokenizer_unigram_em"](spark, SF_DIR).collect()
    }
    assert got == want
    assert n2t == sum(r2.values())
    # tie-break: with every piece equal-cost, 'ab'+'c' vs 'a'+'bc' vs
    # singles all cost the same total ONLY when piece costs are equal
    # per character-count — craft costs where two 2-splits tie and the
    # shorter LAST piece must win
    cost = {"ab": 10, "c": 5, "a": 5, "bc": 10, "b": 99, "abc": 99}
    best = [None] * 4
    best[0] = (0, [])
    w = "abc"
    for i in range(1, 4):
        cands = [
            (best[i - l][0] + cost[w[i - l : i]], l, w[i - l : i])
            for l in range(1, min(_TOK_PIECE_MAX, i) + 1)
            if best[i - l] is not None and w[i - l : i] in cost
        ]
        if cands:
            cst, l, p = min(cands)
            best[i] = (cst, best[i - l][1] + [p])
    # 'ab c' and 'a bc' both cost 15; l=1 ('c' last) wins at i=3
    assert best[3] == (15, ["ab", "c"])


def test_kll_merge_matches_python_and_rank_bound(spark):
    """The KLL merge re-derived in pure Python over DuckDB-pulled events
    (hour cascades -> level-wise merge -> readout), matched exactly to
    the operator; then the merged answer's rank error vs the EXACT
    per-day order statistics checked against the compaction envelope
    (each level-l compaction shifts any rank by <= 2^l, summed over
    every compaction both cascades performed); and the merged answers
    required to stay inside the same envelope around the single-pass
    day sketch's answers (mergeability does not change the guarantee)."""
    import duckdb

    from hackatonbigdata_spark.sketch_params import KLL_K, KLL_LEVELS
    from hackatonbigdata_spark.operators.streaming_batch import (
        _KLLM_EXTRA,
        QUANT_PCTS,
    )

    rows = duckdb.connect().execute(f"""
        SELECT CAST(ts AS DATE), date_part('hour', ts), value, event_id
        FROM '{SF_DIR}/events.parquet' WHERE value IS NOT NULL
    """).fetchall()
    by_hour, by_day = {}, {}
    for d, h, v, i in rows:
        by_hour.setdefault((d, h), []).append((v, i))
        by_day.setdefault(d, []).append((v, i))

    def cascade(items, levels, key_budget=KLL_K):
        """(retained {lvl: [(v,id)]}, promotions-per-level log)."""
        kept, lvl, compactions = {}, sorted(items), []
        for l in range(levels):
            if len(lvl) <= key_budget:
                kept[l] = lvl
                lvl = []
                break
            compactions.append(l)
            lvl = sorted(lvl)[0::2]  # odd ranks, 1-indexed -> evens 0-idx
        else:
            kept[levels] = lvl
            lvl = []
        return kept, compactions

    # per-hour stored states
    hstate, hcomp = {}, {}
    for (d, h), items in by_hour.items():
        kept, comps = cascade(items, KLL_LEVELS)
        for l, its in kept.items():
            hstate.setdefault(d, {}).setdefault(l, []).extend(its)
        hcomp.setdefault(d, []).extend(2**l for l in comps)

    got = {
        (str(r.day), r.pct): r
        for r in QUERIES["sketch_kll_merge_daily"](spark, SF_DIR).collect()
    }
    direct = {
        (str(r.day), r.pct): r
        for r in QUERIES["sketch_kll_quantiles"](spark, SF_DIR).collect()
    }
    top = KLL_LEVELS + _KLLM_EXTRA
    for d, levels in hstate.items():
        # merge cascade
        ret, promo, merr = {}, [], list(hcomp.get(d, []))
        for l in range(top):
            cur = sorted(levels.get(l, []) + promo)
            if len(cur) <= KLL_K:
                ret[l] = cur
                promo = []
            else:
                merr.append(2**l)
                promo = cur[0::2]
        if promo:
            ret[top] = promo
        weighted = sorted(
            (v, i, 2**l) for l, its in ret.items() for v, i in its
        )
        w_total = sum(w for _, _, w in weighted)
        exact = sorted(v for v, _ in by_day[d])
        envelope = sum(merr)
        for pct in QUANT_PCTS:
            tgt = (pct * w_total + 99) // 100
            cumw, ans = 0, None
            for v, _, w in weighted:
                cumw += w
                if cumw >= tgt:
                    ans = v
                    break
            r = got[(str(d), pct)]
            assert r.value == ans, (d, pct)
            assert r.w_total == w_total and r.n_retained == len(weighted)
            # rank-error bound vs the exact order statistics
            import bisect
            lo = bisect.bisect_left(exact, ans)
            hi = bisect.bisect_right(exact, ans)
            want_rank = (pct * len(exact) + 99) // 100
            assert lo - envelope <= want_rank <= hi + envelope, (d, pct)
            # and the single-pass day sketch answer sits in a value
            # range whose exact ranks overlap the same widened window
            dv = direct[(str(d), pct)].value
            dlo = bisect.bisect_left(exact, dv)
            dhi = bisect.bisect_right(exact, dv)
            assert dlo - 2 * envelope <= want_rank <= dhi + 2 * envelope
            if r.is_exact:
                assert ans == exact[want_rank - 1]


def test_chi2_matches_scipy_convention(spark):
    """Chi-square re-derived independently: the contingency table pulled
    through DuckDB, the textbook sum((O-E)^2/E) over ALL cells computed
    in unquantized float (including zero-observation cells), compared to
    the operator within the per-cell quantization envelope (0.5e-4 per
    cell); Cramér's V recomputed from first principles."""
    import math

    import duckdb

    rows = duckdb.connect().execute(f"""
        SELECT event_type, isodow(CAST(ts AS DATE)), count(*)
        FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2
    """).fetchall()
    obs = {(t, d): c for t, d, c in rows}
    types = sorted({t for t, _ in obs})
    dows = sorted({d for _, d in obs})
    rt = {t: sum(c for (tt, _), c in obs.items() if tt == t) for t in types}
    ct = {d: sum(c for (_, dd), c in obs.items() if dd == d) for d in dows}
    n = sum(obs.values())
    chi2 = 0.0
    for t in types:
        for d in dows:
            e = rt[t] * ct[d] / n
            chi2 += (obs.get((t, d), 0) - e) ** 2 / e
    got = QUERIES["ab_test_chi2_independence"](spark, SF_DIR).collect()[0]
    n_cells = len(types) * len(dows)
    assert got.n_events == n
    assert got.n_types == len(types) and got.n_dows == len(dows)
    assert got.dof == (len(types) - 1) * (len(dows) - 1)
    assert abs(got.chi2 - chi2) <= n_cells * 0.5e-4 + 1e-6
    v = math.sqrt(chi2 / (n * min(len(types) - 1, len(dows) - 1)))
    assert abs(got.cramers_v - v) <= 1e-3


def test_unigram_encode_matches_independent_apply(spark):
    """The encode half re-derived independently: the same Python EM as
    the learner pin, then a third Viterbi under the learned costs over
    EVERY corpus word with per-source occurrence counts pulled through
    DuckDB, aggregated to the operator's per-source statistics.
    Integer columns must match exactly; the two r4 averages within the
    rounding grid."""
    import duckdb

    from hackatonbigdata_spark.operators.llm import (
        _DUCK_WORDS,
        _TOK_MAXLEN,
        _TOK_PIECE_MAX,
        _TOK_VOCAB_MULTI,
        _TOK_WORD_CAP,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT *"
        f" FROM '{SF_DIR}/documents.parquet'"
    )
    words = con.execute(f"""
        SELECT word, CAST(count(*) AS BIGINT) FROM (
          SELECT unnest({_DUCK_WORDS}) AS word FROM documents)
        WHERE word <> '' AND length(word) <= {_TOK_MAXLEN}
        GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT {_TOK_WORD_CAP}
    """).fetchall()
    sw = con.execute(f"""
        SELECT source, word, CAST(count(*) AS BIGINT) FROM (
          SELECT source, unnest({_DUCK_WORDS}) AS word FROM documents)
        WHERE word <> '' AND length(word) <= {_TOK_MAXLEN}
        GROUP BY 1, 2
    """).fetchall()

    mass0 = {}
    for w, c in words:
        for i in range(len(w)):
            for l in range(1, _TOK_PIECE_MAX + 1):
                if i + l <= len(w):
                    p = w[i : i + l]
                    mass0[p] = mass0.get(p, 0) + c
    vocab = {p: n for p, n in mass0.items() if len(p) == 1}
    vocab.update(
        dict(
            sorted(
                ((p, n) for p, n in mass0.items() if len(p) > 1),
                key=lambda kv: (-kv[1], kv[0]),
            )[:_TOK_VOCAB_MULTI]
        )
    )

    def duck_costs(mass):
        nt = sum(mass.values())
        vals = ", ".join(f"('{p}', {n})" for p, n in sorted(mass.items()))
        return dict(
            con.execute(
                f"SELECT piece, CAST(floor(-log2(n * 1.0 / {nt})"
                f" * 10000 + 0.5) AS BIGINT)"
                f" FROM (VALUES {vals}) t(piece, n)"
            ).fetchall()
        )

    def viterbi(w, cost):
        best = [None] * (len(w) + 1)
        best[0] = (0, [])
        for i in range(1, len(w) + 1):
            cands = [
                (best[i - l][0] + cost[w[i - l : i]], l, w[i - l : i])
                for l in range(1, min(_TOK_PIECE_MAX, i) + 1)
                if best[i - l] is not None and w[i - l : i] in cost
            ]
            if cands:
                cst, l, p = min(cands)
                best[i] = (cst, best[i - l][1] + [p])
        return best[len(w)]

    def em_round(cost):
        out = {}
        for w, c in words:
            for p in viterbi(w, cost)[1]:
                out[p] = out.get(p, 0) + c
        return out

    r2 = em_round(duck_costs(em_round(duck_costs(vocab))))
    cost3 = duck_costs(r2)
    per_word = {}
    for w in {w for _, w, _ in sw}:
        b = viterbi(w, cost3)
        if b is not None:
            per_word[w] = (b[0], len(b[1]))
    agg = {}
    for src, w, cnt in sw:
        a = agg.setdefault(src, [0, 0, 0, 0, 0, 0])
        a[0] += cnt
        a[1] += 1
        if w in per_word:
            a[3] += cnt * per_word[w][1]
            a[4] += cnt * per_word[w][0]
            a[5] += cnt
        else:
            a[2] += 1
    got = {
        r.source: r
        for r in QUERIES["tokenizer_unigram_encode"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(agg)
    for src, a in agg.items():
        r = got[src]
        assert (r.n_words, r.n_distinct_words, r.n_unencodable, r.n_pieces) == (
            a[0],
            a[1],
            a[2],
            a[3],
        ), src
        assert abs(r.avg_pieces_per_word - a[3] / a[5]) <= 1e-4
        assert abs(r.avg_bits_per_word - a[4] / (a[5] * 10000.0)) <= 1e-4


def test_power_mde_matches_statsmodels_convention(spark):
    """Power/MDE re-derived independently: per-arm moments pulled through
    DuckDB, the normal-approximation two-sample MDE and the two-tailed
    achieved power recomputed with Python's exact erf-based normal CDF —
    the A&S 26.2.17 polynomial the operator ships is accurate to 7.5e-8,
    so agreement within the 4dp rounding grid proves both the sufficient
    statistics and the CDF surrogate."""
    import math
    import statistics

    import duckdb

    rows = duckdb.connect().execute(f"""
        SELECT event_type, user_id % 2, value
        FROM '{SF_DIR}/events.parquet'
    """).fetchall()
    arms: dict[tuple, list[float]] = {}
    for t, v, x in rows:
        arms.setdefault((t, v), []).append(round(x * 10000) / 10000)
    got = {r.event_type: r for r in QUERIES["ab_test_power_mde"](spark, SF_DIR).collect()}
    z_a, z_p = 1.959964, 0.841621

    def phi(x: float) -> float:
        return 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))

    for t in sorted({k[0] for k in arms}):
        a, b = arms[(t, 0)], arms[(t, 1)]
        se = math.sqrt(
            statistics.variance(a) / len(a) + statistics.variance(b) / len(b)
        )
        diff = statistics.mean(b) - statistics.mean(a)
        r = got[t]
        assert r.n_a == len(a) and r.n_b == len(b)
        assert abs(r.mean_diff - diff) <= 1e-3
        assert abs(r.se_diff - se) <= 1e-3
        assert abs(r.mde_abs - (z_a + z_p) * se) <= 1e-3
        assert abs(r.z_obs - abs(diff) / se) <= 1e-3
        want_power = phi(abs(diff) / se - z_a) + phi(-abs(diff) / se - z_a)
        assert abs(r.power_observed - want_power) <= 1e-3
        assert r.powered_80 == (abs(diff) >= (z_a + z_p) * se)
        # achieved power is a probability and the two readouts are
        # mutually consistent: powered_80 implies power >= ~0.80
        assert 0.0 <= r.power_observed <= 1.0
        if r.powered_80:
            assert r.power_observed >= 0.79


def test_link_prediction_matches_python_bruteforce(spark):
    """Link-prediction scores re-derived independently: the >= 2-basket
    edge set pulled through DuckDB, adjacency sets built in Python, every
    non-edge pair scored by brute force over the full candidate space (no
    wedge expansion — the opposite algorithm), Adamic-Adar in unquantized
    float.  Candidate SET and integer columns must match exactly; floats
    within the per-term quantization envelope."""
    import math

    import duckdb

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
    nbrs: dict[int, set[int]] = {}
    eset = set()
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
        eset.add((u, v))
    nodes = sorted(nbrs)
    want = {}
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if (u, v) in eset:
                continue
            common = nbrs[u] & nbrs[v]
            if len(common) < 2:
                continue
            aa = sum(1.0 / math.log(len(nbrs[w])) for w in common)
            jac = len(common) / (len(nbrs[u]) + len(nbrs[v]) - len(common))
            want[(u, v)] = (len(common), aa, jac)
    got = {
        (r.part_a, r.part_b): r
        for r in QUERIES["graph_link_prediction"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    assert len(got) > 0
    for k, (cn, aa, jac) in want.items():
        r = got[k]
        assert r.common_neighbors == cn
        assert abs(r.adamic_adar - aa) <= cn * 0.5e-4 + 1e-6
        assert abs(r.jaccard - jac) <= 1e-4


def test_snapshot_expire_layout(spark):
    """Expiry's physical effects pinned: (1) the as-of-3 read is
    identical before and after expiry, (2) exactly the generation-1
    versions of the rewritten files plus the delete file vanish from
    disk, (3) untouched shared files are byte-identical, (4) expired
    snapshots stop being addressable, (5) the vacuum counters match the
    layout arithmetic."""
    import glob
    import os

    import pytest as _pytest

    from hackatonbigdata_spark.operators.io_queries import (
        _SE_DEL_FIDS,
        _SE_FILES,
        _scratch,
        expire_snapshots,
        read_snapshot,
    )

    # run the operator once to build + expire the layout
    QUERIES["io_snapshot_expire"](spark, SF_DIR).collect()
    base_dst = _scratch(SF_DIR, "se_base")
    rw_dst = _scratch(SF_DIR, "se_rewrite")
    del_dst = _scratch(SF_DIR, "se_deletes")
    man_dst = _scratch(SF_DIR, "se_manifest")

    # (2) orphans gone, survivors present
    for fid in range(_SE_FILES):
        d = os.path.join(base_dst, f"file_id={fid}")
        if fid in _SE_DEL_FIDS:
            assert not os.path.exists(d), f"orphaned gen-1 dir survived: {d}"
        else:
            assert os.path.isdir(d), f"live shared dir removed: {d}"
    assert not os.path.exists(del_dst), "delete file survived expiry"
    assert os.path.isdir(rw_dst)

    # (4) snapshot 1 no longer addressable; snapshot 3 still is
    with _pytest.raises(ValueError):
        read_snapshot(spark, man_dst, base_dst, 1)
    live = read_snapshot(spark, man_dst, base_dst, 3)
    n_live = live.count()
    assert n_live > 0

    # (3)+(1): snapshot the untouched bytes, rebuild the layout from
    # scratch (operator reruns end-to-end), and compare the pre-expiry
    # as-of-3 read to the post-expiry one
    keep_fid = next(f for f in range(_SE_FILES) if f not in _SE_DEL_FIDS)
    keep_dir = os.path.join(base_dst, f"file_id={keep_fid}")
    def sig(d):
        return sorted(
            (os.path.getsize(p), open(p, "rb").read(64))
            for p in glob.glob(os.path.join(d, "*.parquet"))
        )

    before = sig(keep_dir)
    QUERIES["io_snapshot_expire"](spark, SF_DIR).collect()
    after = sig(keep_dir)
    # the rebuild rewrites base files under fresh UUID part names, so
    # compare the (size, leading-bytes) multiset: the deterministic
    # pipeline must reproduce identical file content
    assert before == after and len(before) > 0

    # (5) vacuum counters: rebuild manifest, expire by hand, check math
    rows = spark.read.parquet(man_dst).collect()
    assert {r.snapshot_id for r in rows} == {3}
    stats = expire_snapshots(spark, man_dst, keep=(3,))
    assert stats == {
        "n_snapshots_expired": 0,
        "n_files_removed": 0,
        "n_files_live": (_SE_FILES - len(_SE_DEL_FIDS)) + 1,
    }


def test_mase_matches_python_recompute(spark):
    """MASE re-derived independently: the per-store series pulled through
    DuckDB in the engine's canonical order, the shared rolling-mean
    forecast, the lag-7 seasonal naive, and Hyndman's scaled-error ratio
    all recomputed in pure Python."""
    import duckdb

    rows = duckdb.connect().execute(f"""
        SELECT l_suppkey, l_quantity
        FROM '{SF_DIR}/lineitem.parquet'
        ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber
    """).fetchall()
    series: dict[int, list[float]] = {}
    for k, q in rows:
        series.setdefault(k, []).append(float(q))
    got = {
        r.l_suppkey: r
        for r in QUERIES["metric_mase_seasonal_naive"](spark, SF_DIR).collect()
    }
    assert set(got) == set(series)
    checked_mase = 0
    for k, ys in series.items():
        # forecast_t = quantized mean of ys[max(0,t-7):t] over the prior
        # 7-row window (lag of the 7-preceding-rows rolling mean)
        fe, se = [], []
        for i, y in enumerate(ys):
            if i >= 1:
                w = ys[max(0, i - 7) : i]
                rm = sum(w) / len(w)
                fq = int(abs(rm) * 10000 + 0.5) / 10000 * (1 if rm >= 0 else -1)
                fe.append(abs(y - fq))
            if i >= 7:
                se.append(abs(y - ys[i - 7]))
        r = got[k]
        assert r.n_rows == len(ys)
        mf = sum(fe) / len(fe) if fe else None
        ms = sum(se) / len(se) if se else None
        if mf is not None:
            assert abs(r.mae_forecast - mf) <= 1e-3
        if ms is not None:
            assert abs(r.mae_snaive - ms) <= 1e-3
        if mf is not None and ms:
            assert abs(r.mase - mf / ms) <= 1e-3
            assert r.beats_snaive == (mf < ms)
            checked_mase += 1
    assert checked_mase > 0


def test_linear_contributions_match_numpy_ols(spark):
    """Linear SHAP re-derived independently: numpy lstsq on the centered
    design matrix (a different solver than the engines' Cramer rule),
    contributions phi_j = |beta_j| * mean|x_j - xbar_j| in float — the
    operator must agree within the rounding grid, and the shares must
    sum to 1."""
    import numpy as np
    import pyarrow.parquet as pq

    tb = pq.read_table(
        f"{SF_DIR}/lineitem.parquet",
        columns=["l_extendedprice", "l_discount", "l_tax", "l_quantity"],
    )
    q = lambda a: np.floor(np.asarray(a, dtype=float) * 10000 + 0.5) / 10000  # noqa: E731
    X = np.column_stack(
        [q(tb["l_extendedprice"]), q(tb["l_discount"]), q(tb["l_tax"])]
    )
    y = q(tb["l_quantity"])
    Xc = X - X.mean(axis=0)
    beta, *_ = np.linalg.lstsq(Xc, y - y.mean(), rcond=None)
    mac = np.abs(beta) * np.abs(Xc).mean(axis=0)
    share = mac / mac.sum()
    got = {
        r.feature: r
        for r in QUERIES["explain_linear_contributions"](spark, SF_DIR).collect()
    }
    assert set(got) == {"extendedprice", "discount", "tax"}
    tot_share = 0.0
    for j, name in enumerate(["extendedprice", "discount", "tax"]):
        r = got[name]
        assert r.n_rows == len(y)
        assert abs(r.baseline - y.mean()) <= 1e-3
        assert abs(r.beta - beta[j]) <= max(1e-3, abs(beta[j]) * 1e-4)
        assert abs(r.mean_abs_contrib - mac[j]) <= 1e-3
        assert abs(r.contrib_share - share[j]) <= 1e-3
        tot_share += r.contrib_share
    assert abs(tot_share - 1.0) <= 3e-4


def test_kcore_matches_python_peel_and_round_budget(spark):
    """Coreness re-derived independently: a pure-Python peel over
    DuckDB-pulled adjacency (the classic min-degree removal, a different
    control flow than the per-k fixed-round chain), capped at k=3; also
    pins that BOTH peels converge well inside the oracle's fixed round
    budget so the no-op-rounds equivalence holds."""
    import duckdb

    from hackatonbigdata_spark.operators.sequence import _KCORE_ROUNDS

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
    nbrs: dict[int, set[int]] = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)

    def peel(k: int) -> tuple[set[int], int]:
        alive = {n: set(ns) for n, ns in nbrs.items()}
        rounds = 0
        while True:
            bad = [n for n, ns in alive.items() if len(ns) < k]
            if not bad:
                return set(alive), rounds
            rounds += 1
            for n in bad:
                for m in alive.pop(n):
                    if m in alive:
                        alive[m].discard(n)

    core2, r2 = peel(2)
    core3, r3 = peel(3)
    # simultaneous-removal rounds of the operator are <= sequential-peel
    # rounds here both are simultaneous; keep a 2x margin under the budget
    assert max(r2, r3) * 2 <= _KCORE_ROUNDS, (r2, r3, _KCORE_ROUNDS)
    got = {
        r.part: r
        for r in QUERIES["graph_kcore_decomposition"](spark, SF_DIR).collect()
    }
    assert set(got) == set(nbrs)
    n3 = 0
    for n, r in got.items():
        assert r.degree == len(nbrs[n])
        want = 3 if n in core3 else 2 if n in core2 else 1
        assert r.coreness == want, (n, r.coreness, want)
        n3 += want == 3
    # at sf0.001 the co-occurrence graph is dense (true max coreness 15)
    # so the capped readout is legitimately all-3 here; the k=1/2/3 level
    # separation is exercised by the sf0.01 oracle parity (345/600/935)
    assert n3 > 0


def test_rocchio_matches_numpy_recompute(spark):
    """Rocchio re-derived independently with numpy: exact cosine top-5,
    centroid of the top-3 (materializing q' directly instead of the
    operator's linearity expansion), re-rank, purity and overlap counts.
    Integer columns must match exactly for every query."""
    import numpy as np
    import pyarrow.parquet as pq

    from hackatonbigdata_spark.operators.llm import (
        _ROC_BETA,
        _ROC_FB,
        _ROC_K,
        _ROC_QMOD,
    )

    tb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = np.asarray(tb["vec_id"])
    labels = {int(i): int(l) for i, l in zip(ids, np.asarray(tb["label"]))}
    E = {
        int(i): np.asarray(v.as_py(), dtype=float)
        for i, v in zip(ids, tb["embedding"])
    }

    def topk(qv, qid, k):
        scored = []
        for j, v in E.items():
            if j == qid:
                continue
            c = float(qv @ v) / (np.linalg.norm(qv) * np.linalg.norm(v))
            scored.append((-round(c, 4), j))
        scored.sort()
        return [j for _, j in scored[:k]]

    got = {
        r.vec_id: r
        for r in QUERIES["search_rocchio_feedback"](spark, SF_DIR).collect()
    }
    qids = sorted(i for i in E if i % _ROC_QMOD == 0)
    assert set(got) == set(qids)
    any_moved = False
    for qid in qids:
        t0 = topk(E[qid], qid, _ROC_K)
        # quantized centroid mean exactly as the operator: per-component
        # 1e-9 grid sums
        comps = np.stack([E[j] for j in t0[:_ROC_FB]])
        s9 = np.floor(comps * 1e9 + 0.5).sum(axis=0)
        mu = s9 / (len(t0[:_ROC_FB]) * 1e9)
        q1 = E[qid] + _ROC_BETA * mu
        t1 = topk(q1, qid, _ROC_K)
        r = got[qid]
        assert r.label == labels[qid]
        assert r.n_match_before == sum(labels[j] == labels[qid] for j in t0)
        assert r.n_match_after == sum(labels[j] == labels[qid] for j in t1)
        assert r.overlap_top5 == len(set(t0) & set(t1))
        any_moved |= set(t0) != set(t1)
    assert any_moved, "feedback never changed any top-5 list at this SF"


def test_pr_auc_matches_sklearn_convention(spark):
    """Average precision re-derived independently in pure Python with the
    sklearn step-sum over the per-store ranked rows (row-at-a-time walk,
    not the operator's block algebra); agreement within the per-block
    quantization envelope.  Uses the same shared forecast + median label
    construction pulled through DuckDB."""
    import duckdb

    rows = duckdb.connect().execute(f"""
        WITH base AS (
          SELECT l_suppkey, l_quantity AS actual,
                 lag(rm) OVER (PARTITION BY l_suppkey
                               ORDER BY l_shipdate, l_orderkey, l_linenumber)
                   AS rm_lag
          FROM (
            SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                   l_quantity,
                   avg(l_quantity) OVER (
                     PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rm
            FROM '{SF_DIR}/lineitem.parquet')
        ), f AS (
          SELECT l_suppkey, actual,
                 sign(rm_lag) * (floor(abs(rm_lag) * 10000 + 0.5) / 10000)
                   AS forecast
          FROM base WHERE rm_lag IS NOT NULL
        ), m AS (
          SELECT l_suppkey, quantile_cont(actual, 0.5) AS med FROM f GROUP BY 1
        )
        SELECT f.l_suppkey, f.forecast,
               CASE WHEN f.actual > m.med THEN 1 ELSE 0 END AS y
        FROM f JOIN m ON f.l_suppkey = m.l_suppkey
    """).fetchall()
    stores: dict[int, list[tuple[float, int]]] = {}
    for k, s, y in rows:
        stores.setdefault(k, []).append((float(s), int(y)))
    got = {r.l_suppkey: r for r in QUERIES["eval_pr_auc"](spark, SF_DIR).collect()}
    assert set(got) == set(stores)
    for k, items in stores.items():
        n_pos = sum(y for _, y in items)
        # block-wise AP: walk distinct scores descending
        from collections import defaultdict

        blocks = defaultdict(lambda: [0, 0])
        for s, y in items:
            blocks[s][0] += y
            blocks[s][1] += 1
        cum_tp = cum_n = 0
        ap = 0.0
        n_blocks = 0
        for s in sorted(blocks, reverse=True):
            tp_b, n_b = blocks[s]
            cum_tp += tp_b
            cum_n += n_b
            ap += tp_b / n_pos * (cum_tp / cum_n)
            n_blocks += 1
        r = got[k]
        assert r.n_pos == n_pos and r.n_neg == len(items) - n_pos
        assert abs(r.pr_auc - ap) <= n_blocks * 0.5e-4 / n_pos + 1e-3
        assert abs(r.prevalence - n_pos / len(items)) <= 1e-3
        assert 0.0 < r.pr_auc <= 1.0


def test_pinball_loss_matches_python_scoring(spark):
    """Pinball re-derived independently: the OOF design matrix pulled
    through DuckDB, the tau=0.75 and tau=0.5 losses computed row-by-row
    with the textbook max-form (not the operator's quarter-unit integer
    algebra), plus the half-MAE identity at tau=0.5."""
    import duckdb

    rows = duckdb.connect().execute(f"""
        WITH bounds AS (
          SELECT min(l_shipdate) AS d0, max(l_shipdate) AS d1
          FROM '{SF_DIR}/lineitem.parquet'
        ), split AS (
          SELECT d0 + INTERVAL 1 DAY *
                 CAST(floor(date_diff('day', d0, d1) / 2) AS INTEGER) AS mid
          FROM bounds
        ), train AS (
          SELECT l.* FROM '{SF_DIR}/lineitem.parquet' l, split
          WHERE l.l_shipdate < split.mid
        ), valid AS (
          SELECT l.* FROM '{SF_DIR}/lineitem.parquet' l, split
          WHERE l.l_shipdate >= split.mid
        ), p AS (
          SELECT l_suppkey, l_partkey,
                 floor((sum(l_quantity) / count(*)) * 10000 + 0.5) / 10000
                   AS pred_mean,
                 floor(quantile_cont(l_quantity, 0.75) * 10000 + 0.5) / 10000
                   AS pred_q75
          FROM train GROUP BY 1, 2
        ), a AS (
          SELECT l_suppkey, l_partkey,
                 floor((sum(l_quantity) / count(*)) * 10000 + 0.5) / 10000
                   AS actual
          FROM valid GROUP BY 1, 2
        )
        SELECT p.l_suppkey, p.pred_mean, p.pred_q75, a.actual
        FROM p JOIN a USING (l_suppkey, l_partkey)
    """).fetchall()
    per: dict[int, list] = {}
    for k, pm, pq, y in rows:
        per.setdefault(k, []).append((pm, pq, y))
    got = {
        r.l_suppkey: r
        for r in QUERIES["metric_pinball_loss"](spark, SF_DIR).collect()
    }
    assert set(got) == set(per)
    for k, items in per.items():
        pin = lambda y, q, tau: max(tau * (y - q), (tau - 1) * (y - q))  # noqa: E731
        p75 = sum(pin(y, pq, 0.75) for _, pq, y in items) / len(items)
        p50 = sum(pin(y, pm, 0.50) for pm, _, y in items) / len(items)
        mae = sum(abs(y - pm) for pm, _, y in items) / len(items)
        cov = sum(y <= pq for _, pq, y in items) / len(items)
        r = got[k]
        assert r.n_rows == len(items)
        assert abs(r.pinball_q75 - p75) <= 1e-3
        assert abs(r.pinball_mean - p50) <= 1e-3
        assert abs(r.pinball_mean - mae / 2) <= 1e-3  # tau=0.5 identity
        assert abs(r.coverage_q75 - cov) <= 1e-3
        assert abs(r.coverage_gap - (cov - 0.75)) <= 1e-3


def test_stl_residuals_match_python_decomposition(spark):
    """The decomposition re-derived independently: per-store daily series
    through DuckDB, centered 7-row mean, weekday means of the detrended
    values, residual z-gating — all in float (the opposite of the
    operator's integer algebra).  Every flagged row must appear with
    matching components, and no anomaly may be missed."""
    import math
    from datetime import date  # noqa: F401

    import duckdb

    rows = duckdb.connect().execute(f"""
        SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
               sum(round(l_quantity * 10000) / 10000.0) AS qty,
               isodow(CAST(l_shipdate AS DATE)) AS dw
        FROM '{SF_DIR}/lineitem.parquet'
        GROUP BY 1, 2, 4 ORDER BY 1, 2
    """).fetchall()
    series: dict[int, list] = {}
    for k, day, qty, dw in rows:
        series.setdefault(k, []).append((day, float(qty), int(dw)))
    want = {}
    for k, items in series.items():
        vals = [q for _, q, _ in items]
        det = []
        for i in range(len(items)):
            if i < 3 or i >= len(items) - 3:
                continue
            trend = sum(vals[i - 3 : i + 4]) / 7
            det.append((items[i][0], vals[i], items[i][2], trend))
        by_dw: dict[int, list] = {}
        for _, v, dw, tr in det:
            by_dw.setdefault(dw, []).append(v - tr)
        smean = {dw: sum(xs) / len(xs) for dw, xs in by_dw.items()}
        res = [(day, v, tr, smean[dw], v - tr - smean[dw]) for day, v, dw, tr in det]
        n = len(res)
        if n <= 1:
            continue
        mu = sum(r[4] for r in res) / n
        sd = math.sqrt(sum((r[4]) ** 2 for r in res) / (n - 1)
                       - n * mu * mu / (n - 1))
        for day, v, tr, sm, rr in res:
            if abs(rr) > 2 * sd:
                want[(k, day)] = (v, tr, sm, rr)
    got = {
        (r.l_suppkey, r.day): r
        for r in QUERIES["decompose_stl_residuals"](spark, SF_DIR).collect()
    }
    # the integer-grid gate may disagree with the float gate only for
    # residuals within a hair of the 2-sigma boundary; everything else
    # must match exactly as a set and in component values
    border = 0
    for key in set(want) | set(got):
        if key in want and key in got:
            v, tr, sm, rr = want[key]
            g = got[key]
            assert abs(g.daily_qty - v) <= 1e-3
            assert abs(g.trend - tr) <= 1e-3
            assert abs(g.seasonal - sm) <= 1e-3
            assert abs(g.residual - rr) <= 1e-3
        else:
            border += 1
    assert len(got) > 0
    assert border <= max(2, len(want) // 20), (border, len(want), len(got))


def test_srm_check_matches_python(spark):
    """SRM re-derived independently: distinct (type, user) sets in
    Python, the textbook two-cell sum (O-E)^2/E (not the operator's
    collapsed form), and scipy-free flag logic."""
    import duckdb

    rows = duckdb.connect().execute(f"""
        SELECT DISTINCT event_type, user_id FROM '{SF_DIR}/events.parquet'
    """).fetchall()
    per: dict[str, list[int]] = {}
    for t, u in rows:
        per.setdefault(t, []).append(int(u))
    got = {r.event_type: r for r in QUERIES["ab_test_srm_check"](spark, SF_DIR).collect()}
    assert set(got) == set(per)
    for t, us in per.items():
        na = sum(1 for u in us if u % 2 == 0)
        nb = len(us) - na
        e = (na + nb) / 2
        chi2 = (na - e) ** 2 / e + (nb - e) ** 2 / e
        r = got[t]
        assert r.users_a == na and r.users_b == nb
        assert abs(r.srm_chi2 - chi2) <= 1e-3
        assert abs(r.share_a - na / (na + nb)) <= 1e-3
        assert r.srm_flag == (chi2 > 3.841)


def test_binseg_matches_bruteforce_sse(spark):
    """The split re-derived by brute force: for every store and every
    admissible split, LITERAL left/right SSE in float (not the prefix
    algebra), argmin with the same min-segment guard; the chosen day,
    means, and gain must agree."""
    import duckdb

    from hackatonbigdata_spark.operators.windows import _BSEG_MINSEG

    rows = duckdb.connect().execute(f"""
        SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
               sum(round(l_quantity * 10000) / 10000.0) AS qty
        FROM '{SF_DIR}/lineitem.parquet' GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    series: dict[int, list] = {}
    for k, day, q in rows:
        series.setdefault(k, []).append((day, float(q)))
    got = {
        r.l_suppkey: r
        for r in QUERIES["window_changepoint_binseg"](spark, SF_DIR).collect()
    }

    def sse(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs)

    for k, items in series.items():
        n = len(items)
        if n < 2 * _BSEG_MINSEG:
            assert k not in got
            continue
        vals = [q for _, q in items]
        total = sse(vals)
        best = None
        for i in range(_BSEG_MINSEG, n - _BSEG_MINSEG + 1):
            cost = sse(vals[:i]) + sse(vals[i:])
            if best is None or cost < best[0] - 1e-9:
                best = (cost, i)
        cost, i = best
        r = got[k]
        assert r.n_days == n
        assert r.split_day == items[i - 1][0], (k, r.split_day, items[i - 1][0])
        assert abs(r.mean_before - sum(vals[:i]) / i) <= 1e-3
        assert abs(r.mean_after - sum(vals[i:]) / (n - i)) <= 1e-3
        assert abs(r.sse_gain - (total - cost)) <= max(1e-3, total * 1e-6)
        assert r.sse_gain >= -1e-9
    assert len(got) > 0


def test_ndcg_matches_python_ir_metrics(spark):
    """NDCG/precision/MRR re-derived independently in float (math.log2
    discounts, no quantization) over the same exact ranking rebuilt in
    numpy; agreement within the per-term quantization envelope.  The
    literal discount table equals the Spark expression it stands for."""
    import math

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.operators.llm import _NDCG_DISCOUNTS, _ROC_QMOD

    i = F.col("id")
    w_q = F.floor(F.lit(10000.0) / F.log2(i + 1) + F.lit(0.5)).cast("long")
    discounts = (
        spark.range(1, 6)
        .select(i, w_q.alias("w_q"))
        .withColumn(
            "cum_q",
            F.sum("w_q").over(W.orderBy("id").rowsBetween(W.unboundedPreceding, 0)),
        )
        .orderBy("id")
    )
    assert [tuple(r) for r in discounts.collect()] == _NDCG_DISCOUNTS

    tb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = np.asarray(tb["vec_id"])
    labels = {int(i): int(l) for i, l in zip(ids, np.asarray(tb["label"]))}
    E = {
        int(i): np.asarray(v.as_py(), dtype=float)
        for i, v in zip(ids, tb["embedding"])
    }
    got = {
        r.vec_id: r for r in QUERIES["eval_ndcg_retrieval"](spark, SF_DIR).collect()
    }
    qids = sorted(i for i in E if i % _ROC_QMOD == 0)
    assert set(got) == set(qids)
    for qid in qids:
        scored = sorted(
            (-round(float(E[qid] @ v) / (np.linalg.norm(E[qid]) * np.linalg.norm(v)), 4), j)
            for j, v in E.items()
            if j != qid
        )
        top5 = [j for _, j in scored[:5]]
        rel = [labels[j] == labels[qid] for j in top5]
        dcg = sum(r / math.log2(i + 2) for i, r in enumerate(rel))
        n_rel = sum(1 for j in E if j != qid and labels[j] == labels[qid])
        idcg = sum(1 / math.log2(i + 2) for i in range(min(5, n_rel)))
        first = next((i + 1 for i, r in enumerate(rel) if r), None)
        r = got[qid]
        assert r.label == labels[qid]
        assert r.n_rel_corpus == n_rel
        assert abs(r.precision_at_5 - sum(rel) / 5) <= 1e-3
        if idcg > 0:
            assert abs(r.ndcg_at_5 - dcg / idcg) <= 2e-3
        assert abs(r.mrr - (1 / first if first else 0.0)) <= 1e-3


def test_feature_hashing_matches_python(spark):
    """The hashing trick re-derived independently: normalization,
    md5-derived bucket and sign hashes, signed bucket sums, collision
    and cancellation accounting — all in pure Python dicts."""
    import hashlib
    import re

    import duckdb

    from hackatonbigdata_spark.operators.llm import _FH_BUCKETS

    rows = duckdb.connect().execute(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    per: dict[str, dict] = {}
    for src, text in rows:
        norm = re.sub(" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
        d = per.setdefault(src, {})
        for w in norm.split(" "):
            if w:
                d[w] = d.get(w, 0) + 1
    got = {
        r.source: r for r in QUERIES["encode_feature_hashing"](spark, SF_DIR).collect()
    }
    assert set(got) == set(per)
    for src, wf in per.items():
        buckets: dict[int, int] = {}
        for w, c in wf.items():
            b = h32(w) % _FH_BUCKETS
            sgn = 1 if h32("s:" + w) % 2 == 0 else -1
            buckets[b] = buckets.get(b, 0) + sgn * c
        r = got[src]
        n_words = sum(wf.values())
        l1 = sum(abs(v) for v in buckets.values())
        assert r.n_words == n_words
        assert r.n_distinct_words == len(wf)
        assert r.n_buckets_used == len(buckets)
        assert r.n_collisions == len(wf) - len(buckets)
        assert r.l1_signed == l1
        assert abs(r.cancel_rate - (1 - l1 / n_words)) <= 1e-3
        # the trick must actually collide at this vocabulary size
        assert r.n_collisions > 0


def test_metric_family_cross_consistency(spark):
    """The eval family reads ONE shared forecast: MASE's numerator must
    equal the WMAPE suite's MAE per store exactly (same conditional
    average over the same rows), and every PR-AUC row must agree with
    the ROC row's class counts — cross-operator invariants that catch a
    drifting forecast definition in any one query."""
    mase = {
        r.l_suppkey: r
        for r in QUERIES["metric_mase_seasonal_naive"](spark, SF_DIR).collect()
    }
    wmape = {
        r.l_suppkey: r
        for r in QUERIES["metric_wmape_by_store"](spark, SF_DIR).collect()
    }
    assert set(mase) == set(wmape)
    for k, r in mase.items():
        assert r.mae_forecast == wmape[k].mae, (k, r.mae_forecast, wmape[k].mae)
    pr = {r.l_suppkey: r for r in QUERIES["eval_pr_auc"](spark, SF_DIR).collect()}
    roc = {r.l_suppkey: r for r in QUERIES["eval_roc_auc"](spark, SF_DIR).collect()}
    assert set(pr) == set(roc)
    for k in pr:
        assert pr[k].n_pos == roc[k].n_pos and pr[k].n_neg == roc[k].n_neg
        # AP of a ranker can't beat 1.0 or undercut ~0; prevalence ties
        # the two views' class balance together
        assert abs(
            pr[k].prevalence
            - roc[k].n_pos / (roc[k].n_pos + roc[k].n_neg)
        ) <= 1e-3


def test_ece_consistent_with_calibration_curve(spark):
    """ECE re-derived from the calibration CURVE query's own per-bin
    means (same decile construction, independent aggregation path): the
    bin-weighted |mean_forecast - mean_actual| must reproduce the
    summary's ECE within the per-bin quantization envelope, the worst
    bin must reproduce MCE, and the row/bin counts must agree."""
    bins = QUERIES["calibration_curve_bins"](spark, SF_DIR).collect()
    got = QUERIES["calibration_ece_summary"](spark, SF_DIR).collect()[0]
    n = sum(b.n_rows for b in bins)
    ece = sum(b.n_rows * abs(b.mean_forecast - b.mean_actual) for b in bins) / n
    mce = max(abs(b.mean_forecast - b.mean_actual) for b in bins)
    assert got.n_rows == n
    assert got.n_bins == len(bins)
    tol = 2 * len(bins) * 1e-4
    assert abs(got.ece - ece) <= tol, (got.ece, ece)
    assert abs(got.mce - mce) <= tol, (got.mce, mce)
    assert 0 <= got.ece <= got.mce
