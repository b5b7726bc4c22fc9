"""Independent semantic pins for the round-13 changes.

Same contract as test_r7..r12_semantics: the oracle parity suite proves
Spark == DuckDB; these tests guard against both engines computing the
same WRONG thing by re-deriving behavior independently, and pin the
contracts (crash ordering, overflow exactness, executor-side placement)
that no value aggregate can see.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from hackatonbigdata_spark.registry import all_queries

QUERIES = all_queries()

from tests.conftest import SF_DIR  # noqa: E402


def test_viterbi_fold_matches_python_dp(spark):
    """The executor-side Viterbi SQL fold (r13: the unigram encode's
    driver-loop fix) is bit-identical to the pure-Python DP on
    adversarial words: exact-cost ties (the shorter-last-piece order),
    unencodable words (vocabulary gaps), max-length words, and
    single-char words."""
    from hackatonbigdata_spark.operators.llm import (
        _tok_viterbi_best,
        _tok_viterbi_sql,
    )

    # hand-built cost table with deliberate tie structure: 'ab'+'a' and
    # 'a'+'ba' both cost 30 for 'aba' -> the l-asc tie-break decides;
    # 'q' absent -> any word containing q is unencodable
    cost = {
        "a": 10,
        "b": 15,
        "c": 40,
        "ab": 20,
        "ba": 20,
        "abc": 25,
        "abca": 33,
        "bc": 12,
        "cab": 18,
    }
    words = [
        "aba",  # tie: (ab,a) vs (a,ba), both 30
        "abc",  # single piece vs compositions
        "abcabcabca",  # max length (10), many paths
        "a",
        "b",
        "aq",  # unencodable (q not in vocab)
        "q",
        "cccc",
        "abcbcabcba",
        "bcbcbcbcbc",
        "cabcabcabc",
        "aaaaaaaaaa",
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string").select(
        "word", F.expr(_tok_viterbi_sql(cost)).alias("dp")
    )
    got = {r["word"]: r["dp"] for r in df.collect()}
    for w in words:
        best = _tok_viterbi_best(w, cost)
        if best is None:
            assert got[w] is None, f"{w}: fold encoded an unencodable word"
        else:
            assert got[w] is not None, f"{w}: fold failed to encode"
            assert got[w]["cost"] == best[0], f"{w}: cost mismatch"
            assert got[w]["k"] == len(best[1]), f"{w}: piece-count mismatch"


def test_unigram_encode_no_fact_scale_collect(spark):
    """The encode pass keeps the distinct-word Viterbi ON THE EXECUTORS:
    the physical plan carries the aggregate() HOF projection (visible as
    a lambda over the word column) and no Python UDF / no
    createDataFrame-from-driver-rows scan of encode results."""
    df = QUERIES["tokenizer_unigram_encode"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the fold runs engine-side: no scan over a driver-materialized
    # LocalTableScan holding per-word encode rows (the learner's bounded
    # cost/vocab literals are maps inside expressions, not row scans of
    # (word, cost_q, k) tuples)
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    # the plan renders the fold with exprIds spliced in; match its spine
    assert "aggregate(sequence(1" in plan and "lambdafunction" in plan


def test_s2_decimal_accumulation_survives_long_overflow(spark):
    """The welch/power_mde sufficient-statistic idiom (r13 fix: one
    factor cast to decimal BEFORE the multiply, decimal(38,0) sum) is
    exact past Long.MAX, where a naive long product would wrap or raise:
    v4 = 4e9 makes v4^2 = 1.6e19 > 2^63-1."""
    v4 = 4_000_000_000
    df = spark.createDataFrame([(v4,)] * 3, "v4 long")
    s2 = df.agg(
        F.sum(
            (F.col("v4").cast("decimal(19,0)") * F.col("v4")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("s2")
    ).collect()[0]["s2"]
    assert s2 == float(3 * v4 * v4)


def test_expire_snapshots_swaps_manifest_before_deleting(spark, tmp_path):
    """Crash-ordering contract (r13 fix): expire_snapshots rewrites the
    manifest BEFORE deleting orphaned files, so a crash mid-delete
    leaves re-vacuumable orphans — never a manifest addressing deleted
    paths.  Simulated by making the first data-path delete raise: the
    manifest must already carry only kept snapshots, every data path
    must still exist, and the leftover orphan must be discoverable as
    (directory listing) − (manifest paths) — the standard
    remove-orphan-files recovery."""
    import pytest as _pytest

    from hackatonbigdata_spark.operators import io_queries as ioq

    # two snapshots sharing file A; snapshot 2 also owns file B; expiring
    # snapshot 1 orphans file C (only snapshot 1 names it)
    base = str(tmp_path / "tbl")
    for name in ("fa", "fb", "fc"):
        spark.range(5).write.parquet(os.path.join(base, name))
    man = str(tmp_path / "manifest")
    rows = [
        (1, os.path.join(base, "fa"), "data"),
        (1, os.path.join(base, "fc"), "data"),
        (2, os.path.join(base, "fa"), "data"),
        (2, os.path.join(base, "fb"), "data"),
    ]
    ioq._write_manifest(man, rows)

    real_rmtree = shutil.rmtree
    calls: list[str] = []

    def failing_rmtree(path, *a, **kw):
        if path.startswith(base):
            calls.append(path)
            raise OSError("simulated crash during vacuum")
        return real_rmtree(path, *a, **kw)

    shutil.rmtree, ioq.shutil.rmtree = failing_rmtree, failing_rmtree
    try:
        with _pytest.raises(OSError, match="simulated crash"):
            ioq.expire_snapshots(spark, man, keep=(2,))
    finally:
        shutil.rmtree = real_rmtree
        ioq.shutil.rmtree = real_rmtree

    # the delete was attempted on exactly the orphan, AFTER the swap:
    assert calls == [os.path.join(base, "fc")]
    # manifest already speaks only for snapshot 2 ...
    live = spark.read.parquet(man).collect()
    assert {r.snapshot_id for r in live} == {2}
    # ... and no data file is gone (the crash left orphans, not holes)
    for name in ("fa", "fb", "fc"):
        assert os.path.isdir(os.path.join(base, name))
    # the swapped manifest no longer names fc, so a re-run is a no-op on
    # it (expire works from the manifest) ...
    stats = ioq.expire_snapshots(spark, man, keep=(2,))
    assert stats == {
        "n_snapshots_expired": 0,
        "n_files_removed": 0,
        "n_files_live": 2,
    }
    # ... and the orphan is exactly (dir listing) − (manifest paths): the
    # remove-orphan-files recovery identifies it without any data scan
    manifest_paths = {r.path for r in spark.read.parquet(man).collect()}
    on_disk = {os.path.join(base, d) for d in os.listdir(base)}
    assert on_disk - manifest_paths == {os.path.join(base, "fc")}


# --- composed graph-ANN: search over the NND-built graph --------------------


def _walk_python(cos, graph, entry, qids, beam, hops):
    """The generic fixed-beam greedy walk in pure Python (the
    ``_gann_python`` walk, parameterized by graph/entry/queries):
    returns {qid: visited {node: cos}}."""
    out = {}
    for q in qids:
        visited = {}
        expanded = set()
        if q != entry:
            visited[entry] = cos(q, entry)
        frontier = [entry]
        for _ in range(hops):
            expanded.update(frontier)
            for node in frontier:
                for nb in graph[node]:
                    if nb != q and nb not in visited:
                        visited[nb] = cos(q, nb)
            frontier = sorted(
                (n for n in visited if n not in expanded),
                key=lambda n: (-visited[n], n),
            )[:beam]
        out[q] = visited
    return out


def test_similarity_graph_ann_nnd_matches_python(spark):
    """The composed build-then-search query re-derived independently:
    the exact degree-16 graph AND the NN-descent round-2 graph built in
    pure Python (reusing the r12 rederivations), each graph's own hub
    entry, the identical fixed-beam walk over both, and the per-query
    recall/cost decomposition — all matched row for row."""
    import math

    from hackatonbigdata_spark.operators.llm import (
        _GANN_BEAM,
        _GANN_DEG,
        _GANN_HOPS,
        _NND_SAMPLE_MOD,
    )
    from tests.test_r10_semantics import _load_embeddings, _r4, _seq_dot
    from tests.test_r12_semantics import _nnd_python

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

    def hub(graph):
        return max(
            graph,
            key=lambda a: (
                sum(
                    int(math.floor(cos(a, b) * 10000 + 0.5))
                    for b in graph[a]
                ),
                -a,
            ),
        )

    gn, _ = _nnd_python(return_final_graph=True)
    entry_e, entry_n = hub(ranked), hub(gn)
    qids = [q for q in ids if q % _NND_SAMPLE_MOD == 0]
    ve = _walk_python(cos, ranked, entry_e, qids, _GANN_BEAM, _GANN_HOPS)
    vn = _walk_python(cos, gn, entry_n, qids, _GANN_BEAM, _GANN_HOPS)

    def top3(visited):
        return set(
            sorted(visited, key=lambda n: (-visited[n], n))[:3]
        )

    expected = {}
    for q in qids:
        exact3 = set(ranked[q][:3])
        hg = len(top3(ve[q]) & exact3)
        hn = len(top3(vn[q]) & exact3)
        expected[q] = (
            3,
            hg,
            hn,
            _r4(hg / 3.0),
            _r4(hn / 3.0),
            len(ve[q]),
            len(vn[q]),
        )

    rows = QUERIES["similarity_graph_ann_nnd"](spark, SF_DIR).collect()
    assert len(rows) == len(expected)
    for r in rows:
        got = (
            r.n_exact,
            r.n_hits_graph,
            r.n_hits_nnd,
            r.recall_graph_at_3,
            r.recall_nnd_at_3,
            r.evals_graph,
            r.evals_nnd,
        )
        assert got == expected[r.vec_id], f"vec {r.vec_id}"


def test_composed_ann_on_recall_vs_cost_chart(spark):
    """Places the composed query's two operating points on the
    recall-vs-cost chart beside the exact-graph walk and the IVF bucket
    (the r12 chart test's axes).  The transferable invariants: (1) the
    exact-graph half of the composed query IS ``similarity_graph_ann``
    restricted to the sampled queries — identical per-query hits and
    evals; (2) both walks touch a bounded neighborhood, never the
    corpus; (3) recall_graph >= recall_nnd pointwise-on-average (the
    build loss is what the query measures; on these near-uniform
    synthetic vectors the degree-8 NND graph's loss is LARGE — the
    honest-regime note on ``similarity_nndescent_build`` — measured
    ~0.67@151 evals vs ~0.06@35 evals, with IVF at ~0.28@62)."""
    import duckdb

    comp = QUERIES["similarity_graph_ann_nnd"](spark, SF_DIR).collect()
    full = {
        r.vec_id: r for r in QUERIES["similarity_graph_ann"](spark, SF_DIR).collect()
    }
    # (1) cross-query consistency: same graph, same entry, same walk
    for r in comp:
        f = full[r.vec_id]
        assert (r.n_hits_graph, r.evals_graph) == (f.n_hits, f.n_dist_evals)
    n = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet(?)",
        [f"{SF_DIR}/embeddings.parquet"],
    ).fetchone()[0]
    # (2) both variants are indexes, not rescans
    assert max(r.evals_graph for r in comp) < 0.5 * (n - 1)
    assert max(r.evals_nnd for r in comp) < 0.5 * (n - 1)
    # (3) the decomposition: search loss (1 - recall_graph) is small on
    # this corpus; build loss (recall_graph - recall_nnd) dominates
    m = len(comp)
    rg = sum(r.recall_graph_at_3 for r in comp) / m
    rn = sum(r.recall_nnd_at_3 for r in comp) / m
    assert rg >= 0.5
    assert rg > rn


# --- partition-spec evolution ------------------------------------------------


def test_partition_evolution_prunes_both_generations(spark):
    """The evolution contract no value aggregate can see: (1) the spec-A
    tree is month-only (no ret level anywhere), the spec-B tree carries
    month AND ret levels; (2) each generation's scan prunes via its OWN
    spec — spec A's PartitionFilters names ship_month only (ret stays a
    pushed row-level filter), spec B's names both; (3) old files are
    untouched by the evolved write (byte-stable across a rerun)."""
    import glob
    import re

    from hackatonbigdata_spark.operators.io_queries import (
        _PE_MONTH,
        _scratch,
    )

    df = QUERIES["io_partition_evolution"](spark, SF_DIR)
    df.collect()  # materialize the layout
    a_dst = _scratch(SF_DIR, "pe_spec_a")
    b_dst = _scratch(SF_DIR, "pe_spec_b")

    # (1) directory shapes: spec A month-only, spec B month/ret
    a_leaf_dirs = {
        os.path.relpath(os.path.dirname(f), a_dst)
        for f in glob.glob(os.path.join(a_dst, "**", "*.parquet"), recursive=True)
    }
    b_leaf_dirs = {
        os.path.relpath(os.path.dirname(f), b_dst)
        for f in glob.glob(os.path.join(b_dst, "**", "*.parquet"), recursive=True)
    }
    assert a_leaf_dirs and all(
        re.fullmatch(r"ship_month=\d+", d) for d in a_leaf_dirs
    ), a_leaf_dirs
    assert b_leaf_dirs and all(
        re.fullmatch(r"ship_month=\d+/ret=\w", d) for d in b_leaf_dirs
    ), b_leaf_dirs

    # (2) per-generation pruning, each under its own spec
    plan = df._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    a_pf = [p for p in pfs if "ship_month" in p and "ret" not in p]
    b_pf = [p for p in pfs if "ship_month" in p and "ret" in p]
    assert a_pf, f"spec-A scan lost its month pruning: {pfs}"
    assert b_pf, f"spec-B scan lost its month+ret pruning: {pfs}"
    # spec A's ret predicate is row-level (pushed to the scan, not a dir)
    assert "PushedFilters" in plan

    # (3) the deterministic pipeline reproduces the spec-A generation
    # byte-identically on a rerun — the old-files-never-rewritten
    # contract observed as content stability (part names embed UUIDs,
    # so compare the (size, leading-bytes) multiset per month dir)
    def sig(root):
        return sorted(
            (
                os.path.relpath(os.path.dirname(f), root),
                os.path.getsize(f),
                open(f, "rb").read(64),
            )
            for f in glob.glob(
                os.path.join(root, "**", "*.parquet"), recursive=True
            )
        )

    before = sig(a_dst)
    QUERIES["io_partition_evolution"](spark, SF_DIR).collect()
    assert sig(a_dst) == before and len(before) > 0
    # the probe month exists in both generations, so the matched rows
    # really crossed the spec boundary
    probe = f"ship_month={_PE_MONTH}"
    assert any(d.startswith(probe) for d in a_leaf_dirs)
    assert any(d.startswith(probe + "/") for d in b_leaf_dirs)


# --- PPM resize (box-filter downsample) -------------------------------------


def test_ppm_resize_matches_python_pooling(spark):
    """The resize re-derived in pure Python over DuckDB-loaded documents:
    the identical width rule and crop, an explicit s x s average-pooling
    loop, the per-channel resized mean and mean intra-block range —
    matched row for row.  Plus the pooling invariants: detail >= 0, and
    the resized mean equals the CROPPED region's raw mean (box-filter
    preserves mass)."""
    import math

    import duckdb

    from hackatonbigdata_spark.operators.multimodal import (
        _PPM_BASE_W,
        _RS_S,
    )

    def _r4(x):
        return math.floor(x * 10000 + 0.5) / 10000.0

    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    s = _RS_S
    expected = {}
    for doc_id, text in docs:
        w = _PPM_BASE_W + (doc_id * 2654435761 % 2**32 % 4) * 8
        h = (len(text) // 3) // w
        if h < s:
            continue
        px = text[: 3 * w * h].encode("latin-1", errors="strict")
        ow, oh = w // s, h // s
        nb = ow * oh
        stats = []
        for c in range(3):
            tot = det = 0
            for by in range(oh):
                for bx in range(ow):
                    vals = [
                        px[3 * ((by * s + j) * w + bx * s + i) + c]
                        for j in range(s)
                        for i in range(s)
                    ]
                    tot += sum(vals)
                    det += max(vals) - min(vals)
            stats += [_r4(tot / (nb * s * s)), _r4(det / nb)]
        expected[doc_id] = (w, h, ow, oh, nb, *stats)

    rows = QUERIES["mm_ppm_resize"](spark, SF_DIR).collect()
    assert len(rows) == len(expected) > 0
    for r in rows:
        got = (
            r.width, r.height, r.out_w, r.out_h, r.n_blocks,
            r.r_mean_rs, r.r_detail, r.g_mean_rs, r.g_detail,
            r.b_mean_rs, r.b_detail,
        )
        assert got == expected[r.doc_id], f"doc {r.doc_id}"
        assert min(r.r_detail, r.g_detail, r.b_detail) >= 0


def test_viterbi_fold_fuzzed_against_python(spark):
    """Deterministic fuzz of the executor-side Viterbi fold: 40 random
    cost tables x words (seeded PRNG; alphabet sized to force both
    dense-tie and sparse-unencodable regimes) all agree with the Python
    DP on (cost, piece count) / unencodability.  One Spark job for the
    whole batch."""
    import random

    from hackatonbigdata_spark.operators.llm import (
        _TOK_MAXLEN,
        _tok_viterbi_best,
        _tok_viterbi_sql,
    )

    rng = random.Random(1313)
    cases = []
    for ci in range(8):
        alpha = "abcdef"[: rng.choice([2, 3, 6])]
        pieces = {c: rng.randint(1, 50) for c in alpha if rng.random() < 0.9}
        for _ in range(rng.randint(4, 10)):
            ln = rng.randint(2, 4)
            p = "".join(rng.choice(alpha) for _ in range(ln))
            pieces[p] = rng.randint(1, 80)
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, _TOK_MAXLEN)))
            for _ in range(5)
        ]
        cases.append((pieces, words))

    for ci, (pieces, words) in enumerate(cases):
        df = spark.createDataFrame(
            [(w,) for w in sorted(set(words))], "word string"
        ).select("word", F.expr(_tok_viterbi_sql(pieces)).alias("dp"))
        got = {r["word"]: r["dp"] for r in df.collect()}
        for w in sorted(set(words)):
            best = _tok_viterbi_best(w, pieces)
            if best is None:
                assert got[w] is None, f"case {ci} word {w!r}"
            else:
                assert got[w] is not None, f"case {ci} word {w!r}"
                assert (got[w]["cost"], got[w]["k"]) == (
                    best[0],
                    len(best[1]),
                ), f"case {ci} word {w!r}"


def test_expire_snapshots_swap_is_crash_recoverable(spark, tmp_path):
    """The swap window itself (directories can't rename-replace
    atomically): a crash BETWEEN the two renames must leave the complete
    NEW manifest at __staging and the complete OLD one at __old — never
    a state where no full manifest exists or where deleted data files
    are still addressed.  Recovery is AUTOMATIC (r14): the next expire
    call finds no manifest at the live path but a complete one at
    __staging, finishes the interrupted rename itself, then completes
    the vacuum."""
    import pytest as _pytest

    from hackatonbigdata_spark.operators import io_queries as ioq

    base = str(tmp_path / "tbl")
    for name in ("fa", "fc"):
        spark.range(5).write.parquet(os.path.join(base, name))
    man = str(tmp_path / "manifest")
    ioq._write_manifest(
        man,
        [
            (1, os.path.join(base, "fa"), "data"),
            (1, os.path.join(base, "fc"), "data"),
            (2, os.path.join(base, "fa"), "data"),
        ],
    )

    real_rename = os.rename
    n_renames = [0]

    def failing_rename(src, dst):
        n_renames[0] += 1
        if n_renames[0] == 2:
            raise OSError("simulated crash between renames")
        return real_rename(src, dst)

    os.rename, ioq.os.rename = failing_rename, failing_rename
    try:
        with _pytest.raises(OSError, match="between renames"):
            ioq.expire_snapshots(spark, man, keep=(2,))
    finally:
        os.rename = real_rename
        ioq.os.rename = real_rename

    staging, backup = man + "__staging", man + "__old"
    # both complete manifests survive the crash; no data file was deleted
    assert {r.snapshot_id for r in spark.read.parquet(staging).collect()} == {2}
    assert {r.snapshot_id for r in spark.read.parquet(backup).collect()} == {1, 2}
    assert os.path.isdir(os.path.join(base, "fc"))
    # self-recovery: the next expire call finishes the rename on entry
    # (no manual os.rename needed), then the rerun vacuums the orphan
    assert not os.path.exists(man)
    stats = ioq.expire_snapshots(spark, man, keep=(2,))
    assert not os.path.exists(staging)
    assert stats == {
        "n_snapshots_expired": 0,
        "n_files_removed": 0,
        "n_files_live": 1,
    }
    # fc is the dir-listing-minus-manifest orphan (snapshot 1 is gone)
    paths = {r.path for r in spark.read.parquet(man).collect()}
    assert paths == {os.path.join(base, "fa")}
