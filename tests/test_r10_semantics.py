"""Independent semantic pins for the round-10 operators.

Same contract as test_r7/r8/r9_semantics: the oracle parity suite proves
Spark == DuckDB; these tests guard against both engines computing the same
WRONG thing by re-deriving each operator's result independently (pure
Python, with inputs pulled through DuckDB — never through the Spark code
under test).
"""

from __future__ import annotations

import collections
import hashlib
import math

from hackatonbigdata_spark.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()

M, D, K, NC = 8, 8, 16, 8  # PQ subspaces/dims/codebook, IVF centroids


def _seq_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _r4(x):
    return math.copysign(math.floor(abs(x) * 10000.0 + 0.5) / 10000.0, x)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _load_embeddings():
    import duckdb

    rows = duckdb.connect().execute(
        "SELECT vec_id, embedding::DOUBLE[] FROM read_parquet(?)"
        " ORDER BY vec_id",
        [f"{SF_DIR}/embeddings.parquet"],
    ).fetchall()
    return {vid: list(e) for vid, e in rows}


def _ivf_state(emb):
    """(bucket, mu): the r9 cosine bucket assignment and the r10 refined
    centroids — elementwise bucket means over the 1e-9 BIGINT grid."""
    nrm = {v: math.sqrt(_seq_dot(e, e)) for v, e in emb.items()}
    bucket = {}
    for vid, e in emb.items():
        best = min(
            (-_r4(_seq_dot(e, emb[c]) / (nrm[vid] * nrm[c])), c)
            for c in range(NC)
        )
        bucket[vid] = best[1]
    s9 = collections.defaultdict(lambda: [0] * (M * D))
    bn = collections.Counter()
    for vid, e in emb.items():
        b = bucket[vid]
        bn[b] += 1
        for i, x in enumerate(e):
            s9[b][i] += int(math.floor(x * 1000000000 + 0.5))
    mu = {b: [s / (bn[b] * 1000000000.0) for s in s9[b]] for b in s9}
    return bucket, mu


def _pq(vec_of, seeds):
    """PQ-reconstruct every vector of ``vec_of`` against the hash-seeded
    codebook (the engines' shared deterministic seeding)."""
    cb = {
        (k, s): vec_of[k][s * D : (s + 1) * D] for k in seeds for s in range(M)
    }

    def l2(a, b):
        return _seq_dot(a, a) - 2 * _seq_dot(a, b) + _seq_dot(b, b)

    out = {}
    for vid in vec_of:
        o = []
        for s in range(M):
            sub = vec_of[vid][s * D : (s + 1) * D]
            best = min((l2(sub, cb[(k, s)]), k) for k in seeds)
            o.extend(cb[(best[1], s)])
        out[vid] = o
    return out


def test_similarity_ivfpq_residual_matches_python(spark):
    """Full rederivation of the r10 residual arm of the composed index:
    refined centroids as integer-grid bucket means, residual PQ codes
    from the same hash-seeded encoder, reconstruction μ + decoded
    residual, within-bucket residual-ADC top-3, and the residual recall
    and mean-residual-norm figures — beside re-pins of the r9 raw
    columns, proving the rework added a variant without moving the
    existing ones."""
    emb = _load_embeddings()
    nrm = {v: math.sqrt(_seq_dot(e, e)) for v, e in emb.items()}
    qq = {v: _seq_dot(e, e) for v, e in emb.items()}
    bucket, mu = _ivf_state(emb)
    seeds = sorted(emb, key=lambda v: (_h32(str(v)), v))[:K]
    raw_rec = _pq(emb, seeds)
    res = {
        v: [x - y for x, y in zip(emb[v], mu[bucket[v]])] for v in emb
    }
    res_dec = _pq(res, seeds)
    res_rec = {
        v: [a + b for a, b in zip(mu[bucket[v]], res_dec[v])] for v in emb
    }
    ids = sorted(emb)
    hits = hits_r = ceil_hits = perfect = 0
    for a in ids:
        co = sorted(
            (-_r4(_seq_dot(emb[a], emb[b]) / (nrm[a] * nrm[b])), b)
            for b in ids
            if b != a
        )
        ex3 = [b for _, b in co[:3]]
        mates = [b for b in ids if b != a and bucket[b] == bucket[a]]
        adc = sorted(
            (_r4(qq[a] - 2 * _seq_dot(emb[a], raw_rec[b])
                 + _seq_dot(raw_rec[b], raw_rec[b])), b)
            for b in mates
        )
        adcr = sorted(
            (_r4(qq[a] - 2 * _seq_dot(emb[a], res_rec[b])
                 + _seq_dot(res_rec[b], res_rec[b])), b)
            for b in mates
        )
        p3 = {b for _, b in adc[:3]}
        p3r = {b for _, b in adcr[:3]}
        h = sum(1 for b in ex3 if b in p3)
        hits += h
        hits_r += sum(1 for b in ex3 if b in p3r)
        ceil_hits += sum(1 for b in ex3 if bucket[b] == bucket[a])
        perfect += h == 3
    sq = sum(
        int(math.floor(math.sqrt(_seq_dot(res[v], res[v])) * 10000 + 0.5))
        for v in ids
    )
    n = len(ids)
    got = QUERIES["similarity_ivfpq_topk"](spark, SF_DIR).collect()[0]
    assert got.n_vectors == n
    assert got.mean_recall3 == math.floor(
        hits * 10000.0 / (3 * n) + 0.5
    ) / 10000.0
    assert got.mean_recall3_residual == math.floor(
        hits_r * 10000.0 / (3 * n) + 0.5
    ) / 10000.0
    assert got.bucket_ceiling3 == math.floor(
        ceil_hits * 10000.0 / (3 * n) + 0.5
    ) / 10000.0
    assert got.frac_perfect == math.floor(
        perfect * 10000.0 / n + 0.5
    ) / 10000.0
    assert got.mean_res_norm == math.floor(sq * 1.0 / n + 0.5) / 10000.0
    # the refined-centroid residual is tighter than the unit raw vectors
    # on average (the mean's optimality), and both composed recalls stay
    # under the bucket ceiling
    assert got.mean_res_norm < 1.0
    assert got.mean_recall3_residual <= got.bucket_ceiling3


def test_similarity_ivf_nprobe_sweep_matches_python(spark):
    """Full rederivation of the multi-probe sweep: the centroid ranking,
    the per-query probe sets at nprobe in {1,2,4}, the hit count of exact
    top-3 neighbors against each probe set, and the candidate mass
    (probed bucket sizes minus self) — asserting the exact emitted grid
    values plus the curve's defining monotonicity."""
    emb = _load_embeddings()
    nrm = {v: math.sqrt(_seq_dot(e, e)) for v, e in emb.items()}
    rank = {}  # (vec, centroid) -> probe rank
    bucket = {}
    for vid, e in emb.items():
        order = sorted(
            (-_r4(_seq_dot(e, emb[c]) / (nrm[vid] * nrm[c])), c)
            for c in range(NC)
        )
        for rn, (_, c) in enumerate(order, start=1):
            rank[(vid, c)] = rn
        bucket[vid] = order[0][1]
    bsz = collections.Counter(bucket.values())
    ids = sorted(emb)
    n = len(ids)
    nprobes = (1, 2, 4)
    hits = dict.fromkeys(nprobes, 0)
    cand = dict.fromkeys(nprobes, 0)
    for a in ids:
        co = sorted(
            (-_r4(_seq_dot(emb[a], emb[b]) / (nrm[a] * nrm[b])), b)
            for b in ids
            if b != a
        )
        ex3 = [b for _, b in co[:3]]
        for np_ in nprobes:
            hits[np_] += sum(
                1 for b in ex3 if rank[(a, bucket[b])] <= np_
            )
            cand[np_] += (
                sum(bsz[c] for c in range(NC) if rank[(a, c)] <= np_) - 1
            )
    got = {
        r.nprobe: r
        for r in QUERIES["similarity_ivf_nprobe_sweep"](
            spark, SF_DIR
        ).collect()
    }
    assert sorted(got) == list(nprobes)
    for np_ in nprobes:
        assert got[np_].recall3 == math.floor(
            hits[np_] * 10000.0 / (3 * n) + 0.5
        ) / 10000.0
        assert got[np_].mean_candidates == math.floor(
            cand[np_] * 10000.0 / n + 0.5
        ) / 10000.0
    # the knob's contract: more probes never lose recall and always cost
    # more candidates
    assert got[1].recall3 <= got[2].recall3 <= got[4].recall3
    assert got[1].mean_candidates < got[2].mean_candidates < got[4].mean_candidates


def test_corpus_doremi_weights_matches_python(spark):
    """Full rederivation of the DoReMi mixture trajectory: per-source
    unigram (proxy) and conditional-bigram (reference) losses from raw
    normalized text pulled through DuckDB, clipped excess, the 2^excess
    multiplier, and the 8 integer multiply/normalize/smooth rounds —
    plus the operator's defining monotonicity (more excess never means
    less weight) and conservation (weights sum to ~1)."""
    import re

    import duckdb

    rows = duckdb.connect().execute(
        "SELECT doc_id, source, text FROM read_parquet(?) ORDER BY doc_id",
        [f"{SF_DIR}/documents.parquet"],
    ).fetchall()
    words_of = {}
    src_of = {}
    for doc_id, source, text in rows:
        norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower()))
        words_of[doc_id] = norm.strip().split(" ")
        src_of[doc_id] = source
    # unigram proxy loss (tokens exclude empties, as the engine does)
    toks = {
        d: [w for w in ws if w != ""] for d, ws in words_of.items()
    }
    ucf = collections.Counter(w for ws in toks.values() for w in ws)
    utot = sum(ucf.values())
    unl = {
        w: int(math.floor(-math.log2(c * 1.0 / utot) * 10000 + 0.5))
        for w, c in ucf.items()
    }
    # conditional bigram reference loss (bigrams over the RAW split,
    # empties included, mirroring _bigram_cond_nl_scores)
    bgs = {
        d: [(ws[i], f"{ws[i]} {ws[i + 1]}") for i in range(len(ws) - 1)]
        for d, ws in words_of.items()
        if len(ws) >= 2
    }
    cf2 = collections.Counter(b for prs in bgs.values() for _, b in prs)
    cf1 = collections.Counter(w1 for prs in bgs.values() for w1, _ in prs)
    bnl = {
        b: int(
            math.floor(-math.log2(cf2[b] * 1.0 / cf1[w1]) * 10000 + 0.5)
        )
        for prs in bgs.values()
        for w1, b in prs
    }
    un = collections.defaultdict(lambda: [0, 0])  # src -> [nl_sum, n_tok]
    bn = collections.defaultdict(lambda: [0, 0])
    for d in words_of:
        s = src_of[d]
        for w in toks[d]:
            un[s][0] += unl[w]
            un[s][1] += 1
        for _, b in bgs.get(d, []):
            bn[s][0] += bnl[b]
            bn[s][1] += 1
    u4 = {s: int(math.floor(v[0] * 1.0 / v[1] + 0.5)) for s, v in un.items()}
    b4 = {s: int(math.floor(v[0] * 1.0 / v[1] + 0.5)) for s, v in bn.items()}
    e4 = {s: max(0, u4[s] - b4[s]) for s in u4}
    g9 = {
        s: int(
            math.floor(
                math.pow(2.0, min(e4[s], 30000) * 1.0 / 10000)
                * 1000000000
                + 0.5
            )
        )
        for s in e4
    }
    w = dict.fromkeys(g9, 50_000_000)
    for _ in range(8):
        u = {k: (w[k] * g9[k] + 500_000_000) // 1_000_000_000 for k in w}
        z = sum(u.values())
        w = {
            k: int(math.floor(900000000.0 * u[k] / z + 0.5)) + 5_000_000
            for k in w
        }
    got = {
        r.source: r
        for r in QUERIES["corpus_doremi_weights"](spark, SF_DIR).collect()
    }
    assert sorted(got) == sorted(u4)
    for s in got:
        assert got[s].w_nano == w[s], s
        assert got[s].uni_bits == _r4(u4[s] / 10000.0), s
        assert got[s].bi_bits == _r4(b4[s] / 10000.0), s
        assert got[s].excess_bits == _r4(e4[s] / 10000.0), s
    # conservation and monotonicity of the learned mixture
    assert abs(sum(r.w_nano for r in got.values()) - 1_000_000_000) <= 20
    ranked = sorted(got.values(), key=lambda r: r.excess_bits)
    for a, b in zip(ranked, ranked[1:]):
        assert a.w_nano <= b.w_nano


def test_stream_hll_daily_merge_matches_python(spark):
    """Full rederivation of the daily HLL merge from raw events: hourly
    64-register folds under the shared md5 hex rule, merged onto days by
    elementwise max, the integer-register-sum estimator with the
    linear-counting branch — plus the rollup's defining inequality
    (summing hourly distinct counts overcounts returning users; the
    merged sketch does not)."""
    import datetime

    import duckdb

    rows = duckdb.connect().execute(
        "SELECT date_trunc('hour', ts) AS hour, user_id"
        " FROM read_parquet(?)",
        [f"{SF_DIR}/events.parquet"],
    ).fetchall()

    def reg(u):
        hx = hashlib.md5(str(u).encode()).hexdigest()
        j = int(hx[:2], 16) % 64
        t = hx[2:15].lstrip("0")
        if not t:
            return j, 53
        d = int(t[0], 16)
        zb = 3 if d == 1 else 2 if d < 4 else 1 if d < 8 else 0
        return j, 4 * (13 - len(t)) + zb + 1

    hregs = collections.defaultdict(lambda: [0] * 64)
    husers = collections.defaultdict(set)
    dusers = collections.defaultdict(set)
    for hour, u in rows:
        j, rho = reg(u)
        day = datetime.datetime(hour.year, hour.month, hour.day)
        if rho > hregs[hour][j]:
            hregs[hour][j] = rho
        husers[hour].add(u)
        dusers[day].add(u)
    dregs = collections.defaultdict(lambda: [0] * 64)
    shu = collections.Counter()
    for hour, regs in hregs.items():
        day = datetime.datetime(hour.year, hour.month, hour.day)
        dregs[day] = [max(a, b) for a, b in zip(dregs[day], regs)]
    for hour, us in husers.items():
        day = datetime.datetime(hour.year, hour.month, hour.day)
        shu[day] += len(us)

    def est(regs):
        s = sum(1 << (53 - r) for r in regs)
        v = sum(1 for r in regs if r == 0)
        raw = 0.709 * 64 * 64 * float(1 << 53) / s
        e = 64.0 * math.log(64.0 / v) if v > 0 and raw <= 160.0 else raw
        return math.floor(e * 10000 + 0.5) / 10000.0

    got = {
        r.day.replace(tzinfo=None): r
        for r in QUERIES["stream_hll_daily_merge"](spark, SF_DIR).collect()
    }
    assert sorted(got) == sorted(dregs)
    strict = 0
    for day, r in got.items():
        assert r.est_users == est(dregs[day]), day
        assert r.n_users == len(dusers[day]), day
        assert r.sum_hourly_users == shu[day], day
        assert r.sum_hourly_users >= r.n_users
        strict += r.sum_hourly_users > r.n_users
    # the overcount the merge avoids must actually appear in the data
    assert strict >= 1


def test_mm_phash_dedup_matches_python(spark):
    """Full rederivation of the perceptual-hash image dedup: image
    synthesis (hash-decorrelated widths, h >= 8 cut), the two gray
    variants (brightness lift + sparse channel-1 corruption), the 8x8
    aHash with cross-multiplied mean bits, banded candidate generation,
    XOR-popcount Hamming, and every summary figure."""
    import itertools

    import duckdb

    rows = duckdb.connect().execute(
        "SELECT doc_id, text, n_chars FROM read_parquet(?) ORDER BY doc_id",
        [f"{SF_DIR}/documents.parquet"],
    ).fetchall()
    hashes = {}  # (doc_id, v) -> [b0..b3]
    for doc_id, text, n_chars in rows:
        w = 16 + (doc_id * 2654435761 % 2**32 % 4) * 8
        h = (n_chars // 3) // w
        if h < 8:
            continue
        p = text[: 3 * w * h]
        g0, g1 = [], []
        for k in range(w * h):
            b1, b2, b3 = (ord(p[3 * k + c]) for c in range(3))
            g0.append(b1 + b2 + b3)
            noise = 48 if k % 61 == 0 else 0
            g1.append(
                min(b1 + 16 + noise, 255)
                + min(b2 + 16, 255)
                + min(b3 + 16, 255)
            )
        for v, g in ((0, g0), (1, g1)):
            tot = sum(g)
            bands = []
            for i in range(4):
                val = 0
                for j in range(16):
                    c = 16 * i + j
                    gy, gx = c // 8, c % 8
                    y0, y1 = gy * h // 8, (gy + 1) * h // 8
                    x0, x1 = gx * (w // 8), (gx + 1) * (w // 8)
                    cs = sum(
                        g[y * w + x]
                        for y in range(y0, y1)
                        for x in range(x0, x1)
                    )
                    bit = 1 if cs * (w * h) > tot * (y1 - y0) * (x1 - x0) else 0
                    val = val * 2 + bit
                bands.append(val)
            hashes[(doc_id, v)] = bands
    keys = sorted(hashes)
    cand = set()
    for a, b in itertools.combinations(keys, 2):
        if any(hashes[a][i] == hashes[b][i] for i in range(4)):
            cand.add((a, b))
    ham = {
        (a, b): sum(bin(x ^ y).count("1")
                    for x, y in zip(hashes[a], hashes[b]))
        for a, b in cand
    }
    n_dup = sum(1 for d in ham.values() if d <= 3)
    n_self_rec = sum(
        1 for (a, b), d in ham.items() if d <= 3 and a[0] == b[0]
    )
    n_cross = sum(1 for (a, b), d in ham.items() if d <= 3 and a[0] != b[0])
    self_cand = [(k, d) for k, d in ham.items() if k[0][0] == k[1][0]]
    got = QUERIES["mm_phash_dedup"](spark, SF_DIR).collect()[0]
    assert got.n_images == len(keys) // 2
    assert got.n_candidate_pairs == len(cand)
    assert got.n_dup_pairs == n_dup
    assert got.n_self_recovered == n_self_rec
    assert got.n_cross_dups == n_cross
    if self_cand:
        want = math.floor(
            sum(d for _, d in self_cand) * 10000.0 / len(self_cand) + 0.5
        ) / 10000.0
        assert got.mean_self_hamming == want
    # the scenario must actually discriminate: some planted pairs
    # recovered, some beyond the radius
    assert 0 < got.n_self_recovered < got.n_images


def test_io_zorder_prune_skips_files(spark):
    """The z-ordered layout must actually skip files for the 2-D box
    (losslessness is what the oracle parity proves; this pins the
    LAYOUT): after the query's own write, fewer files overlap the box
    than exist, and BOTH domain-scaled dimensions' mean per-file extents
    sit well below their spans."""
    from hackatonbigdata_spark.operators.io_queries import (
        _scratch,
        io_zorder_prune,
        zorder_file_stats,
    )

    io_zorder_prune(spark, SF_DIR).collect()
    stats = zorder_file_stats(spark, _scratch(SF_DIR, "zorder_shipdate_partkey"))
    lo, hi, klo, khi = "1995-01-01", "1995-07-01", 0, 64
    keep = [
        f
        for f, mnd, mxd, mnk, mxk in stats
        if str(mxd)[:10] >= lo
        and str(mnd)[:10] < hi
        and mxk >= klo
        and mnk < khi
    ]
    assert len(stats) == 16
    assert 0 < len(keep) <= len(stats) // 4  # the box reads a small subset
    # balanced z-order: BOTH domain-scaled dimensions' mean per-file
    # extents sit well below their spans
    span_d = (max(x[2] for x in stats) - min(x[1] for x in stats)).days
    mean_d = sum((x[2] - x[1]).days for x in stats) / len(stats)
    assert mean_d < span_d / 2
    span_k = max(x[4] for x in stats) - min(x[3] for x in stats)
    mean_k = sum(x[4] - x[3] for x in stats) / len(stats)
    assert mean_k < span_k / 2


def test_text_kneser_ney_matches_python(spark):
    """Full rederivation of the interpolated Kneser-Ney bigram scorer:
    pair counts, context totals, forward/backward continuation
    fan-outs, the type total, the smoothed probability, and every
    per-doc average — plus KN's defining properties: seen-bigram mass
    per context stays in (0, 1] (the discount reserves backoff mass)
    and the smoothed score never ranks an unseen-heavy doc cheaper than
    the raw conditional model would give it for free."""
    import re

    import duckdb

    rows = duckdb.connect().execute(
        "SELECT doc_id, text FROM read_parquet(?) ORDER BY doc_id",
        [f"{SF_DIR}/documents.parquet"],
    ).fetchall()
    bgs = {}
    for doc_id, text in rows:
        norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower()))
        ws = norm.strip().split(" ")
        if len(ws) >= 2:
            bgs[doc_id] = [(ws[i], ws[i + 1]) for i in range(len(ws) - 1)]
    c2 = collections.Counter(b for prs in bgs.values() for b in prs)
    c1 = collections.Counter()
    n1f = collections.Counter()
    n1b = collections.Counter()
    for (w1, w2), c in c2.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    T = len(c2)
    D = 0.75
    nlq = {
        (w1, w2): int(
            math.floor(
                -math.log2(
                    (max(c2[(w1, w2)] - D, 0.0) + D * n1f[w1] * (n1b[w2] / T))
                    / c1[w1]
                )
                * 10000
                + 0.5
            )
        )
        for (w1, w2) in c2
    }
    got = {
        r.doc_id: r
        for r in QUERIES["text_kneser_ney_logprob"](spark, SF_DIR).collect()
    }
    assert sorted(got) == sorted(bgs)
    for doc_id, prs in bgs.items():
        n = len(prs)
        nl = sum(nlq[b] for b in prs)
        assert got[doc_id].n_bigrams == n
        assert got[doc_id].avg_neg_log2p_kn == _r4(nl / (n * 10000.0)), doc_id
    # discount property: per context, seen-bigram KN mass is in (0, 1]
    mass = collections.defaultdict(float)
    for (w1, w2) in c2:
        mass[w1] += (
            max(c2[(w1, w2)] - D, 0.0) + D * n1f[w1] * (n1b[w2] / T)
        ) / c1[w1]
    assert 0 < min(mass.values()) and max(mass.values()) <= 1.0 + 1e-9


def test_nprobe1_recall_equals_ivfpq_bucket_ceiling(spark):
    """Cross-operator consistency: the multi-probe sweep's recall@3 at
    nprobe=1 and the composed index eval's bucket_ceiling3 are the SAME
    quantity by definition (fraction of exact top-3 neighbors whose home
    bucket is the query's top-1 bucket, floor-quantized the same way) —
    both now derive from the shared _ivf_ranks/_exact_topk helpers, and
    this pin keeps any future divergence loud."""
    sweep = {
        r.nprobe: r
        for r in QUERIES["similarity_ivf_nprobe_sweep"](
            spark, SF_DIR
        ).collect()
    }
    ivfpq = QUERIES["similarity_ivfpq_topk"](spark, SF_DIR).collect()[0]
    assert sweep[1].recall3 == ivfpq.bucket_ceiling3
