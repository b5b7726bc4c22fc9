"""LLM-training-data pipeline operators (SURVEY.md §7.2).

Deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine), similarity search (brute-force top-k, IVF-bucketed ANN),
and text analysis (language-ID, quality scoring, token counting, document
fingerprinting) over the ``documents`` and ``embeddings`` tables.

The in-reference precedents are the cold-start similarity engine
(/root/reference/src/models/cold_start_solutions.py:95-205: pivot → SVD →
cosine → k-means) and basket co-occurrence
(/root/reference/src/features/behavioral_features_engine.py:454-508); the
operators here generalize those patterns to the document/embedding domain.

Cross-engine determinism: every hash is the shared
``first-8-hex-of-md5 → bigint`` construction (bit-identical in Spark and
DuckDB), and cosine similarity is IEEE-sequential ``dot/(‖a‖·‖b‖)`` which
both engines evaluate bit-exactly (verified over all 124,750 sf0.01 pairs).

Scale notes (100 TB):
- Exact/fingerprint dedup: one hash-shuffle on the digest — embarrassingly
  parallel.
- Pairwise ops (Jaccard join, brute-force cosine) are the CORRECTNESS spec;
  the scale path is the banded MinHash-LSH query (candidates only from
  band buckets, never an O(n²) cross join) and the IVF query (search
  restricted to a coarse bucket).
"""

from __future__ import annotations

import math
import re
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import both_directions, h32, r4
from hackatonbigdata_spark.functions.fixpoint import iterate
from hackatonbigdata_spark.functions.materialize import materialize
from hackatonbigdata_spark.registry import register

# ---------------------------------------------------------------------------
# shared text-normalization / hashing helpers (Spark side + DuckDB fragments)

_DUCK_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)
_DUCK_WORDS = f"string_split({_DUCK_NORM}, ' ')"
# distinct word-3-gram shingles per doc (1-indexed lists in DuckDB)
_DUCK_SHINGLES = f"""
w AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       FROM w, unnest(range(1, len(w)-1)) AS u(i))
"""


def _duck_hash(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def _norm_text() -> Column:
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )


def _doc_words(t: Catalog) -> DataFrame:
    """Normalized word arrays per doc.  The documents parquet is a single
    small file → ONE input partition; without a repartition every downstream
    explode/md5 runs in a single task.  Spreading the docs first costs one
    tiny shuffle and parallelizes the hashing across all cores (same fix as
    ``_embeddings``)."""
    n_parts = t.spark.sparkContext.defaultParallelism
    return t.documents.repartition(n_parts, "doc_id").select(
        "doc_id", F.split(_norm_text(), " ").alias("w")
    )


def _doc_shingles(t: Catalog, *, distinct: bool = True) -> DataFrame:
    """Word-3-gram shingles per document (0-indexed arrays).

    ``distinct=True`` is the set semantics Jaccard needs (one shuffle on
    (doc_id, shingle)); pass ``distinct=False`` for duplicate-insensitive
    consumers — MinHash signatures take a per-doc ``min`` which is identical
    over the multiset, so the dedup shuffle would be pure waste."""
    sh = (
        _doc_words(t)
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w)-3),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                )
            ).alias("shingle"),
        )
    )
    return sh.distinct() if distinct else sh


def _dot(a: str, b: str) -> Column:
    """Dot product as a sequential left-to-right fold — the same IEEE
    addition order as DuckDB's ``list_dot_product`` loop, so cosine is
    bit-exact cross-engine (verified over all 124,750 sf0.01 pairs).

    Why not an index fold: the spelling
    (``aggregate(sequence(0, size-1), 0.0, (acc,i) -> acc+a[i]*b[i])``)
    looked 2.8x faster in a synthetic microbench but was 30-70% SLOWER
    across the real registered queries (similarity_topk_cosine 1.87 ->
    2.44 s, embedding_pq_eval 4.80 -> 8.16 s at sf0.1, 3-pass min); on
    the actual parquet-sourced frames the whole 2M-pair scan costs only
    ~0.06 s either way, so the fold flavor is noise and the interpolated
    ``{a}[i]`` re-evaluation of non-attribute args is pure downside.
    Kept as the zip_with fold."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x,y) -> x*y),"
        " cast(0.0 as double), (acc,v) -> acc+v)"
    )


def _embeddings(t: Catalog) -> DataFrame:
    """Embeddings cast to double with a precomputed L2 norm — both engines
    build the identical (emb, nrm) intermediate so cosine is bit-exact.

    The probe side of every pair join is repartitioned: the embeddings
    parquet is one file → one input partition, and without the repartition a
    broadcast-nested-loop pair join runs in a SINGLE task.  Spreading the
    n rows across the cluster makes the O(n²) work embarrassingly parallel
    (each task scans the broadcast build side)."""
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    n_parts = t.spark.sparkContext.defaultParallelism
    return e.repartition(n_parts, "vec_id").withColumn(
        "nrm", F.sqrt(_dot("emb", "emb"))
    )


def _cos_ab() -> Column:
    """Raw (unquantized) cosine between the ``a`` and ``b`` sides of a pair
    join over ``(vec_id, emb, nrm)`` frames."""
    return _dot("a.emb", "b.emb") / (F.col("a.nrm") * F.col("b.nrm"))


def _pair_scan(e: DataFrame, *scores: Column) -> DataFrame:
    """``(id_lo, id_hi, *scores)``: every unordered pair of ``e`` rows
    exactly once, the exact O(n²) scan behind every all-pairs query.

    ``scores`` read the two sides as ``a.*`` and ``b.*``.  The join keeps
    ``a.vec_id < b.vec_id`` with ``b`` broadcast, so the repartitioned
    probe side spreads the work over every core and each pair is scored
    once (``_both_directions`` then emits both orientations; a union of two
    directed scans would run the join and the folds twice).  Callers
    quantize with ``r4`` in the NEXT projection: r4 references its input
    several times, and an interpreted fold inlined into it would be
    evaluated once per reference."""
    a, b = e.alias("a"), e.alias("b")
    return a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("id_lo"), F.col("b.vec_id").alias("id_hi"), *scores
    )


def _both_directions(
    half: DataFrame, *same: str, nb: str = "nb", **directed: tuple[str, str]
) -> DataFrame:
    """``both_directions`` over a ``_pair_scan`` result: each
    ``(id_lo, id_hi, ...)`` row becomes ``(vec_id, <nb>, ...)`` both ways."""
    return both_directions(
        half, "id_lo", "id_hi", *same, names=("vec_id", nb), **directed
    )


def _vec_rank(
    df: DataFrame, name: str, *order: Column | str, k: int | None = None, nb: str = "nb"
) -> DataFrame:
    """Add ``name`` = the BIGINT row_number of each row within its vec_id,
    ordered by ``order`` then the ``nb`` id tie-break; with ``k``, keep
    ranks <= k."""
    w = W.partitionBy("vec_id").orderBy(*order, nb)
    ranked = df.withColumn(name, F.row_number().over(w).cast("long"))
    return ranked if k is None else ranked.filter(F.col(name) <= k)


_DUCK_EMB = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings)
"""


# ---------------------------------------------------------------------------
# dedup family


@register(
    "dedup_exact_docs",
    oracle=f"""
WITH n AS (SELECT doc_id, md5({_DUCK_NORM}) AS text_hash FROM documents)
SELECT text_hash, CAST(min(doc_id) AS BIGINT) AS keep_doc_id, count(*) AS n_copies
FROM n GROUP BY text_hash
""",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: md5 digest → hash-groupBy, keep the
    lowest doc_id (deterministic keep-first, SURVEY §7.4.2).  One shuffle on
    the digest at any scale."""
    t = Catalog(spark, sf_dir)
    return (
        t.documents.select("doc_id", F.md5(_norm_text()).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_DUCK_SHINGLES},
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common,
       round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 4) AS jaccard
FROM pairs
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: word-3-gram shingle sets, candidate pairs from a
    shingle equi-join (docs sharing ≥1 shingle — never a cross join), exact
    Jaccard ≥ 0.5.  The sf0.01 corpus has planted near-dups at J≈0.97-0.99.

    Scale: the shingle join explodes on hot shingles — the production path
    is ``dedup_minhash_lsh`` below; this query is the exact spec."""
    t = Catalog(spark, sf_dir)
    sh = _doc_shingles(t)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jac = F.col("n_common") * F.lit(1.0) / (F.col("sza") + F.col("szb") - F.col("n_common"))
    return (
        pairs.join(F.broadcast(sza), "doc_a")
        .join(F.broadcast(szb), "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", "n_common", r4(jac).alias("jaccard"))
    )


_N_MINHASH = 8  # 4 bands × 2 rows


def _duck_sig() -> str:
    parts = []
    for s in range(_N_MINHASH):
        seeded = _duck_hash(f"'{s}|' || shingle")
        parts.append(f"min({seeded}) AS m{s}")
    mins = ",\n  ".join(parts)
    return f"sig AS (SELECT doc_id,\n  {mins}\n  FROM sh GROUP BY doc_id)"


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_DUCK_SHINGLES},
{_duck_sig()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(({" + ".join(f"CASE WHEN a.m{s} = b.m{s} THEN 1 ELSE 0 END" for s in range(_N_MINHASH))}) / {_N_MINHASH}.0, 4) AS est_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE {" OR ".join(f"(a.m{2 * b} = b.m{2 * b} AND a.m{2 * b + 1} = b.m{2 * b + 1})" for b in range(_N_MINHASH // 2))}
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup candidates: 8 minhashes per doc
    (shingle → 8 seeded shared hashes → min), 4 bands of 2 rows; a pair is a
    candidate iff it collides in ≥1 band; estimated Jaccard = fraction of
    equal minhashes.

    Spark builds candidates the scale-correct way — explode each doc's
    signature into (band, band-key) bucket rows, group them by bucket and
    pair each bucket's members, so work is proportional to colliding pairs,
    not n², and the signature subtree runs once (see
    ``_minhash_candidates``).  The oracle states the same result naively
    (cross-join + band filter), which is fine as a spec at sf0.01."""
    t = Catalog(spark, sf_dir)
    # min() is duplicate-insensitive -> skip the distinct-shingle shuffle
    sh = _doc_shingles(t, distinct=False)
    return _minhash_candidates(sh)


def _minhash_candidates(sh: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs from a (doc_id, shingle) table, shared
    with ``dedup_lsh_calibration`` (which feeds it a checkpointed shingle
    pass it also scores from).

    The buckets are grouped, not self-joined: one aggregate collects each
    (band, band-key) bucket's members, and each member row emits its pairs
    with the later members.  A bucket of c docs yields the same c(c-1)/2
    pairs a bucket self-join would, but the signature subtree (text scan,
    normalization, shingle explode, 8 hashes per shingle) runs once; a
    self-join runs it on both sides (a broadcast side does not reuse the
    other side's exchange).  A pair that collides in several bands is kept
    once."""
    sig = sh.groupBy("doc_id").agg(
        F.array(
            *[
                F.min(h32(F.concat(F.lit(f"{s}|"), F.col("shingle"))))
                for s in range(_N_MINHASH)
            ]
        ).alias("m")
    )
    buckets = sig.select(
        F.struct("doc_id", "m").alias("d"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.concat_ws(
                            "|", F.col("m")[2 * band], F.col("m")[2 * band + 1]
                        ).alias("bkey"),
                    )
                    for band in range(_N_MINHASH // 2)
                ]
            )
        ).alias("bk"),
    )
    members = (
        buckets.groupBy("bk")
        .agg(F.collect_list("d").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = members.select("ds", F.explode("ds").alias("x")).select(
        F.explode(
            F.expr(
                "transform(filter(ds, y -> x.doc_id < y.doc_id), y -> named_struct("
                "'doc_a', x.doc_id, 'doc_b', y.doc_id,"
                " 'n_eq', size(filter(zip_with(x.m, y.m, (p, q) -> p = q), e -> e))))"
            )
        ).alias("p")
    )
    return pairs.select(
        F.col("p.doc_a").alias("doc_a"),
        F.col("p.doc_b").alias("doc_b"),
        r4(F.col("p.n_eq") / float(_N_MINHASH)).alias("est_jaccard"),
    ).dropDuplicates(["doc_a", "doc_b"])


_N_SIMHASH_BITS = 16


@register(
    "dedup_simhash",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents),
h AS (SELECT doc_id, {_duck_hash("word")} AS hw FROM w),
bits AS (SELECT doc_id,
  {", ".join(f"sum(CASE WHEN (hw >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS w{bit}" for bit in range(_N_SIMHASH_BITS))}
  FROM h GROUP BY doc_id),
sg AS (SELECT doc_id,
  CAST({" + ".join(f"CASE WHEN w{bit} > 0 THEN {1 << bit} ELSE 0 END" for bit in range(_N_SIMHASH_BITS))} AS BIGINT) AS simhash
  FROM bits)
SELECT doc_id, simhash,
       count(*) OVER (PARTITION BY simhash) AS n_docs_sharing
FROM sg
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: each word (with multiplicity) votes ±1
    on every bit of its shared hash; the sign vector is the fingerprint.
    Near-dups land on equal (or Hamming-close) simhashes.  One explode + one
    groupBy — linear in corpus size."""
    t = Catalog(spark, sf_dir)
    words = _doc_words(t).select("doc_id", F.explode("w").alias("word"))
    h = words.select("doc_id", h32(F.col("word")).alias("hw"))
    bits = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(hw, {bit}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"w{bit}")
            for bit in range(_N_SIMHASH_BITS)
        ]
    )
    simhash = reduce(
        Column.__add__,
        [
            F.when(F.col(f"w{bit}") > 0, F.lit(1 << bit)).otherwise(0)
            for bit in range(_N_SIMHASH_BITS)
        ],
    ).cast("long")
    sg = bits.select("doc_id", simhash.alias("simhash"))
    return sg.withColumn(
        "n_docs_sharing", F.count(F.lit(1)).over(W.partitionBy("simhash"))
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH {_DUCK_EMB}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cos_sim,
       CAST(least(a.vec_id, b.vec_id) AS BIGINT) AS keep_vec_id
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) >= 0.4
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.4 (this corpus's high tail),
    canonical keep = lower vec_id.  The exact-pairs spec; the ANN scale path
    is ``similarity_ivf_bucketed``."""
    t = Catalog(spark, sf_dir)
    return (
        _pair_scan(_embeddings(t), _cos_ab().alias("_cos_raw"))
        .select(
            F.col("id_lo").alias("vec_a"),
            F.col("id_hi").alias("vec_b"),
            r4("_cos_raw").alias("cos_sim"),
            F.col("id_lo").alias("keep_vec_id"),  # id_lo < id_hi
        )
        .filter(F.col("cos_sim") >= 0.4)
        .select("vec_a", "vec_b", "cos_sim", "keep_vec_id")
    )


# ---------------------------------------------------------------------------
# similarity search


@register(
    "similarity_topk_cosine",
    oracle=f"""
WITH {_DUCK_EMB},
p AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cos_sim
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM p)
SELECT vec_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
""",
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors per vector — the exact ANN
    baseline.  Ties broken by neighbor_id on the 4dp-quantized similarity so
    ranking is engine-independent.

    Scale: O(n²·d) by construction — the correctness oracle for the IVF and
    LSH variants, to be run on samples at 100 TB, never the full corpus.
    The probe side is pre-partitioned (see ``_embeddings``) and the build
    side broadcast, so the pair scan parallelizes across all cores."""
    t = Catalog(spark, sf_dir)
    # Cosine is symmetric and the zip_with products commute elementwise, so
    # both directions of a pair carry the identical double.
    half = _pair_scan(_embeddings(t), _cos_ab().alias("_cos_raw")).select(
        "id_lo", "id_hi", r4("_cos_raw").alias("cos_sim")
    )
    pairs = _both_directions(half, "cos_sim", nb="neighbor_id")
    return _vec_rank(pairs, "rank", F.col("cos_sim").desc(), k=5, nb="neighbor_id")


_N_IVF_CENTROIDS = 8


@register(
    "similarity_ivf_bucketed",
    oracle=f"""
WITH {_DUCK_EMB},
c AS (SELECT vec_id AS centroid_id, emb, nrm FROM e WHERE vec_id < {_N_IVF_CENTROIDS}),
assign0 AS (
  SELECT e.vec_id, c.centroid_id,
         round(list_dot_product(e.emb, c.emb) / (e.nrm * c.nrm), 4) AS ccos,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_dot_product(e.emb, c.emb) / (e.nrm * c.nrm), 4) DESC,
                                     c.centroid_id) AS rn
  FROM e, c),
buckets AS (SELECT vec_id, centroid_id AS bucket_id FROM assign0 WHERE rn = 1),
p AS (
  SELECT ba.vec_id, ba.bucket_id, bb.vec_id AS neighbor_id,
         round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cos_sim
  FROM buckets ba
  JOIN buckets bb ON ba.bucket_id = bb.bucket_id AND ba.vec_id <> bb.vec_id
  JOIN e a ON a.vec_id = ba.vec_id
  JOIN e b ON b.vec_id = bb.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM p)
SELECT vec_id, bucket_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 3
""",
)
def similarity_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of 8 coarse
    centroids (deterministically the vectors with vec_id < 8), then search
    top-3 neighbors only within the bucket.

    Scale: candidate set shrinks from n to n/n_buckets per query — the
    centroid table broadcasts, and the in-bucket search is ``_bucket_topk``.
    At 100 TB the centroids come from MLlib KMeans instead; the plumbing
    is identical."""
    e = _embeddings(Catalog(spark, sf_dir))
    return _bucket_topk(e.join(_ivf_buckets(e), "vec_id"), 3)


def _bucket_topk(ea: DataFrame, k: int) -> DataFrame:
    """Top-k cosine neighbors searched only within each vector's bucket.
    ``ea`` carries (vec_id, emb, nrm, bucket_id); candidate work is
    n·(bucket size) instead of n² — the IVF search step shared by the
    deterministic and KMeans-centroid variants.

    Join strategy: the bucket equi-join has only n_buckets distinct keys,
    so a shuffled join caps at n_buckets tasks whatever the cluster width;
    repartition the query side on vec_id (explicit partition counts are
    exempt from AQE coalescing) and BROADCAST the coded side so the cosine
    scan runs at full parallelism and the downstream vec_id window reuses
    the same partitioning (no extra exchange).  Measured 2.5x on the
    in-bucket scan+rank at sf0.1 against the shuffled join."""
    a = ea.repartition(
        ea.sparkSession.sparkContext.defaultParallelism, "vec_id"
    ).alias("a")
    b = ea.alias("b")
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("a.bucket_id") == F.col("b.bucket_id"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("a.bucket_id").alias("bucket_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            _cos_ab().alias("_cos_raw"),
        )
        .select("vec_id", "bucket_id", "neighbor_id", r4("_cos_raw").alias("cos_sim"))
    )
    return _vec_rank(pairs, "rank", F.col("cos_sim").desc(), k=k, nb="neighbor_id")


# Kept beside its oracled twin similarity_ivf_bucketed, whose fixed
# centroids recall less: top-3 recall against the exact scan 1.00 vs 0.83
# on the clustered test corpus, 0.42 vs 0.28 at sf0.01.
@register("similarity_ivf_kmeans")
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with LEARNED coarse centroids: MLlib KMeans(k=8) clusters the
    embeddings, each vector searches top-3 neighbors only inside its
    cluster — the learned-centroid step of the reference cold-start engine
    (/root/reference/src/models/cold_start_solutions.py:109-205: pivot →
    SVD → cosine → KMeans(20)), replacing ``similarity_ivf_bucketed``'s
    deterministic placeholder buckets.  Rows-only: KMeans centroids are
    model-internal (seeded for reproducibility); tests pin recall ≥ 0.8
    against the exact ``similarity_topk_cosine`` baseline.

    Scale: fit on a bounded sample (MLlib KMeans is iterative scans of the
    input — at 100 TB fit on ~1M sampled rows, broadcast the 8×d centroid
    matrix in the model), then one narrow transform assigns buckets and the
    search is a bucket-keyed shuffle join, never all-pairs."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    t = Catalog(spark, sf_dir)
    e = _embeddings(t)
    vecs = e.withColumn("v", array_to_vector("emb"))
    km = KMeans(k=_N_IVF_CENTROIDS, seed=42, maxIter=20, featuresCol="v",
                predictionCol="bucket_id")
    model = km.fit(vecs)
    ea = model.transform(vecs).select("vec_id", "emb", "nrm", "bucket_id")
    return _bucket_topk(ea, 3)


# No value-verified version: the basis is a driver-side eigendecomposition
# of the 64x64 covariance, whose signs and last bits no SQL engine
# reproduces.
@register("similarity_pca_cosine")
def similarity_pca_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality-reduced similarity: MLlib PCA projects the 64-dim
    embeddings to 16 components, then brute-force cosine top-5 runs in the
    reduced space — the SVD-reduction step of the reference cold-start
    engine (/root/reference/src/models/cold_start_solutions.py:95-130,
    TruncatedSVD(n_components=50) before cosine).  Rows-only: the PCA basis
    is model-internal; tests pin recall against the full-dim exact top-5.

    Scale: PCA's covariance step is one distributed grammian (64×64 driver
    eigendecomposition — constant-size regardless of row count); the
    projection is a narrow map.  The 4× dim cut reduces every downstream
    pair-scan FLOP and shuffle byte by the same factor; at 100 TB the
    reduced vectors feed the IVF/LSH bucketed searches, with the pairwise
    scan here as the on-sample correctness oracle."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    t = Catalog(spark, sf_dir)
    e = _embeddings(t)
    vecs = e.withColumn("v", array_to_vector("emb"))
    pca = PCA(k=16, inputCol="v", outputCol="pv")
    model = pca.fit(vecs)
    red = (
        model.transform(vecs)
        .select("vec_id", vector_to_array("pv").alias("emb"))
        .withColumn("nrm", F.sqrt(_dot("emb", "emb")))
    )
    half = _pair_scan(red, _cos_ab().alias("_cos_raw")).select(
        "id_lo", "id_hi", r4("_cos_raw").alias("cos_sim")
    )
    pairs = _both_directions(half, "cos_sim", nb="neighbor_id")
    return _vec_rank(pairs, "rank", F.col("cos_sim").desc(), k=5, nb="neighbor_id")


# ---------------------------------------------------------------------------
# text analysis

_STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "it", "for", "on")


@register(
    "text_lang_id",
    oracle=f"""
WITH w AS (SELECT doc_id, lang AS lang_actual, unnest({_DUCK_WORDS}) AS word
           FROM documents),
s AS (SELECT doc_id, lang_actual, count(*) AS n_tokens,
             CAST(sum(CASE WHEN word IN {_STOPWORDS} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stopwords
      FROM w GROUP BY 1, 2)
SELECT doc_id, lang_actual, n_tokens, n_stopwords,
       round(n_stopwords * 1.0 / n_tokens, 4) AS stop_ratio,
       CASE WHEN n_stopwords * 1.0 / n_tokens >= 0.01 THEN 'en'
            ELSE 'unknown' END AS lang_pred
FROM s
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: share of tokens that are English function
    words; ≥1% → 'en'.  A real system swaps the wordlist for per-language
    n-gram profiles — the dataflow (explode → conditional agg) is the same."""
    t = Catalog(spark, sf_dir)
    w = t.documents.select(
        "doc_id", F.col("lang").alias("lang_actual"), F.explode(F.split(_norm_text(), " ")).alias("word")
    )
    s = w.groupBy("doc_id", "lang_actual").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("word").isin(*_STOPWORDS), 1).otherwise(0))
        .cast("long")
        .alias("n_stopwords"),
    )
    ratio = F.col("n_stopwords") * F.lit(1.0) / F.col("n_tokens")
    return s.select(
        "doc_id",
        "lang_actual",
        "n_tokens",
        "n_stopwords",
        r4(ratio).alias("stop_ratio"),
        F.when(ratio >= 0.01, "en").otherwise("unknown").alias("lang_pred"),
    )


@register(
    "text_quality_score",
    oracle=f"""
WITH w AS (SELECT doc_id, length(text) AS n_chars_actual, {_DUCK_WORDS} AS w
           FROM documents),
s AS (SELECT doc_id, n_chars_actual,
             CAST(len(w) AS BIGINT) AS n_tokens,
             round(length(array_to_string(w, '')) * 1.0 / len(w), 4) AS avg_token_len
      FROM w)
SELECT doc_id, n_chars_actual, n_tokens, avg_token_len,
       round(least(n_tokens / 100.0, 1.0) * 0.6
             + least(n_chars_actual / 500.0, 1.0) * 0.4, 4) AS quality_score,
       CASE WHEN least(n_tokens / 100.0, 1.0) * 0.6
                 + least(n_chars_actual / 500.0, 1.0) * 0.4 >= 0.8 THEN 'high'
            WHEN least(n_tokens / 100.0, 1.0) * 0.6
                 + least(n_chars_actual / 500.0, 1.0) * 0.4 >= 0.5 THEN 'medium'
            ELSE 'low' END AS quality_band
FROM s
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from length/token signals, banded
    high/medium/low — the LLM-pipeline filter stage (quality thresholds and
    band shape mirror the reference's KPI banding pattern,
    /root/reference/src/validation/kpi_system.py:43-330)."""
    t = Catalog(spark, sf_dir)
    w = t.documents.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.split(_norm_text(), " ").alias("w"),
    )
    s = w.select(
        "doc_id",
        "n_chars_actual",
        F.size("w").cast("long").alias("n_tokens"),
        r4(
            F.length(F.array_join("w", "")) * F.lit(1.0) / F.size("w")
        ).alias("avg_token_len"),
    )
    score = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.6
        + F.least(F.col("n_chars_actual") / 500.0, F.lit(1.0)) * 0.4
    )
    return s.select(
        "doc_id",
        "n_chars_actual",
        "n_tokens",
        "avg_token_len",
        r4(score).alias("quality_score"),
        F.when(score >= 0.8, "high")
        .when(score >= 0.5, "medium")
        .otherwise("low")
        .alias("quality_band"),
    )


@register(
    "text_token_count",
    oracle=r"""
WITH c AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT)
           AS n_bpe_tokens
  FROM documents)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(sum(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       round(sum(n_bpe_tokens) * 1.0 / count(*), 4) AS avg_bpe_per_doc
FROM c GROUP BY source
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways — whitespace split and a BPE-ish regex
    (alnum runs or single non-space symbols) — aggregated per source.  The
    budget/accounting query every training-data pipeline runs first."""
    t = Catalog(spark, sf_dir)
    c = t.documents.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]', 0)"))
        .cast("long")
        .alias("n_bpe_tokens"),
    )
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws_tokens").alias("total_ws_tokens"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        r4(F.sum("n_bpe_tokens") * F.lit(1.0) / F.count(F.lit(1))).alias(
            "avg_bpe_per_doc"
        ),
    )


@register(
    "text_fingerprint",
    oracle=f"""
WITH {_DUCK_SHINGLES},
fp AS (SELECT doc_id, min(md5(shingle)) AS fingerprint, count(*) AS n_shingles
       FROM sh GROUP BY doc_id)
SELECT doc_id, fingerprint, n_shingles,
       count(*) OVER (PARTITION BY fingerprint) AS n_docs_sharing
FROM fp
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-lite document fingerprint: the minimum shingle digest per
    document (min-of-hashes ≙ a 1-hash MinHash).  Docs sharing a fingerprint
    are near-dup candidates at zero join cost — the cheapest dedup
    pre-filter at scale."""
    t = Catalog(spark, sf_dir)
    fp = _doc_shingles(t).groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_shingles"),
    )
    return fp.withColumn(
        "n_docs_sharing", F.count(F.lit(1)).over(W.partitionBy("fingerprint"))
    )


@register(
    "text_tfidf_topterms",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM w WHERE term <> '' GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         floor(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) * 10000 + 0.5) / 10000
           AS tfidf
  FROM tf JOIN df ON tf.term = df.term, n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: smoothed idf
    ln((N+1)/(df+1)) + 1 (sklearn's smooth_idf convention) over the shared
    normalized tokenization — the distributed term-weighting pass an LLM
    data pipeline runs for keyword extraction / quality filtering (extends
    the reference's text scope, SURVEY §2 LLM-ops block; tokenization
    matches text_token_count).

    Scale: explode -> two keyed aggregates (term frequency per doc, doc
    frequency per term) -> term-keyed join + scalar broadcast; ranking is
    per-doc (partitioned window + WindowGroupLimit).  Ranks on the
    quantized score with a term tie-break so ordering is engine-independent."""
    t = Catalog(spark, sf_dir)
    w = _doc_words(t).select("doc_id", F.explode("w").alias("term")).filter(
        F.col("term") != ""
    )
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("_tfidf_raw"),
        )
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.floor(F.col("_tfidf_raw") * 10000 + F.lit(0.5)) / 10000.0).alias("tfidf"),
        )
    )
    rw = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(rw).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# Connected components over the candidate-edge set as a recursive CTE: each
# doc's component id is the minimum doc id it can reach.
_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_DUCK_SHINGLES},
{_duck_sig()},
cand AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         ({" + ".join(f"CASE WHEN a.m{s} = b.m{s} THEN 1 ELSE 0 END" for s in range(_N_MINHASH))}) / {_N_MINHASH}.0 AS est_j
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {" OR ".join(f"(a.m{2 * b} = b.m{2 * b} AND a.m{2 * b + 1} = b.m{2 * b + 1})" for b in range(_N_MINHASH // 2))}
),
edges AS (
  SELECT da, db FROM cand WHERE est_j >= 0.5
  UNION ALL
  SELECT db, da FROM cand WHERE est_j >= 0.5
),
verts AS (SELECT DISTINCT da AS doc_id FROM edges),
reach(doc_id, lab) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT e.da, r.lab FROM reach r JOIN edges e ON e.db = r.doc_id
),
comp AS (SELECT doc_id, min(lab) AS component_id FROM reach GROUP BY doc_id)
SELECT c.doc_id, CAST(c.component_id AS BIGINT) AS component_id,
       CAST(s.n_docs AS BIGINT) AS component_size,
       CASE WHEN c.doc_id = c.component_id THEN 1 ELSE 0 END AS is_canonical
FROM comp c
JOIN (SELECT component_id, count(*) AS n_docs FROM comp GROUP BY component_id) s
  ON c.component_id = s.component_id
"""


# min-label propagation rounds (= dup-graph diameter) before failing loudly
_COMPONENTS_MAX_ROUNDS = 20


def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed dup-graph edges ``(da, db)``: both orientations of every
    MinHash-LSH candidate pair with estimated Jaccard ≥ 0.5.

    The dup graph is orders of magnitude smaller than the corpus (only
    docs with a candidate edge), so it is re-keyed onto a handful of
    partitions: otherwise every propagation round inherits the candidate
    shuffle's layout and pays near-empty tasks of scheduling overhead per
    stage.  At a scale where the dup graph is itself large, raise the
    count — partitions should track |edges|, not the corpus layout."""
    cand = dedup_minhash_lsh(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    half = cand.select(F.col("doc_a").alias("da"), F.col("doc_b").alias("db"))
    return both_directions(half, "da", "db").repartition(8, "db")


@register("dedup_cluster_components", oracle=_COMPONENTS_ORACLE)
@register("dedup_cluster_largestar", oracle=_COMPONENTS_ORACLE)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the MinHash-LSH dup
    graph (candidate pairs with estimated Jaccard ≥ 0.5), canonical doc =
    minimum doc_id in the component — turning pairwise dup hits into
    keep/drop groups, the step an LLM dedup pipeline runs after candidate
    generation.

    Iterative min-label propagation to a FIXPOINT: each round sends every
    label across the edges and folds messages with the self-label in ONE
    keyed min-aggregate (join → union → groupBy.min — no second join back).
    Labels are SEEDED with min(self, min(neighbor)) — the first propagation
    round folded into initialization — so shallow dup clusters converge
    with fewer joins.  ``iterate`` checkpoints every round and stops when
    the (exact, integer) sum of labels is unchanged: labels only ever
    decrease, so an unchanged sum is the fixpoint, and the sum rides the
    checkpoint job itself.  The oracle states the same fixpoint as a
    recursive CTE.

    ``dedup_cluster_largestar`` is this same query: min-label propagation
    measured faster than large-star/small-star (Kiveris et al.) on the
    shallow dup graphs of the test data, so one algorithm serves both
    names.  Scale:
    rounds = graph diameter (dup clusters are shallow), capped at
    ``_COMPONENTS_MAX_ROUNDS`` with a loud failure past it; each round is
    one keyed join + one keyed agg, lineage kept O(1) by the per-round
    ``materialize``."""
    edges = materialize(_dup_edges(spark, sf_dir))
    seed = edges.groupBy("da").agg(F.min("db").alias("_mn")).select(
        F.col("da").alias("doc_id"),
        F.least(F.col("da"), F.col("_mn")).alias("component_id"),
    )

    def min_label_propagation(labels: DataFrame) -> DataFrame:
        prop = edges.join(labels, edges.db == labels.doc_id).select(
            F.col("da").alias("doc_id"), "component_id"
        )
        return (
            prop.unionByName(labels.select("doc_id", "component_id"))
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id"))
        )

    labels = iterate(
        seed, min_label_propagation, F.sum("component_id"), _COMPONENTS_MAX_ROUNDS
    )[-1]
    sizes = labels.groupBy("component_id").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        labels.join(F.broadcast(sizes), "component_id")
        .select(
            "doc_id",
            "component_id",
            "component_size",
            F.when(F.col("doc_id") == F.col("component_id"), 1).otherwise(0).alias(
                "is_canonical"
            ),
        )
    )


@register(
    "dedup_fuzzy_names",
    oracle="""
WITH p AS (SELECT p_partkey, p_brand, trim(p_name) AS name FROM part)
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b, a.p_brand,
       a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_distance
FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.name, b.name) <= 5
""",
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string dedup: near-identical part names (edit distance ≤ 5)
    within a brand — the catalog-entity-resolution flavor of near-dup
    detection (complements the document-level MinHash/SimHash family;
    ``levenshtein`` has identical unit-cost semantics in both engines).

    Scale: the pair space is BLOCKED on the brand key before any distance
    is computed (the standard entity-resolution blocking pattern) — an
    equi-join on p_brand, never an all-pairs scan; O(block²) work per
    brand.  Finer blocking (first token, length band) drops in the same
    way when blocks grow."""
    t = Catalog(spark, sf_dir)
    p = t.part.select("p_partkey", "p_brand", F.trim("p_name").alias("name"))
    a = p.select(
        F.col("p_partkey").alias("part_a"), "p_brand", F.col("name").alias("name_a")
    )
    b = p.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_brand").alias("_brand_b"),
        F.col("name").alias("name_b"),
    )
    return (
        a.join(b, (F.col("p_brand") == F.col("_brand_b")) & (F.col("part_a") < F.col("part_b")))
        .withColumn("edit_distance", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_distance") <= 5)
        .select("part_a", "part_b", "p_brand", "name_a", "name_b", "edit_distance")
    )


@register(
    "text_scrub_numbers",
    oracle="""
SELECT doc_id,
       CAST(length(regexp_replace(text, '[0-9]+', '', 'g')) AS BIGINT)
         AS n_chars_no_digits,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_runs,
       md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS scrubbed_hash
FROM documents
""",
)
def text_scrub_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text scrubbing transform: mask digit runs with a placeholder token —
    the shape of PII/number normalization passes an LLM data pipeline runs
    before tokenization (the reference's text handling stops at cleaning,
    src/data/clean_data.py:190-256; this is the engine extension).  The
    scrubbed text is emitted as an md5 so the oracle compares content
    without hauling full documents through the hash gate.

    Scale: pure rowwise regex, JVM-side, no shuffle."""
    t = Catalog(spark, sf_dir)
    scrubbed = F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>")
    return t.documents.select(
        "doc_id",
        F.length(F.regexp_replace(F.col("text"), "[0-9]+", "")).cast("long").alias(
            "n_chars_no_digits"
        ),
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").alias(
            "n_number_runs"
        ),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline infrastructure: splits, contamination, quantization,
# sequence packing


@register(
    "sample_stratified_split",
    oracle="""
SELECT doc_id, lang,
       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
            AS BIGINT) AS split_bucket,
       CASE
         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
           THEN 'train'
         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
           THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
""",
)
def sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment (80/10/10): the
    split a 100 TB pipeline must use instead of ``rand()`` — stable across
    reruns, engines, and partitionings, so no document ever migrates
    between splits when data is re-processed.  Uses the shared
    first-8-hex-of-md5 bucket construction (bit-identical in Spark and
    DuckDB).

    Scale: pure rowwise hashing, no shuffle, no state; stratification
    reporting is one keyed agg downstream of this assignment."""
    t = Catalog(spark, sf_dir)
    bucket = (h32(F.col("doc_id").cast("string")) % 100).alias("split_bucket")
    return t.documents.select(
        "doc_id",
        "lang",
        bucket,
        F.when(F.col("split_bucket") < 80, "train")
        .when(F.col("split_bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
    ).select("doc_id", "lang", "split_bucket", "split")


@register(
    "contamination_ngram_overlap",
    oracle=f"""
WITH {_DUCK_SHINGLES},
bench AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 = 0),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM corpus GROUP BY doc_id),
ov AS (
  SELECT c.doc_id, b.doc_id AS bench_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM corpus c JOIN bench b ON c.shingle = b.shingle
  GROUP BY c.doc_id, b.doc_id
)
SELECT o.doc_id, o.bench_id, o.n_shared,
       round(o.n_shared * 1.0 / s.n_shingles, 4) AS overlap_ratio
FROM ov o JOIN sizes s ON o.doc_id = s.doc_id
WHERE o.n_shared >= 5
""",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: corpus documents sharing ≥5
    word-3-gram shingles with any held-out benchmark document (here the
    deterministic 2% slice doc_id % 50 = 0), with the shingle-overlap ratio
    — the decontamination screen every LLM training corpus needs before a
    benchmark is trusted.

    Scale: one equi-join keyed on the shingle — the benchmark side is tiny
    by construction, so it broadcasts; never an all-pairs document
    comparison.  The shingle explode is the same shuffle the dedup family
    already pays, shareable in a combined pipeline."""
    t = Catalog(spark, sf_dir)
    sh = _doc_shingles(t)
    bench = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    corpus = sh.filter(F.col("doc_id") % 50 != 0)
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    ov = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )
    return ov.join(sizes, "doc_id").select(
        "doc_id",
        "bench_id",
        "n_shared",
        r4(F.col("n_shared") * F.lit(1.0) / F.col("n_shingles")).alias("overlap_ratio"),
    )


@register(
    "corpus_novelty_curve",
    oracle=f"""
WITH {_DUCK_SHINGLES},
fo AS (SELECT shingle, CAST(min(doc_id) AS BIGINT) AS first_doc
       FROM sh GROUP BY shingle),
d AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM sh s JOIN fo f ON s.shingle = f.shingle
  GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, n_novel,
       round(n_novel * 1.0 / n_shingles, 4) AS novelty_rate
FROM d
""",
)
def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty under ingestion order (doc_id as the
    arrival sequence): the fraction of a document's distinct word-3-gram
    shingles whose FIRST corpus occurrence is that document.  This is the
    marginal-information curve behind every "when does more data stop
    helping" plot — dedup policies (keep-first) and the Heaps-law
    ``corpus_vocab_growth`` query are its two projections, and a document
    with novelty_rate 0 is exactly one the keep-first chunk/shingle dedup
    would drop as all-seen.

    Cross-engine exactness: min(doc_id) per shingle and BIGINT counts
    only; the single ratio is one IEEE division of identical integers.

    Scale: one aggregate on the shingle key (the same shuffle the dedup
    family pays — shareable), one shingle-keyed join back, one doc-keyed
    aggregate.  Nothing all-pairs, nothing collected."""
    t = Catalog(spark, sf_dir)
    sh = _doc_shingles(t)
    fo = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    d = (
        sh.join(fo, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return d.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        r4(F.col("n_novel") * F.lit(1.0) / F.col("n_shingles")).alias("novelty_rate"),
    )


@register(
    "text_winnowing_stats",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
sh AS (
  SELECT doc_id, i - 1 AS pos,
         {_duck_hash("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS h
  FROM w, unnest(range(1, len(w) - 1)) AS u(i)
  WHERE len(w) >= 3
),
k AS (
  SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS key,
         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_kgrams
  FROM sh
),
m AS (
  SELECT doc_id, n_kgrams, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey
  FROM k
),
sel AS (
  SELECT DISTINCT doc_id, n_kgrams, 1048575 - (selkey % 1048576) AS selpos
  FROM m WHERE pos <= n_kgrams - 4
)
SELECT doc_id, n_kgrams,
       CAST(n_kgrams - 3 AS BIGINT) AS n_windows,
       CAST(count(*) AS BIGINT) AS n_selected,
       round(count(*) * 1.0 / (n_kgrams - 3), 4) AS density
FROM sel GROUP BY doc_id, n_kgrams
""",
)
def text_winnowing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken 2003, "Winnowing: Local Algorithms for Document
    Fingerprinting"): hash every positioned word-3-gram, slide a w=4
    window over the hash sequence, and select each window's minimum
    (rightmost on ties — the robust variant).  Emits per-document
    fingerprint counts and selection density; the guarantee is that any
    shared run of >= w+k-1 = 6 words between two documents shares a
    selected fingerprint, at an expected density of 2/(w+1).  Documents
    with fewer than w k-grams have no full window and are absent, as in
    the paper.

    Cross-engine exactness: the (hash, rightmost-position) argmin is ONE
    BIGINT min — key = h32(shingle) * 2^20 + (2^20-1 - pos) orders by
    hash then by DESCENDING position, so min(key) IS the robust-winnowing
    choice; both engines take the same window min over the same integers
    (positions < 2^20 per document by contract; h32 < 2^32 keeps the key
    under 2^52).

    Scale: one narrow projection (no shuffle for the hash), one
    partitioned window per doc_id, one distinct and one keyed aggregate —
    all doc-keyed, no cross-document traffic at all."""
    t = Catalog(spark, sf_dir)
    sh = (
        _doc_words(t)
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(w)-3),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                )
            ).alias("pos", "shingle"),
        )
    )
    k = sh.select(
        "doc_id",
        "pos",
        (h32(F.col("shingle")) * F.lit(1048576) + (F.lit(1048575) - F.col("pos"))).alias(
            "key"
        ),
    ).withColumn(
        "n_kgrams",
        F.count(F.lit(1)).over(W.partitionBy("doc_id")),
    )
    frame = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    m = k.withColumn("selkey", F.min("key").over(frame))
    sel = (
        m.filter(F.col("pos") <= F.col("n_kgrams") - 4)
        .select(
            "doc_id",
            "n_kgrams",
            (F.lit(1048575) - F.col("selkey") % F.lit(1048576)).alias("selpos"),
        )
        .distinct()
    )
    agg = sel.groupBy("doc_id", "n_kgrams").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected")
    )
    return agg.select(
        "doc_id",
        "n_kgrams",
        (F.col("n_kgrams") - 3).cast("long").alias("n_windows"),
        "n_selected",
        r4(F.col("n_selected") * F.lit(1.0) / (F.col("n_kgrams") - 3)).alias("density"),
    )


@register(
    "corpus_cross_source_overlap",
    oracle=f"""
WITH {_DUCK_SHINGLES},
ss AS (SELECT DISTINCT d.source, s.shingle
       FROM sh s JOIN documents d ON s.doc_id = d.doc_id),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_shingles
          FROM ss GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, p.n_shared,
       round(p.n_shared * 1.0
             / least(sa.n_shingles, sb.n_shingles), 4) AS containment,
       round(p.n_shared * 1.0
             / (sa.n_shingles + sb.n_shingles - p.n_shared), 4) AS jaccard
FROM pairs p
JOIN sizes sa ON p.source_a = sa.source
JOIN sizes sb ON p.source_b = sb.source
""",
)
def corpus_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source leakage matrix: for every unordered pair of sources,
    the number of distinct word-3-gram shingles present in BOTH, with set
    containment (shared / smaller vocabulary) and Jaccard — the view a
    curation team checks before treating one source as a held-out split of
    another (the source-PAIR generalization of the per-doc
    ``contamination_ngram_overlap`` screen).  Pairs sharing zero shingles
    are absent by inner-join semantics.

    Cross-engine exactness: all counts are BIGINTs over the same distinct
    (source, shingle) set; the two ratios are single IEEE divisions of
    identical integers, rounded to 4 places on both engines.

    Scale: the corpus collapses to the distinct (source, shingle) table
    before any pairing — vocabulary-scale, not document-scale.  Instead of
    a shingle-keyed self-join (which would recompute that table twice),
    one aggregate collects each shingle's source set — bounded by the
    source-dimension cardinality — and a higher-order function expands its
    sorted combinations, at most C(#sources, 2) pair rows per shingle,
    never all-pairs over documents.  The 20-row size table broadcasts."""
    t = Catalog(spark, sf_dir)
    ss = (
        _doc_shingles(t)
        .join(t.documents.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    per_sh = ss.groupBy("shingle").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pairs = (
        per_sh.filter(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) ->"
                    " transform(slice(srcs, i + 2, size(srcs)),"
                    " y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n_shingles").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n_shingles").alias("n_b")))
    return (
        pairs.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            r4(F.col("n_shared") * F.lit(1.0) / F.least("n_a", "n_b")).alias(
                "containment"
            ),
            r4(
                F.col("n_shared")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


@register(
    "embedding_quantize_int8",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         CAST(list_min(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS mn,
         CAST(list_max(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS mx
  FROM embeddings
), s AS (
  -- greatest(.., 1e-12) guards the degenerate constant-vector case: scale 0
  -- would turn the error columns into NaN/Inf; with the epsilon the codes
  -- round to 0 and reconstruction error is exactly 0
  SELECT vec_id, emb, mn, mx, greatest((mx - mn) / 255.0, 1e-12) AS scale FROM e
), err AS (
  SELECT vec_id, round(mn, 4) AS mn, round(mx, 4) AS mx, round(scale, 4) AS scale,
         list_transform(emb, x -> abs(x - (mn + round((x - mn) / scale) * scale)))
           AS errs
  FROM s
)
SELECT vec_id, mn, mx, scale,
       round(list_aggregate(errs, 'max'), 4) AS max_abs_err,
       round(list_aggregate(errs, 'sum') / len(errs), 4) AS mean_abs_err
FROM err
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (per-vector affine min/max scale) with
    reconstruction-error accounting — the 4× storage/bandwidth cut applied
    before embeddings feed ANN indexes at corpus scale.  Emits per-vector
    scale parameters and max/mean absolute dequantization error; the
    quantized codes themselves are ``round((x - mn) / scale)``, recomputed
    here only for the error check.

    Scale: pure rowwise array math (JVM higher-order functions, no Python,
    no shuffle); quantization parameters ride with each row so the
    transform is embarrassingly parallel and re-entrant."""
    t = Catalog(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).select(
        "vec_id",
        "emb",
        F.array_min("emb").alias("mn"),
        F.array_max("emb").alias("mx"),
    )
    # greatest(.., 1e-12): a constant vector has mx = mn, and a 0 scale
    # would divide to NaN/Inf in the error audit; the epsilon makes the
    # codes 0 and the reconstruction error exactly 0 (oracle mirrors this)
    s = e.withColumn(
        "scale",
        F.greatest((F.col("mx") - F.col("mn")) / F.lit(255.0), F.lit(1e-12)),
    )
    errs = F.expr(
        "transform(emb, x -> abs(x - (mn + round((x - mn) / scale) * scale)))"
    )
    return s.select(
        "vec_id",
        r4("mn").alias("mn"),
        r4("mx").alias("mx"),
        r4("scale").alias("scale"),
        r4(F.array_max(errs)).alias("max_abs_err"),
        r4(
            F.expr(
                "aggregate(transform(emb, x -> abs(x - (mn + round((x - mn) / scale)"
                " * scale))), cast(0.0 as double), (acc, v) -> acc + v)"
            )
            / F.size("emb")
        ).alias("mean_abs_err"),
    )


@register(
    "seqpack_greedy_bins",
    oracle=r"""
WITH tok AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
              AS BIGINT) AS shard,
         CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT)
           AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM tok
)
SELECT doc_id, shard, n_tokens, start_offset,
       CAST(floor(start_offset / 4096.0) AS BIGINT) AS bin_id
FROM packed
""",
)
def seqpack_greedy_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches: documents are hashed into
    8 shards, concatenated in stable (doc_id) order, and cut into 4096-token
    context windows — each doc's bin is the window its first token lands in
    (GPT-style packed sequences; straddling docs are split at the boundary
    by the downstream tokenizer writer).

    Scale: packing is per-shard, so there is NO global sort — each shard is
    one independent ordered window, shard count scales with the cluster,
    and the stable hash keeps assignment deterministic across reruns.  The
    running offset is the one window computation; everything else is
    rowwise."""
    t = Catalog(spark, sf_dir)
    tok = t.documents.select(
        "doc_id",
        (h32(F.col("doc_id").cast("string")) % 8).alias("shard"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]', 0)"))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = tok.withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return packed.withColumn(
        "bin_id", F.floor(F.col("start_offset") / F.lit(4096.0)).cast("long")
    )


@register(
    "text_repetition_ratio",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM w, unnest(range(1, len(w)-1)) AS u(i)
      WHERE len(w) >= 3),
s AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct
      FROM g GROUP BY doc_id)
SELECT doc_id, n_shingles, n_distinct,
       round(1.0 - n_distinct * 1.0 / n_shingles, 4) AS repetition_ratio,
       CASE WHEN 1.0 - n_distinct * 1.0 / n_shingles > 0.2 THEN 1 ELSE 0 END
         AS is_repetitive
FROM s
""",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter: the fraction of word-3-grams that
    are duplicates of an earlier 3-gram in the same document — the
    Gopher-style quality rule that catches boilerplate, keyword stuffing,
    and generation loops before they reach a training mix.  Exact integer
    count ratio, so cross-engine determinism is free.

    Scale: one explode + one keyed agg on (doc_id); no cross-document
    state, embarrassingly parallel."""
    t = Catalog(spark, sf_dir)
    g = _doc_shingles(t, distinct=False)
    s = g.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct"),
    )
    rep = F.lit(1.0) - F.col("n_distinct") * F.lit(1.0) / F.col("n_shingles")
    return s.select(
        "doc_id",
        "n_shingles",
        "n_distinct",
        r4(rep).alias("repetition_ratio"),
        F.when(rep > 0.2, 1).otherwise(0).alias("is_repetitive"),
    )


def _unigram_nl_scores(t: Catalog) -> DataFrame:
    """Per-document corpus-unigram LM sufficient statistics: (doc_id,
    n_tokens, nl_sum) where nl_sum is the BIGINT sum of each token's
    −log2 p quantized to the 1e4 integer grid — the first-order sibling
    of ``_bigram_nl_scores``, shared by ``text_unigram_logprob`` and
    ``corpus_doremi_weights``."""
    words = (
        _doc_words(t)
        .select("doc_id", F.explode("w").alias("word"))
        .filter(F.col("word") != "")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    cf = words.groupBy("word").agg(F.count(F.lit(1)).alias("cf"))
    n = words.agg(F.count(F.lit(1)).alias("total"))
    q = (
        tf.join(cf, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tf",
            F.floor(
                -F.log2(F.col("cf") * F.lit(1.0) / F.col("total")) * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("nlq"),
        )
    )
    return q.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("nlq")).alias("nl_sum"),
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents),
t AS (SELECT doc_id, word FROM w WHERE word <> ''),
tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, word),
cf AS (SELECT word, CAST(count(*) AS BIGINT) AS cf FROM t GROUP BY word),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t),
q AS (
  SELECT tf.doc_id, tf.tf,
         CAST(floor(-log2(cf.cf * 1.0 / n.total) * 10000 + 0.5) AS BIGINT) AS nlq
  FROM tf JOIN cf ON tf.word = cf.word CROSS JOIN n
), d AS (
  SELECT doc_id,
         CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(sum(tf * nlq) AS BIGINT) AS nl_sum
  FROM q GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(nl_sum / (n_tokens * 10000.0), 4) AS avg_neg_log2p
FROM d
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model score per document: average per-token
    negative log2 probability under the corpus's own word distribution — the
    cheap perplexity proxy pipelines use to rank documents for quality/
    domain filtering before an expensive neural scorer sees them.

    Cross-engine determinism: each word's −log2 p is quantized to an
    INTEGER 1e4 scale first, so the per-document aggregate is an exact
    BIGINT sum — immune to float summation order across partitions and
    engines.  Scale: two keyed aggregates (doc-term, corpus-term) + a join
    keyed on the term; the corpus term table is Zipf-compact and the join
    shuffles on the term key, never all-pairs."""
    t = Catalog(spark, sf_dir)
    d = _unigram_nl_scores(t)
    return d.select(
        "doc_id",
        "n_tokens",
        r4(F.col("nl_sum") / (F.col("n_tokens") * 10000.0)).alias("avg_neg_log2p"),
    )


@register(
    "corpus_curation_pipeline",
    oracle=f"""
WITH k AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY md5({_DUCK_NORM})
), q AS (
  SELECT d.doc_id, length(d.text) AS n_chars,
         CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(d.text, '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT)
           AS n_tokens
  FROM documents d JOIN k ON d.doc_id = k.doc_id
), f AS (
  SELECT doc_id, n_tokens,
         least(n_words / 100.0, 1.0) * 0.6 + least(n_chars / 500.0, 1.0) * 0.4
           AS score
  FROM q
), s AS (
  SELECT doc_id, n_tokens,
         CASE
           WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
             THEN 'train'
           WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
             THEN 'val'
           ELSE 'test'
         END AS split,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
              AS BIGINT) AS shard
  FROM f WHERE score >= 0.5
), p AS (
  SELECT doc_id, split, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM s
)
SELECT doc_id, split, shard, n_tokens, start_offset,
       CAST(floor(start_offset / 4096.0) AS BIGINT) AS bin_id
FROM p
""",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus curation flow as ONE composed plan: exact
    dedup (keep the min doc_id per normalized-text digest) → quality filter
    (the ``text_quality_score`` formula at the medium bar) → deterministic
    hash split (``sample_stratified_split`` buckets) → per-(split, shard)
    sequence packing (``seqpack_greedy_bins`` windows).  The point is
    composition: the stages fuse into one job — dedup's aggregate, the
    rowwise scoring/splitting, and the packing window share scans and
    pipeline inside Catalyst instead of materializing between steps.

    Scale: one digest-keyed aggregate + semi join (dedup), rowwise math,
    and per-shard ordered windows — no global sort, no cross-document state
    beyond the two keyed shuffles."""
    t = Catalog(spark, sf_dir)
    keep = (
        t.documents.select("doc_id", F.md5(_norm_text()).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    q = t.documents.join(keep, "doc_id").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(F.split(_norm_text(), " ")).cast("long").alias("n_words"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]', 0)"))
        .cast("long")
        .alias("n_tokens"),
    )
    score = (
        F.least(F.col("n_words") / 100.0, F.lit(1.0)) * 0.6
        + F.least(F.col("n_chars") / 500.0, F.lit(1.0)) * 0.4
    )
    bucket = h32(F.col("doc_id").cast("string")) % 100
    s = (
        q.filter(score >= 0.5)
        .select(
            "doc_id",
            "n_tokens",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
            (h32(F.col("doc_id").cast("string")) % 8).alias("shard"),
        )
    )
    w = (
        W.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = s.withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return packed.withColumn(
        "bin_id", F.floor(F.col("start_offset") / F.lit(4096.0)).cast("long")
    ).select("doc_id", "split", "shard", "n_tokens", "start_offset", "bin_id")


@register(
    "corpus_mixture_weights",
    oracle=f"""
WITH tok AS (
  SELECT source, CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tok FROM documents
), per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS tok_l
  FROM tok GROUP BY source
), tot AS (SELECT CAST(sum(tok_l) AS BIGINT) AS t FROM per),
sm AS (
  SELECT source, n_docs, tok_l,
         CAST(floor(sqrt(tok_l * 1.0 / t) * 100000000 + 0.5) AS BIGINT) AS sq_l
  FROM per, tot
), smt AS (SELECT CAST(sum(sq_l) AS BIGINT) AS st FROM sm)
SELECT source, n_docs, tok_l AS n_tokens,
       round(tok_l * 1.0 / t, 4) AS token_share,
       round(sq_l * 1.0 / st, 4) AS sample_weight,
       round((sq_l * 1.0 / st) / (tok_l * 1.0 / t), 4) AS effective_epochs
FROM sm, tot, smt
""",
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture (domain-sampling) weights per corpus source: token
    shares smoothed by the α=0.5 power rule — sample_weight ∝ share^α,
    normalized — the standard temperature-smoothed mixture used when
    composing multi-source LM training data (upsampling small domains,
    downsampling dominant ones); ``effective_epochs`` = weight/share is how
    many passes each source effectively gets at a fixed token budget.
    Beyond-reference LLM-pipeline operator (SURVEY §2 extension family,
    same spirit as ``sample_stratified_split``).

    Cross-engine: token counts are exact integer sums; sqrt is IEEE
    correctly-rounded so share^0.5 is the identical double in both engines,
    and each smoothed weight is quantized to a 1e-8 integer grid BEFORE the
    normalizing sum, keeping the normalization exact-integer arithmetic.
    Scale: one narrow tokenize map + one keyed aggregate over sources
    (bounded dimension) + two broadcast scalars."""
    t = Catalog(spark, sf_dir)
    tok = t.documents.select(
        "source", F.size(F.split(_norm_text(), " ")).cast("long").alias("n_tok")
    )
    per = tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("tok_l")
    )
    tot = per.agg(F.sum("tok_l").alias("t"))
    sm = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tok_l",
        "t",
        F.floor(F.sqrt(F.col("tok_l") * 1.0 / F.col("t")) * 100000000 + F.lit(0.5))
        .cast("long")
        .alias("sq_l"),
    )
    smt = sm.agg(F.sum("sq_l").alias("st"))
    return sm.crossJoin(F.broadcast(smt)).select(
        "source",
        "n_docs",
        F.col("tok_l").alias("n_tokens"),
        r4(F.col("tok_l") * 1.0 / F.col("t")).alias("token_share"),
        r4(F.col("sq_l") * 1.0 / F.col("st")).alias("sample_weight"),
        r4(
            (F.col("sq_l") * 1.0 / F.col("st")) / (F.col("tok_l") * 1.0 / F.col("t"))
        ).alias("effective_epochs"),
    )


@register(
    "dedup_report_by_source",
    oracle=f"""
WITH {_DUCK_SHINGLES},
{_duck_sig()},
cand AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         ({" + ".join(f"CASE WHEN a.m{s} = b.m{s} THEN 1 ELSE 0 END" for s in range(_N_MINHASH))}) / {_N_MINHASH}.0 AS est_j
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {" OR ".join(f"(a.m{2 * b} = b.m{2 * b} AND a.m{2 * b + 1} = b.m{2 * b + 1})" for b in range(_N_MINHASH // 2))}
),
nd AS (
  SELECT DISTINCT doc_id FROM (
    SELECT da AS doc_id FROM cand WHERE est_j >= 0.5
    UNION ALL
    SELECT db AS doc_id FROM cand WHERE est_j >= 0.5
  )
),
ex AS (
  SELECT doc_id, md5({_DUCK_NORM}) AS digest,
         min(doc_id) OVER (PARTITION BY md5({_DUCK_NORM})) AS keep_id
  FROM documents
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT e.digest) AS BIGINT) AS n_unique_exact,
       CAST(sum(CASE WHEN e.doc_id <> e.keep_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dropped,
       round(sum(CASE WHEN e.doc_id <> e.keep_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS exact_dup_rate,
       CAST(count(nd.doc_id) AS BIGINT) AS n_near_dup_docs,
       round(count(nd.doc_id) * 1.0 / count(*), 4) AS near_dup_rate
FROM documents d
JOIN ex e ON d.doc_id = e.doc_id
LEFT JOIN nd ON d.doc_id = nd.doc_id
GROUP BY d.source
""",
)
def dedup_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup QA report a curation pipeline ships per ingest source:
    document counts, exact-duplicate survivors and drop rate (min-doc_id
    keep-first over the normalized-text digest), and the share of docs
    touched by a near-dup candidate (MinHash-LSH pairs at est-Jaccard ≥
    0.5) — the per-source contamination summary that decides which feeds
    need upstream fixing.  Composes ``dedup_exact_docs`` and
    ``dedup_minhash_lsh`` into one grouped report.

    Scale: digest window is keyed by digest (hash-shuffle), the near-dup
    side reuses the banded-LSH candidate join (never all-pairs), and the
    final rollup is one aggregate over the bounded source dimension."""
    t = Catalog(spark, sf_dir)
    nd = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("est_jaccard") >= 0.5)
        .select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(1))
    )
    ex = t.documents.select(
        "doc_id", "source", F.md5(_norm_text()).alias("digest")
    ).withColumn("keep_id", F.min("doc_id").over(W.partitionBy("digest")))
    # nd is bounded by the number of near-dup-touched docs — small on clean
    # corpora but potentially large on crawl data, so no forced broadcast:
    # AQE picks broadcast vs shuffle from the actual candidate count
    return (
        ex.join(nd, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("digest").alias("n_unique_exact"),
            F.sum(F.when(F.col("doc_id") != F.col("keep_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_exact_dropped"),
            r4(
                F.sum(F.when(F.col("doc_id") != F.col("keep_id"), 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1))
            ).alias("exact_dup_rate"),
            F.count("is_near_dup").alias("n_near_dup_docs"),
            r4(F.count("is_near_dup") * 1.0 / F.count(F.lit(1))).alias(
                "near_dup_rate"
            ),
        )
    )


@register(
    "ann_recall_at_k",
    oracle=f"""
WITH {_DUCK_EMB},
p AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cos_sim
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
ex AS (SELECT vec_id, neighbor_id,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
       FROM p),
exact3 AS (SELECT vec_id, neighbor_id FROM ex WHERE rank <= 3),
c AS (SELECT vec_id AS centroid_id, emb, nrm FROM e WHERE vec_id < {_N_IVF_CENTROIDS}),
assign0 AS (
  SELECT e.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_dot_product(e.emb, c.emb) / (e.nrm * c.nrm), 4) DESC,
                                     c.centroid_id) AS rn
  FROM e, c),
buckets AS (SELECT vec_id, centroid_id AS bucket_id FROM assign0 WHERE rn = 1),
ip AS (
  SELECT ba.vec_id, bb.vec_id AS neighbor_id,
         round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cos_sim
  FROM buckets ba
  JOIN buckets bb ON ba.bucket_id = bb.bucket_id AND ba.vec_id <> bb.vec_id
  JOIN e a ON a.vec_id = ba.vec_id
  JOIN e b ON b.vec_id = bb.vec_id),
ir AS (SELECT vec_id, neighbor_id,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
       FROM ip),
ivf3 AS (SELECT vec_id, neighbor_id FROM ir WHERE rank <= 3),
n_ex AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_exact FROM exact3 GROUP BY vec_id),
hits AS (
  SELECT x.vec_id, CAST(count(i.neighbor_id) AS BIGINT) AS n_hits
  FROM exact3 x LEFT JOIN ivf3 i
    ON x.vec_id = i.vec_id AND x.neighbor_id = i.neighbor_id
  GROUP BY x.vec_id)
SELECT n.vec_id, n.n_exact, h.n_hits,
       round(h.n_hits * 1.0 / n.n_exact, 4) AS recall_at_3
FROM n_ex n JOIN hits h ON n.vec_id = h.vec_id
""",
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a first-class oracled query: per-vector
    recall@3 of the IVF-bucketed index against the exact brute-force
    neighbors — the measurement that decides whether an approximate index
    is good enough to replace the exact scan at 100 TB.  Composes the two
    registered similarity queries and joins their top-3 sets.

    (The rows-only MLlib variants pin recall >= 0.8 in
    tests/test_ml_similarity.py; this query makes the deterministic IVF's
    recall itself value-verified cross-engine.)

    Scale: the exact side is the documented sampled-oracle path (run on a
    query sample at scale); the join of the two top-k sets is keyed on
    (vec_id, neighbor_id) — tiny at any scale since both sides are k rows
    per query vector."""
    ex = (
        similarity_topk_cosine(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("vec_id", "neighbor_id")
    )
    iv = similarity_ivf_bucketed(spark, sf_dir).select("vec_id", "neighbor_id")
    n_ex = ex.groupBy("vec_id").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    hits = (
        ex.join(iv, ["vec_id", "neighbor_id"])
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        n_ex.join(hits, "vec_id", "left")
        .select(
            "vec_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            r4(
                F.coalesce(F.col("n_hits"), F.lit(0)) * F.lit(1.0) / F.col("n_exact")
            ).alias("recall_at_3"),
        )
    )


@register(
    "text_dupgram_fraction",
    oracle=f"""
WITH {_DUCK_SHINGLES},
freq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY shingle),
j AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM sh s JOIN freq f ON s.shingle = f.shingle GROUP BY s.doc_id)
SELECT doc_id, n_shingles, n_dup,
       round(n_dup * 1.0 / n_shingles, 4) AS dup_fraction,
       n_dup * 1.0 / n_shingles <= 0.5 AS keep
FROM j
""",
)
def text_dupgram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram-fraction quality filter (the Gopher/MassiveText
    'fraction of duplicate n-grams' rule): for each document, the share of
    its distinct word-3-gram shingles that also occur in at least one other
    document, plus the keep/drop decision at the 0.5 threshold — catches
    boilerplate- and template-heavy documents that exact and MinHash dedup
    both miss because no single pair is near-identical.

    Scale: shingle document-frequencies are one map-side-combined keyed
    aggregate, and the join back is keyed on the shingle — never a doc×doc
    comparison; the same shape as the TF-IDF query."""
    t = Catalog(spark, sf_dir)
    sh = _doc_shingles(t)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).cast("long").alias("df"))
    j = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("long").alias("n_dup"),
        )
    )
    frac = F.col("n_dup") * F.lit(1.0) / F.col("n_shingles")
    return j.select(
        "doc_id",
        "n_shingles",
        "n_dup",
        r4(frac).alias("dup_fraction"),
        (frac <= 0.5).alias("keep"),
    )


@register(
    "dedup_incremental_vs_snapshot",
    oracle=f"""
WITH n AS (SELECT doc_id, md5({_DUCK_NORM}) AS digest FROM documents),
snap AS (SELECT DISTINCT digest FROM n WHERE doc_id % 2 = 0),
batch AS (SELECT doc_id, digest FROM n WHERE doc_id % 2 = 1),
b2 AS (
  SELECT b.doc_id, b.digest,
         s.digest IS NOT NULL AS in_snap,
         min(b.doc_id) OVER (PARTITION BY b.digest) AS first_id
  FROM batch b LEFT JOIN snap s ON b.digest = s.digest
)
SELECT doc_id, digest,
       CASE WHEN in_snap THEN 'dup_of_snapshot'
            WHEN doc_id > first_id THEN 'dup_in_batch'
            ELSE 'novel' END AS status
FROM b2
""",
)
def dedup_incremental_vs_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the production shape at 100 TB, where new
    batches arrive against an already-deduped corpus snapshot and re-hashing
    the whole corpus per batch is not an option.  Snapshot := the digest set
    of even doc_ids, batch := odd doc_ids; every batch document is
    classified 'dup_of_snapshot' (digest already ingested), 'dup_in_batch'
    (keep-first within the batch), or 'novel'.  Extends ``dedup_exact_docs``
    (/root/reference/src/data/clean_data.py:109-130 drop_duplicates) to the
    incremental/streaming regime.

    Scale: ONE equi-join of the batch against the snapshot digest table
    (digest-keyed — at 100 TB the snapshot side is a compact digest-only
    table, bucketable on digest so the join is shuffle-free) plus one keyed
    window inside the batch; nothing rescans snapshot text."""
    t = Catalog(spark, sf_dir)
    n = t.documents.select("doc_id", F.md5(_norm_text()).alias("digest"))
    snap = n.filter(F.col("doc_id") % 2 == 0).select("digest").distinct()
    batch = n.filter(F.col("doc_id") % 2 == 1)
    b2 = batch.join(
        snap.withColumn("in_snap", F.lit(True)), "digest", "left"
    ).select(
        "doc_id",
        "digest",
        F.coalesce(F.col("in_snap"), F.lit(False)).alias("in_snap"),
        F.min("doc_id").over(W.partitionBy("digest")).alias("first_id"),
    )
    return b2.select(
        "doc_id",
        "digest",
        F.when(F.col("in_snap"), "dup_of_snapshot")
        .when(F.col("doc_id") > F.col("first_id"), "dup_in_batch")
        .otherwise("novel")
        .alias("status"),
    )


@register(
    "corpus_resample_ncopies",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tok FROM documents
), per AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS tok_l FROM tok GROUP BY source
), tot AS (SELECT CAST(sum(tok_l) AS BIGINT) AS t FROM per),
sm AS (
  SELECT source, tok_l,
         CAST(floor(sqrt(tok_l * 1.0 / t) * 100000000 + 0.5) AS BIGINT) AS sq_l
  FROM per, tot
), smt AS (SELECT CAST(sum(sq_l) AS BIGINT) AS st FROM sm),
eff AS (
  SELECT source, (sq_l * 1.0 / st) / (tok_l * 1.0 / t) AS e
  FROM sm, tot, smt
), d AS (
  SELECT tok.doc_id, tok.source, eff.e,
         (CAST(('0x' || substr(md5(CAST(tok.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000) / 10000.0 AS u
  FROM tok JOIN eff ON tok.source = eff.source
)
SELECT doc_id, source, round(e, 4) AS effective_epochs,
       CAST(floor(e) AS BIGINT)
         + CASE WHEN u < e - floor(e) THEN 1 ELSE 0 END AS n_copies
FROM d
""",
)
def corpus_resample_ncopies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the training-mixture weights: deterministic per-document copy
    counts realizing ``corpus_mixture_weights``'s α=0.5 smoothed mixture —
    a source with effective_epochs 2.3 gets ⌊2.3⌋ copies of every document
    plus one more for the deterministic 30% hash slice; a downweighted
    source keeps each document with probability e.  The stochastic-rounding
    step every mixture-weighted corpus build needs, made rerun- and
    engine-stable by the shared h32 hash instead of rand().

    Cross-engine: e is the identical double in both engines (integer-grid
    sufficient statistics, same expression tree — see
    ``corpus_mixture_weights``), u lives on a 1e-4 grid, and the u < frac
    comparison is therefore deterministic.

    Scale: two tiny keyed aggregates (source dimension) broadcast back onto
    one narrow map over the corpus; the downstream materialization is
    ``explode(sequence(1, n_copies))`` — no shuffle at all."""
    t = Catalog(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", "source", F.size(F.split(_norm_text(), " ")).cast("long").alias("n_tok")
    )
    per = tok.groupBy("source").agg(F.sum("n_tok").alias("tok_l"))
    tot = per.agg(F.sum("tok_l").alias("t"))
    sm = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok_l",
        "t",
        F.floor(F.sqrt(F.col("tok_l") * 1.0 / F.col("t")) * 100000000 + F.lit(0.5))
        .cast("long")
        .alias("sq_l"),
    )
    smt = sm.agg(F.sum("sq_l").alias("st"))
    eff = sm.crossJoin(F.broadcast(smt)).select(
        "source",
        ((F.col("sq_l") * 1.0 / F.col("st")) / (F.col("tok_l") * 1.0 / F.col("t"))).alias("e"),
    )
    u = (h32(F.col("doc_id").cast("string")) % 10000) / F.lit(10000.0)
    d = tok.join(F.broadcast(eff), "source").select(
        "doc_id", "source", "e", u.alias("u")
    )
    return d.select(
        "doc_id",
        "source",
        r4(F.col("e")).alias("effective_epochs"),
        (
            F.floor(F.col("e")).cast("long")
            + F.when(F.col("u") < F.col("e") - F.floor(F.col("e")), 1).otherwise(0)
        ).cast("long").alias("n_copies"),
    )


def _bigram_nl_scores(t: Catalog) -> DataFrame:
    """Per-document corpus-bigram LM sufficient statistics: (doc_id,
    n_bigrams, nl_sum) where nl_sum is the BIGINT sum of each bigram's
    −log2 p quantized to the 1e4 integer grid — the shared core of
    ``text_bigram_logprob`` and ``corpus_ccnet_buckets``.  Docs with
    fewer than two words have no bigrams and are absent by definition."""
    bigrams = (
        _doc_words(t)
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w)-2),"
                    " i -> concat_ws(' ', w[i], w[i+1]))"
                )
            ).alias("bigram"),
        )
    )
    tf = bigrams.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("tf"))
    cf = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cf"))
    n = bigrams.agg(F.count(F.lit(1)).alias("total"))
    q = (
        tf.join(cf, "bigram")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tf",
            F.floor(
                -F.log2(F.col("cf") * F.lit(1.0) / F.col("total")) * 10000 + F.lit(0.5)
            )
            .cast("long")
            .alias("nlq"),
        )
    )
    return q.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("nlq")).alias("nl_sum"),
    )


_KN_D = 0.75  # Kneser-Ney absolute discount


@register(
    "text_kneser_ney_logprob",
    oracle=f"""
WITH bw AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
       FROM bw, unnest(range(1, len(w))) AS u(i)
       WHERE len(w) >= 2),
tf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
       FROM bg GROUP BY 1, 2, 3),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
              CAST(count(*) AS BIGINT) AS n1f
       FROM c2 GROUP BY 1),
bwd AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY 1),
tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c2),
q AS (
  SELECT tf.doc_id, tf.tf,
         CAST(floor(-log2(
           (greatest(CAST(c2.c2 AS DOUBLE) - CAST({_KN_D} AS DOUBLE),
                     CAST(0 AS DOUBLE))
            + CAST({_KN_D} AS DOUBLE) * c1.n1f
              * (CAST(bwd.n1b AS DOUBLE) / tt.t)) / c1.c1
         ) * 10000 + 0.5) AS BIGINT) AS nlq
  FROM tf
  JOIN c2 ON c2.w1 = tf.w1 AND c2.w2 = tf.w2
  JOIN c1 ON c1.w1 = tf.w1
  JOIN bwd ON bwd.w2 = tf.w2
  CROSS JOIN tt
), d AS (
  SELECT doc_id,
         CAST(sum(tf) AS BIGINT) AS n_bigrams,
         CAST(sum(tf * nlq) AS BIGINT) AS nl_sum
  FROM q GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       round(nl_sum / (n_bigrams * 10000.0), 4) AS avg_neg_log2p_kn
FROM d
""",
)
def text_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram LM score per document — the SMOOTHED
    top of the engine's LM ladder (unigram joint -> bigram joint ->
    conditional -> interpolated KN conditional) and the shape of the
    scorer the CCNet/KenLM pipeline actually runs: p(w2|w1) =
    (max(c(w1 w2) − D, 0) + D·N1+(w1·)·p_cont(w2)) / c(w1) with
    absolute discount D = {_KN_D} and the CONTINUATION probability
    p_cont(w2) = N1+(·w2) / N1+(··) — the count of distinct contexts a
    word follows, divided by the distinct-bigram-type total, the
    Kneser-Ney insight that "Francisco" is frequent but follows only
    "San".  Every observed corpus bigram gets a proper smoothed
    probability (the reserved backoff mass covers unseen continuations,
    so seen mass per context sums below 1 — verified in tests), and the
    per-doc average −log2 p is directly comparable to the unsmoothed
    ``text_bigram_logprob`` gap.

    Exactness: all five count tables (pair counts, context totals,
    forward/backward continuation fan-outs, type total) are exact
    BIGINTs; the one smoothed-probability expression is structured
    identically in both engines from those integers, and each bigram's
    −log2 p quantizes to the 1e4 integer grid before the per-doc BIGINT
    sum — order-free.

    Scale: three keyed aggregates over the Zipf-compact bigram-type
    table plus term-keyed joins back to per-doc term frequencies —
    never all-pairs, nothing fact-scale on the driver.

    Reference parity: upgrades the reference's surface quality filters
    (/root/reference/src/data/preprocessors.py) with the smoothed-LM
    scorer modern curation stacks gate on."""
    t = Catalog(spark, sf_dir)
    bg = (
        _doc_words(t)
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w)-2),"
                    " i -> struct(w[i] as w1, w[i+1] as w2))"
                )
            ).alias("x"),
        )
        .select("doc_id", "x.w1", "x.w2")
    )
    tf = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    c2 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    c1 = c2.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    bwd = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1b"))
    tt = c2.agg(F.count(F.lit(1)).cast("long").alias("t"))
    pkn = (
        F.greatest(
            F.col("c2").cast("double") - F.lit(_KN_D),
            F.lit(0).cast("double"),
        )
        + F.lit(_KN_D)
        * F.col("n1f")
        * (F.col("n1b").cast("double") / F.col("t"))
    ) / F.col("c1")
    q = (
        tf.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(bwd, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            "tf",
            F.floor(-F.log2(pkn) * 10000 + F.lit(0.5))
            .cast("long")
            .alias("nlq"),
        )
    )
    d = q.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("nlq")).alias("nl_sum"),
    )
    return d.select(
        "doc_id",
        "n_bigrams",
        r4(F.col("nl_sum") / (F.col("n_bigrams") * 10000.0)).alias(
            "avg_neg_log2p_kn"
        ),
    )


@register(
    "text_bigram_logprob",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
b AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
  FROM w, unnest(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2
),
tf AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf
       FROM b GROUP BY doc_id, bigram),
cf AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cf FROM b GROUP BY bigram),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM b),
q AS (
  SELECT tf.doc_id, tf.tf,
         CAST(floor(-log2(cf.cf * 1.0 / n.total) * 10000 + 0.5) AS BIGINT) AS nlq
  FROM tf JOIN cf ON tf.bigram = cf.bigram CROSS JOIN n
), d AS (
  SELECT doc_id,
         CAST(sum(tf) AS BIGINT) AS n_bigrams,
         CAST(sum(tf * nlq) AS BIGINT) AS nl_sum
  FROM q GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       round(nl_sum / (n_bigrams * 10000.0), 4) AS avg_neg_log2p2
FROM d
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram language-model score per document: the second-order
    companion to ``text_unigram_logprob`` — average per-bigram negative
    log2 probability under the corpus's own adjacent-pair distribution.
    The unigram/bigram score GAP is the fluency signal quality pipelines
    actually rank on (templated spam scores fluent under unigrams but its
    bigrams are either rote-repeated or never-seen).

    Same exactness contract as the unigram query: each bigram's −log2 p is
    quantized to an integer 1e4 scale, per-document aggregation is a pure
    BIGINT sum — partition-order-free in both engines.

    Scale: bigram extraction is an array transform (no shuffle); then two
    keyed aggregates and one join on the bigram key.  The bigram vocabulary
    is larger than the unigram one but still Zipf-compact relative to the
    corpus; the join never materializes anything all-pairs."""
    d = _bigram_nl_scores(Catalog(spark, sf_dir))
    return d.select(
        "doc_id",
        "n_bigrams",
        r4(F.col("nl_sum") / (F.col("n_bigrams") * 10000.0)).alias("avg_neg_log2p2"),
    )


@register(
    "corpus_ccnet_buckets",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
b AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
  FROM w, unnest(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2
),
tf AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf
       FROM b GROUP BY doc_id, bigram),
cf AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cf FROM b GROUP BY bigram),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM b),
q AS (
  SELECT tf.doc_id, tf.tf,
         CAST(floor(-log2(cf.cf * 1.0 / n.total) * 10000 + 0.5) AS BIGINT) AS nlq
  FROM tf JOIN cf ON tf.bigram = cf.bigram CROSS JOIN n
), d AS (
  SELECT doc_id,
         CAST(sum(tf) AS BIGINT) AS n_bigrams,
         CAST(sum(tf * nlq) AS BIGINT) AS nl_sum
  FROM q GROUP BY doc_id
), s AS (
  SELECT d.doc_id, doc.source, d.n_bigrams, d.nl_sum,
         ntile(3) OVER (PARTITION BY doc.source
                        ORDER BY d.nl_sum * 1.0 / d.n_bigrams, d.doc_id) AS t
  FROM d JOIN documents doc ON d.doc_id = doc.doc_id
)
SELECT doc_id, source,
       round(nl_sum / (n_bigrams * 10000.0), 4) AS lm_score,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(CASE WHEN t <= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
""",
)
def corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    split each source's documents into head/middle/tail terciles of the
    corpus-bigram LM score (low score = fluent = head), the classic
    language-model quality gate — CCNet keeps head+middle and drops the
    tail, which is the emitted ``keep`` flag.  The per-source (per-language
    in the paper) split is the point: an absolute score threshold would
    judge every domain by the majority domain's fluency.

    Reference scope note: the reference has no corpus-curation layer at
    all (SURVEY §2.13 — this family is the beyond-reference LLM-pipeline
    surface); the in-engine LM stands in for the paper's external KenLM.

    Cross-engine exactness: the per-doc score reuses
    ``_bigram_nl_scores`` (integer 1e4-grid BIGINT sums, order-free);
    the tercile ORDER BY key nl_sum*1.0/n_bigrams is the same IEEE
    division of identical BIGINTs in both engines with doc_id as the
    total-order tie-break, and ANSI ntile is deterministic given a total
    order.  Docs with <2 words have no bigram score and are excluded on
    both sides by construction.

    Scale: the score is two keyed aggregates + one Zipf-compact join
    (see ``text_bigram_logprob``); bucketing adds ONE window over
    one narrow row per document, partitioned by source — never
    fact-scale rows.  At extreme per-source cardinality the same split
    comes from two-pass approx percentile cutoffs; ntile is the exact
    spec."""
    t = Catalog(spark, sf_dir)
    d = _bigram_nl_scores(t)
    s = d.join(t.documents.select("doc_id", "source"), "doc_id").withColumn(
        "t",
        F.ntile(3).over(
            W.partitionBy("source").orderBy(
                (F.col("nl_sum") * F.lit(1.0) / F.col("n_bigrams")).asc(),
                F.col("doc_id").asc(),
            )
        ),
    )
    return s.select(
        "doc_id",
        "source",
        r4(F.col("nl_sum") / (F.col("n_bigrams") * 10000.0)).alias("lm_score"),
        F.when(F.col("t") == 1, F.lit("head"))
        .when(F.col("t") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        F.when(F.col("t") <= 2, 1).otherwise(0).cast("long").alias("keep"),
    )


@register(
    "corpus_vocab_coverage",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents),
cf AS (SELECT word, CAST(count(*) AS BIGINT) AS cf
       FROM w WHERE word <> '' GROUP BY word),
fr AS (SELECT cf, CAST(count(*) AS BIGINT) AS nw FROM cf GROUP BY cf),
lv AS (
  SELECT cf, nw,
         CAST(coalesce(sum(cf * nw) OVER (ORDER BY cf DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_hi,
         CAST(coalesce(sum(nw) OVER (ORDER BY cf DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS words_hi
  FROM fr),
tot AS (SELECT CAST(sum(cf * nw) AS BIGINT) AS total FROM fr),
tg AS (SELECT unnest([90, 95, 99]) AS target_pct),
req AS (SELECT target_pct, total,
               (target_pct * total + 99) // 100 AS required
        FROM tg CROSS JOIN tot),
pick AS (
  SELECT r.target_pct, r.total, l.cf, l.cum_hi, l.words_hi,
         (r.required - l.cum_hi + l.cf - 1) // l.cf AS m
  FROM req r JOIN lv l
    ON l.cum_hi < r.required AND l.cum_hi + l.cf * l.nw >= r.required)
SELECT CAST(target_pct AS BIGINT) AS target_pct,
       total AS n_tokens,
       CAST(words_hi + m AS BIGINT) AS vocab_size,
       CAST(cum_hi + m * cf AS BIGINT) AS covered_tokens,
       round((cum_hi + m * cf) * 1.0 / total, 4) AS coverage
FROM pick
""",
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary sizing report: the smallest top-K vocabulary (words
    ranked by corpus frequency, lexicographic tie-break) covering 90, 95,
    and 99 percent of all token occurrences — the number a tokenizer team
    reads off before fixing a vocab size, and the coverage twin of the
    Heaps-law growth curve (``corpus_vocab_growth``) and the Zipf fit
    (``text_zipf_slope``).

    Cross-engine exactness: pure BIGINT arithmetic end to end — the
    required token mass is ceil(pct*total/100) in integers, the boundary
    frequency level is found by integer prefix-sum comparison, and the
    words taken inside that level are an integer ceiling division (both
    engines' floor-division semantics agree on the non-negative
    operands).  No floats anywhere except the final r4 coverage ratio.

    Scale: words with equal frequency are interchangeable for coverage,
    so the corpus collapses to DISTINCT (frequency, word-count) levels —
    O(sqrt(total tokens)) rows for any Zipf-like corpus (the
    ``text_zipf_slope`` collapse) — before the unpartitioned prefix-sum
    window; the 3-row target table joins by broadcast nested loop."""
    t = Catalog(spark, sf_dir)
    words = _doc_words(t).select(F.explode("w").alias("word")).filter(
        F.col("word") != ""
    )
    cf = words.groupBy("word").agg(F.count(F.lit(1)).alias("cf"))
    fr = cf.groupBy("cf").agg(F.count(F.lit(1)).alias("nw"))
    win = W.orderBy(F.col("cf").desc()).rowsBetween(W.unboundedPreceding, -1)
    lv = fr.select(
        "cf",
        "nw",
        F.coalesce(F.sum(F.col("cf") * F.col("nw")).over(win), F.lit(0)).alias(
            "cum_hi"
        ),
        F.coalesce(F.sum("nw").over(win), F.lit(0)).alias("words_hi"),
    )
    tot = fr.agg(F.sum(F.col("cf") * F.col("nw")).alias("total"))
    req = (
        tot.select(
            F.explode(
                F.array(*[F.lit(x).cast("long") for x in (90, 95, 99)])
            ).alias("target_pct"),
            "total",
        )
        .withColumn("required", F.expr("(target_pct * total + 99) div 100"))
    )
    pick = F.broadcast(req).join(
        lv,
        (F.col("cum_hi") < F.col("required"))
        & (F.col("cum_hi") + F.col("cf") * F.col("nw") >= F.col("required")),
    ).withColumn("m", F.expr("(required - cum_hi + cf - 1) div cf"))
    return pick.select(
        "target_pct",
        F.col("total").alias("n_tokens"),
        (F.col("words_hi") + F.col("m")).cast("long").alias("vocab_size"),
        (F.col("cum_hi") + F.col("m") * F.col("cf")).cast("long").alias(
            "covered_tokens"
        ),
        r4(
            (F.col("cum_hi") + F.col("m") * F.col("cf")) * F.lit(1.0)
            / F.col("total")
        ).alias("coverage"),
    )


@register(
    "text_zipf_slope",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents),
cf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cf
  FROM w WHERE word <> '' GROUP BY word
), fr AS (
  SELECT cf, CAST(count(*) AS BIGINT) AS nw FROM cf GROUP BY cf
), rk AS (
  SELECT nw,
         CAST(floor(log2(CAST(1 + coalesce(
                sum(nw) OVER (ORDER BY cf DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS DOUBLE))
                    * 10000 + 0.5) AS BIGINT) AS xq,
         CAST(floor(log2(CAST(cf AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS yq
  FROM fr
), m AS (
  SELECT CAST(sum(nw) AS BIGINT) AS n,
         CAST(sum(nw * xq) AS BIGINT) AS sx,
         CAST(sum(nw * yq) AS BIGINT) AS sy,
         CAST(sum(nw * xq * xq) AS BIGINT) AS sxx,
         CAST(sum(nw * xq * yq) AS BIGINT) AS sxy
  FROM rk
)
SELECT n AS vocab_size,
       round((n * sxy - sx * sy) * 1.0 / nullif(n * sxx - sx * sx, 0), 4)
         AS zipf_slope,
       round((sy * 1.0 / n - ((n * sxy - sx * sy) * 1.0
              / nullif(n * sxx - sx * sx, 0)) * sx / n) / 10000.0, 4)
         AS log2_intercept
FROM m
""",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: OLS slope of log(frequency)
    on log(rank) — the corpus-health statistic quality pipelines monitor
    (natural text sits near slope −1; template spam and OCR garbage
    deviate hard), completing the text-QA family next to the LM-logprob
    and repetition scores.  Same exact-arithmetic OLS as
    ``price_elasticity_brand``: both logs quantized to BIGINT 1e-4 units,
    integer co-moments, slope as a ratio of integers.

    Scale: ranks TIE on frequency (min-rank), so a word's
    rank = 1 + #words with strictly higher cf, and every OLS moment
    collapses onto the DISTINCT-FREQUENCY table weighted by words-per-
    frequency — no window ever touches the vocabulary.  The one ordered
    window runs over distinct cf values, a domain bounded by O(sqrt(total
    tokens)) for any corpus (frequencies > sqrt(T) number at most sqrt(T);
    distinct values below sqrt(T) number at most sqrt(T)) — single-digit
    millions of 16-byte rows even at 100 TB, vs the unbounded vocabulary
    rank this replaces."""
    t = Catalog(spark, sf_dir)
    words = _doc_words(t).select(F.explode("w").alias("word")).filter(
        F.col("word") != ""
    )
    cf = words.groupBy("word").agg(F.count(F.lit(1)).alias("cf"))
    fr = cf.groupBy("cf").agg(F.count(F.lit(1)).alias("nw"))
    # bounded-domain window: distinct frequencies, O(sqrt(corpus tokens))
    wr = W.orderBy(F.col("cf").desc()).rowsBetween(W.unboundedPreceding, -1)
    rk = fr.select(
        "nw",
        F.floor(
            F.log2(
                (F.lit(1) + F.coalesce(F.sum("nw").over(wr), F.lit(0))).cast(
                    "double"
                )
            )
            * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("xq"),
        F.floor(F.log2(F.col("cf").cast("double")) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("yq"),
    )
    m = rk.agg(
        F.sum("nw").alias("n"),
        F.sum(F.col("nw") * F.col("xq")).alias("sx"),
        F.sum(F.col("nw") * F.col("yq")).alias("sy"),
        F.sum(F.col("nw") * F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("nw") * F.col("xq") * F.col("yq")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(
        1.0
    ) / F.nullif(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0))
    return m.select(
        F.col("n").alias("vocab_size"),
        r4(slope).alias("zipf_slope"),
        r4(
            (F.col("sy") * F.lit(1.0) / F.col("n") - slope * F.col("sx") / F.col("n"))
            / F.lit(10000.0)
        ).alias("log2_intercept"),
    )


@register(
    "embedding_centroid_drift",
    oracle="""
WITH e AS (
  SELECT vec_id, vec_id % 2 AS grp, embedding::DOUBLE[] AS emb
  FROM embeddings
), comp AS (
  SELECT grp, u.i AS dim,
         CAST(sum(CAST(floor(emb[u.i] * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS s6,
         CAST(count(*) AS BIGINT) AS n
  FROM e, unnest(range(1, len(emb) + 1)) AS u(i)
  GROUP BY 1, 2
), cent AS (
  SELECT a.dim,
         a.s6 * 1.0 / (a.n * 1000000.0) AS ca,
         b.s6 * 1.0 / (b.n * 1000000.0) AS cb,
         a.n AS n_a, b.n AS n_b
  FROM comp a JOIN comp b ON a.dim = b.dim AND a.grp = 0 AND b.grp = 1
), q AS (
  SELECT CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS dims,
         CAST(sum(CAST(floor(ca * cb * 1000000000000 + 0.5) AS BIGINT))
              AS BIGINT) AS sab,
         CAST(sum(CAST(floor(ca * ca * 1000000000000 + 0.5) AS BIGINT))
              AS BIGINT) AS saa,
         CAST(sum(CAST(floor(cb * cb * 1000000000000 + 0.5) AS BIGINT))
              AS BIGINT) AS sbb
  FROM cent
)
SELECT n_a, n_b, dims,
       round(sab / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE))), 4)
         AS centroid_cosine,
       round(sab / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE))), 4)
         < 0.99 AS drift_flag
FROM q
""",
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: cosine between the centroid vectors
    of two dataset halves (old vs new snapshot, here the deterministic
    vec_id parity) — the vector-modality member of the drift family
    (``drift_psi_distribution`` watches scalars; embedding pipelines watch
    the centroid and flag re-indexing/re-training when it rotates;
    reference analog: prediction-drift tracking,
    /root/reference/src/evaluation/model_diagnostics.py:230-260).

    Exactness: per-dimension component sums quantize to BIGINT 1e-6 units
    (order-free), centroids are ratios of those integers, and the
    centroid-level dot/norm sums re-quantize per-dimension products to
    1e-12 — the whole statistic is bit-identical cross-engine.

    Scale: one (group × dim)-keyed aggregate over the exploded components
    — dim count is fixed and small, so this is one pass over the vectors
    with a tiny shuffle; the centroid stage is |dims| rows."""
    t = Catalog(spark, sf_dir)
    e = t.embeddings.select(
        (F.col("vec_id") % 2).alias("grp"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    comp = (
        e.select(
            "grp", F.posexplode("emb").alias("dim0", "x")
        )
        .select(
            "grp",
            (F.col("dim0") + 1).alias("dim"),
            F.floor(F.col("x") * 1000000 + F.lit(0.5)).cast("long").alias("x6"),
        )
        .groupBy("grp", "dim")
        .agg(F.sum("x6").alias("s6"), F.count(F.lit(1)).alias("n"))
    )
    a = comp.filter(F.col("grp") == 0).select(
        "dim",
        (F.col("s6") * F.lit(1.0) / (F.col("n") * F.lit(1000000.0))).alias("ca"),
        F.col("n").alias("n_a"),
    )
    b = comp.filter(F.col("grp") == 1).select(
        "dim",
        (F.col("s6") * F.lit(1.0) / (F.col("n") * F.lit(1000000.0))).alias("cb"),
        F.col("n").alias("n_b"),
    )
    cent = a.join(b, "dim")
    q = cent.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.count(F.lit(1)).alias("dims"),
        F.sum(
            F.floor(F.col("ca") * F.col("cb") * F.lit(1000000000000) + F.lit(0.5))
            .cast("long")
        ).alias("sab"),
        F.sum(
            F.floor(F.col("ca") * F.col("ca") * F.lit(1000000000000) + F.lit(0.5))
            .cast("long")
        ).alias("saa"),
        F.sum(
            F.floor(F.col("cb") * F.col("cb") * F.lit(1000000000000) + F.lit(0.5))
            .cast("long")
        ).alias("sbb"),
    )
    cos = F.col("sab") / (
        F.sqrt(F.col("saa").cast("double")) * F.sqrt(F.col("sbb").cast("double"))
    )
    return q.select(
        "n_a",
        "n_b",
        "dims",
        r4(cos).alias("centroid_cosine"),
        (r4(cos) < F.lit(0.99)).alias("drift_flag"),
    )


@register(
    "text_pii_scrub",
    oracle="""
WITH e AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 3 = 0 THEN text
              ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com call 555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END
           AS enriched
  FROM documents
), d AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(enriched,
              '[a-z0-9._]+@[a-z0-9.-]+')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(enriched,
              '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
         md5(regexp_replace(regexp_replace(enriched,
              '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
              '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_hash
  FROM e
)
SELECT doc_id, source, n_emails, n_phones,
       n_emails + n_phones > 0 AS has_pii, scrubbed_hash
FROM d
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus: count and mask email
    addresses and phone-shaped tokens, emitting the scrubbed content hash —
    the pass an LLM pipeline runs before anything leaves the quarantine
    zone (the reference's cleaning stops at numeric sanitation,
    src/data/clean_data.py:190-256; PII handling is the engine extension
    next to ``text_scrub_numbers``).  The synthetic corpus carries no PII,
    so a deterministic contact block is injected for 2/3 of docs (keyed on
    doc_id, same derivation both engines — module-docstring convention
    shared with the multimodal header synthesis); the DETECTOR/REDACTOR is
    the operator under test and sees real addresses.

    Exactness: regex classes here ([a-z0-9._]+@..., [0-9]{3}-[0-9]{4})
    behave identically in Java regex and RE2; counts are integers and the
    scrubbed text compares by md5.

    Scale: pure rowwise regex, JVM-side, no shuffle — same shape as
    text_scrub_numbers."""
    t = Catalog(spark, sf_dir)
    enriched = F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        )
    )
    e = t.documents.select("doc_id", "source", enriched.alias("enriched"))
    email_re = "[a-z0-9._]+@[a-z0-9.-]+"
    phone_re = "[0-9]{3}-[0-9]{4}"
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("enriched"), email_re, "<EMAIL>"),
        phone_re,
        "<PHONE>",
    )
    d = e.select(
        "doc_id",
        "source",
        F.size(F.expr(f"regexp_extract_all(enriched, '{email_re}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(enriched, '{phone_re}', 0)"))
        .cast("long")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )
    return d.select(
        "doc_id",
        "source",
        "n_emails",
        "n_phones",
        (F.col("n_emails") + F.col("n_phones") > 0).alias("has_pii"),
        "scrubbed_hash",
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
WITH {_DUCK_SHINGLES},
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common,
       CAST(sa.sz AS BIGINT) AS sz_a,
       round(n_common * 1.0 / sa.sz, 4) AS containment,
       round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 4) AS jaccard
FROM pairs
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE n_common * 1.0 / sa.sz >= 0.8
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup detection: C(A,B) =
    |S(A) ∩ S(B)| / |S(A)| over word-3-gram shingle sets — the measure
    that catches a short document EMBEDDED in a longer one (quote farms,
    boilerplate wrapping, prepended headers), where symmetric Jaccard
    dilutes below any threshold.  Directed pairs with C >= 0.8; the
    Jaccard rides along so the report shows which hits Jaccard would have
    missed.  Same candidate generation as ``dedup_ngram_jaccard`` (shingle
    equi-join, never a cross join); the production scale path is the same
    banded-LSH bucketing (a contained doc shares full bands with its
    container), so this query is the exact spec of that path.

    Exactness: set sizes and intersections are integer counts; both
    measures are exact ratios."""
    t = Catalog(spark, sf_dir)
    sh = _doc_shingles(t)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    cont = F.col("n_common") * F.lit(1.0) / F.col("sza")
    jac = (
        F.col("n_common")
        * F.lit(1.0)
        / (F.col("sza") + F.col("szb") - F.col("n_common"))
    )
    return (
        pairs.join(F.broadcast(sza), "doc_a")
        .join(F.broadcast(szb), "doc_b")
        .filter(cont >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("sza").cast("long").alias("sz_a"),
            r4(cont).alias("containment"),
            r4(jac).alias("jaccard"),
        )
    )


@register(
    "corpus_softdedup_weights",
    oracle=f"""
WITH n AS (SELECT doc_id, source, md5({_DUCK_NORM}) AS text_hash
           FROM documents),
c AS (SELECT text_hash, CAST(count(*) AS BIGINT) AS n_copies
      FROM n GROUP BY 1),
w AS (
  SELECT n.doc_id, n.source, c.n_copies,
         round(1.0 / c.n_copies, 4) AS weight
  FROM n JOIN c ON n.text_hash = c.text_hash
), s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_duplicated,
         round(sum(CAST(floor(10000.0 / n_copies + 0.5) AS BIGINT))
               / 10000.0, 4) AS effective_docs
  FROM w GROUP BY 1
)
SELECT source, n_docs, n_duplicated, effective_docs,
       round(effective_docs / n_docs, 4) AS dedup_efficiency
FROM s
""",
)
def corpus_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup: instead of DROPPING duplicates, DOWN-WEIGHT them —
    every doc in an exact-duplicate cluster of size c gets sampling
    weight 1/c, so the cluster contributes one effective document while
    keeping all copies available (the soft-deduplication strategy from
    recent LLM-pretraining work; the hard-drop twin is
    ``dedup_exact_docs``).  Per-source report: raw vs effective document
    count and the dedup-efficiency ratio the mixture planner
    (``corpus_mixture_weights``) consumes.

    Exactness: cluster sizes are integers; each weight is quantized to
    the 1e-4 grid as a BIGINT before summing (1/3 is not an exact
    double), so the effective-docs sum is order-free in both engines.

    Scale: one digest shuffle (same as exact dedup) + one broadcast-back
    join + one source-keyed aggregate."""
    t = Catalog(spark, sf_dir)
    n = t.documents.select(
        "doc_id", "source", F.md5(_norm_text()).alias("text_hash")
    )
    c = n.groupBy("text_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )
    w = n.join(c, "text_hash").select(
        "source",
        "n_copies",
        r4(F.lit(1.0) / F.col("n_copies")).alias("weight"),
    )
    s = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_duplicated"),
        # quantize each weight to the 1e-4 grid BEFORE summing: 1/3 is not
        # an exact double, so a raw double sum would be accumulation-order
        # dependent; the integer sum is order-free
        r4(
            F.sum(
                F.floor(F.lit(10000.0) / F.col("n_copies") + F.lit(0.5)).cast(
                    "long"
                )
            )
            / F.lit(10000.0)
        ).alias("effective_docs"),
    )
    return s.select(
        "source",
        "n_docs",
        "n_duplicated",
        "effective_docs",
        r4(F.col("effective_docs") / F.col("n_docs")).alias("dedup_efficiency"),
    )


@register(
    "dedup_pipeline_report",
    oracle=f"""
WITH n AS (SELECT doc_id, md5({_DUCK_NORM}) AS text_hash FROM documents),
exact_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM n a JOIN n b ON a.text_hash = b.text_hash AND a.doc_id < b.doc_id
),
{_DUCK_SHINGLES},
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
cp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
jacc_pairs AS (
  SELECT doc_a, doc_b
  FROM cp JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
  WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.5
),
cont_pairs AS (
  SELECT doc_a, doc_b
  FROM cp JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
  WHERE n_common * 1.0 / sa.sz >= 0.8
     OR n_common * 1.0 / sb.sz >= 0.8
),
{_duck_sig()},
lsh_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {" OR ".join(f"(a.m{2 * b} = b.m{2 * b} AND a.m{2 * b + 1} = b.m{2 * b + 1})" for b in range(_N_MINHASH // 2))}
),
tagged AS (
  SELECT doc_a, doc_b, 'exact' AS m FROM exact_pairs
  UNION ALL SELECT doc_a, doc_b, 'jaccard' FROM jacc_pairs
  UNION ALL SELECT doc_a, doc_b, 'lsh' FROM lsh_pairs
  UNION ALL SELECT doc_a, doc_b, 'containment' FROM cont_pairs
),
flags AS (
  SELECT doc_a, doc_b,
         max(CASE WHEN m = 'exact' THEN 1 ELSE 0 END) = 1 AS in_exact,
         max(CASE WHEN m = 'jaccard' THEN 1 ELSE 0 END) = 1 AS in_jaccard,
         max(CASE WHEN m = 'lsh' THEN 1 ELSE 0 END) = 1 AS in_lsh,
         max(CASE WHEN m = 'containment' THEN 1 ELSE 0 END) = 1
           AS in_containment
  FROM tagged GROUP BY 1, 2
)
SELECT in_exact, in_jaccard, in_lsh, in_containment,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(doc_a) AS BIGINT) AS example_doc_a,
       CAST(min(doc_b) AS BIGINT) AS example_doc_b
FROM flags GROUP BY 1, 2, 3, 4
""",
)
def dedup_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly curation-QA reconciliation: run the four pair-producing
    dedup detectors over the SAME corpus — exact digest, n-gram Jaccard
    (>= 0.5), banded MinHash-LSH candidates, asymmetric containment
    (>= 0.8, either direction) — and fold their undirected pair sets into
    ONE overlap matrix: one row per observed flag COMBINATION with the
    pair count, from which every per-method total, pairwise overlap, and
    uniquely-caught count reads off directly (a pair flagged only
    ``in_containment`` is an embedded-subset dup Jaccard and LSH both
    miss; ``in_lsh`` without ``in_jaccard`` is an LSH false candidate).
    SoftDeDup (``corpus_softdedup_weights``) needs no column of its own:
    its 1/c down-weighting acts on exactly the ``in_exact`` clusters, so
    the matrix's exact column already reconciles it.  Every member
    detector is independently oracled; this query joins their outputs.

    Exactness: the matrix is pure set algebra over integer doc-id pairs —
    the threshold comparisons happen on exact ratios inside each member's
    own (already-verified) definition; counts are integers.

    Scale: candidate generation is bucketed shuffle-joins only (digest /
    shingle / LSH band keys — never all-pairs), and the expensive shingle
    self-join runs ONCE, shared by the Jaccard and containment branches —
    exactly the oracle's single ``cp`` CTE (containment's directed a<>b
    join is symmetric, so C(A,B)>=t OR C(B,A)>=t on the a<b pair
    enumerates the same undirected set the member emits).  A
    semantics test pins each branch's marginal equal to the member
    query's own output, so the sharing provably preserves the members'
    definitions.  The fold is one union + one (doc_a, doc_b)-keyed
    aggregate + one 16-row combination aggregate.  The per-doc shingle
    size table carries one row per document, so it gets NO broadcast
    hint — AQE picks broadcast at small SF and a shuffle join once the
    corpus outgrows the driver."""
    t = Catalog(spark, sf_dir)
    n = t.documents.select("doc_id", F.md5(_norm_text()).alias("text_hash"))
    na, nb = n.alias("na"), n.alias("nb")
    exact_pairs = na.join(
        nb,
        (F.col("na.text_hash") == F.col("nb.text_hash"))
        & (F.col("na.doc_id") < F.col("nb.doc_id")),
    ).select(
        F.col("na.doc_id").alias("doc_a"), F.col("nb.doc_id").alias("doc_b")
    )
    sh = _doc_shingles(t)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    # two branches below read it
    cp = materialize(
        sa.join(sb, "shingle")
        .filter(F.col("sa.doc_id") < F.col("sb.doc_id"))
        .groupBy(F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(
            sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")),
            "doc_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")),
            "doc_b",
        )
    )
    jac = F.col("n_common") * F.lit(1.0) / (
        F.col("sza") + F.col("szb") - F.col("n_common")
    )
    jacc_pairs = cp.filter(jac >= 0.5).select("doc_a", "doc_b")
    cont_pairs = cp.filter(
        (F.col("n_common") * F.lit(1.0) / F.col("sza") >= 0.8)
        | (F.col("n_common") * F.lit(1.0) / F.col("szb") >= 0.8)
    ).select("doc_a", "doc_b")
    lsh_pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    tagged = (
        exact_pairs.withColumn("m", F.lit("exact"))
        .unionAll(jacc_pairs.withColumn("m", F.lit("jaccard")))
        .unionAll(lsh_pairs.withColumn("m", F.lit("lsh")))
        .unionAll(cont_pairs.withColumn("m", F.lit("containment")))
    )
    flags = tagged.groupBy("doc_a", "doc_b").agg(
        *[
            (F.max(F.when(F.col("m") == method, 1).otherwise(0)) == 1).alias(
                f"in_{method}"
            )
            for method in ["exact", "jaccard", "lsh", "containment"]
        ]
    )
    return flags.groupBy(
        "in_exact", "in_jaccard", "in_lsh", "in_containment"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("doc_a").cast("long").alias("example_doc_a"),
        F.min("doc_b").cast("long").alias("example_doc_b"),
    )


# ---------------------------------------------------------------------------
# exact-substring spans, BM25 retrieval, SemDeDup

_SUBSTR_K = 40  # character-shingle length for exact-substring dedup


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH pos AS (
  SELECT d.doc_id, CAST(g.p AS BIGINT) AS p,
         md5(substr(d.text, g.p, {_SUBSTR_K})) AS dig
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(1, d.n_chars - {_SUBSTR_K - 1}))
                AS p) g
  WHERE d.n_chars >= {_SUBSTR_K}
),
dup AS (SELECT dig FROM pos GROUP BY dig HAVING count(DISTINCT doc_id) > 1),
dp AS (SELECT pos.doc_id, pos.p FROM pos JOIN dup USING (dig)),
o AS (
  SELECT doc_id, p,
         max(p + {_SUBSTR_K - 1}) OVER (
           PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM dp),
i AS (
  SELECT doc_id, p,
         CASE WHEN prev_end IS NULL OR p > prev_end + 1 THEN 1 ELSE 0 END AS brk
  FROM o),
isl AS (
  SELECT doc_id, p,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM i),
spans AS (
  SELECT doc_id, island, min(p) AS s, max(p) + {_SUBSTR_K - 1} AS e
  FROM isl GROUP BY doc_id, island),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id)
SELECT a.doc_id, a.n_spans, a.dup_chars,
       floor(a.dup_chars * 10000.0 / d.n_chars + 0.5) / 10000 AS dup_frac
FROM agg a JOIN documents d USING (doc_id)
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every 40-char substring
    shared verbatim by >= 2 distinct documents marks its covering positions
    duplicated; overlapping/adjacent marks merge into maximal spans
    (gaps-and-islands over a running max-end), reported per doc as span
    count, duplicated chars, and duplicated fraction.

    This is the *span-level* complement of the set-level near-dup family
    (Jaccard/MinHash/containment): it localizes WHICH text is copied, the
    signal a curation pipeline uses to cut boilerplate instead of dropping
    whole docs.

    Scale (100 TB): positions explode to one row per char, but each row
    collapses to an 8-byte digest before the only wide shuffle (the
    dup-digest aggregate) — the suffix-array of the paper is replaced by a
    hash-shuffle, the standard distributed formulation.  The span merge is
    a per-doc partitioned window (bounded by doc length).  The digest is
    the FULL 128-bit md5 (both engines emit the identical hex string): the
    engine's usual 32-bit prefix already collides at ~10^5 shingles
    (birthday bound), which the brute-force pin caught at sf0.001."""
    t = Catalog(spark, sf_dir)
    n_parts = t.spark.sparkContext.defaultParallelism
    k = _SUBSTR_K
    pos = (
        t.documents.repartition(n_parts, "doc_id")
        .filter(F.col("n_chars") >= k)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.expr(f"sequence(1, cast(n_chars as int) - {k - 1})")
            ).alias("p"),
        )
        .select(
            "doc_id",
            F.col("p").cast("long").alias("p"),
            F.md5(F.expr(f"substring(text, p, {k})")).alias("dig"),
        )
    )
    dup = (
        pos.groupBy("dig")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("dig")
    )
    dp = pos.join(dup, "dig").select("doc_id", "p")
    w_prev = (
        W.partitionBy("doc_id").orderBy("p").rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("p").rowsBetween(W.unboundedPreceding, 0)
    )
    isl = (
        dp.withColumn("prev_end", F.max(F.col("p") + (k - 1)).over(w_prev))
        .withColumn(
            "brk",
            F.when(
                F.col("prev_end").isNull() | (F.col("p") > F.col("prev_end") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w_run))
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("p").alias("s"), (F.max("p") + (k - 1)).alias("e")
    )
    agg = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_chars"),
    )
    docs = t.documents.select("doc_id", "n_chars")
    return agg.join(docs, "doc_id").select(
        "doc_id",
        "n_spans",
        "dup_chars",
        (
            F.floor(F.col("dup_chars") * 10000.0 / F.col("n_chars") + F.lit(0.5))
            / 10000.0
        ).alias("dup_frac"),
    )


_BM25_TERMS = ("spark", "window", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "text_bm25_topk",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents),
tok AS (SELECT doc_id, term FROM w WHERE term <> ''),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN {repr(tuple(_BM25_TERMS))}
  GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, dl.dl,
         CAST(floor(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * ((tf.tf * {_BM25_K1 + 1.0}) /
              (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * (dl.dl / stats.avgdl))))
           * 10000 + 0.5) AS BIGINT) AS s4
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats),
total AS (
  SELECT doc_id, CAST(min(dl) AS BIGINT) AS dl,
         sum(s4) / 10000.0 AS score
  FROM scored GROUP BY doc_id),
r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM total)
SELECT doc_id, dl, score, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 10
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: score every document against the fixed query
    {{'spark','window','merge'}} with Okapi BM25 (k1=1.2, b=0.75, idf =
    ln(1 + (N-df+0.5)/(df+0.5))) over the shared normalized tokenization,
    return the top 10.  The inverted-index retrieval primitive of a corpus
    search / quality-dedup stack — complements text_tfidf_topterms (per-doc
    keyword extraction) with cross-doc ranked retrieval.

    Cross-engine exactness: each per-term score is quantized to the 1e-4
    integer grid BEFORE the per-doc sum (3-term double addition would be
    accumulation-order dependent); the final ranking breaks score ties by
    doc_id.

    Scale (100 TB): the term filter IS the inverted index — only postings
    for the query terms survive the explode (predicate applied before the
    tf aggregate), so the shuffle carries O(postings(q)) rows, not the
    corpus.  df and the (N, avgdl) scalars broadcast; the final global
    top-10 window runs on <= |postings| scored docs, and at scale becomes
    an orderBy(...).limit(10) TakeOrderedAndProject."""
    t = Catalog(spark, sf_dir)
    tok = (
        _doc_words(t)
        .select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term") != "")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            F.floor(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (
                    (F.col("tf") * F.lit(k1 + 1.0))
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b) * (F.col("dl") / F.col("avgdl"))
                        )
                    )
                )
                * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("s4"),
        )
    )
    total = scored.groupBy("doc_id").agg(
        F.min("dl").cast("long").alias("dl"),
        (F.sum("s4") / 10000.0).alias("score"),
    )
    # exact top-10 via TakeOrderedAndProject (scale-safe), THEN number the
    # bounded 10-row result — the global window never sees fact-scale input
    top = total.orderBy(F.col("score").desc(), "doc_id").limit(10)
    w = W.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


_SEMDEDUP_TAU = 0.30


@register(
    "dedup_semdedup_ivf",
    oracle=f"""
WITH {_DUCK_EMB},
c AS (SELECT vec_id AS centroid_id, emb, nrm FROM e WHERE vec_id < {_N_IVF_CENTROIDS}),
assign0 AS (
  SELECT e.vec_id, c.centroid_id,
         round(list_dot_product(e.emb, c.emb) / (e.nrm * c.nrm), 4) AS ccos,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_dot_product(e.emb, c.emb) / (e.nrm * c.nrm), 4) DESC,
                                     c.centroid_id) AS rn
  FROM e, c),
b AS (SELECT vec_id, centroid_id AS bucket_id, ccos FROM assign0 WHERE rn = 1),
p AS (
  SELECT bu.vec_id AS u, bu.ccos AS cu, bv.vec_id AS v, bv.ccos AS cv
  FROM b bu JOIN b bv ON bu.bucket_id = bv.bucket_id AND bu.vec_id <> bv.vec_id
  JOIN e eu ON eu.vec_id = bu.vec_id
  JOIN e ev ON ev.vec_id = bv.vec_id
  WHERE round(list_dot_product(eu.emb, ev.emb) / (eu.nrm * ev.nrm), 4) >= {_SEMDEDUP_TAU}),
nn AS (
  SELECT u AS vec_id, CAST(count(*) AS BIGINT) AS n_near,
         CAST(max(CASE WHEN cv < cu OR (cv = cu AND v < u) THEN 1 ELSE 0 END)
              AS BIGINT) AS dropped
  FROM p GROUP BY u)
SELECT b.vec_id, b.bucket_id, b.ccos,
       coalesce(nn.n_near, 0) AS n_near,
       CAST(1 - coalesce(nn.dropped, 0) AS BIGINT) AS is_kept
FROM b LEFT JOIN nn USING (vec_id)
""",
)
def dedup_semdedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication inside coarse
    embedding clusters.  Every vector joins its IVF bucket (nearest of the
    8 deterministic centroids, same assignment as similarity_ivf_bucketed);
    within a bucket, pairs with cosine >= 0.30 are semantic duplicates, and
    the member with the LOWER centroid-cosine survives (the paper keeps the
    example farthest from the centroid; ties break toward the smaller
    vec_id).  Output: one row per vector with its bucket, centroid-cosine,
    near-duplicate count, and keep/drop decision.

    The one-shot drop rule (drop u iff SOME in-bucket near-dup v orders
    before it) is deterministic and non-iterative — exactly expressible in
    SQL, unlike greedy sequential variants.

    Scale (100 TB): centroids broadcast; the pair join is bucket-keyed
    (never all-pairs); the decision is a per-vector aggregate over its
    candidate list.  At scale the centroids come from MLlib KMeans with
    more buckets — identical plumbing."""
    e = _embeddings(Catalog(spark, sf_dir))
    assign = _ivf_buckets(e)
    ea = e.join(assign, "vec_id")
    a = ea.alias("a")
    b = ea.alias("b")
    # Each unordered in-bucket pair's cosine fold is computed ONCE (a < b)
    # and both orientations come from ``_both_directions``.  The scan stays
    # inline instead of using ``_pair_scan``: it is a bucket-keyed equi-join,
    # not the broadcast all-pairs scan.
    half = (
        a.join(
            b,
            (F.col("a.bucket_id") == F.col("b.bucket_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_lo"),
            F.col("a.ccos").alias("c_lo"),
            F.col("b.vec_id").alias("id_hi"),
            F.col("b.ccos").alias("c_hi"),
            _cos_ab().alias("_cs_raw"),
        )
        # threshold on the RAW cosine with the algebraically identical
        # integer predicate (floor(x*1e4+0.5) >= 3000  <=>  x*1e4+0.5 >=
        # 3000 for x >= 0): when Catalyst pushes this into the join
        # condition it carries ONE 64-dim fold, not r4's 4x-expanded
        # isnan/signum/floor tree; the quantized cs is then projected over
        # only the surviving pairs
        .filter(F.col("_cs_raw") * 10000.0 + 0.5 >= _SEMDEDUP_TAU * 10000.0)
        .select("id_lo", "c_lo", "id_hi", "c_hi", r4("_cs_raw").alias("cs"))
        .filter(F.col("cs") >= _SEMDEDUP_TAU)
    )
    # cu = the row's own centroid-cosine, cv = its near-duplicate's
    pairs = _both_directions(half, cu=("c_lo", "c_hi"), cv=("c_hi", "c_lo"))
    nn = pairs.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_near"),
        F.max(
            F.when(
                (F.col("cv") < F.col("cu"))
                | ((F.col("cv") == F.col("cu")) & (F.col("nb") < F.col("vec_id"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("dropped"),
    )
    return (
        assign.join(nn, "vec_id", "left")
        .select(
            "vec_id",
            "bucket_id",
            "ccos",
            F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near"),
            (1 - F.coalesce(F.col("dropped"), F.lit(0))).cast("long").alias("is_kept"),
        )
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@register(
    "text_gopher_rules",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS term FROM w),
t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         floor(sum(length(term)) * 10000.0 / count(*) + 0.5) / 10000
           AS mean_word_len,
         floor(sum(CASE WHEN regexp_matches(term, '[a-z]') THEN 1 ELSE 0 END)
               * 10000.0 / count(*) + 0.5) / 10000 AS alpha_frac,
         CAST(sum(CASE WHEN term IN {repr(tuple(_GOPHER_STOPWORDS))}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
  FROM t GROUP BY doc_id),
sym AS (
  SELECT doc_id,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_sym
  FROM documents)
SELECT s.doc_id, s.n_words, s.mean_word_len, s.alpha_frac, s.n_stop,
       floor(sym.n_sym * 10000.0 / s.n_words + 0.5) / 10000 AS sym_ratio,
       CAST(CASE WHEN s.n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
            AS BIGINT) AS r_nwords,
       CAST(CASE WHEN s.mean_word_len BETWEEN 3 AND 10 THEN 1 ELSE 0 END
            AS BIGINT) AS r_wordlen,
       CAST(CASE WHEN s.alpha_frac >= 0.8 THEN 1 ELSE 0 END
            AS BIGINT) AS r_alpha,
       CAST(CASE WHEN s.n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
       CAST(CASE WHEN floor(sym.n_sym * 10000.0 / s.n_words + 0.5) <= 1000
                 THEN 1 ELSE 0 END AS BIGINT) AS r_symbol,
       CAST(CASE WHEN s.n_words BETWEEN 50 AND 100000
                  AND s.mean_word_len BETWEEN 3 AND 10
                  AND s.alpha_frac >= 0.8
                  AND s.n_stop >= 2
                  AND floor(sym.n_sym * 10000.0 / s.n_words + 0.5) <= 1000
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s JOIN sym USING (doc_id)
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher corpus-quality rule battery (Rae et al. 2021, Appendix A):
    per document, word count in [50, 1e5], mean word length in [3, 10],
    alphabetic-word fraction >= 0.8, >= 2 stop-word occurrences (the
    paper's 8-word list), and symbol-to-word ratio ('#' / '...') <= 0.1 —
    each rule an explicit 0/1 column plus the conjunctive keep flag, so a
    curation run can report WHY documents were cut, not just how many.

    Complements text_quality_score (continuous length score) with the
    published hard-threshold filter suite.

    Scale (100 TB): one explode over tokens -> one per-doc aggregate; the
    symbol scan is a narrow per-row map on the raw text.  No shuffle wider
    than (doc_id).  Ratios quantize to the 1e-4 grid before comparison on
    BOTH engines, so band edges are engine-independent."""
    t = Catalog(spark, sf_dir)
    tok = (
        _doc_words(t)
        .select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term") != "")
    )
    s = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        (
            F.floor(
                F.sum(F.length("term")) * 10000.0 / F.count(F.lit(1)) + F.lit(0.5)
            )
            / 10000.0
        ).alias("mean_word_len"),
        (
            F.floor(
                F.sum(F.when(F.col("term").rlike("[a-z]"), 1).otherwise(0))
                * 10000.0
                / F.count(F.lit(1))
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("alpha_frac"),
        F.sum(F.when(F.col("term").isin(*_GOPHER_STOPWORDS), 1).otherwise(0))
        .cast("long")
        .alias("n_stop"),
    )
    sym = t.documents.select(
        "doc_id",
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            + F.floor(
                (
                    F.length("text")
                    - F.length(F.replace(F.col("text"), F.lit("...")))
                )
                / 3
            )
        )
        .cast("long")
        .alias("n_sym"),
    )
    flag = lambda c: F.when(c, 1).otherwise(0).cast("long")  # noqa: E731
    out = s.join(sym, "doc_id")
    r_nwords = F.col("n_words").between(50, 100000)
    r_wordlen = F.col("mean_word_len").between(3.0, 10.0)
    r_alpha = F.col("alpha_frac") >= 0.8
    r_stop = F.col("n_stop") >= 2
    # compare the 1e-4-quantized ratio (as an integer grid point), same
    # as the oracle: the band edge is engine-independent by construction,
    # not by luck of identical IEEE division
    r_symbol = (
        F.floor(F.col("n_sym") * 10000.0 / F.col("n_words") + F.lit(0.5))
        <= 1000
    )
    return out.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "n_stop",
        (
            F.floor(F.col("n_sym") * 10000.0 / F.col("n_words") + F.lit(0.5))
            / 10000.0
        ).alias("sym_ratio"),
        flag(r_nwords).alias("r_nwords"),
        flag(r_wordlen).alias("r_wordlen"),
        flag(r_alpha).alias("r_alpha"),
        flag(r_stop).alias("r_stop"),
        flag(r_symbol).alias("r_symbol"),
        flag(r_nwords & r_wordlen & r_alpha & r_stop & r_symbol).alias("keep"),
    )


_N_BPE_MERGES = 10


@register("corpus_bpe_merges")
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
    tokenizer-training primitive of an LLM data pipeline — as a distributed
    iterative dataflow: fold the corpus to a (word, count) vocabulary
    table, then for each of 10 rounds (a) count adjacent symbol pairs
    weighted by word frequency, (b) take the globally most frequent pair
    (ties break lexicographically), (c) merge that pair inside every
    word's symbol array with a left-to-right higher-order-function fold —
    the exact greedy semantics of the reference algorithm.

    Rows-only by design: each round's argmax depends on all prior merges,
    so the 10-round trajectory is not one SQL statement; the full merge
    table is pinned against a pure-Python BPE implementation in
    tests/test_r7_semantics.py.

    Scale (100 TB): the iteration state is the DISTINCT-WORD table (orders
    of magnitude smaller than the corpus; the corpus itself is touched
    once, by the vocabulary aggregate).  Per round: one partial-aggregated
    pair count + a 1-row collect (the argmax — the same driver-held-scalar
    loop as the GD calibrators), then a narrow map applying the merge.
    The word table is materialized each round so plans stay flat.

    Merged symbols never contain spaces (the tokenizer strips them), so
    the pair tie-break on (l, r) strings is unambiguous."""
    t = Catalog(spark, sf_dir)
    vocab = (
        _doc_words(t)
        .select(F.explode("w").alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    words = materialize(vocab.select("word", "cnt", F.split("word", "").alias("syms")))
    merges = []
    for rank in range(1, _N_BPE_MERGES + 1):
        top = (
            words.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms)-2),"
                        " i -> struct(syms[i] AS l, syms[i+1] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, pair_count = top[0].l, top[0].r, int(top[0].pair_count)
        merges.append((rank, l, r, l + r, pair_count))
        # left-to-right greedy merge of (l, r) inside every symbol array;
        # symbols are [a-z0-9]+ so embedding the literals in SQL is safe
        words = materialize(
            words.select(
                "word",
                "cnt",
                # CASE, not AND: ANSI mode would throw on element_at of an
                # empty accumulator if the conjunction were evaluated eagerly
                F.expr(
                    "aggregate(syms, cast(array() as array<string>), (acc, s) ->"
                    " case when size(acc) = 0 then array(s)"
                    f" when element_at(acc, -1) = '{l}' and s = '{r}'"
                    f" then concat(slice(acc, 1, size(acc) - 1), array('{l}{r}'))"
                    " else concat(acc, array(s)) end)"
                ).alias("syms"),
            )
        )
    return spark.createDataFrame(
        merges, "rank long, left string, right string, merged string, pair_count long"
    )


_CHUNK_LEN = 64  # tokens per chunk
_CHUNK_STRIDE = 48  # tokens between chunk starts (16-token overlap)


@register(
    "text_chunk_windows",
    oracle=f"""
WITH w0 AS (SELECT doc_id, list_filter({_DUCK_WORDS}, x -> x <> '') AS w
            FROM documents),
w AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM w0 WHERE len(w) >= 1),
c AS (
  SELECT doc_id, n, CAST(ci AS BIGINT) AS chunk_idx,
         CAST(ci * {_CHUNK_STRIDE} AS BIGINT) AS start_tok,
         least({_CHUNK_LEN}, n - ci * {_CHUNK_STRIDE}) AS n_toks,
         array_to_string(
           w[ci * {_CHUNK_STRIDE} + 1 : ci * {_CHUNK_STRIDE} + least({_CHUNK_LEN}, n - ci * {_CHUNK_STRIDE})],
           ' ') AS chunk_text
  FROM w, unnest(range(0, (n - 1) // {_CHUNK_STRIDE} + 1)) AS u(ci))
SELECT doc_id, chunk_idx, start_tok, CAST(n_toks AS BIGINT) AS n_toks,
       {_duck_hash("chunk_text")} AS chunk_hash
FROM c
WHERE chunk_idx = 0 OR n_toks > {_CHUNK_LEN - _CHUNK_STRIDE}
""",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window token chunking with overlap — the pretraining / RAG
    segmentation pass: split every document's normalized token stream into
    64-token chunks on a 48-token stride (16-token overlap), dropping tail
    chunks that add no tokens beyond the previous window.  Emits per chunk
    the doc, index, start offset, length, and the engine's shared 32-bit
    content hash (the key downstream chunk-level dedup joins on).

    Scale (100 TB): a narrow per-doc map (token split) plus a bounded
    explode — one output row per ~48 input tokens, each row carrying an
    8-byte hash + offsets, never the text.  No shuffle at all: the plan is
    scan -> project -> generate -> project (chunk text is sliced and
    hashed inside the row).  Guard: ``n >= 1`` before the sequence (Spark
    sequence(0, -1) DESCENDS)."""
    t = Catalog(spark, sf_dir)
    L, S = _CHUNK_LEN, _CHUNK_STRIDE
    w = (
        _doc_words(t)
        .select("doc_id", F.expr("filter(w, x -> x <> '')").alias("w"))
        .filter(F.size("w") >= 1)
        .select("doc_id", "w", F.size("w").cast("long").alias("n"))
    )
    c = (
        w.select(
            "doc_id",
            "n",
            "w",
            F.explode(
                F.expr(f"sequence(0, cast((n - 1) div {S} as int))")
            ).alias("ci"),
        )
        .select(
            "doc_id",
            F.col("ci").cast("long").alias("chunk_idx"),
            (F.col("ci") * S).cast("long").alias("start_tok"),
            F.least(F.lit(L), F.col("n") - F.col("ci") * S)
            .cast("long")
            .alias("n_toks"),
            F.expr(
                f"concat_ws(' ', slice(w, ci * {S} + 1,"
                f" least({L}, n - ci * {S})))"
            ).alias("chunk_text"),
        )
    )
    return c.filter(
        (F.col("chunk_idx") == 0) | (F.col("n_toks") > (L - S))
    ).select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        "n_toks",
        h32(F.col("chunk_text")).alias("chunk_hash"),
    )


# the chunk derivation of text_chunk_windows' oracle, reduced to the
# (doc_id, chunk_hash) instance table downstream chunk-dedup joins on
_DUCK_CHUNK_HASHES = f"""
w0 AS (SELECT doc_id, list_filter({_DUCK_WORDS}, x -> x <> '') AS w
       FROM documents),
w AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM w0 WHERE len(w) >= 1),
c AS (
  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
         least({_CHUNK_LEN}, n - ci * {_CHUNK_STRIDE}) AS n_toks,
         array_to_string(
           w[ci * {_CHUNK_STRIDE} + 1 : ci * {_CHUNK_STRIDE} + least({_CHUNK_LEN}, n - ci * {_CHUNK_STRIDE})],
           ' ') AS chunk_text
  FROM w, unnest(range(0, (n - 1) // {_CHUNK_STRIDE} + 1)) AS u(ci)),
ch AS (
  SELECT doc_id, {_duck_hash("chunk_text")} AS chunk_hash
  FROM c WHERE chunk_idx = 0 OR n_toks > {_CHUNK_LEN - _CHUNK_STRIDE})
"""


@register(
    "dedup_chunk_hashes",
    oracle=f"""
WITH {_DUCK_CHUNK_HASHES.strip().rstrip()},
f AS (SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_occ
      FROM ch GROUP BY 1),
per AS (
  SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks
  FROM ch JOIN f USING (chunk_hash) GROUP BY ch.doc_id),
pr AS (
  SELECT a.doc_id AS doc_id,
         CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_partner_docs
  FROM ch a JOIN ch b ON a.chunk_hash = b.chunk_hash
                     AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id)
SELECT per.doc_id, n_chunks, n_dup_chunks,
       floor(n_dup_chunks * 10000.0 / n_chunks + 0.5) / 10000
         AS dup_chunk_frac,
       CAST(COALESCE(pr.n_partner_docs, 0) AS BIGINT) AS n_partner_docs
FROM per LEFT JOIN pr ON per.doc_id = pr.doc_id
""",
)
def dedup_chunk_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup report — the consumer of ``text_chunk_windows``'s
    chunk-hash column (its stated downstream purpose): per document, how
    many of its 64/48-stride chunks are duplicated ANYWHERE in the corpus
    (same content hash appearing >= 2 times, within- or cross-doc), the
    duplicated-chunk fraction, and how many OTHER documents share at
    least one chunk with it.  This is the sub-document granularity exact
    dedup modern pretraining pipelines run between whole-doc hashing and
    substring-span dedup: it localizes boilerplate (headers, license
    blocks) that document-level digests miss.

    Exactness: pure integer set algebra over the shared 32-bit content
    hash (identical md5-prefix construction on both engines); the one
    ratio quantizes to the 1e-4 grid on both sides.

    Scale (100 TB): the chunk instance table (one 8-byte hash per ~48
    input tokens — never chunk text) is materialized once and feeds
    three hash-keyed aggregates/joins: a per-hash frequency count (map-side
    partial), a per-doc rollup, and the partner self-join keyed on
    chunk_hash — candidate pairs come from hash buckets only, never
    all-pairs.  Ubiquitous boilerplate hashes would skew the self-join at
    extreme scale; the standard mitigation (cap or drop hashes with n_occ
    above a boilerplate threshold before pairing) composes here as one
    filter on ``f``."""
    ch = materialize(text_chunk_windows(spark, sf_dir).select("doc_id", "chunk_hash"))
    f = ch.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    per = (
        ch.join(f, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
        )
    )
    a, b = ch.alias("a"), ch.alias("b")
    pr = (
        a.join(b, "chunk_hash")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(
            F.countDistinct(F.col("b.doc_id"))
            .cast("long")
            .alias("n_partner_docs")
        )
    )
    return per.join(pr, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        (
            F.floor(
                F.col("n_dup_chunks") * 10000.0 / F.col("n_chunks")
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("dup_chunk_frac"),
        F.coalesce(F.col("n_partner_docs"), F.lit(0))
        .cast("long")
        .alias("n_partner_docs"),
    )


_LINE_LEN = 16  # words per "line" (the corpus text carries no newlines)


@register(
    "dedup_lines_ccnet",
    oracle=f"""
WITH w0 AS (SELECT doc_id, list_filter({_DUCK_WORDS}, x -> x <> '') AS w
            FROM documents),
wn AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n
       FROM w0 WHERE len(w) >= 1),
l AS (
  SELECT doc_id, CAST(li AS BIGINT) AS line_idx,
         CAST(least({_LINE_LEN}, n - li * {_LINE_LEN}) AS BIGINT) AS n_toks,
         md5(array_to_string(
           w[li * {_LINE_LEN} + 1 : li * {_LINE_LEN} + least({_LINE_LEN}, n - li * {_LINE_LEN})],
           ' ')) AS lh
  FROM wn, unnest(range(0, (n - 1) // {_LINE_LEN} + 1)) AS u(li)),
r AS (SELECT doc_id, n_toks,
             row_number() OVER (PARTITION BY lh ORDER BY doc_id, line_idx)
               AS rn
      FROM l)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed_lines,
       floor(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 10000.0 / count(*)
             + 0.5) / 10000 AS removed_line_frac,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS BIGINT)
         AS tokens_kept
FROM r GROUP BY doc_id
""",
)
def dedup_lines_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet / C4-style line-level dedup — the first pass a
    CommonCrawl-scale pipeline actually runs (Wenzek et al. 2020 §2.1
    dedups paragraph hashes; C4 keeps one copy of any repeated
    three-sentence span): hash every normalized line, keep only the
    corpus-wide FIRST occurrence of each line hash (order (doc_id,
    line_idx)), and report per document how much of it was removed —
    line count, removed-line count and fraction, token count, and tokens
    surviving.  The synthetic corpus carries no newlines, so a "line" is
    a consecutive non-overlapping 16-word segment (the final
    partial segment counts) — unlike ``text_chunk_windows``'s overlapping
    64/48 windows, these tile the document exactly, so token accounting
    is exact.  This completes the dedup-granularity ladder: whole-doc
    digest → line → 64/48 chunk → substring span → semantic.

    Exactness: line hashes are full md5 over the identical sliced-words
    string on both engines (birthday-safe as a dedup key, unlike the
    32-bit h32); keep-first order is the deterministic (doc_id,
    line_idx); all counts integers; the one fraction quantizes to the
    1e-4 grid.

    Scale (100 TB): one narrow corpus scan → bounded explode (one row
    per 16 input words, carrying a hash + a token count, never
    line text) → ONE hash-keyed window (the same shuffle exact dedup
    pays) → per-doc rollup.  No self-join, no all-pairs anywhere; hot
    boilerplate lines cost one window partition each."""
    t = Catalog(spark, sf_dir)
    L = _LINE_LEN
    wn = (
        _doc_words(t)
        .select("doc_id", F.expr("filter(w, x -> x <> '')").alias("w"))
        .filter(F.size("w") >= 1)
        .select("doc_id", "w", F.size("w").cast("long").alias("n"))
    )
    inst = wn.select(
        "doc_id",
        "n",
        "w",
        F.explode(F.expr(f"sequence(0, cast((n - 1) div {L} as int))")).alias(
            "li"
        ),
    ).select(
        "doc_id",
        F.col("li").cast("long").alias("line_idx"),
        F.least(F.lit(L), F.col("n") - F.col("li") * L)
        .cast("long")
        .alias("n_toks"),
        F.md5(
            F.expr(f"concat_ws(' ', slice(w, li * {L} + 1, {L}))")
        ).alias("lh"),
    )
    r = inst.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("lh").orderBy("doc_id", "line_idx")),
    )
    return r.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_removed_lines"),
        (
            F.floor(
                F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
                * 10000.0
                / F.count(F.lit(1))
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("removed_line_frac"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )


@register("corpus_bpe_encode")
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — encode the corpus with the merge table
    ``corpus_bpe_merges`` learns, completing the tokenizer story: per
    document, whitespace-token count, BPE-piece count under the learned
    merges, and pieces-per-word (the compression a tokenizer report
    tracks; with only 10 learned merges the pieces sit near character
    granularity, exactly as the real curve starts).

    Rows-only by design (like the learner): the merge table is itself the
    output of the 10-round iterative argmax, so no single SQL statement
    reproduces it; the encoding is pinned end-to-end against a pure-Python
    learn-then-encode in tests/test_r8_semantics.py.

    Encoding semantics: merges apply IN RANK ORDER, each as one greedy
    left-to-right pass over the word's symbol array — the identical
    CASE/HOF fold the learner uses between rounds, so learn-state and
    apply-state agree by construction (reference shape: vocabulary
    encoding /root/reference/src/data/preprocessors.py:210-248).

    Scale (100 TB): the 10-row merge table is driver-held and inlined as
    literals (the GD-calibrator pattern); encoding runs ONCE PER DISTINCT
    WORD (the vocabulary table, orders of magnitude smaller than the
    corpus) as one 10-deep HOF projection, then a hash join fans the
    per-word piece count back onto word occurrences and one per-doc
    aggregate sums them.  The corpus text is scanned once."""
    merges = sorted(
        corpus_bpe_merges(spark, sf_dir).collect(), key=lambda r: r.rank
    )
    t = Catalog(spark, sf_dir)
    occ = (
        _doc_words(t)
        .select("doc_id", F.explode("w").alias("word"))
        .filter(F.col("word") != "")
    )
    expr = "split(word, '')"
    for row in merges:
        # symbols are [a-z0-9]+ so embedding the literals in SQL is safe;
        # CASE, not AND: ANSI element_at throws on an empty accumulator
        expr = (
            f"aggregate({expr}, cast(array() as array<string>), (acc, s) ->"
            " case when size(acc) = 0 then array(s)"
            f" when element_at(acc, -1) = '{row.left}' and s = '{row.right}'"
            f" then concat(slice(acc, 1, size(acc) - 1), array('{row.merged}'))"
            " else concat(acc, array(s)) end)"
        )
    enc = (
        occ.select("word")
        .distinct()
        .select("word", F.size(F.expr(expr)).cast("long").alias("n_pieces"))
    )
    return (
        occ.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            (
                F.floor(
                    F.col("n_bpe_tokens") * 10000.0 / F.col("n_words")
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("pieces_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# embedding compression evaluations (Matryoshka truncation, binary
# sign quantization) and DSIR importance weighting


_MRL_DIMS = (8, 16, 32)  # truncation prefixes evaluated against full 64-d


@register(
    "similarity_matryoshka_eval",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nb,
         {", ".join(
             f"round(list_dot_product(a.emb[1:{d}], b.emb[1:{d}])"
             f" / (sqrt(list_dot_product(a.emb[1:{d}], a.emb[1:{d}]))"
             f"    * sqrt(list_dot_product(b.emb[1:{d}], b.emb[1:{d}]))), 4)"
             f" AS c{d}" for d in (8, 16, 32))},
         round(list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))), 4) AS c64
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
r AS (
  SELECT vec_id, nb,
         {", ".join(
             f"row_number() OVER (PARTITION BY vec_id"
             f" ORDER BY c{d} DESC, nb) AS r{d}" for d in (8, 16, 32, 64))}
  FROM p),
h AS (
  SELECT vec_id,
         {", ".join(
             f"sum(CASE WHEN r{d} <= 5 AND r64 <= 5 THEN 1 ELSE 0 END)"
             f" AS h{d}" for d in (8, 16, 32))}
  FROM r GROUP BY vec_id),
u AS (
  SELECT 8 AS trunc_dim, h8 AS hits FROM h
  UNION ALL SELECT 16, h16 FROM h
  UNION ALL SELECT 32, h32 FROM h)
SELECT CAST(trunc_dim AS BIGINT) AS trunc_dim,
       CAST(count(*) AS BIGINT) AS n_vectors,
       floor(sum(hits) * 10000.0 / (5 * count(*)) + 0.5) / 10000
         AS mean_recall5,
       floor(sum(CASE WHEN hits = 5 THEN 1 ELSE 0 END) * 10000.0
             / count(*) + 0.5) / 10000 AS frac_perfect
FROM u GROUP BY 1
""",
)
def similarity_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation ablation (Kusupati et al. 2022): score exact
    cosine top-5 retrieval using only the FIRST 8/16/32 dimensions of the
    64-d embedding against the full-dimension top-5, reporting per
    truncation the mean recall@5 and the fraction of query vectors whose
    top-5 is preserved perfectly.  This is the standard report backing the
    "truncate stored vectors to d'" decision a 100 TB vector-store owner
    makes: it quantifies exactly what first-stage retrieval quality each
    prefix length buys.

    Exactness: all four cosines per pair are computed with the shared
    sequential-fold dot product and 4dp-quantized before ranking, ties
    break on neighbor id, recall ratios quantize to the 1e-4 grid — every
    comparison engine-independent.

    Scale: ONE O(n²·d) pair scan (the documented sampled-oracle regime —
    at 100 TB this runs on a query sample, like ``similarity_topk_cosine``)
    evaluates ALL prefix lengths at once: prefix dot products share the
    broadcast+partitioned pair join, each pair row carries 4 cosines, and
    the four rankings reuse one hash exchange on vec_id (same partition
    key, per-ranking sort only).  Output is 3 aggregate rows."""
    t = Catalog(spark, sf_dir)
    dims = list(_MRL_DIMS)
    e = _embeddings(t)
    sel = ["vec_id", "emb", F.col("nrm").alias("n64")]
    for d in dims:
        sel.append(
            F.sqrt(
                _dot(f"slice(emb, 1, {d})", f"slice(emb, 1, {d})")
            ).alias(f"n{d}")
        )
    e = e.select(*sel)
    # The four prefix dot products come from ONE product array with
    # chained partial sums at 8/16/32/64: a left fold of the next slice
    # seeded with the previous checkpoint IS the longer prefix fold's
    # intermediate accumulator, so every cosine stays bit-identical to the
    # oracle's independent per-slice folds at half the multiply-add count.
    # Each checkpoint is referenced twice (next checkpoint + its cosine),
    # which keeps CollapseProject from inlining the non-cheap aggregates —
    # each partial sum is evaluated once per pair row.
    norms = [
        F.col(f"a.n{d}").alias(f"an{d}") for d in dims + [64]
    ] + [F.col(f"b.n{d}").alias(f"bn{d}") for d in dims + [64]]
    half = (
        _pair_scan(
            e, F.expr("zip_with(a.emb, b.emb, (x,y) -> x*y)").alias("prods"), *norms
        )
        .withColumn(
            "s8",
            F.expr(
                "aggregate(slice(prods, 1, 8),"
                " cast(0.0 as double), (acc,v) -> acc+v)"
            ),
        )
        .withColumn(
            "s16", F.expr("aggregate(slice(prods, 9, 8), s8, (acc,v) -> acc+v)")
        )
        .withColumn(
            "s32", F.expr("aggregate(slice(prods, 17, 16), s16, (acc,v) -> acc+v)")
        )
        .withColumn(
            "s64", F.expr("aggregate(slice(prods, 33, 32), s32, (acc,v) -> acc+v)")
        )
        .select(
            "id_lo",
            "id_hi",
            *[
                r4(F.col(f"s{d}") / (F.col(f"an{d}") * F.col(f"bn{d}"))).alias(
                    f"c{d}"
                )
                for d in dims + [64]
            ],
        )
    )
    ranked = _both_directions(half, *[f"c{d}" for d in dims + [64]])
    for d in dims + [64]:
        ranked = _vec_rank(ranked, f"r{d}", F.col(f"c{d}").desc())
    per = ranked.groupBy("vec_id").agg(
        *[
            F.sum(
                F.when((F.col(f"r{d}") <= 5) & (F.col("r64") <= 5), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"h{d}")
            for d in dims
        ]
    )
    stacked = per.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("long").alias("trunc_dim"),
                        F.col(f"h{d}").alias("hits"),
                    )
                    for d in dims
                ]
            )
        ).alias("s")
    ).select("s.*")
    n = F.count(F.lit(1))
    return stacked.groupBy("trunc_dim").agg(
        n.cast("long").alias("n_vectors"),
        (F.floor(F.sum("hits") * 10000.0 / (5 * n) + F.lit(0.5)) / 10000.0).alias(
            "mean_recall5"
        ),
        (
            F.floor(
                F.sum(F.when(F.col("hits") == 5, 1).otherwise(0)) * 10000.0 / n
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("frac_perfect"),
    )


@register(
    "similarity_hamming_binary",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nb,
         CAST(len(list_filter(range(1, 65),
                  i -> (a.emb[i] > 0) <> (b.emb[i] > 0))) AS BIGINT) AS ham,
         round(list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))), 4) AS c64
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
r AS (
  SELECT vec_id, nb, ham,
         row_number() OVER (PARTITION BY vec_id ORDER BY ham, nb) AS rh,
         row_number() OVER (PARTITION BY vec_id ORDER BY c64 DESC, nb) AS rc
  FROM p),
h AS (
  SELECT vec_id,
         sum(CASE WHEN rh <= 5 AND rc <= 5 THEN 1 ELSE 0 END) AS hits,
         sum(CASE WHEN rh <= 5 THEN ham ELSE 0 END) AS ham5
  FROM r GROUP BY vec_id)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       floor(sum(hits) * 10000.0 / (5 * count(*)) + 0.5) / 10000
         AS mean_recall5,
       floor(sum(CASE WHEN hits = 5 THEN 1 ELSE 0 END) * 10000.0
             / count(*) + 0.5) / 10000 AS frac_perfect,
       floor(sum(ham5) * 10000.0 / (5 * count(*)) + 0.5) / 10000
         AS mean_hamming_top5
FROM h
""",
)
def similarity_hamming_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign) quantization retrieval evaluation: collapse each 64-d
    float embedding to 64 sign bits (1 bit per dimension — a 256x storage
    reduction) and score exact Hamming-distance top-5 retrieval against
    full-precision cosine top-5.  Reports mean recall@5, the fraction of
    queries whose top-5 survives intact, and the mean Hamming distance of
    retrieved neighbors — the go/no-go report for the cheapest first-stage
    filter a 100 TB vector store can run (bitwise XOR + popcount).

    Exactness: Hamming distances are pure integers (sign tests on exact
    doubles, identical on both engines — no zero-valued components exist
    in the corpus and 0 compares identically anyway); cosine ranking uses
    the shared 4dp-quantized fold; ratios quantize to the 1e-4 grid.

    Scale: one O(n²·d) pair scan (sampled-oracle regime at scale, like
    ``similarity_topk_cosine``) carries both the bit distance and the
    cosine, so the comparison costs one extra integer fold per pair; both
    rankings reuse a single hash exchange on vec_id.  Production form
    packs the 64 bits into one BIGINT and XOR/popcounts — the ranking
    this query certifies is identical."""
    t = Catalog(spark, sf_dir)
    ham = F.expr(
        "aggregate(zip_with(a.emb, b.emb,"
        " (x, y) -> case when (x > 0d) = (y > 0d) then 0 else 1 end),"
        " 0, (acc, v) -> acc + v)"
    ).cast("long")
    half = _pair_scan(
        _embeddings(t), ham.alias("ham"), _cos_ab().alias("_cos")
    ).select("id_lo", "id_hi", "ham", r4("_cos").alias("c64"))
    # Hamming and cosine are both symmetric
    ranked = _vec_rank(
        _vec_rank(_both_directions(half, "ham", "c64"), "rh", "ham"),
        "rc",
        F.col("c64").desc(),
    )
    h = ranked.groupBy("vec_id").agg(
        F.sum(F.when((F.col("rh") <= 5) & (F.col("rc") <= 5), 1).otherwise(0))
        .cast("long")
        .alias("hits"),
        F.sum(F.when(F.col("rh") <= 5, F.col("ham")).otherwise(0))
        .cast("long")
        .alias("ham5"),
    )
    n = F.count(F.lit(1))
    return h.agg(
        n.cast("long").alias("n_vectors"),
        (F.floor(F.sum("hits") * 10000.0 / (5 * n) + F.lit(0.5)) / 10000.0).alias(
            "mean_recall5"
        ),
        (
            F.floor(
                F.sum(F.when(F.col("hits") == 5, 1).otherwise(0)) * 10000.0 / n
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("frac_perfect"),
        (
            F.floor(F.sum("ham5") * 10000.0 / (5 * n) + F.lit(0.5)) / 10000.0
        ).alias("mean_hamming_top5"),
    )


_DSIR_B = 1024  # hashed-feature buckets
_DSIR_TARGET = ("src0", "src1", "src2", "src3")  # the "curated" target pool


@register(
    "corpus_dsir_weights",
    oracle=f"""
WITH d AS (SELECT doc_id, source, {_DUCK_WORDS} AS w FROM documents),
i AS (
  SELECT doc_id,
         CASE WHEN source IN {repr(tuple(_DSIR_TARGET))} THEN 1 ELSE 0 END
           AS is_t,
         CAST(('0x' || substr(md5(w[k] || ' ' || w[k+1]), 1, 8)) AS BIGINT)
           % {_DSIR_B} AS bucket
  FROM d, unnest(range(1, len(w))) AS u(k)),
g AS (SELECT bucket, sum(is_t) AS ct, sum(1 - is_t) AS cs
      FROM i GROUP BY bucket),
tot AS (SELECT sum(is_t) AS nt, sum(1 - is_t) AS ns FROM i),
q AS (
  SELECT bucket,
         CAST(floor(ln(((ct + 1) * 1.0 / (nt + {_DSIR_B}))
                       / ((cs + 1) * 1.0 / (ns + {_DSIR_B})))
                    * 10000 + 0.5) AS BIGINT) AS qterm
  FROM g, tot),
dc AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
       FROM i GROUP BY 1, 2),
per AS (SELECT doc_id, sum(cnt * qterm) AS lw,
               CAST(sum(cnt) AS BIGINT) AS n_feats
        FROM dc JOIN q USING (bucket) GROUP BY doc_id)
SELECT per.doc_id,
       CAST(CASE WHEN documents.source IN {repr(tuple(_DSIR_TARGET))}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_target,
       n_feats,
       lw / 10000.0 AS log_weight,
       lw > 0 AS keep
FROM per JOIN documents USING (doc_id)
""",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, Data Selection via
    Importance Resampling): score every document by how much it looks
    like a designated target pool, using hashed word-bigram features —
    per doc, log-importance = sum over its bigrams of
    ln(p_target(bucket) / p_raw(bucket)) with add-1 smoothing over
    {_DSIR_B} hash buckets.  ``keep`` (log-weight > 0) is the selection a
    DSIR-style pretraining pipeline resamples by; target pool here is the
    four ``src0..src3`` sources (the curated-corpus stand-in).

    Exactness: every per-bucket log-ratio is computed from exact integer
    counts and quantized to the 1e-4 BIGINT grid ONCE per bucket; the
    per-doc score is then an integer multiply-add (count x qterm), so the
    sum is order-free and engine-independent — identical ln-input doubles
    on both engines (one composite ratio of exact integer divisions), the
    entropy-family precedent.

    Scale (100 TB): the corpus is scanned once into (doc, bucket)
    instances; the model is a {_DSIR_B}-row bucket table (two partial
    aggregates + a 1-row total, broadcast back); the per-doc score is one
    keyed aggregate over (doc, bucket) counts joined to the tiny bucket
    table.  No all-pairs anything; shuffles carry bucket/doc keys only.
    Docs with no bigram (zero or one token) have no features and are
    absent, as in the paper's n-gram model."""
    t = Catalog(spark, sf_dir)
    is_t = F.col("source").isin(*_DSIR_TARGET).cast("long")
    n_parts = t.spark.sparkContext.defaultParallelism
    d = (
        t.documents.repartition(n_parts, "doc_id")
        .select("doc_id", is_t.alias("is_t"), F.split(_norm_text(), " ").alias("w"))
    )
    i = d.select(
        "doc_id",
        "is_t",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " k -> concat_ws(' ', w[k], w[k + 1]))"
            )
        ).alias("bigram"),
    ).select("doc_id", "is_t", (h32(F.col("bigram")) % _DSIR_B).alias("bucket"))
    g = i.groupBy("bucket").agg(
        F.sum("is_t").alias("ct"), F.sum(1 - F.col("is_t")).alias("cs")
    )
    tot = i.agg(
        F.sum("is_t").alias("nt"), F.sum(1 - F.col("is_t")).alias("ns")
    )
    pt = (F.col("ct") + 1) * F.lit(1.0) / (F.col("nt") + F.lit(_DSIR_B))
    ps = (F.col("cs") + 1) * F.lit(1.0) / (F.col("ns") + F.lit(_DSIR_B))
    q = g.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(F.log(pt / ps) * 10000 + F.lit(0.5)).cast("long").alias("qterm"),
    )
    dc = i.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    per = (
        dc.join(F.broadcast(q), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("qterm")).alias("lw"),
            F.sum("cnt").cast("long").alias("n_feats"),
        )
    )
    return per.join(
        t.documents.select("doc_id", is_t.alias("is_target")), "doc_id"
    ).select(
        "doc_id",
        F.col("is_target").cast("long").alias("is_target"),
        "n_feats",
        (F.col("lw") / F.lit(10000.0)).alias("log_weight"),
        (F.col("lw") > 0).alias("keep"),
    )


@register(
    "dedup_lsh_calibration",
    oracle=f"""
WITH {_DUCK_SHINGLES},
{_duck_sig()},
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(({" + ".join(f"CASE WHEN a.m{s} = b.m{s} THEN 1 ELSE 0 END" for s in range(_N_MINHASH))}) / {_N_MINHASH}.0, 4) AS est_jaccard
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {" OR ".join(f"(a.m{2 * b} = b.m{2 * b} AND a.m{2 * b + 1} = b.m{2 * b + 1})" for b in range(_N_MINHASH // 2))}),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
cp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
tj AS (
  SELECT cand.est_jaccard,
         COALESCE(cp.n_common * 1.0 / (sa.sz + sb.sz - cp.n_common), 0.0)
           AS jac
  FROM cand
  LEFT JOIN cp ON cand.doc_a = cp.doc_a AND cand.doc_b = cp.doc_b
  JOIN sz sa ON cand.doc_a = sa.doc_id
  JOIN sz sb ON cand.doc_b = sb.doc_id)
SELECT est_jaccard, CAST(count(*) AS BIGINT) AS n_pairs,
       floor(sum(CAST(floor(jac * 10000 + 0.5) AS BIGINT)) * 1.0
             / count(*) + 0.5) / 10000 AS mean_true_jaccard,
       CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_dups
FROM tj GROUP BY 1
""",
)
def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration — for every LSH candidate pair the
    banded index surfaces, compare the signature-estimated Jaccard
    (matching minhash fraction, 9 possible levels with 8 hashes) against
    the TRUE shingle Jaccard, grouped by estimate level: pair count, mean
    true similarity, and how many are real near-dups (true >= 0.5).  This
    is the tuning report behind the band/row configuration choice: it
    shows directly how much each estimate level can be trusted and where
    the candidate precision cliff sits.  (The recall side — true dups the
    bands MISS — reads off ``dedup_pipeline_report``'s in_jaccard-without-
    in_lsh cell.)

    Exactness: estimate levels are exact k/8 grid points; each true
    Jaccard quantizes to the 1e-4 BIGINT grid before the mean (order-free
    integer sum, then one identical division); the dup threshold compares
    the same exact integer-derived ratio as ``dedup_jaccard_pairs``.
    Candidates whose docs share no shingle (possible only via h32
    collisions) count as true Jaccard 0 on both engines.

    Scale (100 TB): candidates come from the band buckets (never
    all-pairs); true Jaccard is computed ONLY for candidate pairs, by
    joining each pair to the two docs' distinct-shingle sets (bounded by
    document length) and intersecting — a hot shingle shared by k
    non-candidate docs costs nothing here, unlike a shingle-keyed
    co-occurrence self-join which would emit k²/2 pair rows regardless of
    candidacy.  The report is one 9-row aggregate."""
    t = Catalog(spark, sf_dir)
    # ONE shingle pass (text scan + normalize + 3-gram explode),
    # checkpointed, feeds BOTH the banded candidate generation (min() is
    # duplicate-insensitive, so the non-distinct table is fine there) and
    # the per-doc distinct-shingle sets scored below
    sh_all = materialize(_doc_shingles(t, distinct=False))
    cand = _minhash_candidates(sh_all)
    arr = sh_all.groupBy("doc_id").agg(F.collect_set("shingle").alias("shs"))
    tj = (
        cand.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sha")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shb")),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sha", "shb")).cast("long"))
        .select(
            "est_jaccard",
            (
                F.col("n_common")
                * F.lit(1.0)
                / (F.size("sha") + F.size("shb") - F.col("n_common"))
            ).alias("jac"),
        )
    )
    n = F.count(F.lit(1))
    return tj.groupBy("est_jaccard").agg(
        n.cast("long").alias("n_pairs"),
        (
            F.floor(
                F.sum(F.floor(F.col("jac") * 10000 + F.lit(0.5)).cast("long"))
                * F.lit(1.0)
                / n
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("mean_true_jaccard"),
        F.sum(F.when(F.col("jac") >= 0.5, 1).otherwise(0))
        .cast("long")
        .alias("n_true_dups"),
    )


_MIX_ALPHA = 0.7  # temperature exponent (T5 / Pile-style mixture)


@register(
    "corpus_mixture_temperature",
    oracle=f"""
WITH d AS (SELECT doc_id, source,
                  len(list_filter({_DUCK_WORDS}, x -> x <> '')) AS n_tok
           FROM documents),
s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM d GROUP BY source),
q AS (SELECT source, n_docs, n_tokens,
             CAST(floor(pow(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA})
                        * 10000 + 0.5) AS BIGINT) AS qw
      FROM s),
tot AS (SELECT sum(qw) AS sqw, sum(n_tokens) AS t FROM q)
SELECT source, n_docs, n_tokens,
       floor(n_tokens * 10000.0 / t + 0.5) / 10000 AS raw_share,
       floor(qw * 10000.0 / sqw + 0.5) / 10000 AS temp_share,
       floor((qw * 1.0 * t) / (sqw * 1.0 * n_tokens) * 10000 + 0.5) / 10000
         AS epochs
FROM q, tot
""",
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled source mixture design (the T5 / Pile recipe):
    per source, token counts and the sampling share under
    weight ∝ n_tokens^{_MIX_ALPHA}, plus the implied repetition factor
    ("epochs") if the full corpus token budget were drawn at those
    shares — the one-table answer to "how hard does temperature sampling
    upweight my small sources, and how many times will each be repeated".
    Epochs > 1 on small sources is exactly the over-sampling a mixture
    designer is trading off against duplication harm.

    Exactness: token counts are integers; each pow(tokens, alpha) term is
    quantized to the 1e-4 BIGINT grid once per source, so shares and
    epochs are ratios of exact integers (one identically-ordered double
    expression per column on both engines).

    Scale (100 TB): one narrow corpus scan into per-source token sums
    (map-side partial), a ~|sources|-row weight table, one broadcast of a
    1-row total.  Nothing touches the corpus twice."""
    t = Catalog(spark, sf_dir)
    d = _doc_words(t).select(
        "doc_id", F.size(F.expr("filter(w, x -> x <> '')")).alias("n_tok")
    ).join(t.documents.select("doc_id", "source"), "doc_id")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    q = s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA)) * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("qw"),
    )
    tot = q.agg(F.sum("qw").alias("sqw"), F.sum("n_tokens").alias("t"))
    return q.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.floor(F.col("n_tokens") * 10000.0 / F.col("t") + F.lit(0.5)) / 10000.0).alias(
            "raw_share"
        ),
        (F.floor(F.col("qw") * 10000.0 / F.col("sqw") + F.lit(0.5)) / 10000.0).alias(
            "temp_share"
        ),
        (
            F.floor(
                (F.col("qw") * F.lit(1.0) * F.col("t"))
                / (F.col("sqw") * F.lit(1.0) * F.col("n_tokens"))
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("epochs"),
    )


_DOREMI_STEPS = 8  # exponentiated-gradient rounds
_DOREMI_CLIP = 30_000  # excess clip, 1e-4 bits (3 bits): g9 <= 8e9 so
#                        w*g9 <= 8e18 stays inside BIGINT
# smoothing c = 0.1 and the uniform init both derive from the ACTUAL
# source count K at run time (1e8 // K and 1e9 // K nano-units), in the
# Spark driver loop and the oracle's kk CTE alike — hardcoding K would
# silently denormalize the mixture if the corpus ever changes shape


def _bigram_cond_nl_scores(t: Catalog) -> DataFrame:
    """Per-document CONDITIONAL bigram LM sufficient statistics:
    (doc_id, n_bigrams, nl_sum) where nl_sum is the BIGINT sum of each
    bigram's −log2 p(w2|w1) = −log2(cf(w1 w2) / cf(w1)) quantized to
    the 1e4 integer grid — the proper next-token LM the DoReMi excess
    compares against the unigram proxy (``_bigram_nl_scores``'s JOINT
    surprisal is per-bigram, not per-token, so it is incommensurate
    with a per-token unigram loss).  cf(w1) counts bigram first
    positions, so the conditional rows sum to a true probability."""
    bg = (
        _doc_words(t)
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w)-2),"
                    " i -> struct(w[i] as w1,"
                    " concat_ws(' ', w[i], w[i+1]) as bigram))"
                )
            ).alias("x"),
        )
        .select("doc_id", "x.w1", "x.bigram")
    )
    tf = bg.groupBy("doc_id", "w1", "bigram").agg(
        F.count(F.lit(1)).alias("tf")
    )
    cf2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cf2"))
    cf1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cf1"))
    q = (
        tf.join(cf2, "bigram")
        .join(cf1, "w1")
        .select(
            "doc_id",
            "tf",
            F.floor(
                -F.log2(F.col("cf2") * F.lit(1.0) / F.col("cf1")) * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("nlq"),
        )
    )
    return q.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("nlq")).alias("nl_sum"),
    )


def _doremi_oracle() -> str:
    """The full {_DOREMI_STEPS}-step DoReMi trajectory as a DuckDB CTE
    chain: per-source unigram (proxy) and conditional-bigram (reference)
    LM losses -> clipped excess -> the static per-step multiplier g9 ->
    {_DOREMI_STEPS} unrolled multiply/normalize/smooth rounds in BIGINT
    nano-weights (the quality_classifier_gd discipline).  The 20-row
    per-source base is MATERIALIZED and every step CTE is referenced
    exactly once (normalization via a window sum) — a step that
    re-referenced its predecessor twice would re-inline the corpus
    scans 2^steps times."""
    head = f"""
WITH wds AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents),
tok AS (SELECT doc_id, word FROM wds WHERE word <> ''),
utf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
ucf AS (SELECT word, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY 1),
unt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
uq AS (SELECT utf.doc_id, utf.tf,
              CAST(floor(-log2(ucf.cf * 1.0 / unt.total) * 10000 + 0.5)
                   AS BIGINT) AS nlq
       FROM utf JOIN ucf USING (word) CROSS JOIN unt),
ud AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
              CAST(sum(tf * nlq) AS BIGINT) AS nl_sum
       FROM uq GROUP BY 1),
us AS (SELECT d.source, CAST(sum(ud.n_tokens) AS BIGINT) AS n_tokens,
              CAST(floor(CAST(sum(ud.nl_sum) AS DOUBLE)
                         / CAST(sum(ud.n_tokens) AS BIGINT) + 0.5)
                   AS BIGINT) AS u4
       FROM ud JOIN documents d USING (doc_id) GROUP BY 1),
bw AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
bg AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS bigram
       FROM bw, unnest(range(1, len(w))) AS u(i)
       WHERE len(w) >= 2),
btf AS (SELECT doc_id, w1, bigram, CAST(count(*) AS BIGINT) AS tf
        FROM bg GROUP BY 1, 2, 3),
bcf AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cf2 FROM bg GROUP BY 1),
bc1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS cf1 FROM bg GROUP BY 1),
bq AS (SELECT btf.doc_id, btf.tf,
              CAST(floor(-log2(bcf.cf2 * 1.0 / bc1.cf1) * 10000 + 0.5)
                   AS BIGINT) AS nlq
       FROM btf JOIN bcf USING (bigram) JOIN bc1 USING (w1)),
bd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
              CAST(sum(tf * nlq) AS BIGINT) AS nl_sum
       FROM bq GROUP BY 1),
bs AS (SELECT d.source,
              CAST(floor(CAST(sum(bd.nl_sum) AS DOUBLE)
                         / CAST(sum(bd.n_bigrams) AS BIGINT) + 0.5)
                   AS BIGINT) AS b4
       FROM bd JOIN documents d USING (doc_id) GROUP BY 1),
gt AS MATERIALIZED (
  SELECT us.source, us.n_tokens, us.u4, bs.b4,
         greatest(CAST(0 AS BIGINT), us.u4 - bs.b4) AS e4,
         CAST(floor(pow(CAST(2 AS DOUBLE),
                        CAST(least(greatest(CAST(0 AS BIGINT),
                                            us.u4 - bs.b4),
                                   {_DOREMI_CLIP}) AS DOUBLE)
                        / 10000) * 1000000000 + 0.5)
              AS BIGINT) AS g9
  FROM us JOIN bs USING (source)),
kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM gt),
dw0 AS (SELECT source, g9, CAST(1000000000 // kk.k AS BIGINT) AS w
        FROM gt, kk)"""
    step = """,
dw{i} AS (SELECT source, g9,
                 CAST(floor(CAST(900000000 AS DOUBLE) * u
                            / (sum(u) OVER ()) + 0.5)
                      AS BIGINT)
                 + (SELECT CAST(100000000 // k AS BIGINT) FROM kk) AS w
          FROM (SELECT source, g9,
                       CAST((w * g9 + 500000000) // 1000000000
                            AS BIGINT) AS u
                FROM dw{prev}) q{i})"""
    sql = head
    for i in range(1, _DOREMI_STEPS + 1):
        sql += step.format(i=i, prev=i - 1)
    sql += f"""
SELECT gt.source, gt.n_tokens,
       round(gt.u4 / 10000.0, 4) AS uni_bits,
       round(gt.b4 / 10000.0, 4) AS bi_bits,
       round(gt.e4 / 10000.0, 4) AS excess_bits,
       CAST(fw.w AS BIGINT) AS w_nano,
       round(fw.w / 1000000000.0, 4) AS weight
FROM gt JOIN dw{_DOREMI_STEPS} fw USING (source)
"""
    return sql


@register("corpus_doremi_weights", oracle=_doremi_oracle())
def corpus_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style learned source-mixture weights (Xie et al. 2023) —
    the learned counterpart of the static ``corpus_mixture_temperature``
    recipe.  Per source, the excess loss of the weaker proxy LM over the
    stronger reference LM is the engine's own unigram-vs-bigram score
    gap: mean per-token −log2 p under ``_unigram_nl_scores`` minus the
    mean per-token CONDITIONAL −log2 p(w2|w1) under
    ``_bigram_cond_nl_scores`` (both 1e-4-integer-quantized; floored at
    0 per the paper, clipped at 3 bits as the multiplier's overflow
    guard) — exactly DoReMi's signal "domains where the reference model
    beats the proxy hardest are the domains with the most learnable
    headroom".  Then {_DOREMI_STEPS} rounds of the DoReMi update: w_k <-
    w_k · 2^excess_k, normalize, and mix 10% uniform smoothing
    back in (the paper's exp(η·λ) exponentiated-gradient step in base 2
    with η folded into the exponent, since cross-engine pow-of-2 is the
    proven primitive here).  Emits per source: token mass, both LM
    losses, the excess, and the final weight — read next to
    ``corpus_mixture_temperature``'s temp_share to see where learned
    reweighting disagrees with size-based temperature sampling.

    Honest stand-in, documented: real DoReMi retrains the proxy under
    the evolving weights each round, so the excess losses move; with a
    fixed corpus-statistics LM pair the per-round multiplier is static
    and only the normalize+smooth recursion evolves the trajectory.
    The update rule, state discipline, and output contract are the
    paper's.

    Exactness: the trajectory is the quality_classifier_gd discipline —
    weights are driver-held BIGINT nano-units; the one transcendental
    (the per-source multiplier g9 = floor(2^(e4/1e4)·1e9 + 0.5)) is
    computed ENGINE-SIDE from the integer excess on both sides; each
    round is then one integer multiply-shift and one identically-
    structured double normalize, so the whole trajectory is
    reproducible bit-for-bit in the oracle's unrolled CTE chain.

    Scale: two corpus-term aggregates (Zipf-compact term tables, term-
    keyed joins, never all-pairs) collapse to ONE 20-row per-source
    table; the {_DOREMI_STEPS}-round loop runs on the driver over those
    20 integers — no per-step Spark job, no fact-scale state.

    Reference parity: the reference's mixture design is static
    per-category sampling in /root/reference/src/data/loaders.py; this
    adds the learned-reweighting layer the 100 TB curation stack uses."""
    t = Catalog(spark, sf_dir)
    src = t.documents.select("doc_id", "source")
    us = (
        _unigram_nl_scores(t)
        .join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.floor(
                F.sum("nl_sum").cast("double") / F.sum("n_tokens")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("u4"),
        )
    )
    bs = (
        _bigram_cond_nl_scores(t)
        .join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.floor(
                F.sum("nl_sum").cast("double") / F.sum("n_bigrams")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("b4"),
        )
    )
    e4 = F.greatest(F.lit(0).cast("long"), F.col("u4") - F.col("b4"))
    gt = materialize(
        us.join(bs, "source")
        .select(
            "source",
            "n_tokens",
            "u4",
            "b4",
            e4.alias("e4"),
            F.floor(
                F.pow(
                    F.lit(2.0),
                    F.least(e4, F.lit(_DOREMI_CLIP).cast("long")).cast(
                        "double"
                    )
                    / 10000,
                )
                * 1000000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("g9"),
        )
    )
    # the trajectory: driver-held BIGINT nano-weights over the bounded
    # 20-row source table (the quality_classifier_gd state discipline)
    g9 = {r["source"]: r["g9"] for r in gt.select("source", "g9").collect()}
    n_src = len(g9)
    smooth = 100_000_000 // n_src
    w = {k: 1_000_000_000 // n_src for k in g9}
    for _ in range(_DOREMI_STEPS):
        u = {k: (w[k] * g9[k] + 500_000_000) // 1_000_000_000 for k in w}
        z = sum(u.values())
        w = {
            k: int(math.floor(900000000.0 * u[k] / z + 0.5)) + smooth
            for k in w
        }
    wmap = F.create_map(
        *[F.lit(x) for k in sorted(w) for x in (k, w[k])]
    )
    wcol = wmap[F.col("source")].cast("long")
    return gt.select(
        "source",
        "n_tokens",
        r4(F.col("u4") / 10000.0).alias("uni_bits"),
        r4(F.col("b4") / 10000.0).alias("bi_bits"),
        r4(F.col("e4") / 10000.0).alias("excess_bits"),
        wcol.alias("w_nano"),
        r4(wcol / 1000000000.0).alias("weight"),
    )


_VG_BUCKETS = 20  # doc-id range buckets for the growth curve


@register(
    "corpus_vocab_growth",
    oracle=f"""
WITH d AS (SELECT doc_id,
                  len(list_filter({_DUCK_WORDS}, x -> x <> '')) AS n_tok,
                  list_filter({_DUCK_WORDS}, x -> x <> '') AS w
           FROM documents),
mx AS (SELECT max(doc_id) + 1 AS n FROM d),
b AS (SELECT doc_id, n_tok, w,
             least({_VG_BUCKETS - 1}, (doc_id * {_VG_BUCKETS}) // n)
               AS bucket
      FROM d, mx),
inst AS (SELECT DISTINCT bucket, unnest(w) AS word FROM b),
fw AS (SELECT word, min(bucket) AS first_bucket FROM inst GROUP BY word),
nw AS (SELECT first_bucket AS bucket, CAST(count(*) AS BIGINT) AS n_new_words
       FROM fw GROUP BY 1),
bs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS n_tokens
       FROM b GROUP BY bucket),
j AS (SELECT bs.bucket, n_docs, n_tokens,
             CAST(COALESCE(nw.n_new_words, 0) AS BIGINT) AS n_new_words
      FROM bs LEFT JOIN nw ON bs.bucket = nw.bucket)
SELECT bucket, n_docs, n_tokens, n_new_words,
       CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS tokens_cum,
       CAST(sum(n_new_words) OVER (ORDER BY bucket) AS BIGINT) AS vocab_cum
FROM j
""",
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): cut the corpus into
    {_VG_BUCKETS} doc-id range slices and report, per slice, token volume,
    NEW distinct words first seen in that slice, and the cumulative
    (tokens, vocabulary) curve — the log-log plot a corpus analyst fits
    Heaps' exponent to, and the practical answer to "is new data still
    contributing vocabulary or only repetition".

    Exactness: every column is an exact integer — no floats anywhere
    (first occurrence is a min over bucket indices; cumulative sums are
    integer prefix sums over the {_VG_BUCKETS}-row bucket table).

    Scale (100 TB): one corpus scan into (bucket, word) DISTINCT
    instances (shuffle carries distinct words per bucket, not tokens);
    first-occurrence is one word-keyed min; everything after runs on the
    {_VG_BUCKETS}-row bucket table, where the unpartitioned cumulative
    window is a documented bounded-domain exemption."""
    t = Catalog(spark, sf_dir)
    d = _doc_words(t).select(
        "doc_id", F.expr("filter(w, x -> x <> '')").alias("w")
    )
    mx = d.agg((F.max("doc_id") + 1).alias("n"))
    b = d.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        F.size("w").alias("n_tok"),
        "w",
        F.least(
            F.lit(_VG_BUCKETS - 1),
            F.expr(f"(doc_id * {_VG_BUCKETS}) div n"),
        ).alias("bucket"),
    )
    inst = b.select("bucket", F.explode("w").alias("word")).distinct()
    fw = inst.groupBy("word").agg(F.min("bucket").alias("first_bucket"))
    nw = fw.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new_words")
    )
    bs = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    j = bs.join(nw, "bucket", "left").select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.coalesce(F.col("n_new_words"), F.lit(0)).cast("long").alias("n_new_words"),
    )
    w_cum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return j.select(
        "bucket",
        "n_docs",
        "n_tokens",
        "n_new_words",
        F.sum("n_tokens").over(w_cum).cast("long").alias("tokens_cum"),
        F.sum("n_new_words").over(w_cum).cast("long").alias("vocab_cum"),
    )


_RRF_K = 60  # reciprocal-rank-fusion damping constant (Cormack et al. 2009)


@register(
    "search_hybrid_rrf",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents),
tok AS (SELECT doc_id, term FROM w WHERE term <> ''),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN {repr(tuple(_BM25_TERMS))}
  GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * ((tf.tf * {_BM25_K1 + 1.0}) /
              (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * (dl.dl / stats.avgdl))))
           * 10000 + 0.5) AS BIGINT) AS s4
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats),
total AS (SELECT doc_id, sum(s4) AS sq FROM scored GROUP BY doc_id),
lexr AS (SELECT doc_id, row_number() OVER (ORDER BY sq DESC, doc_id) AS rnk
         FROM total),
lex10 AS (SELECT doc_id, CAST(rnk AS BIGINT) AS rnk FROM lexr WHERE rnk <= 10),
sem0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
qv AS (SELECT emb AS qe FROM sem0 WHERE vec_id = 0),
cs AS (
  SELECT s.vec_id AS doc_id,
         round(list_dot_product(s.emb, qv.qe)
               / (sqrt(list_dot_product(s.emb, s.emb))
                  * sqrt(list_dot_product(qv.qe, qv.qe))), 4) AS cos
  FROM sem0 s, qv WHERE s.vec_id <> 0),
semr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rnk
         FROM cs),
sem10 AS (SELECT doc_id, CAST(rnk AS BIGINT) AS rnk FROM semr WHERE rnk <= 10),
u AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.rnk AS lex_rank, s.rnk AS sem_rank
  FROM lex10 l FULL JOIN sem10 s ON l.doc_id = s.doc_id),
f AS (
  SELECT doc_id, lex_rank, sem_rank,
         COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + lex_rank) + 0.5)
                       AS BIGINT), 0)
       + COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + sem_rank) + 0.5)
                       AS BIGINT), 0) AS q
  FROM u),
r AS (SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rnk FROM f)
SELECT doc_id, lex_rank, sem_rank, q / 1000000.0 AS rrf,
       CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 10
""",
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009 —
    the standard RAG first-stage fusion): fuse the BM25 lexical top-10
    for the fixed term query with the embedding-cosine top-10 for the
    fixed query vector (vec 0) by rrf(d) = sum over lists of
    1/({_RRF_K} + rank_d), and return the fused top-10 with each source
    rank exposed (NULL where a list didn't surface the doc).  Completes
    the retrieval story: BM25 (lexical), cosine/IVF/LSH (semantic), and
    the fusion layer a production search stack puts on top.

    Exactness: both source rankings are the engine's already-verified
    quantized rankings (BM25 integer scores; 4dp cosine, ties by id); each
    reciprocal quantizes to the 1e-6 integer grid before the sum, so the
    fused score is an exact integer and ties break by doc_id.

    Scale (100 TB): each source list is a TakeOrdered-limited top-10 (the
    BM25 term filter is the inverted index; the cosine scan is one
    broadcast-query pass over the vector table — IVF-bucketed at scale);
    fusion is a full-outer join of two 10-row lists and a rank over <= 20
    rows (documented bounded-domain window exemption)."""
    t = Catalog(spark, sf_dir)
    lex10 = text_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("lex_rank")
    )
    e = _embeddings(t)
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("qe"), F.col("nrm").alias("qn")
    )
    cs = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (_dot("emb", "qe") / (F.col("nrm") * F.col("qn"))).alias("_cos"),
        )
        .select("doc_id", r4("_cos").alias("cos"))
    )
    sem10 = (
        cs.withColumn(
            "sem_rank",
            F.row_number()
            .over(W.orderBy(F.col("cos").desc(), "doc_id"))
            .cast("long"),
        )
        .filter(F.col("sem_rank") <= 10)
        .select("doc_id", "sem_rank")
    )
    u = lex10.join(sem10, "doc_id", "full")
    rq = lambda r: F.coalesce(  # noqa: E731
        F.floor(F.lit(1000000.0) / (F.lit(_RRF_K) + r) + F.lit(0.5)).cast("long"),
        F.lit(0),
    )
    f = u.select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (rq(F.col("lex_rank")) + rq(F.col("sem_rank"))).alias("q"),
    )
    return (
        f.withColumn(
            "rnk",
            F.row_number().over(W.orderBy(F.col("q").desc(), "doc_id")).cast("long"),
        )
        .filter(F.col("rnk") <= 10)
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (F.col("q") / 1000000.0).alias("rrf"),
            "rnk",
        )
    )


_MMR_LAMBDA = 0.7  # relevance weight
_MMR_MU = 0.3  # redundancy penalty weight (lambda + mu = 1; kept as an
# explicit literal so BOTH engines interpolate the exact same double —
# deriving it as 1 - lambda quantized to one decimal would silently
# mis-weight any two-decimal lambda in both engines at once)
_MMR_TOPC = 10  # candidate pool per query (the cosine top-10)
_MMR_K = 5  # greedy selections per query


def _duck_mmr_steps() -> str:
    """The {_MMR_K}-step greedy MMR chain as DuckDB CTEs over
    ``cand(vec_id, nb, rel)`` and ``ps(vec_id, d, s, sim)`` — step 1
    picks on 0.7·rel − 0.3·0, each later step anti-joins the running
    selection, takes max sim to it, and re-picks; every step CTE is
    MATERIALIZED (each is referenced twice downstream, and DuckDB
    re-inlines non-materialized CTEs exponentially).

    The sim lookup is a LEFT join from the remaining candidates to
    (ps ⋈ selection): a candidate with NO sim row to any selected doc
    survives with maxsel NULL and scores with a COALESCE(maxsel, 0)
    penalty — the same no-contribution convention the Spark loop's
    null-tolerant ``greatest`` accumulation and coalesce-in-score use.
    Today ``ps`` is complete over the candidate pool so the join can
    never miss, but if pool construction ever sparsifies ``ps`` (e.g.
    thresholded sims) an inner join would become a silent candidate
    filter in the oracle only — this keeps both engines aligned."""
    parts = [
        f"""pick1 AS MATERIALIZED (
  SELECT vec_id, nb, rel,
         CAST({_MMR_LAMBDA} AS DOUBLE) * rel
           - CAST({_MMR_MU} AS DOUBLE) * CAST(0 AS DOUBLE)
           AS score, 1 AS mmr_rank
  FROM (SELECT vec_id, nb, rel,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY rel DESC, nb) AS rn
        FROM cand) WHERE rn = 1),
sel1 AS MATERIALIZED (SELECT vec_id, nb, rel, score, mmr_rank FROM pick1)"""
    ]
    for k in range(2, _MMR_K + 1):
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT c.vec_id, c.nb, c.rel, max(pq.sim) AS maxsel
  FROM cand c
  LEFT JOIN sel{k - 1} x ON x.vec_id = c.vec_id AND x.nb = c.nb
  LEFT JOIN (SELECT ps.vec_id, ps.d, ps.sim
             FROM ps JOIN sel{k - 1} s
               ON s.vec_id = ps.vec_id AND s.nb = ps.s) pq
    ON pq.vec_id = c.vec_id AND pq.d = c.nb
  WHERE x.nb IS NULL
  GROUP BY 1, 2, 3),
pick{k} AS MATERIALIZED (
  SELECT vec_id, nb, rel, score, {k} AS mmr_rank
  FROM (SELECT vec_id, nb, rel,
               CAST({_MMR_LAMBDA} AS DOUBLE) * rel
                 - CAST({_MMR_MU} AS DOUBLE)
                   * COALESCE(maxsel, CAST(0 AS DOUBLE)) AS score,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY CAST({_MMR_LAMBDA} AS DOUBLE) * rel
                                           - CAST({_MMR_MU} AS DOUBLE)
                                             * COALESCE(maxsel,
                                                        CAST(0 AS DOUBLE))
                                           DESC, nb) AS rn
        FROM m{k}) WHERE rn = 1),
sel{k} AS MATERIALIZED (SELECT * FROM sel{k - 1}
        UNION ALL SELECT vec_id, nb, rel, score, mmr_rank FROM pick{k})"""
        )
    return ",\n".join(parts)


@register(
    "search_mmr_rerank",
    oracle=f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings),
p AS MATERIALIZED (
  SELECT a.vec_id, b.vec_id AS nb,
         round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS co
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
cand AS MATERIALIZED (
  SELECT vec_id, nb, co AS rel FROM (
    SELECT vec_id, nb, co,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY co DESC, nb) AS rn
    FROM p) WHERE rn <= {_MMR_TOPC}),
ps AS MATERIALIZED (
  SELECT c1.vec_id, c1.nb AS d, c2.nb AS s, p.co AS sim
  FROM cand c1
  JOIN cand c2 ON c2.vec_id = c1.vec_id AND c2.nb <> c1.nb
  JOIN p ON p.vec_id = c1.nb AND p.nb = c2.nb),
{_duck_mmr_steps()}
SELECT vec_id, CAST(mmr_rank AS BIGINT) AS mmr_rank, nb,
       rel, round(score, 4) AS score
FROM sel{_MMR_K}
""",
)
def search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified re-ranking (Carbonell &
    Goldstein 1998) — the standard RAG read-path step after retrieval:
    from each query's cosine top-{_MMR_TOPC} candidate pool, greedily
    select {_MMR_K} documents maximizing λ·sim(q, d) − (1−λ)·max_{{s ∈
    selected}} sim(d, s) with λ = {_MMR_LAMBDA}, so the context window
    gets relevant-but-non-redundant passages instead of five copies of
    the same near-duplicate.  Completes the read path ladder
    ``text_bm25_topk`` → ``search_hybrid_rrf`` → diversified re-rank.

    Exactness: all similarities live on the r4 grid with doc-id
    tie-breaks (``similarity_topk_cosine``'s contract); each greedy step
    scores with one identically-structured float expression over those
    quantized doubles; step 1's penalty term is an explicit 0 so the
    emitted score column is the same definition at every rank.

    Scale: the greedy loop runs ENTIRELY on the executors as one SQL
    ``aggregate`` fold per query (the ``tokenizer_unigram_encode``
    discipline) over a CANDIDATES-ONLY state — {_MMR_TOPC}
    candidates per query plus their pairwise sims as a bounded map from
    one lookup join — so the whole selection is a single groupBy +
    projection, never a corpus rescan and never {_MMR_K} driver round
    trips.  The all-pairs cosine feeding the pool is the documented
    sampled-oracle regime (production pools come from the IVF/LSH/BM25
    paths).

    Reference parity: the diversified top-k selection a user of
    /root/reference/src/models/cold_start_solutions.py's candidate-pool
    ranking composes downstream of retrieval."""
    t = Catalog(spark, sf_dir)
    e = materialize(_embeddings(t))
    half = _pair_scan(e, _cos_ab().alias("_co")).select(
        "id_lo", "id_hi", r4("_co").alias("co")
    )
    cand = materialize(
        _vec_rank(_both_directions(half, "co"), "rn", F.col("co").desc(), k=_MMR_TOPC)
        .select("vec_id", "nb", F.col("co").alias("rel")),
        "vec_id",
    )
    # candidate-pair sims recomputed from the broadcast embedding table
    # ({_MMR_TOPC}²-ish rows per query), NOT by re-joining the O(n²) pair
    # table on a new key — the dot/divide commutes elementwise, so these
    # are the identical r4 doubles the pool ranking used
    c1, c2 = cand.alias("c1"), cand.alias("c2")
    ps = (
        c1.join(
            c2,
            (F.col("c2.vec_id") == F.col("c1.vec_id"))
            & (F.col("c2.nb") != F.col("c1.nb")),
        )
        .select(
            F.col("c1.vec_id").alias("vec_id"),
            F.col("c1.nb").alias("d"),
            F.col("c2.nb").alias("s"),
        )
        .join(
            F.broadcast(
                e.select(
                    F.col("vec_id").alias("d"),
                    F.col("emb").alias("demb"),
                    F.col("nrm").alias("dnrm"),
                )
            ),
            "d",
        )
        .join(
            F.broadcast(
                e.select(
                    F.col("vec_id").alias("s"),
                    F.col("emb").alias("semb"),
                    F.col("nrm").alias("snrm"),
                )
            ),
            "s",
        )
        .select(
            "vec_id",
            "d",
            "s",
            (
                _dot("demb", "semb") / (F.col("dnrm") * F.col("snrm"))
            ).alias("_sim"),
        )
        .select("vec_id", "d", "s", r4("_sim").alias("sim"))
    )
    # a fold (the tokenizer_unigram_encode discipline): the greedy
    # selection is PER-QUERY-LOCAL over a bounded
    # pool — {_MMR_TOPC} candidates and their {_MMR_TOPC}² pairwise sims —
    # so the {_MMR_K} driver-side rounds (each a window + two joins + an
    # eager checkpoint over the full candidate table) collapse into ONE
    # executor-side SQL ``aggregate`` fold per query.  Every float op is
    # the identical expression on the identical r4-grid doubles, in the
    # identical order: step score λ·rel − μ·coalesce(maxsel, 0), argmax
    # with (score desc, nb asc) tie-break, maxsel ← greatest(maxsel, sim).
    # maxsel still starts NULL (not 0.0): cosine can be negative, and a
    # zero seed would floor the true max over the selected set.
    cg = cand.groupBy("vec_id").agg(
        F.expr("array_sort(collect_list(struct(nb, rel)))").alias("cands")
    )
    sg = ps.groupBy("vec_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.concat_ws("_", "d", "s").alias("k"),
                    F.col("sim").alias("v"),
                )
            )
        ).alias("smap")
    )
    _sc_cc = (
        f"({_MMR_LAMBDA}D * cc.rel - {_MMR_MU}D * coalesce(cc.maxsel, 0.0D))"
    )
    _skey = (
        "concat(cast(c.nb as string), '_', cast(b.nb as string))"
    )
    # the 1-element-array aggregate is a let-binding: it names this
    # round's pick ``b`` (nb + its selection score) so the state update
    # references it without recomputing the argmax per candidate
    fold_sql = f"""
    aggregate(
      sequence(1, {_MMR_K}),
      transform(cands, c -> named_struct(
        'nb', c.nb, 'rel', c.rel,
        'maxsel', cast(null as double),
        'mmr_rank', cast(null as int),
        'score', cast(null as double))),
      (st, k) -> aggregate(
        array(
          aggregate(
            transform(filter(st, c -> c.mmr_rank is null),
                      cc -> named_struct('nb', cc.nb, 'sc', {_sc_cc})),
            cast(null as struct<nb: bigint, sc: double>),
            (bb, cc2) -> case
              when bb is null then cc2
              when cc2.sc > bb.sc
                   or (cc2.sc = bb.sc and cc2.nb < bb.nb) then cc2
              else bb end)
        ),
        st,
        (s2, b) -> case when b is null then s2 else
          transform(s2, c -> case
            when c.mmr_rank is not null then c
            when c.nb = b.nb then named_struct(
              'nb', c.nb, 'rel', c.rel, 'maxsel', c.maxsel,
              'mmr_rank', k, 'score', b.sc)
            else named_struct(
              'nb', c.nb, 'rel', c.rel,
              'maxsel', case when c.maxsel is null
                then element_at(smap, {_skey})
                else greatest(c.maxsel, element_at(smap, {_skey})) end,
              'mmr_rank', c.mmr_rank, 'score', c.score)
            end)
        end)
    )"""
    folded = (
        cg.join(sg, "vec_id", "left")
        .withColumn(
            "smap",
            F.coalesce("smap", F.expr("cast(map() as map<string, double>)")),
        )
        .select("vec_id", F.expr(fold_sql).alias("sel"))
    )
    return folded.select(
        "vec_id",
        F.explode(
            F.expr("filter(sel, c -> c.mmr_rank is not null)")
        ).alias("c"),
    ).select(
        "vec_id",
        F.col("c.mmr_rank").cast("long").alias("mmr_rank"),
        F.col("c.nb").alias("nb"),
        F.col("c.rel").alias("rel"),
        r4(F.col("c.score")).alias("score"),
    )


@register(
    "corpus_source_report",
    oracle=f"""
WITH tokw AS (SELECT doc_id, source, {_DUCK_WORDS} AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS term FROM tokw),
t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         floor(sum(length(term)) * 10000.0 / count(*) + 0.5) / 10000
           AS mean_word_len,
         floor(sum(CASE WHEN regexp_matches(term, '[a-z]') THEN 1 ELSE 0 END)
               * 10000.0 / count(*) + 0.5) / 10000 AS alpha_frac,
         CAST(sum(CASE WHEN term IN {repr(tuple(_GOPHER_STOPWORDS))}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
  FROM t GROUP BY doc_id),
sym AS (
  SELECT doc_id,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_sym
  FROM documents),
g AS (
  SELECT s.doc_id, s.n_words,
         CASE WHEN s.n_words BETWEEN 50 AND 100000
               AND s.mean_word_len BETWEEN 3 AND 10
               AND s.alpha_frac >= 0.8
               AND s.n_stop >= 2
               AND floor(sym.n_sym * 10000.0 / s.n_words + 0.5) <= 1000
              THEN 1 ELSE 0 END AS g_keep
  FROM s JOIN sym USING (doc_id)),
dg AS (SELECT doc_id, source, md5({_DUCK_NORM}) AS text_hash
       FROM documents),
dup AS (
  SELECT doc_id,
         CASE WHEN count(*) OVER (PARTITION BY text_hash) > 1
              THEN 1 ELSE 0 END AS is_dup
  FROM dg),
i AS (
  SELECT doc_id,
         CASE WHEN source IN {repr(tuple(_DSIR_TARGET))} THEN 1 ELSE 0 END
           AS is_t,
         CAST(('0x' || substr(md5(w[k] || ' ' || w[k+1]), 1, 8)) AS BIGINT)
           % {_DSIR_B} AS bucket
  FROM tokw, unnest(range(1, len(w))) AS u(k)),
gb AS (SELECT bucket, sum(is_t) AS ct, sum(1 - is_t) AS cs
       FROM i GROUP BY bucket),
tot AS (SELECT sum(is_t) AS nt, sum(1 - is_t) AS ns FROM i),
q AS (
  SELECT bucket,
         CAST(floor(ln(((ct + 1) * 1.0 / (nt + {_DSIR_B}))
                       / ((cs + 1) * 1.0 / (ns + {_DSIR_B})))
                    * 10000 + 0.5) AS BIGINT) AS qterm
  FROM gb, tot),
dc AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
       FROM i GROUP BY 1, 2),
dsir AS (SELECT doc_id,
                CASE WHEN sum(cnt * qterm) > 0 THEN 1 ELSE 0 END AS d_keep
         FROM dc JOIN q USING (bucket) GROUP BY doc_id)
SELECT dg.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(COALESCE(g.n_words, 0)) AS BIGINT) AS n_tokens,
       floor(sum(COALESCE(g.g_keep, 0)) * 10000.0 / count(*) + 0.5) / 10000
         AS gopher_keep_rate,
       floor(sum(COALESCE(dsir.d_keep, 0)) * 10000.0 / count(*) + 0.5) / 10000
         AS dsir_keep_rate,
       floor(sum(dup.is_dup) * 10000.0 / count(*) + 0.5) / 10000
         AS dup_doc_rate
FROM dg
LEFT JOIN g ON dg.doc_id = g.doc_id
LEFT JOIN dsir ON dg.doc_id = dsir.doc_id
JOIN dup ON dg.doc_id = dup.doc_id
GROUP BY dg.source
""",
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source corpus report card — the one-table weekly dashboard
    a curation team reads before adjusting a mixture: per source, doc and
    token volume, the Gopher hard-rule pass rate, the DSIR keep rate
    (target-likeness), and the exact-duplicate document rate.  Composes
    three independently-oracled members (``text_gopher_rules``,
    ``corpus_dsir_weights``, ``dedup_exact_docs``'s digest construction)
    by doc-level join + one per-source rollup, so every rate reconciles
    against its member query by construction.

    Exactness: member flags are the members' own exact 0/1 columns; rates
    quantize to the 1e-4 grid.  Docs too short to produce features
    (absent from a member's output) count as 0-flags via the same LEFT
    JOIN + COALESCE on both engines.

    Scale (100 TB): each member is its already-audited plan (narrow maps,
    bucket-keyed aggregates — no all-pairs anything); the composition
    adds three doc-keyed joins and one ~|sources|-row aggregate."""
    t = Catalog(spark, sf_dir)
    g = text_gopher_rules(spark, sf_dir).select(
        "doc_id", "n_words", F.col("keep").alias("g_keep")
    )
    d = corpus_dsir_weights(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("long").alias("d_keep")
    )
    dg = t.documents.select(
        "doc_id", "source", F.md5(_norm_text()).alias("text_hash")
    )
    dup = dg.select(
        "doc_id",
        (
            F.count(F.lit(1)).over(W.partitionBy("text_hash")) > 1
        )
        .cast("long")
        .alias("is_dup"),
    )
    n = F.count(F.lit(1))
    rate = lambda c: (  # noqa: E731
        F.floor(F.sum(c) * 10000.0 / n + F.lit(0.5)) / 10000.0
    )
    return (
        dg.select("doc_id", "source")
        .join(g, "doc_id", "left")
        .join(d, "doc_id", "left")
        .join(dup, "doc_id")
        .groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("n_words"), F.lit(0)))
            .cast("long")
            .alias("n_tokens"),
            rate(F.coalesce(F.col("g_keep"), F.lit(0))).alias("gopher_keep_rate"),
            rate(F.coalesce(F.col("d_keep"), F.lit(0))).alias("dsir_keep_rate"),
            rate(F.col("is_dup")).alias("dup_doc_rate"),
        )
    )


@register(
    "corpus_source_kl",
    oracle=f"""
WITH tok AS (SELECT source, unnest({_DUCK_WORDS}) AS term FROM documents),
t AS (SELECT source, term FROM tok WHERE term <> ''),
sw AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
       FROM t GROUP BY 1, 2),
cw AS (SELECT term, CAST(sum(c) AS BIGINT) AS cc FROM sw GROUP BY 1),
ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
              CAST(count(*) AS BIGINT) AS nd
       FROM sw GROUP BY 1),
nc AS (SELECT CAST(sum(cc) AS BIGINT) AS n_c FROM cw),
q AS (
  SELECT sw.source,
         CAST(floor((sw.c * 1.0 / ns.n_s)
                    * ln((sw.c * 1.0 / ns.n_s) / (cw.cc * 1.0 / nc.n_c))
                    * 100000000 + 0.5) AS BIGINT) AS qt
  FROM sw JOIN cw USING (term) JOIN ns USING (source), nc)
SELECT q.source, any_value(ns.n_s) AS n_tokens,
       any_value(ns.nd) AS n_distinct_words,
       sum(qt) / 100000000.0 AS kl_nats
FROM q JOIN ns USING (source)
GROUP BY q.source
""",
)
def corpus_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distributional distinctiveness: KL(P_source || P_corpus)
    over unigram word distributions — the standard domain-shift measure a
    mixture designer reads next to the temperature shares (a source with
    near-zero KL adds volume but no diversity; a high-KL source shifts
    the blend).  No smoothing is needed: every source word exists in the
    corpus distribution by construction, so the log ratio is always
    finite.

    Exactness: all probabilities are exact integer-count ratios with
    identical expression structure on both engines; each word's
    p*ln(p/q) contribution is quantized to the 1e-8 BIGINT grid before
    the per-source sum, so the aggregation is an order-free integer add
    (the entropy-family technique at a finer grid — per-term magnitudes
    are O(1/vocab)).

    Scale (100 TB): one corpus scan into (source, word) counts (map-side
    partial), a word-keyed join of the per-source vocabulary against the
    corpus vocabulary (shuffle carries distinct words, never tokens), a
    |sources|-row rollup.  The 1-row corpus total broadcasts."""
    t = Catalog(spark, sf_dir)
    n_parts = t.spark.sparkContext.defaultParallelism
    tokens = (
        t.documents.repartition(n_parts, "doc_id")
        .select("source", F.explode(F.split(_norm_text(), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    sw = tokens.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cw = sw.groupBy("term").agg(F.sum("c").cast("long").alias("cc"))
    ns = sw.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    nc = cw.agg(F.sum("cc").cast("long").alias("n_c"))
    ps = F.col("c") * F.lit(1.0) / F.col("n_s")
    pc = F.col("cc") * F.lit(1.0) / F.col("n_c")
    q = (
        sw.join(cw, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nc))
        .select(
            "source",
            F.floor(ps * F.log(ps / pc) * F.lit(100000000) + F.lit(0.5))
            .cast("long")
            .alias("qt"),
        )
    )
    return (
        q.groupBy("source")
        .agg(F.sum("qt").alias("sq"))
        .join(F.broadcast(ns), "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.col("nd").alias("n_distinct_words"),
            (F.col("sq") / F.lit(100000000.0)).alias("kl_nats"),
        )
    )


@register(
    "dedup_chunk_incremental",
    oracle=f"""
WITH {_DUCK_CHUNK_HASHES.strip()},
mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
base AS (SELECT DISTINCT chunk_hash FROM ch, mx WHERE doc_id * 5 < n * 4),
inc AS (SELECT doc_id, chunk_hash FROM ch, mx WHERE doc_id * 5 >= n * 4),
per AS (
  SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN b.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit
  FROM inc i LEFT JOIN base b ON i.chunk_hash = b.chunk_hash
  GROUP BY i.doc_id)
SELECT doc_id, n_chunks, n_hit,
       floor(n_hit * 10000.0 / n_chunks + 0.5) / 10000 AS hit_frac,
       floor(n_hit * 10000.0 / n_chunks + 0.5) >= 5000 AS is_dup
FROM per
""",
)
def dedup_chunk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental chunk-level dedup — the ingestion-time form of
    ``dedup_chunk_hashes``: treat the last 20% of the doc-id range as the
    INCOMING batch and the first 80% as the established corpus whose
    distinct chunk-hash index is already stored; report, per incoming
    doc, how many of its chunks already exist in the index, the hit
    fraction, and the >= 50% is_dup verdict an ingestion gate would act
    on.  Completes the incremental family (``dedup_incremental_vs_
    snapshot`` does the same at whole-doc digest granularity).

    Exactness: set membership over the shared 32-bit chunk hash; the one
    ratio quantizes to the 1e-4 grid and the verdict compares the
    quantized integer on both engines.

    Scale (100 TB): the index side is a distinct-hash table (8 bytes per
    ~48 corpus tokens); the probe is a hash-keyed LEFT join of the
    incoming batch's chunk instances — exactly the lookup an ingestion
    pipeline does against its stored index, no all-pairs anything."""
    ch = text_chunk_windows(spark, sf_dir).select("doc_id", "chunk_hash")
    t = Catalog(spark, sf_dir)
    mx = t.documents.agg((F.max("doc_id") + 1).alias("n"))
    chm = ch.crossJoin(F.broadcast(mx))
    base = (
        chm.filter(F.col("doc_id") * 5 < F.col("n") * 4)
        .select("chunk_hash")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    inc = chm.filter(F.col("doc_id") * 5 >= F.col("n") * 4).select(
        "doc_id", "chunk_hash"
    )
    per = (
        inc.join(base, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
    )
    hq = F.floor(F.col("n_hit") * 10000.0 / F.col("n_chunks") + F.lit(0.5))
    return per.select(
        "doc_id",
        "n_chunks",
        "n_hit",
        (hq / 10000.0).alias("hit_frac"),
        (hq >= 5000).alias("is_dup"),
    )


@register(
    "embedding_int8_ranking",
    oracle="""
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         CAST(list_min(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS mn,
         CAST(list_max(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS mx
  FROM embeddings
), s AS (
  SELECT vec_id, emb, mn, greatest((mx - mn) / 255.0, 1e-12) AS scale
  FROM e0
), e AS (
  SELECT vec_id, emb,
         list_transform(emb, x -> mn + round((x - mn) / scale) * scale)
           AS rec
  FROM s
), p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nb,
         round(list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))), 4) AS co,
         round(list_dot_product(a.rec, b.rec)
               / (sqrt(list_dot_product(a.rec, a.rec))
                  * sqrt(list_dot_product(b.rec, b.rec))), 4) AS cq
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
), r AS (
  SELECT vec_id, nb,
         row_number() OVER (PARTITION BY vec_id ORDER BY co DESC, nb) AS ro,
         row_number() OVER (PARTITION BY vec_id ORDER BY cq DESC, nb) AS rq
  FROM p
), h AS (
  SELECT vec_id,
         sum(CASE WHEN ro <= 5 AND rq <= 5 THEN 1 ELSE 0 END) AS hits
  FROM r GROUP BY vec_id)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       floor(sum(hits) * 10000.0 / (5 * count(*)) + 0.5) / 10000
         AS mean_recall5,
       floor(sum(CASE WHEN hits = 5 THEN 1 ELSE 0 END) * 10000.0
             / count(*) + 0.5) / 10000 AS frac_perfect
FROM h
""",
)
def embedding_int8_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization retrieval fidelity — completes the compression
    evaluation trilogy (Matryoshka truncation, sign-bit Hamming, int8):
    reconstruct every embedding through ``embedding_quantize_int8``'s
    per-vector affine min/max codes and score exact cosine top-5
    retrieval in the RECONSTRUCTED space against the full-precision
    ranking.  Where the int8 query reports per-component reconstruction
    error, this reports what a vector-store owner actually needs to know:
    whether the 4x-smaller codes return the same neighbors.

    Exactness: reconstruction uses the identical mn/scale/round()
    expressions as the oracled int8 query (8 rounds of cross-engine
    round() precedent on this data); both cosines use the shared
    sequential fold, 4dp quantization, id tie-breaks; rates quantize to
    the 1e-4 grid.

    Scale: one O(n²·d) pair scan carrying both cosines (sampled-oracle
    regime at 100 TB, like every exact retrieval evaluation here); both
    rankings share a single hash exchange on vec_id."""
    t = Catalog(spark, sf_dir)
    e = _embeddings(t).select(
        "vec_id",
        "emb",
        "nrm",
        F.array_min("emb").alias("mn"),
        F.array_max("emb").alias("mx"),
    )
    e = e.withColumn(
        "scale",
        F.greatest((F.col("mx") - F.col("mn")) / F.lit(255.0), F.lit(1e-12)),
    ).withColumn(
        "rec", F.expr("transform(emb, x -> mn + round((x - mn) / scale) * scale)")
    ).withColumn("rnrm", F.sqrt(_dot("rec", "rec")))
    half = _pair_scan(
        e,
        _cos_ab().alias("_co"),
        (_dot("a.rec", "b.rec") / (F.col("a.rnrm") * F.col("b.rnrm"))).alias("_cq"),
    ).select("id_lo", "id_hi", r4("_co").alias("co"), r4("_cq").alias("cq"))
    ranked = _vec_rank(
        _vec_rank(_both_directions(half, "co", "cq"), "ro", F.col("co").desc()),
        "rq",
        F.col("cq").desc(),
    )
    h = ranked.groupBy("vec_id").agg(
        F.sum(F.when((F.col("ro") <= 5) & (F.col("rq") <= 5), 1).otherwise(0))
        .cast("long")
        .alias("hits")
    )
    n = F.count(F.lit(1))
    return h.agg(
        n.cast("long").alias("n_vectors"),
        (F.floor(F.sum("hits") * 10000.0 / (5 * n) + F.lit(0.5)) / 10000.0).alias(
            "mean_recall5"
        ),
        (
            F.floor(
                F.sum(F.when(F.col("hits") == 5, 1).otherwise(0)) * 10000.0 / n
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("frac_perfect"),
    )


_PQ_M, _PQ_D, _PQ_K = 8, 8, 16  # subspaces × dims/subspace × codebook size


def _ivf_ranks(e: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, ccos, rn): every vector's full cosine ranking
    of the {_N_IVF_CENTROIDS} deterministic coarse centroids (the vectors
    with vec_id < {_N_IVF_CENTROIDS}; r4-quantized cosine ``ccos`` desc,
    centroid-id tie-break) — ONE definition of the assignment rule.  rn = 1
    is a vector's bucket (``similarity_ivf_bucketed``,
    ``dedup_semdedup_ivf``, ``similarity_ivfpq_topk``) and rn <= nprobe its
    probe set (``similarity_ivf_nprobe_sweep``, ``similarity_ivfpq_nprobe``),
    so a quantization or tie change can never desync them."""
    c = e.filter(F.col("vec_id") < _N_IVF_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    scored = (
        e.crossJoin(F.broadcast(c))
        .select(
            "vec_id",
            "centroid_id",
            (_dot("emb", "cemb") / (F.col("nrm") * F.col("cnrm"))).alias(
                "_ccos_raw"
            ),
        )
        .select("vec_id", "centroid_id", r4("_ccos_raw").alias("ccos"))
    )
    return _vec_rank(scored, "rn", F.col("ccos").desc(), nb="centroid_id")


def _ivf_buckets(e: DataFrame) -> DataFrame:
    """(vec_id, bucket_id, ccos): every vector's IVF bucket (rn = 1 of
    ``_ivf_ranks``), materialized once: a bucket pair scan reads it on
    both sides, and each lazy read would rerun the centroid cross join."""
    return materialize(
        _ivf_ranks(e)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("centroid_id").alias("bucket_id"), "ccos"),
        "vec_id",
    )


def _exact_topk(e: DataFrame, k: int) -> DataFrame:
    """(vec_id, nb, cos, rn): every vector's exact r4-cosine top-k over the
    whole corpus from ONE ``_pair_scan`` — the documented sampled-oracle
    ground truth that the IVF, PQ and graph indexes measure themselves
    against, one definition for all of them.  The O(n²) pair stream feeds
    exactly one window pass and is never materialized."""
    half = _pair_scan(e, _cos_ab().alias("_co")).select(
        "id_lo", "id_hi", r4("_co").alias("cos")
    )
    return _vec_rank(_both_directions(half, "cos"), "rn", F.col("cos").desc(), k=k)


def _pq_codes(vecs: DataFrame, vcol: str, tag: str | None = None) -> DataFrame:
    """(vec_id, rec): the PQ reconstruction of ``vecs[vcol]`` — each of
    the m={_PQ_M} 8-dim subvectors snapped to its nearest of K={_PQ_K}
    codewords, the codebook per subspace being the same-position
    subvectors of the K lowest-hash vectors (a deterministic, oracle-able
    k-means-seeding stand-in).  One encoder serves both inputs the
    composed index needs: raw embeddings and IVF residuals
    x − centroid(x) — pass ``tag`` to encode several variants in one
    pass (every tag shares the identical lowest-hash seed-ID table, the
    seeding hashes vec_id only; each tag's codebook is cut from its own
    tag's vectors; the output carries the tag column).

    The K-way argmin runs as a HOF fold over the collected 16-codeword
    array INSIDE each (vector, subspace) row — never as a K-fold row
    explode + window, which would shuffle n·m·K rows (the 100 TB killer
    shape for an encoder that should stream).  The fold compares the
    identical doubles (same dot order, ties broken by ascending codeword
    id via keep-first-minimum over the k-sorted array), so codes match
    the row_number-over-distances construction bit-for-bit — the DuckDB
    oracle keeps that spelled-out shape."""
    tg = tag if tag is not None else "_pqtag"
    if tag is None:
        vecs = vecs.withColumn(tg, F.lit(0))
    sid = (
        vecs.select("vec_id")
        .distinct()
        .select(
            F.col("vec_id").alias("k"),
            h32(F.col("vec_id").cast("string")).alias("hk"),
        )
        .orderBy("hk", "k")
        .limit(_PQ_K)
        .select("k")
    )
    # per (tag, s): the k-sorted 16-codeword array with hoisted <c,c>
    cba = (
        vecs.join(F.broadcast(sid), vecs["vec_id"] == sid["k"])
        .select(
            tg,
            "k",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {_PQ_M - 1}),"
                    f" s -> struct(s as s,"
                    f" slice({vcol}, s * {_PQ_D} + 1, {_PQ_D}) as c))"
                )
            ).alias("x"),
        )
        .select(tg, "k", "x.s", "x.c", _dot("x.c", "x.c").alias("cc"))
        .groupBy(tg, "s")
        .agg(
            F.expr("array_sort(collect_list(struct(k, c, cc)))").alias("cba")
        )
    )
    sub = vecs.select(
        tg,
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}),"
                f" s -> struct(s as s,"
                f" slice({vcol}, s * {_PQ_D} + 1, {_PQ_D}) as sub))"
            )
        ).alias("x"),
    ).select(
        tg, "vec_id", "x.s", "x.sub", _dot("x.sub", "x.sub").alias("ss")
    )
    # distances nested in a transform so each dot evaluates once (CSE does
    # not reach inside lambdas), then a keep-first-minimum fold over the
    # k-ascending array == row_number ordered by (d, k)
    best = sub.join(F.broadcast(cba), [tg, "s"]).select(
        tg,
        "vec_id",
        "s",
        F.expr(
            "aggregate("
            " transform(cba, x -> struct(x.c as c,"
            "   ss - 2 * aggregate(zip_with(sub, x.c, (p, q) -> p * q),"
            "     cast(0.0 as double), (a, v) -> a + v) + x.cc as d)),"
            " struct(cast(array() as array<double>) as c,"
            "        cast('Infinity' as double) as d),"
            " (acc, x) -> CASE WHEN x.d < acc.d THEN x ELSE acc END).c"
        ).alias("c"),
    )
    out = best.groupBy(tg, "vec_id").agg(
        F.expr(
            "flatten(transform(array_sort(collect_list(struct(s, c))),"
            " x -> x.c))"
        ).alias("rec")
    )
    return out.drop(tg) if tag is None else out


def _pq_reconstructed(e: DataFrame) -> DataFrame:
    """Product-quantize an ``_embeddings``-shaped table (vec_id, emb, nrm,
    qq) and return it extended with the PQ reconstruction of the RAW
    vectors (see ``_pq_codes``), plus rr = <rec, rec>.  Shared by
    ``embedding_pq_eval`` (compression fidelity) and
    ``similarity_ivfpq_topk`` (the composed IVF-PQ index eval), so both
    score the identical codes.

    The output is hash-partitioned on vec_id before its checkpoint: AQE
    would coalesce the tiny join output to few partitions, which would
    serialize any O(n²) probe scan built on top into a single task."""
    return materialize(
        e.join(_pq_codes(e, "emb"), "vec_id")
        .withColumn("rr", _dot("rec", "rec")),
        "vec_id",
    )


def _duck_pq_codes(src: str, vcol: str, p: str) -> str:
    """The ``_pq_codes`` codebook/encode/reconstruction chain as DuckDB
    CTEs over ``{src}(vec_id, {vcol}, ...)``, each CTE name prefixed with
    ``p`` so the raw and residual chains can coexist in one oracle.
    Ends with ``{p}recs(vec_id, rec)``."""
    return f"""
{p}seeds AS (
  SELECT vec_id AS k, {vcol} AS cemb
  FROM (SELECT vec_id, {vcol},
               {_duck_hash("CAST(vec_id AS VARCHAR)")} AS hk
        FROM {src})
  ORDER BY hk, vec_id LIMIT {_PQ_K}),
{p}cb AS (SELECT k, s, cemb[s * {_PQ_D} + 1 : s * {_PQ_D} + {_PQ_D}] AS c
       FROM {p}seeds, unnest(range(0, {_PQ_M})) AS u(s)),
{p}sub AS (SELECT vec_id, s,
                  {vcol}[s * {_PQ_D} + 1 : s * {_PQ_D} + {_PQ_D}] AS sub
        FROM {src}, unnest(range(0, {_PQ_M})) AS u(s)),
{p}dists AS (
  SELECT vec_id, s, k, c,
         list_dot_product(sub, sub) - 2 * list_dot_product(sub, c)
           + list_dot_product(c, c) AS d
  FROM {p}sub JOIN {p}cb USING (s)),
{p}asn AS (SELECT vec_id, s, c FROM (
          SELECT vec_id, s, c,
                 row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k)
                   AS rn
          FROM {p}dists) WHERE rn = 1),
{p}recs AS (SELECT vec_id, flatten(list(c ORDER BY s)) AS rec
         FROM {p}asn GROUP BY vec_id)"""


# the raw-vector chain of _pq_reconstructed, as DuckDB CTEs (expects an
# ``e(vec_id, emb, qq, nrm)`` CTE upstream)
_DUCK_PQ_RECS = f"""{_duck_pq_codes("e", "emb", "")},
r AS (SELECT e.vec_id, emb, qq, nrm, rec, list_dot_product(rec, rec) AS rr
      FROM e JOIN recs USING (vec_id))
"""


@register(
    "embedding_pq_eval",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS qq,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings),
{_DUCK_PQ_RECS},
mse AS (SELECT vec_id,
               CAST(floor((qq - 2 * list_dot_product(emb, rec) + rr)
                          / {_PQ_M * _PQ_D} * 10000 + 0.5) AS BIGINT) AS mseq
        FROM r),
p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nb,
             round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS co,
             round(a.qq - 2 * list_dot_product(a.emb, b.rec) + b.rr, 4) AS adc
      FROM r a JOIN r b ON a.vec_id <> b.vec_id),
rk AS (SELECT vec_id,
              row_number() OVER (PARTITION BY vec_id ORDER BY co DESC, nb)
                AS ro,
              row_number() OVER (PARTITION BY vec_id ORDER BY adc, nb) AS ra
       FROM p),
h AS (SELECT vec_id,
             sum(CASE WHEN ro <= 5 AND ra <= 5 THEN 1 ELSE 0 END) AS hits
      FROM rk GROUP BY vec_id)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       floor(sum(hits) * 10000.0 / (5 * count(*)) + 0.5) / 10000
         AS mean_recall5,
       floor(sum(CASE WHEN hits = 5 THEN 1 ELSE 0 END) * 10000.0 / count(*)
             + 0.5) / 10000 AS frac_perfect,
       floor(sum(mseq) * 1.0 / count(*) + 0.5) / 10000 AS mean_sq_err
FROM h JOIN mse USING (vec_id)
""",
)
def embedding_pq_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization retrieval fidelity — the fourth standard
    embedding-compression axis beside int8 scalar
    (``embedding_int8_ranking``), sign-bit binary
    (``similarity_hamming_binary``), and Matryoshka truncation
    (``similarity_matryoshka_eval``): split each 64-dim vector into
    m=8 subspaces of 8 dims, encode every subvector as its nearest of
    K=16 codewords, and score asymmetric-distance top-5 retrieval
    (full-precision query vs reconstructed database vectors, the ADC
    regime every IVF-PQ index serves) against exact cosine top-5, plus
    the mean squared reconstruction error.  The codebook per subspace is
    the subvectors of the K lowest-hash vectors — the deterministic
    stand-in for a k-means++ seeding pass that keeps the whole eval
    oracle-able (reference precedent for the SVD/cosine retrieval eval
    shape: /root/reference/src/models/cold_start_solutions.py:95-205).

    Exactness: squared L2 is everywhere the dot-product identity
    ||a||² - 2a·b + ||b||² over the shared sequential fold, so both
    engines derive codes, reconstructions, and distances from identical
    doubles; argmin tie-breaks on the codeword's seed id; ADC and cosine
    quantize to 4dp with id tie-breaks before ranking; the two summary
    rates and the MSE quantize to the 1e-4 grid per term.

    Scale (100 TB): encoding is a broadcast join of the m·K=128-row
    codebook against one bounded explode (m rows per vector) — map-side,
    no shuffle beyond the per-(vector, subspace) argmin window; codes are
    m bytes per vector.  The exact-cosine side and the all-pairs ADC scan
    are the documented sampled-oracle regime every retrieval eval here
    runs; a production index probes IVF buckets first
    (``similarity_ivf_bucketed``) and pays ADC only inside them."""
    t = Catalog(spark, sf_dir)
    e = materialize(_embeddings(t).withColumn("qq", _dot("emb", "emb")))
    r = _pq_reconstructed(e)
    mse = r.select(
        "vec_id",
        F.floor(
            (F.col("qq") - 2 * _dot("emb", "rec") + F.col("rr"))
            / F.lit(_PQ_M * _PQ_D)
            * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mseq"),
    )
    # ADC is asymmetric (full-precision query, reconstructed database
    # vector): each pair row carries both orientations' distances
    half = _pair_scan(
        r,
        _cos_ab().alias("_co"),
        (F.col("a.qq") - 2 * _dot("a.emb", "b.rec") + F.col("b.rr")).alias("_adc_ab"),
        (F.col("b.qq") - 2 * _dot("b.emb", "a.rec") + F.col("a.rr")).alias("_adc_ba"),
    ).select(
        "id_lo",
        "id_hi",
        r4("_co").alias("co"),
        r4("_adc_ab").alias("adc_ab"),
        r4("_adc_ba").alias("adc_ba"),
    )
    pairs = _both_directions(half, "co", adc=("adc_ab", "adc_ba"))
    ranked = _vec_rank(
        _vec_rank(pairs, "ro", F.col("co").desc()), "ra", "adc"
    )
    h = ranked.groupBy("vec_id").agg(
        F.sum(F.when((F.col("ro") <= 5) & (F.col("ra") <= 5), 1).otherwise(0))
        .cast("long")
        .alias("hits")
    )
    n = F.count(F.lit(1))
    return h.join(mse, "vec_id").agg(
        n.cast("long").alias("n_vectors"),
        (
            F.floor(F.sum("hits") * 10000.0 / (5 * n) + F.lit(0.5)) / 10000.0
        ).alias("mean_recall5"),
        (
            F.floor(
                F.sum(F.when(F.col("hits") == 5, 1).otherwise(0)) * 10000.0 / n
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("frac_perfect"),
        (F.floor(F.sum("mseq") * F.lit(1.0) / n + F.lit(0.5)) / 10000.0).alias(
            "mean_sq_err"
        ),
    )


@register(
    "similarity_ivfpq_topk",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS qq,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings),
{_DUCK_PQ_RECS},
c AS (SELECT vec_id AS centroid_id, emb AS cemb, nrm AS cnrm
      FROM e WHERE vec_id < {_N_IVF_CENTROIDS}),
assign0 AS (
  SELECT e.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_dot_product(e.emb, c.cemb)
                                           / (e.nrm * c.cnrm), 4) DESC,
                                     c.centroid_id) AS rn
  FROM e, c),
buckets AS (SELECT vec_id, centroid_id AS bucket_id FROM assign0
            WHERE rn = 1),
p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nb,
             round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS co
      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
ex3 AS (SELECT vec_id, nb FROM (
          SELECT vec_id, nb,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY co DESC, nb) AS ro
          FROM p) WHERE ro <= 3),
bcnt AS (SELECT bucket_id, CAST(count(*) AS BIGINT) AS n
         FROM buckets GROUP BY 1),
msum AS (SELECT b.bucket_id, u.i,
                sum(floor(e.emb[u.i] * 1000000000 + 0.5)) AS s9
         FROM e JOIN buckets b ON b.vec_id = e.vec_id,
              unnest(range(1, {_PQ_M * _PQ_D + 1})) AS u(i)
         GROUP BY 1, 2),
mu AS (SELECT m.bucket_id,
              list(m.s9 / (c.n * 1000000000.0) ORDER BY m.i) AS mu
       FROM msum m JOIN bcnt c ON c.bucket_id = m.bucket_id
       GROUP BY 1),
er AS (SELECT e.vec_id, mu.mu AS cemb,
              list_transform(range(1, {_PQ_M * _PQ_D + 1}),
                             i -> e.emb[i] - mu.mu[i]) AS res
       FROM e
       JOIN buckets b ON b.vec_id = e.vec_id
       JOIN mu ON mu.bucket_id = b.bucket_id),
{_duck_pq_codes("er", "res", "rs_")},
r2 AS (SELECT r.vec_id, r.emb, r.qq, r.nrm, r.rec, r.rr,
              list_transform(range(1, {_PQ_M * _PQ_D + 1}),
                             i -> er.cemb[i] + rs.rec[i]) AS recf
       FROM r
       JOIN er ON er.vec_id = r.vec_id
       JOIN rs_recs rs ON rs.vec_id = r.vec_id),
r3 AS (SELECT vec_id, emb, qq, nrm, rec, rr, recf,
              list_dot_product(recf, recf) AS rf
       FROM r2),
bp AS (SELECT ra.vec_id AS vec_id, rb.vec_id AS nb,
              round(ra.qq - 2 * list_dot_product(ra.emb, rb.rec) + rb.rr, 4)
                AS adc,
              round(ra.qq - 2 * list_dot_product(ra.emb, rb.recf) + rb.rf, 4)
                AS adcr
       FROM r3 ra
       JOIN buckets ba ON ba.vec_id = ra.vec_id
       JOIN buckets bb ON bb.bucket_id = ba.bucket_id
                      AND bb.vec_id <> ra.vec_id
       JOIN r3 rb ON rb.vec_id = bb.vec_id),
pq3 AS (SELECT vec_id, nb FROM (
          SELECT vec_id, nb,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY adc, nb) AS rq
          FROM bp) WHERE rq <= 3),
pq3r AS (SELECT vec_id, nb FROM (
          SELECT vec_id, nb,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY adcr, nb) AS rq
          FROM bp) WHERE rq <= 3),
h AS (SELECT ex3.vec_id,
             CAST(sum(CASE WHEN pq3.nb IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits,
             CAST(sum(CASE WHEN pq3r.nb IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_r,
             CAST(sum(CASE WHEN bv.bucket_id = bn.bucket_id THEN 1 ELSE 0
                      END) AS BIGINT) AS ceil_hits
      FROM ex3
      LEFT JOIN pq3 ON pq3.vec_id = ex3.vec_id AND pq3.nb = ex3.nb
      LEFT JOIN pq3r ON pq3r.vec_id = ex3.vec_id AND pq3r.nb = ex3.nb
      JOIN buckets bv ON bv.vec_id = ex3.vec_id
      JOIN buckets bn ON bn.vec_id = ex3.nb
      GROUP BY 1),
rq AS (SELECT CAST(sum(CAST(floor(sqrt(list_dot_product(res, res)) * 10000
                                  + 0.5) AS BIGINT)) AS BIGINT) AS sq,
              CAST(count(*) AS BIGINT) AS cn
       FROM er)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       floor(sum(hits) * 10000.0 / (3 * count(*)) + 0.5) / 10000
         AS mean_recall3,
       floor(sum(hits_r) * 10000.0 / (3 * count(*)) + 0.5) / 10000
         AS mean_recall3_residual,
       floor(sum(ceil_hits) * 10000.0 / (3 * count(*)) + 0.5) / 10000
         AS bucket_ceiling3,
       floor(sum(CASE WHEN hits = 3 THEN 1 ELSE 0 END) * 10000.0 / count(*)
             + 0.5) / 10000 AS frac_perfect,
       floor(any_value(rq.sq) * 1.0 / any_value(rq.cn) + 0.5) / 10000
         AS mean_res_norm
FROM h CROSS JOIN rq
""",
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ index, assembled from the engine's two proven
    pieces: coarse IVF assignment (nearest of {_N_IVF_CENTROIDS}
    deterministic centroids by cosine, ``similarity_ivf_bucketed``'s
    rule) selects the probe bucket, and PQ asymmetric distance
    (``embedding_pq_eval``'s codes via the shared encoder) ranks inside
    it — in BOTH standard encodings side by side: raw-vector codes
    (FAISS ``IndexIVFPQ`` with ``by_residual=false``) and RESIDUAL codes
    (the FAISS default, ``by_residual=true``): x − μ(bucket(x)), where μ
    is the REFINED centroid — one Lloyd update of the coarse quantizer,
    i.e. the elementwise bucket mean, exactly the centroid a
    k-means-trained FAISS quantizer would hold.  Σ‖x − μ‖² ≤ Σ‖x‖² by
    the mean's optimality, so the same m×K codebook budget quantizes
    residuals at least as finely on average; the emitted
    ``mean_res_norm`` shows how much tighter (on this near-isotropic
    unit-norm synthetic corpus ≈ 0.97 vs 1.0, so the raw/residual recall
    gap is marginal and can sit inside ranking noise at small n — on a
    clustered corpus the gap widens with ‖μ‖).  Reports recall@3 of each
    variant against exact cosine top-3 over the WHOLE corpus, next to
    the bucket CEILING (the fraction of exact neighbors that share the
    query's bucket at all) — so the index owner reads exactly how much
    recall each stage costs: ceiling − 1 is the IVF loss,
    recall − ceiling is the additional quantization loss, and the
    raw/residual gap is what residual encoding buys back.  Completes the
    retrieval ladder exact → IVF → PQ → IVF-PQ.

    Exactness: every building block reuses its already-oracled
    construction — r4-quantized cosine with id tie-breaks for the
    assignment and the exact ranking, exact-double argmin codes, ADC
    via the dot-product identity quantized to 4dp; the refined centroid
    is a ratio of a partition-order-free BIGINT coordinate sum (each
    coordinate quantized to the 1e-9 grid before summing) over the
    bucket count, and the residual x − μ and reconstruction μ + decoded
    residual are elementwise IEEE ops on those identical doubles in both
    engines; the five summary figures quantize to the 1e-4 grid.

    Scale: the exact-top-3 side is the documented sampled-oracle regime
    (it exists to measure the index); the INDEX side is the 100 TB
    path — assignment is a broadcast join against {_N_IVF_CENTROIDS}
    centroids, residual encode/decode is one broadcast of those same
    centroids, the raw and residual PQ encodings run through ONE fused
    tagged argmin pass (see ``_pq_codes``), ADC pairs come from the
    bucket equi-join only (n²/buckets, never all-pairs), both rankings
    share one vec_id-partitioned exchange, and codes are m bytes per
    vector per variant."""
    t = Catalog(spark, sf_dir)
    e = materialize(_embeddings(t).withColumn("qq", _dot("emb", "emb")))
    assign = materialize(
        _ivf_ranks(e)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("centroid_id").alias("bucket_id")),
        "vec_id",
    )
    # refined centroids: one Lloyd update of the coarse quantizer — the
    # elementwise bucket mean over a 1e-9 BIGINT coordinate grid, so the
    # mean (a sum of integers) is partition-order-free in both engines
    bcnt = assign.groupBy("bucket_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    msum = (
        e.join(assign, "vec_id")
        .select("bucket_id", F.posexplode("emb").alias("i", "x"))
        .groupBy("bucket_id", "i")
        .agg(
            F.sum(F.floor(F.col("x") * 1000000000 + F.lit(0.5)))
            .cast("long")
            .alias("s9")
        )
    )
    mu = (
        msum.join(bcnt, "bucket_id")
        .groupBy("bucket_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, s9, n))),"
                " t -> t.s9 / (t.n * 1000000000.0))"
            ).alias("mu")
        )
    )
    # residual chain: PQ-encode x - mu(bucket(x)) with the same encoder as
    # the raw vectors — ONE fused tagged pass (see _pq_codes), so both
    # codebooks and both argmins share a single exchange; reconstruct the
    # residual side as mu + decoded residual (recf), rf = <recf, recf>.
    # Only the 8-row mu table checkpoints here: er rebuilds from the two
    # checkpointed inputs with broadcast joins, so it stays a cheap view
    # (its residual norm folds into the r checkpoint below instead of
    # paying a separate scan)
    mu = materialize(mu)
    er = (
        e.join(assign, "vec_id")
        .join(F.broadcast(mu), "bucket_id")
        .withColumn("res", F.expr("zip_with(emb, mu, (x, y) -> x - y)"))
        .select("vec_id", "mu", "res")
    )
    inp = e.select(
        "vec_id", F.lit(0).alias("tg"), F.col("emb").alias("v")
    ).unionByName(
        er.select("vec_id", F.lit(1).alias("tg"), F.col("res").alias("v"))
    )
    recs = materialize(_pq_codes(inp, "v", tag="tg"), "vec_id")
    rfull = (
        er.join(
            recs.filter(F.col("tg") == 1).select(
                "vec_id", F.col("rec").alias("recr")
            ),
            "vec_id",
        )
        .withColumn("recf", F.expr("zip_with(mu, recr, (x, y) -> x + y)"))
        .select(
            "vec_id",
            "recf",
            _dot("recf", "recf").alias("rf"),
            F.floor(F.sqrt(_dot("res", "res")) * 10000 + F.lit(0.5))
            .cast("long")
            .alias("rnorm4"),
        )
    )
    r = materialize(
        e.join(recs.filter(F.col("tg") == 0).select("vec_id", "rec"), "vec_id")
        .withColumn("rr", _dot("rec", "rec"))
        .join(rfull, "vec_id"),
        "vec_id",
    )
    rq = r.agg(
        F.sum("rnorm4").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("cn"),
    )
    ex3 = _exact_topk(e, 3).select("vec_id", "nb")
    # Join strategy: the bucket pair join keys on {_N_IVF_CENTROIDS}
    # distinct bucket_ids — a shuffled join caps the whole ADC scan at
    # {_N_IVF_CENTROIDS} tasks.  Broadcast the
    # coded database side instead: the stream (query) side keeps its
    # vec_id partitioning from the r⋈assign join of two checkpointed
    # vec_id-partitioned inputs, so both downstream rank windows reuse it
    # with no exchange.  Measured 2.5x on the bucket scan+rank at sf0.1.
    ea = r.join(assign, "vec_id")
    qa, xb = ea.alias("qa"), ea.alias("xb")
    bp = (
        qa.join(
            F.broadcast(xb),
            (F.col("qa.bucket_id") == F.col("xb.bucket_id"))
            & (F.col("qa.vec_id") != F.col("xb.vec_id")),
        )
        .select(
            F.col("qa.vec_id").alias("vec_id"),
            F.col("xb.vec_id").alias("nb"),
            (
                F.col("qa.qq")
                - 2 * _dot("qa.emb", "xb.rec")
                + F.col("xb.rr")
            ).alias("_adc"),
            (
                F.col("qa.qq")
                - 2 * _dot("qa.emb", "xb.recf")
                + F.col("xb.rf")
            ).alias("_adcr"),
        )
        .select("vec_id", "nb", r4("_adc").alias("adc"), r4("_adcr").alias("adcr"))
    )
    # bp feeds TWO rank windows, and with the database side broadcast
    # there is no exchange under them for ReusedExchange to dedup — so
    # the whole ADC pair scan (two _dot folds per pair) would run once
    # per branch inside the final job.  One eager checkpoint on bp
    # makes it a single scan that both branches read back; the branch
    # windows (different orderBys) still sort CONCURRENTLY inside the
    # final job.  (The no-extra-job alternative — chaining the two
    # row_numbers as consecutive Window operators over one child —
    # measured 40% SLOWER at sf0.1 (13.9 vs 9.0 s, same-session A/B): it
    # serializes the two full sorts that the duplicated branches run in
    # parallel, and at sf0.1 the scan is cheaper than a
    # sort.  The checkpoint keeps the scan single AND the sorts
    # parallel.)
    bp = materialize(bp, "vec_id")
    pq3 = _vec_rank(bp, "rq", "adc", k=3).select(
        "vec_id", "nb", F.lit(1).alias("hit")
    )
    pq3r = _vec_rank(bp, "rq", "adcr", k=3).select(
        "vec_id", "nb", F.lit(1).alias("hit_r")
    )
    h = (
        ex3.join(pq3, ["vec_id", "nb"], "left")
        .join(pq3r, ["vec_id", "nb"], "left")
        .join(assign.select("vec_id", F.col("bucket_id").alias("bv")), "vec_id")
        .join(
            assign.select(
                F.col("vec_id").alias("nb"), F.col("bucket_id").alias("bn")
            ),
            "nb",
        )
        .groupBy("vec_id")
        .agg(
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("hits"),
            F.sum(F.when(F.col("hit_r").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("hits_r"),
            F.sum(F.when(F.col("bv") == F.col("bn"), 1).otherwise(0))
            .cast("long")
            .alias("ceil_hits"),
        )
    )
    n = F.count(F.lit(1))
    return h.crossJoin(F.broadcast(rq)).agg(
        n.cast("long").alias("n_vectors"),
        (
            F.floor(F.sum("hits") * 10000.0 / (3 * n) + F.lit(0.5)) / 10000.0
        ).alias("mean_recall3"),
        (
            F.floor(F.sum("hits_r") * 10000.0 / (3 * n) + F.lit(0.5))
            / 10000.0
        ).alias("mean_recall3_residual"),
        (
            F.floor(F.sum("ceil_hits") * 10000.0 / (3 * n) + F.lit(0.5))
            / 10000.0
        ).alias("bucket_ceiling3"),
        (
            F.floor(
                F.sum(F.when(F.col("hits") == 3, 1).otherwise(0))
                * 10000.0
                / n
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("frac_perfect"),
        (
            F.floor(
                F.first("sq") * F.lit(1.0) / F.first("cn") + F.lit(0.5)
            )
            / 10000.0
        ).alias("mean_res_norm"),
    )


_NPROBES = (1, 2, 4)


@register(
    "similarity_ivf_nprobe_sweep",
    oracle=f"""
WITH {_DUCK_EMB},
c AS (SELECT vec_id AS centroid_id, emb, nrm FROM e WHERE vec_id < {_N_IVF_CENTROIDS}),
rk AS (
  SELECT e.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_dot_product(e.emb, c.emb) / (e.nrm * c.nrm), 4) DESC,
                                     c.centroid_id) AS rn
  FROM e, c),
buckets AS (SELECT vec_id, centroid_id AS bucket_id FROM rk WHERE rn = 1),
bsz AS (SELECT bucket_id, CAST(count(*) AS BIGINT) AS n
        FROM buckets GROUP BY 1),
p AS (SELECT a.vec_id, b.vec_id AS nb,
             round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS co
      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
ex3 AS (SELECT vec_id, nb FROM (
          SELECT vec_id, nb,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY co DESC, nb) AS ro
          FROM p) WHERE ro <= 3),
hx AS (
  SELECT ex3.vec_id,
         {", ".join(f"CAST(sum(CASE WHEN rk.rn <= {np} THEN 1 ELSE 0 END) AS BIGINT) AS h{np}" for np in _NPROBES)}
  FROM ex3
  JOIN buckets bn ON bn.vec_id = ex3.nb
  JOIN rk ON rk.vec_id = ex3.vec_id AND rk.centroid_id = bn.bucket_id
  GROUP BY 1),
cs AS (
  SELECT rk.vec_id,
         {", ".join(f"CAST(sum(CASE WHEN rk.rn <= {np} THEN bsz.n ELSE 0 END) - 1 AS BIGINT) AS c{np}" for np in _NPROBES)}
  FROM rk JOIN bsz ON bsz.bucket_id = rk.centroid_id
  GROUP BY 1),
g AS (SELECT CAST(count(*) AS BIGINT) AS nv,
             {", ".join(f"CAST(sum(h{np}) AS BIGINT) AS sh{np}, CAST(sum(c{np}) AS BIGINT) AS sc{np}" for np in _NPROBES)}
      FROM hx JOIN cs USING (vec_id))
SELECT CAST(np AS BIGINT) AS nprobe,
       floor(sh * 10000.0 / (3 * nv) + 0.5) / 10000 AS recall3,
       floor(sc * 10000.0 / nv + 0.5) / 10000 AS mean_candidates
FROM ({" UNION ALL ".join(f"SELECT {np} AS np, sh{np} AS sh, sc{np} AS sc, nv FROM g" for np in _NPROBES)})
""",
)
def similarity_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF: the recall-vs-cost curve an index owner actually
    tunes.  For nprobe ∈ {_NPROBES}, the query probes its nprobe
    NEAREST coarse centroids (by the same r4-quantized cosine /
    centroid-id ranking every IVF query here uses) instead of only the
    top one, and the row reports (a) recall@3 — the fraction of exact
    cosine top-3 neighbors whose home bucket is among the probed
    buckets, i.e. the bucket CEILING of ``similarity_ivfpq_topk``
    generalized from nprobe=1 to the whole knob — and (b) the mean
    candidate count — how many database vectors a query at that nprobe
    must scan (probed bucket sizes summed, minus self).  Recall climbs
    toward 1.0 as nprobe grows while candidates climb toward n; where to
    sit on that curve is the owner's tuning decision.

    Exactness: hit and candidate counts are integers (the neighbor's
    probe rank comes from the shared centroid ranking; candidate mass is
    a sum of BIGINT bucket sizes), so both summary figures are
    floor-quantized ratios of exact integers.

    Scale: the index side is the 100 TB path — the ranking is one
    broadcast join against {_N_IVF_CENTROIDS} centroids and the
    candidate mass joins that ranking to the {_N_IVF_CENTROIDS}-row
    bucket-size table, all linear in n; the exact-top-3 side is the
    documented sampled-oracle regime (it exists to measure the index).

    Reference parity: generalizes the single-probe bucket search of
    `/root/reference/src/models/cold_start_solutions.py` (nearest-
    neighbor scoring inside one candidate pool) to the tunable
    multi-pool production layout."""
    t = Catalog(spark, sf_dir)
    e = materialize(_embeddings(t))
    ranks = materialize(_ivf_ranks(e), "vec_id")
    assign = ranks.filter(F.col("rn") == 1).select(
        "vec_id", F.col("centroid_id").alias("bucket_id")
    )
    bsz = assign.groupBy("bucket_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ex3 = _exact_topk(e, 3).select("vec_id", "nb")
    # the probe rank of each exact neighbor's home bucket, per query
    hx = (
        ex3.join(
            assign.select(
                F.col("vec_id").alias("nb"), F.col("bucket_id").alias("bn")
            ),
            "nb",
        )
        .join(
            ranks.select(
                "vec_id", F.col("centroid_id").alias("bn"), "rn"
            ),
            ["vec_id", "bn"],
        )
        .groupBy("vec_id")
        .agg(
            *[
                F.sum(F.when(F.col("rn") <= np, 1).otherwise(0))
                .cast("long")
                .alias(f"h{np}")
                for np in _NPROBES
            ]
        )
    )
    # candidate mass per query: probed bucket sizes summed, minus self
    cs = (
        ranks.join(
            F.broadcast(bsz),
            ranks["centroid_id"] == bsz["bucket_id"],
        )
        .groupBy("vec_id")
        .agg(
            *[
                (
                    F.sum(F.when(F.col("rn") <= np, F.col("n")).otherwise(0))
                    - 1
                )
                .cast("long")
                .alias(f"c{np}")
                for np in _NPROBES
            ]
        )
    )
    g = hx.join(cs, "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("nv"),
        *[
            x
            for np in _NPROBES
            for x in (
                F.sum(f"h{np}").cast("long").alias(f"sh{np}"),
                F.sum(f"c{np}").cast("long").alias(f"sc{np}"),
            )
        ],
    )
    return (
        g.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(np).cast("long").alias("nprobe"),
                            F.col(f"sh{np}").alias("sh"),
                            F.col(f"sc{np}").alias("sc"),
                            F.col("nv").alias("nv"),
                        )
                        for np in _NPROBES
                    ]
                )
            ).alias("x")
        )
        .select("x.*")
        .select(
            "nprobe",
            (
                F.floor(
                    F.col("sh") * 10000.0 / (3 * F.col("nv")) + F.lit(0.5)
                )
                / 10000.0
            ).alias("recall3"),
            (
                F.floor(F.col("sc") * 10000.0 / F.col("nv") + F.lit(0.5))
                / 10000.0
            ).alias("mean_candidates"),
        )
    )


@register(
    "similarity_ivfpq_nprobe",
    oracle=f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS qq,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings),
{_DUCK_PQ_RECS},
rm AS MATERIALIZED (SELECT * FROM r),
c AS (SELECT vec_id AS centroid_id, emb AS cemb, nrm AS cnrm
      FROM e WHERE vec_id < {_N_IVF_CENTROIDS}),
rk AS MATERIALIZED (
  SELECT e.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_dot_product(e.emb, c.cemb)
                                           / (e.nrm * c.cnrm), 4) DESC,
                                     c.centroid_id) AS rn
  FROM e, c),
buckets AS (SELECT vec_id, centroid_id AS bucket_id FROM rk WHERE rn = 1),
p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nb,
             round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS co
      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
ex3 AS (SELECT vec_id, nb FROM (
          SELECT vec_id, nb,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY co DESC, nb) AS ro
          FROM p) WHERE ro <= 3),
cand AS MATERIALIZED (
  SELECT rk.vec_id, db.vec_id AS nb, rk.rn AS prank,
         round(q.qq - 2 * list_dot_product(q.emb, db.rec) + db.rr, 4) AS adc
  FROM rk
  JOIN rm q ON q.vec_id = rk.vec_id
  JOIN buckets b ON b.bucket_id = rk.centroid_id AND b.vec_id <> rk.vec_id
  JOIN rm db ON db.vec_id = b.vec_id
  WHERE rk.rn <= {max(_NPROBES)}),
{", ".join(
    f'''t{np} AS (SELECT vec_id, nb FROM (
      SELECT vec_id, nb,
             row_number() OVER (PARTITION BY vec_id ORDER BY adc, nb) AS rq
      FROM cand WHERE prank <= {np}) WHERE rq <= 3),
h{np} AS (SELECT CAST(count(*) AS BIGINT) AS sh,
                 (SELECT CAST(count(*) AS BIGINT) FROM cand
                  WHERE prank <= {np}) AS sc
          FROM ex3 JOIN t{np} USING (vec_id, nb))'''
    for np in _NPROBES)},
nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
SELECT CAST(np AS BIGINT) AS nprobe,
       floor(sh * 10000.0 / (3 * nv.n) + 0.5) / 10000 AS recall3_adc,
       floor(sc * 10000.0 / nv.n + 0.5) / 10000 AS mean_candidates
FROM ({" UNION ALL ".join(
    f"SELECT {np} AS np, sh, sc FROM h{np}" for np in _NPROBES)})
CROSS JOIN nv
""",
)
def similarity_ivfpq_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ SEARCH at nprobe > 1 — the joint (nprobe,
    encoding) operating point a FAISS ``IndexIVFPQ`` user actually
    ships, closing the retrieval ladder exact → IVF → PQ → IVF-PQ →
    multi-probe IVF-PQ.  ``similarity_ivfpq_topk`` scores the composed
    index inside exactly one bucket and ``similarity_ivf_nprobe_sweep``
    reports the recall CEILING of probing nprobe buckets; this query
    runs the real search: for nprobe ∈ {_NPROBES}, rank PQ asymmetric
    distance over the candidates pooled from the query's nprobe nearest
    coarse centroids (the bucket equi-join of the composed index
    generalized from rn = 1 to rn <= nprobe through the shared
    ``_ivf_ranks`` ranking) and read recall@3 against exact cosine
    top-3, beside the candidate cost that bought it.  Each row is
    bounded above by the sweep's ceiling at the same nprobe (an exact
    neighbor the ADC ranking returns must live in a probed bucket) —
    a cross-operator test pins that, and recall3_adc(nprobe) climbing
    toward ``embedding_pq_eval``-grade recall while mean_candidates
    climbs toward n is the trade the knob tunes.

    Exactness: the probe ranking and the exact top-3 reuse their
    oracled constructions (r4-quantized cosine, id tie-breaks); ADC is
    the dot-product identity over the shared sequential fold, quantized
    to 4dp with id tie-breaks before ranking; hits and candidate counts
    are exact integers and the two summary figures are floor-quantized
    integer ratios.

    Scale: the index side is the 100 TB path — one broadcast-centroid
    ranking (linear in n), PQ codes at m bytes/vector through the shared
    encoder, and the candidate pool from the rn <= nprobe bucket
    equi-join only (nprobe/buckets of the corpus per query, never
    all-pairs); the exact-top-3 side is the documented sampled-oracle
    regime.  Kept SEPARATE from ``similarity_ivfpq_topk`` by design so
    neither query outgrows the bench bar.

    Reference parity: the tunable generalization of the single
    candidate-pool nearest-neighbor scoring in
    /root/reference/src/models/cold_start_solutions.py:95-205."""
    t = Catalog(spark, sf_dir)
    e = materialize(_embeddings(t).withColumn("qq", _dot("emb", "emb")))

    r = _pq_reconstructed(e)
    ranks = materialize(_ivf_ranks(e), "vec_id")
    # checkpointed: the O(n²) sampled-oracle scan is read by one hits join
    # per probe level and must not recompute per branch
    ex3 = materialize(_exact_topk(e, 3).select("vec_id", "nb"), "vec_id")
    assign = ranks.filter(F.col("rn") == 1).select(
        "vec_id", F.col("centroid_id").alias("bucket_id")
    )
    # BROADCAST the coded database side: the bucket equi-join has only
    # {_N_IVF_CENTROIDS} distinct keys, so a shuffled hash join would
    # collapse the whole pair scan onto {_N_IVF_CENTROIDS} tasks; with
    # the build side broadcast, parallelism follows the repartitioned
    # query side and every core computes its share of the ADC dots (at
    # 100 TB the same shape holds per bucket-partition of the index)
    db = r.join(assign, "vec_id").select(
        F.col("vec_id").alias("nb"),
        F.col("bucket_id").alias("bn"),
        "rec",
        "rr",
    )
    cand = (
        ranks.filter(F.col("rn") <= max(_NPROBES))
        .select("vec_id", "centroid_id", F.col("rn").alias("prank"))
        .join(r.select("vec_id", "emb", "qq"), "vec_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .join(
            F.broadcast(db),
            (F.col("centroid_id") == F.col("bn"))
            & (F.col("vec_id") != F.col("nb")),
        )
        .select(
            "vec_id",
            "nb",
            "prank",
            (F.col("qq") - 2 * _dot("emb", "rec") + F.col("rr")).alias("_adc"),
        )
        .select("vec_id", "nb", "prank", r4("_adc").alias("adc"))
    )
    # ONE window prunes the pair table before the per-probe re-ranks:
    # the top-3 of a union of probe levels must come from the top-3 of
    # each level, so keeping 3 rows per (query, prank) — <= 12 rows per
    # query — is lossless, and the candidate masses fold into the same
    # pass (sums are one scan, not one per probe level)
    pruned = materialize(
        cand.withColumn(
            "rq",
            F.row_number().over(
                W.partitionBy("vec_id", "prank").orderBy("adc", "nb")
            ),
        )
        .withColumn("keep", F.col("rq") <= 3)
        .groupBy("vec_id")
        .agg(
            F.expr(
                "collect_list(CASE WHEN keep THEN"
                " struct(prank, adc, nb) END)"
            ).alias("top"),
            *[
                F.sum(F.when(F.col("prank") <= np, 1).otherwise(0))
                .cast("long")
                .alias(f"c{np}")
                for np in _NPROBES
            ],
        ),
        "vec_id",
    )
    tops = pruned.select(
        "vec_id", F.explode(F.expr("filter(top, x -> x is not null)")).alias("x")
    ).select("vec_id", "x.prank", "x.adc", "x.nb")
    per_np = [
        _vec_rank(tops.filter(F.col("prank") <= np), "rq2", "adc", k=3).select(
            F.lit(np).cast("long").alias("nprobe"), "vec_id", "nb"
        )
        for np in _NPROBES
    ]
    all_tops = per_np[0]
    for x in per_np[1:]:
        all_tops = all_tops.unionByName(x)
    hits = all_tops.join(ex3, ["vec_id", "nb"]).groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("sh")
    )
    nv = e.count()
    cnts = pruned.agg(
        *[F.sum(f"c{np}").cast("long").alias(f"sc{np}") for np in _NPROBES]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(np).cast("long").alias("nprobe"),
                        F.col(f"sc{np}").alias("sc"),
                    )
                    for np in _NPROBES
                ]
            )
        ).alias("x")
    ).select("x.*")
    return cnts.join(hits, "nprobe", "left").select(
        "nprobe",
        (
            F.floor(
                F.coalesce(F.col("sh"), F.lit(0)) * 10000.0 / (3 * nv)
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall3_adc"),
        (
            F.floor(F.col("sc") * 10000.0 / nv + F.lit(0.5)) / 10000.0
        ).alias("mean_candidates"),
    )


@register(
    "dedup_savings_report",
    oracle=f"""
WITH d AS (SELECT doc_id,
                  CAST(len(list_filter({_DUCK_WORDS}, x -> x <> ''))
                       AS BIGINT) AS nw
           FROM documents),
tot AS (SELECT CAST(sum(nw) AS BIGINT) AS t FROM d),
nh AS (SELECT doc_id, md5({_DUCK_NORM}) AS h FROM documents),
exr AS (SELECT doc_id,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM nh),
ex AS (SELECT CAST(count(*) AS BIGINT) AS n_removed,
              CAST(COALESCE(sum(d.nw), 0) AS BIGINT) AS tokens_removed
       FROM exr JOIN d USING (doc_id) WHERE rn > 1),
{_DUCK_SHINGLES},
{_duck_sig()},
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(({" + ".join(f"CASE WHEN a.m{s} = b.m{s} THEN 1 ELSE 0 END" for s in range(_N_MINHASH))}) / {_N_MINHASH}.0, 4) AS est_jaccard
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {" OR ".join(f"(a.m{2 * b} = b.m{2 * b} AND a.m{2 * b + 1} = b.m{2 * b + 1})" for b in range(_N_MINHASH // 2))}),
lshdrop AS (SELECT DISTINCT doc_b AS doc_id FROM cand
            WHERE est_jaccard >= 0.5),
lsh AS (SELECT CAST(count(*) AS BIGINT) AS n_removed,
               CAST(COALESCE(sum(d.nw), 0) AS BIGINT) AS tokens_removed
        FROM lshdrop JOIN d USING (doc_id)),
w0 AS (SELECT doc_id, list_filter({_DUCK_WORDS}, x -> x <> '') AS w
       FROM documents),
wn AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n
       FROM w0 WHERE len(w) >= 1),
c AS (
  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
         least({_CHUNK_LEN}, n - ci * {_CHUNK_STRIDE}) AS n_toks,
         array_to_string(
           w[ci * {_CHUNK_STRIDE} + 1 : ci * {_CHUNK_STRIDE} + least({_CHUNK_LEN}, n - ci * {_CHUNK_STRIDE})],
           ' ') AS chunk_text
  FROM wn, unnest(range(0, (n - 1) // {_CHUNK_STRIDE} + 1)) AS u(ci)),
ch AS (
  SELECT doc_id, chunk_idx, CAST(n_toks AS BIGINT) AS n_toks,
         {_duck_hash("chunk_text")} AS chunk_hash
  FROM c WHERE chunk_idx = 0 OR n_toks > {_CHUNK_LEN - _CHUNK_STRIDE}),
chr AS (SELECT n_toks,
               row_number() OVER (PARTITION BY chunk_hash
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM ch),
chk AS (SELECT CAST(count(*) AS BIGINT) AS n_removed,
               CAST(COALESCE(sum(n_toks), 0) AS BIGINT) AS tokens_removed
        FROM chr WHERE rn > 1),
ln AS (
  SELECT doc_id, CAST(li AS BIGINT) AS line_idx,
         CAST(least({_LINE_LEN}, n - li * {_LINE_LEN}) AS BIGINT) AS n_toks,
         md5(array_to_string(
           w[li * {_LINE_LEN} + 1 : li * {_LINE_LEN} + least({_LINE_LEN}, n - li * {_LINE_LEN})],
           ' ')) AS lh
  FROM wn, unnest(range(0, (n - 1) // {_LINE_LEN} + 1)) AS u(li)),
lnr AS (SELECT n_toks,
               row_number() OVER (PARTITION BY lh ORDER BY doc_id, line_idx)
                 AS rn
        FROM ln),
lnk AS (SELECT CAST(count(*) AS BIGINT) AS n_removed,
               CAST(COALESCE(sum(n_toks), 0) AS BIGINT) AS tokens_removed
        FROM lnr WHERE rn > 1),
u AS (
  SELECT 'exact_doc' AS policy, 'docs' AS unit, n_removed, tokens_removed
  FROM ex
  UNION ALL
  SELECT 'line_first_seen', 'lines', n_removed, tokens_removed FROM lnk
  UNION ALL
  SELECT 'lsh_pair_greedy', 'docs', n_removed, tokens_removed FROM lsh
  UNION ALL
  SELECT 'chunk_first_seen', 'chunks', n_removed, tokens_removed FROM chk)
SELECT policy, unit, n_removed, tot.t AS tokens_total, tokens_removed,
       floor(tokens_removed * 10000.0 / tot.t + 0.5) / 10000
         AS savings_frac
FROM u, tot
""",
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-savings accounting across four dedup policies — the number
    a curation lead actually budgets by ("how many training tokens does
    each policy buy back"): exact whole-doc keep-first (drop every
    non-canonical copy of an identical normalized text), line-level
    first-seen (drop every non-overlapping 16-word line instance
    whose hash already appeared — ``dedup_lines_ccnet``'s corpus total),
    greedy LSH-pair keep (drop any doc with a near-dup candidate partner
    of smaller id at est Jaccard >= 0.5 — the one-pass approximation of
    the connected-components keep rule, whose transitive form is
    ``dedup_cluster_components``), and chunk-level first-seen (drop every
    64/48 chunk instance whose content hash already appeared at an
    earlier (doc, position)).  Line savings tile the document exactly;
    chunk savings count chunk tokens, which overlap by 16 tokens per
    stride — the standard accounting for chunk-granular dedup, stated per
    chunk instance.

    Exactness: all counts integers; keep-first orders are deterministic
    (doc_id / (doc_id, chunk_idx)); est_jaccard compares the same exact
    k/8 grid point on both engines; the one ratio quantizes to 1e-4.

    Scale (100 TB): each policy is a hash-keyed window/join over its
    already-audited candidate structure (digest buckets, banded LSH
    pairs, chunk-hash buckets — never all-pairs), then a 1-row aggregate;
    the three policy rows union with the broadcast corpus total."""
    t = Catalog(spark, sf_dir)
    d = _doc_words(t).select(
        "doc_id",
        F.size(F.expr("filter(w, x -> x <> '')")).cast("long").alias("nw"),
    )
    tot = d.agg(F.sum("nw").cast("long").alias("t"))
    nh = t.documents.select("doc_id", F.md5(_norm_text()).alias("h"))
    exr = nh.withColumn(
        "rn", F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    ).filter(F.col("rn") > 1)
    ex = exr.join(d, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_removed"),
        F.coalesce(F.sum("nw"), F.lit(0)).cast("long").alias("tokens_removed"),
    )
    lns = dedup_lines_ccnet(spark, sf_dir).agg(
        F.coalesce(F.sum("n_removed_lines"), F.lit(0))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.sum(F.col("n_tokens") - F.col("tokens_kept")), F.lit(0))
        .cast("long")
        .alias("tokens_removed"),
    )
    lshdrop = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("est_jaccard") >= 0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    lsh = lshdrop.join(d, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_removed"),
        F.coalesce(F.sum("nw"), F.lit(0)).cast("long").alias("tokens_removed"),
    )
    chr_ = (
        text_chunk_windows(spark, sf_dir)
        .select("doc_id", "chunk_idx", "n_toks", "chunk_hash")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
            ),
        )
        .filter(F.col("rn") > 1)
    )
    chk = chr_.agg(
        F.count(F.lit(1)).cast("long").alias("n_removed"),
        F.coalesce(F.sum("n_toks"), F.lit(0))
        .cast("long")
        .alias("tokens_removed"),
    )
    u = (
        ex.select(
            F.lit("exact_doc").alias("policy"),
            F.lit("docs").alias("unit"),
            "n_removed",
            "tokens_removed",
        )
        .unionAll(
            lns.select(
                F.lit("line_first_seen").alias("policy"),
                F.lit("lines").alias("unit"),
                "n_removed",
                "tokens_removed",
            )
        )
        .unionAll(
            lsh.select(
                F.lit("lsh_pair_greedy").alias("policy"),
                F.lit("docs").alias("unit"),
                "n_removed",
                "tokens_removed",
            )
        )
        .unionAll(
            chk.select(
                F.lit("chunk_first_seen").alias("policy"),
                F.lit("chunks").alias("unit"),
                "n_removed",
                "tokens_removed",
            )
        )
    )
    return u.crossJoin(F.broadcast(tot)).select(
        "policy",
        "unit",
        "n_removed",
        F.col("t").alias("tokens_total"),
        "tokens_removed",
        (
            F.floor(F.col("tokens_removed") * 10000.0 / F.col("t") + F.lit(0.5))
            / 10000.0
        ).alias("savings_frac"),
    )


# ---------------------------------------------------------------------------
# quality_classifier_gd: the fasttext/LR quality-classifier curation stage
# (GPT-3, PaLM, LLaMA all gate web data with a cheap linear classifier) as a
# FULLY ORACLED exact fixed-point.  Same integer-GD discipline as
# calibration_platt_exact (forecast.py): BIGINT nano-unit params on the
# driver, algebraic sigmoid s(z) = 0.5 + 0.5*z/(1+|z|) instead of exp, every
# per-row gradient quantized to integers before summing — the entire
# 12-step trajectory is bit-identical between Spark and DuckDB and across
# any partitioning.

_QC_ITERS = 12
_QC_LR = "4.0"


def _qc_oracle() -> str:
    head = f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS term FROM w),
t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(floor(sum(length(term)) * 10000.0 / count(*) + 0.5)
              AS BIGINT) AS mwl4,
         CAST(floor(sum(CASE WHEN regexp_matches(term, '[a-z]')
                             THEN 1 ELSE 0 END) * 10000.0 / count(*) + 0.5)
              AS BIGINT) AS af4,
         CAST(sum(CASE WHEN term IN {repr(tuple(_GOPHER_STOPWORDS))}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
         CAST(count(DISTINCT term) AS BIGINT) AS n_dist
  FROM t GROUP BY doc_id),
sym AS (
  SELECT doc_id,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_sym
  FROM documents),
lab AS (
  SELECT s.doc_id,
         least(s.n_words, 200) / 200.0 AS x1,
         s.mwl4 / 100000.0 AS x2,
         least(s.n_stop, 10) / 10.0 AS x3,
         floor(s.n_dist * 10000.0 / s.n_words + 0.5) / 10000.0 AS x4,
         CASE WHEN s.n_words BETWEEN 50 AND 100000
               AND s.mwl4 BETWEEN 30000 AND 100000
               AND s.af4 >= 8000
               AND s.n_stop >= 2
               AND floor(sym.n_sym * 10000.0 / s.n_words + 0.5) <= 1000
              THEN 1.0 ELSE 0.0 END AS y
  FROM s JOIN sym USING (doc_id)),
cal AS (SELECT x1, x2, x3, x4, y FROM lab WHERE doc_id % 2 = 0),
p0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
              CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS w4,
              CAST(0 AS BIGINT) AS b)
"""
    step = """, p{i} AS (
  SELECT CAST(any_value(w1) - floor({lr} * sum(g1) / count(*) + 0.5)
              AS BIGINT) AS w1,
         CAST(any_value(w2) - floor({lr} * sum(g2) / count(*) + 0.5)
              AS BIGINT) AS w2,
         CAST(any_value(w3) - floor({lr} * sum(g3) / count(*) + 0.5)
              AS BIGINT) AS w3,
         CAST(any_value(w4) - floor({lr} * sum(g4) / count(*) + 0.5)
              AS BIGINT) AS w4,
         CAST(any_value(b) - floor({lr} * sum(gb) / count(*) + 0.5)
              AS BIGINT) AS b
  FROM (
    SELECT q.w1, q.w2, q.w3, q.w4, q.b,
           floor(q.gc * q.x1 * 1000000000 + 0.5) AS g1,
           floor(q.gc * q.x2 * 1000000000 + 0.5) AS g2,
           floor(q.gc * q.x3 * 1000000000 + 0.5) AS g3,
           floor(q.gc * q.x4 * 1000000000 + 0.5) AS g4,
           floor(q.gc * 1000000000 + 0.5) AS gb
    FROM (
      SELECT zz.w1, zz.w2, zz.w3, zz.w4, zz.b,
             zz.x1, zz.x2, zz.x3, zz.x4,
             (0.5 + 0.5 * (zz.z / (1 + abs(zz.z))) - zz.y)
             * (0.5 / ((1 + abs(zz.z)) * (1 + abs(zz.z)))) AS gc
      FROM (
        SELECT p.w1, p.w2, p.w3, p.w4, p.b,
               c.x1, c.x2, c.x3, c.x4, c.y,
               (((((p.w1 / 1000000000.0) * c.x1
                  + (p.w2 / 1000000000.0) * c.x2)
                  + (p.w3 / 1000000000.0) * c.x3)
                  + (p.w4 / 1000000000.0) * c.x4)
                  + (p.b / 1000000000.0)) AS z
        FROM cal c CROSS JOIN p{prev} p
      ) zz
    ) q
  )
)"""
    sql = head
    for i in range(1, _QC_ITERS + 1):
        sql += step.format(i=i, prev=i - 1, lr=_QC_LR)
    sql += """
, fin0 AS (
  SELECT l.y, p.w1, p.w2, p.w3, p.w4, p.b,
         (((((p.w1 / 1000000000.0) * l.x1
            + (p.w2 / 1000000000.0) * l.x2)
            + (p.w3 / 1000000000.0) * l.x3)
            + (p.w4 / 1000000000.0) * l.x4)
            + (p.b / 1000000000.0)) AS z
  FROM lab l CROSS JOIN p{last} p),
fin AS (
  SELECT y, w1, w2, w3, w4, b,
         CAST(floor((0.5 + 0.5 * (z / (1 + abs(z)))) * 100000000 + 0.5)
              AS BIGINT) AS p8
  FROM fin0)
SELECT CAST(least(9, p8 // 10000000) AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(sum(y) / count(*), 4) AS rule_keep_rate,
       round(sum(p8) / (count(*) * 100000000.0), 4) AS mean_p,
       CAST(sum(CASE WHEN p8 >= 50000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pred_keep,
       CAST(any_value(w1) AS BIGINT) AS w1_nano,
       CAST(any_value(w2) AS BIGINT) AS w2_nano,
       CAST(any_value(w3) AS BIGINT) AS w3_nano,
       CAST(any_value(w4) AS BIGINT) AS w4_nano,
       CAST(any_value(b) AS BIGINT) AS b_nano
FROM fin GROUP BY decile
""".replace("{last}", str(_QC_ITERS))
    return sql


@register("quality_classifier_gd", oracle=_qc_oracle())
def quality_classifier_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier for corpus curation, trained in-engine as
    a FULLY ORACLED exact fixed-point.  The modern pipelines gate web text
    with a cheap linear classifier (GPT-3's LR-against-WebText, fasttext
    quality scores in LLaMA/RedPajama); this is that stage with the labels
    the engine already computes: y = the text_gopher_rules keep conjunction,
    features = four surface statistics (capped word count, 1e-4-grid mean
    word length, capped stop-word count, distinct-word ratio), so the fit
    DISTILLS the hard rule battery into a soft score a curation run can
    threshold at any budget — the reference's quality screens live in
    /root/reference/src/data/preprocessors.py (rule filters) with no
    learned form; this graduates them.

    Training: logistic regression by {iters} deterministic GD steps on the
    even-doc_id half, exactly the calibration_platt_exact discipline —
    BIGINT nano-unit params held on the DRIVER and inlined as literals
    (one flat aggregate + a 1-row collect per step), exp replaced by the
    algebraic sigmoid s(z) = 0.5 + 0.5*z/(1+|z|) (correctly-rounded IEEE
    ops only), every per-row gradient quantized to integer nano-units
    before summing.  The whole optimizer trajectory — not just the report
    — is bit-identical between Spark and DuckDB.

    Output: score-decile reliability table over ALL docs (rule keep rate
    vs mean predicted probability per decile, predicted keeps at the 0.5
    threshold) with the fitted params echoed in nano-units.

    Scale (100 TB): the labeled projection is five doubles a row,
    materialized once; each GD step is one full-pass flat aggregate —
    the textbook distributed-GD layout.  Production fits on a hash sample
    (already the even-half semantics here) and scores the full corpus in
    one narrow map."""
    t = Catalog(spark, sf_dir)
    tok = (
        _doc_words(t)
        .select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term") != "")
    )
    s = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.floor(
            F.sum(F.length("term")) * 10000.0 / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("long")
        .alias("mwl4"),
        F.floor(
            F.sum(F.when(F.col("term").rlike("[a-z]"), 1).otherwise(0))
            * 10000.0
            / F.count(F.lit(1))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("af4"),
        F.sum(F.when(F.col("term").isin(*_GOPHER_STOPWORDS), 1).otherwise(0))
        .cast("long")
        .alias("n_stop"),
        F.count_distinct("term").cast("long").alias("n_dist"),
    )
    sym = t.documents.select(
        "doc_id",
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            + F.floor(
                (
                    F.length("text")
                    - F.length(F.replace(F.col("text"), F.lit("...")))
                )
                / 3
            )
        )
        .cast("long")
        .alias("n_sym"),
    )
    y = (
        F.when(
            F.col("n_words").between(50, 100000)
            & F.col("mwl4").between(30000, 100000)
            & (F.col("af4") >= 8000)
            & (F.col("n_stop") >= 2)
            & (
                F.floor(
                    F.col("n_sym") * 10000.0 / F.col("n_words") + F.lit(0.5)
                )
                <= 1000
            ),
            1.0,
        )
        .otherwise(0.0)
        .alias("y")
    )
    # checkpoint the five-doubles-a-row labeled projection ONCE — both the
    # GD loop and the final scoring pass read it (same reuse discipline as
    # calibration_platt_exact)
    lab = materialize(
        s.join(sym, "doc_id")
        .select(
            "doc_id",
            (F.least(F.col("n_words"), F.lit(200)) / 200.0).alias("x1"),
            (F.col("mwl4") / 100000.0).alias("x2"),
            (F.least(F.col("n_stop"), F.lit(10)) / 10.0).alias("x3"),
            (
                F.floor(
                    F.col("n_dist") * 10000.0 / F.col("n_words") + F.lit(0.5)
                )
                / 10000.0
            ).alias("x4"),
            y,
        )
    )
    cal = materialize(
        lab.filter(F.col("doc_id") % 2 == 0)
        .select("x1", "x2", "x3", "x4", "y")
        .repartition(4)
    )

    def z_col(w1, w2, w3, w4, b):
        return (
            (w1 / F.lit(1e9)) * F.col("x1")
            + (w2 / F.lit(1e9)) * F.col("x2")
            + (w3 / F.lit(1e9)) * F.col("x3")
            + (w4 / F.lit(1e9)) * F.col("x4")
            + (b / F.lit(1e9))
        )

    lr = float(_QC_LR)
    params = [0, 0, 0, 0, 0]
    for _ in range(_QC_ITERS):
        z = z_col(*[F.lit(p) for p in params])
        az1 = F.lit(1) + F.abs(z)
        p = F.lit(0.5) + F.lit(0.5) * (z / az1)
        wgt = F.lit(0.5) / (az1 * az1)
        gc = (p - F.col("y")) * wgt
        row = cal.agg(
            F.sum(
                F.floor(gc * F.col("x1") * F.lit(1000000000) + F.lit(0.5))
            ).alias("s1"),
            F.sum(
                F.floor(gc * F.col("x2") * F.lit(1000000000) + F.lit(0.5))
            ).alias("s2"),
            F.sum(
                F.floor(gc * F.col("x3") * F.lit(1000000000) + F.lit(0.5))
            ).alias("s3"),
            F.sum(
                F.floor(gc * F.col("x4") * F.lit(1000000000) + F.lit(0.5))
            ).alias("s4"),
            F.sum(F.floor(gc * F.lit(1000000000) + F.lit(0.5))).alias("sb"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        for j, key in enumerate(["s1", "s2", "s3", "s4", "sb"]):
            params[j] -= int(math.floor(lr * row[key] / row["n"] + 0.5))
    pdf = spark.range(1).select(
        F.lit(params[0]).cast("long").alias("w1"),
        F.lit(params[1]).cast("long").alias("w2"),
        F.lit(params[2]).cast("long").alias("w3"),
        F.lit(params[3]).cast("long").alias("w4"),
        F.lit(params[4]).cast("long").alias("b"),
    )
    zf = z_col(
        F.col("w1"), F.col("w2"), F.col("w3"), F.col("w4"), F.col("b")
    )
    azf = F.lit(1) + F.abs(zf)
    pf = F.lit(0.5) + F.lit(0.5) * (zf / azf)
    fin = lab.crossJoin(F.broadcast(pdf)).select(
        "y",
        "w1",
        "w2",
        "w3",
        "w4",
        "b",
        F.floor(pf * F.lit(100000000) + F.lit(0.5)).cast("long").alias("p8"),
    )
    return fin.groupBy(
        F.least(F.lit(9), F.expr("p8 div 10000000")).cast("int").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        r4(F.sum("y") / F.count(F.lit(1))).alias("rule_keep_rate"),
        r4(F.sum("p8") / (F.count(F.lit(1)) * F.lit(100000000.0))).alias(
            "mean_p"
        ),
        F.sum(F.when(F.col("p8") >= 50000000, 1).otherwise(0))
        .cast("long")
        .alias("n_pred_keep"),
        F.first("w1").cast("long").alias("w1_nano"),
        F.first("w2").cast("long").alias("w2_nano"),
        F.first("w3").cast("long").alias("w3_nano"),
        F.first("w4").cast("long").alias("w4_nano"),
        F.first("b").cast("long").alias("b_nano"),
    )


quality_classifier_gd.__doc__ = quality_classifier_gd.__doc__.replace(
    "{iters}", str(_QC_ITERS)
)


# ---------------------------------------------------------------------------
# dedup_bloom_gate: Bloom-filter ingestion gate (Bloom 1970) — the classic
# bounded-memory membership screen a 100 TB pipeline puts in front of exact
# dedup.  Like stream_hourly_cms, the filter is reconstructed EXACTLY in
# SQL: the m-bit array is the distinct set of bit positions the stored half
# lights, so the gate's verdicts (including its false positives) are
# value-verified cross-engine rather than approximated.

# the package-shared Bloom grid and bit rule (sketch_params) — ONE
# definition with the stream kernel and its oracled batch twin
from hackatonbigdata_spark.sketch_params import (  # noqa: E402
    BLOOM_K as _BLOOM_K,
    BLOOM_M as _BLOOM_M,
    bloom_pos_sql,
)


@register(
    "dedup_bloom_gate",
    oracle=f"""
WITH d AS (SELECT doc_id, md5({_DUCK_NORM}) AS dg FROM documents),
stored AS (SELECT dg FROM d WHERE doc_id % 2 = 0),
jj AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(j)),
bits AS (SELECT DISTINCT {bloom_pos_sql('jj.j', 's.dg')} AS b
         FROM stored s CROSS JOIN jj),
inc AS (SELECT doc_id, dg FROM d),
probe AS (SELECT i.doc_id, i.dg, jj.j,
                 {bloom_pos_sql('jj.j', 'i.dg')} AS b
          FROM inc i CROSS JOIN jj),
hits AS (SELECT p.doc_id,
                CAST(sum(CASE WHEN bits.b IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_hits
         FROM probe p LEFT JOIN bits ON bits.b = p.b
         GROUP BY 1),
tru AS (SELECT i.doc_id,
               CAST(CASE WHEN i.dg IN (SELECT dg FROM stored)
                         THEN 1 ELSE 0 END AS BIGINT) AS true_dup
        FROM inc i)
SELECT h.doc_id, h.n_hits,
       CAST(CASE WHEN h.n_hits = {_BLOOM_K} THEN 1 ELSE 0 END AS BIGINT)
         AS bloom_dup,
       t.true_dup,
       CAST(CASE WHEN h.n_hits = {_BLOOM_K} AND t.true_dup = 0
                 THEN 1 ELSE 0 END AS BIGINT) AS false_positive
FROM hits h JOIN tru t ON t.doc_id = h.doc_id
""",
)
def dedup_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingestion gate (Bloom 1970): the stored half of the
    corpus (even doc_ids) lights a {m}-bit filter with {k} hash functions
    over its exact content digests; the FULL feed is then replayed
    through the gate (every doc probed, flagged ``bloom_dup`` iff all
    {k} of its bit positions are set), so the stored half exercises the
    guaranteed-hit path and the new half measures the collision rate — the bounded-memory membership screen curation pipelines put
    in FRONT of exact dedup at ingest (the companion of the exact-index
    gate ``dedup_chunk_incremental``).  The exact verdict is computed
    alongside, so the output exposes the filter's one-sided contract per
    document: no false negatives ever (every stored/duplicate digest MUST
    re-flag — 0 misses by construction, pinned by tests), false positives
    visible as a column with their measured rate tracking the
    (1 - e^(-kn/m))^k fill-rate theory.

    Like ``stream_hourly_cms``, the sketch is reconstructed EXACTLY in
    SQL: the bit array IS the distinct set of positions
    md5("j:digest") mod {m} over the stored half, so Spark and DuckDB
    compute identical verdicts — the filter is value-verified, not
    approximated.

    Scale (100 TB): the lit-bit table is bounded by m = {m} rows
    regardless of corpus size, so it broadcasts to every probe task by
    construction; the probe side is a narrow {k}-way generate over
    digests and the exact-verdict join is digest-keyed (the same shuffle
    exact dedup already pays).  In production m scales with expected n
    (bits-per-key), still broadcast-sized."""
    t = Catalog(spark, sf_dir)
    d = t.documents.select("doc_id", F.md5(_norm_text()).alias("dg"))
    jj = spark.range(_BLOOM_K).select(F.col("id").cast("int").alias("j"))

    def pos(j_col, dg_col):
        return h32(F.concat(j_col.cast("string"), F.lit(":"), dg_col)) % _BLOOM_M

    stored = d.filter(F.col("doc_id") % 2 == 0)
    # bounded by m rows no matter the corpus size -> broadcast is safe by
    # construction (not a statistics gamble)
    bits = (
        stored.crossJoin(F.broadcast(jj))
        .select(pos(F.col("j"), F.col("dg")).alias("b"))
        .distinct()
    )
    inc = d
    probe = inc.crossJoin(F.broadcast(jj)).select(
        "doc_id", "dg", pos(F.col("j"), F.col("dg")).alias("b")
    )
    hits = (
        probe.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits")
        )
    )
    tru = inc.join(
        stored.select("dg").distinct().withColumn("seen", F.lit(1)),
        "dg",
        "left",
    ).select(
        "doc_id",
        F.when(F.col("seen").isNotNull(), 1).otherwise(0)
        .cast("long")
        .alias("true_dup"),
    )
    return hits.join(tru, "doc_id").select(
        "doc_id",
        "n_hits",
        F.when(F.col("n_hits") == _BLOOM_K, 1)
        .otherwise(0)
        .cast("long")
        .alias("bloom_dup"),
        "true_dup",
        F.when((F.col("n_hits") == _BLOOM_K) & (F.col("true_dup") == 0), 1)
        .otherwise(0)
        .cast("long")
        .alias("false_positive"),
    )


dedup_bloom_gate.__doc__ = dedup_bloom_gate.__doc__.replace(
    "{m}", str(_BLOOM_M)
).replace("{k}", str(_BLOOM_K))


@register(
    "corpus_budget_selection",
    oracle=f"""
WITH w AS (SELECT doc_id, length(text) AS nc, {_DUCK_WORDS} AS w
           FROM documents),
s AS (SELECT doc_id,
             CAST(floor((least(len(w) / 100.0, 1.0) * 0.6
                        + least(nc / 500.0, 1.0) * 0.4) * 10000 + 0.5)
                  AS BIGINT) AS score4,
             CAST(len(w) AS BIGINT) AS n_toks
      FROM w),
g AS (SELECT score4, CAST(sum(n_toks) AS BIGINT) AS toks FROM s GROUP BY 1),
c AS (SELECT score4, toks,
             CAST(sum(toks) OVER (ORDER BY score4 DESC) AS BIGINT) AS cum
      FROM g),
tot AS (SELECT CAST(sum(n_toks) // 2 AS BIGINT) AS budget FROM s),
tau AS (SELECT CAST(max(score4) AS BIGINT) AS tau
        FROM c CROSS JOIN tot WHERE cum > budget),
above AS (SELECT CAST(coalesce(sum(toks), 0) AS BIGINT) AS above_toks
          FROM c CROSS JOIN tau WHERE score4 > tau.tau),
r AS (SELECT tau.tau, tot.budget,
             CAST(tot.budget - above.above_toks AS BIGINT) AS rem
      FROM tot CROSS JOIN tau CROSS JOIN above),
bnd AS (SELECT s.doc_id,
               CAST(sum(s.n_toks) OVER (ORDER BY s.doc_id) AS BIGINT) AS bcum
        FROM s CROSS JOIN r WHERE s.score4 = r.tau)
SELECT s.doc_id, s.score4, s.n_toks,
       CAST(CASE WHEN s.score4 > r.tau THEN 1
                 WHEN s.score4 = r.tau AND b.bcum <= r.rem THEN 1
                 ELSE 0 END AS BIGINT) AS keep,
       r.tau AS tau_score4, r.budget AS token_budget
FROM s CROSS JOIN r LEFT JOIN bnd b ON b.doc_id = s.doc_id
""",
)
def corpus_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection (the FineWeb/DataComp curation move:
    given a quality score per document and a fixed training-token budget,
    keep the best-scoring documents until the budget fills).  The budget
    here is half the corpus tokens; the score is text_quality_score's
    composite quantized to the 1e-4 integer grid so ordering is
    engine-independent.  Selection is the exact greedy rule: every doc
    above the threshold grid point tau is kept, the boundary cell is
    filled in doc_id order until the remaining budget runs out, output is
    the per-document verdict with tau and the budget echoed.

    Scale (100 TB): the global sort-and-prefix-sum a naive implementation
    would need is replaced by the two-level HISTOGRAM form: docs
    aggregate onto the bounded score grid (<= 10001 cells), the
    cumulative scan runs over grid cells (tiny), and only the single
    boundary cell needs doc-level allocation — the same
    histogram-then-refine pattern as the quantile sketch.  Production
    would recursively refine an oversized boundary cell (or admit it
    whole); the full-cell doc-order pass here is the exact tie-break at
    test scale.

    Both unpartitioned windows are bounded-domain: the grid scan and the
    boundary-cell allocation (one score cell)."""
    t = Catalog(spark, sf_dir)
    w = t.documents.select(
        "doc_id",
        F.length("text").alias("nc"),
        F.split(_norm_text(), " ").alias("w"),
    )
    s = materialize(
        w.select(
            "doc_id",
            F.floor(
                (
                    F.least(F.size("w") / 100.0, F.lit(1.0)) * 0.6
                    + F.least(F.col("nc") / 500.0, F.lit(1.0)) * 0.4
                )
                * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("score4"),
            F.size("w").cast("long").alias("n_toks"),
        )
    )
    g = s.groupBy("score4").agg(F.sum("n_toks").cast("long").alias("toks"))
    c = g.withColumn(
        "cum",
        F.sum("toks").over(W.orderBy(F.col("score4").desc())).cast("long"),
    )
    tot = s.agg(F.sum("n_toks").alias("t")).select(
        F.expr("t div 2").cast("long").alias("budget")
    )
    tau = (
        c.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") > F.col("budget"))
        .agg(F.max("score4").cast("long").alias("tau"))
    )
    above = (
        c.crossJoin(F.broadcast(tau))
        .filter(F.col("score4") > F.col("tau"))
        .agg(F.coalesce(F.sum("toks"), F.lit(0)).cast("long").alias("above_toks"))
    )
    r = (
        tot.crossJoin(F.broadcast(tau))
        .crossJoin(F.broadcast(above))
        .select(
            "tau",
            "budget",
            (F.col("budget") - F.col("above_toks")).cast("long").alias("rem"),
        )
    )
    bnd = (
        s.crossJoin(F.broadcast(r))
        .filter(F.col("score4") == F.col("tau"))
        .withColumn(
            "bcum", F.sum("n_toks").over(W.orderBy("doc_id")).cast("long")
        )
        .select("doc_id", "bcum")
    )
    return (
        s.crossJoin(F.broadcast(r))
        .join(bnd, "doc_id", "left")
        .select(
            "doc_id",
            "score4",
            "n_toks",
            F.when(F.col("score4") > F.col("tau"), 1)
            .when(
                (F.col("score4") == F.col("tau")) & (F.col("bcum") <= F.col("rem")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("keep"),
            F.col("tau").alias("tau_score4"),
            F.col("budget").alias("token_budget"),
        )
    )


# ---------------------------------------------------------------------------
# graph-based ANN: the index family the ladder lacked — greedy
# best-first search over a bounded-degree k-NN neighbor graph (the
# HNSW/NSG layer-0 read path), deterministic end to end so the whole
# search is oracle-able.

_GANN_DEG = 16  # out-degree of the k-NN graph (hnswlib's default M)
_GANN_BEAM = 4  # beam width: best unexpanded nodes expanded per hop
_GANN_HOPS = 4  # fixed hop budget; the fold unrolls hop 1 and folds
#                 hops 2..N, so it requires >= 2 (sequence(2, 1) would
#                 DESCEND [2, 1] and silently run two extra hops) —
#                 _gann_walk guards this with an explicit if
# single-map ceiling for _gann_walk's broadcast node/embedding maps: one
# map VALUE serializes as one object (~2 GB cap; ≈550 B per 64-d entry
# ⇒ ~3.9M rows theoretical), built by ONE collect_list task — guard well
# below it and fall back to the join-based walk beyond (see _gann_walk)
_GANN_MAP_MAX_ROWS = 1_000_000


def _duck_gann_hops(pfx: str = "", g: str = "g", p: str = "p") -> str:
    """The {_GANN_HOPS}-hop beam search as DuckDB CTEs over ``p`` (ordered
    pairs with r4 cosine, covering at least every (query, node) the walk
    can touch), ``g`` (the bounded-degree graph) and ``{pfx}f0/{pfx}v0``
    (entry frontier / its scored row): each hop marks the frontier
    expanded, scores the frontier's out-neighbors against the query,
    folds them into the visited set, and re-picks the {_GANN_BEAM} best
    UNEXPANDED visited nodes as the next frontier — the
    ``search_mmr_rerank`` unrolled-chain discipline.  ``pfx`` namespaces
    the chain so one statement can run several walks (the composed
    exact-graph vs NND-graph query)."""
    parts = [f"{pfx}x0 AS (SELECT qid, node FROM {pfx}f0 WHERE 1 = 0)"]
    for k in range(1, _GANN_HOPS + 1):
        parts.append(
            f"""{pfx}x{k} AS MATERIALIZED (
  SELECT qid, node FROM {pfx}x{k - 1} UNION SELECT qid, node FROM {pfx}f{k - 1}),
{pfx}c{k} AS MATERIALIZED (
  SELECT DISTINCT f.qid, g.nb AS node
  FROM {pfx}f{k - 1} f JOIN {g} g ON g.node = f.node WHERE g.nb <> f.qid),
{pfx}v{k} AS MATERIALIZED (
  SELECT DISTINCT qid, node, cos FROM (
    SELECT qid, node, cos FROM {pfx}v{k - 1}
    UNION ALL
    SELECT c.qid, c.node, p.cos
    FROM {pfx}c{k} c JOIN {p} p ON p.vec_id = c.qid AND p.nb = c.node)),
{pfx}f{k} AS MATERIALIZED (
  SELECT qid, node FROM (
    SELECT v.qid, v.node,
           row_number() OVER (PARTITION BY v.qid
                              ORDER BY v.cos DESC, v.node) AS rn
    FROM {pfx}v{k} v LEFT JOIN {pfx}x{k} x ON x.qid = v.qid AND x.node = v.node
    WHERE x.node IS NULL) WHERE rn <= {_GANN_BEAM})"""
        )
    return ",\n".join(parts)


def _gann_walk(
    e: DataFrame,
    g: DataFrame,
    qids: DataFrame,
    entry_id: int | None = None,
) -> DataFrame:
    """The fixed-beam greedy best-first walk over a bounded-degree
    neighbor graph ``g`` for every query in ``qids``: start each query
    at its entry hub, expand the {beam} best UNEXPANDED visited nodes
    per hop for {hops} hops, score only the nodes the walk touches
    (query↔node cosines recomputed from the broadcast embedding table —
    identical r4 doubles to any pair scan, see ``similarity_graph_ann``).
    Returns the visited state — its size per query IS the walk's
    distance-evaluation cost.

    Two calling shapes, so both searches are one code path:
    - ``qids`` (qid) + ``entry_id`` the shared entry literal, ``g``
      (node, nb): one walk (``similarity_graph_ann``); returns
      (qid, node, cos).
    - ``qids`` (qid, variant, entry) + ``g`` (variant, node, nb):
      SEVERAL walks FUSED into the same hop jobs, one graph and one
      entry hub per variant (``similarity_graph_ann_nnd``'s
      exact-vs-NND comparison) — each hop is scheduler overhead over
      tiny state, so fusing halves the walk's wall-clock vs running
      the variants sequentially; returns (qid, variant, node, cos).

    The walk is a fold (the ``search_mmr_rerank`` /
    ``tokenizer_unigram_encode`` discipline): the walk state per
    (query, variant) is BOUNDED (≤ 1 + beam·deg·hops rows) and every
    hop decision is per-query-local, so the {hops} driver-side hop
    rounds — each a window + three joins + an eager ``materialize``
    over the full state table — collapse into ONE executor-side SQL
    ``aggregate`` fold per query row: the graph as a broadcast
    node→neighbors map, the embedding table as a broadcast
    vec_id→(emb, nrm) map, the whole {hops}-hop beam search as one
    projection.

    BOUND: a join-based walk broadcasts the same two tables as JOIN
    relations, so executor memory holds the
    full tables either way — but a single MAP VALUE funnels its build
    through ONE ``collect_list`` task and hits Spark's ~2 GB
    single-object serialization ceiling far earlier than a broadcast
    hash relation does (≈550 bytes per 64-d entry ⇒ low millions of
    rows).  That posture is SIMILAR, not unchanged: this fold is only
    for the sampled-oracle regime over the bounded embeddings fixture.
    Both map builds are guarded by ``raise_error`` at
    {{_GANN_MAP_MAX_ROWS}} rows (the guard rides the same fold job —
    no extra action); past the bound, use the join-based walk (per-hop
    broadcast joins against the node/embedding tables) instead of
    raising the limit.
    Every float op is the identical expression on the identical
    doubles in the identical order (the ``_dot`` zip_with fold, the
    ``r4`` floor-quantize, frontier tie-break (cos desc, node asc) as
    an array_sort comparator in place of a row_number window) —
    bit-identical to the join-based hop loop over every
    (qid, variant, node, cos) at sf0.01.  One eager ``materialize`` on
    the exploded result stands for the {hops} per-hop ones: the visited
    state is multi-referenced by every caller's readout (top-3 window +
    eval counts), exactly the case the eager-checkpoint discipline
    exists for.

    Measured alternatives (why the intermediate shapes lost):
    a "fewer exchanges" join-based restructure (one window over the
    full state + one groupBy merge with lazily-scored NULL rows)
    measured SLOWER (similarity_graph_ann 8.61 s vs 7.08 s at sf0.1,
    3-pass min) — with AQE coalescing the tiny exchanges, the extra
    per-row merge work outweighed the saved stages; per-hop
    ``eager=False`` checkpoints measured 1.5–2× slower (the 3-way
    hop-state reference recomputes whole subtrees inside the final
    job).  The fold removes the hop loop entirely instead of
    rearranging it."""
    keyed = "variant" in qids.columns
    keys = ["qid", "variant"] if keyed else ["qid"]
    varcols = ["variant"] if keyed else []

    # graph and embeddings as 1-row-per-variant broadcast maps: the walk
    # is the definition of sparse access (≤ beam·hops map probes + ≤
    # beam·deg·hops candidate scores per query), so a map lookup beats
    # re-joining per hop; collect_list order inside the maps is
    # irrelevant — every downstream choice orders by (cos, node)
    gnode = g.groupBy(*varcols, "node").agg(F.collect_list("nb").alias("nbs"))
    gm = gnode.groupBy(*varcols).agg(
        F.map_from_entries(F.collect_list(F.struct("node", "nbs"))).alias(
            "gmap"
        ),
        F.count(F.lit(1)).alias("_n_gnode"),
    )
    em = e.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct("vec_id", F.struct("emb", "nrm")))
        ).alias("embmap"),
        F.count(F.lit(1)).alias("_n_emb"),
    )
    eq = F.broadcast(
        e.select(
            F.col("vec_id").alias("qid"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    rows = qids.join(eq, "qid")
    if keyed:
        rows = rows.join(F.broadcast(gm), "variant")
    else:
        rows = rows.withColumn(
            "entry", F.lit(entry_id).cast("long")
        ).crossJoin(F.broadcast(gm))
    rows = rows.crossJoin(F.broadcast(em))

    def _r4_sql(co: str) -> str:
        # textual twin of functions.core.r4 (floor-quantize, NaN -> NULL)
        return (
            f"CASE WHEN isnan({co}) THEN CAST(NULL AS DOUBLE) "
            f"ELSE signum({co}) * (floor(abs({co}) * 10000.0D + 0.5D) "
            f"/ 10000.0D) END"
        )

    def _sc_sql(c: str) -> str:
        # textual twin of _dot(qemb, emb[c]) / (qnrm * nrm[c]) |> r4:
        # identical zip_with fold, identical divide, identical quantize
        dot = (
            f"aggregate(zip_with(qemb, element_at(embmap, {c}).emb, "
            f"(x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
        )
        co = f"({dot} / (qnrm * element_at(embmap, {c}).nrm))"
        return (
            f"named_struct('node', {c}, 'cos', {_r4_sql(co)}, "
            f"'expanded', false)"
        )

    empty_big = "slice(array(cast(0 as bigint)), 1, 0)"
    # NULLS LAST explicitly: a row_number window over cos DESC orders
    # NULLS LAST, and a NULL cos (only possible
    # from a NaN cosine, i.e. a zero-norm embedding — current data never
    # produces one) must not tie with scored rows and enter the frontier
    # by node order
    cmp_sql = (
        "(x, y) -> CASE "
        "WHEN x.cos IS NULL AND y.cos IS NOT NULL THEN 1 "
        "WHEN x.cos IS NOT NULL AND y.cos IS NULL THEN -1 "
        "WHEN x.cos > y.cos THEN -1 WHEN x.cos < y.cos THEN 1 "
        "WHEN x.node < y.node THEN -1 WHEN x.node > y.node THEN 1 ELSE 0 END"
    )
    # hop 1 unrolled: the scored entry row (expanded — absent when the
    # query IS the entry: no self-score row exists) plus the entry's
    # scored out-neighbors (neither graph contains self-edges, so the
    # entry can never re-enter as its own candidate)
    init = (
        f"concat("
        f"filter(array(named_struct('node', entry, "
        f"'cos', ({_sc_sql('entry')}).cos, 'expanded', true)), "
        f"v -> qid <> entry), "
        f"transform(filter(coalesce(element_at(gmap, entry), {empty_big}), "
        f"nb -> nb <> qid), c -> {_sc_sql('c')}))"
    )
    # hops 2..{hops}: the 1-element-array aggregate is a let-binding
    # naming the frontier (top-{beam} unexpanded by (cos desc, node)) so
    # the state update references it without recomputing the sort
    hop = (
        f"aggregate("
        f"array(slice(array_sort(filter(st, s -> NOT s.expanded), "
        f"{cmp_sql}), 1, {_GANN_BEAM})), "
        f"st, "
        f"(s2, fr) -> concat("
        f"transform(s2, s -> IF(exists(fr, f -> f.node = s.node), "
        f"named_struct('node', s.node, 'cos', s.cos, 'expanded', true), "
        f"s)), "
        f"transform("
        f"filter(array_distinct(flatten(transform(fr, f -> "
        f"coalesce(element_at(gmap, f.node), {empty_big})))), "
        f"c -> c <> qid AND NOT exists(s2, s -> s.node = c)), "
        f"c -> {_sc_sql('c')})))"
    )
    if _GANN_HOPS > 1:
        fold = f"aggregate(sequence(2, {_GANN_HOPS}), {init}, (st, k) -> {hop})"
    else:
        # sequence(2, 1) DESCENDS ([2, 1]) and would run two extra hops;
        # with a 1-hop budget the unrolled first hop IS the whole walk
        fold = init
    # map-cardinality guard (see _GANN_MAP_MAX_ROWS): rides the fold's
    # own projection — no extra job; raise_error's NullType coerces to
    # the fold's array type, so the IF is free for in-bound inputs
    fold = (
        f"IF(_n_emb > {_GANN_MAP_MAX_ROWS} OR _n_gnode > {_GANN_MAP_MAX_ROWS}, "
        f"raise_error('_gann_walk: broadcast single-map bound exceeded "
        f"(n_emb=' || _n_emb || ', n_gnode=' || _n_gnode || ', max="
        f"{_GANN_MAP_MAX_ROWS}); use the join-based walk'), {fold})"
    )
    return materialize(
        rows.select(*keys, F.explode(F.expr(fold)).alias("v"))
        .select(
            *keys,
            F.col("v.node").alias("node"),
            F.col("v.cos").alias("cos"),
        )
    )


_gann_walk.__doc__ = _gann_walk.__doc__.format(beam=_GANN_BEAM, hops=_GANN_HOPS)


def _gann_entry_hub(edges: DataFrame) -> int:
    """1-row entry-point collect (the bounded ANALYZE exception): the hub
    whose kept neighborhood is tightest — argmax over per-node BIGINT
    sums of its edges' 1e4-quantized cosines (exact,
    accumulation-order-free), id tie-break — becomes a literal so the
    walk never re-aggregates anything.  ``edges`` is any scored edge
    table (vec_id, nb, cos): the exact ranked table or the NND graph."""
    return (
        edges.groupBy("vec_id")
        .agg(
            F.sum(
                F.floor(F.col("cos") * 10000 + F.lit(0.5)).cast("long")
            ).alias("s")
        )
        .orderBy(F.col("s").desc(), "vec_id")
        .limit(1)
        .collect()[0][0]
    )


@register(
    "similarity_graph_ann",
    oracle=f"""
WITH {_DUCK_EMB},
p AS MATERIALIZED (
  SELECT a.vec_id, b.vec_id AS nb,
         round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
ranked AS MATERIALIZED (
  SELECT vec_id, nb, cos, rn FROM (
    SELECT vec_id, nb, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, nb) AS rn
    FROM p) WHERE rn <= {_GANN_DEG}),
g AS (SELECT vec_id AS node, nb FROM ranked),
ms AS (SELECT vec_id, sum(CAST(floor(cos * 10000 + 0.5) AS BIGINT)) AS s
       FROM ranked GROUP BY vec_id),
entry AS MATERIALIZED (
  SELECT vec_id AS enode FROM ms ORDER BY s DESC, vec_id LIMIT 1),
q AS (SELECT vec_id AS qid FROM e),
f0 AS MATERIALIZED (SELECT q.qid, en.enode AS node FROM q CROSS JOIN entry en),
v0 AS MATERIALIZED (
  SELECT f.qid, f.node, p.cos
  FROM f0 f JOIN p ON p.vec_id = f.qid AND p.nb = f.node),
{_duck_gann_hops()},
exact3 AS (SELECT vec_id, nb FROM ranked WHERE rn <= 3),
ann3 AS (
  SELECT qid, node FROM (
    SELECT qid, node,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, node) AS rn
    FROM v{_GANN_HOPS}) WHERE rn <= 3),
ne AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_exact
       FROM exact3 GROUP BY vec_id),
nh AS (SELECT x.vec_id, CAST(count(a.node) AS BIGINT) AS n_hits
       FROM exact3 x LEFT JOIN ann3 a
         ON a.qid = x.vec_id AND a.node = x.nb
       GROUP BY x.vec_id),
nd AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_dist_evals
       FROM v{_GANN_HOPS} GROUP BY qid)
SELECT ne.vec_id, ne.n_exact, nh.n_hits,
       round(nh.n_hits * 1.0 / ne.n_exact, 4) AS recall_at_3,
       nd.n_dist_evals
FROM ne
JOIN nh ON nh.vec_id = ne.vec_id
JOIN nd ON nd.qid = ne.vec_id
""",
)
def similarity_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN search — the OTHER industry-default index family
    (HNSW/NSG/DiskANN's read path), closing the ladder next to flat /
    IVF / PQ / IVF-PQ / LSH: build a deterministic bounded-degree k-NN
    neighbor graph (each node keeps its {_GANN_DEG} nearest neighbors by
    r4 cosine with id tie-breaks), then answer every query with a
    fixed-beam greedy best-first search — start at a deterministic hub
    entry point, expand the {_GANN_BEAM} best UNEXPANDED visited
    nodes per hop for {_GANN_HOPS} hops, score only the nodes the graph
    walk touches — and report per-query recall@3 against the exact
    neighbors alongside the distance-evaluation count the walk spent
    (the recall-vs-cost coordinates that place this index beside the
    IVF-PQ numbers from ``similarity_ivfpq_nprobe``).

    Exactness: all similarities live on the r4 grid with id tie-breaks
    (``similarity_topk_cosine``'s contract); the entry hub is an argmax
    over per-node SUMS of its top-{_GANN_DEG} edges' 1e4-quantized
    cosines held in BIGINT (exact, accumulation-order-free — the
    float-sum hazard never arises); frontier/visited/expanded evolution
    is pure set algebra on those quantized scores, so both engines
    replay the identical walk.

    Scale: the graph build here derives from the all-pairs scan — the
    documented sampled-oracle regime (production builds the graph with
    NN-descent or IVF-seeded candidates, never all pairs); the SEARCH
    side is the 100 TB path: per query it touches <= 1 +
    {_GANN_BEAM}·{_GANN_DEG}·{_GANN_HOPS} graph rows, every hop is one
    frontier⋈graph equi-join plus one per-query window over the
    candidates-only visited set ({_GANN_HOPS} bounded driver-side
    steps, the ``search_mmr_rerank`` discipline), and the distance
    evaluations per query are ~{1 + _GANN_DEG + (_GANN_HOPS - 1) * _GANN_BEAM * _GANN_DEG}
    instead of n — the whole point of the index.

    Reference parity: the candidate-pool similarity ranking of
    /root/reference/src/models/cold_start_solutions.py:95-205, served
    from a navigable neighbor graph instead of a full scan."""
    t = Catalog(spark, sf_dir)
    e = materialize(_embeddings(t))
    # the exact ranked-edge table is the only checkpoint: it feeds the
    # graph (rn <= deg), the top-3 ground truth (rn <= 3, a subset since
    # deg >= 3) and the entry-hub aggregate
    ranked = materialize(_exact_topk(e, _GANN_DEG))
    g = ranked.select(F.col("vec_id").alias("node"), "nb")
    exact3 = ranked.filter(F.col("rn") <= 3).select("vec_id", "nb")
    entry_id = _gann_entry_hub(ranked)
    # hop scoring recomputes the query↔node cosine from the broadcast
    # embedding table instead of re-joining the O(n²) pair table each
    # hop (which would reshuffle 4M rows per hop at sf0.1): the dot and
    # divide commute elementwise, so these are the identical r4 doubles
    # the pair scan produced — the search_mmr_rerank precedent.  The walk
    # itself is the ``_gann_walk`` kernel shared with the NND-graph search.
    qids = e.select(F.col("vec_id").alias("qid"))
    visited = _gann_walk(e, g, qids, entry_id)
    ann3 = (
        visited.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.col("cos").desc(), "node")
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("qid", "node")
    )
    ne = exact3.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    nh = (
        exact3.join(
            ann3,
            (F.col("qid") == F.col("vec_id")) & (F.col("node") == F.col("nb")),
            "left",
        )
        .groupBy("vec_id")
        .agg(F.count("node").cast("long").alias("n_hits"))
    )
    nd = visited.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_dist_evals")
    )
    return (
        ne.join(nh, "vec_id")
        .join(nd, F.col("qid") == F.col("vec_id"))
        .select(
            "vec_id",
            "n_exact",
            "n_hits",
            r4(F.col("n_hits") * F.lit(1.0) / F.col("n_exact")).alias(
                "recall_at_3"
            ),
            "n_dist_evals",
        )
    )


_NND_DEG = 8  # graph out-degree during NN-descent refinement
_NND_BUCKETS = 16  # hash buckets seeding the initial graph (~n/16 mates each)
_NND_ROUNDS = 2  # refinement rounds (each: neighbors ∪ neighbors-of-neighbors)
_NND_SAMPLE_MOD = 4  # true-graph recall measured on vec_id % 4 == 0 nodes
# (the sampled-oracle regime the docstring names: the EVAL side samples,
# the BUILD side always runs on every node)

# the hash-seeded NN-descent init as DuckDB CTEs (hk, g0) — shared verbatim
# by the build readout's oracle and the composed build-then-search oracle
_DUCK_NND_SEED = f"""hk AS (
  SELECT vec_id,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
           AS h
  FROM e),
g0 AS MATERIALIZED (
  SELECT vec_id, nb FROM (
    SELECT a.vec_id, b.vec_id AS nb,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY md5(CAST(a.vec_id AS VARCHAR) || ':'
                                           || CAST(b.vec_id AS VARCHAR)),
                                       b.vec_id) AS rn
    FROM hk a JOIN hk b
      ON b.h % {_NND_BUCKETS} = a.h % {_NND_BUCKETS}
     AND b.vec_id <> a.vec_id
  ) WHERE rn <= {_NND_DEG})"""


def _duck_nnd_rounds() -> str:
    """The {_NND_ROUNDS} NN-descent refinement rounds as DuckDB CTEs over
    ``g0(vec_id, nb)`` (the hash-bucket-seeded graph) and ``e``: each
    round pools the current neighbors, the neighbors-OF-neighbors, the
    REVERSE neighbors, and the co-neighbors (nodes sharing a parent —
    the paper's reverse-neighbor join), scores the pool by r4 cosine,
    and keeps the top {_NND_DEG} — the ``search_mmr_rerank``
    unrolled-chain discipline applied to graph CONSTRUCTION."""
    parts = []
    for r in range(1, _NND_ROUNDS + 1):
        parts.append(
            f"""cand{r} AS MATERIALIZED (
  SELECT DISTINCT vec_id, nb FROM (
    SELECT vec_id, nb FROM g{r - 1}
    UNION ALL
    SELECT a.vec_id, b.nb FROM g{r - 1} a JOIN g{r - 1} b ON b.vec_id = a.nb
    UNION ALL
    SELECT nb AS vec_id, vec_id AS nb FROM g{r - 1}
    UNION ALL
    SELECT a.nb AS vec_id, b.nb FROM g{r - 1} a
    JOIN g{r - 1} b ON b.vec_id = a.vec_id
  ) WHERE nb <> vec_id),
sc{r} AS MATERIALIZED (
  SELECT c.vec_id, c.nb,
         round(list_dot_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm), 4)
           AS cos
  FROM cand{r} c
  JOIN e qa ON qa.vec_id = c.vec_id
  JOIN e qb ON qb.vec_id = c.nb),
g{r} AS MATERIALIZED (
  SELECT vec_id, nb FROM (
    SELECT vec_id, nb,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, nb) AS rn
    FROM sc{r}) WHERE rn <= {_NND_DEG}),
n{r} AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_scored
         FROM cand{r} GROUP BY vec_id)"""
        )
    return ",\n".join(parts)


def _nnd_build(
    spark: SparkSession, e: DataFrame
) -> tuple[DataFrame, list[DataFrame]]:
    """NN-descent graph construction core (Dong et al. 2011) — the
    LSH-seeded init plus ``_NND_ROUNDS`` forward+reverse refinement rounds, shared
    by the build readout (``similarity_nndescent_build``) and the composed
    build-then-search query (``similarity_graph_ann_nnd``) so the graph
    both consume is one code path.  Returns ``(gfin, per_round)``:
    ``gfin`` = the final round's degree-``_NND_DEG`` graph WITH its r4 edge
    cosines (vec_id, nb, cos) — the entry-hub aggregate and any
    downstream search read it; ``per_round`` = the per-round edge tables
    [(round, vec_id, nb, n_scored), ...] (round 0 = the hash-seeded
    init, zero similarity evaluations)."""
    eq = F.broadcast(
        e.select(
            F.col("vec_id").alias("vec_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    en = F.broadcast(
        e.select(
            F.col("vec_id").alias("nb"),
            F.col("emb").alias("nemb"),
            F.col("nrm").alias("nnrm"),
        )
    )

    def _score(cand: DataFrame) -> DataFrame:
        return (
            cand.join(eq, "vec_id")
            .join(en, "nb")
            .select(
                "vec_id",
                "nb",
                (
                    _dot("qemb", "nemb") / (F.col("qnrm") * F.col("nnrm"))
                ).alias("_co"),
            )
            .select("vec_id", "nb", r4("_co").alias("cos"))
        )

    hk = e.select(
        "vec_id",
        h32(F.col("vec_id").cast("string")).alias("h"),
    )
    a, b = hk.alias("a"), hk.alias("b")
    mates = (
        a.join(
            F.broadcast(b),
            (F.col("b.h") % _NND_BUCKETS == F.col("a.h") % _NND_BUCKETS)
            & (F.col("b.vec_id") != F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nb"),
        )
        # pair-dependent hash order: each node draws its OWN pseudo-random
        # mates — ranking by the mate's hash alone would hand every node
        # in a bucket the same few hub mates and starve the descent pool
        .withColumn(
            "ph",
            F.md5(
                F.concat(
                    F.col("vec_id").cast("string"),
                    F.lit(":"),
                    F.col("nb").cast("string"),
                )
            ),
        )
    )
    g = materialize(_vec_rank(mates, "rn", "ph", k=_NND_DEG).select("vec_id", "nb"))
    # round 0 spends ZERO similarity evaluations — the init is hash-only
    per_round = [
        g.select(
            F.lit(0).cast("int").alias("round"),
            "vec_id",
            "nb",
            F.lit(0).cast("long").alias("n_scored"),
        )
    ]
    # fixed rounds in lockstep with the oracle's unroll, not ``iterate``:
    # there is no convergence test to share
    for r in range(1, _NND_ROUNDS + 1):
        # fresh exprIds on BOTH union branches: a union over a self-join
        # that reuses the checkpointed edge table's attribute ids trips
        # Catalyst's union-constraint rewrite (NoSuchElementException)
        direct = g.select(
            F.col("vec_id").alias("vec_id"), F.col("nb").alias("nb")
        )
        hop = g.select(
            F.col("vec_id").alias("mid"), F.col("nb").alias("dst")
        )
        nn = g.join(
            F.broadcast(hop), F.col("mid") == F.col("nb")
        ).select(
            F.col("vec_id").alias("vec_id"), F.col("dst").alias("nb")
        )
        rev = g.select(
            F.col("nb").alias("vec_id"), F.col("vec_id").alias("nb")
        )
        # co-neighbors: nodes sharing a parent (the reverse-neighbor join)
        sib = g.join(
            F.broadcast(
                g.select(
                    F.col("vec_id").alias("par"), F.col("nb").alias("dst")
                )
            ),
            F.col("par") == F.col("vec_id"),
        ).select(F.col("nb").alias("vec_id"), F.col("dst").alias("nb"))
        cand = (
            direct.unionByName(nn)
            .unionByName(rev)
            .unionByName(sib)
            .filter(F.col("nb") != F.col("vec_id"))
            .distinct()
            # spread BEFORE the scoring projection: AQE coalesces the tiny
            # distinct output to 1-2 partitions, which would serialize the
            # broadcast rescore; hashing on vec_id also pre-establishes the
            # top-k window's partitioning (no extra exchange)
            .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        )
        # One eager job per round: n_scored (candidates per node) rides the
        # top-k window's own exchange as an unordered count-over-partition,
        # and the window reuses the repartition's vec_id partitioning (a
        # window after a separate candidate checkpoint would pay a fresh
        # exchange — ExistingRDD loses partitioning info).  n_scored is
        # identical: _score is an inner broadcast join on keys that always
        # resolve (both sides are the embedding table), so scored rows are
        # 1:1 with candidates, and every node keeps >= 1 row (rn starts at
        # 1), so no (vec_id, n_scored) pair is lost by the rn filter.
        # keep cos on the refined edges: the final round's graph feeds the
        # entry-hub aggregate of the composed search query
        # count window FIRST (= below the rank window in the plan): if the
        # optimizer ever inserts a WindowGroupLimit under the rn-filter,
        # the full-partition count has already been computed
        scored = _score(cand).withColumn(
            "n_scored", F.count(F.lit(1)).over(W.partitionBy("vec_id")).cast("long")
        )
        g2 = materialize(
            _vec_rank(scored, "rn", F.col("cos").desc(), k=_NND_DEG)
            .select("vec_id", "nb", "cos", "n_scored")
        )
        g = g2.select("vec_id", "nb", "cos")
        per_round.append(
            g2.select(
                F.lit(r).cast("int").alias("round"), "vec_id", "nb", "n_scored"
            )
        )
    return g, per_round


@register(
    "similarity_nndescent_build",
    oracle=f"""
WITH {_DUCK_EMB},
{_DUCK_NND_SEED},
n0 AS (SELECT vec_id, CAST(0 AS BIGINT) AS n_scored
       FROM g0 GROUP BY vec_id),
{_duck_nnd_rounds()},
p AS MATERIALIZED (
  SELECT a.vec_id, b.vec_id AS nb,
         round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
  WHERE a.vec_id % {_NND_SAMPLE_MOD} = 0),
tg AS MATERIALIZED (
  SELECT vec_id, nb FROM (
    SELECT vec_id, nb,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, nb) AS rn
    FROM p) WHERE rn <= {_NND_DEG}),
rounds AS (
  SELECT 0 AS round, g0.vec_id, g0.nb, n0.n_scored
  FROM g0 JOIN n0 ON n0.vec_id = g0.vec_id
  {"".join(f'''
  UNION ALL
  SELECT {r}, g{r}.vec_id, g{r}.nb, n{r}.n_scored
  FROM g{r} JOIN n{r} ON n{r}.vec_id = g{r}.vec_id''' for r in range(1, _NND_ROUNDS + 1))}
),
tot AS (SELECT round, CAST(sum(DISTINCT_SCORED.n_scored) AS BIGINT) AS n_scored
        FROM (SELECT DISTINCT round, vec_id, n_scored FROM rounds)
          AS DISTINCT_SCORED
        GROUP BY round),
hits AS (
  SELECT r.round, r.vec_id,
         CAST(sum(CASE WHEN tg.nb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true
  FROM rounds r
  LEFT JOIN tg ON tg.vec_id = r.vec_id AND tg.nb = r.nb
  WHERE r.vec_id % {_NND_SAMPLE_MOD} = 0
  GROUP BY 1, 2)
SELECT CAST(h.round AS INTEGER) AS round,
       CAST(count(*) AS BIGINT) AS n_sampled_nodes,
       CAST(sum(h.n_true) AS BIGINT) AS n_true_edges,
       round(sum(h.n_true) * 1.0 / (count(*) * {_NND_DEG}), 4)
         AS edge_recall,
       CAST(any_value(tot.n_scored) AS BIGINT) AS n_scored
FROM hits h JOIN tot ON tot.round = h.round
GROUP BY 1
""",
)
def similarity_nndescent_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-DESCENT graph construction (Dong et al. 2011) — the SCALE PATH
    for building the k-NN graph that ``similarity_graph_ann`` searches,
    showing the graph does NOT need the all-pairs scan: seed each node
    with {_NND_DEG} hash-bucket mates (the LSH-seeded init — md5 keys
    mod {_NND_BUCKETS} buckets, pair-hash-ranked mates so every node
    draws its OWN pseudo-random sample, zero similarity computations),
    then run {_NND_ROUNDS} rounds of the NN-descent move — pool each
    node's neighbors, neighbors-of-neighbors, reverse neighbors, and
    co-neighbors (the paper's forward+reverse join), score only that
    bounded pool, keep the best {_NND_DEG} — and report, per round, the
    graph's edge recall against the TRUE top-{_NND_DEG} graph plus the
    cumulative similarity evaluations spent.  The readout is the
    paper's cost claim: recall multiplies over the random-init baseline
    (~3.5x by round {_NND_ROUNDS} here) while scoring ~3% of the n²
    pairs per round.  HONEST REGIME NOTE: the synthetic embeddings are
    near-uniform 64-d vectors (pairwise cosine mean 0, sd 0.125 — no
    cluster structure), the paper's stated hard case, so ABSOLUTE edge
    recall stays low at this cost on THIS data for any sub-quadratic
    build (the deterministic IVF's recall@3 is 0.28 on the same data);
    on clustered real embeddings the identical rounds converge toward
    1.0 — the pinned invariants are the ones that transfer: recall
    strictly climbs over the baseline, cost stays a small fraction of
    all-pairs, and both engines replay the identical refinement.

    Exactness: bucket seeds come from the shared md5 hex-prefix integer
    (both engines identical); all scores live on the r4 grid with id
    tie-breaks; the per-round graphs are row_number set algebra, so the
    whole refinement replays identically cross-engine; recall
    denominators are exact BIGINT counts.

    Scale: each round is one self-join of the bounded edge table
    (deg² candidate rows per node) plus a broadcast-embedding rescore
    and a per-node top-k window — at 100 TB the edge table shards by
    node and no stage ever touches n² pairs; the TRUE-graph comparison
    column is the documented sampled-oracle regime (production measures
    recall on a query sample).

    Reference parity: the candidate-pool construction of
    /root/reference/src/models/cold_start_solutions.py:95-205, built
    without its all-pairs similarity matrix."""
    t = Catalog(spark, sf_dir)
    e = materialize(_embeddings(t))
    gfin, per_round = _nnd_build(spark, e)
    rounds = per_round[0]
    for part in per_round[1:]:
        rounds = rounds.unionByName(part)
    # TRUE top-deg graph on the vec_id % {mod} node SAMPLE — the
    # documented sampled-oracle regime: the EVAL side samples, the build
    # side above ran on every node.  Not ``_pair_scan``: the query side is
    # the sample, so the scan is directed (sample -> all), not unordered.
    aa, bb = e.alias("a"), e.alias("b")
    p = (
        aa.filter(F.col("a.vec_id") % _NND_SAMPLE_MOD == 0)
        .join(F.broadcast(bb), F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nb"),
            _cos_ab().alias("_co"),
        )
        .select("vec_id", "nb", r4("_co").alias("cos"))
    )
    tg = materialize(
        _vec_rank(p, "rn", F.col("cos").desc(), k=_NND_DEG)
        .select("vec_id", F.col("nb").alias("tnb"))
    )
    rounds = materialize(rounds)
    # build cost over ALL nodes (one n_scored per (round, node))
    tot = (
        rounds.select("round", "vec_id", "n_scored")
        .distinct()
        .groupBy("round")
        .agg(F.sum("n_scored").cast("long").alias("n_scored_tot"))
    )
    hits = (
        rounds.filter(F.col("vec_id") % _NND_SAMPLE_MOD == 0)
        .join(
            tg,
            (tg.vec_id == rounds.vec_id) & (tg.tnb == rounds.nb),
            "left",
        )
        .groupBy("round", rounds.vec_id)
        .agg(
            F.sum(F.when(F.col("tnb").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_true"),
        )
    )
    return (
        hits.groupBy("round")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled_nodes"),
            F.sum("n_true").cast("long").alias("n_true_edges"),
            r4(
                F.sum("n_true") * F.lit(1.0) / (F.count(F.lit(1)) * _NND_DEG)
            ).alias("edge_recall"),
        )
        .join(tot, "round")
        .select(
            "round",
            "n_sampled_nodes",
            "n_true_edges",
            "edge_recall",
            F.col("n_scored_tot").alias("n_scored"),
        )
    )


def _gann_nnd_oracle(emb_cte: str) -> str:
    """The composed build-then-search oracle, parameterized by the CTE
    block that defines ``e(vec_id, emb, nrm)`` — shared verbatim by the
    near-uniform query (``similarity_graph_ann_nnd`` over the raw
    embeddings) and the planted-cluster regime
    (``similarity_graph_ann_clustered`` over the derived clustered
    vectors), so the two regimes differ ONLY in the vector source."""
    return f"""
WITH {emb_cte},
p AS MATERIALIZED (
  SELECT a.vec_id, b.vec_id AS nb,
         round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
ranked AS MATERIALIZED (
  SELECT vec_id, nb, cos, rn FROM (
    SELECT vec_id, nb, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, nb) AS rn
    FROM p) WHERE rn <= {_GANN_DEG}),
g AS (SELECT vec_id AS node, nb FROM ranked),
ms AS (SELECT vec_id, sum(CAST(floor(cos * 10000 + 0.5) AS BIGINT)) AS s
       FROM ranked GROUP BY vec_id),
entry AS MATERIALIZED (
  SELECT vec_id AS enode FROM ms ORDER BY s DESC, vec_id LIMIT 1),
{_DUCK_NND_SEED},
{_duck_nnd_rounds()},
gnc AS MATERIALIZED (
  SELECT gg.vec_id, gg.nb, sc.cos
  FROM g{_NND_ROUNDS} gg JOIN sc{_NND_ROUNDS} sc
    ON sc.vec_id = gg.vec_id AND sc.nb = gg.nb),
gn AS (SELECT vec_id AS node, nb FROM gnc),
msn AS (SELECT vec_id, sum(CAST(floor(cos * 10000 + 0.5) AS BIGINT)) AS s
        FROM gnc GROUP BY vec_id),
entryn AS MATERIALIZED (
  SELECT vec_id AS enode FROM msn ORDER BY s DESC, vec_id LIMIT 1),
q AS (SELECT vec_id AS qid FROM e WHERE vec_id % {_NND_SAMPLE_MOD} = 0),
ef0 AS MATERIALIZED (SELECT q.qid, en.enode AS node FROM q CROSS JOIN entry en),
ev0 AS MATERIALIZED (
  SELECT f.qid, f.node, p.cos
  FROM ef0 f JOIN p ON p.vec_id = f.qid AND p.nb = f.node),
{_duck_gann_hops('e')},
nf0 AS MATERIALIZED (SELECT q.qid, en.enode AS node FROM q CROSS JOIN entryn en),
nv0 AS MATERIALIZED (
  SELECT f.qid, f.node, p.cos
  FROM nf0 f JOIN p ON p.vec_id = f.qid AND p.nb = f.node),
{_duck_gann_hops('n', g='gn')},
exact3 AS (SELECT vec_id, nb FROM ranked
           WHERE rn <= 3 AND vec_id % {_NND_SAMPLE_MOD} = 0),
eann3 AS (
  SELECT qid, node FROM (
    SELECT qid, node,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, node) AS rn
    FROM ev{_GANN_HOPS}) WHERE rn <= 3),
nann3 AS (
  SELECT qid, node FROM (
    SELECT qid, node,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, node) AS rn
    FROM nv{_GANN_HOPS}) WHERE rn <= 3),
ne AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_exact
       FROM exact3 GROUP BY vec_id),
nhe AS (SELECT x.vec_id, CAST(count(a.node) AS BIGINT) AS n_hits
        FROM exact3 x LEFT JOIN eann3 a
          ON a.qid = x.vec_id AND a.node = x.nb
        GROUP BY x.vec_id),
nhn AS (SELECT x.vec_id, CAST(count(a.node) AS BIGINT) AS n_hits
        FROM exact3 x LEFT JOIN nann3 a
          ON a.qid = x.vec_id AND a.node = x.nb
        GROUP BY x.vec_id),
nde AS (SELECT qid, CAST(count(*) AS BIGINT) AS n
        FROM ev{_GANN_HOPS} GROUP BY qid),
ndn AS (SELECT qid, CAST(count(*) AS BIGINT) AS n
        FROM nv{_GANN_HOPS} GROUP BY qid)
SELECT ne.vec_id, ne.n_exact,
       nhe.n_hits AS n_hits_graph, nhn.n_hits AS n_hits_nnd,
       round(nhe.n_hits * 1.0 / ne.n_exact, 4) AS recall_graph_at_3,
       round(nhn.n_hits * 1.0 / ne.n_exact, 4) AS recall_nnd_at_3,
       nde.n AS evals_graph, ndn.n AS evals_nnd
FROM ne
JOIN nhe ON nhe.vec_id = ne.vec_id
JOIN nhn ON nhn.vec_id = ne.vec_id
JOIN nde ON nde.qid = ne.vec_id
JOIN ndn ON ndn.qid = ne.vec_id
"""


@register("similarity_graph_ann_nnd", oracle=_gann_nnd_oracle(_DUCK_EMB))
def similarity_graph_ann_nnd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED graph-ANN production story — search over the
    sub-quadratically BUILT graph — decomposing index loss into its two
    stages the way ``similarity_ivfpq_topk`` decomposes IVF loss from PQ
    loss: per sampled query (vec_id % {mod} == 0, the documented
    sampled-eval regime), run the IDENTICAL fixed-beam greedy walk
    (``_gann_walk``, the ``similarity_graph_ann`` kernel) over BOTH the
    exact all-pairs degree-{deg} graph AND the NN-descent round-{rounds}
    graph (``_nnd_build``, the ``similarity_nndescent_build`` kernel),
    and report recall@3 against the exact neighbors plus the
    distance-evaluation cost for each side by side.  recall_graph −
    recall_nnd IS the build loss as search experiences it; 1 −
    recall_graph is the search (routing) loss — the two numbers that
    tell an index operator whether to spend on a better graph or a
    wider beam.  ``similarity_graph_ann`` searches an exact-built graph
    nobody can afford at 100 TB; ``similarity_nndescent_build`` builds
    an approximate graph nobody searched; this query closes that gap.

    Exactness: both walks, both entry hubs (each graph's own
    tightest-neighborhood argmax over BIGINT 1e4-quantized edge sums),
    and the NND refinement replay identically cross-engine — every
    score lives on the r4 grid with id tie-breaks, all set algebra
    (the proofs of the two parent queries, composed).

    Scale: the NND build + walk side is the genuine 100 TB path —
    no stage touches n² pairs (deg² candidates/node/round; the walk
    touches ≤ 1 + beam·deg·hops rows per query); the exact graph and
    ground truth derive from the one all-pairs ranked table, the
    documented sampled-oracle regime (production measures recall on a
    query sample exactly like this).

    Reference parity: the candidate-pool similarity ranking of
    /root/reference/src/models/cold_start_solutions.py:95-205, served
    from a navigable approximate graph with its quality loss measured
    per stage."""
    t = Catalog(spark, sf_dir)
    return _gann_nnd_compare(spark, materialize(_embeddings(t)))


def _gann_nnd_compare(spark: SparkSession, e: DataFrame) -> DataFrame:
    """The composed exact-graph-vs-NND-graph recall/cost comparison over
    a checkpointed embedding frame ``e(vec_id, emb, nrm)`` — the entire
    body of ``similarity_graph_ann_nnd``, factored so the planted-cluster
    regime (``similarity_graph_ann_clustered``) runs the identical
    builds, walks, and readout over a different vector source."""
    # the exact side (ranked edges -> graph, ground truth, entry hub) and
    # the NND build are INDEPENDENT multi-second pipelines over the same
    # checkpointed input: submit them from two driver threads so their
    # jobs interleave on the executors — results are identical; at sf0.01
    # on 4 cores, 10 alternating fresh-process pairs built and ran
    # similarity_graph_ann_nnd in a median 27.0 s threaded against 29.4 s
    # serial (serial quartiles 28.2-30.3 s)
    def _exact_side():
        ranked = materialize(_exact_topk(e, _GANN_DEG))
        return ranked, _gann_entry_hub(ranked)

    def _nnd_side():
        gfin, _ = _nnd_build(spark, e)
        return gfin, _gann_entry_hub(gfin)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fe, fn = pool.submit(_exact_side), pool.submit(_nnd_side)
        ranked, entry_e = fe.result()
        gfin, entry_n = fn.result()
    g = ranked.select(F.col("vec_id").alias("node"), "nb")
    exact3 = ranked.filter(
        (F.col("rn") <= 3) & (F.col("vec_id") % _NND_SAMPLE_MOD == 0)
    ).select("vec_id", "nb")
    gn = gfin.select(F.col("vec_id").alias("node"), "nb")
    # both walks on the SAME sampled query set, FUSED into one keyed walk
    # (variant 'g' = exact graph, 'n' = NND graph) so every hop is one
    # job instead of two — the hops are scheduler-bound, not data-bound
    qs = e.filter(F.col("vec_id") % _NND_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("qid")
    )
    qids = qs.withColumn("variant", F.lit("g")).withColumn(
        "entry", F.lit(entry_e).cast("long")
    ).unionByName(
        qs.withColumn("variant", F.lit("n")).withColumn(
            "entry", F.lit(entry_n).cast("long")
        )
    )
    g2 = g.withColumn("variant", F.lit("g")).unionByName(
        gn.withColumn("variant", F.lit("n"))
    )
    visited = _gann_walk(e, g2, qids)
    ann3 = (
        visited.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid", "variant").orderBy(
                    F.col("cos").desc(), "node"
                )
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("qid", "variant", "node")
    )
    # one left join against both variants' top-3 lists, then conditional
    # counts: an exact neighbor missed by BOTH walks still contributes
    # its n_exact row (null variant)
    hits = (
        exact3.join(
            ann3,
            (F.col("qid") == F.col("vec_id")) & (F.col("node") == F.col("nb")),
            "left",
        )
        .groupBy("vec_id")
        .agg(
            F.countDistinct("nb").cast("long").alias("n_exact"),
            F.sum(F.when(F.col("variant") == "g", 1).otherwise(0))
            .cast("long")
            .alias("n_hits_graph"),
            F.sum(F.when(F.col("variant") == "n", 1).otherwise(0))
            .cast("long")
            .alias("n_hits_nnd"),
        )
    )
    evals = visited.groupBy("qid").agg(
        F.sum(F.when(F.col("variant") == "g", 1).otherwise(0))
        .cast("long")
        .alias("evals_graph"),
        F.sum(F.when(F.col("variant") == "n", 1).otherwise(0))
        .cast("long")
        .alias("evals_nnd"),
    )
    return (
        hits.join(evals, F.col("qid") == F.col("vec_id"))
        .select(
            "vec_id",
            "n_exact",
            "n_hits_graph",
            "n_hits_nnd",
            r4(F.col("n_hits_graph") * F.lit(1.0) / F.col("n_exact")).alias(
                "recall_graph_at_3"
            ),
            r4(F.col("n_hits_nnd") * F.lit(1.0) / F.col("n_exact")).alias(
                "recall_nnd_at_3"
            ),
            "evals_graph",
            "evals_nnd",
        )
    )


similarity_graph_ann_nnd.__doc__ = similarity_graph_ann_nnd.__doc__.format(
    mod=_NND_SAMPLE_MOD, deg=_GANN_DEG, rounds=_NND_ROUNDS
)


# --- planted-cluster regime ------------------------------------------------
# The synthetic embeddings are near-uniform on the sphere — Dong et al.'s
# stated hard case for NN-descent, so the composed query's build-loss
# attribution reads recall_nnd ~ 0.06 there and the recall axis cannot
# discriminate between index families.  Real corpora (and the reference's
# product x store similarity structure,
# /root/reference/src/models/cold_start_solutions.py:95-205) are CLUSTERED;
# this derived vector column plants that structure deterministically so the
# same composed query also reports the regime where graph builds earn
# their keep.

_PC_K = 64  # planted clusters; anchor vectors vec_id < _PC_K are centroids
_PC_ALPHA = 0.75  # offset scale: vec = anchor(vec_id % K) + alpha * own

_DUCK_EMB_CLUSTERED = f"""
e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb0 FROM embeddings),
an AS (SELECT vec_id AS c, emb0 AS aemb FROM e0 WHERE vec_id < {_PC_K}),
ec AS (SELECT e0.vec_id,
              list_transform(range(1, len(e0.emb0) + 1),
                             i -> an.aemb[i] + {_PC_ALPHA} * e0.emb0[i])
                AS emb
       FROM e0 JOIN an ON an.c = e0.vec_id % {_PC_K}),
e AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM ec)
"""


def _embeddings_clustered(t: Catalog) -> DataFrame:
    """The planted-cluster vector column, derived deterministically from
    the embeddings table itself: cluster c = vec_id % {k}; the cluster
    centroid is the ANCHOR row's raw embedding (vec_id = c — ids are
    dense, and distinct random unit vectors in d=64 are near-orthogonal,
    so the {k} centroids are well separated); each vector is
    anchor + {a}·own — intra-cluster cosine ≈ 1/(1+{a}²) ≫ cross-cluster.
    Elementwise one-multiply-one-add on the identical doubles in both
    engines (DuckDB's indexed list_transform vs Spark's zip_with — each
    element is independent, so there is no accumulation order), then the
    shared left-fold norm: ``e(vec_id, emb, nrm)`` is bit-exact
    cross-engine, the ``_embeddings`` contract."""
    e0 = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb0")
    )
    an = e0.filter(F.col("vec_id") < _PC_K).select(
        F.col("vec_id").alias("c"), F.col("emb0").alias("aemb")
    )
    ec = (
        e0.withColumn("c", F.col("vec_id") % _PC_K)
        .join(F.broadcast(an), "c")
        .select(
            "vec_id",
            F.expr(
                f"zip_with(aemb, emb0, (a, x) -> a + {_PC_ALPHA}d * x)"
            ).alias("emb"),
        )
    )
    n_parts = t.spark.sparkContext.defaultParallelism
    return ec.repartition(n_parts, "vec_id").withColumn(
        "nrm", F.sqrt(_dot("emb", "emb"))
    )


_embeddings_clustered.__doc__ = _embeddings_clustered.__doc__.format(
    k=_PC_K, a=_PC_ALPHA
)


@register(
    "similarity_graph_ann_clustered",
    oracle=_gann_nnd_oracle(_DUCK_EMB_CLUSTERED),
)
def similarity_graph_ann_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``similarity_graph_ann_nnd`` — the IDENTICAL composed
    build-then-search comparison (exact degree-{deg} graph vs NN-descent
    round-{rounds} graph, one fused fixed-beam walk, per-query recall@3
    + distance-eval cost, the same sampled query set) — run over the
    PLANTED-CLUSTER vector column (``_embeddings_clustered``) instead of
    the near-uniform raw embeddings, so the recall coordinates finally
    DISCRIMINATE instead of saturating at the hard-case floor.  Measured
    at sf0.001 (pinned by the chart test): the exact-graph walk rises
    0.667 → ~0.84 — cluster structure concentrates each node's edge
    budget where the true neighbors are, so greedy search gets BETTER —
    while the NND-graph walk rises only 0.064 → ~0.12.  That split is
    the fixture's finding, and it is measured, not assumed: the gap is
    NOT closable by more refinement (re-running the build at 3/4/5
    rounds moves neither edge recall nor walk recall — refinement
    converges round 1 to a cliquish local optimum), because the
    deterministic md5 seed buckets are RANDOM hashing, not locality-
    sensitive: a node whose seeded neighborhood misses its cluster
    never discovers it from neighbors-of-neighbors (Dong et al.'s
    local-minimum caveat, here isolated from data hardness).  The
    operator reading: spend on a locality-carrying seed (sign-bit LSH,
    IVF buckets — both on the engine's shelf), never on more rounds.
    recall_graph − recall_nnd is still the build loss as search
    experiences it; comparing that gap ACROSS the two regimes (uniform:
    walk-limited; clustered: seed-limited) is the fixture's point.

    Cluster shape: {k} clusters of n/{k} vectors — small enough that
    the degree-{deg} exact graph keeps cross-cluster edges (at
    cluster size > degree the k-NN graph disconnects outright and a
    single-entry walk reads 0 — measured at K=8, the regime this
    fixture deliberately avoids), large enough that every query's
    exact top-3 is in-cluster.

    Exactness: the derivation is one broadcast join + elementwise
    multiply-add on identical doubles (no accumulation), then every
    downstream stage is the already-proven composed pipeline — both
    engines replay the identical builds and walks on the identical r4
    grid.

    Scale: the derivation adds one broadcast {k}-row join over the
    embedding scan; everything else inherits the composed query's
    bounds (no n² stage on the NND side, walk touches
    ≤ 1 + beam·deg·hops rows per query).

    Reference parity: the reference's similarity engine runs on
    clustered product×store structure
    (/root/reference/src/models/cold_start_solutions.py:95-205); this is
    the regime where its candidate pools behave like these buckets."""
    t = Catalog(spark, sf_dir)
    return _gann_nnd_compare(spark, materialize(_embeddings_clustered(t)))


similarity_graph_ann_clustered.__doc__ = similarity_graph_ann_clustered.__doc__.format(
    deg=_GANN_DEG, rounds=_NND_ROUNDS, k=_PC_K
)


# ---------------------------------------------------------------------------
# unigram-LM tokenizer: the SentencePiece-style counterpart of
# the BPE pair (learn_bpe_merges / corpus_bpe_encode) — and unlike BPE's
# rows-only driver loop, FULLY ORACLED: Viterbi segmentation is a bounded
# dynamic program over word positions, so two hard-EM rounds unroll into
# deterministic CTE chains the same way the GD fits and PageRank do.

_TOK_MAXLEN = 10  # learner word-length cap (DP unroll budget)
_TOK_PIECE_MAX = 4  # candidate piece length 1..4
_TOK_VOCAB_MULTI = 64  # multi-char vocab slots (singles always included)
_TOK_WORD_CAP = 2000  # Zipf-compact learner corpus cap (count desc, word)
_TOK_OUT = 30  # emitted vocabulary rows


def _duck_viterbi_round(pfx: str, vcte: str, wcte: str = "wd") -> str:
    """One Viterbi round as unrolled CTEs: ``{pfx}dp{i}`` holds, per word
    reaching position i, the cheapest segmentation of its first i chars
    (cost asc, shorter-last-piece tie-break), carrying the segmentation
    itself as a space-joined string; ``{pfx}fin`` collects each word at
    its own length.  ``wcte`` is the (word, c) table the round runs over
    — the capped learner corpus for the EM rounds, the FULL word table
    for the encode pass."""
    parts = [
        f"{pfx}dp0 AS (SELECT word, c, CAST(0 AS BIGINT) AS cost,"
        f" '' AS seg FROM {wcte})"
    ]
    for i in range(1, _TOK_MAXLEN + 1):
        branches = []
        for l in range(1, _TOK_PIECE_MAX + 1):
            if i - l < 0:
                continue
            branches.append(f"""
      SELECT d.word, d.c, d.cost + v.cost_q AS cost,
             CASE WHEN d.seg = '' THEN v.piece
                  ELSE d.seg || ' ' || v.piece END AS seg,
             {l} AS l
      FROM {pfx}dp{i - l} d JOIN {vcte} v
        ON v.piece = substr(d.word, {i - l + 1}, {l})
      WHERE length(d.word) >= {i}""")
        parts.append(f"""{pfx}dp{i} AS MATERIALIZED (
  SELECT word, c, cost, seg FROM (
    SELECT u.word, u.c, u.cost, u.seg,
           row_number() OVER (PARTITION BY u.word
                              ORDER BY u.cost, u.l) AS rn
    FROM ({' UNION ALL '.join(branches)}
    ) u) WHERE rn = 1)""")
    fins = " UNION ALL ".join(
        f"SELECT word, c, seg FROM {pfx}dp{i} WHERE length(word) = {i}"
        for i in range(1, _TOK_MAXLEN + 1)
    )
    parts.append(f"{pfx}fin AS MATERIALIZED ({fins})")
    return ",\n".join(parts)


def _tok_costs_engine(
    spark: SparkSession, mass: dict[str, int]
) -> dict[str, int]:
    """floor(-log2(n/N)·1e4 + 0.5) per piece — computed ENGINE-SIDE (one
    tiny Spark job over the integer mass table) so the quantized doubles
    are the oracle's own, never Python libm's."""
    nt = sum(mass.values())
    df = spark.createDataFrame(sorted(mass.items()), "piece string, n long")
    rows = df.select(
        "piece",
        F.floor(
            -F.log2(F.col("n") * F.lit(1.0) / F.lit(nt)) * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cq"),
    ).collect()
    return {r["piece"]: int(r["cq"]) for r in rows}


def _tok_viterbi_best(word: str, cost: dict[str, int]):
    """The cheapest full segmentation of ``word`` under ``cost`` —
    (total_cost, [pieces]) with the exact (cost asc, shorter-last-piece)
    tie order the oracle's row_number uses — or None when no piece cover
    exists (the oracle's dp CTEs likewise yield no row)."""
    ln = len(word)
    best: list = [None] * (ln + 1)
    best[0] = (0, [])
    for i in range(1, ln + 1):
        cands = []
        for l in range(1, min(_TOK_PIECE_MAX, i) + 1):
            piece = word[i - l : i]
            prev = best[i - l]
            if prev is not None and piece in cost:
                cands.append((prev[0] + cost[piece], l, piece))
        if cands:
            cst, l, piece = min(cands)
            best[i] = (cst, best[i - l][1] + [piece])
    return best[ln]


def _tok_viterbi_sql(cost: dict[str, int]) -> str:
    """The per-word Viterbi DP as ONE executor-side SQL fold over the
    word's positions — the ``corpus_bpe_encode`` HOF discipline, so the
    encode pass never collects fact-derived rows to the driver (distinct
    words grow ~Heaps' law with corpus size; the learner's spec-CAPPED
    word table is the only driver-held state).

    Semantics are bit-identical to ``_tok_viterbi_best``: the fold
    carries dp[0..i] as an array of structs (cost, l, k); at each
    position i the candidate for piece length l is dp[i-l] + cost_q of
    substring(word, i-l+1, l), and ``array_min`` over the candidate
    structs implements the exact (cost asc, shorter-last-piece) tie
    order because struct comparison is lexicographic on (cost, l).
    Unreachable positions are null elements (``array_min`` skips nulls
    and returns null when no candidate exists — the oracle's
    no-dp-row case).  Returns the SQL for dp[length(word)]: a struct
    (cost, l, k) or null when the word is unencodable.

    The cost table is inlined as a ``map(...)`` literal — bounded by the
    vocabulary spec (singles + top-{multi} pieces), the GD-calibrator
    literal pattern.  Safety is ASSERTED, not assumed: every piece must
    match ``[a-z0-9]+`` (what the upstream word extraction produces)
    before it is embedded, and the map literal is bound ONCE — it rides
    in the fold's accumulator struct next to the dp array instead of
    being repeated in each length branch, so expression size grows with
    the vocabulary once, not 4x."""
    bad = [p for p in cost if not re.fullmatch(r"[a-z0-9]+", p)]
    if bad:
        raise ValueError(
            f"vocabulary pieces unsafe to inline as SQL literals: {bad[:5]!r}"
        )
    cmap = "map(" + ", ".join(
        f"'{p}', {c}L" for p, c in sorted(cost.items())
    ) + ")"
    branches = []
    for l in range(1, _TOK_PIECE_MAX + 1):
        prev = f"element_at(acc.dp, i - {l} + 1)"
        cq = f"try_element_at(acc.cm, substring(word, i - {l} + 1, {l}))"
        branches.append(
            f"case when i >= {l} and {prev} is not null"
            f" and {cq} is not null"
            f" then named_struct('cost', {prev}.cost + {cq},"
            f" 'l', {l}L, 'k', {prev}.k + 1L) else null end"
        )
    step = (
        "named_struct('dp', concat(acc.dp, array(array_min(array("
        + ", ".join(branches)
        + ")))), 'cm', acc.cm)"
    )
    # the dp zero MUST carry a nullable element type: unreachable
    # positions append null structs, and an accumulator typed
    # containsNull=false (what a bare array(named_struct(...)) declares)
    # NPEs in codegen the moment one is read back — hence the
    # slice-over-[struct, null] shape
    zero_dp = (
        "slice(array(named_struct('cost', 0L, 'l', 0L, 'k', 0L), "
        "cast(null as struct<cost:bigint,l:bigint,k:bigint>)), 1, 1)"
    )
    zero = f"named_struct('dp', {zero_dp}, 'cm', {cmap})"
    return (
        f"aggregate(sequence(1, length(word)), {zero}, "
        f"(acc, i) -> {step}, "
        f"acc -> element_at(acc.dp, length(word) + 1))"
    )


def _tok_recount(
    words: list, cost: dict[str, int]
) -> dict[str, int]:
    """One hard-EM round over (word, count) rows: piece mass recounted
    along each word's Viterbi segmentation."""
    out: dict[str, int] = {}
    for w, c in words:
        for piece in _tok_viterbi_best(w, cost)[1]:
            out[piece] = out.get(piece, 0) + c
    return out


def _tok_learn(spark: SparkSession, t: Catalog):
    """The shared learner pipeline: capped word table + candidate mass
    (the two distributed passes), then two hard-EM rounds driver-side.
    Returns (cand_df, r1, r2) — the candidate-mass DataFrame for
    engine-side joins plus both rounds' piece-usage counts."""
    # feeds the candidate grid + the final join
    wd = materialize(
        t.documents.select(
            F.explode(F.split(_norm_text(), " ")).alias("word")
        )
        .filter(
            (F.col("word") != "") & (F.length("word") <= _TOK_MAXLEN)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(_TOK_WORD_CAP)
    )
    cand = materialize(
        wd.select(
            "word",
            "c",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
        )
        .select(
            "word",
            "c",
            "i",
            F.explode(
                F.sequence(F.lit(1), F.lit(_TOK_PIECE_MAX))
            ).alias("l"),
        )
        .filter(F.col("i") + F.col("l") - 1 <= F.length("word"))
        .select(
            F.expr("substring(word, i, l)").alias("piece"),
            "c",
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("n_sub"))
    )
    # spec-capped learner corpus + vocabulary-bounded mass tables to the
    # driver (the DoReMi bounded-collect exception: |rows| <= cap, never
    # data-sized)
    words = [(r["word"], int(r["c"])) for r in wd.collect()]
    mass0 = {r["piece"]: int(r["n_sub"]) for r in cand.collect()}
    multi = sorted(
        ((p, n) for p, n in mass0.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:_TOK_VOCAB_MULTI]
    v0m = {p: n for p, n in mass0.items() if len(p) == 1}
    v0m.update(dict(multi))
    r1 = _tok_recount(words, _tok_costs_engine(spark, v0m))
    r2 = _tok_recount(words, _tok_costs_engine(spark, r1))
    return cand, r1, r2


def _unigram_tok_oracle() -> str:
    return f"""
WITH w0 AS (SELECT unnest({_DUCK_WORDS}) AS word FROM documents),
wd AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS c
  FROM w0
  WHERE word <> '' AND length(word) <= {_TOK_MAXLEN}
  GROUP BY 1 ORDER BY c DESC, word LIMIT {_TOK_WORD_CAP}),
cand AS MATERIALIZED (
  SELECT substr(wd.word, ii.i, ll.l) AS piece,
         CAST(sum(wd.c) AS BIGINT) AS n_sub
  FROM wd,
       unnest(range(1, length(wd.word) + 1)) AS ii(i),
       unnest(range(1, {_TOK_PIECE_MAX + 1})) AS ll(l)
  WHERE ii.i + ll.l - 1 <= length(wd.word)
  GROUP BY 1),
v0m AS (
  SELECT piece, n_sub FROM cand WHERE length(piece) = 1
  UNION ALL
  SELECT piece, n_sub FROM (
    SELECT piece, n_sub FROM cand WHERE length(piece) > 1
    ORDER BY n_sub DESC, piece LIMIT {_TOK_VOCAB_MULTI}) m),
n0 AS (SELECT CAST(sum(n_sub) AS BIGINT) AS nt FROM v0m),
v1 AS MATERIALIZED (
  SELECT piece,
         CAST(floor(-log2(n_sub * 1.0 / (SELECT nt FROM n0))
                    * 10000 + 0.5) AS BIGINT) AS cost_q
  FROM v0m),
{_duck_viterbi_round('a', 'v1')},
r1 AS MATERIALIZED (
  SELECT s.piece, CAST(sum(f.c) AS BIGINT) AS n
  FROM afin f, unnest(string_split(f.seg, ' ')) AS s(piece)
  GROUP BY 1),
n1 AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM r1),
v2 AS MATERIALIZED (
  SELECT piece,
         CAST(floor(-log2(n * 1.0 / (SELECT nt FROM n1))
                    * 10000 + 0.5) AS BIGINT) AS cost_q
  FROM r1),
{_duck_viterbi_round('b', 'v2')},
r2 AS MATERIALIZED (
  SELECT s.piece, CAST(sum(f.c) AS BIGINT) AS n
  FROM bfin f, unnest(string_split(f.seg, ' ')) AS s(piece)
  GROUP BY 1),
n2 AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM r2)
SELECT r2.piece,
       CAST(length(r2.piece) AS BIGINT) AS piece_len,
       cand.n_sub,
       r1.n AS n_r1,
       r2.n AS n_r2,
       CAST(floor(-log2(r2.n * 1.0 / (SELECT nt FROM n2))
                  * 10000 + 0.5) AS BIGINT) AS cost2_q
FROM r2
JOIN r1 ON r1.piece = r2.piece
JOIN cand ON cand.piece = r2.piece
ORDER BY r2.n DESC, r2.piece LIMIT {_TOK_OUT}
"""


@register("tokenizer_unigram_em", oracle=_unigram_tok_oracle())
def tokenizer_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style UNIGRAM-LM tokenizer, learned with two hard-EM
    rounds (Kudo 2018, the Viterbi/hard variant) — the second tokenizer
    family next to BPE (``learn_bpe_merges``/``corpus_bpe_encode``), and
    unlike BPE's inherently-order-dependent merge loop this one is FULLY
    ORACLED: Viterbi over word positions is a bounded DP, so both EM
    rounds unroll into the same deterministic CTE chains the GD fits and
    PageRank use.

    Spec (each choice deterministic on both engines): learner corpus =
    the Zipf-compact distinct-word table (engine norm rule, words <=
    {maxlen} chars, top {cap} by count desc/word asc); candidate pieces
    = all substrings of length 1..{pmax} with corpus-weighted mass;
    seed vocab = every single char + the top {vmulti} multi-char pieces;
    piece cost = floor(-log2(mass/total)·1e4 + 0.5) BIGINT (the
    ``text_unigram_logprob`` quantization, driver-proven since r2);
    E-step = per-word Viterbi (min total cost, ties -> shorter last
    piece); M-step = recount piece mass along the chosen segmentations —
    pieces the E-step never uses drop out, which IS the unigram
    algorithm's prune step.  Emits the top-{out} learned vocabulary with
    raw substring mass, round-1 and round-2 usage, and the final
    quantized cost.

    Exactness: costs are BIGINT 1e-4 bit-counts and EVERY transcendental
    is computed ENGINE-SIDE (the ``corpus_doremi_weights`` discipline):
    the piece-cost floor(-log2 ratio) expressions run as Spark column
    math over the integer mass tables, so the DuckDB oracle and the
    Spark path quantize the identical doubles; the Viterbi itself is
    pure integer/argmin algebra with a total tie order (cost asc,
    shorter last piece), bit-identical between the driver loop and the
    oracle's unrolled dp CTEs.

    Scale: the fact-scale work is ONE explode+count over the corpus
    (the ``text_token_count`` pass) plus the vocabulary-bounded
    candidate-mass aggregate; the DP then runs DRIVER-SIDE over the
    spec-capped word table (top {cap} words × ≤{maxlen} positions —
    bounded by the CAP, not the data; a first cut ran it as ~{maxlen}×2
    chained window shuffles over a 31-row table and spent 7 s of pure
    scheduler overhead, the measurement that forced this shape), the
    same driver-held-state discipline as DoReMi and the BPE learner.
    SentencePiece itself trains on a driver-sized subsample and encodes
    everything — same split.

    Reference parity: the reference has no subword layer (word-level
    feature engineering only, /root/reference/src/features/
    behavioral_features_engine.py); this supplies the LLM-pipeline
    tokenizer the curation stack tokenizes budgets with."""
    t = Catalog(spark, sf_dir)
    cand, r1, r2 = _tok_learn(spark, t)
    n2t = sum(r2.values())
    top = sorted(r2.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOK_OUT]
    out_df = spark.createDataFrame(top, "piece string, n_r2 long")
    m_r1 = F.create_map(
        *[F.lit(x) for p, _ in top for x in (p, r1[p])]
    )
    return (
        out_df.join(F.broadcast(cand), "piece")
        .select(
            "piece",
            F.length("piece").cast("long").alias("piece_len"),
            "n_sub",
            m_r1[F.col("piece")].cast("long").alias("n_r1"),
            "n_r2",
            F.floor(
                -F.log2(F.col("n_r2") * F.lit(1.0) / F.lit(n2t)) * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cost2_q"),
        )
    )


def _unigram_encode_oracle() -> str:
    """Learner chain (identical to ``tokenizer_unigram_em``'s) + a THIRD
    Viterbi pass over the FULL word table under the learned round-2
    costs, read back as per-source encoding statistics."""
    return f"""
WITH w0 AS (SELECT unnest({_DUCK_WORDS}) AS word FROM documents),
wd AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS c
  FROM w0
  WHERE word <> '' AND length(word) <= {_TOK_MAXLEN}
  GROUP BY 1 ORDER BY c DESC, word LIMIT {_TOK_WORD_CAP}),
cand AS MATERIALIZED (
  SELECT substr(wd.word, ii.i, ll.l) AS piece,
         CAST(sum(wd.c) AS BIGINT) AS n_sub
  FROM wd,
       unnest(range(1, length(wd.word) + 1)) AS ii(i),
       unnest(range(1, {_TOK_PIECE_MAX + 1})) AS ll(l)
  WHERE ii.i + ll.l - 1 <= length(wd.word)
  GROUP BY 1),
v0m AS (
  SELECT piece, n_sub FROM cand WHERE length(piece) = 1
  UNION ALL
  SELECT piece, n_sub FROM (
    SELECT piece, n_sub FROM cand WHERE length(piece) > 1
    ORDER BY n_sub DESC, piece LIMIT {_TOK_VOCAB_MULTI}) m),
n0 AS (SELECT CAST(sum(n_sub) AS BIGINT) AS nt FROM v0m),
v1 AS MATERIALIZED (
  SELECT piece,
         CAST(floor(-log2(n_sub * 1.0 / (SELECT nt FROM n0))
                    * 10000 + 0.5) AS BIGINT) AS cost_q
  FROM v0m),
{_duck_viterbi_round('a', 'v1')},
r1 AS MATERIALIZED (
  SELECT s.piece, CAST(sum(f.c) AS BIGINT) AS n
  FROM afin f, unnest(string_split(f.seg, ' ')) AS s(piece)
  GROUP BY 1),
n1 AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM r1),
v2 AS MATERIALIZED (
  SELECT piece,
         CAST(floor(-log2(n * 1.0 / (SELECT nt FROM n1))
                    * 10000 + 0.5) AS BIGINT) AS cost_q
  FROM r1),
{_duck_viterbi_round('b', 'v2')},
r2 AS MATERIALIZED (
  SELECT s.piece, CAST(sum(f.c) AS BIGINT) AS n
  FROM bfin f, unnest(string_split(f.seg, ' ')) AS s(piece)
  GROUP BY 1),
n2 AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM r2),
v3 AS MATERIALIZED (
  SELECT piece,
         CAST(floor(-log2(n * 1.0 / (SELECT nt FROM n2))
                    * 10000 + 0.5) AS BIGINT) AS cost_q
  FROM r2),
wfull AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS c
  FROM w0
  WHERE word <> '' AND length(word) <= {_TOK_MAXLEN}
  GROUP BY 1),
{_duck_viterbi_round('e', 'v3', 'wfull')},
ew AS MATERIALIZED (
  SELECT f.word,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(v3.cost_q) AS BIGINT) AS cost_q
  FROM efin f, unnest(string_split(f.seg, ' ')) AS s(piece)
  JOIN v3 ON v3.piece = s.piece
  GROUP BY 1),
sw AS MATERIALIZED (
  SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest({_DUCK_WORDS}) AS word FROM documents)
  WHERE word <> '' AND length(word) <= {_TOK_MAXLEN}
  GROUP BY 1, 2)
SELECT sw.source,
       CAST(sum(sw.cnt) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_distinct_words,
       CAST(sum(CASE WHEN ew.word IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unencodable,
       CAST(sum(CASE WHEN ew.word IS NULL THEN 0
                     ELSE sw.cnt * ew.k END) AS BIGINT) AS n_pieces,
       round(sum(CASE WHEN ew.word IS NULL THEN 0
                      ELSE sw.cnt * ew.k END) * 1.0
             / nullif(sum(CASE WHEN ew.word IS NULL THEN 0
                               ELSE sw.cnt END), 0), 4)
         AS avg_pieces_per_word,
       round(sum(CASE WHEN ew.word IS NULL THEN 0
                      ELSE sw.cnt * ew.cost_q END)
             / (nullif(sum(CASE WHEN ew.word IS NULL THEN 0
                                ELSE sw.cnt END), 0) * 10000.0), 4)
         AS avg_bits_per_word
FROM sw LEFT JOIN ew ON ew.word = sw.word
GROUP BY 1
"""


@register("tokenizer_unigram_encode", oracle=_unigram_encode_oracle())
def tokenizer_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus APPLICATION of the learned unigram tokenizer — the
    learn/apply symmetry the BPE family has (``learn_bpe_merges`` →
    ``corpus_bpe_encode``), fully oracled on both halves: re-run the
    two-round learner, then Viterbi-encode EVERY corpus word (not just
    the capped learner table) under the final round-2 costs, and read
    the result as per-source encoding statistics — word and piece
    volumes, pieces-per-word (the compression the tokenizer actually
    achieves), bits-per-word (the corpus cross-entropy under the learned
    piece LM), and the honest unencodable count (a word whose characters
    the pruned vocabulary no longer covers cannot be segmented; it is
    COUNTED, never silently dropped).  Sources that drift from the
    learner mix surface immediately as higher bits-per-word — the
    per-source tokenizer-health readout a curation stack watches.

    Exactness: identical primitives to the learner (engine-side
    quantized log2 costs, integer Viterbi with the shorter-last-piece
    tie order); the per-source sums are integer cnt·k / cnt·cost_q
    products, order-free; the two averages are single r4 divisions.

    Scale: encoding runs ONCE PER DISTINCT WORD (the
    ``corpus_bpe_encode`` discipline — the word table is Zipf-compact)
    as an EXECUTOR-SIDE SQL fold (``_tok_viterbi_sql``): the learned
    cost table is a vocabulary-bounded map literal, the DP itself is
    one ``aggregate`` HOF projection over the distributed distinct-word
    table, and the per-word results join back onto the (source, word)
    counts — NO fact-derived rows ever reach the driver (distinct words
    grow ~Heaps' law with corpus size, so a driver-side loop over them
    would be a 100 TB collect bottleneck).  The
    fact-scale passes are the (source, word) count and that join.

    Reference parity: see ``tokenizer_unigram_em`` — the reference has
    no subword layer; this is the apply half of the pair."""
    t = Catalog(spark, sf_dir)
    _, _, r2 = _tok_learn(spark, t)
    cost3 = _tok_costs_engine(spark, r2)
    # feeds the distinct-word encode + the join
    sw = materialize(
        t.documents.select(
            "source", F.explode(F.split(_norm_text(), " ")).alias("word")
        )
        .filter(
            (F.col("word") != "") & (F.length("word") <= _TOK_MAXLEN)
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # once per DISTINCT word, on the EXECUTORS: the Viterbi fold under
    # the learned (vocabulary-bounded) cost map; unencodable words yield
    # a null dp struct and stay countable through the left join
    ew = (
        sw.select("word")
        .distinct()
        .select("word", F.expr(_tok_viterbi_sql(cost3)).alias("dp"))
        .filter(F.col("dp").isNotNull())
        .select(
            "word",
            F.col("dp.cost").alias("cost_q"),
            F.col("dp.k").alias("k"),
        )
    )
    enc_cnt = F.when(F.col("k").isNull(), F.lit(0)).otherwise(F.col("cnt"))
    return (
        sw.join(ew, "word", "left")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
            F.sum(
                F.when(F.col("k").isNull(), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_unencodable"),
            F.sum(
                F.when(F.col("k").isNull(), F.lit(0)).otherwise(
                    F.col("cnt") * F.col("k")
                )
            )
            .cast("long")
            .alias("n_pieces"),
            r4(
                F.sum(
                    F.when(F.col("k").isNull(), F.lit(0)).otherwise(
                        F.col("cnt") * F.col("k")
                    )
                )
                * F.lit(1.0)
                / F.nullif(F.sum(enc_cnt), F.lit(0))
            ).alias("avg_pieces_per_word"),
            r4(
                F.sum(
                    F.when(F.col("k").isNull(), F.lit(0)).otherwise(
                        F.col("cnt") * F.col("cost_q")
                    )
                )
                / (F.nullif(F.sum(enc_cnt), F.lit(0)) * F.lit(10000.0))
            ).alias("avg_bits_per_word"),
        )
    )


_ROC_QMOD = 25  # vec_id % this == 0 -> query set (bounded, deterministic)
_ROC_FB = 3  # pseudo-relevant documents fed back per query
_ROC_K = 5  # evaluation depth
_ROC_BETA = 0.75  # Rocchio feedback weight (alpha = 1.0, gamma = 0)


@register(
    "search_rocchio_feedback",
    oracle=f"""
WITH {_DUCK_EMB},
q AS (SELECT e.*, l.label FROM e
      JOIN (SELECT vec_id, label FROM embeddings) l USING (vec_id)
      WHERE vec_id % {_ROC_QMOD} = 0),
lab AS (SELECT vec_id, label FROM embeddings),
p0 AS (
  SELECT q.vec_id AS qid, q.label AS qlabel, b.vec_id AS neighbor_id,
         round(list_dot_product(q.emb, b.emb) / (q.nrm * b.nrm), 4) AS s0,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_dot_product(q.emb, b.emb) / (q.nrm * b.nrm),
                          4) DESC, b.vec_id) AS rn
  FROM q JOIN e b ON q.vec_id <> b.vec_id),
top0 AS (SELECT * FROM p0 WHERE rn <= {_ROC_K}),
fbc AS (
  SELECT t.qid, unnest(b.emb) AS x,
         unnest(range(1, len(b.emb) + 1)) AS i
  FROM top0 t JOIN e b ON b.vec_id = t.neighbor_id
  WHERE t.rn <= {_ROC_FB}),
mu9 AS (
  SELECT qid, i,
         CAST(sum(CAST(floor(x * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS s9,
         CAST(count(*) AS BIGINT) AS n
  FROM fbc GROUP BY 1, 2),
mu AS (
  SELECT qid, list(s9 / (n * 1000000000.0) ORDER BY i) AS mu
  FROM mu9 GROUP BY 1),
qf AS (
  SELECT q.vec_id, q.label, q.emb, mu.mu,
         sqrt(list_dot_product(q.emb, q.emb)
              + 2 * {_ROC_BETA} * list_dot_product(q.emb, mu.mu)
              + {_ROC_BETA} * {_ROC_BETA} * list_dot_product(mu.mu, mu.mu))
           AS nq1
  FROM q JOIN mu ON mu.qid = q.vec_id),
p1 AS (
  SELECT qf.vec_id AS qid, qf.label AS qlabel, b.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY qf.vec_id
           ORDER BY round((list_dot_product(qf.emb, b.emb)
                           + {_ROC_BETA} * list_dot_product(qf.mu, b.emb))
                          / (qf.nq1 * b.nrm), 4) DESC, b.vec_id) AS rn
  FROM qf JOIN e b ON qf.vec_id <> b.vec_id),
top1 AS (SELECT * FROM p1 WHERE rn <= {_ROC_K})
SELECT t0.qid AS vec_id, CAST(t0.qlabel AS BIGINT) AS label,
       CAST(sum(CASE WHEN l0.label = t0.qlabel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_match_before,
       CAST((SELECT sum(CASE WHEN l1.label = t1.qlabel THEN 1 ELSE 0 END)
             FROM top1 t1 JOIN lab l1 ON l1.vec_id = t1.neighbor_id
             WHERE t1.qid = t0.qid) AS BIGINT) AS n_match_after,
       CAST((SELECT count(*) FROM top1 t1
             WHERE t1.qid = t0.qid
               AND t1.neighbor_id IN (SELECT neighbor_id FROM top0 t2
                                      WHERE t2.qid = t0.qid)) AS BIGINT)
         AS overlap_top5
FROM top0 t0 JOIN lab l0 ON l0.vec_id = t0.neighbor_id
GROUP BY t0.qid, t0.qlabel
""",
)
def search_rocchio_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDO-RELEVANCE FEEDBACK retrieval (Rocchio 1971, the classic
    query-expansion loop): per query vector, retrieve exact cosine
    top-{k}, treat the top-{fb} as pseudo-relevant, move the query
    toward their centroid (q' = q + {beta}*mu, the alpha=1/gamma=0
    Rocchio), re-rank, and report whether feedback helped — top-{k}
    label purity before vs after plus the list overlap.  This closes
    the retrieval family's loop: ranking (``similarity_topk_cosine``),
    fusion (``search_hybrid_rrf``), diversification
    (``search_mmr_rerank``), and now FEEDBACK.

    Determinism: the feedback centroid is an elementwise mean on a 1e-9
    BIGINT grid (order-free, the IVF-PQ Lloyd-update discipline); the
    re-rank score uses LINEARITY — cos(q + b*mu, d) expands to
    (<q,d> + b*<mu,d>) / (|q'|*|d|) — so q' itself is never
    materialized and every dot product is the same sequential fold both
    engines run; both rankings order by the 4dp-quantized score with
    vec_id tie-breaks.

    Reference parity: the reference has no retrieval loop; this is the
    standard IR baseline (Manning et al., IIR ch.9) every search stack
    ships before learned rankers.

    Scale: the query set is |corpus|/{qmod} by construction; both pair
    scans broadcast the corpus side and partition the query side (the
    sampled-oracle regime the exact ANN family documents — at 100 TB
    the first-stage ranking swaps to the IVF index, the feedback math
    is unchanged)."""
    t = Catalog(spark, sf_dir)
    # eager materializations, not lazy (eager=False) ones: folding the
    # three ~0.5 s job submissions into the final action gained nothing
    # measurable (3-pass min 8.03 s lazy vs 7.46 s eager), every frame
    # here is multi-referenced (e feeds both pair scans; top0 feeds
    # purity-before, the overlap join AND the centroid), and under the
    # final single action the racing branch materializations emitted
    # dozens of zombie accessNonExistentAccumulatorError stack traces
    # per run.
    e = materialize(_embeddings(t))  # corpus side of BOTH pair scans
    lab = t.embeddings.select("vec_id", F.col("label").cast("long").alias("label"))
    q = (
        e.filter(F.col("vec_id") % _ROC_QMOD == 0)
        .join(lab, "vec_id")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    b = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("bemb"),
        F.col("nrm").alias("bnrm"),
    )
    w0 = W.partitionBy("qid").orderBy(F.col("s0").desc(), F.col("neighbor_id"))
    # feeds purity-before, overlap AND the centroid
    top0 = materialize(
        q.join(F.broadcast(b), F.col("qid") != F.col("neighbor_id"))
        .select(
            "qid",
            "qlabel",
            "neighbor_id",
            (_dot("qemb", "bemb") / (F.col("qnrm") * F.col("bnrm"))).alias("_s"),
        )
        .select("qid", "qlabel", "neighbor_id", r4("_s").alias("s0"))
        .withColumn("rn", F.row_number().over(w0))
        .filter(F.col("rn") <= _ROC_K)
    )
    mu = (
        top0.filter(F.col("rn") <= _ROC_FB)
        .join(b, "neighbor_id")
        .select("qid", F.posexplode("bemb").alias("i", "x"))
        .groupBy("qid", "i")
        .agg(
            F.sum(F.floor(F.col("x") * 1000000000 + F.lit(0.5)))
            .cast("long")
            .alias("s9"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .groupBy("qid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, s9, n))),"
                " t -> t.s9 / (t.n * 1000000000.0))"
            ).alias("mu")
        )
    )
    beta = F.lit(_ROC_BETA)
    qf = q.join(mu, "qid").select(
        "qid",
        "qlabel",
        "qemb",
        "mu",
        F.sqrt(
            _dot("qemb", "qemb")
            + F.lit(2.0) * beta * _dot("qemb", "mu")
            + beta * beta * _dot("mu", "mu")
        ).alias("nq1"),
    )
    # no repartition("qid") before the re-rank scan: the mu join already
    # hash-partitions by qid, so the optimizer removes it as a no-op
    w1 = W.partitionBy("qid").orderBy(F.col("s1").desc(), F.col("neighbor_id"))
    # feeds purity-after AND the overlap join
    top1 = materialize(
        qf.join(F.broadcast(b), F.col("qid") != F.col("neighbor_id"))
        .select(
            "qid",
            "qlabel",
            "neighbor_id",
            (
                (_dot("qemb", "bemb") + beta * _dot("mu", "bemb"))
                / (F.col("nq1") * F.col("bnrm"))
            ).alias("_s"),
        )
        .select("qid", "qlabel", "neighbor_id", r4("_s").alias("s1"))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _ROC_K)
    )
    lb = lab.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
        "label", "nlabel"
    )
    before = (
        top0.join(lb, "neighbor_id")
        .groupBy("qid", "qlabel")
        .agg(
            F.sum((F.col("nlabel") == F.col("qlabel")).cast("long"))
            .cast("long")
            .alias("n_match_before")
        )
    )
    after = (
        top1.join(lb, "neighbor_id")
        .groupBy("qid")
        .agg(
            F.sum((F.col("nlabel") == F.col("qlabel")).cast("long"))
            .cast("long")
            .alias("n_match_after")
        )
    )
    overlap = (
        top1.select("qid", "neighbor_id")
        .join(top0.select("qid", "neighbor_id"), ["qid", "neighbor_id"], "semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap_top5"))
    )
    return (
        before.join(after, "qid")
        .join(overlap, "qid", "left")
        .select(
            F.col("qid").alias("vec_id"),
            F.col("qlabel").alias("label"),
            "n_match_before",
            "n_match_after",
            F.coalesce("overlap_top5", F.lit(0)).cast("long").alias(
                "overlap_top5"
            ),
        )
    )


search_rocchio_feedback.__doc__ = search_rocchio_feedback.__doc__.format(
    k=_ROC_K, fb=_ROC_FB, beta=_ROC_BETA, qmod=_ROC_QMOD
)


# the NDCG@5 rank discounts on the BIGINT 1e-4 grid, for ranks i = 1..5:
# w_q = floor(1e4 / log2(i + 1) + 0.5), cum_q = w_q summed over ranks 1..i
# (the ideal DCG at cutoff i)
_NDCG_DISCOUNTS = [
    (1, 10000, 10000),
    (2, 6309, 16309),
    (3, 5000, 21309),
    (4, 4307, 25616),
    (5, 3869, 29485),
]


@register(
    "eval_ndcg_retrieval",
    oracle=f"""
WITH {_DUCK_EMB},
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
q AS (SELECT e.*, l.label FROM e JOIN lab l USING (vec_id)
      WHERE vec_id % {_ROC_QMOD} = 0),
p0 AS (
  SELECT q.vec_id AS qid, q.label AS qlabel, b.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_dot_product(q.emb, b.emb) / (q.nrm * b.nrm),
                          4) DESC, b.vec_id) AS rn
  FROM q JOIN e b ON q.vec_id <> b.vec_id),
top5 AS (
  SELECT p.qid, p.qlabel, p.rn,
         CASE WHEN l.label = p.qlabel THEN 1 ELSE 0 END AS rel
  FROM p0 p JOIN lab l ON l.vec_id = p.neighbor_id
  WHERE p.rn <= 5),
w AS (
  SELECT i, CAST(floor(10000.0 / log2(i + 1) + 0.5) AS BIGINT) AS w_q,
         CAST(sum(CAST(floor(10000.0 / log2(i + 1) + 0.5) AS BIGINT))
              OVER (ORDER BY i) AS BIGINT) AS cum_q
  FROM range(1, 6) t(i)),
rtot AS (
  SELECT q.vec_id AS qid,
         CAST(count(*) AS BIGINT) AS n_rel
  FROM q JOIN lab l ON l.label = q.label AND l.vec_id <> q.vec_id
  GROUP BY 1),
agg AS (
  SELECT t.qid, t.qlabel,
         CAST(sum(t.rel * w.w_q) AS BIGINT) AS dcg_q,
         CAST(sum(t.rel) AS BIGINT) AS n_rel_at5,
         min(CASE WHEN t.rel = 1 THEN t.rn END) AS first_rel
  FROM top5 t JOIN w ON w.i = t.rn
  GROUP BY 1, 2)
SELECT a.qid AS vec_id, a.qlabel AS label,
       coalesce(r.n_rel, 0) AS n_rel_corpus,
       round(a.n_rel_at5 / 5.0, 4) AS precision_at_5,
       round(a.dcg_q * 1.0 / iw.cum_q, 4) AS ndcg_at_5,
       round(coalesce(1.0 / a.first_rel, 0.0), 4) AS mrr
FROM agg a
LEFT JOIN rtot r ON r.qid = a.qid
LEFT JOIN w iw ON iw.i = least(coalesce(r.n_rel, 0), 5)
""",
)
def eval_ndcg_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three classic RANK-WEIGHTED retrieval metrics over the exact
    cosine top-5 — NDCG@5, precision@5, and MRR — with binary label
    relevance, the evaluation row the similarity family reports recall
    without: recall counts hits, NDCG weights them by position
    (rel_i / log2(i+1), Järvelin & Kekäläinen 2002), MRR reads the first
    hit.  IDCG uses the true per-query relevant-corpus count (capped at
    the cutoff), so a query whose label is rare is not penalized for an
    unfillable ideal list.

    Exactness: each rank's discount 1/log2(i+1) is quantized to a BIGINT
    1e-4 grid per rank position (i is a small exact integer, log2 is one
    identical double op), so DCG and IDCG are INTEGER sums and NDCG is
    one exact integer ratio; precision and MRR are integer-derived.
    Same query regime and tie-break discipline as
    ``search_rocchio_feedback`` (the sampled-oracle regime — at 100 TB
    the first stage swaps to the IVF index, the metric math is
    unchanged).

    Reference parity: the reference evaluates rankers by WMAPE only;
    this is the standard IR triptych (Manning et al., IIR ch.8) every
    retrieval stack reports."""
    t = Catalog(spark, sf_dir)
    e = _embeddings(t)
    lab = t.embeddings.select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    # feeds the pair scan AND the relevant-count join
    q = materialize(
        e.filter(F.col("vec_id") % _ROC_QMOD == 0)
        .join(lab, "vec_id")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    b = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("bemb"),
        F.col("nrm").alias("bnrm"),
    )
    w0 = W.partitionBy("qid").orderBy(F.col("s0").desc(), F.col("neighbor_id"))
    top5 = (
        q.join(F.broadcast(b), F.col("qid") != F.col("neighbor_id"))
        .select(
            "qid",
            "qlabel",
            "neighbor_id",
            r4(
                _dot("qemb", "bemb") / (F.col("qnrm") * F.col("bnrm"))
            ).alias("s0"),
        )
        .withColumn("rn", F.row_number().over(w0))
        .filter(F.col("rn") <= 5)
        .join(
            lab.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .withColumn(
            "rel", (F.col("label") == F.col("qlabel")).cast("long")
        )
    )
    w = spark.createDataFrame(_NDCG_DISCOUNTS, "i long, w_q long, cum_q long")
    rtot = (
        q.join(
            lab.withColumnRenamed("vec_id", "cand_id"),
            (F.col("label") == F.col("qlabel"))
            & (F.col("cand_id") != F.col("qid")),
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    )
    agg = (
        top5.join(F.broadcast(w), top5.rn == w.i)
        .groupBy("qid", "qlabel")
        .agg(
            F.sum(F.col("rel") * F.col("w_q")).cast("long").alias("dcg_q"),
            F.sum("rel").cast("long").alias("n_rel_at5"),
            F.min(F.when(F.col("rel") == 1, F.col("rn"))).alias("first_rel"),
        )
    )
    iw = w.select(F.col("i").alias("k"), F.col("cum_q").alias("icum_q"))
    return (
        agg.join(rtot, "qid", "left")
        .withColumn("k", F.least(F.coalesce("n_rel", F.lit(0)), F.lit(5)))
        .join(F.broadcast(iw), "k", "left")
        .select(
            F.col("qid").alias("vec_id"),
            F.col("qlabel").alias("label"),
            F.coalesce("n_rel", F.lit(0)).cast("long").alias("n_rel_corpus"),
            r4(F.col("n_rel_at5") / F.lit(5.0)).alias("precision_at_5"),
            r4(F.col("dcg_q") * F.lit(1.0) / F.col("icum_q")).alias(
                "ndcg_at_5"
            ),
            r4(
                F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0))
            ).alias("mrr"),
        )
    )


_FH_BUCKETS = 64  # hashing-trick feature dimension (2^6)


@register(
    "encode_feature_hashing",
    oracle=f"""
WITH w AS (
  SELECT source, unnest({_DUCK_WORDS}) AS word
  FROM documents
), wf AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
  FROM w WHERE word <> '' GROUP BY 1, 2
), hb AS (
  SELECT source, word, cnt,
         CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % {_FH_BUCKETS}
           AS bucket,
         CASE WHEN CAST(('0x' || substr(md5('s:' || word), 1, 8)) AS BIGINT)
                   % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM wf
), bv AS (
  SELECT source, bucket, CAST(sum(sgn * cnt) AS BIGINT) AS signed_val,
         CAST(count(*) AS BIGINT) AS n_words_in_bucket
  FROM hb GROUP BY 1, 2
)
SELECT hb.source,
       CAST(sum(hb.cnt) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_distinct_words,
       CAST((SELECT count(*) FROM bv WHERE bv.source = hb.source) AS BIGINT)
         AS n_buckets_used,
       CAST(count(*)
            - (SELECT count(*) FROM bv WHERE bv.source = hb.source)
            AS BIGINT) AS n_collisions,
       CAST((SELECT sum(abs(signed_val)) FROM bv
             WHERE bv.source = hb.source) AS BIGINT) AS l1_signed,
       round(1.0 - (SELECT sum(abs(signed_val)) FROM bv
                    WHERE bv.source = hb.source) * 1.0 / sum(hb.cnt), 4)
         AS cancel_rate
FROM hb GROUP BY 1
""",
)
def encode_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK (Weinberger et al. 2009) — the fixed-dimension
    text featurization every scale pipeline uses when a vocabulary is
    too large or too dynamic to materialize: each word hashes into one
    of {nb} buckets, a SECOND independent hash picks a +/-1 sign so
    colliding words cancel in expectation rather than bias upward, and
    the per-source readout reports exactly what an ML engineer sizes the
    dimension by — bucket occupancy, collision count (distinct words
    minus occupied buckets), and the realized signed-cancellation rate.
    Companion to ``frequency_encoding``/``label_encode_other`` (which
    need the vocabulary) and ``text_tfidf_topterms`` (which keeps it).

    Exactness: both hashes are the engine-shared md5 rule (`h32(word)`
    for the bucket, `h32('s:'||word)` parity for the sign — the
    independent-second-hash convention); signed bucket values are exact
    BIGINT sums; the two ratios are single r4 divisions.

    Scale: one (source, word) count — the shuffle any text statistic
    pays — then one (source, bucket) aggregate on a 64-value domain;
    the feature table itself (|sources| x {nb}) is broadcast-sized
    metadata at any corpus size, which is the entire point of the
    trick.

    Reference parity: the reference one-hot/label-encodes bounded
    categoricals (/root/reference/src/features/feature_pipeline.py
    family); hashing is the unbounded-vocabulary form it never needed
    at its scale but a 100 TB corpus demands."""
    t = Catalog(spark, sf_dir)
    wf = (
        t.documents.select(
            "source", F.explode(F.split(_norm_text(), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # feeds the word-level AND bucket-level aggregates
    hb = materialize(
        wf.select(
            "source",
            "cnt",
            (h32(F.col("word")) % _FH_BUCKETS).alias("bucket"),
            F.when(
                h32(F.concat(F.lit("s:"), F.col("word"))) % 2 == 0, F.lit(1)
            )
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
    )
    bv = hb.groupBy("source", "bucket").agg(
        F.sum(F.col("sgn") * F.col("cnt")).cast("long").alias("signed_val")
    )
    per_b = bv.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets_used"),
        F.sum(F.abs(F.col("signed_val"))).cast("long").alias("l1_signed"),
    )
    per_w = hb.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
    )
    return per_w.join(per_b, "source").select(
        "source",
        "n_words",
        "n_distinct_words",
        "n_buckets_used",
        (F.col("n_distinct_words") - F.col("n_buckets_used"))
        .cast("long")
        .alias("n_collisions"),
        "l1_signed",
        r4(
            F.lit(1.0) - F.col("l1_signed") * F.lit(1.0) / F.col("n_words")
        ).alias("cancel_rate"),
    )


encode_feature_hashing.__doc__ = encode_feature_hashing.__doc__.format(
    nb=_FH_BUCKETS
)
