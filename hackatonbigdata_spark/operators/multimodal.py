"""Multimodal column handling (SURVEY.md §7.2 M7; BASELINE.json).

Image/audio/video are opaque ``binary`` payloads with typed metadata; the
engine's job is the Spark-side plumbing — schema, partitioning, Arrow batch
shape, frame addressing — not the codec.  The container has no image/audio
libraries, so decode of COMPRESSED formats is STUBBED behind
``NotImplementedError`` with a deterministic fake (documented below);
uncompressed PCM WAV and binary PPM are decoded FOR REAL as pure
SQL/Catalyst arithmetic (``mm_wav_pcm_stats``, ``mm_ppm_pixel_stats``, both
oracled); tests pin each equal to a byte-level Python decoder.

The testdata has no binary table, so the payload is derived
deterministically from ``documents.text`` (UTF-8 bytes) — byte-exact in both
engines, which keeps the metadata/frame queries oracle-checkable.

Scale notes: payloads at 100 TB stay in parquet binary columns; metadata
extraction is a narrow map (no shuffle), frame explosion multiplies rows by
frames-per-asset (bounded by the sample stride), and the decode stub runs
``mapInPandas`` so each Arrow batch amortizes Python crossing costs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.functions.core import r4
from hackatonbigdata_spark.functions.materialize import materialize
from hackatonbigdata_spark.registry import register

FRAME_BYTES = 256  # fixed-size "frame" granule for the addressing scheme
FRAME_STRIDE = 2  # sample every 2nd frame


@register(
    "multimodal_binary_metadata",
    oracle="""
SELECT doc_id,
       source AS container,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS content_sha256,
       lower(substr(md5(text), 1, 8)) AS magic,
       CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames
FROM documents
""",
)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary payload: byte length, content
    digest, leading-bytes "magic" tag, and frame count at a fixed 256-byte
    granule.  A narrow projection — no shuffle, fully pushdown-friendly."""
    t = Catalog(spark, sf_dir)
    payload = F.encode(F.col("text"), "UTF-8")
    return t.documents.select(
        "doc_id",
        F.col("source").alias("container"),
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
        F.lower(F.substring(F.md5(F.col("text")), 1, 8)).alias("magic"),
        F.ceil(F.octet_length(payload) / F.lit(256.0)).cast("long").alias("n_frames"),
    )


@register(
    "multimodal_frame_sample",
    oracle=f"""
WITH m AS (
  SELECT doc_id, text,
         CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS BIGINT) AS n_frames
  FROM documents)
SELECT doc_id, u.i AS frame_idx,
       md5(substr(text, CAST(u.i * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES}))
         AS frame_md5,
       CAST(length(substr(text, CAST(u.i * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES}))
         AS BIGINT) AS frame_chars
FROM m, unnest(range(0, n_frames)) AS u(i)
WHERE u.i % {FRAME_STRIDE} = 0
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: address fixed-size granules of the payload, keep
    every ``FRAME_STRIDE``-th frame, and emit a per-frame checksum.  The
    explode multiplies rows by frames-per-asset — bounded and predictable,
    which is what makes it plannable at scale.  (Frames are char-addressed
    here because the corpus is ASCII; byte addressing is identical.)"""
    t = Catalog(spark, sf_dir)
    m = t.documents.select(
        "doc_id",
        "text",
        F.ceil(F.octet_length(F.encode(F.col("text"), "UTF-8")) / F.lit(float(FRAME_BYTES)))
        .cast("long")
        .alias("n_frames"),
    )
    frame = F.expr(f"substring(text, cast(frame_idx * {FRAME_BYTES} + 1 as int), {FRAME_BYTES})")
    return (
        # n_frames >= 1 guard: Spark sequence(0, -1) DESCENDS on an empty
        # payload where the oracle's range() is empty (corpus min length
        # is also pinned by test, but the query must not depend on it)
        m.filter(F.col("n_frames") >= 1)
        .select(
            "doc_id",
            "text",
            F.explode(F.expr("sequence(0, n_frames - 1)")).alias("frame_idx"),
        )
        .filter(F.col("frame_idx") % FRAME_STRIDE == 0)
        .select(
            "doc_id",
            "frame_idx",
            F.md5(frame).alias("frame_md5"),
            F.length(frame).cast("long").alias("frame_chars"),
        )
    )


def decode_image(payload: bytes) -> dict:
    """REAL decode entry point — requires an image library that is not in
    this container.  The pipeline calls :func:`fake_decode` instead; swap
    this in when Pillow/ffmpeg are available."""
    raise NotImplementedError(
        "image/audio decoding requires Pillow/ffmpeg, not present in this "
        "environment; the pipeline uses the deterministic fake_decode stub"
    )


def fake_decode(payload: bytes) -> dict:
    """Deterministic fake decoder: derives plausible media metadata purely
    from the payload bytes so tests are reproducible."""
    n = len(payload)
    return {
        "width": 320 + (n % 5) * 160,
        "height": 240 + (n % 4) * 120,
        "n_channels": 3,
        "est_frames": max(1, n // FRAME_BYTES),
    }


@register("multimodal_decode_stub")
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode kernel over ``mapInPandas``: the real Spark-side
    plumbing (schema, batch iteration, one Python crossing per Arrow batch)
    around the stubbed codec.  Rows-only check — the fake metadata has no
    SQL oracle by design."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [fake_decode(t.encode("utf-8")) for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "byte_len": [len(t.encode("utf-8")) for t in pdf["text"]],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "n_channels": [m["n_channels"] for m in metas],
                    "est_frames": [m["est_frames"] for m in metas],
                }
            )

    t = Catalog(spark, sf_dir)
    return t.documents.select("doc_id", "text").mapInPandas(
        kernel,
        schema=(
            "doc_id long, byte_len long, width long, height long,"
            " n_channels long, est_frames long"
        ),
    )


# --- byte-level deterministic kernels (no codecs needed) ------------------
# Magic-byte format detection, payload entropy, and per-patch byte
# statistics: the triage passes a real media pipeline runs BEFORE any
# decode (cheap, codec-free, catches corrupt/mislabeled/low-information
# payloads early).  The corpus is ASCII (octet_length == n_chars asserted in
# tests), so byte addressing == char addressing and ascii() reads the byte
# value; the synthetic container header is prepended deterministically by
# doc_id so the detector has real magic bytes to parse.


@register(
    "mm_magic_format_detect",
    oracle="""
WITH p AS (
  SELECT doc_id, source,
         CASE CAST(doc_id * 2654435761 % 4294967296 % 5 AS INTEGER)
              WHEN 0 THEN '89504e470d0a1a0a' WHEN 1 THEN 'ffd8ffe0'
              WHEN 2 THEN '52494646' WHEN 3 THEN '25504446' ELSE '' END
           || lower(hex(encode(text))) AS hexp
  FROM documents
), d AS (
  SELECT doc_id, source,
         CAST(length(hexp) / 2 AS BIGINT) AS byte_len,
         CASE WHEN substr(hexp, 1, 16) = '89504e470d0a1a0a' THEN 'png'
              WHEN substr(hexp, 1, 6) = 'ffd8ff' THEN 'jpeg'
              WHEN substr(hexp, 1, 8) = '52494646' THEN 'riff'
              WHEN substr(hexp, 1, 8) = '25504446' THEN 'pdf'
              ELSE 'unknown' END AS detected
  FROM p
)
SELECT source, detected,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       round(sum(byte_len) * 1.0 / count(*), 4) AS avg_bytes
FROM d GROUP BY 1, 2
""",
)
def mm_magic_format_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-format survey by MAGIC-BYTE detection: parse each binary
    payload's leading bytes against the format signature registry (PNG /
    JPEG SOI / RIFF / %PDF) and report doc counts + byte volume per
    (source, detected format) — the data-lake triage query that finds
    mislabeled or headerless assets before any decode is attempted.  The
    payload is the deterministic header+body derivation documented in the
    module docstring; the DETECTOR is the operator under test, and it
    reads real magic bytes.

    Exactness: detection is hex-prefix string equality on identical
    payloads; lengths and counts are integers; avg is one exact ratio.

    Scale: narrow map over the payload head (a scan that only needs the
    first 8 bytes of each payload plus its length) into a low-cardinality
    keyed aggregate — no shuffle wider than (source x format)."""
    t = Catalog(spark, sf_dir)
    # Knuth multiplicative hash, NOT doc_id % 5: source is src{doc_id % 20}
    # in this testdata, so a plain modulus would pin one format per source
    fmt = F.col("doc_id") * F.lit(2654435761) % F.lit(4294967296) % 5
    header = (
        F.when(fmt == 0, F.lit(bytes.fromhex("89504e470d0a1a0a")))
        .when(fmt == 1, F.lit(bytes.fromhex("ffd8ffe0")))
        .when(fmt == 2, F.lit(bytes.fromhex("52494646")))
        .when(fmt == 3, F.lit(bytes.fromhex("25504446")))
        .otherwise(F.lit(b""))
    )
    payload = F.concat(header, F.encode(F.col("text"), "UTF-8"))
    p = t.documents.select(
        "doc_id",
        "source",
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("byte_len"),
    )
    head = F.lower(F.hex(F.substring(F.col("payload"), 1, 8)))
    d = p.select(
        "source",
        "byte_len",
        F.when(F.substring(head, 1, 16) == "89504e470d0a1a0a", "png")
        .when(F.substring(head, 1, 6) == "ffd8ff", "jpeg")
        .when(F.substring(head, 1, 8) == "52494646", "riff")
        .when(F.substring(head, 1, 8) == "25504446", "pdf")
        .otherwise("unknown")
        .alias("detected"),
    )
    return d.groupBy("source", "detected").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("byte_len").cast("long").alias("total_bytes"),
        r4(F.sum("byte_len") * F.lit(1.0) / F.count(F.lit(1))).alias("avg_bytes"),
    )


@register(
    "mm_payload_entropy",
    oracle="""
WITH b AS (
  SELECT doc_id, ascii(substr(text, CAST(u.i + 1 AS BIGINT), 1)) AS code
  FROM documents, unnest(range(0, n_chars)) AS u(i)
), c AS (
  SELECT doc_id, code, CAST(count(*) AS BIGINT) AS cnt
  FROM b GROUP BY 1, 2
), s AS (
  SELECT doc_id, cnt,
         cnt * 1.0 / sum(cnt) OVER (PARTITION BY doc_id) AS share
  FROM c
), n AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bytes,
         CAST(count(*) AS BIGINT) AS n_distinct,
         -sum(CAST(floor(share * log2(share) * 10000 + 0.5) AS BIGINT))
           / 10000.0 AS entropy_bits
  FROM s GROUP BY doc_id
)
SELECT doc_id, n_bytes, n_distinct, entropy_bits,
       entropy_bits < 4.0 AS low_entropy
FROM n
""",
)
def mm_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload byte-histogram Shannon entropy (bits/byte): the
    codec-free information-density screen — natural text sits ~4.2-4.8
    bits/byte, already-compressed media ~8, constant padding ~0; payloads
    whose entropy contradicts their container tag are corrupt or
    mislabeled.  Flags low-entropy (< 4 bits) payloads for the quality
    queue.  Byte == char on this ASCII corpus (module docstring).

    Exactness: byte counts are integers; shares are identical exact
    IEEE divisions on both engines; each ``share * log2(share)`` term is
    quantized to the 1e-4 integer grid BEFORE the sum (the repo's
    standard order-free-fold technique), so the BIGINT accumulation is
    associative and the r7 HOF fold order (array_distinct first-seen)
    vs the oracle's group-by order cannot flip a last ulp; the flag
    compares the resulting exact 4dp value.

    Scale: the whole histogram is built ROWWISE with higher-order
    functions (``transform(sequence(..))`` -> ``array_distinct`` ->
    per-distinct ``filter`` counts), so NO row ever leaves the scan stage
    wider than one output row per doc — the r6 per-byte position explode
    (~60 B of Tungsten row overhead per payload byte) is gone entirely.
    The count pass is O(distinct x len) comparisons but all inside
    whole-stage codegen; distinct <= 96 on this corpus.  Docs shorter
    than 1 byte are filtered first (Spark ``sequence(0, -1)`` DESCENDS
    where the oracle's ``range()`` is empty — verify-skill lesson #3)."""
    t = Catalog(spark, sf_dir)
    codes = F.expr(
        "transform(sequence(1, cast(n_chars as int)),"
        " i -> ascii(substr(text, i, 1)))"
    )
    hist = F.expr(
        "transform(array_distinct(codes),"
        " c -> size(filter(codes, x -> x = c)))"
    )
    entropy_q = F.expr(
        "aggregate(hist, cast(0 as bigint),"
        " (acc, cnt) -> acc + cast(floor((cnt / cast(n_bytes as double))"
        "               * log2(cnt / cast(n_bytes as double))"
        "               * 10000d + 0.5d) as bigint))"
    )
    d = (
        t.documents.filter(F.col("n_chars") >= 1)
        .select("doc_id", codes.alias("codes"))
        .select(
            "doc_id",
            F.size("codes").cast("long").alias("n_bytes"),
            hist.alias("hist"),
        )
    )
    return d.select(
        "doc_id",
        "n_bytes",
        F.size("hist").cast("long").alias("n_distinct"),
        (-entropy_q / F.lit(10000.0)).alias("entropy_bits"),
    ).select(
        "doc_id",
        "n_bytes",
        "n_distinct",
        "entropy_bits",
        (F.col("entropy_bits") < 4.0).alias("low_entropy"),
    )


_PATCH = 64  # bytes per analysis patch


@register(
    "mm_patch_byte_stats",
    oracle=f"""
WITH b AS (
  SELECT doc_id, CAST(u.i // {_PATCH} AS BIGINT) AS patch_idx,
         ascii(substr(text, CAST(u.i + 1 AS BIGINT), 1)) AS code
  FROM documents, unnest(range(0, n_chars)) AS u(i)
)
SELECT doc_id, patch_idx,
       CAST(count(*) AS BIGINT) AS n_bytes,
       CAST(sum(code) AS BIGINT) AS sum_code,
       round(sum(code) * 1.0 / count(*), 4) AS mean_code,
       CAST(min(code) AS INTEGER) AS min_code,
       CAST(max(code) AS INTEGER) AS max_code,
       CAST(count(DISTINCT code) AS BIGINT) AS n_distinct
FROM b GROUP BY 1, 2
""",
)
def mm_patch_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-patch byte statistics over the payload at a fixed {patch}-byte
    granule: mean/min/max byte value and distinct-byte count per patch —
    the patch-level screen that localizes WHERE inside an asset the bytes
    go flat (stuck sensor, zero padding, truncation) instead of averaging
    it away at file level.  Companion to ``multimodal_frame_sample``'s
    checksums: that says WHICH frames changed, this says what the bytes
    inside look like.  Byte == char on this ASCII corpus.

    Exactness: every statistic is integer arithmetic plus one exact
    ratio.  Scale: the ONLY explode is one row per PATCH — i.e. exactly
    the result granularity, so zero amplification beyond the output
    itself; per-patch byte stats are computed rowwise with higher-order
    functions over the patch substring (the r6 per-byte explode paid
    ~60 B of Tungsten row per payload byte and is gone).  No shuffle at
    all: the result is produced in the scan stage.  Docs shorter than 1
    byte are filtered first (Spark ``sequence`` descends on an empty
    range where the oracle's ``range()`` is empty)."""
    t = Catalog(spark, sf_dir)
    b = (
        t.documents.filter(F.col("n_chars") >= 1)
        .select(
            "doc_id",
            "text",
            "n_chars",
            F.explode(
                F.expr(
                    "sequence(0, cast((cast(n_chars as int) - 1)"
                    f" div {_PATCH} as int))"
                )
            ).alias("patch_idx"),
        )
        .select(
            "doc_id",
            F.col("patch_idx").cast("long").alias("patch_idx"),
            F.expr(
                "transform("
                f" sequence(1, int(least(cast({_PATCH} as long),"
                f"   cast(n_chars as long) - patch_idx * {_PATCH}))),"
                f" j -> ascii(substr(text, patch_idx * {_PATCH} + j, 1)))"
            ).alias("codes"),
        )
    )
    return b.select(
        "doc_id",
        "patch_idx",
        F.size("codes").cast("long").alias("n_bytes"),
        F.expr("aggregate(codes, cast(0 as bigint), (a, c) -> a + c)").alias(
            "sum_code"
        ),
        F.array_min("codes").cast("int").alias("min_code"),
        F.array_max("codes").cast("int").alias("max_code"),
        F.size(F.array_distinct("codes")).cast("long").alias("n_distinct"),
    ).select(
        "doc_id",
        "patch_idx",
        "n_bytes",
        "sum_code",
        r4(F.col("sum_code") * F.lit(1.0) / F.col("n_bytes")).alias("mean_code"),
        "min_code",
        "max_code",
        "n_distinct",
    )


mm_patch_byte_stats.__doc__ = mm_patch_byte_stats.__doc__.replace(
    "{patch}", str(_PATCH)
)


# --- real PCM-WAV decode (no codec library needed) --------------------------
# Uncompressed WAV is a 44-byte RIFF header + raw little-endian PCM — a
# format a decoder can handle with pure byte arithmetic.  The payload is
# synthesized deterministically (canonical header + the doc's bytes as PCM
# data); the DECODER both parses the header fields and computes sample
# statistics, entirely in SQL/Catalyst expressions on the hex domain;
# tests/test_llm_multimodal.py pins it equal to a struct.unpack decoder.
# The engine's decode boundary is "real for uncompressed formats;
# compressed codecs remain the documented stub".

_WAV_RATES = [8000, 12000, 16000, 20000]


def _le_hex_sql(expr: str, nbytes: int) -> str:
    """DuckDB: little-endian hex of an integer expression."""
    parts = [
        f"lower(lpad(hex(({expr}) // {256 ** i} % 256), 2, '0'))"
        for i in range(nbytes)
    ]
    return " || ".join(parts)


def _le_hex_spark(col, nbytes: int):
    parts = [
        F.lower(F.lpad(F.hex((col / F.lit(256**i)).cast("long") % 256), 2, "0"))
        for i in range(nbytes)
    ]
    return F.concat(*parts)


def _hex2int_sql(pos: int, nbytes: int) -> str:
    """DuckDB: little-endian unsigned int from hex-string positions."""
    parts = [
        f"CAST(('0x' || substr(hexp, {pos + 2 * i}, 2)) AS BIGINT) * {256 ** i}"
        for i in range(nbytes)
    ]
    return "(" + " + ".join(parts) + ")"


@register(
    "mm_wav_pcm_stats",
    oracle=f"""
WITH src AS (
  SELECT doc_id,
         {_WAV_RATES[0]} + CAST(doc_id * 2654435761 % 4294967296 % 4 AS BIGINT)
           * 4000 AS rate,
         n_chars - (n_chars % 2) AS n_data,
         substr(text, 1, CAST(n_chars - (n_chars % 2) AS BIGINT)) AS body
  FROM documents
), pay AS (
  SELECT doc_id,
         '52494646' || {_le_hex_sql('36 + n_data', 4)}
         || '57415645666d74201000000001000100'
         || {_le_hex_sql('rate', 4)} || {_le_hex_sql('rate * 2', 4)}
         || '02001000' || '64617461' || {_le_hex_sql('n_data', 4)}
         || lower(hex(encode(body))) AS hexp
  FROM src
), hdr AS (
  SELECT doc_id, hexp,
         substr(hexp, 1, 8) = '52494646'
           AND substr(hexp, 17, 8) = '57415645' AS is_wav,
         {_hex2int_sql(45, 2)} AS channels,
         {_hex2int_sql(49, 4)} AS sample_rate,
         {_hex2int_sql(69, 2)} AS bits,
         {_hex2int_sql(81, 4)} AS data_bytes
  FROM pay
), smp AS (
  SELECT doc_id,
         CAST(('0x' || substr(hexp, 89 + CAST(u.k AS BIGINT) * 4, 2))
                AS BIGINT)
           + 256 * CAST(('0x' || substr(hexp, 91 + CAST(u.k AS BIGINT) * 4, 2))
                        AS BIGINT) AS u16
  FROM hdr, unnest(range(0, data_bytes // 2)) AS u(k)
), sgn AS (
  SELECT doc_id,
         CASE WHEN u16 >= 32768 THEN u16 - 65536 ELSE u16 END AS s
  FROM smp
), stats AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_samples,
         CAST(min(s) AS BIGINT) AS min_s, CAST(max(s) AS BIGINT) AS max_s,
         CAST(sum(s * s) AS BIGINT) AS ssq
  FROM sgn GROUP BY 1
)
SELECT h.doc_id, h.is_wav,
       CAST(h.channels AS INTEGER) AS channels,
       CAST(h.sample_rate AS BIGINT) AS sample_rate,
       CAST(h.bits AS INTEGER) AS bits,
       st.n_samples, st.min_s, st.max_s,
       round(sqrt(st.ssq * 1.0 / st.n_samples), 4) AS rms,
       round(st.n_samples * 1.0 / h.sample_rate, 4) AS duration_sec
FROM hdr h JOIN stats st ON h.doc_id = st.doc_id
""",
)
def mm_wav_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode without any codec library: synthesize a canonical
    44-byte RIFF/WAVE header + the doc bytes as 16-bit little-endian PCM,
    then DECODE it — parse channels / sample rate / bit depth / data size
    from the header bytes and compute per-asset sample statistics (min,
    max, RMS, duration) from the PCM frames.  Everything runs as Catalyst
    expressions over the hex domain (hex-pair -> byte -> signed int16):
    the media-QA query a lake runs on raw uploads before any transcoding
    tier, and the proof that "decode" is only a library boundary for
    COMPRESSED formats (tests pin it equal to a struct.unpack decoder).

    Exactness: all parsing and sample arithmetic is integer; RMS divides
    one BIGINT sum of squares and takes an IEEE sqrt (correctly rounded
    per IEEE-754), so doubles are identical cross-engine.

    Scale: a rowwise header parse plus rowwise sample statistics via
    higher-order functions (``transform`` decodes each little-endian
    int16, ``aggregate``/``array_min``/``array_max`` reduce) — one output
    row per asset straight out of the scan stage; the r6 per-sample
    explode (and its shuffle into a doc-keyed aggregate) is gone.  Like a
    real decoder, the 44 header bytes are parsed field-by-field (hex
    domain) and the PCM frames are then streamed straight from the data
    chunk — the parsed ``data_bytes`` field drives the frame loop; byte
    == char on this ASCII corpus (module invariant), so the char-domain
    ``ascii()`` IS the byte read, without first hex-encoding the whole
    body (which tripled the r6 runtime for bytes the header parse never
    touches).  Payloads with no PCM frames (data_bytes < 2) are dropped,
    matching the oracle's inner join against the per-sample stats (and
    dodging Spark's descending ``sequence(0, -1)``)."""
    t = Catalog(spark, sf_dir)
    rate = (
        F.lit(_WAV_RATES[0])
        + (F.col("doc_id") * F.lit(2654435761) % F.lit(4294967296) % 4) * 4000
    )
    n_data = F.col("n_chars") - (F.col("n_chars") % 2)
    body = F.expr("substr(text, 1, cast(n_chars - (n_chars % 2) as int))")
    src = t.documents.select(
        "doc_id",
        rate.cast("long").alias("rate"),
        n_data.cast("long").alias("n_data"),
        body.alias("body"),
    )
    hexp = F.concat(
        F.lit("52494646"),
        _le_hex_spark(F.lit(36) + F.col("n_data"), 4),
        F.lit("57415645666d74201000000001000100"),
        _le_hex_spark(F.col("rate"), 4),
        _le_hex_spark(F.col("rate") * 2, 4),
        F.lit("02001000"),
        F.lit("64617461"),
        _le_hex_spark(F.col("n_data"), 4),
    )
    pay = src.select("doc_id", hexp.alias("hexp"), "body")

    def hex2int(pos_expr: str, nbytes: int):
        parts = [
            F.conv(F.expr(f"substr(hexp, {pos_expr} + {2 * i}, 2)"), 16, 10)
            .cast("long")
            * (256**i)
            for i in range(nbytes)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out + p
        return out

    hdr = pay.select(
        "doc_id",
        "hexp",
        "body",
        (
            (F.expr("substr(hexp, 1, 8)") == "52494646")
            & (F.expr("substr(hexp, 17, 8)") == "57415645")
        ).alias("is_wav"),
        hex2int("45", 2).alias("channels"),
        hex2int("49", 4).alias("sample_rate"),
        hex2int("69", 2).alias("bits"),
        hex2int("81", 4).alias("data_bytes"),
    )
    # nested transform so each byte is read exactly ONCE — common
    # subexpression elimination does not reach inside lambda bodies, so a
    # single-level CASE would decode every sample three times over
    samples = F.expr(
        "transform("
        " transform(sequence(0, cast(data_bytes div 2 as int) - 1),"
        "  k -> cast(ascii(substr(body, 2 * k + 1, 1)) as bigint)"
        "       + cast(ascii(substr(body, 2 * k + 2, 1)) as bigint) * 256),"
        " u -> CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)"
    )
    stats = (
        hdr.filter(F.col("data_bytes") >= 2)
        .withColumn("s_arr", samples)
        .select(
            "doc_id",
            "is_wav",
            "channels",
            "sample_rate",
            "bits",
            F.size("s_arr").cast("long").alias("n_samples"),
            F.array_min("s_arr").cast("long").alias("min_s"),
            F.array_max("s_arr").cast("long").alias("max_s"),
            F.expr(
                "aggregate(s_arr, cast(0 as bigint), (a, s) -> a + s * s)"
            ).alias("ssq"),
        )
    )
    return stats.select(
        "doc_id",
        "is_wav",
        F.col("channels").cast("int").alias("channels"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("bits").cast("int").alias("bits"),
        "n_samples",
        "min_s",
        "max_s",
        r4(F.sqrt(F.col("ssq") * F.lit(1.0) / F.col("n_samples"))).alias("rms"),
        r4(F.col("n_samples") * F.lit(1.0) / F.col("sample_rate")).alias(
            "duration_sec"
        ),
    )


_PPM_BASE_W = 16  # widths 16/24/32/40, hash-decorrelated from doc_id


def _duck_channel(c: int) -> str:
    """DuckDB: per-channel byte list of an interleaved-RGB pixel string."""
    return (
        f"list_transform(range(0, npx),"
        f" k -> ascii(substr(px, CAST(3 * k + {c + 1} AS BIGINT), 1)))"
    )


@register(
    "mm_ppm_pixel_stats",
    oracle=f"""
WITH src AS (
  SELECT doc_id,
         {_PPM_BASE_W} + CAST(doc_id * 2654435761 % 4294967296 % 4 AS BIGINT)
           * 8 AS w,
         (n_chars // 3) AS npx_avail
  FROM documents
), dim AS (
  SELECT doc_id, w, npx_avail // w AS h
  FROM src WHERE npx_avail // w >= 1
), pay AS (
  SELECT d.doc_id,
         'P6' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
           || chr(10) || '255' || chr(10)
           || substr(text, 1, CAST(3 * w * h AS BIGINT)) AS payload
  FROM dim d JOIN documents USING (doc_id)
), hdr AS (
  SELECT doc_id, payload,
         substr(payload, 1, 3) = 'P6' || chr(10) AS is_ppm,
         split_part(payload, chr(10), 2) AS dims,
         split_part(payload, chr(10), 3) AS ms
  FROM pay
), par AS (
  SELECT doc_id, payload, is_ppm,
         CAST(split_part(dims, ' ', 1) AS BIGINT) AS width,
         CAST(split_part(dims, ' ', 2) AS BIGINT) AS height,
         CAST(ms AS INTEGER) AS maxval,
         3 + length(dims) + 1 + length(ms) + 1 AS hdr_len
  FROM hdr
), px AS (
  SELECT doc_id, is_ppm, width, height, maxval,
         width * height AS npx,
         substr(payload, CAST(hdr_len + 1 AS BIGINT),
                CAST(3 * width * height AS BIGINT)) AS px
  FROM par
), ch AS (
  SELECT doc_id, is_ppm, width, height, maxval, npx,
         {_duck_channel(0)} AS ra,
         {_duck_channel(1)} AS ga,
         {_duck_channel(2)} AS ba
  FROM px
)
SELECT doc_id, is_ppm, width, height, maxval,
       CAST(npx AS BIGINT) AS n_pixels,
       CAST(list_min(ra) AS BIGINT) AS r_min,
       CAST(list_max(ra) AS BIGINT) AS r_max,
       round(CAST(list_sum(ra) AS BIGINT) * 1.0 / npx, 4) AS r_mean,
       CAST(list_min(ga) AS BIGINT) AS g_min,
       CAST(list_max(ga) AS BIGINT) AS g_max,
       round(CAST(list_sum(ga) AS BIGINT) * 1.0 / npx, 4) AS g_mean,
       CAST(list_min(ba) AS BIGINT) AS b_min,
       CAST(list_max(ba) AS BIGINT) AS b_max,
       round(CAST(list_sum(ba) AS BIGINT) * 1.0 / npx, 4) AS b_mean
FROM ch
""",
)
def mm_ppm_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode without any codec library — the second modality
    of the honest decode boundary beside ``mm_wav_pcm_stats``: synthesize
    a canonical binary PPM (P6) payload — ASCII header ``P6\\n<w> <h>\\n
    255\\n`` + the doc bytes as interleaved 8-bit RGB — then DECODE it:
    parse magic / width / height / maxval from the header the way a real
    PPM reader does (the header is the bytes up to the third newline,
    whatever the pixel data contains), address the pixel block at the
    parsed header length, and compute per-channel min / max / mean over
    the parsed ``width*height`` pixels.  The per-image pixel-stats pass
    is the standard ingest QA a vision-data lake runs before any
    transcode tier.  Widths vary 16/24/32/40 via the decorrelated doc_id
    hash (same scheme as the WAV sample rates); images shorter than one
    row are dropped on both engines.

    Exactness: header fields and pixel bytes are integers parsed from
    identical strings; per-channel sums are BIGINT; each mean is one
    identical integer-ratio division quantized to 4dp.

    Scale: a rowwise header parse + three bounded higher-order transforms
    (each pixel byte read exactly once, by its own channel) — one output
    row per asset straight out of the scan stage, no shuffle, no
    explode.  Tests pin it equal to a byte-level Python decoder, the
    second modality showing that the codec stub is a library boundary only
    for COMPRESSED formats."""
    t = Catalog(spark, sf_dir)
    w = (
        F.lit(_PPM_BASE_W)
        + (F.col("doc_id") * F.lit(2654435761) % F.lit(4294967296) % 4) * 8
    ).cast("long")
    src = t.documents.select(
        "doc_id",
        "text",
        w.alias("w"),
        (F.col("n_chars") / 3).cast("long").alias("npx_avail"),
    )
    dim = src.select(
        "doc_id",
        "text",
        "w",
        F.expr("npx_avail div w").alias("h"),
    ).filter(F.col("h") >= 1)
    payload = F.concat(
        F.lit("P6\n"),
        F.col("w").cast("string"),
        F.lit(" "),
        F.col("h").cast("string"),
        F.lit("\n255\n"),
        F.expr("substr(text, 1, cast(3 * w * h as int))"),
    )
    pay = dim.select("doc_id", payload.alias("payload"))
    hdr = pay.select(
        "doc_id",
        "payload",
        (F.expr("substr(payload, 1, 3)") == "P6\n").alias("is_ppm"),
        F.expr("split_part(payload, '\n', 2)").alias("dims"),
        F.expr("split_part(payload, '\n', 3)").alias("ms"),
    )
    par = hdr.select(
        "doc_id",
        "payload",
        "is_ppm",
        F.expr("cast(split_part(dims, ' ', 1) as bigint)").alias("width"),
        F.expr("cast(split_part(dims, ' ', 2) as bigint)").alias("height"),
        F.col("ms").cast("int").alias("maxval"),
        (F.lit(3) + F.length("dims") + 1 + F.length("ms") + 1).alias(
            "hdr_len"
        ),
    )
    px = par.select(
        "doc_id",
        "is_ppm",
        "width",
        "height",
        "maxval",
        (F.col("width") * F.col("height")).alias("npx"),
        F.expr(
            "substr(payload, cast(hdr_len + 1 as int),"
            " cast(3 * width * height as int))"
        ).alias("px"),
    )

    def channel(c: int):
        return F.expr(
            "transform(sequence(0, cast(npx as int) - 1),"
            f" k -> cast(ascii(substr(px, 3 * k + {c + 1}, 1)) as bigint))"
        )

    ch = px.select(
        "doc_id",
        "is_ppm",
        "width",
        "height",
        "maxval",
        "npx",
        channel(0).alias("ra"),
        channel(1).alias("ga"),
        channel(2).alias("ba"),
    )
    cols = ["doc_id", "is_ppm", "width", "height", "maxval"]
    out = [F.col(c) for c in cols] + [F.col("npx").cast("long").alias("n_pixels")]
    for nm, arr in [("r", "ra"), ("g", "ga"), ("b", "ba")]:
        out += [
            F.array_min(arr).cast("long").alias(f"{nm}_min"),
            F.array_max(arr).cast("long").alias(f"{nm}_max"),
        ]
    raw = ch.select(
        *out,
        *[
            F.expr(f"aggregate({arr}, cast(0 as bigint), (a, v) -> a + v)").alias(
                f"_{nm}_sum"
            )
            for nm, arr in [("r", "ra"), ("g", "ga"), ("b", "ba")]
        ],
    )
    return raw.select(
        "doc_id",
        "is_ppm",
        "width",
        "height",
        "maxval",
        "n_pixels",
        "r_min",
        "r_max",
        r4(F.col("_r_sum") * F.lit(1.0) / F.col("n_pixels")).alias("r_mean"),
        "g_min",
        "g_max",
        r4(F.col("_g_sum") * F.lit(1.0) / F.col("n_pixels")).alias("g_mean"),
        "b_min",
        "b_max",
        r4(F.col("_b_sum") * F.lit(1.0) / F.col("n_pixels")).alias("b_mean"),
    )


_RS_S = 4  # resize pooling factor: every s x s block -> one output pixel


@register(
    "mm_ppm_resize",
    oracle=f"""
WITH src AS (
  SELECT doc_id,
         {_PPM_BASE_W} + CAST(doc_id * 2654435761 % 4294967296 % 4 AS BIGINT)
           * 8 AS w,
         (n_chars // 3) AS npx_avail
  FROM documents
), dim AS (
  SELECT doc_id, w, npx_avail // w AS h
  FROM src WHERE npx_avail // w >= {{s}}
), pay AS (
  SELECT d.doc_id, w AS width, h AS height,
         substr(text, 1, CAST(3 * w * h AS BIGINT)) AS px,
         w * h AS npx
  FROM dim d JOIN documents USING (doc_id)
), ch AS (
  SELECT doc_id, width, height, npx,
         width // {{s}} AS out_w, height // {{s}} AS out_h,
         {_duck_channel(0)} AS ra,
         {_duck_channel(1)} AS ga,
         {_duck_channel(2)} AS ba
  FROM pay
), pxr AS (
  SELECT doc_id, width, height, out_w, out_h,
         ((k // width) // {{s}}) * out_w + (k % width) // {{s}} AS b,
         ra[k + 1] AS r, ga[k + 1] AS g, ba[k + 1] AS bb
  FROM ch, unnest(range(0, npx)) AS u(k)
  WHERE (k % width) < out_w * {{s}} AND (k // width) < out_h * {{s}}
), blk AS (
  SELECT doc_id, width, height, out_w, out_h, b,
         CAST(sum(r) AS BIGINT) AS rs, CAST(max(r) - min(r) AS BIGINT) AS rd,
         CAST(sum(g) AS BIGINT) AS gs, CAST(max(g) - min(g) AS BIGINT) AS gd,
         CAST(sum(bb) AS BIGINT) AS bs, CAST(max(bb) - min(bb) AS BIGINT) AS bd
  FROM pxr GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT doc_id, width, height, out_w, out_h,
       CAST(count(*) AS BIGINT) AS n_blocks,
       round(sum(rs) * 1.0 / (count(*) * {{s2}}), 4) AS r_mean_rs,
       round(sum(rd) * 1.0 / count(*), 4) AS r_detail,
       round(sum(gs) * 1.0 / (count(*) * {{s2}}), 4) AS g_mean_rs,
       round(sum(gd) * 1.0 / count(*), 4) AS g_detail,
       round(sum(bs) * 1.0 / (count(*) * {{s2}}), 4) AS b_mean_rs,
       round(sum(bd) * 1.0 / count(*), 4) AS b_detail
FROM blk GROUP BY 1, 2, 3, 4, 5
""".format(s=_RS_S, s2=_RS_S * _RS_S),
)
def mm_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE — the box-filter (average-pooling) downsample every
    vision-ingest tier runs before feature extraction, completing the
    brief's decode / feature-extract / RESIZE / frame-sample multimodal
    quartet on the one uncompressed format a real decode can run on
    in-engine (the PPM path of ``mm_ppm_pixel_stats``): every
    {s}x{s} pixel block of the decoded RGB image becomes one output
    pixel (its channel mean — the antialiased resize), the image
    cropped to whole blocks exactly as a strided pooler does.  Emits
    per image the resized geometry plus, per channel, the resized-image
    mean and the mean intra-block range (max-min) — the DETAIL the
    resize destroyed, the number a transcode tier watches to pick
    pooling factors.  Every width (16/24/32/40) divides by {s}, so
    cropping only trims trailing rows.

    Exactness: block sums / ranges are BIGINT over integer pixel
    bytes; the two readout ratios are single 4dp-quantized divisions of
    integer totals — order-free on both engines.

    Scale: the Spark side is ONE rowwise projection — nested HOFs pool
    each block from the shared channel arrays (inner transform
    evaluated once per block, the r7 lambda-CSE discipline), no explode,
    no shuffle before the single output row per asset; the oracle's
    unnest+GROUP BY shape is the same math row-wise (DuckDB has no
    struct-fold idiom worth forcing).

    Reference parity: the reference's image tier is out of scope (no
    vision columns); this supplies the resize half of the multimodal
    plumbing the 100 TB brief names, next to the honest codec boundary
    (``multimodal_decode_stub``) for compressed formats."""
    t = Catalog(spark, sf_dir)
    s = _RS_S
    w = (
        F.lit(_PPM_BASE_W)
        + (F.col("doc_id") * F.lit(2654435761) % F.lit(4294967296) % 4) * 8
    ).cast("long")
    src = t.documents.select(
        "doc_id",
        "text",
        w.alias("w"),
        (F.col("n_chars") / 3).cast("long").alias("npx_avail"),
    )
    dim = src.select(
        "doc_id",
        "text",
        F.col("w").alias("width"),
        F.expr("npx_avail div w").alias("height"),
    ).filter(F.col("height") >= s)
    pay = dim.select(
        "doc_id",
        "width",
        "height",
        (F.col("width") * F.col("height")).alias("npx"),
        F.expr("width div " + str(s)).alias("out_w"),
        F.expr("height div " + str(s)).alias("out_h"),
        F.expr("substr(text, 1, cast(3 * width * height as int))").alias("px"),
    )

    def channel(c: int):
        return F.expr(
            "transform(sequence(0, cast(npx as int) - 1),"
            f" k -> cast(ascii(substr(px, 3 * k + {c + 1}, 1)) as bigint))"
        )

    ch = pay.select(
        "doc_id",
        "width",
        "height",
        "out_w",
        "out_h",
        (F.col("out_w") * F.col("out_h")).alias("n_blocks"),
        channel(0).alias("ra"),
        channel(1).alias("ga"),
        channel(2).alias("ba"),
    )

    def pooled(arr: str):
        # nested transforms so each block's 16 pixel reads happen ONCE
        # (lambda bodies get no common-subexpression elimination)
        pv = (
            f"transform(sequence(0, {s * s - 1}), t -> element_at({arr},"
            f" cast(((b div out_w) * {s} + t div {s}) * width"
            f" + (b % out_w) * {s} + t % {s} + 1 as int)))"
        )
        return F.expr(
            f"transform(transform(sequence(0, cast(n_blocks as int) - 1),"
            f" b -> {pv}),"
            " pv -> named_struct('s', aggregate(pv, 0L, (a, v) -> a + v),"
            " 'd', array_max(pv) - array_min(pv)))"
        )

    blk = ch.select(
        "doc_id",
        "width",
        "height",
        "out_w",
        "out_h",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        pooled("ra").alias("rb"),
        pooled("ga").alias("gb"),
        pooled("ba").alias("bb"),
    )
    outs = ["doc_id", "width", "height", "out_w", "out_h", "n_blocks"]
    proj = [F.col(c) for c in outs]
    for nm, arr in [("r", "rb"), ("g", "gb"), ("b", "bb")]:
        tot = F.expr(f"aggregate({arr}, 0L, (a, x) -> a + x.s)")
        det = F.expr(f"aggregate({arr}, 0L, (a, x) -> a + x.d)")
        proj.append(
            r4(tot * F.lit(1.0) / (F.col("n_blocks") * F.lit(s * s))).alias(
                f"{nm}_mean_rs"
            )
        )
        proj.append(
            r4(det * F.lit(1.0) / F.col("n_blocks")).alias(f"{nm}_detail")
        )
    return blk.select(*proj)


mm_ppm_resize.__doc__ = mm_ppm_resize.__doc__.format(s=_RS_S)


_PH_G = 8  # aHash grid (G x G = 64 bits, stored as 4 x 16-bit bands)
_PH_T = 3  # near-dup Hamming threshold; with 4 bands of 16 bits the
#            banded join is a TRUE LSH for it: <= 3 differing bits cannot
#            touch all 4 bands, so every true near-dup shares a band
_PH_SHIFT = 16  # planted variant: per-channel brightness lift, clipped
_PH_NOISE = 48  # planted variant: extra channel-1 lift on sparse pixels
_PH_NOISE_EVERY = 61  # ... every 61st pixel (~1.6% corrupted)


def _ph_bands_sql(gc: str, tot: str) -> str:
    """Spark SQL: the 4 x 16-bit aHash bands of the gray array ``gc``
    (length w*h, 1-indexed) with global gray sum ``tot``.  Cell (gy, gx)
    covers x in [gx*w/8, (gx+1)*w/8) (w is divisible by 8) and y in
    [floor(gy*h/8), floor((gy+1)*h/8)) (non-empty for h >= 8); its bit is
    the exact integer cross-multiplication cellsum * (w*h) >
    totalsum * npx_cell, i.e. cell mean > image mean with no division.
    Band value accumulates MSB-first via a*2 + bit."""
    cellsum = (
        f"aggregate(sequence(cast(((c div 8) * h) div 8 as int),"
        f" cast((((c div 8) + 1) * h) div 8 - 1 as int)),"
        f" cast(0 as bigint),"
        f" (ay, y) -> ay + aggregate(sequence(cast((c % 8) * (w div 8) as int),"
        f" cast(((c % 8) + 1) * (w div 8) - 1 as int)),"
        f" cast(0 as bigint),"
        f" (ax, x) -> ax + element_at({gc}, cast(y * w + x + 1 as int))))"
    )
    npxc = (
        "((((c div 8) + 1) * h) div 8 - ((c div 8) * h) div 8)"
        " * (w div 8)"
    )
    return (
        f"transform(sequence(0, 3), i ->"
        f" aggregate(sequence(cast(16 * i as int), cast(16 * i + 15 as int)),"
        f" cast(0 as bigint),"
        f" (a, c) -> a * 2 + (CASE WHEN {cellsum} * (w * h)"
        f" > {tot} * {npxc} THEN 1 ELSE 0 END)))"
    )


def _duck_ph_bands(gc: str, tot: str) -> str:
    """DuckDB mirror of ``_ph_bands_sql`` (identical integer arithmetic;
    band value as a sum of 16-bit shifts, which equals the MSB-first
    a*2+bit fold exactly)."""
    c = "(16 * i + j)"
    cellsum = (
        f"list_sum(list_transform(range((({c} // 8) * h) // 8,"
        f" ((({c} // 8) + 1) * h) // 8), y ->"
        f" list_sum(list_transform(range(({c} % 8) * (w // 8),"
        f" (({c} % 8) + 1) * (w // 8)), x ->"
        f" {gc}[y * w + x + 1]))))"
    )
    npxc = (
        f"(((({c} // 8) + 1) * h) // 8 - (({c} // 8) * h) // 8)"
        f" * (w // 8)"
    )
    return (
        f"list_transform(range(0, 4), i -> CAST(list_sum("
        f"list_transform(range(0, 16), j ->"
        f" CASE WHEN {cellsum} * (w * h) > {tot} * {npxc}"
        f" THEN (1::BIGINT << CAST(15 - j AS INTEGER))"
        f" ELSE 0 END)) AS BIGINT))"
    )


@register(
    "mm_phash_dedup",
    oracle=f"""
WITH src AS (
  SELECT doc_id,
         {_PPM_BASE_W} + CAST(doc_id * 2654435761 % 4294967296 % 4 AS BIGINT)
           * 8 AS w,
         (n_chars // 3) AS npx_avail
  FROM documents
), dim AS (
  SELECT doc_id, w, npx_avail // w AS h
  FROM src WHERE npx_avail // w >= {_PH_G}
), px AS (
  SELECT doc_id, w, h,
         substr(text, 1, CAST(3 * w * h AS BIGINT)) AS p
  FROM dim JOIN documents USING (doc_id)
), gray AS (
  SELECT doc_id, w, h,
         list_transform(range(0, w * h), k ->
           CAST(ascii(substr(p, CAST(3 * k + 1 AS BIGINT), 1))
              + ascii(substr(p, CAST(3 * k + 2 AS BIGINT), 1))
              + ascii(substr(p, CAST(3 * k + 3 AS BIGINT), 1))
             AS BIGINT)) AS g0,
         list_transform(range(0, w * h), k ->
           CAST(least(ascii(substr(p, CAST(3 * k + 1 AS BIGINT), 1))
                      + {_PH_SHIFT}
                      + CASE WHEN k % {_PH_NOISE_EVERY} = 0
                             THEN {_PH_NOISE} ELSE 0 END, 255)
              + least(ascii(substr(p, CAST(3 * k + 2 AS BIGINT), 1))
                      + {_PH_SHIFT}, 255)
              + least(ascii(substr(p, CAST(3 * k + 3 AS BIGINT), 1))
                      + {_PH_SHIFT}, 255)
             AS BIGINT)) AS g1
  FROM px
), tots AS (
  SELECT doc_id, w, h, g0, g1,
         CAST(list_sum(g0) AS BIGINT) AS t0,
         CAST(list_sum(g1) AS BIGINT) AS t1
  FROM gray
), hset AS (
  SELECT doc_id, w, h,
         {_duck_ph_bands("g0", "t0")} AS b0,
         {_duck_ph_bands("g1", "t1")} AS b1
  FROM tots
), hashes AS (
  SELECT doc_id, 0 AS v, b0 AS b FROM hset
  UNION ALL
  SELECT doc_id, 1 AS v, b1 AS b FROM hset
), items AS (
  SELECT doc_id, v, i AS band_idx, b[i + 1] AS val
  FROM hashes, unnest(range(0, 4)) AS u(i)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.v AS va,
                  b.doc_id AS doc_b, b.v AS vb
  FROM items a JOIN items b
    ON a.band_idx = b.band_idx AND a.val = b.val
   AND (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.v < b.v))
), ham AS (
  SELECT c.doc_a, c.va, c.doc_b, c.vb,
         CAST(list_sum(list_transform(range(0, 4), i ->
           bit_count(xor(ha.b[i + 1], hb.b[i + 1])))) AS BIGINT) AS d
  FROM cand c
  JOIN hashes ha ON ha.doc_id = c.doc_a AND ha.v = c.va
  JOIN hashes hb ON hb.doc_id = c.doc_b AND hb.v = c.vb
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs,
         CAST(sum(CASE WHEN d <= {_PH_T} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_pairs,
         CAST(sum(CASE WHEN d <= {_PH_T} AND doc_a = doc_b
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_self_recovered,
         CAST(sum(CASE WHEN d <= {_PH_T} AND doc_a <> doc_b
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_dups,
         CAST(sum(CASE WHEN doc_a = doc_b THEN d ELSE 0 END) AS BIGINT)
           AS self_d_sum,
         CAST(sum(CASE WHEN doc_a = doc_b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_self_cand
  FROM ham
), ni AS (SELECT CAST(count(*) AS BIGINT) AS n_images FROM hset)
SELECT ni.n_images, agg.n_candidate_pairs, agg.n_dup_pairs,
       agg.n_self_recovered, agg.n_cross_dups,
       CASE WHEN agg.n_self_cand = 0 THEN NULL
            ELSE floor(agg.self_d_sum * 10000.0 / agg.n_self_cand + 0.5)
                 / 10000 END AS mean_self_hamming
FROM ni CROSS JOIN agg
""",
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE dedup — the multimodal member of the dedup
    family: aHash (average hash) each decoded PPM image onto a
    {_PH_G}x{_PH_G} grid (bit = cell gray mean > image gray mean, the
    classic perceptual fingerprint), store the 64 bits as 4 x 16-bit
    bands, and find near-duplicates with the SAME banded-LSH discipline
    the text dedup uses — here the band join is a TRUE LSH for the
    {_PH_T}-bit Hamming radius (<= {_PH_T} differing bits cannot touch
    all 4 bands), never all-pairs.  Each image also plants its own
    near-dup: a brightness-lifted variant (+{_PH_SHIFT} per channel —
    aHash is invariant to unclipped brightness shifts, and ASCII source
    bytes never clip) PLUS sparse corruption (+{_PH_NOISE} on channel 1
    of every {_PH_NOISE_EVERY}th pixel, ~1.6%), which nudges corrupted
    cells above the shifted global mean and flips a small,
    image-dependent number of bits — so the planted pairs spread over
    small Hamming distances and the report reads the detector's recall
    at radius {_PH_T} on them (misses are true LSH/threshold behavior,
    not bugs) next to its cross-image match count (images of
    byte-similar text ARE perceptually alike; matches there are the
    detector doing its job on this corpus, read as its false-positive
    propensity).

    Exactness: every quantity is an exact integer — gray sums, the
    bit rule as a cross-multiplied mean comparison (no division), band
    values, XOR popcount Hamming; the one emitted ratio quantizes to
    the 1e-4 grid.

    Scale: hashing is one rowwise pass (each pixel byte read exactly
    once across the 64 cell folds — no explode, no shuffle); the
    candidate join is banded (4 rows per image) and verification runs
    only on candidates.  This is the image-side twin of
    ``dedup_minhash_lsh``'s 100 TB shape.

    Reference parity: extends the reference's text-only duplicate
    screens (/root/reference/src/data/preprocessors.py) to the image
    modality the multimodal column carries."""
    t = Catalog(spark, sf_dir)
    w = (
        F.lit(_PPM_BASE_W)
        + (F.col("doc_id") * F.lit(2654435761) % F.lit(4294967296) % 4) * 8
    ).cast("long")
    src = t.documents.select(
        "doc_id",
        "text",
        w.alias("w"),
        (F.col("n_chars") / 3).cast("long").alias("npx_avail"),
    )
    dim = src.select(
        "doc_id", "text", "w", F.expr("npx_avail div w").alias("h")
    ).filter(F.col("h") >= _PH_G)
    px = dim.select(
        "doc_id",
        "w",
        "h",
        F.expr("substr(text, 1, cast(3 * w * h as int))").alias("p"),
    )
    gray = px.select(
        "doc_id",
        "w",
        "h",
        F.expr(
            "transform(sequence(0, cast(w * h as int) - 1), k ->"
            " cast(ascii(substr(p, 3 * k + 1, 1))"
            " + ascii(substr(p, 3 * k + 2, 1))"
            " + ascii(substr(p, 3 * k + 3, 1)) as bigint))"
        ).alias("g0"),
        F.expr(
            f"transform(sequence(0, cast(w * h as int) - 1), k ->"
            f" cast(least(ascii(substr(p, 3 * k + 1, 1)) + {_PH_SHIFT}"
            f" + (CASE WHEN k % {_PH_NOISE_EVERY} = 0"
            f" THEN {_PH_NOISE} ELSE 0 END), 255)"
            f" + least(ascii(substr(p, 3 * k + 2, 1)) + {_PH_SHIFT}, 255)"
            f" + least(ascii(substr(p, 3 * k + 3, 1)) + {_PH_SHIFT}, 255)"
            f" as bigint))"
        ).alias("g1"),
    )
    tots = gray.withColumn(
        "t0", F.expr("aggregate(g0, cast(0 as bigint), (a, v) -> a + v)")
    ).withColumn(
        "t1", F.expr("aggregate(g1, cast(0 as bigint), (a, v) -> a + v)")
    )
    hset = materialize(
        tots.select(
            "doc_id",
            F.expr(_ph_bands_sql("g0", "t0")).alias("b0"),
            F.expr(_ph_bands_sql("g1", "t1")).alias("b1"),
        )
    )
    hashes = hset.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("v"), F.col("b0").alias("b")),
                F.struct(F.lit(1).alias("v"), F.col("b1").alias("b")),
            )
        ).alias("x"),
    ).select("doc_id", "x.v", "x.b")
    items = hashes.select(
        "doc_id", "v", F.posexplode("b").alias("band_idx", "val")
    )
    ia, ib = items.alias("a"), items.alias("b")
    cand = (
        ia.join(
            ib,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.val") == F.col("b.val"))
            & (
                (F.col("a.doc_id") < F.col("b.doc_id"))
                | (
                    (F.col("a.doc_id") == F.col("b.doc_id"))
                    & (F.col("a.v") < F.col("b.v"))
                )
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.v").alias("va"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.v").alias("vb"),
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        F.col("v").alias("va"),
        F.col("b").alias("ba"),
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        F.col("v").alias("vb"),
        F.col("b").alias("bb"),
    )
    ham = (
        cand.join(ha, ["doc_a", "va"])
        .join(hb, ["doc_b", "vb"])
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "aggregate(zip_with(ba, bb, (x, y) ->"
                " cast(bit_count(x ^ y) as bigint)),"
                " cast(0 as bigint), (a, v) -> a + v)"
            ).alias("d"),
        )
    )
    agg = ham.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
        F.sum(F.when(F.col("d") <= _PH_T, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_pairs"),
        F.sum(
            F.when(
                (F.col("d") <= _PH_T) & (F.col("doc_a") == F.col("doc_b")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_self_recovered"),
        F.sum(
            F.when(
                (F.col("d") <= _PH_T) & (F.col("doc_a") != F.col("doc_b")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_cross_dups"),
        F.sum(
            F.when(F.col("doc_a") == F.col("doc_b"), F.col("d")).otherwise(0)
        )
        .cast("long")
        .alias("self_d_sum"),
        F.sum(F.when(F.col("doc_a") == F.col("doc_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_self_cand"),
    )
    ni = hset.agg(F.count(F.lit(1)).cast("long").alias("n_images"))
    return ni.crossJoin(F.broadcast(agg)).select(
        "n_images",
        "n_candidate_pairs",
        "n_dup_pairs",
        "n_self_recovered",
        "n_cross_dups",
        F.when(F.col("n_self_cand") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.floor(
                F.col("self_d_sum") * 10000.0 / F.col("n_self_cand")
                + F.lit(0.5)
            )
            / 10000.0
        )
        .alias("mean_self_hamming"),
    )
