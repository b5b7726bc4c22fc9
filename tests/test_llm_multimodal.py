"""Pins for the rows-only decode stub, the multimodal byte kernels (the
WAV and PPM SQL decodes against the Python reference decoders below), and
cross-checks between the exact and approximate dedup operators."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.operators.multimodal import decode_image, fake_decode
from hackatonbigdata_spark.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def decode_wav_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference WAV decoder: struct.unpack over the binary payload in an
    Arrow-batched ``mapInPandas`` kernel, the shape a production decode
    tier has.  The oracled ``mm_wav_pcm_stats`` SQL decode must equal it."""
    import struct  # noqa: PLC0415 — worker-side import

    t = Catalog(spark, sf_dir)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = text.encode("utf-8")
                n_data = len(body) - (len(body) % 2)
                body = body[:n_data]
                rate = 8000 + (int(doc_id) * 2654435761 % 2**32 % 4) * 4000
                payload = (
                    b"RIFF"
                    + struct.pack("<I", 36 + n_data)
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
                    + b"data"
                    + struct.pack("<I", n_data)
                    + body
                )
                # --- the decoder: parse the header, then the PCM frames ---
                assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
                ch, sr = struct.unpack("<H", payload[22:24])[0], struct.unpack(
                    "<I", payload[24:28]
                )[0]
                bits = struct.unpack("<H", payload[34:36])[0]
                nd = struct.unpack("<I", payload[40:44])[0]
                samples = struct.unpack(f"<{nd // 2}h", payload[44 : 44 + nd])
                if not samples:
                    # match mm_wav_pcm_stats: frameless payloads are
                    # dropped (the oracle's inner join against per-sample
                    # stats), and min()/max() of () would raise
                    continue
                ssq = sum(s * s for s in samples)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "is_wav": True,
                        "channels": ch,
                        "sample_rate": sr,
                        "bits": bits,
                        "n_samples": len(samples),
                        "min_s": min(samples),
                        "max_s": max(samples),
                        "ssq": ssq,
                    }
                )
            yield pd.DataFrame(rows)

    return t.documents.select("doc_id", "text", "n_chars").mapInPandas(
        kernel,
        schema=(
            "doc_id long, is_wav boolean, channels int, sample_rate long,"
            " bits int, n_samples long, min_s long, max_s long, ssq long"
        ),
    )




def decode_ppm_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference PPM decoder: byte-level header parse + pixel iteration over
    the binary payload in an Arrow-batched ``mapInPandas`` kernel.  The
    oracled pure-SQL decode ``mm_ppm_pixel_stats`` must equal it."""
    t = Catalog(spark, sf_dir)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = text.encode("utf-8")
                w = 16 + (int(doc_id) * 2654435761 % 2**32 % 4) * 8
                h = (len(body) // 3) // w
                if h < 1:
                    continue
                payload = (
                    b"P6\n" + f"{w} {h}".encode() + b"\n255\n"
                    + body[: 3 * w * h]
                )
                # --- the decoder: header up to the 3rd newline, then RGB --
                assert payload[:3] == b"P6\n"
                nl2 = payload.index(b"\n", 3)
                nl3 = payload.index(b"\n", nl2 + 1)
                dims = payload[3:nl2].split(b" ")
                width, height = int(dims[0]), int(dims[1])
                maxval = int(payload[nl2 + 1 : nl3])
                npx = width * height
                pix = payload[nl3 + 1 : nl3 + 1 + 3 * npx]
                chans = [pix[c::3] for c in range(3)]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "is_ppm": True,
                        "width": width,
                        "height": height,
                        "maxval": maxval,
                        "n_pixels": npx,
                        "r_min": min(chans[0]), "r_max": max(chans[0]),
                        "r_sum": sum(chans[0]),
                        "g_min": min(chans[1]), "g_max": max(chans[1]),
                        "g_sum": sum(chans[1]),
                        "b_min": min(chans[2]), "b_max": max(chans[2]),
                        "b_sum": sum(chans[2]),
                    }
                )
            yield pd.DataFrame(rows)

    return t.documents.select("doc_id", "text").mapInPandas(
        kernel,
        schema=(
            "doc_id long, is_ppm boolean, width long, height long,"
            " maxval int, n_pixels long, r_min long, r_max long, r_sum long,"
            " g_min long, g_max long, g_sum long, b_min long, b_max long,"
            " b_sum long"
        ),
    )


def test_sql_minhash_bands_find_planted_near_dups(spark):
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF_DIR).collect()
    }
    banded = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_lsh"](spark, SF_DIR).collect()
    }
    assert exact, "corpus should contain planted near-dups"
    assert exact <= banded


def test_decode_stub_batch_shape(spark):
    out = QUERIES["multimodal_decode_stub"](spark, SF_DIR)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "byte_len", "width", "height", "n_channels", "est_frames",
    ]
    rows = out.collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == docs
    # deterministic fake: metadata is a pure function of byte length
    for r in rows[:20]:
        m = fake_decode(b"x" * r.byte_len)
        assert (r.width, r.height, r.est_frames) == (
            m["width"], m["height"], m["est_frames"],
        )


def test_real_decode_is_explicitly_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_resample_ncopies_realizes_mixture(spark):
    """corpus_resample_ncopies must realize corpus_mixture_weights: for each
    source, the realized token mass (n_copies-weighted) over the planned mass
    (effective_epochs * source tokens) should be close to 1 — the hash slice
    is deterministic stochastic rounding, so the gap is bounded by the
    per-source doc granularity, and total copies are never negative."""
    from hackatonbigdata_spark.registry import all_queries

    q = all_queries()
    got = q["corpus_resample_ncopies"](spark, "/root/testdata/sf0.001").toPandas()
    assert (got["n_copies"] >= 0).all()
    for _, grp in got.groupby("source"):
        eff = grp["effective_epochs"].iloc[0]
        realized = grp["n_copies"].mean()
        # mean copies per doc ~ effective_epochs within doc-granularity noise
        assert abs(realized - eff) <= 0.5, (eff, realized)


def test_incremental_dedup_statuses_partition_batch(spark):
    """Every odd-doc_id document gets exactly one status, snapshot digests
    are never re-emitted, and keep-first holds inside the batch."""
    from hackatonbigdata_spark.registry import all_queries

    q = all_queries()
    got = q["dedup_incremental_vs_snapshot"](spark, "/root/testdata/sf0.001").toPandas()
    assert (got["doc_id"] % 2 == 1).all()
    assert set(got["status"]) <= {"novel", "dup_of_snapshot", "dup_in_batch"}
    novel = got[got["status"] == "novel"]
    # novel digests are unique within the batch output
    assert novel["digest"].is_unique


def test_corpus_is_ascii_so_byte_equals_char(spark):
    """The byte-level multimodal kernels (entropy, patch stats) address the
    payload by CHARACTER and read byte values via ascii() — valid only
    while the corpus is pure ASCII.  Assert the invariant the module
    docstring promises: octet_length(text) == n_chars for every document
    (a future non-ASCII corpus must switch those kernels to binary
    addressing)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bad = docs.filter(
        F.octet_length(F.encode(F.col("text"), "UTF-8")) != F.col("n_chars")
    ).count()
    assert bad == 0
    # the WAV kernel streams PCM frames via ascii() over the data chunk
    # (r7) and all three byte kernels guard n >= 1 before computed-length
    # sequences; record the data's actual floor so a future regeneration
    # with empty docs flips this loudly instead of silently exercising
    # the (tested-by-guard, but unoracled-by-data) empty branch
    min_len = docs.agg(F.min("n_chars")).first()[0]
    assert min_len >= 1, min_len


def test_magic_format_detect_mixes_formats_within_sources(spark):
    """The Knuth-hash format assignment must decorrelate from the source
    (source = src{doc_id % 20} in this testdata): every source should see
    more than one detected container format."""
    from hackatonbigdata_spark.registry import all_queries

    got = (
        all_queries()["mm_magic_format_detect"](spark, "/root/testdata/sf0.001")
        .toPandas()
        .groupby("source")["detected"]
        .nunique()
    )
    assert (got > 1).all()


def test_wav_kernel_decode_equals_sql_decode(spark):
    """The REAL Python WAV decoder (struct.unpack over the binary payload,
    mapInPandas) must agree with the oracled pure-SQL hex-domain decode on
    every header field and sample statistic — proving the decode boundary
    is a library limitation only for COMPRESSED formats."""
    import math

    sf = "/root/testdata/sf0.001"
    got = (
        decode_wav_kernel(spark, sf).toPandas().set_index("doc_id").sort_index()
    )
    want = (
        all_queries()["mm_wav_pcm_stats"](spark, sf)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(got) == len(want)
    for col in ["is_wav", "channels", "sample_rate", "bits", "n_samples",
                "min_s", "max_s"]:
        assert (got[col] == want[col]).all(), col
    # rms from the kernel's integer ssq must reproduce the SQL rms exactly
    rms = (got["ssq"] / got["n_samples"]).apply(math.sqrt)
    r4 = rms.apply(lambda x: math.floor(x * 10000 + 0.5) / 10000.0)
    assert (r4 == want["rms"]).all()


def test_ppm_kernel_decode_equals_sql_decode(spark):
    """The REAL Python PPM decoder (byte-level header parse + pixel
    iteration, mapInPandas) must agree with the oracled pure-SQL decode
    on every header field and channel statistic — the second modality of
    the honest decode boundary."""
    import math

    sf = "/root/testdata/sf0.001"
    got = (
        decode_ppm_kernel(spark, sf).toPandas().set_index("doc_id").sort_index()
    )
    want = (
        all_queries()["mm_ppm_pixel_stats"](spark, sf)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(got) == len(want) > 0
    for col in ["is_ppm", "width", "height", "maxval", "n_pixels",
                "r_min", "r_max", "g_min", "g_max", "b_min", "b_max"]:
        assert (got[col] == want[col]).all(), col
    # channel means from the kernel's integer sums must reproduce exactly
    for c in "rgb":
        mean = (got[f"{c}_sum"] / got["n_pixels"]).apply(
            lambda x: math.floor(x * 10000 + 0.5) / 10000.0
        )
        assert (mean == want[f"{c}_mean"]).all(), c
