"""Shared sketch parameters — ONE definition for every engine.

The stream kernels (``streaming/jobs.py``), their oracled batch twins
(``operators/streaming_batch.py``), and the batch gates (``operators/
llm.py``) must agree bit-for-bit on these constants: the stream == batch
equality contract and the byte-identical oracle SQL both derive from
them, so a change here is a change everywhere (the ``BLOOM_K`` lesson —
previously each module re-declared its own copy and only comments plus
tests guarded against drift).

Leaf module by design: imports nothing from the package, so both the
operators and the streaming kernels can depend on it without cycles.
``tests/test_engine.py`` fails if another module assigns one of these
names at module level.
"""

BLOOM_M = 1024  # Bloom filter bits (stream twin == dedup_bloom_gate grid)
BLOOM_K = 4  # Bloom hash functions

HLL_M = 64  # HyperLogLog registers (p=6)
HLL_W = 52  # hash window bits observed per key (13 md5 hex chars)
HLL_ALPHA64 = 0.709  # Flajolet et al. 2007 bias constant for m=64

KLL_K = 32  # quantile-sketch compactor capacity (items per level)
KLL_LEVELS = 14  # level budget: covers KLL_K * 2^14 ≈ 524k items per key

KMV_K = 32  # bottom-k distinct-count budget per hour bucket
SAMPLE_K = 8  # bottom-k uniform-sample budget per hour

CMS_D = 4  # count-min sketch depth (hash rows)
CMS_W = 64  # count-min sketch width (buckets per row)
CMS_MONITORED = 8  # point-query keys: user ids 0..CMS_MONITORED-1

QUANT_PCTS = (50, 90, 99)  # per-hour percentiles the histogram kernels serve


def bloom_pos_sql(j_expr: str, key_expr: str) -> str:
    """DuckDB SQL for the Bloom bit that hash ``j`` sets for a key: the
    first 8 hex digits of md5("j:key") mod ``BLOOM_M``.  ``key_expr`` must
    already be a VARCHAR expression."""
    return (
        f"CAST(('0x' || substr(md5(CAST({j_expr} AS VARCHAR) || ':' || "
        f"{key_expr}), 1, 8)) AS BIGINT) % {BLOOM_M}"
    )
