"""Property tests for the cross-engine exactness toolkit.

The engine's whole correctness story rests on a few arithmetic contracts
(functions/core.py, SURVEY §7.4.4).  These hypothesis tests hammer each
contract against DuckDB directly — no Spark session needed, because the
Spark side evaluates the identical IEEE-double expression tree (Python
floats are the same doubles), and Spark==oracle is separately proven by the
212-query parity suite.  The shared hash is the one contract checked in all
three: Spark's ``h32``, its Python twin and the oracles' DuckDB SQL.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, timedelta

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _r4_py(x: float) -> float:
    """The r4 formula as plain IEEE double ops — what Catalyst evaluates."""
    if math.isnan(x):
        return None
    s = -1.0 if x < 0 else 1.0
    return s * (math.floor(abs(x) * 10000.0 + 0.5) / 10000.0)


@settings(max_examples=500, deadline=None)
@given(
    st.floats(
        allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9
    )
)
def test_r4_matches_duckdb_round(x):
    """r4(x) == DuckDB round(x, 4) on every reachable double — the contract
    the whole oracle harness depends on (F.round would NOT satisfy this:
    Spark rounds the shortest decimal repr, DuckDB the binary value)."""
    con = duckdb.connect()
    want = con.execute("SELECT round(CAST(? AS DOUBLE), 4)", [x]).fetchone()[0]
    assert _r4_py(x) == want, (x, _r4_py(x), want)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=730))
def test_iso_dow_matches_duckdb(offset):
    """The ((dayofweek + 5) % 7) + 1 rewrite equals DuckDB isodow on every
    date (1=Monday..7=Sunday)."""
    con = duckdb.connect()
    d = date(1995, 1, 1) + timedelta(days=offset)
    want = con.execute("SELECT isodow(CAST(? AS DATE))", [d]).fetchone()[0]
    # python weekday(): 0=Monday -> ISO = weekday + 1
    assert d.weekday() + 1 == want


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=10**15),
    st.integers(min_value=1, max_value=10**9),
)
def test_floor_division_agrees_on_nonnegatives(a, b):
    """Spark `div` truncates toward zero, DuckDB `//` floors — the repo's
    rule is to use them only on non-negative operands, where both equal
    Python's floor division."""
    con = duckdb.connect()
    want = con.execute("SELECT CAST(? AS BIGINT) // CAST(? AS BIGINT)", [a, b]).fetchone()[0]
    assert a // b == want  # == truncation too, since a, b >= 0


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=64))
def test_md5_hex_prefix_matches_duckdb(s):
    """The shared h32 convention (first 8 hex chars of md5 as the keyed
    hash) produces identical digests in Python/Spark and DuckDB."""
    con = duckdb.connect()
    want = con.execute("SELECT substr(md5(?), 1, 8)", [s]).fetchone()[0]
    assert hashlib.md5(s.encode()).hexdigest()[:8] == want


HASHED = ["", "abc", "12345", "héllo wörld ✓ 数据", "3:12345", "0:0"]


def test_h32_agrees_in_spark_python_and_duckdb(spark, con):
    """``h32`` (Spark), ``py_h32`` (Python) and the oracles' hash SQL
    (DuckDB) give the same integer for empty, ASCII, non-ASCII and
    ``"j:key"``-shaped text."""
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.functions.core import h32, py_h32
    from hackatonbigdata_spark.operators.llm import _duck_hash

    rows = (
        spark.createDataFrame(list(enumerate(HASHED)), "i int, s string")
        .select("i", h32(F.col("s")).alias("h"))
        .orderBy("i")
        .collect()
    )
    duck = [
        con.execute(f"SELECT {_duck_hash('?')}", [s]).fetchone()[0] for s in HASHED
    ]
    assert [r["h"] for r in rows] == [py_h32(s) for s in HASHED] == duck


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.floats(
            allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6
        ),
        min_size=1,
        max_size=50,
    )
)
def test_quantized_sum_is_order_free(xs):
    """floor(x*1e4 + 0.5) integer quantization before summation makes the
    sum permutation-invariant — the discipline every oracled aggregate
    uses (raw double sums are accumulation-order dependent)."""
    q = [math.floor(x * 10000 + 0.5) for x in xs]
    assert sum(q) == sum(reversed(q)) == sum(sorted(q))
    # and the quantized values survive a DuckDB round-trip exactly
    con = duckdb.connect()
    want = con.execute(
        "SELECT sum(CAST(floor(x * 10000 + 0.5) AS BIGINT)) FROM (SELECT unnest(?) AS x)",
        [xs],
    ).fetchone()[0]
    assert sum(q) == want


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**32 - 1), min_size=4, max_size=40
    )
)
def test_winnowing_key_encoding_picks_rightmost_min(hs):
    """The text_winnowing_stats contract: min over the encoded key
    h*2^20 + (2^20-1-pos) within any window equals robust winnowing's
    choice (minimum hash, rightmost position on ties) — for arbitrary
    hash sequences including adversarial all-equal windows."""
    w = 4
    for j in range(len(hs) - w + 1):
        win = hs[j : j + w]
        m = min(win)
        want = j + max(i for i, h in enumerate(win) if h == m)
        key = min(
            h * 1048576 + (1048575 - (j + i)) for i, h in enumerate(win)
        )
        got = 1048575 - (key % 1048576)
        assert got == want


@settings(max_examples=300, deadline=None)
@given(
    st.dictionaries(
        st.text(
            alphabet=st.characters(min_codepoint=97, max_codepoint=102),
            min_size=1,
            max_size=4,
        ),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from([90, 95, 99]),
)
def test_vocab_coverage_level_formula_equals_greedy(freq, pct):
    """The corpus_vocab_coverage contract: the distinct-frequency-level
    boundary formula (integer prefix sums + ceiling division) equals the
    straightforward greedy walk of the (count desc, word) ordering — in
    particular at adversarial tie boundaries where the required mass
    lands exactly on a level edge."""
    ordered = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(freq.values())
    required = -(-pct * total // 100)
    cum = k = 0
    for _, c in ordered:
        if cum >= required:
            break
        cum += c
        k += 1
    # level formula: collapse to (cf, nw), find the boundary level
    levels: dict = {}
    for _, c in freq.items():
        levels[c] = levels.get(c, 0) + 1
    cum_hi = words_hi = 0
    got = None
    for cf in sorted(levels, reverse=True):
        nw = levels[cf]
        if cum_hi < required <= cum_hi + cf * nw:
            m = (required - cum_hi + cf - 1) // cf
            got = (words_hi + m, cum_hi + m * cf)
            break
        cum_hi += cf * nw
        words_hi += nw
    assert got == (k, cum)
