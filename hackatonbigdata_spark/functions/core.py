"""Shared scalar/aggregate expression helpers.

These mirror the reference's hand-rolled numpy helpers as Catalyst
expressions (JVM-side, codegen'd — no Python in the hot path).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def r4(col: Column | str) -> Column:
    """Quantize to 4 decimals — the cross-engine float-stability convention.

    NOT ``F.round``: Spark's round does HALF_UP on the double's shortest
    decimal repr (34055.88045 -> .8805) while DuckDB rounds the exact binary
    value (34055.880449999996 -> .8804), so identical doubles can round
    differently.  ``floor(x*1e4 + 0.5)/1e4`` is binary-exact arithmetic that
    matches DuckDB's ``round(x, 4)`` on every reachable double (an exact
    binary half at scale 1e4 would need x = (2k+1)/20000, which is not
    representable), so the driver's value-hash stays stable (SURVEY §7.4.4).
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    # half-away-from-zero like C round(): dyadic values (e.g. integer means)
    # do land exactly on .00005 halves, where floor(x*1e4+0.5) would round
    # negatives toward +inf and diverge from DuckDB.
    q = F.signum(c) * (F.floor(F.abs(c) * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0))
    return F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(q)


def safe_div(num: Column, den: Column, eps: float = 1e-8) -> Column:
    """x/(y+eps) — the reference's pervasive safe-divide
    (/root/reference/src/features/business_features_engine.py:237-242)."""
    return num / (den + F.lit(eps))


def iso_dow(col: Column | str) -> Column:
    """ISO day of week, 1=Monday..7=Sunday.

    Spark's dayofweek() is 1=Sunday; DuckDB's is 0=Sunday.  Both engines use
    this ISO convention instead (oracle side: ``isodow(d)``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return ((F.dayofweek(c) + 5) % 7) + 1


def wmape_expr(actual: Column, forecast: Column) -> Column:
    """WMAPE = sum(|actual - forecast|) / sum(|actual|) * 100.

    The reference's primary metric
    (/root/reference/src/evaluation/metrics.py:12-57) as a single
    distributed aggregate — partial aggregation happens map-side, so this is
    one shuffle of two doubles per partition at any scale.
    """
    return F.sum(F.abs(actual - forecast)) / F.sum(F.abs(actual)) * 100.0


def h32(col: Column) -> Column:
    """Shared 32-bit hash: first 8 hex chars of md5 as a bigint — the one
    hash function Spark and DuckDB compute identically (DuckDB side:
    ``CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)``).  The basis for
    every cross-engine-deterministic split/sample/bucket in the engine."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def py_h32(text: str) -> int:
    """``h32`` in Python, for driver- and worker-side code that must pick
    the same split/sample/bucket as the Spark and DuckDB expressions: the
    first 8 hex chars of the md5 of the UTF-8 text, as an int."""
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16)


def both_directions(
    half: DataFrame,
    lo: str,
    hi: str,
    *same: str,
    names: tuple[str, str] | None = None,
    **directed: tuple[str, str],
) -> DataFrame:
    """Explode each undirected ``(lo, hi, ...)`` row into its two directed
    rows ``(src, dst, *same, *directed)``, with ``(src, dst)`` = ``names``
    (default ``(lo, hi)``).  Both rows come from the one evaluated row: a
    mirrored union would run ``half``'s whole plan once per side.

    ``same`` columns are symmetric and copied to both rows; each
    ``directed`` entry ``name=(lo_src, hi_src)`` takes ``lo_src`` on the
    row whose src is ``lo`` and ``hi_src`` on the other."""
    src, dst = names or (lo, hi)
    ends = (lo, hi)

    def side(i: int) -> Column:
        return F.struct(
            F.col(ends[i]).alias(src),
            F.col(ends[1 - i]).alias(dst),
            *[F.col(c).alias(c) for c in same],
            *[F.col(cols[i]).alias(name) for name, cols in directed.items()],
        )

    return half.select(F.explode(F.array(side(0), side(1))).alias("_p")).select("_p.*")
