"""Pin the per-series models against plain-Python / pandas references on
the same data.

The pandas-kernel queries (EWM, clamp, autocorr) have no DuckDB oracle, so
the tests here are their correctness gate.  Croston and AR(2) run as JVM
folds with a DuckDB oracle; here they must also equal, bit for bit, the
plain-Python fits below over every sf0.001 series.
"""

from __future__ import annotations

import math
import statistics

import duckdb
import pandas as pd
import pytest

from hackatonbigdata_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def daily_pdf() -> pd.DataFrame:
    con = duckdb.connect()
    pdf = con.execute(
        f"""
        SELECT l_suppkey, l_shipdate,
               floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS qty
        FROM '{SF_DIR}/lineitem.parquet'
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchdf()
    con.close()
    return pdf


def test_ewm_pandas_matches_reference(spark, daily_pdf):
    got = (
        all_queries()["ewm_pandas_per_series"](spark, SF_DIR)
        .toPandas()
        .set_index("l_suppkey")
        .sort_index()
    )
    for key, grp in daily_pdf.groupby("l_suppkey"):
        ema = grp.sort_values("l_shipdate")["qty"].ewm(alpha=0.3, adjust=True).mean()
        assert got.loc[key, "ema_last"] == pytest.approx(round(float(ema.iloc[-1]), 4))
        assert got.loc[key, "n_days"] == len(grp)


def test_sequential_clamp_properties(spark, daily_pdf):
    got = all_queries()["sequential_clamp_per_series"](spark, SF_DIR).toPandas()
    assert len(got) == len(daily_pdf)
    # every step change is within ±50% of the previous clamped value
    for _, grp in got.groupby("l_suppkey"):
        grp = grp.sort_values("l_shipdate")
        prev = None
        for v in grp["qty_clamped"]:
            if prev not in (None, 0):
                # kernel rounds each step to 4dp, so allow that quantum
                assert v <= prev * 1.5 + 1e-4 and v >= prev * 0.5 - 1e-4
            prev = v


def test_croston_positive_and_autocorr_bounded(spark):
    croston = all_queries()["croston_per_series"](spark, SF_DIR).toPandas()
    assert (croston["croston_forecast"].dropna() > 0).all()
    ac = all_queries()["rolling_autocorr_per_series"](spark, SF_DIR).toPandas()
    assert ac["autocorr1"].dropna().between(-1, 1).all()


def py_r4(x: float) -> float:
    """Python twin of functions.core.r4 (half-away-from-zero at 4dp).
    Python's round() is ties-to-even and diverges on dyadic halves
    (round(0.03125, 4) = 0.0312 vs 0.0313)."""
    s = -1.0 if x < 0 else 1.0
    return s * (math.floor(abs(x) * 10000.0 + 0.5) / 10000.0)


def ar2_yule_walker_fit(y: list[float]) -> tuple[float, float, float, float] | None:
    """Closed-form AR(2) Yule-Walker fit over one series: (phi1, phi2,
    sigma2, forecast_1d), or None when the series is shorter than 5 or has
    zero variance.  Biased (1/n) autocovariances; every sum is Python's
    sequential sum(), the fold the SQL query replays."""
    n = len(y)
    if n < 5:
        return None
    mu = sum(y) / n
    d = [v - mu for v in y]
    r0 = sum(v * v for v in d) / n
    if r0 <= 0.0:
        return None
    r1 = sum(d[i] * d[i + 1] for i in range(n - 1)) / n
    r2 = sum(d[i] * d[i + 2] for i in range(n - 2)) / n
    den = r0 * r0 - r1 * r1
    if den <= 0.0:
        return None
    phi1 = r1 * (r0 - r2) / den
    phi2 = (r0 * r2 - r1 * r1) / den
    sigma2 = r0 - phi1 * r1 - phi2 * r2
    fc = mu + phi1 * (y[-1] - mu) + phi2 * (y[-2] - mu)
    return phi1, phi2, sigma2, fc


def croston_fit(y: list[float], alpha: float = 0.1) -> tuple[float | None, int]:
    """Croston's SES over one date-sorted series: demand events are days
    above the series median; z and p are seeded with the first event size
    and interval.  Returns (rounded z / p, or None below 2 events; number
    of events)."""
    thr = statistics.median(y)
    events = [i for i, v in enumerate(y) if v > thr]
    if len(events) < 2:
        return None, len(events)
    sizes = [y[i] for i in events]
    intervals = [float(b - a) for a, b in zip(events, events[1:])]
    z, p = sizes[0], intervals[0]
    for s in sizes[1:]:
        z = alpha * s + (1 - alpha) * z
    for iv in intervals[1:]:
        p = alpha * iv + (1 - alpha) * p
    return py_r4(z / p), len(events)


def test_ar2_yule_walker_recovers_synthetic_ar2():
    # deterministic pseudo-noise (LCG) so the test needs no RNG import
    state, noise = 12345, []
    for _ in range(5000):
        state = (1103515245 * state + 12345) % (2**31)
        noise.append(state / 2**31 - 0.5)
    phi1_true, phi2_true = 0.5, -0.3
    y = [0.0, 0.0]
    for e in noise:
        y.append(phi1_true * y[-1] + phi2_true * y[-2] + e)
    phi1, phi2, sigma2, _fc = ar2_yule_walker_fit(y[500:])
    assert phi1 == pytest.approx(phi1_true, abs=0.05)
    assert phi2 == pytest.approx(phi2_true, abs=0.05)
    assert sigma2 > 0
    # white noise alone → both coefficients near zero
    w1, w2, _, _ = ar2_yule_walker_fit(noise)
    assert abs(w1) < 0.05 and abs(w2) < 0.05


def test_ar2_per_series_stationary_and_complete(spark, daily_pdf):
    got = all_queries()["ar2_yule_walker_per_series"](spark, SF_DIR).toPandas()
    assert set(got["l_suppkey"]) == set(daily_pdf["l_suppkey"])
    fitted = got.dropna(subset=["phi1"])
    assert len(fitted) > 0
    # Yule-Walker on biased autocovariances is always stationary:
    # |φ2| < 1, φ2 ± φ1 < 1 (triangle conditions), σ² > 0
    assert (fitted["phi2"].abs() < 1 + 1e-9).all()
    assert (fitted["phi1"] + fitted["phi2"] < 1 + 1e-9).all()
    assert (fitted["phi2"] - fitted["phi1"] < 1 + 1e-9).all()
    assert (fitted["sigma2"] > 0).all()


def _reference_rows(daily_pdf: pd.DataFrame, fit) -> pd.DataFrame:
    rows = [
        {"l_suppkey": key, **fit([float(v) for v in grp.sort_values("l_shipdate")["qty"]])}
        for key, grp in daily_pdf.groupby("l_suppkey")
    ]
    return pd.DataFrame(rows)


def _ar2_row(y: list[float]) -> dict:
    fit = ar2_yule_walker_fit(y)
    vals = [math.nan] * 4 if fit is None else [py_r4(v) for v in fit]
    return {**dict(zip(("phi1", "phi2", "sigma2", "forecast_1d"), vals)), "n_days": len(y)}


def _croston_row(y: list[float]) -> dict:
    fc, m = croston_fit(y)
    return {"croston_forecast": math.nan if fc is None else fc, "n_events": m}


@pytest.mark.parametrize(
    "names,row",
    [
        (("ar2_yule_walker_per_series", "ar2_yule_walker_sql"), _ar2_row),
        (("croston_per_series", "croston_ses_sql"), _croston_row),
    ],
    ids=["ar2", "croston"],
)
def test_sql_fold_equals_python_reference_bitwise(spark, daily_pdf, names, row):
    """Both registered names are one SQL fold, and it equals the plain-Python
    fit on every series bit for bit (same sequential fold, same rounding),
    so the shared DuckDB oracle checks the same numbers.  Compared with
    check_exact (no tolerance)."""
    q = all_queries()
    assert q[names[0]] is q[names[1]]
    got = q[names[0]](spark, SF_DIR).toPandas().sort_values("l_suppkey").reset_index(drop=True)
    want = _reference_rows(daily_pdf, row)
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)
