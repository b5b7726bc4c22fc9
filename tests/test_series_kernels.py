"""Pin the per-series folds against plain-Python / pandas references on
the same data.

Every per-series model runs as a JVM fold with a DuckDB oracle that replays
the same fold.  The references below are independent: the pandas
calls the models are defined by (``ewm(adjust=True)``, ``autocorr``), the
Holt-Winters and clamp recursions as Python loops, and the closed-form
Croston and AR(2) fits.  Each fold must equal its reference over every
sf0.001 series, bit for bit after rounding, except the autocorrelation,
whose pandas reference sums in numpy's pairwise / BLAS order.
"""

from __future__ import annotations

import datetime
import math
import statistics
import warnings

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hackatonbigdata_spark.oracle import compare_frames
from hackatonbigdata_spark.registry import all_oracles, all_queries

SF_DIR = "/root/testdata/sf0.001"


def _daily_pdf(sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    pdf = con.execute(
        f"""
        SELECT l_suppkey, l_shipdate,
               floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS qty
        FROM '{sf_dir}/lineitem.parquet'
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchdf()
    con.close()
    return pdf


@pytest.fixture(scope="module")
def daily_pdf() -> pd.DataFrame:
    return _daily_pdf(SF_DIR)


# Short series that reach the folds' edges: a single day, two days (no
# autocorrelation), a constant run (zero variance; EWM values equal to the
# running mean), zeros (the clamp passes a value after a 0), a short trend
# (the two sides of the lag pairs have different means), repeats, and the
# 13/14-day boundary of Holt-Winters.  Series 1-3 get null Croston and
# AR(2) fits: 1 and 3 have no day above their median and an AR(2)
# denominator r0² - r1² of 0; 2 has one event and fewer than 5 days.
EDGE_SERIES: dict[int, list[float]] = {
    1: [5.0],
    2: [3.0, 4.0],
    3: [7.0] * 20,
    4: [float(i) + (i * 7 % 5) * 0.25 for i in range(30)],
    5: [0.0, 0.0, 10.0, 1.0, 30.0, 0.0, 5.0, 5.0, 5.0, 100.0, 2.0, 2.5],
    6: [17.0, 17.0, 25.0, 17.0, 17.0, 17.0, 3.5] * 6,
    7: [float(i % 4) + 1.0 for i in range(13)],
    8: [float(i % 3) * 2.5 + 1.0 for i in range(14)],
}


@pytest.fixture(scope="module")
def edge_sf_dir(tmp_path_factory) -> str:
    """Scratch sf-dir whose lineitem holds EDGE_SERIES, one row per day."""
    d = tmp_path_factory.mktemp("edge_series")
    day0 = datetime.datetime(2024, 1, 1)
    rows = [
        (key, day0 + datetime.timedelta(days=i), v)
        for key, ys in EDGE_SERIES.items()
        for i, v in enumerate(ys)
    ]
    table = pa.table(
        {
            "l_suppkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_quantity": pa.array([r[2] for r in rows], pa.float64()),
            "l_shipdate": pa.array([r[1] for r in rows], pa.timestamp("us")),
        }
    )
    pq.write_table(table, str(d / "lineitem.parquet"))
    return str(d)


def py_r4(x: float) -> float:
    """Python twin of functions.core.r4 (half-away-from-zero at 4dp).
    Python's round() is ties-to-even and diverges on dyadic halves
    (round(0.03125, 4) = 0.0312 vs 0.0313)."""
    s = -1.0 if x < 0 else 1.0
    return s * (math.floor(abs(x) * 10000.0 + 0.5) / 10000.0)


def _series(daily_pdf: pd.DataFrame):
    """(key, date-sorted daily quantities) for every store."""
    for key, grp in daily_pdf.groupby("l_suppkey"):
        yield key, grp.sort_values("l_shipdate")["qty"].reset_index(drop=True)


def _query(spark, name: str, sf_dir: str) -> pd.DataFrame:
    return all_queries()[name](spark, sf_dir).toPandas().set_index("l_suppkey").sort_index()


def ewm_reference(y: pd.Series) -> tuple[float, float]:
    """(last, mean) of pandas' EWM with alpha=0.3, adjust=True."""
    ema = y.ewm(alpha=0.3, adjust=True).mean()
    return float(ema.iloc[-1]), float(ema.mean())


def clamp_reference(y: list[float]) -> list[float]:
    """The ±50% change-rate limiter as a loop: each value is clamped to
    [prev/2, prev*1.5] around the previous clamped value (unclamped after a
    0) and rounded with r4 before the next step reads it."""
    out: list[float] = []
    for v in y:
        prev = out[-1] if out else None
        if prev is None or prev == 0:
            out.append(py_r4(v))
        else:
            out.append(py_r4(min(max(v, prev * 0.5), prev * 1.5)))
    return out


def autocorr_reference(y: pd.Series) -> float | None:
    """pandas' lag-1 autocorrelation; None where pandas gives NaN (numpy
    warns on those: fewer than two pairs, or zero variance)."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        ac = y.autocorr(lag=1)
    return None if pd.isna(ac) else float(ac)


def holt_winters_fit(
    y: list[float],
    m: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    horizon: int = 7,
) -> tuple[float, float, float] | None:
    """Additive Holt-Winters recursion over one series: returns (level,
    trend, h-step forecast), or None when the series is shorter than two
    seasons.  Standard initialization: first-season mean level, mean
    season-over-season difference for trend, de-meaned first season for the
    seasonal state."""
    if len(y) < 2 * m:
        return None
    level = float(sum(y[:m]) / m)
    trend = float((sum(y[m : 2 * m]) / m - sum(y[:m]) / m) / m)
    season = [float(v - level) for v in y[:m]]
    for i in range(m, len(y)):
        s = season[i % m]
        prev_level = level
        level = alpha * (y[i] - s) + (1 - alpha) * (level + trend)
        trend = beta * (level - prev_level) + (1 - beta) * trend
        season[i % m] = gamma * (y[i] - level) + (1 - gamma) * s
    fc = level + horizon * trend + season[(len(y) + horizon - 1) % m]
    return level, trend, fc


def check_ewm(spark, sf_dir: str, daily: pd.DataFrame) -> None:
    """The adjust=True fold equals pandas' EWM after r4, on both columns."""
    got = _query(spark, "ewm_pandas_per_series", sf_dir)
    assert len(got) == daily["l_suppkey"].nunique()
    for key, y in _series(daily):
        last, mean = ewm_reference(y)
        assert got.loc[key, "ema_last"] == py_r4(last), key
        assert got.loc[key, "ema_mean"] == py_r4(mean), key
        assert got.loc[key, "n_days"] == len(y)


def check_holt_winters(spark, sf_dir: str, daily: pd.DataFrame) -> None:
    """The fold equals holt_winters_fit after r4; null below two weeks."""
    got = _query(spark, "holt_winters_per_series", sf_dir)
    assert len(got) == daily["l_suppkey"].nunique()
    for key, y in _series(daily):
        fit = holt_winters_fit(list(y))
        row = got.loc[key, ["level", "trend", "forecast_7d"]]
        if fit is None:
            assert row.isna().all(), key
        else:
            assert list(row) == [py_r4(v) for v in fit], key
        assert got.loc[key, "n_days"] == len(y)


def check_autocorr(spark, sf_dir: str, daily: pd.DataFrame) -> None:
    """Within 1e-4 of pandas' autocorr (numpy sums in another order); null
    exactly where pandas gives NaN."""
    got = _query(spark, "rolling_autocorr_per_series", sf_dir)
    assert len(got) == daily["l_suppkey"].nunique()
    for key, y in _series(daily):
        want = autocorr_reference(y)
        if want is None:
            assert pd.isna(got.loc[key, "autocorr1"]), key
        else:
            assert got.loc[key, "autocorr1"] == pytest.approx(want, abs=1e-4), key
        assert got.loc[key, "n_days"] == len(y)


def check_clamp(spark, sf_dir: str, daily: pd.DataFrame) -> None:
    """Row for row equal to the loop that rounds with r4.  Python's
    ties-to-even round(v, 4) would differ on the half-quantum ties that
    prev * 0.5 produces, and those propagate down the series."""
    got = all_queries()["sequential_clamp_per_series"](spark, sf_dir).toPandas()
    got = got.sort_values(["l_suppkey", "l_shipdate"]).reset_index(drop=True)
    want = daily.sort_values(["l_suppkey", "l_shipdate"]).reset_index(drop=True)
    want["qty_clamped"] = [v for _, y in _series(daily) for v in clamp_reference(list(y))]
    pd.testing.assert_frame_equal(got, want, check_exact=True, check_dtype=False)


def test_ewm_pandas_matches_reference(spark, daily_pdf):
    check_ewm(spark, SF_DIR, daily_pdf)


def test_holt_winters_fold_equals_reference(spark, daily_pdf):
    check_holt_winters(spark, SF_DIR, daily_pdf)


def test_autocorr_fold_within_pandas(spark, daily_pdf):
    check_autocorr(spark, SF_DIR, daily_pdf)


def test_clamp_fold_equals_r4_recursion(spark, daily_pdf):
    check_clamp(spark, SF_DIR, daily_pdf)


def test_sequential_clamp_properties(spark, daily_pdf):
    got = all_queries()["sequential_clamp_per_series"](spark, SF_DIR).toPandas()
    assert len(got) == len(daily_pdf)
    # every step change is within ±50% of the previous clamped value
    for _, grp in got.groupby("l_suppkey"):
        grp = grp.sort_values("l_shipdate")
        prev = None
        for v in grp["qty_clamped"]:
            if prev not in (None, 0):
                # each step is rounded to 4dp, so allow that quantum
                assert v <= prev * 1.5 + 1e-4 and v >= prev * 0.5 - 1e-4
            prev = v


def oracle_check(name: str):
    """The query equals its DuckDB oracle over ``sf_dir``'s lineitem."""

    def check(spark, sf_dir: str, daily: pd.DataFrame) -> None:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
        want = con.execute(all_oracles()[name]).fetchdf()
        con.close()
        got = all_queries()[name](spark, sf_dir).toPandas()
        assert len(got) == daily["l_suppkey"].nunique()
        res = compare_frames(name, got, want)
        assert res.ok, res.detail

    return check


@pytest.mark.parametrize(
    "check",
    [
        check_ewm,
        check_holt_winters,
        check_autocorr,
        check_clamp,
        oracle_check("croston_ses_sql"),
        oracle_check("ar2_yule_walker_sql"),
    ],
    ids=["ewm", "holt_winters", "autocorr", "clamp", "croston", "ar2"],
)
def test_fold_equals_reference_on_edge_series(spark, edge_sf_dir, check):
    check(spark, edge_sf_dir, _daily_pdf(edge_sf_dir))


def test_croston_positive_and_autocorr_bounded(spark):
    croston = all_queries()["croston_per_series"](spark, SF_DIR).toPandas()
    assert (croston["croston_forecast"].dropna() > 0).all()
    ac = all_queries()["rolling_autocorr_per_series"](spark, SF_DIR).toPandas()
    assert ac["autocorr1"].dropna().between(-1, 1).all()


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
