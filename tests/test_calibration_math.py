"""Math-correctness pins for the closed-form and fixed-iteration model fits.

Oracle parity proves Spark and DuckDB agree; these tests prove the shared
math is RIGHT, by recomputing each fit independently (numpy / brute force)
from the same inputs at sf0.001.
"""

from __future__ import annotations

import numpy as np
import pytest

from hackatonbigdata_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def oof_pdf(spark):
    from hackatonbigdata_spark.catalog import Catalog
    from hackatonbigdata_spark.operators.forecast import _oof_join

    return _oof_join(Catalog(spark, SF_DIR)).toPandas()


def test_ridge_weights_match_numpy_solve(spark, oof_pdf):
    """The Cramer's-rule ridge solution must equal numpy's linalg.solve of
    (XᵀX + I)β = Xᵀy on the identical quantized design matrix."""
    got = all_queries()["stacking_ridge_weights"](spark, SF_DIR).toPandas().iloc[0]
    X = oof_pdf[["pred_mean", "pred_q75", "pred_store"]].to_numpy(dtype=float)
    y = oof_pdf["actual"].to_numpy(dtype=float)
    beta = np.linalg.solve(X.T @ X + np.eye(3), X.T @ y)
    assert got["w_mean"] == pytest.approx(beta[0], abs=2e-4)
    assert got["w_q75"] == pytest.approx(beta[1], abs=2e-4)
    assert got["w_store"] == pytest.approx(beta[2], abs=2e-4)
    # the fitted blend must beat (or tie) the naive equal-weight blend
    assert got["wmape_ridge"] <= got["wmape_equal"] + 1e-9


def test_ridge_is_the_objective_minimum(oof_pdf):
    """Perturbing the numpy solution in any coordinate direction must not
    decrease the ridge objective ||y - Xβ||² + ||β||²."""
    X = oof_pdf[["pred_mean", "pred_q75", "pred_store"]].to_numpy(dtype=float)
    y = oof_pdf["actual"].to_numpy(dtype=float)
    beta = np.linalg.solve(X.T @ X + np.eye(3), X.T @ y)

    def obj(b):
        r = y - X @ b
        return float(r @ r + b @ b)

    base = obj(beta)
    for i in range(3):
        for eps in (1e-3, -1e-3):
            b = beta.copy()
            b[i] += eps
            assert obj(b) >= base


def test_temperature_is_grid_argmin(spark):
    """The returned temperature must minimize the quantized NLL over the
    published grid, recomputed brute-force in numpy from the same inputs."""
    from hackatonbigdata_spark.catalog import Catalog
    from hackatonbigdata_spark.operators.forecast import _TEMP_GRID, _with_forecast

    got = all_queries()["calibration_temperature"](spark, SF_DIR).toPandas().iloc[0]
    pdf = (
        _with_forecast(Catalog(spark, SF_DIR))
        .filter("forecast IS NOT NULL")
        .select("actual", "forecast")
        .toPandas()
    )
    f = pdf["forecast"].to_numpy(dtype=float)
    fl = np.floor(f * 10000 + 0.5)
    n = len(fl)
    mean = fl.sum() / n / 10000.0
    std = np.sqrt((n * (fl * fl).sum() - fl.sum() ** 2) / (n * 1.0 * (n - 1))) / 10000.0
    z = (f - mean) / std
    y = (pdf["actual"].to_numpy(dtype=float) > np.median(pdf["actual"])).astype(float)
    nlls = {}
    for t in _TEMP_GRID:
        p = np.clip(1.0 / (1.0 + np.exp(-(z / t))), 1e-7, 1 - 1e-7)
        loss = np.where(y == 1, -np.log(p), -np.log(1 - p))
        nlls[t] = np.floor(loss * 10000 + 0.5).sum()
    best = min(nlls, key=lambda t: (nlls[t], t))
    assert got["temperature"] == pytest.approx(best, abs=1e-4)
    assert got["nll_best"] == pytest.approx(nlls[best] / n / 10000.0, abs=2e-4)


def test_conformal_coverage_construction(spark):
    """The conformal threshold must be the ceil((n+1)·0.9)-rank order
    statistic of the calibration scores, recomputed per store in pandas."""
    from hackatonbigdata_spark.catalog import Catalog
    from hackatonbigdata_spark.operators.forecast import _with_forecast

    got = (
        all_queries()["calibration_conformal"](spark, SF_DIR)
        .toPandas()
        .set_index("l_suppkey")
    )
    pdf = (
        _with_forecast(Catalog(spark, SF_DIR))
        .filter("forecast IS NOT NULL")
        .select("l_suppkey", "l_orderkey", "actual", "forecast")
        .toPandas()
    )
    pdf["score"] = (pdf["actual"] - pdf["forecast"]).abs()
    cal = pdf[pdf["l_orderkey"] % 2 == 0]
    for key, grp in cal.groupby("l_suppkey"):
        if key not in got.index:
            continue
        s = np.sort(grp["score"].to_numpy())
        rank = min(int(np.ceil((len(s) + 1) * 0.9)), len(s))
        assert got.loc[key, "q_hat"] == pytest.approx(round(s[rank - 1], 4), abs=1e-4)
        assert got.loc[key, "n_cal"] == len(s)


def test_quantile_band_pinball_argmin(spark):
    """Each fitted band scale must minimize its quantized pinball loss over
    the published grid (brute-force numpy recomputation)."""
    from hackatonbigdata_spark.catalog import Catalog
    from hackatonbigdata_spark.operators.forecast import _QBAND_GRID, _with_forecast

    got = all_queries()["calibration_quantile_band"](spark, SF_DIR).toPandas().iloc[0]
    pdf = (
        _with_forecast(Catalog(spark, SF_DIR))
        .filter("forecast IS NOT NULL")
        .select("actual", "forecast")
        .toPandas()
    )
    a = pdf["actual"].to_numpy(dtype=float)
    f = pdf["forecast"].to_numpy(dtype=float)

    def pin(c, q):
        d = a - c * f
        loss = np.where(d >= 0, q * d, (q - 1) * d)
        return np.floor(loss * 10000 + 0.5).sum()

    lo = {c: pin(c, 0.1) for c in _QBAND_GRID}
    hi = {c: pin(c, 0.9) for c in _QBAND_GRID}
    assert got["scale_q10"] == pytest.approx(min(lo, key=lambda c: (lo[c], c)), abs=1e-4)
    assert got["scale_q90"] == pytest.approx(min(hi, key=lambda c: (hi[c], c)), abs=1e-4)


def test_subsample_uncertainty_brackets_full_metric(spark):
    """The replicate mean must sit near the full-sample WMAPE and the CI
    must contain it; replicate std must be positive on real data."""
    got = (
        all_queries()["calibration_subsample_uncertainty"](spark, SF_DIR)
        .toPandas()
        .iloc[0]
    )
    assert got["n_replicates"] == 20
    assert got["wmape_std"] > 0
    assert got["ci_lo"] <= got["wmape_full"] <= got["ci_hi"]
    assert abs(got["wmape_mean"] - got["wmape_full"]) <= 3 * got["wmape_std"]


def test_platt_exact_gd_matches_numpy_and_calibrates(spark):
    """Independent math pin for calibration_platt_exact: replay the same
    12 quantized GD steps in numpy from the engine's own (xs, y) inputs and
    demand the identical (slope, intercept); then check the fit behaves
    like a calibrator (positive slope, reliability-table monotonicity)."""
    import math

    from pyspark.sql import functions as F

    from hackatonbigdata_spark.catalog import Catalog
    from hackatonbigdata_spark.operators.forecast import (
        _PLATT_ITERS,
        _PLATT_LR,
        _with_forecast,
    )

    t = Catalog(spark, SF_DIR)
    f = _with_forecast(t).filter(F.col("forecast").isNotNull())
    med = f.groupBy("l_suppkey").agg(
        F.percentile("actual", F.lit(0.5)).alias("med")
    )
    lab = f.join(med, "l_suppkey").select(
        "l_orderkey",
        "forecast",
        F.when(F.col("actual") > F.col("med"), 1.0).otherwise(0.0).alias("y"),
    ).toPandas()
    cal = lab[lab.l_orderkey % 2 == 0]
    mn, mx = cal.forecast.min(), cal.forecast.max()
    xs = ((cal.forecast - mn) / (mx - mn)).values
    y = cal.y.values
    a, b = 1000000000, -500000000
    lr = float(_PLATT_LR)
    for _ in range(_PLATT_ITERS):
        z = (a / 1e9) * xs + (b / 1e9)
        az = 1 + np.abs(z)
        p = 0.5 + 0.5 * (z / az)
        w = 0.5 / (az * az)
        e = p - y
        ga = int(np.floor(e * w * xs * 1e9 + 0.5).sum())
        gb = int(np.floor(e * w * 1e9 + 0.5).sum())
        n = len(xs)
        a -= math.floor(lr * ga / n + 0.5)
        b -= math.floor(lr * gb / n + 0.5)

    out = (
        all_queries()["calibration_platt_exact"](spark, SF_DIR)
        .toPandas()
        .sort_values("bin")
    )
    assert int(out.slope_nano.iloc[0]) == a
    assert int(out.intercept_nano.iloc[0]) == b
    # calibrator sanity: increasing in the forecast, probabilities in [0,1]
    assert a > 0
    assert out.mean_p.is_monotonic_increasing
    assert (out.mean_p >= 0).all() and (out.mean_p <= 1).all()


def test_pav_fold_is_pool_adjacent_violators(spark):
    """``calibration_isotonic``'s one-filter PAV step against the textbook
    pop loop, on random weighted points with ties and long violator runs:
    the same blocks, and means equal to the last bit."""
    import random

    from pyspark.sql import functions as F

    from hackatonbigdata_spark.operators.forecast import _PAV_STEP, _PAV_ZERO

    rng = random.Random(3)
    pts = [(x / 4, rng.randint(1, 5), rng.randint(0, 8) * 10000) for x in range(60)]
    blocks = []
    for x, w, s in pts:
        cw, cs = w, s
        while blocks and blocks[-1][2] / blocks[-1][1] >= cs / cw:
            _, bw, bs = blocks.pop()
            cw, cs = cw + bw, cs + bs
        blocks.append((x, cw, cs))
    expected = [(x, cs / cw) for x, cw, cs in blocks]

    df = spark.createDataFrame(
        [(pts,)], "pts array<struct<x: double, cw: bigint, cs: bigint>>"
    )
    st = df.select(F.expr(f"aggregate(pts, {_PAV_ZERO}, {_PAV_STEP})")).first()[0]
    got = [
        (b.x, (b.cs - a.cs) / (b.cw - a.cw)) for a, b in zip(st, st[1:])
    ]
    assert got == expected
    assert len(expected) < len(pts)  # the data did pool
