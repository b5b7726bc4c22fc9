"""Pins for the MLlib-model queries (KMeans-IVF, PCA similarity, Platt
calibration), isotonic calibration and the Holt-Winters per-series fit.

The sf0.001 embeddings are isotropic noise (max pairwise cosine ≈ 0.48), so
an ANN recall pin against them would measure the data, not the operator.
The recall pins therefore run on a synthetic clustered corpus written to a
scratch sf-dir — where near-neighbor structure actually exists, the bucketed
searches must recover it."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hackatonbigdata_spark.registry import all_queries
from tests.conftest import SF_DIR
from tests.test_series_kernels import holt_winters_fit

QUERIES = all_queries()


@pytest.fixture(scope="module")
def clustered_sf_dir(tmp_path_factory):
    """Scratch sf-dir holding embeddings with 8 genuine clusters AND
    intrinsic dimensionality 16: points are generated in a 16-dim latent
    space (cluster center + noise) and embedded into 64 dims through a
    fixed linear map.  Exact top-k neighbors are overwhelmingly in-cluster
    (pins KMeans-IVF), and PCA-16 is lossless on rank-16 data so the
    reduced-space ranking must match the full-dim ranking (pins PCA)."""
    rng = np.random.default_rng(7)
    n_clusters, per, latent_dim, dim = 8, 25, 16, 64
    centers = rng.normal(size=(n_clusters, latent_dim)) * 5.0
    proj = rng.normal(size=(latent_dim, dim))
    vec_ids, embs, labels = [], [], []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            z = centers[c] + rng.normal(size=latent_dim) * 0.3
            v = z @ proj
            vec_ids.append(vid)
            embs.append([float(x) for x in v])
            labels.append(c)
            vid += 1
    d = tmp_path_factory.mktemp("clustered_sf")
    table = pa.table(
        {
            "vec_id": pa.array(vec_ids, pa.int64()),
            "embedding": pa.array(embs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(table, str(d / "embeddings.parquet"))
    return str(d)


def _pairs(df, k):
    return {(r.vec_id, r.neighbor_id) for r in df.collect() if r.rank <= k}


def test_ivf_kmeans_recall_on_clustered_data(spark, clustered_sf_dir):
    """With true cluster structure the learned KMeans buckets must align
    with it: top-3 recall vs the exact scan ≥ 0.8 (near 1.0 in practice)."""
    exact3 = _pairs(QUERIES["similarity_topk_cosine"](spark, clustered_sf_dir), 3)
    ivf3 = _pairs(QUERIES["similarity_ivf_kmeans"](spark, clustered_sf_dir), 3)
    recall = len(ivf3 & exact3) / len(exact3)
    assert recall >= 0.8, f"ivf kmeans recall {recall:.3f} < 0.8"


def test_pca_cosine_recall_on_clustered_data(spark, clustered_sf_dir):
    """Centers live in a rank-8 subspace, so PCA-16 preserves the neighbor
    ranking: top-5 recall vs the full-dim exact scan ≥ 0.8."""
    exact5 = _pairs(QUERIES["similarity_topk_cosine"](spark, clustered_sf_dir), 5)
    pca5 = _pairs(QUERIES["similarity_pca_cosine"](spark, clustered_sf_dir), 5)
    recall = len(pca5 & exact5) / len(exact5)
    assert recall >= 0.8, f"pca cosine recall {recall:.3f} < 0.8"


def test_calibration_isotonic_monotone_and_no_worse(spark):
    rows = sorted(
        QUERIES["calibration_isotonic"](spark, SF_DIR).collect(),
        key=lambda r: r.forecast_decile,
    )
    assert len(rows) == 10
    # calibrated means monotone non-decreasing across forecast deciles
    cal = [r.mean_calibrated for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(cal, cal[1:])), cal
    # isotonic L2 optimum can't be worse than the identity map on train data
    assert sum(r.sse_calibrated for r in rows) <= sum(r.sse_raw for r in rows) + 1e-6


def test_calibration_platt_sane(spark):
    rows = QUERIES["calibration_platt"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # probabilities stay in [0, 1]
        assert 0.0 <= r.min_p <= r.max_p <= 1.0
        # the calibrated mean tracks the event rate within a loose band —
        # Platt is a global fit, so per-store agreement is approximate
        assert abs(r.mean_calibrated_p - r.event_rate) < 0.5
    # global calibration: overall mean probability ≈ overall event rate
    # (logistic MLE with intercept matches the base rate on train data)
    n = sum(r.n_rows for r in rows)
    rate = sum(r.event_rate * r.n_rows for r in rows) / n
    mean_p = sum(r.mean_calibrated_p * r.n_rows for r in rows) / n
    assert abs(mean_p - rate) < 0.02


def test_holt_winters_fit_math():
    # constant series: level = c, trend = 0, forecast = c
    level, trend, fc = holt_winters_fit([5.0] * 42)
    assert abs(level - 5.0) < 1e-9
    assert abs(trend) < 1e-9
    assert abs(fc - 5.0) < 1e-9
    # linear series: forecast continues the slope (within smoothing error)
    y = [float(i) for i in range(56)]
    level, trend, fc = holt_winters_fit(y)
    assert 0.5 < trend < 1.5
    assert 55 < fc < 70
    # clean weekly pattern: 7-day-ahead forecast lands near the repeating value
    pattern = [10.0, 12.0, 14.0, 16.0, 14.0, 12.0, 10.0]
    y = pattern * 8
    _, _, fc = holt_winters_fit(y)
    expected = pattern[(len(y) + 7 - 1) % 7]
    assert abs(fc - expected) < 2.0
    # short series refuses to fit
    assert holt_winters_fit([1.0] * 13) is None


def test_holt_winters_query_shape(spark):
    rows = QUERIES["holt_winters_per_series"](spark, SF_DIR).collect()
    assert rows, "expected one row per store series"
    fitted = [r for r in rows if r.level is not None]
    assert fitted, "sf0.001 series are long enough to fit"
    for r in fitted[:10]:
        assert r.n_days >= 14
        assert np.isfinite(r.forecast_7d)


def test_propagation_raises_at_its_round_cap(spark, monkeypatch):
    """A cap under which no fixpoint can be certified must raise, naming
    the cap, instead of returning unconverged labels."""
    import hackatonbigdata_spark.operators.llm as llm

    monkeypatch.setattr(llm, "_COMPONENTS_MAX_ROUNDS", 0)
    with pytest.raises(RuntimeError, match="fixpoint in 0 rounds"):
        llm.dedup_cluster_components(spark, SF_DIR)


def test_priority_names_all_registered():
    """Every _PRIORITY name must resolve to a registered query, so the
    verification window can't silently shrink."""
    from hackatonbigdata_spark.registry import _PRIORITY

    assert set(_PRIORITY) <= set(QUERIES)
