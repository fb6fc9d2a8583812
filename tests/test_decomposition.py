"""Distributed PCA: numpy parity on the fit, deterministic sign
convention, zero-shuffle projection, scatter-aggregate shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.operators.decomposition import (
    _moments_inrow,
    pca_fit,
    pca_project,
)


def _df(spark, mat):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )


def _numpy_pca(mat, k):
    x = np.asarray(mat, dtype=np.float64)
    # float32 storage: quantize exactly as the table stores it
    x = x.astype(np.float32).astype(np.float64)
    mean = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, ddof=1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(-vals, kind="stable")[:k]
    comps = []
    for i in order:
        v = vecs[:, i]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v)
    return mean, np.array(comps), vals[order]


def test_pca_fit_matches_numpy(spark):
    rng = np.random.RandomState(3)
    # anisotropic cloud: variance concentrated on two known directions
    base = rng.randn(120, 6) @ np.diag([5.0, 3.0, 1.0, 0.5, 0.2, 0.1])
    model = pca_fit(_df(spark, base), k=3)
    mean, comps, vals = _numpy_pca(base, 3)
    assert model.n == 120
    np.testing.assert_allclose(model.mean, mean, rtol=0, atol=1e-9)
    np.testing.assert_allclose(
        model.explained_variance, vals, rtol=1e-9, atol=1e-12
    )
    np.testing.assert_allclose(model.components, comps, rtol=0, atol=1e-9)


def test_pca_project_matches_numpy(spark):
    rng = np.random.RandomState(4)
    base = rng.randn(60, 5)
    df = _df(spark, base)
    model = pca_fit(df, k=2)
    got = {
        r.vec_id: np.array(r.pca)
        for r in pca_project(df, model).collect()
    }
    x = np.asarray(base, dtype=np.float32).astype(np.float64)
    want = (x - np.array(model.mean)) @ np.array(model.components).T
    for i in range(60):
        np.testing.assert_allclose(got[i], want[i], rtol=0, atol=1e-9)


def test_pca_project_zero_shuffle(spark):
    df = _df(spark, np.eye(4) * 2.0 + 1.0)
    model = pca_fit(df, k=2)
    plan = (
        pca_project(df, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan


def test_scatter_aggregate_shape_and_values(spark, monkeypatch):
    """The in-row fit's exchange carries only moment keys (d(d+1)/2
    triangle slots + d sums) with map-side partial combine; values are
    exact sums of products."""
    base = _df(spark, [[1.0, 2.0], [3.0, 4.0]])
    frame_cls = type(base)
    plans = []
    collect = frame_cls.collect

    def spy(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(frame_cls, "collect", spy)
    got = _moments_inrow(base, "embedding")
    # triangle order (0,0), (0,1), (1,1), then the coordinate sums
    assert got == [
        (1.0 + 9.0, 2), (2.0 + 12.0, 2), (4.0 + 16.0, 2), (4.0, 2), (6.0, 2)
    ]
    (plan,) = plans
    final = plan.split("== Initial Plan ==")[0]
    assert "partial_sum" in final
    # one hash exchange for the aggregation, one range exchange for the
    # ordered collect — nothing corpus-shaped
    assert final.count("Exchange hashpartitioning") == 1, final[:1500]
    assert final.count("ShuffleQueryStage") == 2, final[:1500]


def test_pca_fit_validation(spark):
    with pytest.raises(ValueError, match="k must"):
        pca_fit(_df(spark, np.eye(3)), k=0)
    with pytest.raises(ValueError, match="at least 2"):
        pca_fit(_df(spark, [[1.0, 2.0]]))
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no embeddings"):
        pca_fit(empty)


def test_pca_fit_rejects_mixed_dimensions(spark, monkeypatch):
    """Per-row size() drives the triangle indexing, so mixed vector
    lengths would silently collide scatter slots — refuse loudly, on
    both paths (the threshold is lowered to force the gram path)."""
    from vlm_data_pipeline_spark.operators import decomposition as dc

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, [4.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="inconsistent"):
        pca_fit(df)
    monkeypatch.setattr(dc, "GRAM_PATH_MIN_D", 2)
    with pytest.raises(ValueError, match="inconsistent"):
        pca_fit(df)


def test_pca_gram_path_equals_inrow(spark, monkeypatch):
    """Path-equality pin: the Arrow partial-Gram fit must agree with the
    interpreted in-row fit. NOT bit-exact by design — BLAS accumulates in
    a different order than Spark's per-slot double sums — so the pin is a
    documented tolerance: covariance-level quantities to rtol 1e-9,
    eigenvectors to atol 1e-7 (well below any downstream quantization).
    Each path is forced through the GRAM_PATH_MIN_D threshold."""
    from vlm_data_pipeline_spark.operators import decomposition as dc

    rng = np.random.RandomState(7)
    base = rng.randn(300, 24) @ np.diag(np.linspace(4.0, 0.1, 24))
    df = _df(spark, base).repartition(8)  # multiple tasks -> real merge
    monkeypatch.setattr(dc, "GRAM_PATH_MIN_D", 25)
    m_in = pca_fit(df, k=5)
    monkeypatch.setattr(dc, "GRAM_PATH_MIN_D", 24)
    m_gr = pca_fit(df, k=5)
    assert m_in.n == m_gr.n == 300
    np.testing.assert_allclose(m_gr.mean, m_in.mean, rtol=0, atol=1e-10)
    np.testing.assert_allclose(
        m_gr.explained_variance, m_in.explained_variance, rtol=1e-9
    )
    np.testing.assert_allclose(
        m_gr.components, m_in.components, rtol=0, atol=1e-7
    )


def test_pca_auto_method_switches_on_dimension(spark, monkeypatch):
    """pca_fit picks gram at d >= GRAM_PATH_MIN_D (probe one row) and
    inrow below; both produce a working model."""
    from vlm_data_pipeline_spark.operators import decomposition as dc

    rng = np.random.RandomState(9)
    small = _df(spark, rng.randn(40, 4))
    # threshold lowered so the probe flips to gram on d=4
    monkeypatch.setattr(dc, "GRAM_PATH_MIN_D", 4)
    m_gram = dc.pca_fit(small, k=2)  # probe -> gram
    monkeypatch.setattr(dc, "GRAM_PATH_MIN_D", 128)
    m_inrow = dc.pca_fit(small, k=2)  # probe -> inrow
    np.testing.assert_allclose(
        m_gram.components, m_inrow.components, rtol=0, atol=1e-7
    )


def test_pca_gram_path_scales_to_production_dims(spark):
    """The reason the gram path exists: d=256 over 5k vectors (1.6M
    interpreted products per row on the in-row path) fits in seconds
    via per-batch BLAS. Validates against numpy on the same matrix;
    the d=768/100K wall-clock demonstration lives in SURVEY §7.4-r7
    (too heavy for CI)."""
    rng = np.random.RandomState(11)
    base = rng.randn(5000, 256).astype(np.float32).astype(np.float64)
    df = _df(spark, base).repartition(16)
    model = pca_fit(df, k=3)  # probe -> gram at d=256
    mean, comps, vals = _numpy_pca(base, 3)
    np.testing.assert_allclose(model.mean, mean, rtol=0, atol=1e-8)
    np.testing.assert_allclose(model.explained_variance, vals, rtol=1e-8)
    np.testing.assert_allclose(np.abs(model.components), np.abs(comps),
                               rtol=0, atol=1e-6)
