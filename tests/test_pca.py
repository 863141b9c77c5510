"""Distributed PCA (operators/pca.py): exact agreement with a single-node
numpy PCA on the same rows, transform fidelity, and partition-layout
invariance of the fit (moments are order-independent up to float jitter)."""

from __future__ import annotations

import numpy as np
import pytest

from vector_db_spark.operators.pca import fit_pca


def _data(n=300, d=16, seed=7):
    rng = np.random.default_rng(seed)
    # anisotropic: a few dominant directions so the spectrum is non-degenerate
    scales = np.linspace(3.0, 0.1, d)
    return (rng.normal(size=(n, d)) * scales).astype(np.float32)


def _df(spark, X):
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )


def _numpy_pca(X, m):
    Xd = X.astype(np.float64)
    mean = Xd.mean(axis=0)
    cov = (Xd - mean).T @ (Xd - mean) / len(Xd)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:m]
    comps = evecs[:, order].T
    flips = np.sign(comps[np.arange(m), np.abs(comps).argmax(axis=1)])
    return mean, comps * flips[:, None], evals[order], float(np.trace(cov))


def test_fit_matches_numpy_exactly(spark):
    X = _data()
    model = fit_pca(_df(spark, X), m=5)
    mean, comps, evals, tot = _numpy_pca(X, 5)
    np.testing.assert_allclose(model.mean, mean, rtol=0, atol=1e-9)
    np.testing.assert_allclose(model.explained_var, evals, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(model.components, comps, rtol=0, atol=1e-7)
    assert abs(model.total_var - tot) < 1e-9


def test_transform_projects_onto_axes(spark):
    X = _data(n=100)
    df = _df(spark, X)
    model = fit_pca(df, m=4)
    got = {r["vec_id"]: np.array(r["reduced"]) for r in
           model.transform(df).collect()}
    want = (X.astype(np.float64) - model.mean) @ model.components.T
    for i in range(len(X)):
        np.testing.assert_allclose(got[i], want[i], rtol=1e-5, atol=1e-5)


def test_fit_is_partition_invariant(spark):
    X = _data(n=257)
    a = fit_pca(_df(spark, X).repartition(1), m=3)
    b = fit_pca(_df(spark, X).repartition(13), m=3)
    np.testing.assert_allclose(a.components, b.components, atol=1e-8)
    np.testing.assert_allclose(a.explained_var, b.explained_var, rtol=1e-9)


def test_explained_variance_floor_invariant(spark):
    X = _data()
    m = 5
    model = fit_pca(_df(spark, X), m=m)
    assert model.explained_var.sum() / model.total_var >= m / X.shape[1]
    assert np.all(np.diff(model.explained_var) <= 1e-12)  # descending


def test_bad_inputs_raise(spark):
    X = _data(n=20, d=4)
    with pytest.raises(ValueError, match="out of range"):
        fit_pca(_df(spark, X), m=5)
    empty = _df(spark, X).filter("vec_id < 0")
    with pytest.raises(ValueError, match="empty"):
        fit_pca(empty, m=2)


def test_standardize_moments_and_partition_exactness(spark):
    from pyspark.sql import functions as F

    from vector_db_spark.operators.pca import standardize_embeddings

    X = _data(n=200, d=6)
    df = _df(spark, X)
    z = standardize_embeddings(df).cache()
    mom = (
        z.groupBy("dim_idx")
        .agg(F.avg("z").alias("mu"), F.stddev_pop("z").alias("sd"))
        .collect()
    )
    for r in mom:
        assert abs(r["mu"]) < 1e-4 and abs(r["sd"] - 1.0) < 1e-4
    # exact (not approximate) partition invariance: integer-exact stats
    a = {(r["vec_id"], r["dim_idx"]): r["z"] for r in z.collect()}
    b = {
        (r["vec_id"], r["dim_idx"]): r["z"]
        for r in standardize_embeddings(df.repartition(13)).collect()
    }
    assert a == b
    z.unpersist()


def test_standardize_zero_variance_dim(spark):
    from vector_db_spark.operators.pca import standardize_embeddings

    rows = [(i, [1.5, float(i)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = standardize_embeddings(df).collect()
    assert all(r["z"] == 0.0 for r in got if r["dim_idx"] == 0)
    assert any(r["z"] != 0.0 for r in got if r["dim_idx"] == 1)


# --- JL random projection ----------------------------------------------------


def test_random_projection_deterministic_across_layouts(spark):
    from vector_db_spark.operators.pca import random_projection

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(24)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    a = {r.vec_id: r.reduced for r in random_projection(df.coalesce(1), out_dim=8).collect()}
    b = {r.vec_id: r.reduced for r in random_projection(df.repartition(16), out_dim=8).collect()}
    assert a == b  # R is a pure function of (seed, dims): layout-invariant
    c = {r.vec_id: r.reduced for r in random_projection(df, out_dim=8, seed=7).collect()}
    assert a[0] != c[0]  # seed actually matters


def test_random_projection_matches_numpy(spark):
    import numpy as np

    from vector_db_spark.operators.pca import random_projection

    vecs = [[float((i * 3 + j) % 11) for j in range(12)] for i in range(50)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {r.vec_id: np.array(r.reduced) for r in random_projection(df, out_dim=4, seed=42).collect()}
    rng = np.random.default_rng(42)
    R = rng.standard_normal((12, 4)) / np.sqrt(4)
    want = np.array(vecs) @ R
    for i in range(50):
        assert np.allclose(got[i], want[i], atol=1e-5)


def test_random_projection_distance_preservation(spark):
    import numpy as np

    from vector_db_spark.operators.pca import random_projection

    rng = np.random.default_rng(0)
    X = rng.standard_normal((100, 64))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    Y = np.array(
        [r.reduced for r in random_projection(df, out_dim=32).orderBy("vec_id").collect()]
    )
    d_orig = np.sum((X[:50] - X[50:]) ** 2, axis=1)
    d_proj = np.sum((Y[:50].astype(np.float64) - Y[50:].astype(np.float64)) ** 2, axis=1)
    distortion = np.abs(d_proj / d_orig - 1.0)
    assert distortion.mean() <= 0.3  # std per pair ~ sqrt(2/32)=0.25
