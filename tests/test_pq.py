"""PQ tests — the reference's surface (tests/inference/test_pq.py:11-176:
shapes, validation, encode) plus ADC search quality."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.knn import knn_join
from vector_db_spark.operators.pq import PQModel


@pytest.fixture(scope="module")
def model(spark, sf_smoke, tmp_path_factory):
    emb = load_table(spark, sf_smoke, "embeddings")
    path = str(tmp_path_factory.mktemp("pq"))
    return PQModel.train(spark, emb, path, n_chunks=8, k=16)


def _codebook_rows(model) -> list[dict]:
    """The codebook file's rows, read with pyarrow; each one must sit at
    its (chunk_idx, code) in ``codebook_tensor()``."""
    rows = pq.read_table(model.codebooks_path).to_pylist()
    tensor = model.codebook_tensor()
    for r in rows:
        assert np.array_equal(tensor[r["chunk_idx"], r["code"]], r["centroid"])
    return rows


def test_dim_not_divisible_raises(spark, tmp_path):
    """Reference pq.py:39-46 validation."""
    df = spark.createDataFrame(
        [(1, [0.1] * 10)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        PQModel.train(spark, df, str(tmp_path), n_chunks=3, k=2)


def test_codebook_shape(model):
    """m chunks × k codes, centroids of subspace dim (pq.py:98-100)."""
    rows = _codebook_rows(model)
    assert len(rows) == 8 * 16
    assert all(len(r["centroid"]) == 8 for r in rows)
    assert model.codebook_tensor().shape == (8, 16, 8)


def test_encode_shape_and_range(spark, sf_smoke, model):
    """codes: one int per chunk, each in [0, k) (pq.py:82-89)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    codes = model.encode(emb).collect()
    assert len(codes) == emb.count()
    for r in codes[:50]:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)


def test_encode_centroid_roundtrip(spark, model):
    """A vector equal to chunk-centroids must encode to those codes."""
    cb = {(r["chunk_idx"], r["code"]): r["centroid"] for r in _codebook_rows(model)}
    target = [c for ch in range(8) for c in cb[(ch, 5)]]
    df = spark.createDataFrame(
        [(7, [float(x) for x in target])], "vec_id long, embedding array<float>"
    )
    codes = model.encode(df).collect()[0].codes
    assert codes == [5] * 8


def test_decode_reconstruction_quality(spark, sf_smoke, model):
    """Quantized reconstruction is much closer to the original than an
    unrelated corpus vector is (lossy but information-preserving)."""
    emb = load_table(spark, sf_smoke, "embeddings").limit(50)
    decoded = model.decode(model.encode(emb))
    joined = (
        emb.join(decoded, "vec_id")
        .select("vec_id", "embedding", "decoded")
        .collect()
    )
    orig = np.array([r.embedding for r in joined])
    recon = np.array([r.decoded for r in joined])
    mse_recon = float(((orig - recon) ** 2).mean())
    mse_shuffled = float(((orig - np.roll(orig, 1, axis=0)) ** 2).mean())
    assert mse_recon < 0.5 * mse_shuffled, (mse_recon, mse_shuffled)


def test_adc_recall_vs_exact(spark, sf_smoke, model):
    """ADC top-10 must substantially overlap exact top-10."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < 10)
    exact = knn_join(queries, emb, 10)
    approx = model.adc_search(queries, model.encode(emb), 10)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set] = {}
    for r in approx.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / 10 for q in truth]
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_adc_big_query_side_routes_to_join_path(spark, sf_smoke, model, caplog):
    """A query table past the batch bound is never collected: the ADC
    falls back to the distributed LUT-join (the only Python stage is the
    per-QUERY-row LUT UDF; the corpus scan gathers JVM-side)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    codes = model.encode(emb)
    big_queries = spark.range(100_000).select(
        F.col("id").alias("query_id"),
        F.array(*[F.rand(seed=s) for s in range(64)]).alias("query_vec"),
    )
    with caplog.at_level("DEBUG", logger="vector_db_spark.route"):
        res = model.adc_search(big_queries, codes, 3)
    assert ("pq.queries", 10_001, 10_000, "large") in [r.args for r in caplog.records]
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the collected-LUT kernel ("score") must be absent; the only Python
    # stages are the upstream encoder and the per-query-row LUT UDF
    assert "score(" not in plan
    assert "lut_flat" in plan
    assert "Join" in plan or "CartesianProduct" in plan


def test_adc_join_fallback_matches_batch_results(spark, sf_smoke, model, force_large):
    """Forced onto the large branch, the distributed LUT-join returns the
    exact same (query, neighbor, dist, rank) rows as the collected fast
    path."""
    emb = load_table(spark, sf_smoke, "embeddings")
    codes = model.encode(emb)
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < 6)
    fast = model.adc_search(queries, codes, 5)
    with force_large("pq.queries"):
        routed = model.adc_search(queries, codes, 5)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, routed.collect()))
