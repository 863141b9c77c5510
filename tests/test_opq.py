"""OPQ (operators/opq.py): rotation lawfulness, persistence, and the
quality claim — rotated-space PQ must not lose (and should gain) ADC
accuracy vs plain PQ, because R is orthogonal (distance-preserving) and
the balanced allocation spreads variance across chunks."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.knn import knn_join
from vector_db_spark.operators.opq import OPQModel, balanced_dim_allocation
from vector_db_spark.operators.pq import PQModel


# --- allocation --------------------------------------------------------------


def test_allocation_is_permutation_and_balanced():
    lam = np.array([100.0, 50.0, 10.0, 5.0, 2.0, 1.0, 0.5, 0.1])
    perm = balanced_dim_allocation(lam, 2)
    assert sorted(perm.tolist()) == list(range(8))
    g0, g1 = np.log(lam[perm[:4]]).sum(), np.log(lam[perm[4:]]).sum()
    naive0, naive1 = np.log(lam[:4]).sum(), np.log(lam[4:]).sum()
    # greedy balance beats the contiguous split by construction
    assert abs(g0 - g1) < abs(naive0 - naive1)


def test_allocation_rejects_indivisible():
    with pytest.raises(ValueError):
        balanced_dim_allocation(np.ones(10), 3)


# --- model -------------------------------------------------------------------


@pytest.fixture(scope="module")
def opq(spark, sf_smoke, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("opq") / "model")
    emb = load_table(spark, sf_smoke, "embeddings")
    return OPQModel.train(spark, emb, path, n_chunks=8, k=16), emb, path


def test_rotation_is_orthogonal(opq):
    model, _, _ = opq
    R = model.rotation()
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-9)


def test_rotation_preserves_norms_and_distances(spark, opq):
    model, emb, _ = opq
    sample = emb.limit(20)
    orig = np.array([r.embedding for r in sample.collect()], dtype=np.float64)
    rot = np.array(
        [r.embedding for r in model.rotate(sample).collect()], dtype=np.float64
    )
    assert np.allclose(
        np.linalg.norm(orig, axis=1), np.linalg.norm(rot, axis=1), rtol=1e-4
    )
    d_orig = np.linalg.norm(orig[0] - orig[1])
    d_rot = np.linalg.norm(rot[0] - rot[1])
    assert d_rot == pytest.approx(d_orig, rel=1e-4)


def test_reopen_from_path(spark, opq):
    model, emb, path = opq
    reopened = OPQModel(spark, path)
    assert np.array_equal(reopened.rotation(), model.rotation())
    rows = pq.read_table(reopened.pq.codebooks_path).to_pylist()
    assert len(rows) == 8 * 16
    tensor = reopened.pq.codebook_tensor()
    for r in rows:
        assert np.array_equal(tensor[r["chunk_idx"], r["code"]], r["centroid"])


def _mean_recall(model, queries, emb, codes, k=10) -> float:
    exact = knn_join(queries, emb, k)
    approx = model.adc_search(queries, codes, k)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set] = {}
    for r in approx.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    rec = [len(truth[q] & got.get(q, set())) / k for q in truth]
    return sum(rec) / len(rec)


def test_opq_recall_not_worse_than_plain_pq(spark, sf_smoke, opq, tmp_path_factory):
    model, emb, _ = opq
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < 10)

    opq_rec = _mean_recall(model, queries, emb, model.encode(emb))

    pq_path = str(tmp_path_factory.mktemp("pq") / "plain")
    plain = PQModel.train(spark, emb, pq_path, n_chunks=8, k=16)
    pq_rec = _mean_recall(plain, queries, emb, plain.encode(emb))

    # same codebook budget; the rotation must at least hold the line
    # (generous slack — both are approximate), and meet PQ's own floor
    assert opq_rec >= pq_rec - 0.1, (opq_rec, pq_rec)
    assert opq_rec >= 0.3, opq_rec


def test_opq_quantization_distortion_not_worse(spark, sf_smoke, opq, tmp_path_factory):
    """Total squared reconstruction error in the ORIGINAL space (rotation
    is orthogonal, so rotated-space MSE == original-space MSE)."""
    model, emb, _ = opq
    sample = emb.limit(200)
    rot = model.rotate(sample)
    dec = model.pq.decode(model.pq.encode(rot))
    j = rot.join(dec, "vec_id").select("embedding", "decoded").collect()
    X = np.array([r.embedding for r in j], dtype=np.float64)
    Y = np.array([r.decoded for r in j], dtype=np.float64)
    opq_mse = float(((X - Y) ** 2).mean())

    pq_path = str(tmp_path_factory.mktemp("pq2") / "plain")
    plain = PQModel.train(spark, emb, pq_path, n_chunks=8, k=16)
    dec_p = plain.decode(plain.encode(sample))
    jp = sample.join(dec_p, "vec_id").select("embedding", "decoded").collect()
    Xp = np.array([r.embedding for r in jp], dtype=np.float64)
    Yp = np.array([r.decoded for r in jp], dtype=np.float64)
    pq_mse = float(((Xp - Yp) ** 2).mean())

    assert opq_mse <= pq_mse * 1.1, (opq_mse, pq_mse)
