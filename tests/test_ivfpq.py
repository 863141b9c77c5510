"""IVFPQ (IVFADC) tests — composition of the reference's IVF and PQ
components (reference test surfaces: tests/indexing/test_ivf.py:17-364,
tests/inference/test_pq.py:11-176): conservation, self-match, recall vs
brute force with exact re-rank, ADC-only path, persistence."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table, write_clustered
from vector_db_spark.operators.ivfpq import IVFPQIndex
from vector_db_spark.operators.knn import knn_join

K_COARSE = 10


@pytest.fixture(scope="module")
def index(spark, sf_smoke, tmp_path_factory):
    emb = load_table(spark, sf_smoke, "embeddings")
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    # the fixture embeddings are near-random (PQ's hard case: no subspace
    # structure to exploit) so the codebook budget is sized up: 16 chunks
    # of 6-bit codes. Real embedding corpora cluster far better.
    return IVFPQIndex.build(
        spark, emb, path, k_coarse=K_COARSE, n_chunks=16, k_codes=64
    )


def _queries(spark, sf_smoke, n):
    emb = load_table(spark, sf_smoke, "embeddings")
    return emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < n)


def test_codes_conservation(spark, sf_smoke, index):
    """Every corpus vector gets exactly one code word; codes and raw corpus
    agree on the partitioning (reference invariant test_ivf.py:44)."""
    total = load_table(spark, sf_smoke, "embeddings").count()
    assert index.codes().count() == total
    assert index.ivf.corpus().count() == total
    code_parts = {r.cluster_id for r in index.codes().select("cluster_id").distinct().collect()}
    corpus_parts = {r.cluster_id for r in index.ivf.corpus().select("cluster_id").distinct().collect()}
    assert code_parts == corpus_parts
    assert len(code_parts) <= K_COARSE


def test_code_shape(index):
    """m codes per vector, each in [0, k_codes)."""
    row = index.codes().first()
    assert len(row.codes) == 16
    assert all(0 <= c < 64 for c in row.codes)


def test_self_match_reranked(spark, sf_smoke, index):
    """With exact re-rank, a member vector finds itself at distance ~0 even
    probing only its own cluster (reference test_ivf.py:117-125)."""
    res = index.search(_queries(spark, sf_smoke, 5), k=1, n_probe=1, refine=4).collect()
    assert len(res) == 5
    for r in res:
        assert r.query_id == r.neighbor_id
        assert r.dist < 1e-6


def test_recall_vs_bruteforce(spark, sf_smoke, index):
    """recall@5 ≥ 0.7 on ≥ 80% of 10 queries, probing half the clusters —
    the BASELINE.md floor (stricter of the reference's two ANN thresholds).
    Residual PQ + refine=8 exact re-rank is the quality mechanism."""
    qs = _queries(spark, sf_smoke, 10)
    exact = knn_join(qs, load_table(spark, sf_smoke, "embeddings"), 5)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = index.search(qs, k=5, n_probe=5, refine=8)
    got: dict[int, set] = {}
    for r in approx.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(
        1 for q in truth if len(truth[q] & got.get(q, set())) / len(truth[q]) >= 0.7
    )
    assert hits >= 8, f"only {hits}/10 queries reached recall 0.7"


def test_adc_only_path(spark, sf_smoke, index):
    """refine=None returns pure ADC distances — k rows per query, and the
    approximate self-match still ranks the query itself on top."""
    res = index.search(_queries(spark, sf_smoke, 5), k=3, n_probe=5, refine=None)
    rows = res.collect()
    assert len(rows) == 15
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    top1 = {q: min(rs, key=lambda r: (r.dist, r.neighbor_id)) for q, rs in by_q.items()}
    self_hits = sum(1 for q, r in top1.items() if r.neighbor_id == q)
    assert self_hits >= 4  # ADC is approximate; allow one quantization miss


@pytest.mark.parametrize("refine", [4, None])
def test_search_unhinted_probe_join_matches_default(
    spark, sf_smoke, index, force_large, refine
):
    """IVF-PQ search over the probe join's un-hinted large branch returns
    the default (driver-probed) route's rows."""
    qs = _queries(spark, sf_smoke, 6)
    want = sorted(map(tuple, index.search(qs, k=5, n_probe=3, refine=refine).collect()))
    with force_large("ivf.probe"):
        got = index.search(qs, k=5, n_probe=3, refine=refine)
    assert sorted(map(tuple, got.collect())) == want and len(want) == 30


def test_adc_ties_cut_by_id_on_every_layout(spark, tmp_path, force_large):
    """Vectors stored twice under distinct ids get identical codes, so
    exactly equal ADC distances. A batch's cut must keep the lower id of a
    boundary-tied pair (the global (dist, id) top-k cannot bring back a
    row a batch dropped), so the ADC result is the same at 1 and at 8
    shuffle partitions and on the SQL probe join."""
    twin = 1000
    base = np.random.default_rng(3).normal(size=(80, 16)).astype(np.float32)
    rows = [(i + off, v.tolist()) for off in (0, twin) for i, v in enumerate(base)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index = IVFPQIndex.build(
        spark, emb, str(tmp_path / "twins"), k_coarse=4, n_chunks=4, k_codes=8
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(12, dtype=np.int64), "query_vec": list(base[:12])}),
        "query_id long, query_vec array<float>",
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")

    def run(partitions):
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        try:
            res = index.search(queries, k=3, n_probe=2, refine=None).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        return sorted(map(tuple, res))

    want = run(1)
    assert len(want) == 36
    # top-3 of tied pairs: the third row is the lower id of its pair
    for q in range(12):
        ids = [r[1] for r in sorted((r for r in want if r[0] == q), key=lambda r: (r[2], r[1]))]
        assert ids[2] < twin, (q, ids)
    assert run(8) == want
    with force_large("ivf.probe"):
        assert run(1) == want
        assert run(8) == want


def test_adc_cut_breaks_rounding_ties_by_id(spark, tmp_path, force_large):
    """Two code words 1e-8 apart give ADC distances that round to the same
    value, so the k-NN order puts the lower id first. The higher id sits
    on the nearer word: a cut by unrounded distance would keep it."""
    index = IVFPQIndex(spark, str(tmp_path / "hand"))
    write_clustered(
        spark.createDataFrame([(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0)], index.ivf.corpus_schema),
        index.ivf.corpus_path,
    )
    write_clustered(
        spark.createDataFrame([(1, [1], 0), (2, [0], 0)], index.codes_schema),
        index.codes_path,
    )
    index.ivf.write_centroids([[0.0, 0.0]])
    index.pq.write_codebooks(np.array([[[1.0, 0.0], [1.0 + 1e-8, 0.0]]]))  # (m, k, sub)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "query_vec": [[0.0, 0.0]]}),
        "query_id long, query_vec array<float>",
    )

    def top():
        return [tuple(r) for r in index.search(queries, k=1, n_probe=1, refine=None).collect()]

    assert top() == [(0, 1, 1.0, 1)]
    with force_large("ivf.probe"):
        assert top() == [(0, 1, 1.0, 1)]


def test_persistence_reopen(spark, sf_smoke, index):
    """Index state is plain Parquet — a new handle on the same path serves
    searches (reference pickle round-trip, ivf.py:217-241)."""
    reopened = IVFPQIndex(spark, index.path)
    res = reopened.search(_queries(spark, sf_smoke, 3), k=1, n_probe=1).collect()
    assert len(res) == 3


def test_index_readers_start_no_spark_job(spark, sf_smoke, index, tmp_path, jobs_of):
    """Data tables open with the schema their writer fixed and model
    tables are read on the driver, so no index reader starts a Spark job."""
    from vector_db_spark.operators.opq import OPQModel

    emb = load_table(spark, sf_smoke, "embeddings").filter(F.col("vec_id") < 200)
    opq = OPQModel.train(spark, emb, str(tmp_path / "opq"), n_chunks=8, k=4)
    # the probe sees the footer job a schema-inferring read starts
    _, control = jobs_of("index-read-inferred", lambda: spark.read.parquet(index.codes_path))
    assert control
    readers = {
        "centroids": index.ivf.centroids,
        "corpus": index.ivf.corpus,
        "codes": index.codes,
        "centroid_matrix": index.ivf.centroid_matrix,
        "codebook_tensor": index.pq.codebook_tensor,
        "rotation": opq.rotation,
    }
    for name, read in readers.items():
        _, jobs = jobs_of(f"index-read-{name}", read)
        assert jobs == [], name
