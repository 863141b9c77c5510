"""Unit tests for the exact k-NN similarity join (SURVEY.md §5 styles 1-2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.knn import knn_join, knn_self


def _vec_df(spark, rows, id_col="vec_id", vec_col="embedding"):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        f"{id_col} long, {vec_col} array<float>",
    )


def test_self_match(spark):
    """An indexed vector's nearest neighbor is itself, distance < 1e-6
    (reference tests/indexing/test_ivf.py:117-125)."""
    rng = np.random.default_rng(42)
    rows = [(i, rng.random(16)) for i in range(50)]
    corpus = _vec_df(spark, rows)
    res = knn_self(corpus, 1, n_queries=10).collect()
    assert len(res) == 10
    for r in res:
        assert r.query_id == r.neighbor_id
        assert r.dist < 1e-6


def test_known_answer_basis_vectors(spark):
    """Unit basis vectors: distance between distinct bases is sqrt(2)."""
    dim = 4
    rows = [(i, np.eye(dim)[i]) for i in range(dim)]
    corpus = _vec_df(spark, rows)
    res = knn_self(corpus, 4, n_queries=1).collect()
    assert [r.neighbor_id for r in res][0] == 0
    assert res[0].dist == 0.0
    for r in res[1:]:
        assert abs(r.dist - np.sqrt(2)) < 1e-6


@pytest.mark.parametrize("metric", ["euclidean", "cosine", "dot"])
def test_batch_matches_sql_impl(spark, metric):
    """Both physical strategies produce the identical result set."""
    rng = np.random.default_rng(7)
    corpus = _vec_df(spark, [(i, rng.standard_normal(24)) for i in range(200)])
    queries = corpus.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < 5)
    a = knn_join(queries, corpus, 7, metric=metric, impl="batch")
    b = knn_join(queries, corpus, 7, metric=metric, impl="sql")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_vs_numpy_bruteforce(spark):
    """Exact oracle: numpy brute force over the same data (reference recall
    test pattern, test_ivf.py:127-167 — here recall must be 1.0)."""
    rng = np.random.default_rng(3)
    vecs = rng.random((100, 16))
    corpus = _vec_df(spark, list(enumerate(vecs)))
    res = knn_self(corpus, 5, n_queries=10)
    got = {}
    for r in res.collect():
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    for q in range(10):
        d = np.linalg.norm(vecs - vecs[q], axis=1)
        expect = list(np.lexsort((np.arange(len(d)), np.round(d, 6)))[:5])
        assert got[q] == expect, f"query {q}"


def test_filtered_knn_excludes_nonmatching(spark, sf_smoke):
    """F2 semantics: corpus pre-filter restricts the candidate set."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).limit(3)
    corpus = emb.filter(F.col("label") == 2)
    res = knn_join(queries, corpus, 5).join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    labels = {r.label for r in res.collect()}
    assert labels == {2}


def test_empty_filter_short_circuit(spark, sf_smoke):
    """Empty candidate set → zero rows (reference app.py:186-192)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).limit(2)
    corpus = emb.filter(F.col("label") == -1)
    assert knn_join(queries, corpus, 5).count() == 0


def test_batch_tiebreak_at_partition_boundary(spark):
    """Every corpus vector ties at the same rounded distance; the batch
    kernel's per-batch selection must keep the *lowest ids*, not arbitrary
    argpartition survivors, so batch == sql under any partition layout.
    Corpus ids are reversed across many partitions to maximize the chance
    an unrounded/unordered cut would surface a high id."""
    dim = 8
    n = 200
    # all one-hot vectors scaled identically: every pairwise distance equal
    rows = [(n - 1 - j, np.eye(dim)[j % dim]) for j in range(n)]
    corpus = _vec_df(spark, rows).repartition(16)
    queries = spark.createDataFrame(
        [(0, [0.0] * dim)], "query_id long, query_vec array<float>"
    )
    got_batch = knn_join(queries, corpus, 5, impl="batch").collect()
    got_sql = knn_join(queries, corpus, 5, impl="sql").collect()
    assert [r.neighbor_id for r in got_batch] == [0, 1, 2, 3, 4]
    assert [tuple(r) for r in got_batch] == [tuple(r) for r in got_sql]


def test_isotropy_identity_matches_brute_pairs(spark):
    """The no-pairs identity must equal the literal all-pairs mean dot."""
    import numpy as np

    from vector_db_spark.queries.vector import embedding_isotropy

    # run on the real fixture and cross-check with numpy brute force
    from vector_db_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    got = embedding_isotropy(spark, sf).collect()[0]
    X = np.array(
        [r["embedding"] for r in load_table(spark, sf, "embeddings").collect()],
        dtype=np.float64,
    )
    n = len(X)
    G = X @ X.T
    brute = (G.sum() - np.trace(G)) / (n * (n - 1))
    assert got["n_vectors"] == n
    assert abs(got["mean_pairwise_dot"] - round(float(brute), 4)) <= 1e-4
    assert abs(got["mean_norm_sq"] - round(float(np.trace(G) / n), 4)) <= 1e-4


def test_big_query_side_routes_to_join_path(spark, caplog):
    """A query table past the batch bound must NOT be collected: the
    plan is the distributed join (no Python map stage, no broadcast of
    the corpus-shaped side). Plan-pinned; never executed at this size."""
    rng = np.random.default_rng(11)
    corpus = _vec_df(spark, [(i, rng.standard_normal(8)) for i in range(50)])
    big_queries = (
        spark.range(100_000)
        .select(
            F.col("id").alias("query_id"),
            F.array(*[F.rand(seed=s) for s in range(8)]).alias("query_vec"),
        )
    )
    with caplog.at_level("DEBUG", logger="vector_db_spark.route"):
        res = knn_join(big_queries, corpus, 3, impl="batch")
    assert ("knn.queries", 10_001, 10_000, "large") in [r.args for r in caplog.records]
    plan = res._jdf.queryExecution().executedPlan().toString()
    # not collected: no Python scoring stage anywhere in the plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Join" in plan or "CartesianProduct" in plan
    # and no broadcast FORCED by the operator: ResolvedHint must be absent
    # from the logical plan (Catalyst may still choose broadcast from its
    # own size stats — that is its call, made with real statistics)
    logical = res._jdf.queryExecution().optimizedPlan().toString()
    assert "hints=" not in logical or "strategy=broadcast" not in logical


def test_batch_fallback_matches_batch_results(spark, force_large):
    """Forced onto the large branch, the fallback (join path, no broadcast
    hint) returns the identical result set as the collected-batch path."""
    rng = np.random.default_rng(13)
    corpus = _vec_df(spark, [(i, rng.standard_normal(12)) for i in range(120)])
    queries = corpus.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < 8)
    fast = knn_join(queries, corpus, 5, impl="batch")
    with force_large("knn.queries"):
        routed = knn_join(queries, corpus, 5, impl="batch")
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, routed.collect()))
