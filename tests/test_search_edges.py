"""Every k-NN search entry point keeps the one result contract
(``operators/topk.py``): columns exactly ``(query_id, neighbor_id, dist,
rank)`` with ``dist`` rounded to 6 places, on an empty query table, on k
larger than the corpus, and rejecting an unknown metric the same way."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.binquant import bq_search
from vector_db_spark.operators.ivf import IVFIndex
from vector_db_spark.operators.ivfpq import IVFPQIndex
from vector_db_spark.operators.knn import knn_join
from vector_db_spark.operators.opq import OPQModel
from vector_db_spark.operators.pq import PQModel
from vector_db_spark.operators.similarity import lsh_search

N_CORPUS = 30
N_CLUSTERS = 3
SEARCHES = ["knn_join", "ivf", "ivfpq_refine", "ivfpq_adc", "pq_adc", "opq_adc", "bq", "lsh"]


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke):
    return load_table(spark, sf_smoke, "embeddings").filter(F.col("vec_id") < N_CORPUS)


@pytest.fixture(scope="module")
def searchers(spark, corpus, tmp_path_factory):
    """name → (search(queries, k, **kw), accepts a metric, returns every
    row for k past the corpus size)."""
    base = tmp_path_factory.mktemp("edges")
    ivf = IVFIndex.build(spark, corpus, N_CLUSTERS, str(base / "ivf"))
    ivfpq = IVFPQIndex.build(
        spark, corpus, str(base / "ivfpq"), k_coarse=N_CLUSTERS, n_chunks=8, k_codes=4
    )
    pq = PQModel.train(spark, corpus, str(base / "pq"), n_chunks=8, k=4)
    pq_codes = pq.encode(corpus)
    opq = OPQModel.train(spark, corpus, str(base / "opq"), n_chunks=8, k=4)
    opq_codes = opq.encode(corpus)
    return {
        "knn_join": (lambda q, k, **kw: knn_join(q, corpus, k, impl="batch", **kw), True, True),
        "ivf": (lambda q, k, **kw: ivf.search(q, k, n_probe=N_CLUSTERS, **kw), True, True),
        "ivfpq_refine": (
            lambda q, k: ivfpq.search(q, k, n_probe=N_CLUSTERS, refine=4), False, True
        ),
        "ivfpq_adc": (
            lambda q, k: ivfpq.search(q, k, n_probe=N_CLUSTERS, refine=None), False, True
        ),
        "pq_adc": (lambda q, k: pq.adc_search(q, pq_codes, k), False, True),
        "opq_adc": (lambda q, k: opq.adc_search(q, opq_codes, k), False, True),
        "bq": (lambda q, k, **kw: bq_search(corpus, q, k, dim=64, **kw), True, True),
        # LSH returns bucket collisions only, never every row
        "lsh": (lambda q, k: lsh_search(q, corpus, k), False, False),
    }


def _checked(res):
    """``res``'s rows, after checking the k-NN result contract."""
    assert res.columns == ["query_id", "neighbor_id", "dist", "rank"]
    rows = res.collect()
    assert all(r.dist == round(r.dist, 6) for r in rows)
    return rows


@pytest.mark.parametrize("name", SEARCHES)
def test_search_edge_cases(spark, corpus, searchers, name):
    search, takes_metric, returns_all = searchers[name]
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    assert _checked(search(queries.limit(0), 5)) == []

    rows = _checked(search(queries, N_CORPUS + 10))
    assert rows
    if returns_all:
        per_query = {}
        for r in rows:
            per_query.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert per_query == {q: set(range(N_CORPUS)) for q in range(3)}
        assert len(rows) == 3 * N_CORPUS

    if takes_metric:
        with pytest.raises(ValueError, match="euclidean") as err:
            search(queries, 5, metric="manhattan")
        assert "unknown metric" in str(err.value)
        assert all(m in str(err.value) for m in ("cosine", "dot", "sqeuclidean"))
