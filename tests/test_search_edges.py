"""Edge cases every k-NN search entry point must handle the same way: an
empty query table, k larger than the corpus, and an unknown metric."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.ivf import IVFIndex
from vector_db_spark.operators.ivfpq import IVFPQIndex
from vector_db_spark.operators.knn import knn_join

N_CORPUS = 30
N_CLUSTERS = 3


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke):
    return load_table(spark, sf_smoke, "embeddings").filter(F.col("vec_id") < N_CORPUS)


@pytest.fixture(scope="module")
def searchers(spark, corpus, tmp_path_factory):
    """name → (search(queries, k, **kw), accepts a metric)."""
    base = tmp_path_factory.mktemp("edges")
    ivf = IVFIndex.build(spark, corpus, N_CLUSTERS, str(base / "ivf"))
    ivfpq = IVFPQIndex.build(
        spark, corpus, str(base / "ivfpq"), k_coarse=N_CLUSTERS, n_chunks=8, k_codes=4
    )
    return {
        "knn_join": (lambda q, k, **kw: knn_join(q, corpus, k, impl="batch", **kw), True),
        "ivf": (lambda q, k, **kw: ivf.search(q, k, n_probe=N_CLUSTERS, **kw), True),
        "ivfpq_refine": (
            lambda q, k: ivfpq.search(q, k, n_probe=N_CLUSTERS, refine=4), False
        ),
        "ivfpq_adc": (
            lambda q, k: ivfpq.search(q, k, n_probe=N_CLUSTERS, refine=None), False
        ),
    }


@pytest.mark.parametrize("name", ["knn_join", "ivf", "ivfpq_refine", "ivfpq_adc"])
def test_search_edge_cases(spark, corpus, searchers, name):
    search, takes_metric = searchers[name]
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    assert search(queries.limit(0), 5).count() == 0

    rows = search(queries, N_CORPUS + 10).collect()
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
