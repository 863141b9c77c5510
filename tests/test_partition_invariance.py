"""Partition-layout invariance: the property that makes local[32] results
trustworthy for a 1000-executor cluster. Each operator below runs over the
same data at two very different partitionings and must emit IDENTICAL
rows — any divergence means a kernel's per-partition cut or a float
summation order leaks into results (the class of bug rounded-dist/id
tie-breaks and decimal-exact aggregation exist to prevent)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def emb(spark, sf_correctness):
    return spark.read.parquet(f"{sf_correctness}/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark, sf_correctness):
    return spark.read.parquet(f"{sf_correctness}/documents.parquet")


def test_bq_search_partition_invariant(spark, emb):
    from vector_db_spark.operators.binquant import bq_search

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = bq_search(emb.repartition(1), queries, 5, dim=64)
    b = bq_search(emb.repartition(13), queries, 5, dim=64)
    assert _rows(a) == _rows(b)


def test_knn_batch_kernel_partition_invariant(spark, emb):
    from vector_db_spark.operators.knn import knn_self

    a = knn_self(emb.repartition(1), 10, n_queries=5, impl="batch")
    b = knn_self(emb.repartition(13), 10, n_queries=5, impl="batch")
    assert _rows(a) == _rows(b)


def test_mmr_partition_invariant(spark, emb):
    from vector_db_spark.operators.knn import knn_join
    from vector_db_spark.operators.rerank import mmr_rerank

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = knn_join(queries, emb, 15, metric="cosine", impl="batch")
    cands = hits.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id"
    ).select(
        "query_id", "neighbor_id", (F.lit(1.0) - F.col("dist")).alias("rel"), "embedding"
    )
    a = mmr_rerank(cands.repartition(1), 5, lam=0.7)
    b = mmr_rerank(cands.repartition(13), 5, lam=0.7)
    assert _rows(a) == _rows(b)


def test_minhash_partition_invariant(spark, docs):
    from vector_db_spark.operators.dedup import minhash_wide, shingle_table

    sh1 = shingle_table(docs.repartition(1))
    sh2 = shingle_table(docs.repartition(13))
    a = minhash_wide(sh1)
    b = minhash_wide(sh2)
    assert sorted((r.doc_id, tuple(r.sig)) for r in a.collect()) == sorted(
        (r.doc_id, tuple(r.sig)) for r in b.collect()
    )


def test_centroid_stats_partition_invariant(spark, emb):
    """Decimal sufficient statistics are summation-order-independent, so
    derived centroids must be bit-identical under any partitioning."""
    from vector_db_spark.operators.centroid_stats import (
        centroid_stats,
        centroids_from_stats,
    )

    base = emb.select(F.col("label").alias("cluster_id"), "embedding")
    a = centroids_from_stats(centroid_stats(base.repartition(1)))
    b = centroids_from_stats(centroid_stats(base.repartition(17)))
    assert _rows(a) == _rows(b)
