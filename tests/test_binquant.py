"""Binary quantization: packing vs numpy reference, Hamming exactness,
padding for dims not divisible by the word size, and recall sanity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_db_spark.operators.binquant import (
    WORD_BITS,
    bq_encode,
    bq_search,
    hamming_expr,
)
from vector_db_spark.operators.knn import knn_join


def _emb_df(spark, mat):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )


def _ref_words(row, threshold=0.0):
    bits = (np.asarray(row, dtype=np.float64) > threshold).astype(np.int64)
    pad = (-len(bits)) % WORD_BITS
    bits = np.concatenate([bits, np.zeros(pad, dtype=np.int64)])
    words = []
    for w in range(len(bits) // WORD_BITS):
        acc = 0
        for b in bits[w * WORD_BITS : (w + 1) * WORD_BITS]:
            acc = acc * 2 + int(b)
        words.append(acc)
    return words


@pytest.mark.parametrize("dim", [64, 40])  # exact multiple and padded tail
def test_packing_matches_reference(spark, dim):
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((20, dim)).astype(np.float32)
    df = _emb_df(spark, mat)
    got = {r.vec_id: r.words for r in bq_encode(df, dim=dim).collect()}
    for i, row in enumerate(mat):
        assert list(got[i]) == _ref_words(row)


def test_hamming_equals_unpacked_disagreement(spark):
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((30, 64)).astype(np.float32)
    df = _emb_df(spark, mat)
    codes = bq_encode(df, dim=64)
    a = codes.alias("a")
    b = codes.alias("b")
    pairs = (
        a.crossJoin(b)
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            hamming_expr(F.col("a.words"), F.col("b.words")).alias("h"),
        )
        .collect()
    )
    bits = (mat > 0.0).astype(np.int64)
    for r in pairs:
        assert r.h == int((bits[r.ia] != bits[r.ib]).sum())


def test_self_hamming_zero_and_search_self_hit(spark):
    rng = np.random.default_rng(3)
    mat = rng.standard_normal((100, 64)).astype(np.float32)
    df = _emb_df(spark, mat)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # a k-NN result carries no Hamming distance: each hit's comes from the
    # codes of its two vectors (the queries are corpus rows)
    words = bq_encode(df, dim=64)
    out = (
        bq_search(df, queries, 5, dim=64, refine=4)
        .join(words.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(words.select(F.col("vec_id").alias("query_id"), F.col("words").alias("qw")), "query_id")
        .withColumn("hamming", hamming_expr("words", "qw"))
        .collect()
    )
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 5
        top = min(rows, key=lambda r: r.rank)
        assert top.neighbor_id == q and top.hamming == 0 and top.dist == 0.0


def test_bq_recall_floor_vs_exact(spark, sf_correctness):
    """Sign-bit Hamming + exact re-rank on the fixture corpus: mean
    recall@10 over 10 queries clears a floor (ANN-grade, not exact)."""
    emb = spark.read.parquet(f"{sf_correctness}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = bq_search(emb, queries, 10, dim=64, refine=8)
    exact = knn_join(queries, emb, 10, impl="batch")
    a = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.5, recall


def test_bq_search_edge_cases(spark):
    rng = np.random.default_rng(1)
    mat = rng.standard_normal((6, 64)).astype(np.float32)
    df = _emb_df(spark, mat)
    empty_q = df.filter("vec_id < 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert bq_search(df, empty_q, 3, dim=64).count() == 0
    one_q = df.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # k > corpus: every corpus row returned, ranked
    rows = bq_search(df, one_q, 100, dim=64, refine=1).collect()
    assert len(rows) == 6 and sorted(r.rank for r in rows) == [1, 2, 3, 4, 5, 6]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="metric"):
        bq_search(df, one_q, 3, dim=64, metric="nope")
