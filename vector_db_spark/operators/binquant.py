"""Binary quantization: 1-bit-per-dimension sign codes + Hamming search.

North-star extension (the reference stores raw float32 vectors,
``/root/reference/src/vector_db/storage.py``; this is the FAISS
``IndexBinaryFlat`` / "binary quantization" analog popular for
billion-scale first-pass retrieval): threshold each dimension to one bit
(sign test — the identity-rotation SimHash, the right default for
centered/normalized embeddings), pack 32 bits per word, search by Hamming
distance = popcount(XOR), then re-rank a bounded candidate set exactly.

Scale posture:

- **encode** is a pure projection — threshold + pack are native
  expressions (``transform``/``aggregate``), no UDF, no shuffle; the
  at-rest codes are 32× smaller than float32, so the first-pass scan
  reads 1/32 the bytes.
- **search** first-pass is ``bit_count(a XOR b)`` over dim/32 ints per
  pair — whole-stage codegen, integer-only, ~2 instructions per word vs
  64 float ops; the per-query window sees only candidate rows.
- **re-rank** touches float vectors for exactly ``k·refine`` candidates
  per query (two broadcast joins) — the corpus float column is read for
  the candidate row-group subset only, never scanned wholesale.

All math is deterministic (strict ``>`` threshold, id tie-breaks), so a
SQL oracle reproduces the candidate set and the final ranking exactly —
the unpacked bit-disagreement count in SQL equals the packed
popcount-XOR by construction, which cross-checks the packing itself.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_db_spark import route
from vector_db_spark.functions.distance import METRICS
from vector_db_spark.operators.knn import _MAX_BATCH_QUERIES
from vector_db_spark.operators.topk import nearest_k, top_k_per_group

WORD_BITS = 32  # 32-bit words: overflow-free in every engine's BIGINT math


def binarize_expr(vec_col: Column | str, *, dim: int) -> Column:
    """float vector → ``array<bigint>`` of ceil(dim/32) packed sign words.

    Bit j of the vector maps into word ``j // 32`` MSB-first
    (``acc*2 + bit`` fold in 64-bit math — a 32-bit word never touches
    the accumulator's sign bit, so ANSI overflow checks stay happy in
    every engine), missing tail dims pad as 0 bits. Strict ``x > 0`` so
    the 0.0 boundary is unambiguous.
    """
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast("array<double>")
    n_words = math.ceil(dim / WORD_BITS)
    pad = n_words * WORD_BITS - dim
    bits = F.transform(v, lambda x: (x > 0.0).cast("bigint"))
    if pad:
        bits = F.concat(bits, F.array_repeat(F.lit(0).cast("bigint"), pad))
    # bits let-bound so the threshold pass runs once per row, not once per
    # packed word (the O(L²) trap documented at text.winnow_fingerprints)
    return F.element_at(
        F.transform(
            F.array(bits),
            lambda bb: F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda w: F.aggregate(
                    F.slice(bb, w * WORD_BITS + 1, WORD_BITS),
                    F.lit(0).cast("bigint"),
                    lambda acc, b: acc * 2 + b,
                ),
            ),
        ),
        1,
    )


def hamming_expr(a: Column | str, b: Column | str) -> Column:
    """popcount(XOR) summed over packed words — int-only, codegen-fused."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def bq_encode(df: DataFrame, *, dim: int) -> DataFrame:
    """(vec_id, words) — the 32×-compressed at-rest table of a
    (vec_id, embedding) corpus."""
    return df.select("vec_id", binarize_expr("embedding", dim=dim).alias("words"))


def bq_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    dim: int,
    refine: int = 4,
    metric: str = "euclidean",
) -> DataFrame:
    """Two-phase binary search over a (vec_id, embedding) corpus: Hamming
    top-``k*refine`` candidates over packed sign codes, then exact
    ``metric`` re-rank of the candidates, as the k-NN result contract
    (``operators/topk.py``; the same as
    :func:`~vector_db_spark.operators.knn.knn_join`). The first pass scans
    only the codes projection; float vectors are fetched for candidates
    via a broadcast semi-structure (candidate set is k·refine·n_queries
    rows — tiny by construction).

    The query side is broadcast-hinted while it is within
    ``knn._MAX_BATCH_QUERIES`` rows (route site ``bq.queries``); past
    that it joins un-hinted.
    """
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; choose from {sorted(METRICS)}")
    small = route.fits(queries, _MAX_BATCH_QUERIES, "bq.queries")
    hint = F.broadcast if small else (lambda d: d)
    qcodes = queries.select(
        "query_id", "query_vec", binarize_expr("query_vec", dim=dim).alias("__qw")
    )
    scored = bq_encode(corpus, dim=dim).crossJoin(hint(qcodes.select("query_id", "__qw"))).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        hamming_expr("words", "__qw").alias("hamming"),
    )
    cands = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("hamming").asc(), F.col("neighbor_id").asc()],
        k * refine,
    ).select("query_id", "neighbor_id")
    # exact re-rank: candidates ⋈ float vectors (broadcast the tiny side)
    exact = (
        corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .join(F.broadcast(cands), "neighbor_id")
        .join(hint(qcodes.select("query_id", "query_vec")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            METRICS[metric](F.col("query_vec"), F.col("embedding")).alias("dist"),
        )
    )
    return nearest_k(exact, k)
