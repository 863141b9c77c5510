"""Product-quantization queries (SURVEY.md §2.4 P1-P4 + ADC follow-on).

Deterministic variants use "init-by-points" codebooks — the chunk slices of
the first k corpus vectors (the reference's ``minit='points'`` seeding,
ivf.py:75 / pq.py:11, without Lloyd iterations) — making encode and ADC
search exactly reproducible in SQL. The real KMeans-trained path is
registered rows-only with quality tests in tests/test_pq.py.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_db_spark.functions.distance import euclidean
from vector_db_spark.io import load_table
from vector_db_spark.operators.knn import knn_join
from vector_db_spark.operators.pq import PQModel
from vector_db_spark.operators.topk import nearest_k
from vector_db_spark.queries import register

M_CHUNKS = 8
SUB = 8  # dim 64 / 8 chunks
K_CODES = 16
N_QUERIES = 10
TOP_K = 5

_CB_SQL = f"""
  SELECT vec_id::INTEGER AS code, chunk_idx::INTEGER AS chunk_idx,
         list_slice(embedding::DOUBLE[], chunk_idx*{SUB}+1, chunk_idx*{SUB}+{SUB}) AS cb_chunk
  FROM (SELECT vec_id, embedding, unnest(range(0, {M_CHUNKS})) AS chunk_idx
        FROM embeddings WHERE vec_id < {K_CODES})
"""

_CHUNKS_SQL = f"""
  SELECT vec_id, chunk_idx::INTEGER AS chunk_idx,
         list_slice(embedding::DOUBLE[], chunk_idx*{SUB}+1, chunk_idx*{SUB}+{SUB}) AS chunk
  FROM (SELECT vec_id, embedding, unnest(range(0, {M_CHUNKS})) AS chunk_idx
        FROM embeddings)
"""

_ENCODE_SQL = f"""
  SELECT vec_id, chunk_idx, code FROM (
    SELECT ch.vec_id, ch.chunk_idx, cb.code,
           row_number() OVER (
             PARTITION BY ch.vec_id, ch.chunk_idx
             ORDER BY round(list_distance(ch.chunk, cb.cb_chunk), 6), cb.code
           ) AS rn
    FROM ({_CHUNKS_SQL}) ch JOIN ({_CB_SQL}) cb ON ch.chunk_idx = cb.chunk_idx
  ) WHERE rn = 1
"""


def _chunks(spark: SparkSession, sf_dir: str, only_codebook: bool = False) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    if only_codebook:
        emb = emb.filter(F.col("vec_id") < K_CODES)
    return emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(M_CHUNKS - 1))).alias("chunk_idx"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).select(
        "vec_id",
        "chunk_idx",
        F.expr(f"slice(v, chunk_idx*{SUB}+1, {SUB})").alias("chunk"),
    )


def _encode_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P3: chunk slicing + per-chunk nearest-codeword argmin."""
    chunks = _chunks(spark, sf_dir)
    cb = _chunks(spark, sf_dir, only_codebook=True).select(
        F.col("vec_id").cast("int").alias("code"),
        "chunk_idx",
        F.col("chunk").alias("cb_chunk"),
    )
    scored = chunks.join(F.broadcast(cb), "chunk_idx").withColumn(
        "cdist", F.round(euclidean("chunk", "cb_chunk"), 6)
    )
    w = Window.partitionBy("vec_id", "chunk_idx").orderBy(
        F.col("cdist").asc(), F.col("code").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "chunk_idx", "code")
    )


@register("pq_encode_det", oracle=_ENCODE_SQL)
def pq_encode_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _encode_det(spark, sf_dir)


@register(
    "pq_adc_search_det",
    oracle=f"""
WITH cb AS ({_CB_SQL}),
codes AS ({_ENCODE_SQL}),
q AS (
  SELECT vec_id AS query_id, chunk_idx::INTEGER AS chunk_idx,
         list_slice(embedding::DOUBLE[], chunk_idx*{SUB}+1, chunk_idx*{SUB}+{SUB}) AS qchunk
  FROM (SELECT vec_id, embedding, unnest(range(0, {M_CHUNKS})) AS chunk_idx
        FROM embeddings WHERE vec_id < {N_QUERIES})
),
chunk_dists AS (
  SELECT q.query_id, codes.vec_id AS neighbor_id,
         pow(list_distance(q.qchunk, cb.cb_chunk), 2) AS sqd
  FROM q
  JOIN cb ON cb.chunk_idx = q.chunk_idx
  JOIN codes ON codes.chunk_idx = q.chunk_idx AND codes.code = cb.code
),
dists AS (
  SELECT query_id, neighbor_id,
         round(sqrt(CAST(SUM(CAST(sqd AS DECIMAL(18,9))) AS DOUBLE)), 6) AS dist
  FROM chunk_dists GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, dist, rank::INTEGER AS rank FROM (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
  FROM dists
) WHERE rank <= {TOP_K}
""",
)
def pq_adc_search_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC over deterministic codebooks: per-chunk LUT join + exact decimal
    sum of subspace distances + per-query top-k."""
    cb = _chunks(spark, sf_dir, only_codebook=True).select(
        F.col("vec_id").cast("int").alias("code"),
        "chunk_idx",
        F.col("chunk").alias("cb_chunk"),
    )
    codes = _encode_det(spark, sf_dir)
    q = _chunks(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "chunk_idx", F.col("chunk").alias("qchunk")
    )
    chunk_dists = (
        q.join(F.broadcast(cb), "chunk_idx")
        .join(codes, ["chunk_idx", "code"])
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.pow(euclidean("qchunk", "cb_chunk"), 2).alias("sqd"),
        )
    )
    dists = chunk_dists.groupBy("query_id", "neighbor_id").agg(
        F.sqrt(F.sum(F.expr("CAST(sqd AS DECIMAL(18,9))")).cast("double")).alias("dist")
    )
    return nearest_k(dists, TOP_K)


# --- real KMeans-trained PQ (rows-only; quality tests in tests/test_pq.py;
# the k-means+PQ composition is driver-checked via ivfpq_search_kmeans) ------

_PQ_CACHE: dict[str, tuple] = {}


def _pq_model(spark: SparkSession, sf_dir: str) -> tuple:
    """One PQ train+encode per (process, sf_dir) — mirrors the deployment
    shape (train once, search many) and lets bench.py time build vs
    steady-state ADC search separately. Returns (model, codes_df)."""
    if sf_dir not in _PQ_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="pq_")
        model = PQModel.train(spark, emb, path, n_chunks=M_CHUNKS, k=K_CODES)
        codes = model.encode(emb)
        codes.cache().count()  # encoded corpus is what a real index persists
        _PQ_CACHE[sf_dir] = (model, codes)
    return _PQ_CACHE[sf_dir]


@register(
    "pq_adc_kmeans",
    extra=True,
    oracle=f"SELECT {N_QUERIES}::BIGINT AS n_queries, "
    f"{N_QUERIES * TOP_K}::BIGINT AS n_results, TRUE AS k_per_query_ok, "
    "TRUE AS recall_ok",
)
def pq_adc_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PQ pipeline — train (P2) → encode (P3/P4) → ADC search — as an
    invariant projection (codebooks are k-means-derived): exact result
    cardinality per query and the plain-PQ mean-recall floor vs brute
    force (>= 0.3 at k=TOP_K, the same bar tests/test_pq.py pins at 10).
    Exact codebook behavior is pinned in tests/test_pq.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    model, codes = _pq_model(spark, sf_dir)
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < N_QUERIES)
    approx = model.adc_search(queries, codes, TOP_K)
    exact = knn_join(queries, emb, TOP_K)
    per_q = approx.groupBy("query_id").agg(F.count("*").alias("nk"))
    shape = per_q.agg(
        F.count("*").alias("n_queries"),
        F.sum("nk").alias("n_results"),
        ((F.min("nk") == TOP_K) & (F.max("nk") == TOP_K)).alias("k_per_query_ok"),
    )
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .agg(
            (
                F.count("*") / F.lit(float(TOP_K * N_QUERIES)) >= 0.3
            ).alias("recall_ok")
        )
    )
    return shape.join(F.broadcast(hits)).select(
        "n_queries", "n_results", "k_per_query_ok", "recall_ok"
    )


# --- OPQ: rotated PQ ----------------------------------------------------------

_OPQ_CACHE: dict[str, tuple] = {}


def _opq_model(spark: SparkSession, sf_dir: str) -> tuple:
    """Train-once-per-process OPQ model + cached codes (same pattern as
    _pq_model: the bench times the build separately)."""
    if sf_dir not in _OPQ_CACHE:
        from vector_db_spark.operators.opq import OPQModel

        path = tempfile.mkdtemp(prefix="opq_")
        emb = load_table(spark, sf_dir, "embeddings")
        model = OPQModel.train(spark, emb, path, n_chunks=M_CHUNKS, k=K_CODES)
        codes = model.encode(emb).select("vec_id", "codes").cache()
        codes.count()
        _OPQ_CACHE[sf_dir] = (model, codes)
    return _OPQ_CACHE[sf_dir]


@register(
    "opq_adc_recall",
    extra=True,
    oracle=f"""
SELECT COUNT(*)::BIGINT AS n_queries, TRUE AS norm_ok, TRUE AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def opq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ end-to-end invariant projection (operators/opq.py): the learned
    rotation must preserve query norms (orthogonality, rel err < 1e-3)
    and rotated-space ADC must reach the same mean-recall floor plain PQ
    is held to (≥ 0.3 @10) — exact facts the oracle reproduces. The
    rotation/codebook estimates themselves are pinned in tests/test_opq.py
    (distortion + recall vs plain PQ)."""
    model, codes = _opq_model(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < N_QUERIES)

    def _norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )

    rot = model.rotate(queries, "query_vec").select(
        "query_id", _norm(F.col("query_vec")).alias("rot_norm")
    )
    norms = (
        queries.select("query_id", _norm(F.col("query_vec")).alias("orig_norm"))
        .join(rot, "query_id")
        .agg(
            F.count("*").alias("n_queries"),
            (
                F.max(
                    F.abs(F.col("rot_norm") - F.col("orig_norm"))
                    / F.greatest(F.col("orig_norm"), F.lit(1e-9))
                )
                < 1e-3
            ).alias("norm_ok"),
        )
    )

    k = 10
    exact = knn_join(queries, emb, k)
    approx = model.adc_search(queries, codes, k)
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .agg((F.count("*") / F.lit(float(k * N_QUERIES)) >= 0.3).alias("recall_ok"))
    )
    return norms.join(F.broadcast(hits)).select("n_queries", "norm_ok", "recall_ok")
