"""RAG chunking queries: deterministic chunk manifest + chunk-level search.

The chunk split is pure character math, so the manifest is value-hashed
against a DuckDB lateral-range oracle. The chunk-level semantic search
runs the full pipeline (split → stub-embed chunks → brute top-k → doc
regroup) and checks the reference's own integration invariant at chunk
granularity: a chunk's text re-embeds identically, so querying with a
chunk's text must surface its own document at rank 1 with the full
per-chunk hit arity (reference ``tests/integration/test_search_api.py``
"stored document is its own nearest neighbor", lifted to chunks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vector_db_spark.functions.embedding import embed_column
from vector_db_spark.io import load_table
from vector_db_spark.operators.chunking import chunk_documents, chunk_oracle_sql
from vector_db_spark.operators.knn import knn_join
from vector_db_spark.queries import register

CHUNK_SIZE = 120
CHUNK_OVERLAP = 30
_BASE = chunk_oracle_sql(size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)

N_CHUNK_QUERIES = 3
CHUNK_TOP_K = 5


@register(
    "chunk_manifest",
    extra=True,
    oracle=f"WITH c AS ({_BASE}) "
    "SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, "
    "chunk_start::BIGINT AS chunk_start, "
    "length(chunk_text)::BIGINT AS chunk_len, md5(chunk_text) AS chunk_md5 "
    "FROM c",
)
def chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunk manifest over ``documents`` — offsets,
    lengths and content digests for every chunk. The split is a single
    map-side projection (sequence → posexplode → substring): no shuffle,
    no UDF, output rows ∝ input bytes."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.length("chunk_text").cast("long").alias("chunk_len"),
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
    )


@register(
    "chunk_semantic_search",
    oracle=f"SELECT doc_id AS query_id, doc_id AS best_doc, TRUE AS self_top1, "
    f"{CHUNK_TOP_K}::BIGINT AS n_hits FROM documents WHERE doc_id < {N_CHUNK_QUERIES}",
)
def chunk_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granular retrieval, doc-granular answers: split → stub-embed
    every chunk → exact top-k chunks per query → regroup hits to documents
    (max score, hit arity). Queried with the first chunk of the first
    ``N_CHUNK_QUERIES`` docs, the checked invariant is self-retrieval: the
    identical chunk text embeds identically (dist 0), so its own document
    must win rank 1 and each query returns exactly k chunk hits."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)
    embedded = embed_column(chunks, "chunk_text", dim=64).select(
        "doc_id",
        # dense synthetic chunk id: manifest order within a doc is chunk_idx
        (F.col("doc_id") * 100_000 + F.col("chunk_idx")).alias("vec_id"),
        "embedding",
    )
    queries = (
        embedded.filter(
            (F.col("doc_id") < N_CHUNK_QUERIES) & (F.col("vec_id") % 100_000 == 0)
        )
        .select(F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    hits = knn_join(queries, embedded.select("vec_id", "embedding"), CHUNK_TOP_K,
                    impl="batch")
    # regroup chunk hits to docs: best (min) distance + hit arity per doc
    w = Window.partitionBy("query_id").orderBy(
        F.col("best_dist").asc(), F.col("doc_id").asc()
    )
    ranked = (
        hits.withColumn("doc_id", F.floor(F.col("neighbor_id") / 100_000))
        .groupBy("query_id", "doc_id")
        .agg(F.min("dist").alias("best_dist"), F.count("*").alias("nh"))
        .withColumn("doc_rank", F.row_number().over(w))
    )
    return (
        ranked.groupBy("query_id")
        .agg(
            F.max(F.when(F.col("doc_rank") == 1, F.col("doc_id"))).alias("best_doc"),
            F.sum("nh").cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "best_doc",
            (F.col("best_doc") == F.col("query_id")).alias("self_top1"),
            "n_hits",
        )
    )
