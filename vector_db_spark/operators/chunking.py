"""RAG document chunking: overlapping windows over text, entirely map-side.

North-star extension (the reference embeds and indexes whole documents,
``/root/reference/src/vector_db/inference/embedding.py:38-52``; any RAG
deployment of it chunks first): split each document into fixed-size
character windows with overlap, carry stable ``(doc_id, chunk_idx)``
identity plus byte offsets, then embed/index/search at chunk granularity
and regroup hits to document granularity.

Scale posture:

- **split** is a pure projection: ``sequence`` → ``posexplode`` →
  ``substring``. No shuffle, no UDF — whole-stage codegen end to end,
  and the generated row count is ``ceil(len/stride)`` per doc, bounded
  and proportional to input bytes (overlap < size enforces progress).
- **chunk identity** is ``(doc_id, chunk_idx)`` — deterministic, so
  incremental re-chunking of changed docs upserts cleanly and the chunk
  table can be partitioned/bucketed by ``doc_id`` to co-locate with the
  parent table for join-free doc regrouping.
- **search→doc regroup** (``queries/chunking.py``) is one aggregation
  keyed on the doc id already present on every chunk row: best distance
  per (query, doc). At 100 TB the chunk table is the big side; the grouping reuses the search output's
  partitioning (k·queries rows, tiny) — never a second corpus scan.

Deterministic character math throughout, so a SQL oracle (DuckDB
``range()`` lateral + ``substr``) reproduces every chunk bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    *,
    size: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split ``text_col`` into overlapping windows of ``size`` chars with
    stride ``size - overlap``. Output columns: ``id_col``, ``chunk_idx``
    (0-based), ``chunk_start`` (0-based char offset), ``chunk_text``.

    Every document yields at least one chunk (an empty doc yields one
    empty chunk) and the final chunk may be shorter than ``size``. A
    window starts at every multiple of the stride that is < len(text),
    so each character lands in ≥1 chunk and consecutive chunks share
    exactly ``overlap`` characters.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got size={size} overlap={overlap}")
    stride = size - overlap
    starts = F.sequence(
        F.lit(0), F.greatest(F.length(text_col) - 1, F.lit(0)), F.lit(stride)
    )
    return (
        df.select(id_col, text_col)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.posexplode(starts).alias("chunk_idx", "chunk_start"),
        )
        .select(
            id_col,
            "chunk_idx",
            "chunk_start",
            # substring is 1-based; length clamps at end-of-string naturally
            F.substring(F.col(text_col), F.col("chunk_start") + 1, size).alias(
                "chunk_text"
            ),
        )
    )


def chunk_oracle_sql(
    *,
    size: int,
    overlap: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SQL reproducing :func:`chunk_documents` bit-for-bit — the
    base CTE for chunk-level oracles. Exposes the same four columns."""
    stride = size - overlap
    return (
        f"SELECT {id_col}, s.i AS chunk_idx, s.i * {stride} AS chunk_start, "
        f"substr({text_col}, s.i * {stride} + 1, {size}) AS chunk_text "
        f"FROM {table}, LATERAL ("
        f"  SELECT unnest(range(0, greatest(length({text_col}), 1), {stride}))"
        f"    // {stride} AS i"
        f") s"
    )

