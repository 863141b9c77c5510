"""Multimodal-column queries: binary payloads + typed metadata, processed
by Arrow-batched ``mapInPandas`` kernels (operators/multimodal.py), wired
end-to-end so the driver exercises the full pipeline.

The fixtures ship no media files, so the media table is *derived
deterministically* from ``documents`` (payload = UTF-8 bytes of the text,
metadata arithmetic on ``n_chars``/``doc_id``) — both engines can rebuild
it, which makes the kernel outputs' deterministic columns (frame indices,
timestamps, feature dims, payload sizes) fully oracle-checkable even though
the fake feature values themselves are numpy-RNG-derived.

Reference parity: the reference stores only text+embedding nodes
(/root/reference/src/vector_db/types.py:5-10); multimodal columns are the
north-star extension a 100 TB training-data pipeline needs. Kernels are
single-pass, shuffle-free (narrow mapInPandas), and column pruning keeps
metadata-only plans from ever reading the binary payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.multimodal import (
    decode_image_features,
    media_near_dup_pairs,
)
from vector_db_spark.queries import register


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from `documents`: one row per doc,
    kind round-robined by doc_id, payload = text bytes, meta from simple
    arithmetic. At 100 TB payloads would be real bytes (or URIs) in the same
    schema; everything downstream is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            (F.lit(32) + F.col("n_chars") % 96).cast("int").alias("width"),
            (F.lit(32) + F.col("doc_id") % 64).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
            F.element_at(
                F.array(F.lit("png"), F.lit("wav"), F.lit("mp4")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("format"),
        ).alias("meta"),
    )


@register(
    "multimodal_image_features",
    oracle="""
SELECT doc_id AS media_id,
       16 AS feat_dim,
       octet_length(encode(text)) AS payload_bytes,
       CAST(32 + n_chars % 96 AS INTEGER) AS width,
       CAST(32 + doc_id % 64 AS INTEGER) AS height
FROM documents
WHERE doc_id % 3 = 0
""",
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode + feature-extract through the mapInPandas kernel, then
    join features back to metadata. The feature *values* are the fake
    decoder's (not oracle-matchable); the checked columns prove the kernel
    ran for every image row with the right batch shape and arity."""
    media = media_table(spark, sf_dir)
    feats = decode_image_features(media, decoder="fake")
    return (
        feats.join(media, "media_id")
        .select(
            "media_id",
            F.size("features").alias("feat_dim"),
            F.octet_length("payload").alias("payload_bytes"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
        )
    )


@register(
    "image_phash_near_dup",
    extra=True,
    oracle="""
WITH h AS (
  SELECT doc_id AS media_id,
         ('0x' || substr(md5(text), 1, 15))::UBIGINT::BIGINT AS phash
  FROM documents WHERE doc_id % 3 = 0),
bands AS (
  SELECT media_id, phash, i AS band_idx,
         (phash >> (i * 15)::INTEGER) & 32767 AS band_value
  FROM h CROSS JOIN (SELECT unnest(range(4)) AS i) ii)
SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
       bit_count(xor(a.phash, b.phash))::INTEGER AS hamming
FROM bands a JOIN bands b USING (band_idx, band_value)
WHERE a.media_id < b.media_id
  AND bit_count(xor(a.phash, b.phash)) <= 3
""",
)
def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by banded perceptual hash
    (operators/multimodal.media_near_dup_pairs): per-payload 60-bit hash
    through the decoder-seam Arrow kernel, pigeonhole band blocking, exact
    bit_count verify — the image-corpus dedup pass. With the fake decoder
    the hash is md5-of-payload-bytes, so the oracle reproduces the entire
    pipeline from the text-derived payloads (duplicate payloads land at
    Hamming 0; the real pHash slots into the same kernel)."""
    media = media_table(spark, sf_dir)
    return media_near_dup_pairs(media, decoder="fake", hamming_max=3, n_bands=4)
