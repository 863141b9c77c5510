"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct — the
Spark-native layout for a multimodal training-data pipeline: Parquet stores
the bytes inline (or a URI for externalized blobs), column pruning keeps
metadata-only queries from touching the payload, and all per-item compute
runs as Arrow-batched ``mapInPandas`` kernels.

The actual codecs (PIL/ffmpeg/librosa) are NOT in this environment, so the
decode step is stubbed two ways per the brief:

- ``decoder="strict"`` raises ``NotImplementedError`` naming the missing
  dependency — the production wiring point.
- ``decoder="fake"`` derives deterministic pseudo-features from the bytes
  (md5-seeded), so the Spark-side plumbing — schema, batch shape, UDF
  signature, partitioning — is real and tested end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURE_DIM = 16


def _fake_features(payload: bytes, dim: int) -> list[float]:
    seed = int.from_bytes(hashlib.md5(payload or b"").digest()[:8], "big")
    v = np.random.default_rng(seed).standard_normal(dim).astype(np.float32)
    return [float(x) for x in v]


def decode_image_features(
    df: DataFrame, *, dim: int = IMAGE_FEATURE_DIM, decoder: str = "strict"
) -> DataFrame:
    """(media_id, features array<float>): decode + feature-extract images.

    Three decoders, same Spark plumbing (binary Arrow batches in,
    fixed-dim float arrays out, one pass, no shuffle):

    - ``"strict"`` (default): raise — refusing to silently fake in a
      pipeline that asked for real features.
    - ``"fake"``: md5-seeded deterministic pseudo-features — CI plumbing.
    - ``"real"``: PIL decode → grayscale → ``dim``-bin L1-normalized
      luminance histogram. Import-gated like the sentence-transformers
      embedder; exercised by scripts/real_model_run.py where the model
      stack exists (swap the histogram for a model forward for learned
      features — the kernel shape is the wiring point).
    """
    if decoder == "strict":
        raise NotImplementedError(
            "image decoding requires PIL/torchvision, not installed in this "
            "environment; use decoder='fake' for plumbing tests or "
            "decoder='real' where PIL is installed"
        )
    if decoder == "real":
        if 256 % dim:
            raise ValueError(f"dim must divide 256 for histogram pooling, got {dim}")
        try:
            import PIL  # noqa: F401
        except ImportError as exc:  # pragma: no cover - not in CI
            raise NotImplementedError(
                "decoder='real' requires PIL; pip install pillow or use "
                "decoder='fake' for plumbing tests"
            ) from exc

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:  # pragma: no cover
            import io as _io

            from PIL import Image

            for pdf in batches:
                if pdf.empty:
                    continue
                feats = []
                for mid, p in zip(pdf["media_id"], pdf["payload"]):
                    # MEDIA_SCHEMA allows NULL payloads (externalized
                    # blobs); a real decode of nothing is an actionable
                    # error, not an opaque executor TypeError
                    if p is None:
                        raise ValueError(
                            f"media_id {mid}: NULL payload cannot be "
                            "decoded — filter null payloads (or resolve "
                            "URIs to bytes) before decoder='real'"
                        )
                    img = Image.open(_io.BytesIO(p)).convert("L")
                    hist = np.asarray(img.histogram(), dtype=np.float64)
                    pooled = hist.reshape(dim, 256 // dim).sum(axis=1)
                    total = pooled.sum() or 1.0
                    feats.append([float(x) for x in pooled / total])
                yield pd.DataFrame(
                    {"media_id": pdf["media_id"].values, "features": feats}
                )

    elif decoder == "fake":

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"].values,
                        "features": [_fake_features(p, dim) for p in pdf["payload"]],
                    }
                )

    else:
        raise ValueError(f"unknown decoder {decoder!r}")

    return df.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        kernel, "media_id long, features array<float>"
    )


def media_hash60(
    df: DataFrame, *, decoder: str = "strict", hash_col: str = "phash"
) -> DataFrame:
    """(media_id, phash): 60-bit perceptual hash per image payload — the
    image-dedup primitive (pHash/dHash family: decode → downscale → DCT →
    sign bits). Real implementation point: PIL decode + 8×8 DCT inside
    this same Arrow kernel; not installed here, so ``decoder="fake"``
    substitutes the md5-low-60 of the payload BYTES — deterministic, so
    identical payloads collide exactly (Hamming 0) and the entire
    downstream blocking/verify pipeline is real and oracle-checkable.
    60 bits = the repo's 15-nibble sign-safe-int64 idiom."""
    if decoder == "strict":
        raise NotImplementedError(
            "perceptual hashing requires PIL (decode + DCT), not installed "
            "in this container; use decoder='fake'"
        )
    import hashlib

    from typing import Iterator

    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = [
                int(hashlib.md5(bytes(p or b"")).hexdigest()[:15], 16)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], hash_col: hs})

    return (
        df.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(kernel, f"media_id long, {hash_col} long")
    )


def media_near_dup_pairs(
    df: DataFrame,
    *,
    decoder: str = "strict",
    hamming_max: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Exact Hamming-≤k near-duplicate image pairs via pigeonhole band
    blocking over the perceptual hash — the image-corpus dedup pass,
    sharing the SimHash machinery's guarantee (two hashes within
    ``hamming_max`` < ``n_bands`` must agree exactly on ≥1 band, so the
    equi-join candidates are complete, never an all-pairs scan) and its
    codegen'd ``bit_count(xor)`` verify."""
    if hamming_max >= n_bands:
        raise ValueError("pigeonhole completeness needs hamming_max < n_bands")
    width = 60 // n_bands
    h = media_hash60(df, decoder=decoder)
    bands = h.select(
        "media_id",
        "phash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("phash"), i * width)
                    % F.lit(2**width)
                    for i in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_value"),
    )
    a = bands.select(
        "band_idx", "band_value",
        F.col("media_id").alias("media_a"), F.col("phash").alias("ha"),
    )
    b = bands.select(
        "band_idx", "band_value",
        F.col("media_id").alias("media_b"), F.col("phash").alias("hb"),
    )
    return (
        a.join(b, ["band_idx", "band_value"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select(
            "media_a", "media_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()
    )
