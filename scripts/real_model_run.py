"""Opt-in REAL-model run — retire the residual risk of
the two import-gated seams that CI only exercises through deterministic
fakes:

1. ``functions.embedding.sentence_transformer_embedder`` over the sf0.001
   documents (real MiniLM forward, per-executor lazy model load).
2. ``operators.multimodal.decode_image_features(decoder="real")`` over
   synthesized-but-REAL PNG bytes (PIL decode → luminance histogram).

CI stays stub-only: this script is NEVER run by tests. Run it by hand in an
environment with the model stack:

    pip install sentence-transformers pillow   # not allowed in the CI box
    python scripts/real_model_run.py

It prints one JSON line with dims/norms/wall per seam — paste (or append)
into PERF.md's "Real-model run" section. In an environment missing the
stack it exits 2 with the seams' own NotImplementedError messages, which is
the honest outcome: the seams refuse to fake.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def run_embedder(spark) -> dict:
    from pyspark.sql import functions as F

    from vector_db_spark.functions.embedding import (
        embed_column,
        sentence_transformer_embedder,
    )
    from vector_db_spark.io import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    emb = sentence_transformer_embedder()  # raises NotImplementedError w/o stack
    t0 = time.perf_counter()
    out = embed_column(docs, "text", embedder=emb)
    stats = out.select(
        F.count("*").alias("n"),
        F.min(F.size("embedding")).alias("dim_min"),
        F.max(F.size("embedding")).alias("dim_max"),
        F.avg(
            F.sqrt(
                F.aggregate(
                    F.col("embedding").cast("array<double>"),
                    F.lit(0.0),
                    lambda a, x: a + x * x,
                )
            )
        ).alias("mean_norm"),
    ).collect()[0]
    wall = time.perf_counter() - t0
    return {
        "n_docs": stats.n,
        "dim": [stats.dim_min, stats.dim_max],
        "mean_norm": round(float(stats.mean_norm), 4),
        "wall_sec": round(wall, 2),
    }


def run_image_decode(spark, n_images: int = 100) -> dict:
    from PIL import Image  # raises ImportError w/o pillow

    from pyspark.sql import functions as F

    from vector_db_spark.operators.multimodal import (
        IMAGE_FEATURE_DIM,
        decode_image_features,
    )

    rows = []
    for i in range(n_images):
        img = Image.new("RGB", (32, 32), (i * 7 % 256, i * 13 % 256, i * 29 % 256))
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        rows.append((i, "image", buf.getvalue(), None))
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    t0 = time.perf_counter()
    feats = decode_image_features(media, decoder="real")
    stats = feats.select(
        F.count("*").alias("n"),
        F.min(F.size("features")).alias("dim_min"),
        F.max(F.size("features")).alias("dim_max"),
        F.avg(
            F.aggregate(
                F.col("features").cast("array<double>"), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("mean_l1"),  # histogram is L1-normalized: must be 1.0
    ).collect()[0]
    wall = time.perf_counter() - t0
    return {
        "n_images": stats.n,
        "dim": [stats.dim_min, stats.dim_max],
        "expected_dim": IMAGE_FEATURE_DIM,
        "mean_l1": round(float(stats.mean_l1), 6),
        "wall_sec": round(wall, 2),
    }


def main() -> None:
    from vector_db_spark.session import get_spark

    spark = get_spark("real-model-run", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    result: dict = {}
    failures = []
    try:
        result["sentence_transformer"] = run_embedder(spark)
    except NotImplementedError as exc:
        failures.append(f"embedder: {exc}")
    try:
        result["image_decode_real"] = run_image_decode(spark)
    except (NotImplementedError, ImportError) as exc:
        failures.append(f"image decode: {exc}")
    print(json.dumps(result))
    if failures:
        for f in failures:
            print(f"BLOCKED — {f}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
