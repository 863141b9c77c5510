"""Scale-curve validation.

Synthesizes a ~10x blow-up of the sf0.1 `documents` / `embeddings` /
`events` tables (the driver fixtures cap at sf0.1) and runs the heaviest
registered queries at both scales, checking two things the fixtures alone
cannot:

1. wall time grows at most ~linearly in input volume (a super-linear
   curve means a join whose candidate volume is not bounded by design);
2. no plan flips shape between scales (the warn-grade audit shapes from
   tests/test_plan_audit.py must be identical at 1x and 10x — the class
   of bug an AQE single-partition coalesce of the sparse-cosine join was).

Blow-up construction — "10 disjoint shards", not "10 identical copies",
so candidate structure replicates instead of exploding quadratically:

- documents: copy i keeps doc structure but suffixes every token with
  `_i` — shingle/term spaces are disjoint across copies, so dedup
  clusters and posting lists replicate 10x exactly (`Σ df²` scales 10x).
- embeddings: copy i multiplies each component by a deterministic ±1
  pattern (distance-preserving WITHIN the copy, decorrelated ACROSS
  copies) — near-dup cluster geometry replicates, cross-copy cosines
  are noise.
- events: event_id / user_id offset per copy — disjoint user universes,
  stream-stream join volume scales linearly.

Other tables are hard-linked unchanged. Usage:

    python scripts/scale_curve.py [--runs 2] [--out /tmp/scale10]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = "/root/testdata/sf0.1"
COPIES = 10
ID_STRIDE = 10_000_000

# heavy queries over the blown-up tables (top of BENCH_DETAIL by wall
# time, restricted to ones whose input actually scales here)
QUERIES = [
    "coverage_exemplar_docs",     # documents: k full greedy passes
    "tfidf_cosine_pairs_cut",     # documents: Σ df² posting join
    "near_dup_jaccard",           # documents: MinHash+LSH
    "dedup_retain_best",          # documents: LSH + connected components
    "heavy_hitter_tokens",        # documents: Misra-Gries two-pass
    "embedding_decontaminate_blocked",  # embeddings: hyperplane-LSH blocking
    "knn_exact_batch",            # embeddings: fixed queries x 10x corpus
    "stream_unattributed_clicks", # events: stream-stream outer join
]


def build_blowup(spark, out_dir: str, copies: int = COPIES) -> None:
    """Disjoint-shard blow-up via a crossJoin with a copy-index range —
    one plan regardless of copy count (a per-copy union grows the plan
    linearly and falls over around 100 copies)."""
    from pyspark.sql import functions as F

    from vector_db_spark.io import TABLES, load_table

    if os.path.isdir(os.path.join(out_dir, "events.parquet")):
        print(f"# blow-up at {out_dir} already present — reusing")
        return
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if t in ("documents", "embeddings", "events"):
            continue
        src, dst = os.path.join(SF1, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(src, dst)

    cp = spark.range(copies).select(F.col("id").cast("int").alias("__c"))

    docs = load_table(spark, SF1, "documents").crossJoin(F.broadcast(cp))
    suffixed = F.array_join(
        F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda x: F.concat(x, F.lit("_"), F.col("__c").cast("string")),
        ),
        " ",
    )
    docs.select(
        (F.col("doc_id") + F.col("__c").cast("long") * ID_STRIDE).alias("doc_id"),
        suffixed.alias("text"),
        "lang",
        "source",
        "n_chars",
    ).repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )

    emb = load_table(spark, SF1, "embeddings").crossJoin(F.broadcast(cp))
    # norm-preserving per-copy +/-1 sign pattern: sign(c, j) from md5 —
    # within-copy geometry identical, cross-copy cosines decorrelated
    flipped = F.zip_with(
        F.col("embedding"),
        F.transform(
            F.sequence(F.lit(0), F.size("embedding") - 1),
            lambda j: (
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws("|", F.col("__c").cast("string"), j.cast("string"))),
                            1,
                            4,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(2),
                )
                * 2
                - 1
            ).cast("float"),
        ),
        lambda x, s: (x * s).cast("float"),
    )
    emb.select(
        (F.col("vec_id") + F.col("__c").cast("long") * ID_STRIDE).alias("vec_id"),
        flipped.alias("embedding"),
        "label",
    ).repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )

    ev = load_table(spark, SF1, "events").crossJoin(F.broadcast(cp))
    ev.select(
        (F.col("event_id") + F.col("__c").cast("long") * ID_STRIDE).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("__c").cast("long") * ID_STRIDE).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )


def warn_shapes(df) -> list[str]:
    from vector_db_spark.plans import audit_plan

    return sorted({f.code for f in audit_plan(df) if f.severity == "warn"})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="/tmp/scale10")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated registry names (default: the built-in heavy-8)",
    )
    ap.add_argument("--copies", type=int, default=COPIES)
    args = ap.parse_args()
    queries = args.queries.split(",") if args.queries else QUERIES

    from vector_db_spark.queries import all_queries
    from vector_db_spark.session import get_spark

    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    build_blowup(spark, args.out, copies=args.copies)
    print(f"# blow-up built in {time.perf_counter() - t0:.1f}s")

    qs = all_queries()
    results = {}
    for name in queries:
        row = {}
        for label, sf_dir in (("x1", SF1), (f"x{args.copies}", args.out)):
            df = qs[name](spark, sf_dir)
            shapes = warn_shapes(df)
            best, n = float("inf"), 0
            for _ in range(args.runs):
                t0 = time.perf_counter()
                n = qs[name](spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
            row[label] = {"sec": round(best, 2), "rows": n, "warn_shapes": shapes}
            print(f"# {name} {label}: {best:.2f}s rows={n} shapes={shapes}")
        big = f"x{args.copies}"
        row["ratio"] = round(row[big]["sec"] / max(row["x1"]["sec"], 1e-9), 2)
        row["shape_flip"] = row["x1"]["warn_shapes"] != row[big]["warn_shapes"]
        results[name] = row
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
