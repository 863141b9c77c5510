"""Persisted inverted index: token-partitioned posting lists + BM25 serving.

``hybrid.bm25_topk`` scans the corpus per query — the right plan for
ad-hoc scoring, the wrong one for a serving tier answering thousands of
keyword queries against a fixed corpus. This module flips the cost the
way the reference flips vector search with IVF (reference ivf.py: build
partitions once, probe few): ONE build pass explodes the corpus into
``(tok, doc_id, tf)`` postings written ``partitionBy(bucket)`` with
``bucket = pmod(xxhash64(tok), n_buckets)``, and a query then reads ONLY
its terms' bucket directories — partition pruning at planning time, the
corpus is never rescanned. Global statistics (N, avgdl) land in a tiny
JSON; per-term document frequencies come from the pruned postings
themselves, so they are exact at any corpus size.

Scoring reproduces ``hybrid.bm25_topk`` bit-for-bit: per-term tf columns
pivot out of the postings (fixed column order ⇒ fixed float-addition
order), the same Robertson +1 idf, the same 6-digit rounding + id
tie-break. The
two paths returning identical rows is pinned by test and by the DuckDB
oracle of `inverted_bm25_search`.

Scale: build is one explode + one groupBy (shuffle keyed on (tok, doc));
Zipf skew lands hot tokens in single buckets but postings rows are tiny
and the per-bucket write is streamed, not held. Query cost is
O(Σ posting-list lengths of the query terms) — independent of corpus
row count, the whole point of an inverted index.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_db_spark.functions.text import tokens


class InvertedIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "stats.json")) as fh:
            s = json.load(fh)
        self.n_docs = float(s["n_docs"])
        self.avgdl = float(s["avgdl"])
        self.n_buckets = int(s["n_buckets"])

    # -- build -----------------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 64,
    ) -> "InvertedIndex":
        toks = tokens(text_col)
        postings = (
            docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok"))
            .filter(F.length("tok") > 0)
            .groupBy("tok", "doc_id")
            .agg(F.count("*").alias("tf"))
            .withColumn("bucket", F.pmod(F.xxhash64("tok"), F.lit(n_buckets)))
        )
        # O(n_buckets) files, not tasks x n_buckets: the tf aggregation
        # shuffles on (tok, doc_id), so without a bucket shuffle every
        # writer task would emit a file into every bucket dir (the
        # small-files trap measured on the IVF corpus; SCALE.md, Guards
        # and bounds)
        from vector_db_spark.io import write_clustered

        write_clustered(
            postings, os.path.join(path, "postings"), mode="overwrite", key="bucket"
        )
        doclens = docs.select(
            F.col(id_col).alias("doc_id"), F.size(toks).cast("double").alias("dl")
        )
        doclens.write.mode("overwrite").parquet(os.path.join(path, "doclens"))
        stats = docs.agg(
            F.count("*").cast("double").alias("n_docs"),
            F.sum(F.size(toks)).cast("double").alias("sum_dl"),
        ).collect()[0]
        with open(os.path.join(path, "stats.json"), "w") as fh:
            json.dump(
                {
                    "n_docs": stats["n_docs"],
                    "avgdl": stats["sum_dl"] / stats["n_docs"],
                    "n_buckets": n_buckets,
                },
                fh,
            )
        return cls(spark, path)

    # -- serving ---------------------------------------------------------------

    def _term_buckets(self, terms: list[str]) -> list[int]:
        # xxhash64 is a JVM function — evaluate it on a literal one-row
        # frame (constant-folded, no data touched)
        row = self.spark.range(1).select(
            *[
                F.pmod(F.xxhash64(F.lit(t)), F.lit(self.n_buckets)).alias(f"b{i}")
                for i, t in enumerate(terms)
            ]
        ).collect()[0]
        return [int(row[f"b{i}"]) for i in range(len(terms))]

    def postings_for(self, terms: list[str]) -> DataFrame:
        """Posting rows for ``terms`` — the bucket predicate prunes the
        scan to the terms' partition directories at planning time."""
        buckets = sorted(set(self._term_buckets(terms)))
        return (
            self.spark.read.parquet(os.path.join(self.path, "postings"))
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("tok").isin(list(terms)))
        )

    def bm25_search(
        self, terms: list[str], *, k: int = 20, k1: float = 1.2, b: float = 0.75
    ) -> DataFrame:
        """Top-``k`` by BM25, identical rows to ``hybrid.bm25_topk`` on
        the same corpus — computed from the index alone."""
        post = self.postings_for(terms)
        # exact per-term document frequencies from the pruned postings
        dfs = {
            r["tok"]: float(r["df"])
            for r in post.groupBy("tok").agg(F.count("*").alias("df")).collect()
        }
        cand = (
            post.groupBy("doc_id")
            .pivot("tok", list(dict.fromkeys(terms)))
            .agg(F.first("tf"))
        )
        doclens = self.spark.read.parquet(os.path.join(self.path, "doclens"))
        scored = cand.join(doclens, "doc_id")

        def part(i: int, t: str) -> Column:
            df_t = dfs.get(t, 0.0)
            idf = F.lit(
                float(
                    __import__("math").log(
                        (self.n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0
                    )
                )
            )
            tf = F.coalesce(F.col(f"`{t}`").cast("double"), F.lit(0.0))
            return (
                idf
                * tf
                * (k1 + 1)
                / (tf + k1 * (1 - b + b * F.col("dl") / F.lit(self.avgdl)))
            )

        uniq = list(dict.fromkeys(terms))
        score = part(0, uniq[0])
        for i, t in enumerate(uniq[1:], start=1):
            score = score + part(i, t)  # fixed order: reproducible
        w = Window.orderBy(F.col("bm25").desc(), "doc_id")
        return (
            scored.select("doc_id", F.round(score, 6).alias("bm25"))
            .filter(F.col("bm25") > 0)
            .withColumn("kw_rank", F.row_number().over(w))
            .filter(F.col("kw_rank") <= k)
        )
