"""Deterministic shard export (operators/export.py): placement math and
manifest audit facts."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from vector_db_spark.operators.export import (
    hex_value,
    shard_manifest,
    shard_plan,
)


def _docs(spark, n=64):
    rows = [(i, f"document body number {i} with words") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_placement_matches_python_md5(spark):
    got = shard_plan(_docs(spark, 32), n_shards=16).collect()
    for r in got:
        h = hashlib.md5(f"{r['doc_id']}:export-v1".encode()).hexdigest()
        assert r["shuffle_key"] == h
        assert r["shard_id"] == int(h[:4], 16) % 16
        fp = hashlib.md5(
            f"{r['doc_id']}\x1f{r['text']}".encode()
        ).hexdigest()
        assert r["row_fp"] == fp


def test_hex_value_range_and_exactness(spark):
    df = spark.range(1).select(
        hex_value(F.lit("ff00a3"), 1, 6).alias("v"),
        hex_value(F.lit("0"), 1, 1).alias("z"),
    )
    row = df.collect()[0]
    assert row["v"] == 0xFF00A3 and row["z"] == 0


def test_manifest_counts_and_checksum(spark):
    plan = shard_plan(_docs(spark), n_shards=4)
    man = {r["shard_id"]: r for r in shard_manifest(plan).collect()}
    rows = plan.collect()
    assert sum(m["n_rows"] for m in man.values()) == len(rows)
    for sid, m in man.items():
        mine = [r for r in rows if r["shard_id"] == sid]
        assert m["n_rows"] == len(mine)
        assert m["checksum"] == sum(int(r["row_fp"][:8], 16) for r in mine)
        assert m["head_id"] == min(mine, key=lambda r: r["shuffle_key"])["doc_id"]
