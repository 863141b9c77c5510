"""Two-pass heavy hitters (operators/heavyhitters.py): exact agreement
with naive counting, the MG superset guarantee under skew and across
partition layouts, and the bounded-candidate claim."""

from __future__ import annotations

import math
from collections import Counter

from vector_db_spark.operators.heavyhitters import _mg_candidates, heavy_hitters


def _stream(spark, items, parts=8):
    return spark.createDataFrame(
        [(x,) for x in items], "item string"
    ).repartition(parts)


def _zipf_items(n=20000, seed=5):
    import random

    rng = random.Random(seed)
    # ~1/rank weights over 400 items: a realistic skewed vocabulary
    vocab = [f"w{i}" for i in range(400)]
    weights = [1.0 / (i + 1) for i in range(400)]
    return rng.choices(vocab, weights=weights, k=n)


def test_exact_output_matches_naive(spark):
    items = _zipf_items()
    threshold = math.ceil(0.005 * len(items))
    got = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(
            _stream(spark, items), "item", threshold=threshold,
            k=math.ceil(len(items) / threshold),
        ).collect()
    }
    want = {x: c for x, c in Counter(items).items() if c >= threshold}
    assert got == want
    assert got  # non-trivial: the zipf head must clear 0.5%


def test_guarantee_across_partition_layouts(spark):
    items = _zipf_items(n=8000, seed=9)
    threshold = math.ceil(0.01 * len(items))
    want = {x: c for x, c in Counter(items).items() if c >= threshold}
    for parts in (1, 4, 32):
        got = {
            r["item"]: r["cnt"]
            for r in heavy_hitters(
                _stream(spark, items, parts), "item", threshold=threshold,
                k=math.ceil(len(items) / threshold),
            ).collect()
        }
        assert got == want, f"parts={parts}"


def test_candidates_are_bounded(spark):
    items = _zipf_items(n=10000)
    k = 50
    cand = _mg_candidates(
        _stream(spark, items, 4).select("item"), "item", k
    ).count()
    assert cand <= 4 * k  # ≤ partitions × k, despite 400 distinct items


def test_no_false_positives_even_with_tiny_k(spark):
    # k too small may MISS, but the exact verify pass must never fabricate
    items = _zipf_items(n=5000)
    threshold = math.ceil(0.01 * len(items))
    got = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(
            _stream(spark, items), "item", threshold=threshold, k=5
        ).collect()
    }
    exact = Counter(items)
    for item, cnt in got.items():
        assert exact[item] == cnt and cnt >= threshold
