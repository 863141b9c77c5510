"""Sufficient-statistics centroid maintenance (operators/centroid_stats.py)
and rendezvous sharding (operators/export.py).

Pins the exactness laws that make the designs work at scale:
merge(stats(A), stats(B)) == stats(A ∪ B) bit-for-bit (incremental ==
full recompute) and the rendezvous minimal-disruption property (moves
only to the new shard, ~1/(N+1)).
"""

from __future__ import annotations

import random

from vector_db_spark.operators.centroid_stats import (
    centroid_stats,
    centroids_from_stats,
    merge_centroid_stats,
)
from vector_db_spark.operators.export import rendezvous_shard


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], c) for i, v, c in rows],
        "vec_id long, embedding array<double>, cluster_id int",
    )


def test_merge_equals_full_recompute(spark):
    rng = random.Random(9)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(5)], rng.randrange(3)) for i in range(120)]
    a, b = rows[:70], rows[70:]
    merged = merge_centroid_stats(
        centroid_stats(_vecs(spark, a)), centroid_stats(_vecs(spark, b))
    )
    full = centroid_stats(_vecs(spark, rows))
    got = sorted(map(tuple, centroids_from_stats(merged).collect()))
    want = sorted(map(tuple, centroids_from_stats(full).collect()))
    assert got == want  # bit-for-bit, not approx: decimal sums are exact


def test_centroid_is_exact_mean(spark):
    rows = [(0, [1.0, 3.0], 0), (1, [3.0, 5.0], 0), (2, [10.0, 0.0], 1)]
    cents = {
        (r.cluster_id, r.dim_idx): r.centroid_val
        for r in centroids_from_stats(centroid_stats(_vecs(spark, rows))).collect()
    }
    assert cents == {(0, 0): 2.0, (0, 1): 4.0, (1, 0): 10.0, (1, 1): 0.0}


def test_empty_batch_update_is_noop(spark):
    rows = [(i, [float(i), 1.0], 0) for i in range(4)]
    base = centroid_stats(_vecs(spark, rows))
    empty = centroid_stats(_vecs(spark, []).limit(0))
    got = sorted(map(tuple, centroids_from_stats(merge_centroid_stats(base, empty)).collect()))
    want = sorted(map(tuple, centroids_from_stats(base).collect()))
    assert got == want


def test_rendezvous_moves_only_to_new_shard(spark):
    keys = spark.createDataFrame([(i,) for i in range(500)], "k long")
    both = rendezvous_shard(
        rendezvous_shard(keys, "k", 6, out_col="s6"), "k", 7, out_col="s7"
    ).collect()
    moved = [r for r in both if r.s6 != r.s7]
    assert moved, "growth must steal some keys"
    assert all(r.s7 == 6 for r in moved)  # the rendezvous property
    # expected churn 1/7 ≈ 71; generous band
    assert 35 <= len(moved) <= 110
    assert {r.s6 for r in both} == set(range(6))


def test_rendezvous_deterministic_and_salted(spark):
    keys = spark.createDataFrame([(i,) for i in range(100)], "k long")
    a = {r.k: r.shard_id for r in rendezvous_shard(keys, "k", 4).collect()}
    b = {r.k: r.shard_id for r in rendezvous_shard(keys, "k", 4).collect()}
    assert a == b
    c = {r.k: r.shard_id for r in rendezvous_shard(keys, "k", 4, salt="other").collect()}
    assert a != c
