"""Focused equivalence tests for the round-9 optimization internals.

Every optimization this round restructured HOW a result is computed, never
WHAT — these tests pin the equivalences the restructures rely on:

- triangle_count's routed closing stage: the broadcast adjacency-intersect
  (small regime) and the wedge-join + left-semi close (big regime) count
  the same triangles on the same oriented edge set;
- triangle_count_with_audit: one materialization serving both the audit and
  the close reports the same facts as the independent audit operator, and
  still refuses over budget BEFORE any O(wedges) work;
- the canonical-first symmetric closure equals the old union-then-distinct;
- shard_component_stats' local union-find equals the distributed hash-min
  components on the same level-0 export;
- assume_canonical never changes an orientation's edge set.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


# a small graph with known triangles: two triangles sharing an edge,
# one pendant, one isolated edge
_PAIRS = [
    (1, 2), (2, 3), (1, 3),          # triangle 1-2-3
    (2, 4), (3, 4),                  # triangle 2-3-4 (shares edge 2-3)
    (4, 5),                          # pendant
    (8, 9),                          # isolated edge
    (2, 1),                          # reversed duplicate
    (3, 3),                          # loop (dropped)
]


def test_close_triangles_intersect_equals_wedge_semi(spark, force_large):
    """Both closing-stage routes count identical triangles — the default
    route takes the intersect, the forced route the wedge + semi close."""
    from vector_db_spark.operators.knn_graph import (
        _checkpoint_oriented,
        _close_triangles,
    )

    e = _checkpoint_oriented(_edges_df(spark, _PAIRS), "src", "dst", "degree")
    n_edges = e.count()
    small = _close_triangles(e, n_edges).collect()[0]["n_triangles"]  # intersect
    with force_large("knn_graph.triangle_close"):
        big = _close_triangles(e, n_edges).collect()[0]["n_triangles"]  # wedge + semi
    assert small == big == 2


def test_triangle_count_matches_pre_r9_wedge_shape(spark, force_large):
    """triangle_count's full output row is identical on both closing
    routes (the big-regime shape is the pre-r9 plan)."""
    import vector_db_spark.operators.knn_graph as kg

    df = _edges_df(spark, _PAIRS)
    routed = kg.triangle_count(df).collect()[0]
    with force_large("knn_graph.triangle_close"):
        wedge = kg.triangle_count(df).collect()[0]
    assert routed == wedge
    assert (routed["n_nodes"], routed["n_edges"], routed["n_triangles"]) == (
        7,
        7,
        2,
    )


def test_triangle_count_with_audit_matches_independent_audit(spark):
    """The shared-materialization form reports the same audit facts as the
    independent audit operator plus the same counts as triangle_count."""
    from vector_db_spark.operators.knn_graph import (
        triangle_count,
        triangle_count_with_audit,
        wedge_audit_from_edges,
    )

    df = _edges_df(spark, _PAIRS)
    aud = wedge_audit_from_edges(df).collect()[0]
    tri = triangle_count(df).collect()[0]
    row = triangle_count_with_audit(df, wedge_budget=10_000).collect()[0]
    assert row["n_wedges"] == aud["n_wedges"]
    assert row["n_edges"] == aud["n_edges"] == tri["n_edges"]
    assert row["n_nodes"] == tri["n_nodes"]
    assert row["n_triangles"] == tri["n_triangles"]
    assert row["within_budget"] is True


def test_triangle_count_with_audit_refuses_over_budget(spark):
    from vector_db_spark.operators.knn_graph import triangle_count_with_audit

    with pytest.raises(ValueError, match="prices at"):
        triangle_count_with_audit(
            _edges_df(spark, _PAIRS), wedge_budget=1
        ).collect()


def test_assume_canonical_same_oriented_set(spark):
    """On an already-canonical edge set the fast path yields the same
    oriented edges as the normalizing path."""
    from vector_db_spark.operators.knn_graph import _oriented_edges

    canon = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (4, 5), (8, 9)]
    df = _edges_df(spark, canon)
    a = set(map(tuple, _oriented_edges(df, "src", "dst", "degree").collect()))
    b = set(
        map(
            tuple,
            _oriented_edges(
                df, "src", "dst", "degree", assume_canonical=True
            ).collect(),
        )
    )
    assert a == b


def test_symmetric_edges_equals_union_then_distinct(spark):
    from vector_db_spark.operators.knn_graph import _symmetric_edges

    # duplicates, reverses, loops — the messy directed input shape
    raw = [(1, 2), (2, 1), (2, 3), (3, 3), (1, 2), (4, 1)]
    df = _edges_df(spark, raw)
    new = set(map(tuple, _symmetric_edges(df, "src", "dst").collect()))
    e = df.select("src", "dst")
    old = set(
        map(
            tuple,
            e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .collect(),
        )
    )
    assert new == old


def test_shard_component_stats_matches_hash_min(spark):
    """Local union-find per shard == distributed hash-min components, on a
    deterministic multi-shard level-0 export shape."""
    import random

    from vector_db_spark.operators.hnsw_export import shard_component_stats
    from vector_db_spark.operators.knn_graph import components_from_edges

    rng = random.Random(9)
    rows = []
    for cluster in (0, 1):
        for shard in (0, 1):
            base = 1000 * (2 * cluster + shard)
            ids = [base + i for i in range(40)]
            # two chains + isolated nodes per shard
            adj = {i: [] for i in ids}
            for a, b in zip(ids[:15], ids[1:16]):
                adj[a].append(b)
            for a, b in zip(ids[20:30], ids[21:31]):
                adj[a].append(b)
            # a few random extra edges inside the shard
            for _ in range(5):
                a, b = rng.sample(ids, 2)
                adj[a].append(b)
            rows += [
                (cluster, shard, i, 0, list(adj[i])) for i in ids
            ]
    l0 = spark.createDataFrame(
        rows,
        "cluster_id int, shard int, src_id long, level int, "
        "neighbors array<long>",
    )
    got = {
        (r["cluster_id"], r["shard"]): (r["max_comp"], r["shard_nodes"])
        for r in shard_component_stats(l0).collect()
    }
    # reference: hash-min components over the same edges, sized per shard
    edges = l0.select(
        F.col("src_id").alias("src"), F.explode("neighbors").alias("dst")
    )
    loops = l0.select(F.col("src_id").alias("src"), F.col("src_id").alias("dst"))
    comp = components_from_edges(edges.unionByName(loops))
    want_rows = (
        l0.select("cluster_id", "shard", F.col("src_id").alias("id"))
        .distinct()
        .join(comp, "id")
        .groupBy("cluster_id", "shard", "component")
        .agg(F.count("*").alias("csz"))
        .groupBy("cluster_id", "shard")
        .agg(F.max("csz").alias("max_comp"), F.sum("csz").alias("shard_nodes"))
        .collect()
    )
    want = {
        (r["cluster_id"], r["shard"]): (r["max_comp"], r["shard_nodes"])
        for r in want_rows
    }
    assert got == want
