"""Per-partition HNSW export (operators/hnsw_export.py): determinism,
structural invariants (the reference's own test battery — level-0
completeness, degree caps, connectivity ≥ 0.9, reference
tests/indexing/test_hnsw.py:155-185), and search recall over the exported
artifact at the reference's thresholds (recall@5 ≥ 0.7 on ≥ 80 % of
queries, test_hnsw.py:113-153)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.hnsw_export import (
    export_partition_hnsw,
    hnsw_graph_search,
)

M = 8
EFC = 50


@pytest.fixture(scope="module")
def exported(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings").withColumnRenamed(
        "label", "cluster_id"
    )
    g = export_partition_hnsw(emb, m=M, ef_construction=EFC).cache()
    g.count()
    return emb, g


def test_export_is_deterministic(spark, exported):
    emb, g = exported
    g2 = export_partition_hnsw(emb.repartition(7), m=M, ef_construction=EFC)
    a = {(r.cluster_id, r.src_id, r.level): tuple(r.neighbors) for r in g.collect()}
    b = {(r.cluster_id, r.src_id, r.level): tuple(r.neighbors) for r in g2.collect()}
    assert a == b


def test_level0_contains_every_node(exported):
    emb, g = exported
    n = emb.count()
    l0 = g.filter(F.col("level") == 0).select("src_id").distinct().count()
    assert l0 == n


def test_levels_thin_out_geometrically(exported):
    _, g = exported
    per_level = {
        r.level: r.cnt
        for r in g.groupBy("level").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_level[0] > per_level.get(1, 0) > per_level.get(3, -1)


def test_degree_caps(exported):
    _, g = exported
    caps = g.select(
        "level", F.size("neighbors").alias("deg")
    ).groupBy("level").agg(F.max("deg").alias("mx")).collect()
    for r in caps:
        cap = 2 * M if r.level == 0 else M
        assert r.mx <= cap, (r.level, r.mx)


def test_within_cluster_connectivity(exported):
    """≥ 90 % of each cluster's nodes reachable over level-0 edges
    (reference invariant, BFS per cluster at fixture scale)."""
    _, g = exported
    rows = g.filter(F.col("level") == 0).collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, {})[r.src_id] = set(r.neighbors)
    for c, adj in by_cluster.items():
        nodes = set(adj)
        for s, ns in list(adj.items()):
            for j in ns:
                adj.setdefault(j, set()).add(s)
        start = min(nodes)
        seen, frontier = {start}, [start]
        while frontier:
            frontier = [
                j
                for u in frontier
                for j in adj.get(u, ())
                if j not in seen and not seen.add(j)
            ]
        assert len(seen & nodes) / len(nodes) >= 0.9, c


def test_search_recall_on_export(exported):
    emb, g = exported
    cluster = (
        emb.groupBy("cluster_id").count().orderBy(F.desc("count")).first().cluster_id
    )
    vec_rows = emb.filter(F.col("cluster_id") == cluster).collect()
    vectors = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in vec_rows}
    graph_rows = g.filter(F.col("cluster_id") == cluster).collect()

    ids = sorted(vectors)
    X = np.array([vectors[i] for i in ids])
    hits = 0
    queries = ids[:10]
    for q in queries:
        d = np.sqrt(((X - vectors[q]) ** 2).sum(axis=1))
        order = np.lexsort((ids, np.round(d, 6)))
        truth = {ids[i] for i in order[:5]}
        got = set(hnsw_graph_search(graph_rows, vectors, vectors[q], 5, ef=EFC))
        if len(truth & got) / 5 >= 0.7:
            hits += 1
    assert hits >= 0.8 * len(queries), hits


def test_self_search_finds_self(exported):
    emb, g = exported
    r0 = emb.first()
    vec_rows = emb.filter(F.col("cluster_id") == r0.cluster_id).collect()
    vectors = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in vec_rows}
    graph_rows = g.filter(F.col("cluster_id") == r0.cluster_id).collect()
    got = hnsw_graph_search(graph_rows, vectors, vectors[r0.vec_id], 1, ef=EFC)
    assert got == [r0.vec_id]


def test_mega_cluster_is_sharded_within_memory_bound(spark):
    """Round-4 hardening: one hot cluster must not become one unbounded
    task. With max_group=64 a 400-node cluster must split into
    ceil(400/64)=7 shards, each graph bounded (hash split is uneven but
    concentration keeps every shard well under 2*max_group), level-0
    complete across shards, degree-capped, and per-shard connected."""
    import pandas as pd

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "cluster_id": np.zeros(400, dtype=np.int64),
            "vec_id": np.arange(400, dtype=np.int64),
            "embedding": [rng.normal(size=8).tolist() for _ in range(400)],
        }
    )
    emb = spark.createDataFrame(pdf)
    g = export_partition_hnsw(emb, m=4, ef_construction=20, max_group=64).cache()
    shards = {r.shard for r in g.select("shard").distinct().collect()}
    assert shards == set(range(7))  # ceil(400/64)
    per_shard = {
        r.shard: r.n
        for r in g.filter(F.col("level") == 0)
        .groupBy("shard")
        .agg(F.countDistinct("src_id").alias("n"))
        .collect()
    }
    assert sum(per_shard.values()) == 400  # level-0 complete across shards
    assert max(per_shard.values()) < 2 * 64  # task memory bound holds
    # each shard's graph is internally connected (>= 90%)
    rows = g.filter(F.col("level") == 0).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, {})[r.src_id] = set(r.neighbors)
    for s, adj in by_shard.items():
        nodes = set(adj)
        for u, ns in list(adj.items()):
            for j in ns:
                adj.setdefault(j, set()).add(u)
        start = min(nodes)
        seen, frontier = {start}, [start]
        while frontier:
            frontier = [
                j
                for u in frontier
                for j in adj.get(u, ())
                if j not in seen and not seen.add(j)
            ]
        assert len(seen & nodes) / len(nodes) >= 0.9, s
    # determinism survives sharding (layout-independent hash split)
    g2 = export_partition_hnsw(
        emb.repartition(5), m=4, ef_construction=20, max_group=64
    )
    a = {(r.shard, r.src_id, r.level): tuple(r.neighbors) for r in g.collect()}
    b = {(r.shard, r.src_id, r.level): tuple(r.neighbors) for r in g2.collect()}
    assert a == b


