"""k-NN graph export tests: degree bounds, determinism, and the
reference's connectivity invariant (test_hnsw.py:155-185, ≥ 90%)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.ivf import IVFIndex
from vector_db_spark.operators.knn_graph import (
    components_from_edges,
    graph_connectivity,
    knn_graph,
)


@pytest.fixture(scope="module")
def graph(spark, sf_smoke, tmp_path_factory):
    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFIndex.build(spark, emb, 6, str(tmp_path_factory.mktemp("g") / "ivf"))
    return knn_graph(idx.corpus(), m=8, centroids=idx.centroids())


def test_degree_and_self_exclusion(spark, sf_smoke, graph):
    rows = graph.collect()
    assert len(rows) == load_table(spark, sf_smoke, "embeddings").count()
    for r in rows[:100]:
        assert len(r.neighbors) == 8
        assert r.vec_id not in r.neighbors


def test_graph_deterministic(spark, sf_smoke, graph):
    """A fresh build (same seed) produces the identical adjacency."""
    import tempfile

    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFIndex.build(spark, emb, 6, tempfile.mkdtemp() + "/ivf")
    again = knn_graph(idx.corpus(), m=8, centroids=idx.centroids())
    a = sorted((r.vec_id, tuple(r.neighbors)) for r in graph.collect())
    b = sorted((r.vec_id, tuple(r.neighbors)) for r in again.collect())
    assert a == b


def test_connectivity_invariant(graph):
    """≥ 90% of nodes reachable (undirected) from the entry node — the
    reference's HNSW structural test carried over to the exported graph."""
    assert graph_connectivity(graph) >= 0.9


def test_mega_cluster_salt_split(spark):
    """One deliberately skewed cluster (all 400 vectors): with
    max_group=64 the kernel never sees more than ~64 rows per task, yet
    every vector still gets m neighbors and the union of the independent
    salt rounds keeps the graph connected."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0) for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, cluster_id int"
    )
    g = knn_graph(df, m=4, max_group=64, salt_rounds=2)
    rows = g.collect()
    assert len(rows) == 400
    assert all(len(r.neighbors) == 4 and r.vec_id not in r.neighbors for r in rows)
    assert graph_connectivity(g) >= 0.9


def _components(graph):
    """Hash-min component labels of an adjacency-shaped graph; a self-loop
    per node keeps nodes without neighbors as singletons."""
    edges = graph.select(F.col("vec_id").alias("src"), F.explode("neighbors").alias("dst"))
    loops = graph.select(F.col("vec_id").alias("src"), F.col("vec_id").alias("dst"))
    return {
        r.id: r.component
        for r in components_from_edges(edges.unionByName(loops)).collect()
    }


def test_distributed_connectivity_agrees_with_bfs(spark, graph):
    """Pregel-style hash-min result == driver BFS, on the real fixture
    graph and on a deliberately disconnected one."""
    # hash-min labels each component by its min member id, so the min-id
    # node's component is the one labelled min(ids)
    comps = _components(graph)
    reach = sum(c == min(comps) for c in comps.values()) / len(comps)
    assert abs(reach - graph_connectivity(graph)) < 1e-9

    two_islands = spark.createDataFrame(
        [(0, [1]), (1, [0]), (10, [11, 12]), (11, [10]), (12, [10])],
        "vec_id long, neighbors array<bigint>",
    )
    assert graph_connectivity(two_islands) == 0.4
    assert _components(two_islands) == {0: 0, 1: 0, 10: 10, 11: 10, 12: 10}


def test_components_long_path_converges_logarithmically(spark, monkeypatch):
    """A 200-link path has diameter 200: pure label propagation needs
    ~200 rounds, so a 20-round cap proves the pointer-shortcutting rounds
    are O(log n). Labels must be the exact min member id (0)."""
    from vector_db_spark.operators import knn_graph as kg

    monkeypatch.setattr(kg, "_MAX_ITER", 20)
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    comp = {
        r.id: r.component
        for r in components_from_edges(edges).collect()
    }
    assert comp == {i: 0 for i in range(n + 1)}


def test_components_random_graph_matches_union_find(spark):
    import random

    rng = random.Random(5)
    n, m = 120, 150
    raw = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    raw = [(a, b) for a, b in raw if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        parent[find(a)] = find(b)
    want_sets: dict[int, list[int]] = {}
    for i in range(n):
        want_sets.setdefault(find(i), []).append(i)
    want = {i: min(ms) for ms in want_sets.values() for i in ms}

    from vector_db_spark.operators.knn_graph import components_from_edges

    # a self-loop per node keeps the isolated ones as singletons
    loops = [(i, i) for i in range(n)]
    edges = spark.createDataFrame(raw + loops, "src long, dst long")
    got = {r.id: r.component for r in components_from_edges(edges).collect()}
    assert got == want


def test_components_nonconvergence_raises(spark, monkeypatch):
    from vector_db_spark.operators import knn_graph as kg

    monkeypatch.setattr(kg, "_MAX_ITER", 2)
    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        components_from_edges(edges)


def test_tiny_cluster_graceful(spark):
    """Cluster smaller than m+1: neighbors = all others, no error."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [9.0, 9.0], 1)],
        "vec_id long, embedding array<float>, cluster_id int",
    )
    rows = {r.vec_id: r.neighbors for r in knn_graph(df, m=8).collect()}
    assert rows[1] == [2] and rows[2] == [1]
    assert rows[3] == []  # singleton cluster → no neighbors


# --- PageRank ------------------------------------------------------------------


def _ref_pagerank(edges, nodes, damping=0.85, n_iter=15):
    from collections import defaultdict

    out = defaultdict(list)
    for s, d in sorted(set(edges)):
        out[s].append(d)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(rank[v] for v in nodes if v not in out)
        new = {v: (1 - damping) / n + damping * dangling / n for v in nodes}
        for s, ds in out.items():
            share = rank[s] / len(ds)
            for d in ds:
                new[d] += damping * share
        rank = new
    return rank


def _global_pagerank(edges, nodes, **kw):
    """Global PageRank as personalized PageRank whose restart set is every
    node: uniform teleport and uniform dangling redistribution."""
    from vector_db_spark.operators.knn_graph import personalized_pagerank

    return personalized_pagerank(edges, nodes.select("id"), nodes=nodes, **kw)


def test_pagerank_matches_reference(spark):

    # a graph with a hub, a chain, and a dangling node (4 has no out-edges)
    edges = [(0, 1), (1, 2), (2, 0), (3, 0), (0, 4), (2, 4)]
    nodes = [0, 1, 2, 3, 4, 5]  # 5 is isolated
    df = spark.createDataFrame(edges, "src long, dst long")
    nd = spark.createDataFrame([(v,) for v in nodes], "id long")
    got = {
        r["id"]: r["rank"]
        for r in _global_pagerank(df, nd, n_iter=15).collect()
    }
    want = _ref_pagerank(edges, nodes, n_iter=15)
    assert set(got) == set(want)
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_random_graph_and_partition_invariance(spark):
    import random

    rng = random.Random(3)
    nodes = list(range(40))
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(160)})
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src long, dst long")
    nd = spark.createDataFrame([(v,) for v in nodes], "id long")
    got = {
        r["id"]: r["rank"]
        for r in _global_pagerank(df.repartition(9), nd, n_iter=12).collect()
    }
    want = _ref_pagerank(edges, nodes, n_iter=12)
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-8


def test_triangle_count_known_graphs(spark):
    from vector_db_spark.operators.knn_graph import triangle_count

    # K4 (4 triangles) ∪ a path 10-11-12 (0 triangles) ∪ a triangle 20-21-22
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(10, 11), (11, 12)] + [(20, 21), (21, 22), (22, 20)]
    # duplicates and reversed edges must not change the count
    edges = edges + [(b, a) for a, b in edges[:4]] + edges[:2]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert row["n_triangles"] == 5
    assert row["n_edges"] == len(k4) + 2 + 3
    assert row["n_nodes"] == 4 + 3 + 3


def test_cooccurrence_edges_caps_are_exact_and_ordered(spark):
    """The wave-10 throttles, pinned against a brute-force replay: the hub
    cut runs on RAW dfs (before the basket cap), the basket cap keeps the
    smallest item ids, and the edge list equals the per-basket pairs of
    the surviving (basket, item) table."""
    from itertools import combinations

    from vector_db_spark.operators.knn_graph import cooccurrence_edges

    # item 99 is the hub (df=4 > max_item_df=3); basket 1 has 5 items
    # (cap=3 keeps 10,20,30); duplicates in the fact table must not count
    facts = [
        (1, 99), (1, 10), (1, 20), (1, 30), (1, 40), (1, 10),
        (2, 99), (2, 10), (2, 20),
        (3, 99), (3, 30),
        (4, 99), (4, 40), (4, 50),
    ]
    df = spark.createDataFrame(facts, "b long, i long")
    got = {
        (r.src, r.dst)
        for r in cooccurrence_edges(
            df, "b", "i", max_item_df=3, max_basket_size=3
        ).collect()
    }

    # brute-force replay: raw df per item → drop items with df > 3 →
    # per basket keep the 3 smallest ids → all in-basket pairs
    bi = sorted(set(facts))
    from collections import Counter

    dfs = Counter(i for _, i in bi)
    bi = [(b, i) for b, i in bi if dfs[i] <= 3]
    by_basket: dict[int, list[int]] = {}
    for b, i in bi:
        by_basket.setdefault(b, []).append(i)
    want = set()
    for items in by_basket.values():
        for x, y in combinations(sorted(items)[:3], 2):
            want.add((x, y))
    assert got == want
    # the hub really was cut, and basket 1's largest id really was capped
    assert all(99 not in e for e in got)
    assert all(40 not in e or e == (40, 50) for e in got)


def test_cooccurrence_hub_cut_uses_raw_df(spark):
    """A hub must not sneak under the df ceiling because the basket cap
    shaved its occurrences: item 7 has raw df 3 (> cap 2) but would have
    df 1 if the basket cap (keep 1 smallest) ran first."""
    from vector_db_spark.operators.knn_graph import cooccurrence_edges

    facts = [(1, 7), (1, 3), (2, 7), (2, 3), (3, 7), (3, 8)]
    df = spark.createDataFrame(facts, "b long, i long")
    got = {
        (r.src, r.dst)
        for r in cooccurrence_edges(
            df, "b", "i", max_item_df=2, max_basket_size=2
        ).collect()
    }
    assert all(7 not in e for e in got)


def test_cooccurrence_wedge_audit_matches_brute(spark):
    """The audit's Σ indeg·outdeg equals a brute-force replay of the degree
    orientation AND the actual row count of triangle_count's middle-vertex
    wedge join — the number IS the join's shuffle bill, not an estimate or
    a different wedge algorithm's bound."""
    from collections import Counter

    from vector_db_spark.operators.knn_graph import (
        _oriented_edges,
        cooccurrence_edges,
        cooccurrence_wedge_audit,
    )

    facts = [(b, i) for b in range(1, 8) for i in range(b, b + 4)]
    df = spark.createDataFrame(facts, "b long, i long")
    edge_df = cooccurrence_edges(df, "b", "i")
    edges = {(r.src, r.dst) for r in edge_df.collect()}
    deg = Counter()
    for a, c in edges:
        deg[a] += 1
        deg[c] += 1
    out, inn = Counter(), Counter()
    for a, c in edges:
        s, t = (a, c) if (deg[a], a) < (deg[c], c) else (c, a)
        out[s] += 1
        inn[t] += 1
    want_wedges = sum(out[v] * inn[v] for v in set(out) | set(inn))
    row = cooccurrence_wedge_audit(df, "b", "i").collect()[0]
    assert row.n_edges == len(edges)
    assert row.n_wedges == want_wedges
    assert row.max_outdeg == max(out.values())
    # and it equals what the wedge join REALLY materializes
    e = _oriented_edges(edge_df, "src", "dst", "degree")
    joined = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .count()
    )
    assert row.n_wedges == joined


def test_cooccurrence_wedge_audit_hub_graph_is_not_outdeg_squared(spark):
    """On a hub-skewed graph the middle-vertex join bill (Σ indeg·outdeg)
    and the pairs-of-out-edges bound (Σ outdeg²) genuinely differ — pin
    that the audit reports the former (the join the engine actually runs),
    so budget-derived caps are neither too tight nor falsely refused."""
    from collections import Counter

    from vector_db_spark.operators.knn_graph import cooccurrence_wedge_audit

    # star: hub item 0 shares a basket with each leaf; plus a triangle
    facts = [(b, 0) for b in range(1, 7)] + [(b, b) for b in range(1, 7)]
    facts += [(10, 101), (10, 102), (10, 103)]
    df = spark.createDataFrame(facts, "b long, i long")
    # brute replay
    from itertools import combinations

    by_b: dict[int, list[int]] = {}
    for b, i in sorted(set(facts)):
        by_b.setdefault(b, []).append(i)
    edges = set()
    for items in by_b.values():
        for x, y in combinations(sorted(items), 2):
            edges.add((x, y))
    deg = Counter()
    for a, c in edges:
        deg[a] += 1
        deg[c] += 1
    out, inn = Counter(), Counter()
    for a, c in edges:
        s, t = (a, c) if (deg[a], a) < (deg[c], c) else (c, a)
        out[s] += 1
        inn[t] += 1
    want = sum(out[v] * inn[v] for v in set(out) | set(inn))
    sq = sum(d * d for d in out.values())
    assert want != sq  # the two formulas disagree on this graph
    row = cooccurrence_wedge_audit(df, "b", "i").collect()[0]
    assert row.n_wedges == want


def test_derive_cooccurrence_caps_first_fit_and_refusal(spark):
    from vector_db_spark.operators.knn_graph import (
        cooccurrence_wedge_audit,
        derive_cooccurrence_caps,
    )

    # one dense basket of 10 items: uncapped wedge bill is large,
    # cap=3 shrinks it to C(3,2)=3 edges
    facts = [(1, i) for i in range(10)] + [(2, 100), (2, 101)]
    df = spark.createDataFrame(facts, "b long, i long")
    full = cooccurrence_wedge_audit(df, "b", "i").collect()[0].n_wedges
    small = (
        cooccurrence_wedge_audit(df, "b", "i", max_basket_size=3)
        .collect()[0]
        .n_wedges
    )
    assert small < full
    # budget between the two: must skip the loose rung and take the tight one
    res = derive_cooccurrence_caps(
        df,
        "b",
        "i",
        wedge_budget=(small + full) // 2,
        ladder=((None, None), (None, 3)),
    )
    c = res["chosen"]
    assert (c["max_item_df"], c["max_basket_size"]) == (None, 3)
    assert len(res["ladder"]) == 2
    res_all = derive_cooccurrence_caps(
        df,
        "b",
        "i",
        wedge_budget=full + 1,
        ladder=((None, None), (None, 3)),
    )
    c = res_all["chosen"]
    assert (c["max_item_df"], c["max_basket_size"]) == (None, None)
    assert len(res_all["ladder"]) == 1  # stopped at the first fit
    with pytest.raises(ValueError, match="no ladder rung fits"):
        derive_cooccurrence_caps(
            df, "b", "i", wedge_budget=0, ladder=((None, None), (None, 3))
        )
    # strict=False reports instead of raising: full ladder, no choice
    res_none = derive_cooccurrence_caps(
        df,
        "b",
        "i",
        wedge_budget=0,
        ladder=((None, None), (None, 3)),
        audit_all=True,
        strict=False,
    )
    assert res_none["chosen"] is None
    assert len(res_none["ladder"]) == 2
    assert not any(a["fits"] for a in res_none["ladder"])


def test_cooccurrence_uncapped_matches_plain_pairs(spark):
    """With no caps the operator is the plain distinct co-occurrence pair
    set (no silent default throttling)."""
    from vector_db_spark.operators.knn_graph import cooccurrence_edges

    facts = [(1, 5), (1, 6), (1, 7), (2, 6), (2, 7), (2, 6)]
    df = spark.createDataFrame(facts, "b long, i long")
    got = {(r.src, r.dst) for r in cooccurrence_edges(df, "b", "i").collect()}
    assert got == {(5, 6), (5, 7), (6, 7)}


def test_link_prediction_known_graph(spark):
    from vector_db_spark.operators.knn_graph import link_prediction_jaccard

    # star 0-{1,2,3} plus edge 1-2: candidates (1,3),(2,3) share neighbor 0;
    # (1,2) is an existing edge and must be excluded
    edges = [(0, 1), (0, 2), (0, 3), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["a"], r["b"]): r.asDict() for r in
           link_prediction_jaccard(df, top_n=10).collect()}
    assert (1, 2) not in got
    # deg(1)=2, deg(3)=1, common={0} → jaccard 1/(2+1-1) = 0.5
    assert got[(1, 3)]["common"] == 1 and got[(1, 3)]["jaccard"] == 0.5
    assert got[(2, 3)]["jaccard"] == 0.5


def test_link_prediction_scoped_sources(spark):
    from vector_db_spark.operators.knn_graph import link_prediction_jaccard

    edges = [(0, 1), (0, 2), (0, 3), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(3,)], "id long")
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           link_prediction_jaccard(df, top_n=10, sources=src).collect()}
    # only pairs with a == 3 appear; directed (3, b) including b < a
    assert set(k[0] for k in got) == {3}
    assert got[(3, 1)] == 0.5 and got[(3, 2)] == 0.5


def test_adamic_adar_known_graph(spark):
    import math

    from vector_db_spark.operators.knn_graph import link_prediction_adamic_adar

    # two shared neighbors of different degree: pair (1,2) connects through
    # hub 0 (deg 4) AND lower-degree 3 (deg 3); pair (1,4) only through hub 0.
    # AA must rank (1,2) above (1,4) by the hub discount.
    edges = [(0, 1), (0, 2), (0, 4), (3, 1), (3, 2), (0, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["a"], r["b"]): r.asDict() for r in
           link_prediction_adamic_adar(df, top_n=10).collect()}
    aa_12 = round(round(1 / math.log(4), 12) + round(1 / math.log(3), 12), 6)
    aa_14 = round(round(1 / math.log(4), 12), 6)
    assert got[(1, 2)]["common"] == 2 and abs(got[(1, 2)]["aa_score"] - aa_12) < 1e-9
    assert got[(1, 4)]["common"] == 1 and abs(got[(1, 4)]["aa_score"] - aa_14) < 1e-9
    assert got[(1, 2)]["aa_score"] > got[(1, 4)]["aa_score"]


@pytest.mark.parametrize("scorer", ["jaccard", "adamic_adar"])
def test_link_prediction_large_routes_match_default(spark, force_large, scorer):
    """The un-hinted degree join, and with ``sources`` the un-hinted wedge
    side, return the default route's rows."""
    from vector_db_spark.operators import knn_graph

    fn = getattr(knn_graph, f"link_prediction_{scorer}")
    edges = [(0, 1), (0, 2), (0, 4), (3, 1), (3, 2), (0, 3), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(1,), (4,)], "id long")
    for sources, sites in (
        (None, ("knn_graph.degree",)),
        (src, ("knn_graph.degree", "knn_graph.wedge_side")),
    ):
        want = sorted(map(tuple, fn(df, top_n=10, sources=sources).collect()))
        with force_large(*sites):
            got = fn(df, top_n=10, sources=sources)
        assert sorted(map(tuple, got.collect())) == want and want


# --- deterministic random walks ----------------------------------------------


def test_random_walks_follow_edges_and_are_deterministic(spark):
    from vector_db_spark.operators.knn_graph import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (2, 3), (3, 1), (3, 2)], "src long, dst long"
    )
    starts = spark.createDataFrame([(1,), (2,)], "start long")
    adj = {1: {2, 3}, 2: {1, 3}, 3: {1, 2}}
    a = sorted(map(tuple, random_walks(edges, starts, length=5).collect()))
    b = sorted(map(tuple, random_walks(edges.repartition(7), starts, length=5).collect()))
    assert a == b  # layout-invariant
    assert len(a) == 2 * 6  # 2 starts x (step 0..5)
    walk = {s: {} for s in (1, 2)}
    for start, step, node in a:
        walk[start][step] = node
    for s in (1, 2):
        assert walk[s][0] == s
        for i in range(5):
            assert walk[s][i + 1] in adj[walk[s][i]]  # every hop is a real edge


def test_random_walks_stop_at_dead_ends(spark):
    from vector_db_spark.operators.knn_graph import random_walks

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")  # 2 is a sink
    starts = spark.createDataFrame([(1,)], "start long")
    rows = sorted(map(tuple, random_walks(edges, starts, length=4).collect()))
    assert rows == [(1, 0, 1), (1, 1, 2)]  # walk ends when node 2 has no out-edges


def test_random_walks_salt_changes_paths(spark):
    from vector_db_spark.operators.knn_graph import random_walks

    edges = spark.createDataFrame(
        [(i, j) for i in range(10) for j in range(10) if i != j], "src long, dst long"
    )
    starts = spark.createDataFrame([(i,) for i in range(10)], "start long")
    a = sorted(map(tuple, random_walks(edges, starts, length=3, salt="s1").collect()))
    b = sorted(map(tuple, random_walks(edges, starts, length=3, salt="s2").collect()))
    assert a != b  # independent walk draws per salt


def test_sample_non_edges_are_real_non_edges_and_deterministic(spark):
    from vector_db_spark.operators.knn_graph import sample_non_edges

    edges = spark.createDataFrame(
        [(i, (i + 1) % 20) for i in range(20)] + [(i, (i + 3) % 20) for i in range(20)],
        "src long, dst long",
    )
    adj = {(r.src, r.dst) for r in edges.collect()}
    a = sorted(map(tuple, sample_non_edges(edges, n_per_node=4).collect()))
    b = sorted(map(tuple, sample_non_edges(edges.repartition(9), n_per_node=4).collect()))
    assert a == b  # layout-invariant draw
    per_src = {}
    for src, neg in a:
        assert (src, neg) not in adj and src != neg  # genuinely negative
        per_src[src] = per_src.get(src, 0) + 1
    assert set(per_src.values()) == {4}  # full quota everywhere


def test_skipgram_pairs_window(spark):
    from vector_db_spark.operators.knn_graph import skipgram_pairs

    walks = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 11), (1, 2, 12), (1, 3, 13)],
        "start long, step long, node long",
    )
    got = {(r.center, r.context, r.offset) for r in skipgram_pairs(walks, window=2).collect()}
    assert (10, 11, 1) in got and (10, 12, 2) in got and (10, 13, 3) not in got
    assert (12, 10, -2) in got and (13, 11, -2) in got
    # every center has contexts only within the window
    assert all(abs(off) <= 2 for _, _, off in got)


def test_node2vec_return_bias_oscillates(spark):
    from vector_db_spark.operators.knn_graph import node2vec_walks

    # path graph 0-1-2-3...: with overwhelming return weight (p tiny) every
    # step after the first must backtrack
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(i + 1, i) for i in range(6)],
        "src long, dst long",
    )
    starts = spark.createDataFrame([(3,)], "start long")
    walk = {
        r.step: r.node
        for r in node2vec_walks(edges, starts, length=4, p=2**-20, q=1.0).collect()
    }
    assert walk[2] == walk[0] and walk[3] == walk[1]  # constant backtracking


def test_node2vec_locality_bias_stays_in_triangle(spark):
    from vector_db_spark.operators.knn_graph import node2vec_walks

    # triangle {0,1,2} plus a pendant path 2-9-10: with q huge (explore
    # weight ~0) and p=1, from any triangle node the walk prefers
    # candidates adjacent to the previous node -> stays in the triangle
    tri = [(a, b) for a in (0, 1, 2) for b in (0, 1, 2) if a != b]
    path = [(2, 9), (9, 2), (9, 10), (10, 9)]
    edges = spark.createDataFrame(tri + path, "src long, dst long")
    starts = spark.createDataFrame([(0,)], "start long")
    nodes = {
        r.node
        for r in node2vec_walks(edges, starts, length=6, p=1.0, q=2**20).collect()
    }
    assert nodes <= {0, 1, 2}


def test_node2vec_layout_invariant(spark):
    from vector_db_spark.operators.knn_graph import node2vec_walks

    edges = spark.createDataFrame(
        [(i, j) for i in range(12) for j in range(12) if i != j], "src long, dst long"
    )
    starts = spark.createDataFrame([(i,) for i in range(6)], "start long")
    a = sorted(map(tuple, node2vec_walks(edges, starts, length=4).collect()))
    b = sorted(map(tuple, node2vec_walks(edges.repartition(11), starts, length=4).collect()))
    assert a == b


def test_personalized_pagerank_matches_numpy_reference(spark):
    import numpy as np

    from vector_db_spark.operators.knn_graph import personalized_pagerank

    rng_edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 4), (4, 0)]
    edges = spark.createDataFrame(rng_edges, "src long, dst long")
    sources = spark.createDataFrame([(0,)], "s long")
    got = {
        r.id: r.rank
        for r in personalized_pagerank(edges, sources, n_iter=25).collect()
    }
    n = 5
    A = np.zeros((n, n))
    for s, d in rng_edges:
        A[s, d] = 1
    P = A / A.sum(axis=1, keepdims=True)
    e_s = np.zeros(n); e_s[0] = 1.0
    r = e_s.copy()
    for _ in range(25):
        dang = 0.0  # every node has out-edges here
        r = 0.15 * e_s + 0.85 * (r @ P + dang * e_s)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_personalized_pagerank_concentrates_near_sources(spark):
    from vector_db_spark.operators.knn_graph import personalized_pagerank

    # two loosely-connected cliques; personalize on clique A
    a = [(i, j) for i in range(5) for j in range(5) if i != j]
    b = [(i, j) for i in range(10, 15) for j in range(10, 15) if i != j]
    bridge = [(4, 10), (10, 4)]
    edges = spark.createDataFrame(a + b + bridge, "src long, dst long")
    sources = spark.createDataFrame([(0,), (1,)], "s long")
    ppr = {r.id: r.rank for r in personalized_pagerank(edges, sources, n_iter=20).collect()}
    nodes = spark.createDataFrame([(v,) for v in range(5)] + [(v,) for v in range(10, 15)], "id long")
    gpr = {r.id: r.rank for r in _global_pagerank(edges, nodes, n_iter=20).collect()}
    mass_a_ppr = sum(v for k, v in ppr.items() if k < 10)
    mass_a_gpr = sum(v for k, v in gpr.items() if k < 10)
    assert mass_a_ppr > 0.85 and mass_a_ppr > mass_a_gpr + 0.3  # concentrated vs ~0.5 global


def test_personalized_pagerank_dangling_mass_returns_to_sources(spark):
    from vector_db_spark.operators.knn_graph import personalized_pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")  # 2 dangles
    sources = spark.createDataFrame([(0,)], "s long")
    got = {r.id: r.rank for r in personalized_pagerank(edges, sources, n_iter=30).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[0] > got[2] > 0  # restart keeps source hot; chain decays


def test_node_numbering_strategies_agree(spark):
    """The adaptive switch in sample_non_edges is sound only if the
    window numbering and the range-repartitioned numbering are the SAME
    function of the node set — pin it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vector_db_spark.operators.packing import global_row_number

    nodes = spark.createDataFrame(
        [((i * 37) % 1000,) for i in range(1000)], "node long"
    ).distinct()
    via_window = {
        (r["node"], r["__idx"])
        for r in nodes.withColumn(
            "__idx", F.row_number().over(Window.orderBy("node")) - 1
        ).collect()
    }
    via_range = {
        (r["node"], r["__idx"])
        for r in global_row_number(
            nodes.repartition(7), ["node"], out_col="__idx"
        ).collect()
    }
    assert via_window == via_range


def test_edge_support_and_ktruss_match_reference(spark):
    """k-truss vs a pure-Python peeling reference on a structured graph:
    a K5 clique (every edge support 3 within it), a triangle pendant,
    and a chain (support 0)."""
    import itertools

    def py_truss(edges, k):
        es = {tuple(sorted(e)) for e in edges}
        while True:
            sup = {e: 0 for e in es}
            for a, b, c in itertools.combinations(sorted({v for e in es for v in e}), 3):
                if ((a, b) in es) and ((b, c) in es) and ((a, c) in es):
                    for e in ((a, b), (b, c), (a, c)):
                        sup[e] += 1
            keep = {e for e in es if sup[e] >= k - 2}
            if keep == es:
                return es
            es = keep

    from vector_db_spark.operators.knn_graph import _edge_support, k_truss

    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    extra = [(4, 10), (10, 11), (11, 4), (11, 20), (20, 21)]
    edges = clique + extra
    df = spark.createDataFrame(edges, "src long, dst long")

    canon = df.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    sup = {(r.a, r.b): r.support for r in _edge_support(canon, canon.count()).collect()}
    assert sup[(0, 1)] == 3 and sup[(20, 21)] == 0 and sup[(4, 10)] == 1

    for k in (3, 4, 5):
        got = {(r.src, r.dst) for r in k_truss(df, k).collect()}
        assert got == py_truss(edges, k), k
    # k=4: the pendant triangle (support 1 each) peels away, K5 survives
    got4 = {(r.src, r.dst) for r in k_truss(df, 4).collect()}
    assert got4 == set(map(tuple, clique))
    # support reported on the FINAL subgraph
    final_sup = {(r.src, r.dst): r.support for r in k_truss(df, 4).collect()}
    assert all(v == 3 for v in final_sup.values())


def test_ktruss_empty_and_validation(spark):
    import pytest as _pytest

    from vector_db_spark.operators.knn_graph import k_truss

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert k_truss(df, 3).count() == 0  # no triangles at all
    with _pytest.raises(ValueError, match="k >= 2"):
        k_truss(df, 1)


def test_triangle_degree_orientation_exact_and_hub_safe(spark):
    """Exact count under BOTH orientations on a hub-shaped graph, and the
    degree order provably de-fangs the hub: its out-degree is 0 where the
    id order (hub id 0) would emit every edge."""
    from vector_db_spark.operators.knn_graph import _oriented_edges, triangle_count

    # star hub 0 with 6 leaves + one triangle among leaves (1,2,3)
    edges = [(0, i) for i in range(1, 7)] + [(1, 2), (2, 3), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for orient in ("degree", "id"):
        row = triangle_count(df, orient=orient).collect()[0]
        assert (row.n_nodes, row.n_edges, row.n_triangles) == (7, 9, 4)
    out_deg = {
        r.a: r.c
        for r in _oriented_edges(df, "src", "dst", "degree")
        .groupBy("a").agg(F.count("*").alias("c")).collect()
    }
    assert 0 not in out_deg          # the hub only receives
    id_out = {
        r.a: r.c
        for r in _oriented_edges(df, "src", "dst", "id")
        .groupBy("a").agg(F.count("*").alias("c")).collect()
    }
    assert id_out[0] == 6            # the id order squares the hub
