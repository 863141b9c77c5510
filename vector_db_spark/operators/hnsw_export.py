"""Per-partition HNSW export — the serving-layer artifact for the one
reference capability this engine deliberately does not run online.

The reference's HNSW (reference hnsw.py:143-225 insert, 330-374 search)
is a sequentially-built mutable graph — anti-Spark as a *distributed*
index, which is why ANN search here is IVF/IVFPQ/LSH (SURVEY §2.3 V5,
documented divergence). But the graph itself is still the right artifact
for a low-latency *serving* tier, and building it is embarrassingly
parallel once the corpus is partitioned: each IVF cluster (or any
partition key) gets its own small in-memory HNSW built inside one Arrow
task, and the adjacency lists are exported as an ordinary DataFrame
``(cluster_id, src_id, level, neighbors array<long>)`` — rows a serving
process can load per cluster, no pickle (the reference pickles its graph,
hnsw.py:376-398; here index state is just a table, same stance as IVF).

Graph semantics follow the public HNSW construction (Malkov & Yashunin,
TPAMI'18), made **deterministic** so the export is reproducible:

- level(id) = ⌊−ln(u)·(1/ln M)⌋ with u drawn from md5(id) — the
  geometric level draw (reference hnsw.py:66-68) with a seeded-by-id
  uniform instead of a PRNG stream, so any task order yields the same
  levels;
- insertion in ascending id order within the partition;
- beam (ef_construction) candidate search per level, M nearest kept,
  bidirectional edges, degree pruned to M (2M at level 0) by
  (distance, id) order — ties cannot flip between runs.

Scale: per-task memory is O(n_shard · d + n_shard · M); compute
O(n_shard · ef · d) per insert. Mega-clusters are ENFORCED down to
``max_group`` (default ``HNSW_MAX_GROUP``) by the same sub-split-by-hash
guard as operators/knn_graph.py: each shard gets its own graph and the
serving tier fans out across shards like it already does across probed
clusters. The build never shuffles vectors beyond the partitionBy the
corpus already has.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LEVEL_DENOM = float(16**12)

# per-shard kernel bound: memory is O(n·d + n·M) (tens of MB at 8192×32d),
# but the binding constraint is the sequential O(n·ef·d) insert loop —
# 8192 keeps one task's build in seconds while leaving serving graphs
# usefully large; a mega-cluster becomes ceil(n/8192) independent shards
HNSW_MAX_GROUP = 8192


def _hash_uniform(ids: np.ndarray) -> np.ndarray:
    """Deterministic uniform in (0, 1] per id via md5 — same discipline as
    curation.weighted_sample (engine/run/layout invariant)."""
    import hashlib

    out = np.empty(len(ids), dtype=np.float64)
    for i, x in enumerate(ids):
        h = hashlib.md5(f"{int(x)}:hnsw".encode()).hexdigest()[:12]
        out[i] = (int(h, 16) + 1.0) / (_LEVEL_DENOM + 1.0)
    return out


def _levels_for(ids: np.ndarray, m: int) -> np.ndarray:
    mult = 1.0 / math.log(m)
    return np.floor(-np.log(_hash_uniform(ids)) * mult).astype(np.int64)


def _search_layer(
    X: np.ndarray,
    adj: list[dict[int, list[int]]],
    q: np.ndarray,
    entries: list[int],
    ef: int,
    level: int,
) -> list[tuple[float, int]]:
    """Beam search one layer: returns up to ef (dist, idx) sorted asc.
    Pure candidate/visited sets over numpy distances; deterministic
    because expansion order is (dist, idx)-heap order."""
    import heapq

    dist = lambda i: float(np.sqrt(((X[i] - q) ** 2).sum()))
    visited = set(entries)
    cand = [(dist(i), i) for i in entries]
    heapq.heapify(cand)
    best: list[tuple[float, int]] = [(-d, i) for d, i in cand]
    heapq.heapify(best)
    while cand:
        d, i = heapq.heappop(cand)
        if best and d > -best[0][0] and len(best) >= ef:
            break
        # one vectorized distance evaluation for ALL unvisited neighbors of
        # the popped node (a per-neighbor numpy call would dominate the
        # build's Python time). Each row of the batch is the same
        # contiguous float64 reduction the scalar form computed, so the
        # distances — and therefore the graph — are bit-identical; pushes
        # happen in the original adjacency order.
        fresh = [j for j in adj[level].get(i, ()) if j not in visited]
        if not fresh:
            continue
        visited.update(fresh)
        dj_all = np.sqrt(((X[fresh] - q) ** 2).sum(axis=1))
        for j, dj in zip(fresh, dj_all.tolist()):
            if len(best) < ef or dj < -best[0][0]:
                heapq.heappush(cand, (dj, j))
                heapq.heappush(best, (-dj, j))
                if len(best) > ef:
                    heapq.heappop(best)
    return sorted((-nd, i) for nd, i in best)


def _build_one_graph(
    ids: np.ndarray, X: np.ndarray, m: int, ef_construction: int
) -> list[tuple[int, int, list[int]]]:
    """Sequential HNSW build over one partition's vectors (ascending-id
    insertion). Returns (src_idx→id resolved) adjacency rows."""
    order = np.argsort(ids, kind="mergesort")
    ids, X = ids[order], X[order]
    levels = _levels_for(ids, m)
    max_level = -1
    entry = -1
    adj: list[dict[int, list[int]]] = []

    def ensure_level(l: int) -> None:
        while len(adj) <= l:
            adj.append({})

    def prune(i: int, level: int, cap: int) -> None:
        nbrs = adj[level][i]
        if len(nbrs) <= cap:
            return
        # vectorized over the over-cap neighbor list (bit-identical rows
        # of the same float64 reduction the scalar form computed)
        d_all = np.sqrt(((X[nbrs] - X[i]) ** 2).sum(axis=1))
        ds = sorted(zip(d_all.tolist(), nbrs))
        adj[level][i] = [j for _, j in ds[:cap]]

    for i in range(len(ids)):
        li = int(levels[i])
        ensure_level(li)
        if entry < 0:
            for l in range(li + 1):
                adj[l][i] = []
            entry, max_level = i, li
            continue
        # greedy descend from the top to li+1
        curr = [entry]
        for l in range(max_level, li, -1):
            curr = [_search_layer(X, adj, X[i], curr, 1, l)[0][1]]
        # connect on each level from min(li, max_level) down to 0
        for l in range(min(li, max_level), -1, -1):
            found = _search_layer(X, adj, X[i], curr, ef_construction, l)
            cap = 2 * m if l == 0 else m
            chosen = [j for _, j in found[:m]]
            adj[l][i] = chosen
            for j in chosen:
                adj[l].setdefault(j, []).append(i)
                prune(j, l, cap)
            curr = [j for _, j in found] or curr
        for l in range(max_level + 1, li + 1):
            adj[l][i] = []
        if li > max_level:
            entry, max_level = i, li

    rows: list[tuple[int, int, list[int]]] = []
    for l, layer in enumerate(adj):
        for i, nbrs in layer.items():
            rows.append((int(ids[i]), l, [int(ids[j]) for j in nbrs]))
    return rows


def export_partition_hnsw(
    corpus: DataFrame,
    *,
    partition_col: str = "cluster_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ef_construction: int = 50,
    max_group: int = HNSW_MAX_GROUP,
) -> DataFrame:
    """One HNSW graph per ``(partition_col, shard)`` group, exported as
    ``(cluster_id, shard, src_id, level, neighbors array<long>)``.

    Each group builds independently inside an Arrow task (applyInPandas);
    the output is plain rows — persist with
    ``df.write.partitionBy(partition_col, "shard")`` and a serving node
    loads only its cluster's adjacency. Deterministic end-to-end (hash
    levels, id-ordered insertion, (dist, id) tie-breaks): the same corpus
    always exports the same graph.

    **Mega-cluster guard** (same discipline as knn_graph.MAX_GROUP): a
    cluster larger than ``max_group`` is sub-split into
    ``ceil(n/max_group)`` shards by a layout-invariant xxhash64 of the id,
    one independent graph per shard, so one hot cluster can never blow a
    single task's memory or serialize its build into one slot. Normal
    clusters get shard 0 and are untouched; for a split cluster the
    serving tier fans a query out across its shards and merges top-k (the
    same probe-union it already does across clusters)."""
    part_t = dict(corpus.select(partition_col).dtypes)[partition_col]
    schema = (
        f"{partition_col} {part_t}, shard int, src_id long, level int, "
        "neighbors array<long>"
    )
    mm, efc = m, ef_construction

    # O(clusters)-row size table, broadcast back: shard count per cluster
    sizes = corpus.groupBy(partition_col).agg(F.count("*").alias("__gsz"))
    sharded = (
        corpus.select(partition_col, id_col, vec_col)
        .join(F.broadcast(sizes), partition_col)
        .withColumn(
            "__nsplit",
            F.greatest(F.lit(1), F.ceil(F.col("__gsz") / max_group)).cast("int"),
        )
        .withColumn(
            "shard",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__nsplit")).cast("int"),
        )
        .select(partition_col, "shard", id_col, vec_col)
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        rows = _build_one_graph(ids, X, mm, efc)
        return pd.DataFrame(
            {
                partition_col: [key[0]] * len(rows),
                "shard": [int(key[1])] * len(rows),
                "src_id": [r[0] for r in rows],
                "level": [r[1] for r in rows],
                "neighbors": [r[2] for r in rows],
            }
        )

    return sharded.groupBy(partition_col, "shard").applyInPandas(build, schema)


def shard_component_stats(
    l0: DataFrame,
    *,
    partition_col: str = "cluster_id",
    id_col: str = "src_id",
    neighbors_col: str = "neighbors",
) -> DataFrame:
    """``(cluster_id, shard, max_comp, shard_nodes)``: size of the largest
    level-0 connected component per (cluster, shard) graph, plus the
    shard's node count.

    Every (cluster, shard) graph is INDEPENDENT and
    bounded at ``max_group`` (``HNSW_MAX_GROUP`` = 8192) nodes by the exporter's
    mega-cluster guard, so connectivity is computed by a local union-find
    inside ONE Arrow task per shard — one shuffle total — instead of
    ~log(n) rounds of distributed hash-min label propagation (each round
    two joins + an aggregation + an eager checkpoint + a convergence
    count). Per-task memory is O(max_group), corpus-size-independent:
    the pattern scales because the SHARDS are bounded, not the corpus.

    Exact equivalence with the hash-min form: nodes are the shard's
    ``src_id`` set; an adjacency entry whose endpoint is not itself a
    src row relays nothing in hash-min (it never holds a label), so the
    union-find likewise only unions edges with both endpoints in the
    src set. Component SIZES are partition-order invariant either way.
    """
    part_t = dict(l0.select(partition_col).dtypes)[partition_col]
    schema = f"{partition_col} {part_t}, shard int, max_comp long, shard_nodes long"

    def stats(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        node_set = set(int(x) for x in ids)
        parent: dict[int, int] = {x: x for x in node_set}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for src, nbrs in zip(ids, pdf[neighbors_col]):
            s = int(src)
            for nb in nbrs:
                n = int(nb)
                if n in parent:
                    rs, rn = find(s), find(n)
                    if rs != rn:
                        parent[rs] = rn
        sizes: dict[int, int] = {}
        for x in node_set:
            r = find(x)
            sizes[r] = sizes.get(r, 0) + 1
        return pd.DataFrame(
            {
                partition_col: [key[0]],
                "shard": [int(key[1])],
                "max_comp": [max(sizes.values()) if sizes else 0],
                "shard_nodes": [len(node_set)],
            }
        )

    return (
        l0.select(partition_col, "shard", id_col, neighbors_col)
        .groupBy(partition_col, "shard")
        .applyInPandas(stats, schema)
    )


def hnsw_graph_search(
    graph_rows: list,
    vectors: dict[int, np.ndarray],
    query: np.ndarray,
    k: int,
    *,
    ef: int = 50,
) -> list[int]:
    """Reference-semantics search over ONE exported graph (greedy route
    down, beam at layer 0 — reference hnsw.py:330-374). Test/serving-side
    helper operating on collected rows: the serving tier is explicitly
    NOT Spark (that is the point of the export); pipelines never call
    this on corpus-scale data."""
    by_level: dict[int, dict[int, list[int]]] = {}
    for r in graph_rows:
        by_level.setdefault(r.level, {})[r.src_id] = list(r.neighbors)
    if not by_level:
        return []
    max_level = max(by_level)
    # entry point: a node present at the top level (min id, deterministic)
    entry = min(by_level[max_level])
    ids = sorted(vectors)
    idx_of = {v: i for i, v in enumerate(ids)}
    X = np.array([vectors[i] for i in ids], dtype=np.float64)
    adj = [
        {idx_of[s]: [idx_of[j] for j in nbrs] for s, nbrs in by_level.get(l, {}).items()}
        for l in range(max_level + 1)
    ]
    curr = [idx_of[entry]]
    for l in range(max_level, 0, -1):
        curr = [_search_layer(X, adj, query, curr, 1, l)[0][1]]
    found = _search_layer(X, adj, query, curr, max(ef, k), 0)
    return [ids[i] for _, i in found[:k]]
