"""Distributed k-NN graph construction — the export-artifact replacement
for the reference's HNSW build.

The reference's HNSW insert (``/root/reference/src/vector_db/indexing/
hnsw.py:143-225``) is a sequential mutable-graph algorithm and is
deliberately NOT ported (SURVEY.md §2.3 V5): it cannot be expressed as a
data-parallel plan. What a Spark pipeline CAN produce at scale is the
*graph artifact* a serving layer needs: for every vector, its m nearest
neighbors.

Construction: every vector joins the groups of its ``n_probe`` nearest
IVF clusters (multi-probe membership, ranked by ``ivf.nearest_centroids``
— the cross-cluster bridges that a single-cluster build lacks), each
group runs an exact in-memory kNN inside ``applyInPandas`` (group size is
bounded by cluster size × n_probe), and a final per-vector merge keeps
the m nearest across groups. Memory per task is (group_size × dim) floats
regardless of corpus size.

Output schema matches the reference's adjacency shape
(``InternalNode.neighbors``, hnsw.py:23-28): ``(id, neighbors array<long>)``.
The reference's connectivity invariant (≥ 90% reachable,
tests/indexing/test_hnsw.py:155-185) is enforced in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_db_spark import route
from vector_db_spark.caching import tracked_cache
from vector_db_spark.operators.ivf import nearest_centroids


MAX_GROUP = 4096  # kernel memory ≈ max_group² doubles ≈ 128 MiB — fits a task


def knn_graph(
    corpus: DataFrame,
    m: int = 8,
    *,
    centroids: DataFrame | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_group: int = MAX_GROUP,
    salt_rounds: int = 2,
) -> DataFrame:
    """(id, neighbors): each vector's m nearest, exact within the union of
    its n_probe nearest clusters.

    ``corpus`` must carry ``cluster_id`` (an IVF corpus). With
    ``centroids`` given, multi-probe membership adds cross-cluster edges;
    without it, a single-cluster build (n_probe forced to 1).

    **Mega-cluster guard**: the per-group kernel is O(group²) memory, so a
    skewed cluster would blow one task. Any probe-group larger than
    ``max_group`` is sub-split by salting — ``salt_rounds`` independent
    hash partitions of the cluster (each round caps the group at
    ``max_group``), so the kernel memory bound holds for ANY skew, and the
    independent rounds overlap differently, bridging shards the way
    multi-probe bridges clusters. Within a mega-cluster the graph is then
    approximate (neighbors found within shared shards only); normal-sized
    clusters are untouched and exact."""
    if centroids is not None and n_probe > 1:
        member = nearest_centroids(
            corpus.select(id_col, vec_col), centroids, n_probe, key=id_col, vec_col=vec_col
        )
    else:
        member = corpus.select(id_col, vec_col, "cluster_id")

    # mega-cluster guard: k-row size table, broadcast back onto members
    sizes = member.groupBy("cluster_id").agg(F.count("*").alias("__gsz"))
    member = (
        member.join(F.broadcast(sizes), "cluster_id")
        .withColumn(
            "__nsplit",
            F.greatest(F.lit(1), F.ceil(F.col("__gsz") / max_group)).cast("int"),
        )
        .withColumn(
            "__round",
            F.explode(
                F.when(
                    F.col("__nsplit") > 1, F.sequence(F.lit(0), F.lit(salt_rounds - 1))
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(id_col), F.col("__round")), F.col("__nsplit"))
        )
        .select(id_col, vec_col, "cluster_id", "__round", "__salt")
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        n = len(ids)
        take = min(m, n - 1)
        if take <= 0:
            return pd.DataFrame(
                {
                    id_col: pd.Series([], dtype="int64"),
                    "neighbor_id": pd.Series([], dtype="int64"),
                    "dist": pd.Series([], dtype="float64"),
                }
            )
        # ||a-b||² = ||a||² + ||b||² - 2a·b — O(n²) memory, not O(n²·dim)
        sq = (x * x).sum(axis=1)
        d2 = sq[:, None] + sq[None, :] - 2.0 * (x @ x.T)
        np.maximum(d2, 0.0, out=d2)
        np.fill_diagonal(d2, np.inf)
        idx = np.argpartition(d2, take - 1, axis=1)[:, :take]
        src = np.repeat(ids, take)
        dst = ids[idx].ravel()
        dist = np.take_along_axis(d2, idx, axis=1).ravel()
        return pd.DataFrame({id_col: src, "neighbor_id": dst, "dist": np.sqrt(dist)})

    edges = member.groupBy("cluster_id", "__round", "__salt").applyInPandas(
        build, f"{id_col} long, neighbor_id long, dist double"
    )
    # merge across groups: per vector keep the m nearest distinct neighbors
    merged = (
        edges.groupBy(id_col, "neighbor_id")
        .agg(F.min(F.round("dist", 9)).alias("dist"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    topm = merged.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= m)
    adjacency = topm.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dist", "neighbor_id"))),
            lambda s: s.neighbor_id,
        ).alias("neighbors")
    )
    # isolated vectors (singleton clusters) keep an empty adjacency row
    return (
        corpus.select(id_col)
        .distinct()
        .join(adjacency, id_col, "left")
        .select(
            id_col,
            F.coalesce("neighbors", F.array().cast("array<bigint>")).alias("neighbors"),
        )
    )


# label-propagation rounds before components_from_edges refuses; with
# pointer shortcutting convergence is O(log n) rounds
_MAX_ITER = 50


def components_from_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(id, component) over the edge endpoints of an undirected edge list
    by hash-min label propagation WITH pointer shortcutting — the shared
    Pregel-style core behind graph connectivity AND duplicate-cluster
    grouping (operators/dedup.py). A self-loop ``(i, i)`` makes ``i`` a
    singleton component.

    Each iteration every node adopts the minimum label in its closed
    neighborhood, then follows its label's label
    (``comp ← comp(comp(u))``, the Shiloach-Vishkin shortcut — sound
    because a label is always the id of a node in the same component, so
    composing label lookups stays inside the component). Propagation
    alone needs O(diameter) rounds — a 10k-link near-dup chain would
    need 10k rounds; with shortcutting label depth collapses
    geometrically and convergence is O(log n) rounds (pinned on a long
    path in tests/test_knn_graph.py), so ``_MAX_ITER`` = 50 rounds cover
    any component that fits on hardware. Per round: two joins + one
    aggregation; ``localCheckpoint`` keeps lineage O(1).

    Raises RuntimeError if ``_MAX_ITER`` rounds pass without a fixpoint —
    unconverged labels split one component into several, which silently
    corrupts every downstream consumer (dedup survivor groups, DBSCAN
    clusters), so refusing is the only safe behavior."""
    edges = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select("src").distinct().select(
        "src", F.col("src").cast("long").alias("comp")
    )
    for _ in range(_MAX_ITER):
        nbr = (
            edges.join(labels.select(F.col("src").alias("dst"), "comp"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        prop = labels.join(nbr, "src", "left").select(
            "src",
            F.col("comp").alias("__old"),
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
        )
        # shortcut: comp ← comp(comp(u)). Every label is a node id (a min
        # over node ids), so prop always has a row for it; least() keeps
        # monotonicity even mid-round when the parent row is staler than
        # the child's fresh label.
        parent = prop.select(F.col("src").alias("comp"), F.col("comp").alias("__gp"))
        updated = (
            prop.join(parent, "comp")
            .select(
                "src",
                F.least(F.col("comp"), F.col("__gp")).alias("comp"),
                (F.least(F.col("comp"), F.col("__gp")) < F.col("__old")).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.filter(F.col("__chg")).limit(1).count()
        labels = updated.select("src", "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"components_from_edges did not converge in {_MAX_ITER} rounds "
            "(with shortcutting this means a pathological input, not a "
            "large diameter)"
        )
    return labels.select(F.col("src").alias("id"), F.col("comp").alias("component"))


def graph_connectivity(graph: DataFrame, id_col: str = "vec_id") -> float:
    """Fraction of nodes reachable from the min-id node by undirected BFS —
    the reference's structural invariant (tests/indexing/
    test_hnsw.py:155-185 demands ≥ 0.9). Driver-side BFS over the edge
    list; test/fixture-scale only — the reference check the graph tests
    apply to built graphs."""
    edges = graph.select(id_col, F.explode("neighbors").alias("dst")).collect()
    adj: dict[int, set[int]] = {}
    for r in edges:
        adj.setdefault(r[0], set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r[0])
    nodes = {r[0] for r in graph.select(id_col).collect()}
    if not nodes:
        return 1.0
    start = min(nodes)
    seen = {start}
    frontier = [start]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    nxt.append(v)
        frontier = nxt
    return len(seen & nodes) / len(nodes)


def _undirected_edges(
    edges: DataFrame, src_col: str, dst_col: str, *, assume_canonical: bool = False
) -> DataFrame:
    """Canonical undirected edge set: (a, b) with a < b, loops dropped,
    duplicates and reversed duplicates collapsed.

    ``assume_canonical=True`` skips the normalize+distinct pass for inputs
    that are canonical BY CONSTRUCTION (``cooccurrence_edges`` output:
    src < dst, already distinct) — the redundant ``.distinct()`` here was
    a full extra shuffle of the edge set per orientation, paid once per
    rung of the budget-audit ladder."""
    if assume_canonical:
        return edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    return (
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _apply_degree_orientation(und: DataFrame) -> DataFrame:
    """Reorient the canonical edge set by (degree, id) — the
    Suri-Vassilvitskii orientation: every vertex emits only toward
    higher-(degree, id) vertices, so deg⁺(v) ≤ O(√m) on ANY graph and the
    pairs-of-out-edges wedge volume is O(m^1.5) instead of a hub's deg².

    References ``und`` three times (degree agg via a and b, plus the
    reorientation join). Measured at the ×100 co-occurrence corpus:
    materializing ``und`` — whether pinned
    (localCheckpoint) or cache→unpersist — is ~2× SLOWER end-to-end than
    letting the three references recompute: the re-reads are
    shuffle-bounded (Spark re-serves the edge build's shuffle files),
    while materialized blocks compete with the downstream wedge join's
    execution memory. Callers checkpoint this function's OUTPUT instead
    (see :func:`_checkpoint_oriented`)."""
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("__da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("__db"))
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    return (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("a"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("b"),
        )
    )


def _oriented_edges(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    orient: str,
    *,
    assume_canonical: bool = False,
) -> DataFrame:
    """Canonical undirected edge set, oriented by a total order: ``"id"``
    (low→high vertex id) or ``"degree"`` (see
    :func:`_apply_degree_orientation`, including its caching contract).
    ``assume_canonical`` skips the normalize+distinct for inputs canonical
    by construction (see :func:`_undirected_edges`)."""
    und = _undirected_edges(edges, src_col, dst_col, assume_canonical=assume_canonical)
    if orient == "id":
        return und
    if orient != "degree":
        raise ValueError(f"unknown orient {orient!r} (use 'degree' or 'id')")
    return _apply_degree_orientation(und)


def _checkpoint_oriented(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    orient: str,
    *,
    assume_canonical: bool = False,
) -> DataFrame:
    """Materialized (localCheckpoint) oriented edge set. The degree branch
    deliberately does NOT materialize the intermediate undirected edge set,
    although the orientation references it three times: both pinning it
    (localCheckpoint) and a cache→orient→unpersist lifecycle MEASURED ~2×
    slower end-to-end at the ×100 co-occurrence corpus (83-91 s vs 46 s)
    — the three references are shuffle-bounded re-reads
    Spark largely serves from existing shuffle files, while materialized
    blocks compete with the downstream wedge join's execution memory. One
    checkpoint of the FINAL oriented set (consumed 3-5× by every caller's
    joins, and the thing lineage must not re-derive) is the right cut."""
    return _oriented_edges(
        edges, src_col, dst_col, orient, assume_canonical=assume_canonical
    ).localCheckpoint(eager=True)


def cooccurrence_edges(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    max_item_df: int | None = None,
    max_basket_size: int | None = None,
    assume_distinct_pairs: bool = False,
) -> DataFrame:
    """``(src, dst)`` distinct undirected co-occurrence edges (``src < dst``):
    items are linked when they share a basket — with two explicit volume
    throttles for dense co-occurrence graphs (the ×100 co-purchase graph
    reaches 9.97 B wedge rows under ANY exact orientation; at that density
    the only honest fix is to cut volume explicitly, not to die in shuffle
    spill implicitly):

    - ``max_item_df`` — drop items occurring in more than this many baskets
      (the hub cut; the same posting-list throttle ``sparse_cosine_pairs``
      applies). A promiscuous item contributes ~df·basket_size edges and a
      deg² wedge term no orientation shrinks.
    - ``max_basket_size`` — per basket keep only the ``max_basket_size``
      smallest item ids (deterministic, so an oracle can replay the cut
      exactly). Bounds the per-basket quadratic: edge volume
      ≤ n_baskets · cap².

    With both caps the post-cut item degree is ≤ max_item_df·(cap−1), so
    wedge volume is bounded independent of corpus density. Order matters
    and is fixed: the hub cut runs FIRST (on raw dfs — a hub must not
    sneak under the df ceiling because the basket cap shaved its
    occurrences), then the basket cap on the surviving items.

    Plan: one distinct, one df aggregation + item-keyed semi join (skipped
    when ``max_item_df`` is None), one basket-partitioned window (skipped
    when ``max_basket_size`` is None), one basket-keyed self-join. All
    shuffles are keyed on basket/item ids — no global ordering anywhere.
    ``assume_distinct_pairs=True`` skips the opening distinct — for callers
    (``derive_cooccurrence_caps``) that pre-distinct and checkpoint the
    (basket, item) projection ONCE and reuse it across many calls.
    """
    bi = facts.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
    if not assume_distinct_pairs:
        bi = bi.distinct()
    if max_item_df is not None:
        keep = (
            bi.groupBy("__i")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_item_df)
            .select("__i")
        )
        bi = bi.join(keep, "__i", "left_semi")
    if max_basket_size is not None:
        w = Window.partitionBy("__b").orderBy("__i")
        bi = (
            bi.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_basket_size)
            .drop("__rn")
        )
    return (
        bi.alias("x")
        .join(bi.alias("y"), "__b")
        .filter(F.col("x.__i") < F.col("y.__i"))
        .select(F.col("x.__i").alias("src"), F.col("y.__i").alias("dst"))
        .distinct()
    )


def cooccurrence_wedge_audit(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    max_item_df: int | None = None,
    max_basket_size: int | None = None,
    assume_distinct_pairs: bool = False,
) -> DataFrame:
    """One row ``(n_edges, n_wedges, max_outdeg)``: the EXACT shuffle bill
    :func:`triangle_count`'s wedge join would pay on the (capped)
    co-occurrence graph. That join builds directed 2-paths ``a→b→c`` by
    joining the oriented edge list to itself on the middle vertex, so its
    row count is ``n_wedges = Σ_v indeg(v)·outdeg(v)`` under the same
    (degree, id) orientation — NOT the pairs-of-out-edges ``Σ deg⁺(v)²``
    (a different wedge algorithm whose bill this operator would
    over-state on exactly the hub-skewed graphs the caps exist for).
    This is the wedge budget audit as an operator: it costs
    O(edges) — one edge materialization + two degree aggregations — so a
    pipeline can price the O(wedges) join BEFORE running it instead of
    discovering the bill in shuffle spill."""
    e = cooccurrence_edges(
        facts,
        basket_col,
        item_col,
        max_item_df=max_item_df,
        max_basket_size=max_basket_size,
        assume_distinct_pairs=assume_distinct_pairs,
    )
    # cooccurrence_edges output is canonical by construction (src < dst,
    # distinct) — skip the redundant normalize+distinct shuffle inside the
    # orientation (the budget-audit ladder would pay that pass per rung)
    return wedge_audit_from_edges(e, assume_canonical=True)


def wedge_audit_from_edges(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    assume_canonical: bool = False,
) -> DataFrame:
    """The degree-tally half of :func:`cooccurrence_wedge_audit`, for
    callers that already hold the undirected edge list (so audit and
    downstream :func:`triangle_count` share ONE edge definition)."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # BOTH degree tallies in one streamed pass over the oriented edges:
    # explode each edge into its two endpoint rows tagged out/in, one
    # vertex-keyed aggregation, one scalar finish. Deliberately NO
    # materialization anywhere — checkpointing the oriented set here
    # OOM'd a 16 GB heap on the ×100 uncapped audit (119.6 M edges), and
    # an audit that dies at the scale it exists to price is useless.
    o = _oriented_edges(e, "src", "dst", "degree", assume_canonical=assume_canonical)
    both = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("v"),
                    F.lit(1).alias("__o"),
                    F.lit(0).alias("__i"),
                ),
                F.struct(
                    F.col("b").alias("v"),
                    F.lit(0).alias("__o"),
                    F.lit(1).alias("__i"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    degs = both.groupBy("v").agg(
        F.sum("__o").alias("__od"), F.sum("__i").alias("__id")
    )
    return degs.agg(
        F.coalesce(F.sum("__od"), F.lit(0)).cast("long").alias("n_edges"),
        F.coalesce(F.sum(F.col("__od") * F.col("__id")), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
        F.coalesce(F.max("__od"), F.lit(0)).cast("long").alias("max_outdeg"),
    )


def derive_cooccurrence_caps(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    wedge_budget: int,
    ladder: tuple[tuple[int | None, int | None], ...] = (
        (None, None),
        (50, 8),
        (40, 6),
        (37, 5),
        (30, 4),
        (30, 3),
        (25, 3),
    ),
    audit_all: bool = False,
    strict: bool = True,
) -> dict:
    """Pick the most permissive ``(max_item_df, max_basket_size)`` pair on
    ``ladder`` whose exact wedge audit fits ``wedge_budget`` — the
    knob-from-budget derivation ("trade exactness explicitly rather than
    dying implicitly"; SCALE.md, Guards and bounds), same pattern as
    the corpus-derived LSH geometry and the df-quantile cut.

    Walks ``ladder`` in order (loosest first), paying one O(edges) audit
    per rung, and stops at the first rung that fits (``audit_all=True``
    audits every rung — the value-checkable form the registered query
    uses). The distinct (basket, item) projection is materialized ONCE
    and shared across every rung — never recomputed from the raw fact
    table per audit. Returns ``{"chosen": audit dict or None, "ladder":
    [per-rung audit dicts]}``; each audit dict holds ``max_item_df,
    max_basket_size, n_edges, n_wedges, max_outdeg, fits``. When no rung
    fits: ``strict=True`` (default) raises ``ValueError`` — a graph that
    dense needs a different algorithm (sampling/sketching), not a quieter
    death; ``strict=False`` returns ``chosen=None`` for callers (the
    registered audit query) that report rather than run."""
    bi = (
        facts.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _audit_one(rung: tuple[int | None, int | None]) -> dict:
        max_df, cap = rung
        row = (
            cooccurrence_wedge_audit(
                bi,
                "__b",
                "__i",
                max_item_df=max_df,
                max_basket_size=cap,
                assume_distinct_pairs=True,
            )
            .collect()[0]
            .asDict()
        )
        row["max_item_df"] = max_df
        row["max_basket_size"] = cap
        row["fits"] = row["n_wedges"] <= wedge_budget
        return row

    audits: list[dict] = []
    chosen: dict | None = None
    if audit_all:
        # every rung runs regardless, and each is an independent O(edges)
        # job over the SAME checkpointed projection — overlap them from a
        # small driver thread pool so one rung's stage tail backfills the
        # executors with the next rung's tasks (guide §2.6); results are
        # assembled in ladder order, so the first-fit selection below is
        # byte-identical to the sequential walk. overlap_map wraps each
        # rung in inheritable_thread_target (pinned-thread mode)
        from vector_db_spark.parallel import overlap_map

        audits = overlap_map(_audit_one, ladder, max_workers=3)
        chosen = next((a for a in audits if a["fits"]), None)
    else:
        # early-stop semantics: later rungs must NOT run once one fits
        for rung in ladder:
            row = _audit_one(rung)
            audits.append(row)
            if row["fits"] and chosen is None:
                chosen = row
                break
    if chosen is None and strict:
        raise ValueError(
            f"no ladder rung fits wedge_budget={wedge_budget}: tightest audit "
            f"{audits[-1]['n_wedges']} wedges — this graph needs sampling, "
            "not a tighter exact cut"
        )
    return {"chosen": chosen, "ladder": audits}


# Closing-stage router: below this many ORIENTED edges
# the adjacency table (one array row per out-vertex, Σ sizes = n_edges
# longs ≈ 16 B/edge ≈ 64 MB at the bound) is broadcast and each edge
# (a, b) counts |N⁺(a) ∩ N⁺(b)| map-side — the wedge stream is never
# materialized OR shuffled, and the closing membership probe disappears
# into one vectorized array_intersect per edge. Measured at sf0.1
# (1.196 M edges, 49.2 M wedges): 4.8 s vs 7.5 s for the broadcast
# semi-join and ~9 s for the shuffled semi-join, identical count. Past
# the bound the classic wedge join + semi close runs — the shape whose
# Σ deg⁺² bill the wedge audit prices.
_INTERSECT_MAX_EDGES = 4_000_000


def _close_triangles(e: DataFrame, n_edges: int) -> DataFrame:
    """One row ``(n_triangles,)`` from a MATERIALIZED oriented edge set
    ``(a, b)``. Routed by ``n_edges`` (known — the caller counted the
    materialized set): broadcast adjacency-intersect in the small regime,
    wedge join + left-semi close past it. Both compute the identical
    exact count (every triangle x→y→z under the orientation is found
    exactly once: as z ∈ N⁺(x)∩N⁺(y) at edge (x,y), or as the closed
    wedge x→y→z). The intersect route additionally requires integral id
    types: the ~16 B/entry broadcast estimate behind
    ``_INTERSECT_MAX_EDGES`` holds for fixed-width ids only — string ids
    can be arbitrarily wide, so they take the wedge shape at any count."""
    if _integral_ids(e, ("a", "b")) and route.small(
        n_edges, _INTERSECT_MAX_EDGES, "knn_graph.triangle_close"
    ):
        adj = e.groupBy(F.col("a").alias("__v")).agg(
            F.collect_list("b").alias("__nb")
        )
        # inner joins: an endpoint with no out-edges has no adj row, but
        # its intersect term is empty (contributes 0), so dropping the row
        # leaves the SUM unchanged
        return (
            e.join(
                F.broadcast(
                    adj.select(F.col("__v").alias("a"), F.col("__nb").alias("__na"))
                ),
                "a",
            )
            .join(
                F.broadcast(
                    adj.select(F.col("__v").alias("b"), F.col("__nb").alias("__nbb"))
                ),
                "b",
            )
            .agg(
                F.coalesce(
                    F.sum(F.size(F.array_intersect("__na", "__nbb"))), F.lit(0)
                )
                .cast("long")
                .alias("n_triangles")
            )
        )
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(F.col("e1.a").alias("x"), F.col("e2.b").alias("z"))
    )
    tri = wedges.join(
        e.alias("e3"),
        (F.col("x") == F.col("e3.a")) & (F.col("z") == F.col("e3.b")),
        "left_semi",
    )
    return tri.agg(F.count("*").alias("n_triangles"))


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    orient: str = "degree",
    assume_canonical: bool = False,
) -> DataFrame:
    """One row (n_nodes, n_edges, n_triangles): exact triangle count of an
    undirected graph — the classic two-equi-join formulation: orient every
    edge under a total order (each triangle counted exactly once), build
    wedges ``a→b→c`` by joining the edge list to itself on the middle
    vertex, then close them with a membership join on ``(a, c)``.

    Scale posture: two shuffles keyed on vertex ids; wedge volume is
    Σ_v deg⁺(v)². The DEFAULT orientation is (degree, id) — the
    Suri-Vassilvitskii form — which bounds Σ deg⁺² at O(m^1.5) on any
    graph: a hub receives rather than emits, so a skewed graph can never
    square a hub degree (a raw id order can: a low-id hub emits every
    edge). The count is exact under ANY total order; ``orient="id"``
    keeps the old shape for comparison. Costs one degree aggregation +
    two node-keyed joins, O(E) — noise next to the wedge stage.

    On degree-UNIFORM graphs no orientation shrinks the volume:
    Σ deg⁺² ≈ n·(d/2)² regardless (measured: the ×100 co-purchase graph
    is 9.97 B wedges under either order — a quantity that needs
    cluster-wide spill, not a better exponent; the formula predicts it
    exactly).

    The closing stage is routed by the materialized edge
    count (see :func:`_close_triangles`) — under ``_INTERSECT_MAX_EDGES``
    the 49 M-row wedge stream at sf0.1 is replaced by a broadcast
    adjacency-intersect that never shuffles wedges at all; past the bound
    the classic wedge+semi shape runs unchanged."""
    e = _checkpoint_oriented(
        edges, src_col, dst_col, orient, assume_canonical=assume_canonical
    )
    n_edges = e.count()  # materialized — a cheap count that routes the close
    nodes = e.select(F.col("a").alias("v")).union(e.select(F.col("b").alias("v"))).distinct()
    return (
        _close_triangles(e, n_edges)
        .crossJoin(nodes.agg(F.count("*").alias("n_nodes")))
        .select(
            "n_nodes",
            F.lit(int(n_edges)).cast("long").alias("n_edges"),
            "n_triangles",
        )
    )


def triangle_count_with_audit(
    edges: DataFrame,
    *,
    wedge_budget: int,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Preflight-priced exact triangle count: ONE materialization of the
    (degree, id)-oriented edge set serves BOTH the wedge audit and the
    triangle close, instead of auditing and then recomputing (which
    builds the edge set twice: once for the lineage audit, once for
    ``triangle_count``'s checkpoint).

    The materialization is **DISK_ONLY** (via :func:`tracked_cache`), so
    the refusal path stays refusal-safe at the scale the audit exists to
    price: at the ×100 corpus a MEMORY_AND_DISK checkpoint OOMed competing with
    the wedge join's execution memory; a disk-only block competes with
    nothing (the ×100 uncapped set is ~2 GB of long pairs on local disk,
    and the audit that reads it is two keyed counts + one scalar join).
    Over budget ⇒ ``ValueError`` naming the exact bill BEFORE any
    O(wedges) work, same contract as before.

    Returns one row ``(n_nodes, n_edges, n_triangles, n_wedges,
    within_budget)`` — the audit facts ride the result so an oracle can
    check the preflight arithmetic."""
    from pyspark.storagelevel import StorageLevel

    from vector_db_spark.caching import tracked_cache

    o = tracked_cache(
        _oriented_edges(
            edges, src_col, dst_col, "degree", assume_canonical=assume_canonical
        ),
        "knn_graph.triangle_audit.oriented",
        storage_level=StorageLevel.DISK_ONLY,
    )
    n_edges = o.count()
    od = o.groupBy(F.col("a").alias("__v")).agg(F.count("*").alias("__od"))
    idg = o.groupBy(F.col("b").alias("__v")).agg(F.count("*").alias("__id"))
    # inner join: a vertex missing from either side has od·id = 0 and
    # contributes nothing to the wedge sum
    n_wedges = int(
        od.join(idg, "__v")
        .agg(
            F.coalesce(F.sum(F.col("__od") * F.col("__id")), F.lit(0)).alias("w")
        )
        .collect()[0]["w"]
    )
    if n_wedges > wedge_budget:
        raise ValueError(
            f"wedge join prices at {n_wedges:,} rows "
            f"(> budget {wedge_budget:,}; ≈{n_wedges * 24 / 1e9:.0f} GB "
            "shuffle) — cap the graph (derive_cooccurrence_caps / "
            "cooccurrence_capped_triangles) or raise the budget on a "
            "cluster that can hold the spill"
        )
    nodes = o.select(F.col("a").alias("v")).union(o.select(F.col("b").alias("v"))).distinct()
    return (
        _close_triangles(o, n_edges)
        .crossJoin(nodes.agg(F.count("*").alias("n_nodes")))
        .select(
            "n_nodes",
            F.lit(int(n_edges)).cast("long").alias("n_edges"),
            "n_triangles",
            F.lit(int(n_wedges)).cast("long").alias("n_wedges"),
            F.lit(bool(n_wedges <= wedge_budget)).alias("within_budget"),
        )
    )


# past this many nodes the per-node degree table stops riding broadcast
# hints in the link predictors: a billion-node graph must shuffle its
# degree join, not replicate a node-sized table to every executor
_MAX_BROADCAST_NODES = 1_000_000


def _deg_hint(deg: DataFrame):
    """Cache the degree table, size-route its node count, and return
    ``(hint, cached_deg)``. The cache makes the probe pay for itself: the
    scoring joins reuse it instead of re-running the degree aggregation.
    Callers MUST join the returned frame, not the one they passed in."""
    deg = tracked_cache(deg, "knn_graph.linkpred.deg")
    small = route.fits(deg, _MAX_BROADCAST_NODES, "knn_graph.degree")
    return (F.broadcast if small else (lambda d: d)), deg


def _symmetric_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Materialized symmetric closure of an undirected edge list: both
    directions of every distinct edge, loops dropped.

    Dedup on the CANONICAL (least, greatest) form first, then union the
    reverse — the distinct shuffles half the rows of a union-then-distinct,
    and the two union branches share the distinct's
    exchange (ReusedExchange), so the dedup aggregation's shuffle runs
    once. Output set is identical: the symmetric closure of the same
    undirected edge set (canonical rows and their reverses cannot
    collide)."""
    canon = (
        edges.select(
            F.least(src_col, dst_col).alias("src"),
            F.greatest(src_col, dst_col).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)


_MAX_BROADCAST_WEDGE_SIDE = 1_000_000


def _wedge_side_hint(a_side: DataFrame) -> DataFrame:
    """Size-routed broadcast of the target-restricted wedge side: ``a_side``
    is the adjacency of the source set (Σ_{a∈S} deg(a) rows — |S| is an
    application-bounded page/batch in practice, but NOT bounded by
    construction). Broadcast keeps the wedge join from shuffling the full
    edge table by the midpoint; past the bound the plain shuffle join
    runs."""
    small = route.fits(a_side, _MAX_BROADCAST_WEDGE_SIDE, "knn_graph.wedge_side")
    return F.broadcast(a_side) if small else a_side


def link_prediction_jaccard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    top_n: int = 20,
    sources: DataFrame | None = None,
) -> DataFrame:
    """(a, b, common, jaccard): the strongest NON-edges — unlinked node
    pairs ranked by neighborhood Jaccard (common-neighbor count over
    union degree), the classic link-prediction / related-items scorer.

    Spark shape: candidate pairs come from the wedge join (two nodes can
    only share a neighbor if a path of length 2 connects them — never
    nodes²); existing edges are removed with one anti-join; degrees
    broadcast while the node count is within ``_MAX_BROADCAST_NODES``
    (see :func:`_deg_hint`). Ties break (jaccard desc, a, b) for a
    deterministic top-n.

    **Scale knob — ``sources``.** The all-pairs wedge volume is Σ deg²
    (~300 M at sf0.1's dense co-purchase graph: 68 s measured, and
    growing quadratically with density). Real deployments score
    candidates FOR a target set (the items on the page, the batch being
    refreshed), so passing a one-column ``sources`` frame restricts the
    wedge's ``a`` side to it map-side — volume drops to
    Σ_{a∈S} deg(a)·deg(m), linear in |S|. With sources, pairs are
    directed (a ∈ S, b anywhere); without, unordered a < b."""
    e = _symmetric_edges(edges, src_col, dst_col)
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    hint, deg = _deg_hint(deg)
    # wedges through the shared neighbor m: (a, m) + (m, b)
    a_side = e.select(F.col("src").alias("a"), F.col("dst").alias("m"))
    if sources is not None:
        src_ids = sources.select(F.col(sources.columns[0]).alias("a")).distinct()
        a_side = a_side.join(F.broadcast(src_ids), "a", "left_semi")
        a_side = _wedge_side_hint(a_side)
        pair_cond = F.col("a") != F.col("b")
    else:
        pair_cond = F.col("a") < F.col("b")
    common = (
        a_side.join(e.select(F.col("src").alias("m"), F.col("dst").alias("b")), "m")
        .filter(pair_cond)
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    # existing-edge removal: with a target scope, every candidate pair has
    # a ∈ S, so only the S-sourced slice of e can match — the broadcast
    # semi-filter cuts the anti-join's edge side from |E| rows to
    # Σ_{a∈S} deg(a) map-side over the checkpointed e (the unscoped form
    # anti-joins the full edge set)
    e_ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    if sources is not None:
        e_ab = e_ab.join(F.broadcast(src_ids), "a", "left_semi")
    non_edges = common.join(e_ab, ["a", "b"], "left_anti")
    scored = (
        non_edges.join(hint(deg.select(F.col("src").alias("a"), F.col("d").alias("da"))), "a")
        .join(hint(deg.select(F.col("src").alias("b"), F.col("d").alias("db"))), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common") / (F.col("da") + F.col("db") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.col("jaccard").desc(), "a", "b").limit(top_n)


def link_prediction_adamic_adar(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    top_n: int = 20,
    sources: DataFrame | None = None,
) -> DataFrame:
    """(a, b, common, aa_score): link prediction by Adamic-Adar —
    Σ_{m ∈ N(a)∩N(b)} 1/ln(deg(m)), the common-neighbor scorer that
    discounts hub intermediaries (a shared neighbor of degree 10 000 says
    far less than one of degree 3 — Jaccard counts them equally).

    Same wedge-join shape and ``sources`` scale knob as
    :func:`link_prediction_jaccard`; the per-wedge weight joins the
    shared neighbor's broadcast degree BEFORE the pair aggregation, so
    the contribution ``1/ln(deg(m))`` is computed map-side. deg(m) ≥ 2
    for any wedge midpoint (it has two distinct neighbors), so ln never
    hits zero. Contributions are rounded to 12dp and summed as
    DECIMAL(28,12) — the order-independent sum that makes the score
    engine-exact at any parallelism; ordering uses the exact decimal,
    output rounds to 6."""
    e = _symmetric_edges(edges, src_col, dst_col)
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    hint, deg = _deg_hint(deg)
    a_side = e.select(F.col("src").alias("a"), F.col("dst").alias("m"))
    if sources is not None:
        src_ids = sources.select(F.col(sources.columns[0]).alias("a")).distinct()
        a_side = a_side.join(F.broadcast(src_ids), "a", "left_semi")
        a_side = _wedge_side_hint(a_side)
        pair_cond = F.col("a") != F.col("b")
    else:
        pair_cond = F.col("a") < F.col("b")
    wedges = (
        a_side.join(e.select(F.col("src").alias("m"), F.col("dst").alias("b")), "m")
        .filter(pair_cond)
        .join(hint(deg.select(F.col("src").alias("m"), F.col("d").alias("dm"))), "m")
    )
    common = wedges.groupBy("a", "b").agg(
        F.count("*").alias("common"),
        F.sum(
            F.round(F.lit(1.0) / F.log(F.col("dm")), 12).cast("decimal(28,12)")
        ).alias("__aa"),
    )
    # same S-sourced anti-join cut as link_prediction_jaccard
    e_ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    if sources is not None:
        e_ab = e_ab.join(F.broadcast(src_ids), "a", "left_semi")
    non_edges = common.join(e_ab, ["a", "b"], "left_anti")
    return (
        non_edges.orderBy(F.col("__aa").desc(), "a", "b")
        .limit(top_n)
        .select(
            "a",
            "b",
            "common",
            F.round(F.col("__aa").cast("double"), 6).alias("aa_score"),
        )
    )


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    *,
    length: int = 4,
    salt: str = "walk",
    src_col: str = "src",
    dst_col: str = "dst",
    start_col: str = "start",
    max_degree: int = 64,
) -> DataFrame:
    """Deterministic random walks over an edge list — the walk-corpus
    generator for DeepWalk/node2vec-style graph embedding training
    (Perozzi et al. KDD'14), md5-derandomized in the repo's idiom so the
    SAME walks come out of any engine, any partitioning, any rerun (a
    walk corpus you can regenerate and oracle-check, unlike rand()-driven
    sampling).

    Step rule: at node u on step i the walk moves to
    ``nbrs(u)[ H(u, i, salt) mod deg(u) ]`` where nbrs is the id-sorted
    (capped) neighbor list and H is the 60-bit md5 integer — uniform over
    neighbors, independent across steps, reproducible.

    Plan: ONE adjacency aggregation (sorted, capped collect per src —
    per-task memory O(max_degree)), then ``length`` broadcast-free
    equi-joins current-node → adjacency: per step one shuffle of the
    walk frontier (|starts| rows) against the adjacency table. Walks
    from dead-end nodes (no out-edges) stop early. Output:
    ``(start, step, node)`` with step 0 = the start itself.

    NOTE (eager at call time): building the walk runs ONE Spark job — the
    adjacency table is localCheckpoint(eager=True)-pinned so the edge
    lineage (a k-NN join for the registered walk queries) is evaluated
    exactly once, not once per step. The pinned blocks are freed when the
    returned DataFrame is GC'd."""
    # adjacency pinned ONCE: unpinned, each step's join — and each
    # step's re-evaluation under the final union — recomputed the full
    # edge lineage (for the registered walk queries that lineage is a
    # k-NN join). Node-sized, capped at max_degree neighbors per row.
    adj = (
        edges.groupBy(F.col(src_col).alias("__n"))
        .agg(F.slice(F.array_sort(F.collect_set(F.col(dst_col))), 1, max_degree).alias("__nbrs"))
        .localCheckpoint(eager=True)
    )
    frontier = starts.select(
        F.col(start_col).alias("start"), F.col(start_col).alias("node")
    )
    out = frontier.select("start", F.lit(0).alias("step"), "node")
    for i in range(1, length + 1):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("node").cast("string"), F.lit(f":{salt}:{i}"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        frontier = (
            frontier.join(adj, frontier.node == adj.__n)
            .select(
                "start",
                F.element_at(
                    F.col("__nbrs"), (F.pmod(h, F.size("__nbrs")) + 1).cast("int")
                ).alias("node"),
            )
            # per-step pin, LAZY: with the adjacency pinned the per-step
            # join plans as a BroadcastHashJoin CHAIN with no exchange in the
            # frontier lineage, so WITHOUT this pin the union's later
            # branches re-run (and re-broadcast) every earlier step —
            # O(length²) driver round-trips; exchange reuse cannot dedupe a
            # chain that has no exchange. Quiet-window interleaved A/B
            # (canary 0.13-0.20, min-of-6, both orders): pinned 1.44 s vs
            # unpinned 2.10 s vs 2.05 s with a lazy adjacency.
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(frontier.select("start", F.lit(i).alias("step"), "node"))
    return out


def sample_non_edges(
    edges: DataFrame,
    *,
    n_per_node: int = 5,
    salt: str = "neg",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Reproducible negative sampling for link-prediction / embedding
    training: for each source node, up to ``n_per_node`` node ids that are
    NOT its neighbors, drawn by md5 probes into the graph's node set —
    the negative pairs every contrastive objective needs, regenerable on
    any engine.

    Plan (never nodes²): the node set is indexed once (row_number over a
    global sort of V rows — V is the small axis of a graph workload);
    each source emits ``deg + 2·n_per_node + 4`` hash probes map-side
    (explode of a bounded sequence), each probe resolves to a node via an
    equi-join on the index, and an anti-join against the real edges plus
    a self-filter removes collisions. Probe volume is O(E + V·n), and the
    slack makes starvation (all probes landing on neighbors/duplicates)
    vanishingly unlikely — re-salt if a node comes up short. Final rank
    trims to ``n_per_node``.

    Output: ``(src, neg_dst)``."""
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .union(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    # Node numbering is a pure function of the node SET (total order on
    # id), so both physical strategies produce the identical index:
    # below the bound, one window task over V rows is the cheapest plan
    # (V is normally the small axis of a graph workload); above it, the
    # range-repartitioned numbering (packing.global_row_number) removes
    # the single-task sort — its extra materialization jobs only pay for
    # themselves at corpus-scale V.
    if n_nodes <= 2_000_000:
        widx = Window.orderBy("node")
        indexed = nodes.withColumn("__idx", F.row_number().over(widx) - 1)
    else:
        from vector_db_spark.operators.packing import global_row_number

        indexed = global_row_number(nodes, ["node"], out_col="__idx")
    deg = edges.groupBy(F.col(src_col).alias("src")).agg(F.count("*").alias("__deg"))
    probes = deg.select(
        "src",
        F.explode(
            F.sequence(F.lit(1), F.col("__deg") + F.lit(2 * n_per_node + 4))
        ).alias("__p"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("src").cast("string"),
                    F.lit(":"),
                    F.col("__p").cast("string"),
                    F.lit(f":{salt}"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cand = (
        probes.withColumn("__idx", F.pmod(h, F.lit(n_nodes)))
        .join(indexed, "__idx")
        .filter(F.col("node") != F.col("src"))
        # duplicate probes of one candidate keep the EARLIEST probe number,
        # so the final rank is a pure function of (src, node) — not of
        # which duplicate row dropDuplicates happened to keep
        .groupBy("src", "node")
        .agg(F.min("__p").alias("__p"))
    )
    neg = cand.join(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("node")),
        ["src", "node"],
        "left_anti",
    )
    w2 = Window.partitionBy("src").orderBy(F.col("__p"), F.col("node"))
    return (
        neg.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= n_per_node)
        .select("src", F.col("node").alias("neg_dst"))
    )


def skipgram_pairs(
    walks: DataFrame,
    *,
    window: int = 2,
    start_col: str = "start",
    step_col: str = "step",
    node_col: str = "node",
) -> DataFrame:
    """(center, context) co-occurrence pairs from a walk corpus — the
    skip-gram training examples of DeepWalk: within each walk, every
    ordered pair of nodes at step distance 1..window. One self-join of
    the walk table on the walk id with a bounded step-offset predicate —
    volume = walks × length × 2·window, never graph-sized."""
    a = walks.select(
        F.col(start_col).alias("__w"),
        F.col(step_col).alias("__i"),
        F.col(node_col).alias("center"),
    )
    b = walks.select(
        F.col(start_col).alias("__w"),
        F.col(step_col).alias("__j"),
        F.col(node_col).alias("context"),
    )
    return (
        a.join(b, "__w")
        .filter(
            (F.col("__i") != F.col("__j"))
            & (F.abs(F.col("__i") - F.col("__j")) <= window)
        )
        .select("center", "context", (F.col("__j") - F.col("__i")).alias("offset"))
    )


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame,
    *,
    length: int = 4,
    p: float = 0.5,
    q: float = 2.0,
    salt: str = "n2v",
    src_col: str = "src",
    dst_col: str = "dst",
    start_col: str = "start",
    max_degree: int = 64,
) -> DataFrame:
    """Second-order (node2vec, Grover & Leskovec KDD'16) biased walks,
    md5-derandomized: at node v reached from t, candidate x draws weight
    1/p if x = t (return), 1 if x is adjacent to t (stay near), 1/q
    otherwise (explore) — p < 1 favors backtracking, q > 1 keeps walks
    local (BFS-like); the knobs that make DeepWalk corpora tunable.

    The draw is inverse-CDF over the candidate list sorted by id:
    r = u·Σw with u the 60-bit md5 uniform of (start, step), picked as
    the first candidate whose cumulative weight exceeds r — exact,
    engine-reproducible arithmetic when 1/p and 1/q are binary fractions
    (the defaults are; other values work but cross-engine bit-equality of
    the oracle then rides on float rounding).

    Plan per step: frontier ⋈ adjacency (explode to candidates —
    frontier×degree rows), a broadcast-free edge join marks t-adjacency,
    and one cumulative-sum window keyed on the walk picks the successor.
    Volume per step is O(starts × max_degree); the graph itself never
    reshuffles. First hop has no t: prev=start makes every candidate
    weight 1 (uniform). Output: ``(start, step, node)``.

    NOTE (eager at call time): building the walk runs ONE Spark job — the
    projected edge list is localCheckpoint(eager=True)-pinned so the edge
    lineage (a k-NN join for the registered walk queries) is evaluated
    exactly once. Pinning the two DERIVED tables (capped adjacency +
    t-adjacency marks) instead would take two independent eager jobs, each
    re-running the full edge build; pinning the one table both derive
    from halves that cost and saves a scheduler round-trip. The
    derived aggregations stay lazy: inside the consuming action each is
    one exchange over the pinned edge blocks, computed once and re-read
    by every step via exchange reuse. Pinned blocks are freed when the
    returned DataFrame is GC'd."""
    inv_p, inv_q = 1.0 / p, 1.0 / q
    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    ).localCheckpoint(eager=True)
    adj = e.groupBy(F.col("__src").alias("__n")).agg(
        F.slice(F.array_sort(F.collect_set(F.col("__dst"))), 1, max_degree).alias("__nbrs")
    )
    adj_mark = e.select(
        F.col("__src").alias("prev"), F.col("__dst").alias("cand"),
        F.lit(True).alias("__adj"),
    ).distinct()
    frontier = starts.select(
        F.col(start_col).alias("start"),
        F.col(start_col).alias("prev"),
        F.col(start_col).alias("node"),
    )
    out = frontier.select("start", F.lit(0).alias("step"), "node")
    for i in range(1, length + 1):
        cands = (
            frontier.join(adj, frontier.node == adj.__n)
            .select("start", "prev", "node", F.explode("__nbrs").alias("cand"))
            .join(adj_mark, ["prev", "cand"], "left")
        )
        w = (
            F.when(F.col("cand") == F.col("prev"), F.lit(inv_p))
            .when(F.col("__adj"), F.lit(1.0))
            .otherwise(F.lit(inv_q))
        )
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("start").cast("string"), F.lit(f":{salt}:{i}"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        win_cum = Window.partitionBy("start").orderBy("cand")
        win_all = Window.partitionBy("start")
        scored = cands.select(
            "start",
            "node",
            "cand",
            F.sum(w).over(win_cum).alias("__cum"),
            ((h.cast("double") / F.lit(float(2**60))) * F.sum(w).over(win_all)).alias("__r"),
        )
        # first candidate whose cumulative weight exceeds r; u<1 keeps r
        # below the total in exact math — the max-cand fallback covers the
        # one-in-2^60 float-rounding equality at the top boundary
        frontier = (
            scored.groupBy("start")
            .agg(
                F.coalesce(
                    F.min(F.when(F.col("__cum") > F.col("__r"), F.col("cand"))),
                    F.max("cand"),
                ).alias("__next"),
                F.first("node").alias("node"),
            )
            .select("start", F.col("node").alias("prev"), F.col("__next").alias("node"))
            # per-step pin, LAZY (see random_walks): quiet-window interleaved
            # A/B (canary 0.13-0.20, min-of-6, both orders) put
            # edge-pin+step-pin at 2.27 s vs 3.06 s without the step pin and
            # 4.69 s for the fully-lazy shape.
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(frontier.select("start", F.lit(i).alias("step"), "node"))
    return out


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    nodes: DataFrame | None = None,
    damping: float = 0.85,
    n_iter: int = 15,
) -> DataFrame:
    """(id, rank): personalized PageRank — teleport (and dangling) mass
    returns to the ``sources`` set instead of everywhere, so rank
    concentrates in the sources' neighborhood: the "related items for
    THESE items" primitive behind recommendation and seed-expansion
    (local community detection), where global PageRank answers a
    different question entirely.

    Per iteration: one degree-annotated edge join + one partial-aggregated
    groupBy, O(1) lineage via localCheckpoint; the restart vector is a
    broadcast flag column. Ranks sum to 1 every iteration."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    if nodes is None:
        node_df = e.select("src").union(e.select(F.col("dst").alias("src"))).distinct()
    else:
        c = nodes.columns[0]
        node_df = nodes.select(F.col(c).alias("src")).distinct()
    s_col = sources.columns[0]
    src_set = sources.select(F.col(s_col).alias("src")).distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    # source AND dangling flags resolved ONCE into the checkpointed node
    # table (off the materialized edge set) — a per-iteration dangling
    # anti-join against the UNPINNED deg would recompute the full edge
    # build every round
    node_df = (
        node_df.join(src_set.withColumn("__is_s", F.lit(True)), "src", "left")
        .join(
            ed.select("src").distinct().withColumn("__has_out", F.lit(True)),
            "src",
            "left",
        )
        .select(
            "src",
            F.coalesce("__is_s", F.lit(False)).alias("__is_s"),
            F.coalesce("__has_out", F.lit(False)).alias("__has_out"),
        )
        .localCheckpoint(eager=True)
    )
    n_s = node_df.filter("__is_s").count()
    if n_s == 0:
        raise ValueError("sources must intersect the node set")
    teleport = F.when(F.col("__is_s"), F.lit(1.0 / n_s)).otherwise(F.lit(0.0))
    ranks = node_df.select("src", "__is_s", "__has_out", teleport.alias("rank"))
    for it in range(n_iter):
        contrib = (
            ed.join(ranks.select("src", "rank"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("c"))
            .withColumnRenamed("dst", "src")
        )
        dang = ranks.filter(~F.col("__has_out")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
        )
        ranks = (
            node_df.join(contrib, "src", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "src",
                "__is_s",
                "__has_out",
                (
                    F.lit(1.0 - damping) * teleport
                    + F.lit(damping)
                    * (F.coalesce("c", F.lit(0.0)) + F.col("dang") * teleport)
                ).alias("rank"),
            )
        )
        # lineage bound without a materialization barrier EVERY round:
        # checkpoint every 3rd iteration (and the last) — plan depth stays
        # O(3 iterations), but two of three rounds skip the eager write.
        # Values are unchanged (checkpointing never alters results).
        if it % 3 == 2 or it == n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("src").alias("id"), "rank")


# support-close router: below this many CANONICAL
# (a<b) edges the UNDIRECTED adjacency — 2·n_edges entries ≈ 16 B/entry ≈
# 64 MB at the bound — is broadcast twice and each edge computes its own
# support map-side as |N(a) ∩ N(b)|: the wedge stream is never built OR
# shuffled, and the explode + keyed recount of the wedge form disappears
# entirely (per-edge support IS the intersect size). Past the bound, or
# for non-integral id types whose collected adjacency bytes the edge
# count does not bound, the audited wedge shape runs.
_SUPPORT_INTERSECT_MAX_EDGES = 2_000_000

_INTEGRAL_TYPES = ("byte", "short", "integer", "long")


def _integral_ids(df: DataFrame, cols: tuple[str, str]) -> bool:
    """True when every id column is a fixed-width integral type — the
    precondition for the edge-COUNT broadcast bounds (~16 B/entry): string
    ids can be arbitrarily wide, so the intersect routes fall back to the
    wedge shape for them."""
    by_name = {f.name: f.dataType.typeName() for f in df.schema.fields}
    return all(by_name.get(c) in _INTEGRAL_TYPES for c in cols)


def _edge_support(e: DataFrame, n_edges: int) -> DataFrame:
    """(a, b, support): per-edge triangle count over ``e``, which must
    already be the canonical edge set: columns ``(a, b)`` with ``a < b``,
    distinct, materialized, and ``n_edges`` rows. The k-truss peel holds
    exactly that set every round.

    Routed by edge count: under ``_SUPPORT_INTERSECT_MAX_EDGES``
    integral-id edges, support(a,b) = |N(a) ∩ N(b)| over a broadcast
    undirected adjacency — zero wedge materialization, zero shuffle past
    the adjacency aggregation. Past the bound: the classic oriented
    wedge-close shape of :func:`triangle_count`, where each found triangle
    (x<y<z) credits all three of its edges — one explode + one keyed count
    after the close. Both routes return the identical exact table (pinned
    by tests/test_r10_optimizations.py)."""
    if _integral_ids(e, ("a", "b")) and route.small(
        n_edges, _SUPPORT_INTERSECT_MAX_EDGES, "knn_graph.edge_support"
    ):
        und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        adj = und.groupBy(F.col("a").alias("__v")).agg(
            F.collect_list("b").alias("__nb")
        )
        # inner joins: both endpoints of every edge have >= 1 neighbor
        # (each other), so no edge row is dropped; support 0 falls out of
        # the empty intersect — no left join + coalesce needed
        return (
            e.join(
                F.broadcast(
                    adj.select(F.col("__v").alias("a"), F.col("__nb").alias("__na"))
                ),
                "a",
            )
            .join(
                F.broadcast(
                    adj.select(F.col("__v").alias("b"), F.col("__nb").alias("__nbb"))
                ),
                "b",
            )
            .select(
                "a",
                "b",
                F.size(F.array_intersect("__na", "__nbb"))
                .cast("long")
                .alias("support"),
            )
        )
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    tris = wedges.join(
        e.alias("e3"),
        (F.col("x") == F.col("e3.a")) & (F.col("z") == F.col("e3.b")),
        "left_semi",
    )
    tri_edges = tris.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    sup = tri_edges.groupBy("a", "b").agg(F.count("*").alias("support"))
    return e.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def k_truss(edges: DataFrame, k: int, *, max_iter: int = 30) -> DataFrame:
    """The k-truss of an undirected graph: the maximal subgraph in which
    every edge closes at least ``k − 2`` triangles WITHIN the subgraph —
    the standard cohesive-community denser-than-k-core refinement
    (Cohen '08). Iterative peel: recompute support, drop light edges,
    repeat to fixpoint. O(diameter-ish) rounds, each one triangle pass
    (two equi-joins) over the SURVIVING edges only — the graph only
    shrinks, so the expensive early rounds dominate and later rounds are
    nearly free. Returns the surviving ``(a, b, support)`` edges.

    Scale: per-round cost is the support pass over the SURVIVING edges —
    below the intersect bound one broadcast-adjacency map-side pass, past
    it the wedge volume Σ deg⁺² of the current subgraph (the same bound as
    triangle_count, with the same low→high orientation mitigation);
    lineage is cut per round. The peel normalizes ONCE and hands the
    support pass its canonical, pinned edges and their known count, so no
    round repeats the normalize + distinct + checkpoint."""
    if k < 2:
        raise ValueError("k-truss needs k >= 2")
    cur = (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = cur.count()
    as_ab = (F.col("src").alias("a"), F.col("dst").alias("b"))
    for _ in range(max_iter):
        sup = _edge_support(cur.select(*as_ab), n_prev)
        cur = (
            sup.filter(F.col("support") >= k - 2)
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .localCheckpoint(eager=True)
        )
        n = cur.count()
        if n == n_prev:
            break
        n_prev = n
    return (
        _edge_support(cur.select(*as_ab), n_prev)
        .withColumnRenamed("a", "src")
        .withColumnRenamed("b", "dst")
    )
