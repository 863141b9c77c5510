"""Index-pipeline queries (SURVEY.md §2.3 V10-V14), split per §5/§7 into:

- **Deterministic variants** (oracle-checked): centroids are per-label mean
  vectors — a clustering both engines compute bit-identically (decimal-exact
  per-dimension averages). They run the engine's own code: label means
  from ``operators.centroid_stats``, assignment by
  ``ivf.assign_to_centroids`` and the probe search ``IVFIndex.search``
  runs (``ivf.probe_search``), so the oracles check the package's one
  centroid order.
- **k-means variants** (invariant-projection oracles + recall tests in
  tests/test_ivf.py): the trainer is the bounded-sample k-means++/Lloyd
  fit (operators.kmeans). No SQL oracle can reproduce the centroids (SURVEY.md §7 risk 2), so
  these queries emit exactly-checkable contract facts (k results/query,
  recall ≥ floor vs brute force) instead of raw neighbor lists.
"""

from __future__ import annotations

import tempfile

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_db_spark.functions.distance import l2_norm
from vector_db_spark.functions.text import tokens
from vector_db_spark.caching import tracked_cache
from vector_db_spark.io import load_table
from vector_db_spark.operators.centroid_stats import (
    centroid_stats,
    centroids_from_stats,
    collect_centroids,
    merge_centroid_stats,
)
from vector_db_spark.operators.ivf import (
    MIN_POINTS_PER_CLUSTER,
    IVFIndex,
    assign_to_centroids,
    probe_search,
)
from vector_db_spark.queries import register

DIM = 64
N_QUERIES = 10
N_PROBE = 3
TOP_K = 5

# Shared SQL fragments -------------------------------------------------------

_CENT_FLAT_SQL = """
  SELECT label AS cluster_id, i::INTEGER AS dim_idx,
         CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS centroid_val
  FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v, unnest(range(0, 64)) AS i
        FROM embeddings)
  GROUP BY label, i
"""

_CENT_LIST_SQL = f"""
  SELECT cluster_id, list(centroid_val ORDER BY dim_idx) AS centroid
  FROM ({_CENT_FLAT_SQL})
  GROUP BY cluster_id
"""

_ASSIGN_SQL = f"""
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_distance(e.embedding::DOUBLE[], c.centroid), 6), c.cluster_id
           ) AS rn
    FROM embeddings e CROSS JOIN ({_CENT_LIST_SQL}) c
  ) WHERE rn = 1
"""


def _label_means(vectors: DataFrame) -> DataFrame:
    """(cluster_id, dim_idx, centroid_val): each ``label``'s mean
    ``embedding``, decimal-exact (operators.centroid_stats)."""
    return centroids_from_stats(
        centroid_stats(vectors.select(F.col("label").alias("cluster_id"), "embedding"))
    )


def _label_centroids(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """(k, dim) per-label mean matrix of ``embeddings``; row c is label c."""
    return collect_centroids(_label_means(load_table(spark, sf_dir, "embeddings")))


# --- V10 build: the centroid table itself ------------------------------------

@register("ivf_centroids_det", oracle=f"SELECT * FROM ({_CENT_FLAT_SQL})")
def ivf_centroids_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _label_means(load_table(spark, sf_dir, "embeddings"))


# --- V13 n_probe search (+V8 top-k), fully deterministic ------------------------

def _probe_search_det(emb: DataFrame) -> DataFrame:
    """The deterministic IVF read path over ``emb`` (vec_id, label,
    embedding): label-mean centroids, nearest-centroid assignment, then the
    engine's probe search (``ivf.probe_search``) for the first
    ``N_QUERIES`` vectors."""
    cents = collect_centroids(_label_means(emb))
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < N_QUERIES)
    corpus = assign_to_centroids(emb.select("vec_id", "embedding"), enumerate(cents))
    return probe_search(queries, corpus, cents, TOP_K, N_PROBE)


@register(
    "ivf_search_det",
    oracle=f"""
WITH cent AS ({_CENT_LIST_SQL}),
assign AS ({_ASSIGN_SQL}),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
probes AS (
  SELECT query_id, qv, cluster_id FROM (
    SELECT q.query_id, q.qv, c.cluster_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_distance(q.qv, c.centroid), 6), c.cluster_id
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {N_PROBE}
),
cand AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         round(list_distance(p.qv, e.embedding::DOUBLE[]), 6) AS dist
  FROM probes p
  JOIN assign a ON a.cluster_id = p.cluster_id
  JOIN embeddings e ON e.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, dist, rank::INTEGER AS rank FROM (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {TOP_K}
""",
)
def ivf_search_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _probe_search_det(load_table(spark, sf_dir, "embeddings"))


# --- k-means variants, oracle-checked by invariant projection -----------------
# No SQL oracle can reproduce a k-means fit, but the *contract* of an ANN
# search is exactly checkable: k results per query, and recall@k against the
# exact brute-force top-k (computed in the same plan) above a pinned floor.
# The trainer is seeded and the sample path deterministic for a fixed
# fixture, so the emitted booleans are stable; floors carry a wide margin
# below the measured recall (exact values in tests/test_ivf.py /
# tests/test_ivfpq.py).

IVF_RECALL_FLOOR = 0.3  # measured per-query min 0.4 at sf0.01 (n_probe=4/10)
IVFPQ_MEAN_RECALL_FLOOR = 0.4  # measured mean 0.78 at sf0.01

_INDEX_CACHE: dict[str, IVFIndex] = {}


def _kmeans_index(spark: SparkSession, sf_dir: str) -> IVFIndex:
    """One k-means build per (process, sf_dir) — a real deployment builds
    the index once and serves many searches; queries sharing the build
    reflect that amortization."""
    if sf_dir not in _INDEX_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="ivf_kmeans_") + "/index"
        _INDEX_CACHE[sf_dir] = IVFIndex.build(spark, emb, k=10, path=path)
    return _INDEX_CACHE[sf_dir]


def _recall_per_query(ann: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """(query_id, n_results, recall): ANN hit count vs the exact top-k."""
    hits = (
        ann.join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        ann.groupBy("query_id")
        .agg(F.count("*").alias("n_results"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_results",
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(k)).alias("recall"),
        )
    )


@register(
    "ivf_search_kmeans",
    oracle=f"SELECT vec_id AS query_id, {TOP_K}::BIGINT AS n_results, TRUE AS recall_ok "
    f"FROM embeddings WHERE vec_id < {N_QUERIES}",
)
def ivf_search_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-trained k-means IVF (operators.kmeans k-means++/Lloyd on a
    bounded sample — the FAISS-style scale split): build (V10) + n_probe search
    (V13), checked against brute force per query. Exact recall values are
    pinned in tests/test_ivf.py (recall@5 ≥ 0.7 vs brute force,
    conservation, self-match)."""
    from vector_db_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _kmeans_index(spark, sf_dir)
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < N_QUERIES)
    ann = idx.search(queries, k=TOP_K, n_probe=4)
    exact = knn_join(queries, emb, TOP_K, impl="batch")
    return _recall_per_query(ann, exact, TOP_K).select(
        "query_id", "n_results", (F.col("recall") >= IVF_RECALL_FLOOR).alias("recall_ok")
    )


_IVFPQ_CACHE: dict[str, object] = {}


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    from vector_db_spark.operators.ivfpq import IVFPQIndex

    if sf_dir not in _IVFPQ_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="ivfpq_") + "/index"
        _IVFPQ_CACHE[sf_dir] = IVFPQIndex.build(
            spark, emb, path, k_coarse=10, n_chunks=16, k_codes=64
        )
    return _IVFPQ_CACHE[sf_dir]


@register(
    "ivfpq_search_kmeans",
    oracle=f"SELECT {N_QUERIES}::BIGINT AS n_queries, "
    f"{N_QUERIES * TOP_K}::BIGINT AS n_results, TRUE AS mean_recall_ok",
)
def ivfpq_search_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (operators.ivfpq): coarse probe → residual-PQ ADC scan over
    the codes-only partitions → exact re-rank of refine×k candidates. The
    composition the reference's separate IVF + PQ components exist for.
    Checked as an aggregate invariant (PQ recall varies per query on the
    near-random fixture vectors — the per-query floor lives in
    tests/test_ivfpq.py; here the mean over all queries must clear a wide
    margin)."""
    from vector_db_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < N_QUERIES)
    ann = _ivfpq_index(spark, sf_dir).search(queries, k=TOP_K, n_probe=4, refine=4)
    exact = knn_join(queries, emb, TOP_K, impl="batch")
    per_q = _recall_per_query(ann, exact, TOP_K)
    return per_q.agg(
        F.count("*").alias("n_queries"),
        F.sum("n_results").alias("n_results"),
        (F.avg("recall") >= IVFPQ_MEAN_RECALL_FLOOR).alias("mean_recall_ok"),
    )


# --- k-NN graph export (the HNSW-replacement artifact, SURVEY §2.3 V5) --------

GRAPH_M = 8


@register(
    "knn_graph_export",
    oracle=f"SELECT vec_id, {GRAPH_M}::BIGINT AS degree, TRUE AS no_self "
    "FROM embeddings",
)
def knn_graph_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster exact k-NN graph — the base-layer adjacency a
    navigable-graph server ingests (the HNSW-replacement artifact). The
    adjacency itself depends on the k-means clustering, so the checked
    projection is the graph contract: every corpus vector present, exactly
    m neighbors (multi-probe membership guarantees ≥ m candidates on this
    corpus), never itself. Connectivity ≥ 90% asserted in
    tests/test_knn_graph.py."""
    from vector_db_spark.operators.knn_graph import knn_graph

    idx = _kmeans_index(spark, sf_dir)
    graph = knn_graph(idx.corpus(), m=GRAPH_M, centroids=idx.centroids())
    return graph.select(
        "vec_id",
        F.size("neighbors").cast("long").alias("degree"),
        (~F.array_contains("neighbors", F.col("vec_id"))).alias("no_self"),
    )


# --- end-to-end semantic search pipeline (embed -> index -> search) -----------

@register(
    "semantic_search_docs",
    oracle="SELECT doc_id AS query_id, TRUE AS self_top1, 3::BIGINT AS n_hits "
    "FROM documents WHERE doc_id < 5",
)
def semantic_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full lifecycle in one plan chain: embed documents
    (stub UDF) → build IVF → embed query texts → n_probe search. The
    checked projection is the reference's own integration invariant
    (tests/integration/test_search_api.py: a stored document is its own
    nearest neighbor): each query text re-embeds identically, its cluster
    is necessarily probed first, so self must surface at rank 1 with
    dist 0 — and the search returns exactly k hits."""
    import tempfile

    from vector_db_spark.functions.embedding import embed_column

    docs = load_table(spark, sf_dir, "documents")
    embedded = embed_column(docs, "text", dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    path = tempfile.mkdtemp(prefix="semsearch_") + "/index"
    idx = IVFIndex.build(spark, embedded, k=8, path=path)
    queries = embed_column(
        docs.select("doc_id", "text").filter(F.col("doc_id") < 5), "text", dim=64
    ).select(F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    hits = idx.search(queries, k=3, n_probe=3)
    return (
        hits.groupBy("query_id")
        .agg(
            F.max(
                F.when(
                    (F.col("neighbor_id") == F.col("query_id")) & (F.col("rank") == 1), True
                )
            ).alias("self_top1"),
            F.count("*").alias("n_hits"),
        )
        .select(
            "query_id",
            F.coalesce("self_top1", F.lit(False)).alias("self_top1"),
            "n_hits",
        )
    )


_SWEEP_PROBES = (1, 2, 4, 10)  # 10 = every cluster → exhaustive


@register(
    "ivf_recall_sweep",
    extra=True,
    oracle=f"""
SELECT p::BIGINT AS n_probe,
       (SELECT count(*) FROM embeddings WHERE vec_id < {N_QUERIES})::BIGINT
         AS n_queries,
       true AS monotone_ok, true AS exhaustive_exact
FROM (VALUES {", ".join(f"({p})" for p in _SWEEP_PROBES)}) t(p)
""",
)
def ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-n_probe curve every ANN index ships with — and its
    two lawful properties as checked invariants: mean recall is
    non-decreasing in n_probe (probing more clusters can only add
    candidates), and probing every cluster IS the exhaustive search
    (recall exactly 1.0). Exact per-point recalls are scalars collected
    from bounded per-query aggregates; the sweep reuses the cached build
    (deployments measure this curve once per index)."""
    from vector_db_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _kmeans_index(spark, sf_dir)
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < N_QUERIES)
    exact = knn_join(queries, emb, TOP_K, impl="batch").localCheckpoint(eager=True)

    # the four probe sweeps are independent reads of the cached index and
    # the checkpointed exact baseline — overlap them from a small driver
    # thread pool (guide §2.6) so one sweep's stage tail backfills with the
    # next; the monotonicity booleans only COMPARE the means, so they are
    # derived afterward in probe order, identical to the sequential walk
    def _one(p: int):
        per_q = _recall_per_query(
            idx.search(queries, k=TOP_K, n_probe=p), exact, TOP_K
        )
        return per_q.agg(
            F.count("*").alias("nq"), F.avg("recall").alias("mr")
        ).collect()[0]

    from vector_db_spark.parallel import overlap_map

    aggs = overlap_map(_one, _SWEEP_PROBES, max_workers=2)
    rows, prev = [], -1.0
    for p, agg in zip(_SWEEP_PROBES, aggs):
        rows.append(
            (
                p,
                int(agg["nq"]),
                agg["mr"] >= prev - 1e-12,
                (p < max(_SWEEP_PROBES)) or abs(agg["mr"] - 1.0) < 1e-12,
            )
        )
        prev = agg["mr"]
    return spark.createDataFrame(
        rows,
        "n_probe long, n_queries long, monotone_ok boolean, exhaustive_exact boolean",
    )


_TOPIC_TOP_TERMS = 5
_TOPIC_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"


@register(
    "cluster_topic_terms",
    extra=True,
    oracle=f"""
WITH assign AS ({_ASSIGN_SQL}),
toks AS (
  SELECT a.cluster_id, unnest({_TOPIC_TOKS}) AS term
  FROM documents d JOIN assign a ON d.doc_id = a.vec_id),
tf AS (SELECT cluster_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
cdf AS (SELECT term, count(*) AS cdf FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT cluster_id) AS nc FROM tf),
scored AS (
  SELECT tf.cluster_id, tf.term, tf.tf,
         round(tf.tf * ln(1 + nc * 1.0 / cdf.cdf), 6) AS score
  FROM tf JOIN cdf USING (term) CROSS JOIN n)
SELECT cluster_id, term, tf::BIGINT AS tf, score, term_rank::INTEGER AS term_rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY cluster_id ORDER BY score DESC, term) AS term_rank
      FROM scored)
WHERE term_rank <= {_TOPIC_TOP_TERMS}
""",
)
def cluster_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERTopic-style topic keywords: documents → deterministic centroid
    assignment (literal seeded centroids, so the whole pipeline is
    engine-reproducible) → per-cluster c-TF-IDF
    (``tf · ln(1 + n_clusters/cluster_df)``) → top terms per cluster.
    Embedding clustering and keyword extraction in one verified plan —
    two aggregations over the exploded token stream, windowed top-k."""
    docs = load_table(spark, sf_dir, "documents")
    assign = assign_to_centroids(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        enumerate(_label_centroids(spark, sf_dir)),
    )
    toks = (
        docs.join(assign, docs.doc_id == assign.vec_id)
        .select("cluster_id", F.explode(tokens("text")).alias("term"))
    )
    tf = toks.groupBy("cluster_id", "term").agg(F.count("*").alias("tf"))
    cdf = tf.groupBy("term").agg(F.count("*").alias("cdf"))
    nc = tf.agg(F.countDistinct("cluster_id").alias("nc"))
    scored = (
        tf.join(F.broadcast(cdf), "term")
        .crossJoin(F.broadcast(nc))
        .select(
            "cluster_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round(
                F.col("tf") * F.log(1 + F.col("nc") * 1.0 / F.col("cdf")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= _TOPIC_TOP_TERMS)
        .select("cluster_id", "term", "tf", "score",
                F.col("term_rank").cast("int").alias("term_rank"))
    )


def _hnsw_invariant_stats(emb: DataFrame, *, m: int, cache_key: str) -> DataFrame:
    """The reference's structural battery (tests/indexing/test_hnsw.py:
    155-185) over a per-``cluster_id`` HNSW export, DISTRIBUTED: level-0
    completeness, M/2M degree caps, and ≥ 90 % of each shard's nodes in
    one level-0 component.

    Connectivity uses the per-shard local union-find
    (``shard_component_stats``) — (cluster, shard) graphs are independent
    and bounded at ``HNSW_MAX_GROUP`` nodes by the exporter, so one Arrow
    task per shard does what a ~log(n)-round distributed hash-min loop
    (each round: two joins + aggregation + eager checkpoint + convergence
    count) would otherwise do, and that loop dominated both hnsw bench
    rows. Identical component sizes, identical battery booleans."""
    from vector_db_spark.operators.hnsw_export import (
        export_partition_hnsw,
        shard_component_stats,
    )

    g = export_partition_hnsw(emb, m=m, ef_construction=50)
    g = tracked_cache(g, cache_key)
    l0 = g.filter(F.col("level") == 0)

    sizes = emb.groupBy("cluster_id").agg(F.count("*").alias("n_nodes"))
    l0_nodes = l0.groupBy("cluster_id").agg(
        F.countDistinct("src_id").alias("l0_nodes")
    )
    caps = g.groupBy("cluster_id").agg(
        F.max(F.when(F.col("level") == 0, F.size("neighbors"))).alias("d0"),
        F.coalesce(
            F.max(F.when(F.col("level") > 0, F.size("neighbors"))), F.lit(0)
        ).alias("dup"),
    )

    # connectivity holds PER SHARD (graphs are independent per
    # (cluster, shard); unsplit clusters have the single shard 0):
    # every shard's largest component must cover >= 90% of that shard
    comp_sized = (
        shard_component_stats(l0)
        .groupBy("cluster_id")
        .agg(
            F.min(
                (F.col("max_comp") >= 0.9 * F.col("shard_nodes")).cast("int")
            ).alias("all_shards_connected")
        )
    )

    return (
        sizes.join(l0_nodes, "cluster_id")
        .join(caps, "cluster_id")
        .join(comp_sized, "cluster_id")
        .select(
            "cluster_id",
            "n_nodes",
            (F.col("l0_nodes") == F.col("n_nodes")).alias("level0_complete"),
            ((F.col("d0") <= 2 * m) & (F.col("dup") <= m)).alias("degree_cap_ok"),
            (F.col("all_shards_connected") == 1).alias("connectivity_ok"),
        )
    )


@register(
    "hnsw_export_stats",
    oracle="""
SELECT label AS cluster_id, count(*)::BIGINT AS n_nodes,
       TRUE AS level0_complete, TRUE AS degree_cap_ok, TRUE AS connectivity_ok
FROM embeddings GROUP BY 1
""",
    extra=True,
)
def hnsw_export_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition HNSW export (operators/hnsw_export.py) validated by
    invariant projection — see :func:`_hnsw_invariant_stats`. Partitioned
    by the fixture ``label`` column (FIXED 10-way): kept for oracle
    stability, but the 10-way parallelism is a measured 22× scale trap
    (74 s at 200 k vectors) — the scale-safe registered artifact is
    ``hnsw_export_derived_k`` below."""
    emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed(
        "label", "cluster_id"
    )
    return _hnsw_invariant_stats(emb, m=8, cache_key="q.indexing.hnsw_export.g")


@register(
    "hnsw_export_derived_k",
    oracle=f"""
WITH nk AS (
  SELECT GREATEST(1, LEAST(count(*) // {MIN_POINTS_PER_CLUSTER},
                           CAST(round(4 * sqrt(count(*))) AS BIGINT))) AS k
  FROM embeddings)
SELECT CAST(('0x' || substr(md5(vec_id::VARCHAR || ':hnswshard'), 1, 15))::UBIGINT
            % k AS BIGINT) AS cluster_id,
       count(*)::BIGINT AS n_nodes,
       TRUE AS level0_complete, TRUE AS degree_cap_ok, TRUE AS connectivity_ok,
       k::BIGINT AS derived_k
FROM embeddings CROSS JOIN nk
GROUP BY 1, 6
""",
)
def hnsw_export_derived_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW export with CORPUS-DERIVED partition count — the scale-safe
    form of ``hnsw_export_stats``: k follows
    ``IVFIndex.derive_k`` (k ≈ 4√n, floored at ~39 points/cluster), so
    per-cluster kernel work is O((n/k)²) ≈ O(n/16) with k-way
    parallelism — the measured shape (derived k=1789 → 9.16 s at
    200 k vectors vs 74 s at pinned k=10). Partitioning here is a
    deterministic md5 shard of the id so the DuckDB oracle replays the
    EXACT partition membership and the derived k itself (kmeans clusters
    are the production pairing — ``IVFIndex.build(k=None)`` — but are
    model-derived and oracle-opaque; the structural battery and the
    scale shape are identical under any balanced partitioning).
    Same invariant battery as ``hnsw_export_stats``."""
    emb = load_table(spark, sf_dir, "embeddings")
    k = IVFIndex.derive_k(emb.count())
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":hnswshard"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % k
    )
    emb = emb.select(
        "vec_id", "embedding", shard.alias("cluster_id")
    )
    return _hnsw_invariant_stats(
        emb, m=8, cache_key="q.indexing.hnsw_export_derived.g"
    ).withColumn("derived_k", F.lit(k).cast("long"))


# --- cosine ANN via spherical normalization -----------------------------------

_NORM_SQL = """
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))
         ) AS nv
  FROM embeddings
"""

_NCENT_LIST_SQL = f"""
  SELECT cluster_id, list(centroid_val ORDER BY dim_idx) AS centroid
  FROM (
    SELECT label AS cluster_id, i::INTEGER AS dim_idx,
           CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS centroid_val
    FROM (SELECT label, unnest(nv) AS v, unnest(range(0, {DIM})) AS i FROM ({_NORM_SQL}))
    GROUP BY 1, 2
  ) GROUP BY cluster_id
"""


@register(
    "ivf_search_cosine_det",
    oracle=f"""
WITH nemb AS ({_NORM_SQL}),
cent AS ({_NCENT_LIST_SQL}),
assign AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_distance(e.nv, c.centroid), 6), c.cluster_id
           ) AS rn
    FROM nemb e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, nv AS qv FROM nemb WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, qv, cluster_id FROM (
    SELECT q.query_id, q.qv, c.cluster_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_distance(q.qv, c.centroid), 6), c.cluster_id
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {N_PROBE}
),
cand AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         round(list_distance(p.qv, e.nv), 6) AS dist
  FROM probes p
  JOIN assign a ON a.cluster_id = p.cluster_id
  JOIN nemb e ON e.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, dist, rank::INTEGER AS rank FROM (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {TOP_K}
""",
    extra=True,
)
def ivf_search_cosine_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine ANN through the SAME probe-pruned IVF plan, by spherical
    normalization: on unit vectors euclidean² = 2 − 2·cos, so euclidean
    argmin/top-k ≡ cosine top-k — normalize once (map-side), then every
    euclidean index (IVF, PQ, BQ, HNSW export) serves cosine unchanged.
    Deterministic label-mean centroids over the normalized corpus; the
    oracle reproduces probe selection, membership join and top-k exactly.
    Distances reported are unit-sphere euclidean (monotone in cosine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dv = F.col("embedding").cast("array<double>")
    # the norm is an argument, so it is computed once per row (inside the
    # lambda it would be recomputed per element)
    unit = F.zip_with(dv, F.array_repeat(l2_norm(dv), F.size(dv)), lambda x, n: x / n)
    return _probe_search_det(emb.select("vec_id", "label", unit.alias("embedding")))


# --- incremental centroid maintenance (sufficient statistics) ----------------

@register(
    "ivf_incremental_update",
    extra=True,
    oracle="""
WITH oldc AS (SELECT * FROM embeddings WHERE vec_id % 5 < 4),
newb AS (SELECT * FROM embeddings WHERE vec_id % 5 = 4),
ostats AS (
  SELECT label AS cluster_id, i::INTEGER AS dim_idx,
         SUM(CAST(v AS DECIMAL(28,9))) AS sum_val, COUNT(*) AS n
  FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v,
               unnest(range(0, 64)) AS i FROM oldc)
  GROUP BY 1, 2),
ocent AS (
  SELECT cluster_id, list(CAST(sum_val AS DOUBLE) / n ORDER BY dim_idx) AS centroid
  FROM ostats GROUP BY cluster_id),
assign AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_distance(e.embedding::DOUBLE[], c.centroid), 6),
                      c.cluster_id) AS rn
    FROM newb e CROSS JOIN ocent c) WHERE rn = 1),
nstats AS (
  SELECT cluster_id, i::INTEGER AS dim_idx,
         SUM(CAST(v AS DECIMAL(28,9))) AS sum_val, COUNT(*) AS n
  FROM (SELECT cluster_id, unnest(embedding::DOUBLE[]) AS v,
               unnest(range(0, 64)) AS i FROM assign)
  GROUP BY 1, 2),
merged AS (
  SELECT cluster_id, dim_idx, SUM(sum_val) AS sum_val, SUM(n) AS n
  FROM (SELECT * FROM ostats UNION ALL SELECT * FROM nstats)
  GROUP BY 1, 2)
SELECT cluster_id, dim_idx,
       CAST(sum_val AS DOUBLE) / n AS centroid_val,
       n::BIGINT AS n
FROM merged WHERE dim_idx < 6
""",
)
def ivf_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental quantizer maintenance: per-cluster (Σ vector, n)
    DECIMAL sufficient statistics make an incremental centroid update
    bit-identical to a full recompute — old corpus never rescanned, only
    its O(k×dim) stats rows. New batch (vec_id%5==4) is routed against
    the CURRENT centroids (the reference's add semantics, reference
    ivf.py:87-117 — which never updates its centroids; this closes that
    drift gap) and folded in. The oracle reproduces stats → centroids →
    assignment → merge end to end; dims 0-5 keep the row count bounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 < 4)
    new = emb.filter(F.col("vec_id") % 5 == 4)
    ostats = centroid_stats(
        old.select(F.col("label").alias("cluster_id"), "embedding")
    )
    ocent = collect_centroids(centroids_from_stats(ostats))
    nstats = centroid_stats(
        assign_to_centroids(new.select("vec_id", "embedding"), enumerate(ocent))
    )
    merged = merge_centroid_stats(ostats, nstats)
    return (
        centroids_from_stats(merged)
        .join(merged.select("cluster_id", "dim_idx", "n"), ["cluster_id", "dim_idx"])
        .filter(F.col("dim_idx") < 6)
        .select("cluster_id", "dim_idx", "centroid_val", "n")
    )


# --- collaborative filtering (implicit ALS over co-purchases) ----------------

_ALS_CACHE: dict[str, object] = {}


def _als_model(spark: SparkSession, sf_dir: str):
    """One ALS fit per (process, sf_dir) — build amortized across the
    audit facts and bench reruns, like the k-means index cache above."""
    if sf_dir not in _ALS_CACHE:
        from vector_db_spark.operators.recommend import purchase_ratings, train_als

        ratings = purchase_ratings(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
        ).cache()
        _ALS_CACHE[sf_dir] = (train_als(ratings), ratings)
    return _ALS_CACHE[sf_dir]


@register(
    "copurchase_als_recs",
    extra=True,
    oracle="""
SELECT (SELECT count(DISTINCT o_custkey)
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey)::BIGINT AS n_users,
       TRUE AS arity_ok, TRUE AS ranks_ok, TRUE AS separation_ok
""",
)
def copurchase_als_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-ALS top-5 recommendations per customer from co-purchase
    counts (operators/recommend.py) — the model-based complement to the
    wedge-join link predictors. Factor values move in the last float
    bits with layout (like every pyspark.ml fit here), so the audit
    emits facts with margin: every rating user gets exactly 5 recs
    (arity), scores strictly descend with rank, and the model separates
    purchased pairs from md5-sampled never-purchased pairs by a mean
    margin (≥ 0.01, measured ~0.1 at sf0.01). The oracle reproduces the
    user universe exactly and pins the invariants TRUE."""
    from pyspark.sql import Window

    from vector_db_spark.operators.recommend import recommend_for_users, score_pairs

    model, ratings = _als_model(spark, sf_dir)
    recs = recommend_for_users(model, 5)
    arity_ok = (
        recs.groupBy("user").count().filter(F.col("count") != 5).limit(1).count() == 0
    )
    w = Window.partitionBy("user").orderBy("rec_rank")
    ranks_ok = (
        recs.withColumn("__prev", F.lag("score").over(w))
        .filter(F.col("__prev").isNotNull() & (F.col("score") >= F.col("__prev")))
        .limit(1)
        .count()
        == 0
    )
    pos = ratings.select("user", "item")
    # deterministic never-purchased sample: md5-gate EACH axis to ~1/16
    # first, so the grid join is bounded (|U|/16 × |I|/16, broadcast NLJ
    # of a small side — never a corpus-scale cartesian), then anti-join
    def gate(df, col):
        return df.select(col).distinct().filter(
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 2), 16, 10).cast("long") % 16 == 0
        )

    neg = (
        gate(ratings, "user")
        .join(F.broadcast(gate(ratings, "item")))
        .join(pos, ["user", "item"], "left_anti")
    )
    mean_pos = score_pairs(model, pos).agg(F.avg("score")).collect()[0][0]
    mean_neg = score_pairs(model, neg).agg(F.avg("score")).collect()[0][0]
    n_users = ratings.select("user").distinct().count()
    return spark.createDataFrame(
        [
            (
                n_users,
                bool(arity_ok),
                bool(ranks_ok),
                bool(mean_pos - mean_neg > 0.01),
            )
        ],
        "n_users long, arity_ok boolean, ranks_ok boolean, separation_ok boolean",
    )
