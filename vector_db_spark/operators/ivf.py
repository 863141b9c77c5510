"""IVF (inverted-file) approximate nearest-neighbor index.

Re-expresses the reference's IVF component (``/root/reference/src/vector_db/
indexing/ivf.py``) Spark-first:

| reference                                   | here |
|---------------------------------------------|------|
| ``build_index``: scipy ``kmeans2`` + Python inverted lists (ivf.py:49-85) | bounded-sample k-means++/Lloyd (operators.kmeans) + distributed broadcast-argmin assignment; "inverted list" = the corpus written ``partitionBy("cluster_id")`` — probing a cluster IS partition pruning |
| ``add``: argmin over centroids, append to list (ivf.py:87-117) | broadcast-centroid argmin join → append to the partitioned table |
| ``delete``: remove id from all lists (ivf.py:119-136) | staged rewrite of only the affected clusters' partitions, swapped in by ``operators/staging.py`` |
| ``search``: rank centroids, scan n_probe lists, exact top-k (ivf.py:138-199) | probe plan ranked on the driver over the centroid matrix → one corpus scan with a static ``cluster_id IN (probed)`` partition filter → k-NN batch kernel scoring each cluster's rows against the queries that probe it (partial top-k per batch) → global top-k; past ``knn._MAX_BATCH_QUERIES`` query rows, ``probe_join`` (windowed top-n_probe over the broadcast centroid cross join, un-hinted join on ``cluster_id``) and a SQL distance |
| pickle persistence (ivf.py:217-241)         | Parquet centroid table (read on the driver) + partitioned corpus (``spark.read`` with its fixed schema) |

Scale posture (SURVEY.md §7): only the k×dim centroid table and at most
``knn._MAX_BATCH_QUERIES`` query rows are ever broadcast/collected; the
corpus is never collected; hot-cluster skew is
handled by AQE (skew-join enabled in the session factory). HNSW itself is
deliberately not ported — a sequential mutable-graph build is anti-Spark
(SURVEY.md §2.3 V5); IVF delivers the same capability (tunable-recall ANN)
as a data-parallel plan.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_db_spark.functions.distance import METRICS, euclidean
from vector_db_spark.io import read_small_parquet, write_clustered, write_small_parquet
from vector_db_spark.operators.kmeans import DEFAULT_SAMPLE_CAP, train_centroids
from vector_db_spark.operators.knn import (
    _batch_score,
    _fetch_queries,
    _no_hits,
    _numpy_distances,
)
from vector_db_spark.operators.staging import (
    assert_no_pending_swap,
    execute_swap,
    recover_staged,
    write_swap_plan,
)
from vector_db_spark.operators.topk import nearest_k, top_k_per_group

# k-means needs ~this many training points per centroid to place it on
# signal rather than noise — shared by derive_k's floor and build()'s
# sample-cap guard so the two can never drift apart
MIN_POINTS_PER_CLUSTER = 39
# the centroid table's types, as IVFIndex.write_centroids writes them
CENTROID_SCHEMA = "cluster_id int, centroid array<double>"


def assign_to_centroids(
    df: DataFrame,
    centroids: Iterable[tuple[int, Sequence[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment (reference ivf.py:109-110 argmin).

    The centroid table is k×dim — small by definition — so it is inlined
    as a literal array of (dist, cluster_id) structs and the argmin becomes
    ``array_min`` per row: a pure map-side expression, ZERO shuffle. At
    100 TB this is the difference between a narrow stage and shuffling the
    whole corpus through a window. Ties break on lowest cluster_id via
    struct ordering, identical to the former (dist, cluster_id) sort.

    For very large codebooks (k×dim beyond sane codegen size) it falls back
    to the broadcast-join + min_by form — still one shuffle-free broadcast
    join plus a groupBy on the (narrow) id.

    ``centroids`` is a ``[(cluster_id, centroid), ...]`` sequence already
    on the driver (the build's fitted centers, or ``enumerate`` over
    :meth:`IVFIndex.centroid_matrix`), so the assignment starts no job."""
    rows = [(int(c), list(v)) for c, v in centroids]

    if sum(len(v) for _, v in rows) <= 65536:
        # one F.expr over a generated SQL string: a single py4j call no
        # matter how many centroids (building k Column trees of lambda
        # expressions costs seconds of driver round-trips)
        def dist_sql(center) -> str:
            arr = "array(" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in center) + ")"
            d = (
                f"sqrt(aggregate(zip_with(CAST(`{vec_col}` AS array<double>), {arr}, "
                "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v))"
            )
            return f"round({d}, {round_to})" if round_to is not None else d

        structs = ",".join(
            f"named_struct('dist', {dist_sql(v)}, 'cluster_id', {c})" for c, v in rows
        )
        return df.withColumn(
            "cluster_id", F.expr(f"array_min(array({structs})).cluster_id")
        )

    centroids = df.sparkSession.createDataFrame(rows, CENTROID_SCHEMA)
    dist = euclidean(vec_col, "centroid")
    if round_to is not None:
        dist = F.round(dist, round_to)
    scored = df.crossJoin(F.broadcast(centroids)).withColumn("__dist", dist)
    w = Window.partitionBy(id_col).orderBy(F.col("__dist").asc(), F.col("cluster_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__dist", "centroid")
    )


class IVFIndex:
    """A persisted IVF index: ``<path>/centroids`` (cluster_id, centroid)
    and ``<path>/corpus`` partitioned by ``cluster_id``."""

    def __init__(self, spark: SparkSession, path: str, id_col: str = "vec_id", vec_col: str = "embedding"):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        # the corpus table's types: its writers cast to them (_typed), corpus() reads them
        self.corpus_schema = f"{id_col} long, {vec_col} array<float>, cluster_id int"

    # -- paths ----------------------------------------------------------------

    @property
    def centroids_path(self) -> str:
        return os.path.join(self.path, "centroids")

    @property
    def corpus_path(self) -> str:
        return os.path.join(self.path, "corpus")

    def centroids(self) -> DataFrame:
        return self.spark.read.schema(CENTROID_SCHEMA).parquet(self.centroids_path)

    def centroid_matrix(self) -> np.ndarray:
        """(k, dim) float64; row i is cluster i (k×dim — small by
        definition), read on the driver with no Spark job."""
        t = read_small_parquet(self.centroids_path)
        order = np.argsort(t.column("cluster_id").to_numpy())
        return np.array(t.column("centroid").to_pylist(), dtype=np.float64)[order]

    def corpus(self) -> DataFrame:
        # a committed-but-unfinished maintenance swap can have clusters
        # missing from the live layout; reading through it would be
        # silently wrong, not slow (two cheap fs.exists in the common case)
        assert_no_pending_swap(self.spark, self.corpus_path, self._SWAP_TMPS)
        return self.spark.read.schema(self.corpus_schema).parquet(self.corpus_path)

    def _typed(self, vectors: DataFrame) -> DataFrame:
        """(id, vector) cast to the types of ``corpus_schema``."""
        return vectors.select(
            F.col(self.id_col).cast("long").alias(self.id_col),
            F.col(self.vec_col).cast("array<float>").alias(self.vec_col),
        )

    # -- build (reference ivf.py:49-85) ---------------------------------------

    @staticmethod
    def derive_k(n: int) -> int:
        """Corpus-derived cluster count — the IVF twin of
        ``similarity.derive_lsh_geometry`` (SCALE.md, Guards and bounds):
        ``k ≈ 4·√n`` (the FAISS IVF guidance: per-probe scan
        volume n/k then shrinks as √n while the broadcast centroid table
        stays k×dim ≈ kilobytes), floored so every centroid keeps at
        least ~``MIN_POINTS_PER_CLUSTER`` training points (below that
        k-means places centroids on noise). Pure scalar math; callers
        that need the oracle-pinned fixture geometry keep passing k
        explicitly."""
        if n <= 0:
            return 1
        return max(1, min(n // MIN_POINTS_PER_CLUSTER, int(round(4.0 * math.sqrt(n)))))

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        k: int | None,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_iter: int = 20,
        seed: int = 42,
    ) -> "IVFIndex":
        """Quantizer fit → distributed assign → write corpus partitioned by
        cluster, plus the centroid table.

        ``k=None`` derives the cluster count from one corpus count via
        :meth:`derive_k` — geometry follows the corpus, like the LSH
        near-dup path.

        The quantizer is k-means++/Lloyd on a bounded random sample
        (operators.kmeans) — the FAISS-style scale design; only the capped
        sample and the k×dim centers ever land on the driver, and
        assignment is a broadcast-argmin over the full corpus.
        """
        if k is None:
            k = cls.derive_k(corpus.count())
        # the sample must keep ~39 training points per centroid (the
        # derive_k floor) or large-k fits place centroids on noise —
        # grow the cap with k; driver cost stays k·39·dim doubles
        centers = train_centroids(
            corpus, vec_col, k, max_iter=max_iter, seed=seed,
            sample_cap=max(DEFAULT_SAMPLE_CAP, MIN_POINTS_PER_CLUSTER * k),
        )
        index = cls(spark, path, id_col=id_col, vec_col=vec_col)
        assigned = assign_to_centroids(
            index._typed(corpus), enumerate(centers), id_col=id_col, vec_col=vec_col
        )
        # O(k) files, not tasks × k — see write_clustered; parallelism
        # scales with k so a derived-k build keeps its writers busy
        n_shuffle = max(
            int(assigned.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
            min(k, 2048),
        )
        write_clustered(assigned, index.corpus_path, num_partitions=n_shuffle)
        index.write_centroids(centers)
        return index

    def write_centroids(self, centers: Sequence[Sequence[float]]) -> None:
        """The centroid table's one writer; row i is cluster i. Index
        writers call it last: its data files are the commit point
        ``VectorDBService._index()`` checks."""
        write_small_parquet(
            self.centroids_path,
            pa.table(
                {
                    "cluster_id": pa.array(range(len(centers)), pa.int32()),
                    "centroid": pa.array(
                        np.asarray(centers, dtype=np.float64).tolist(), pa.list_(pa.float64())
                    ),
                }
            ),
        )

    # -- incremental add (reference ivf.py:87-117) -----------------------------

    def assign(self, vectors: DataFrame) -> DataFrame:
        """Nearest-centroid assignment (ivf.py:109-110's numpy argmin)."""
        return assign_to_centroids(
            vectors, enumerate(self.centroid_matrix()),
            id_col=self.id_col, vec_col=self.vec_col,
        )

    def add(self, new_vectors: DataFrame) -> None:
        write_clustered(self.assign(self._typed(new_vectors)), self.corpus_path, mode="append")

    # -- delete (reference ivf.py:119-136) -------------------------------------

    # -- staged-swap protocol (operators/staging.py) ---------------------------

    _SWAP_TMPS = (".tmp-delete", ".tmp-refresh")

    def recover(self) -> dict:
        """Complete (or discard) any interrupted staged maintenance swap
        (see operators/staging.py for the protocol). Called automatically
        at the start of :meth:`delete`/:meth:`refresh`; :meth:`corpus`
        RAISES while a planned swap is pending — a crashed swap can leave
        clusters missing from the live layout, and a read that silently
        skipped them would be wrong, not slow. Idempotent; safe anytime."""
        return recover_staged(self.spark, self.corpus_path, self._SWAP_TMPS)

    def delete(self, ids: list[int]) -> None:
        """Rewrite only the partitions that contain the deleted ids — never
        touches cold clusters. The rewrite is staged through a tmp dir and
        committed via the staged-swap protocol above, so (a) the job never
        overwrites files it is still reading, (b) a cluster whose every
        vector is deleted has its partition directory *retired* (dynamic
        partition overwrite would silently leave the stale files — deleted
        ids would stay searchable), and (c) a crash at ANY point either
        never touched the live corpus (pre-plan: staging is discarded) or
        is completed forward by :meth:`recover` — live data is never
        deleted before its replacement is in place."""
        self.recover()
        corpus = self.corpus()
        # one row per matched id (at most len(ids)), deduped on the driver
        # instead of by a distinct shuffle
        clusters = sorted(
            {r.cluster_id for r in corpus.filter(F.col(self.id_col).isin(ids))
             .select("cluster_id").collect()}
        )
        if not clusters:
            return
        remaining = corpus.filter(
            F.col("cluster_id").isin(clusters) & ~F.col(self.id_col).isin(ids)
        )
        tmp = self.corpus_path.rstrip("/") + ".tmp-delete"
        write_clustered(remaining, tmp)
        write_swap_plan(self.spark, tmp, clusters, [])
        execute_swap(self.spark, self.corpus_path, tmp)

    # -- maintenance: centroid-drift refresh ------------------------------------

    def refresh(self, *, reassign_threshold: float | None = None) -> dict:
        """Centroid-drift maintenance for a long-lived index: incremental
        adds are assigned against centroids frozen at build time (the
        reference behaves identically — ivf.py:87-117 never retrains), so
        cluster means drift away from the stored quantizer and probe
        pruning degrades. One refresh:

        1. recompute every cluster's true mean — ONE aggregation with
           per-dimension ``avg`` columns (map-side partial combine; never
           a posexplode, which would blow the pre-shuffle stream up dim×);
           only k×dim aggregates reach the driver;
        2. rewrite the centroid table (empty clusters keep their center);
        3. optionally (``reassign_threshold``) re-assign the members of
           clusters whose centroid moved more than the threshold against
           the FULL refreshed codebook, moving migrants between partitions
           with the same staged per-partition swap as :meth:`delete`.

        Deliberately incremental: vectors in un-drifted clusters are not
        revisited (their reassignment could only be triggered by someone
        else's drift, a second-order effect); a full Lloyd pass is
        ``build`` again. Returns ``{"max_shift", "drifted", "moved"}``.
        """
        self.recover()
        old = self.centroid_matrix()
        dim = old.shape[1]

        corpus = self.corpus()
        mean_rows = (
            corpus.groupBy("cluster_id")
            .agg(*[F.avg(F.col(self.vec_col)[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )  # k×dim only
        new = old.copy()
        for r in mean_rows:
            new[int(r.cluster_id)] = [r[f"m{i}"] for i in range(dim)]
        shifts = [float(np.linalg.norm(n - o)) for n, o in zip(new, old)]
        max_shift = max(shifts, default=0.0)
        self.write_centroids(new)

        moved = 0
        drifted = (
            [c for c, s in enumerate(shifts) if s > reassign_threshold]
            if reassign_threshold is not None
            else []
        )
        if drifted:
            affected = corpus.filter(F.col("cluster_id").isin(drifted)).select(
                self.id_col,
                self.vec_col,
                F.col("cluster_id").alias("__old_cluster"),
            )
            reassigned = assign_to_centroids(
                affected.drop("cluster_id"),
                list(enumerate(new)),
                id_col=self.id_col,
                vec_col=self.vec_col,
            ).localCheckpoint(eager=True)  # assignments must not recompute
            # after the partition dirs below start swapping out underneath
            moved = reassigned.filter(
                F.col("cluster_id") != F.col("__old_cluster")
            ).count()
            reassigned = reassigned.drop("__old_cluster")
            # ONE staged write holds both halves of the mutation — the
            # drifted clusters' surviving rows (swap: replace dirs) AND the
            # migrating rows under their new non-drifted cluster ids (move:
            # file-renames into existing dirs; the two cluster-id sets are
            # disjoint by construction). The old shape appended movers to
            # the live corpus BEFORE the swap removed them from the drifted
            # dirs, so a crash in between duplicated every mover — and a
            # rerun tripled them. Under the plan protocol a crash either
            # never touched the corpus or replays to exactly-once renames.
            tmp = self.corpus_path.rstrip("/") + ".tmp-refresh"
            write_clustered(reassigned, tmp)
            mover_clusters = [
                int(r.cluster_id)
                for r in reassigned.select("cluster_id")
                .distinct()
                .filter(~F.col("cluster_id").isin(drifted))
                .collect()
            ]
            write_swap_plan(self.spark, tmp, drifted, mover_clusters)
            execute_swap(self.spark, self.corpus_path, tmp)
        return {"max_shift": max_shift, "drifted": drifted, "moved": moved}

    # -- search (reference ivf.py:138-199) --------------------------------------

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 10,
        *,
        metric: str = "euclidean",
        allowed_ids: DataFrame | None = None,
    ) -> DataFrame:
        """n_probe search (ivf.py:170-178): each query's ``n_probe``
        nearest clusters, exact distances over their rows only, then the
        k-NN result contract (``operators/topk.py``).

        The query side is size-routed (``vector_db_spark.route``, site
        ``ivf.probe``) by one bounded fetch, which is also the read of the
        queries. Within ``knn._MAX_BATCH_QUERIES`` rows the probes are
        ranked on the driver (:meth:`rank_probes`), the corpus is read once
        with a static ``cluster_id IN (probed clusters)`` partition filter
        — "only scan the probed inverted lists" as partition pruning — and
        the k-NN batch kernel scores each cluster's rows against only the
        queries that probe it, emitting a partial top-k per batch. Past the
        bound the queries stay distributed: :meth:`probe_join` ranks and
        joins them in SQL and the distance is a SQL expression.

        ``allowed_ids`` (one column named like ``id_col``) pre-filters the
        candidate set — metadata-filtered search (reference F2,
        app.py:184-199) as a semi-join BEFORE distances and top-k, so a
        filtered search still returns k results when k matches exist."""
        if metric not in METRICS:
            raise ValueError(f"unknown metric {metric!r}; choose from {sorted(METRICS)}")
        q = _fetch_queries(queries, "ivf.probe")
        corpus = self.corpus()
        if allowed_ids is not None:
            corpus = corpus.join(allowed_ids, self.id_col, "left_semi")
        if q is None:
            scored = self.probe_join(queries, corpus, n_probe, metric=metric).select(
                "query_id",
                F.col(self.id_col).alias("neighbor_id"),
                METRICS[metric](F.col("query_vec"), F.col(self.vec_col)).alias("dist"),
            )
        elif not len(q[0]):
            return _no_hits(self.spark)
        else:
            probes = self.rank_probes(self.centroid_matrix(), q[1], n_probe, metric)
            scored = _batch_score(
                *q,
                corpus.filter(F.col("cluster_id").isin(np.unique(probes).tolist())),
                k, metric=metric, id_col=self.id_col, vec_col=self.vec_col, probes=probes,
            )
        return nearest_k(scored, k)

    @staticmethod
    def rank_probes(
        centroids: np.ndarray, queries: np.ndarray, n_probe: int, metric: str = "euclidean"
    ) -> np.ndarray:
        """(q, n_probe) cluster ids: row i is query i's ``n_probe`` nearest
        clusters, nearest first (ivf.py:170-171's argsort, on the driver).
        ``centroids`` is :meth:`centroid_matrix` (row c is cluster c), so
        distance ties go to the lower cluster_id, as in :meth:`probe_join`.

        Probes are ranked by the SAME metric as final scoring: a euclidean
        probe under metric="dot" would aim at the L2-nearest centroids
        while the max-inner-product neighbors live in large-norm clusters
        far away in L2 — deterministically missing the true top-k whenever
        n_probe < n_clusters."""
        dists = _numpy_distances(metric, centroids, queries)  # (k, q)
        return np.argsort(dists, axis=0, kind="stable")[:n_probe].T

    def probe_join(
        self, queries: DataFrame, table: DataFrame, n_probe: int, *, metric: str = "euclidean"
    ) -> DataFrame:
        """The large-query-side probe: each query's ``n_probe`` nearest
        clusters as a windowed top-n_probe over the broadcast centroid join
        (ordered by (distance under ``metric``, cluster_id), the order of
        :meth:`rank_probes`), joined to the cluster-partitioned ``table`` on
        ``cluster_id``. Searches take it only past their
        ``knn._MAX_BATCH_QUERIES`` route, so the probe table is joined
        un-hinted (Catalyst/AQE pick the strategy; the scan can still prune
        dynamically). Ranking ascending by METRICS[metric] is
        nearest-under-that-metric by construction (dot is registered
        negated)."""
        probes = top_k_per_group(
            queries.crossJoin(F.broadcast(self.centroids())).withColumn(
                "__cdist", METRICS[metric](F.col("query_vec"), F.col("centroid"))
            ),
            ["query_id"],
            [F.col("__cdist").asc(), F.col("cluster_id").asc()],
            n_probe,
        ).select("query_id", "query_vec", "cluster_id")
        return probes.join(table, "cluster_id")

    # -- stats (reference ivf.py:201-215) ----------------------------------------

    def cluster_sizes(self) -> DataFrame:
        return self.corpus().groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))

    def stats(self) -> DataFrame:
        sizes = self.cluster_sizes()
        return sizes.agg(
            F.count("*").alias("n_clusters"),
            F.min("cluster_size").alias("min_size"),
            F.max("cluster_size").alias("max_size"),
            (F.sum("cluster_size").cast("double") / F.count("*")).alias("avg_size"),
            F.sum("cluster_size").alias("total_vectors"),
        )
