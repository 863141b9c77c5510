"""The reference's service surface as a batch library facade.

Maps the two-service FastAPI architecture (``/root/reference/src/vector_db/
api/app.py``; embedding service at ``docker/embedding-service/app.py``) onto
the engine: each HTTP endpoint becomes a method whose body is one composed
DataFrame plan (SURVEY.md §3 — the process/HTTP boundaries become plan
boundaries):

| reference endpoint | here |
|---|---|
| ``POST /embed`` insert (app.py:119-160): embed → next id → storage save → incremental index insert | :meth:`insert_documents`: embed UDF → ``NodeTable.append_with_ids`` (next id from the Parquet footers; the batch fetched once to the driver, numbered and dimension-checked there, and appended as one file) → the written rows centroid-assigned and appended to the IVF corpus |
| ``POST /search`` (app.py:165-233): embed query → metadata filter → ANN search → format | :meth:`search`: embed → Catalyst predicate filter (pushed down, not post-hoc like the reference's hnsw filter_ids) → IVF n_probe search (exact brute force while no index exists) → join content/metadata |
| ``GET /health`` (app.py:107-116) | :meth:`health` |
| service startup / index load-on-start (app.py:42-101, L3) | the constructor — index state is Parquet, read per request (the centroid file on the driver, the corpus by ``spark.read`` with its fixed schema) |

Online single-query serving is explicitly out of scope for a Spark engine
(BASELINE.json north star); a "query" here is a row in a query table, and
one-text convenience wrappers build a one-row table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_spark.functions.embedding import stub_embedder
from vector_db_spark.io import has_data_files
from vector_db_spark.operators.ivf import IVFIndex
from vector_db_spark.operators.knn import knn_join
from vector_db_spark.storage import NodeTable


class VectorDBService:
    """insert / search / stats over a persisted corpus + optional IVF index."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        *,
        dim: int = 64,
        embedder=None,
    ):
        self.spark = spark
        self.base_path = base_path
        self.dim = dim
        self.embedder = embedder if embedder is not None else stub_embedder(dim)
        self.nodes = NodeTable(spark, os.path.join(base_path, "nodes"), dim=dim)
        self.index_path = os.path.join(base_path, "ivf")

    # -- startup state (L3) ---------------------------------------------------

    def _index(self) -> IVFIndex | None:
        """The IVF index iff its centroid table holds data files — a
        filesystem check (``io.has_data_files``), not a try/read, so a
        present but unreadable index raises on its next read instead of
        turning search exact and leaving inserts out of the index."""
        idx = IVFIndex(self.spark, self.index_path, id_col="id", vec_col="embedding")
        return idx if has_data_files(idx.centroids_path) else None

    # -- write path (POST /embed) ---------------------------------------------

    def insert_documents(self, docs: DataFrame) -> int:
        """``docs``: (content string, metadata map<string,string>); any
        other column is rejected before a Spark job runs. Embeds once,
        numbers and appends through :meth:`NodeTable.append_with_ids`
        (ids from one past the largest stored id, from 1 on an empty store
        — storage.py:276-280), and extends the IVF index, when one exists,
        with exactly the rows written (indexing_service.py:77-89).
        Returns the number inserted."""
        n, written = self.nodes.append_with_ids(
            docs.withColumn("embedding", self.embedder(F.col("content")))
        )
        idx = self._index()
        if idx is not None:
            idx.add(written.select("id", "embedding"))
        return n

    def delete_documents(self, node_ids: list[int]) -> int:
        """DELETE by id across BOTH stores: the node table (only the data
        files holding those ids are rewritten, :meth:`NodeTable.delete`)
        and, when an index exists, the IVF partitions holding those vectors
        (:meth:`IVFIndex.delete`); both swap their rewrites in through the
        staged-swap protocol (operators/staging.py). Returns the number
        actually removed: the ids ``NodeTable.delete`` matched (ids are
        unique, so that is the drop in table size)."""
        n = self.nodes.delete(node_ids)
        idx = self._index()
        if idx is not None:
            idx.delete(node_ids)
        return n

    # -- index build (V10) -----------------------------------------------------

    def build_index(self, k: int = 10, seed: int = 42) -> None:
        IVFIndex.build(
            self.spark,
            self.nodes.df().select("id", "embedding"),
            k,
            self.index_path,
            id_col="id",
            vec_col="embedding",
            seed=seed,
        )

    # -- maintenance ------------------------------------------------------------

    def refresh_index(self, *, reassign_threshold: float | None = None) -> dict:
        """Centroid-drift maintenance (see :meth:`IVFIndex.refresh`): call
        after enough :meth:`insert_documents` batches that build-time
        centroids no longer reflect the corpus. No-op without an index."""
        idx = self._index()
        if idx is None:
            return {"max_shift": 0.0, "drifted": [], "moved": 0}
        return idx.refresh(reassign_threshold=reassign_threshold)

    # -- read path (POST /search) ----------------------------------------------

    def search(
        self,
        query_texts: list[str],
        top_k: int = 5,
        *,
        metadata_filter: dict[str, str] | None = None,
        n_probe: int = 10,
    ) -> DataFrame:
        """Returns (query_id, id, content, metadata, distance, rank) — the
        reference's response rows (app.py:214-227). ``query_id`` indexes
        into ``query_texts``. Filter semantics are the reference's F1+F2:
        every metadata pair must match, applied BEFORE the search. With no
        index the search is exact (brute force over the filtered store)."""
        queries = self.spark.createDataFrame(
            [(i, t) for i, t in enumerate(query_texts)], "query_id long, content string"
        ).withColumn("query_vec", self.embedder(F.col("content"))).select(
            "query_id", "query_vec"
        )
        corpus = (
            self.nodes.filter_by_metadata(metadata_filter)
            if metadata_filter
            else self.nodes.df()
        )
        idx = self._index()
        if idx is None:
            hits = knn_join(
                queries, corpus.select("id", "embedding"), top_k,
                id_col="id", vec_col="embedding", impl="batch",
            )
        elif metadata_filter:
            # the filter prunes candidates BEFORE distances/top-k — unlike
            # the reference's during-traversal id check (hnsw.py:126-131),
            # a filtered search still fills k results when k matches exist.
            # Strategy is selectivity-adaptive: a selective filter would
            # make probe-pruned IVF a recall trap (survivors may all live
            # outside the probed clusters), so few survivors → exact scan
            # over them; many → probe-pruned IVF with the filter pre-join
            from vector_db_spark.operators.knn import adaptive_filtered_knn

            hits = adaptive_filtered_knn(
                queries, idx, top_k, allowed_ids=corpus.select("id"), n_probe=n_probe
            )
        else:
            hits = idx.search(queries, top_k, n_probe)
        return (
            hits.withColumnRenamed("neighbor_id", "id")
            .join(self.nodes.df().select("id", "content", "metadata"), "id")
            .select("query_id", "id", "content", "metadata",
                    F.col("dist").alias("distance"), "rank")
        )

    # -- health (GET /health) ---------------------------------------------------

    def health(self) -> dict:
        idx = self._index()
        n = self.nodes.size() if self.nodes.exists() else 0
        out = {"status": "healthy", "storage_nodes": n, "index": idx is not None}
        if idx is not None:
            stats = idx.stats().collect()[0]
            out["index_vectors"] = stats.total_vectors
            out["index_clusters"] = stats.n_clusters
        return out
