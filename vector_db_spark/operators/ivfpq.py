"""IVFPQ: coarse IVF probing + residual Product Quantization + ADC scan.

The reference ships IVF (``/root/reference/src/vector_db/indexing/ivf.py``)
and PQ (``/root/reference/src/vector_db/inference/pq.py``) as *separate*
components and never composes them. This module composes the two
(the FAISS-style IVFADC pipeline, the standard way to search billions of
vectors) and owns only what the composition adds.

Reused, not copied:

- **coarse layer** — an :class:`~vector_db_spark.operators.ivf.IVFIndex`
  over the same ``<path>``: its ``centroids/`` and ``corpus/`` readers,
  the centroid rankings (``assign_to_centroids``; ``rank_probes`` on the
  driver, also for the training sample's nearest center; ``probe_join``
  past the query-side bound), the one centroid-table writer and the cluster
  statistics (``index.ivf.stats()``);
- **codec** — a :class:`~vector_db_spark.operators.pq.PQModel` over the
  same ``<path>``: the one codebook writer and tensor reader, the one
  PQ encode kernel :func:`~vector_db_spark.operators.pq.encode_chunks` and
  the one ADC kernel ``pq._adc_top``.

Added here:

- the ``codes/`` table (``vec_id``, ``codes`` partitioned by
  ``cluster_id``) — the compressed corpus, the only thing ADC scans;
- the **residual** step: codebooks are trained on, and vectors encoded as,
  ``x − centroid(x)``. Within a probed cluster vectors share their
  centroid, so quantizing the residual spends the whole codebook budget on
  the local neighborhood — Jégou et al., "Product Quantization for Nearest
  Neighbor Search" (TPAMI 2011), §IV.A (IVFADC);
- the **ADC scan**: the shared ADC kernel (``pq._adc_top``) given the
  residual query ``q − c`` per (query, probed cluster), a (dist, id)
  partial top-k inside each Arrow batch, then a global exact top-k and an
  optional exact re-rank of
  ``refine × k`` candidates against the raw corpus. Search has two
  branches, routed on the query side like ``IVFIndex.search``: within
  the bound the queries are collected, the probe plan is ranked on the
  driver and the codes scan is statically pruned to the probed clusters,
  whose rows each batch scores against only the queries that probe them;
  past it the SQL probe join feeds the kernel (query, cluster) groups.

At 100 TB: the only driver-side state is (k×dim centroids) + (m×k×sub
codebooks) + at most ``knn._MAX_BATCH_QUERIES`` query rows (no LUT is
built on the driver: at that bound q × n_probe LUTs could reach
gigabytes); training samples are capped; encode/search are single Arrow
passes over partition-pruned scans (the ADC scan reads only the ids+codes
columns: m×4 bytes per vector instead of dim×4); the re-rank join touches
refine×k rows per query.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_spark.functions.distance import euclidean
from vector_db_spark.io import write_clustered
from vector_db_spark.operators.ivf import IVFIndex, assign_to_centroids, probe_join
from vector_db_spark.operators.kmeans import (
    DEFAULT_SAMPLE_CAP,
    collect_sample,
    kmeans_fit,
)
from vector_db_spark.operators.knn import _BATCH_SCHEMA, _fetch_queries, _no_hits, _probe_plan
from vector_db_spark.operators.pq import PQModel, _adc_top, encode_chunks
from vector_db_spark.operators.topk import nearest_k

# every sample and k-means fit of a build derives from this seed
_SEED = 42


class IVFPQIndex:
    """Persisted layout under ``path``:

    - ``centroids/``  (cluster_id int, centroid array<double>) — coarse,
      the :class:`IVFIndex` table.
    - ``codebooks/``  (chunk_idx int, code int, centroid array<double>) —
      residual-space, ``m × k_codes`` rows, the :class:`PQModel` table.
    - ``codes/``      (vec_id long, codes array<int>) partitioned by
      ``cluster_id`` — the compressed corpus, the only thing ADC scans.
    - ``corpus/``     (vec_id long, embedding array<float>) partitioned by
      ``cluster_id`` — raw vectors (the :class:`IVFIndex` corpus), touched
      only by the re-rank join.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.ivf = IVFIndex(spark, path, id_col=id_col, vec_col=vec_col)
        self.pq = PQModel(spark, path, id_col=id_col, vec_col=vec_col)
        # the codes table's types: _encode writes them, codes() reads them
        self.codes_schema = f"{id_col} long, codes array<int>, cluster_id int"

    @property
    def codes_path(self) -> str:
        return os.path.join(self.path, "codes")

    def codes(self) -> DataFrame:
        return self.spark.read.schema(self.codes_schema).parquet(self.codes_path)

    def _encode(
        self, assigned: DataFrame, centroids: np.ndarray, tensor: np.ndarray
    ) -> DataFrame:
        """(id, vec, cluster_id) → (id, codes, cluster_id): the residual
        ``x − centroids[cluster_id]`` through the PQ encode kernel, in one
        Arrow pass (broadcast state is k×dim + m×k×sub)."""
        bc = self.spark.sparkContext.broadcast((centroids, tensor))
        id_col, vec_col = self.id_col, self.vec_col

        def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cents, t = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                cid = pdf["cluster_id"].to_numpy(dtype=np.int64)
                codes = encode_chunks(v - cents[cid], t)
                yield pd.DataFrame(
                    {id_col: pdf[id_col].values, "codes": list(codes), "cluster_id": cid}
                )

        return assigned.mapInPandas(enc, self.codes_schema)

    # -- build ----------------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        path: str,
        *,
        k_coarse: int = 16,
        n_chunks: int = 8,
        k_codes: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFPQIndex":
        """Coarse quantizer and residual codebooks from one bounded sample,
        then corpus, codes and — last — the two model tables."""
        dim = len(corpus.select(vec_col).first()[0])
        if dim % n_chunks != 0:
            raise ValueError(f"dim {dim} not divisible into {n_chunks} chunks")
        sub = dim // n_chunks

        # 1. coarse quantizer on a bounded sample (one collect, capped)
        x = collect_sample(corpus, vec_col, DEFAULT_SAMPLE_CAP, _SEED)
        centers = kmeans_fit(x, k_coarse, seed=_SEED)

        # 2. residual codebooks: the SAME sample re-used — assign each
        #    sampled vector to its center, train per-subspace k-means on the
        #    residuals (no second scan of the corpus)
        resid = x.astype(np.float64) - centers[IVFIndex.rank_probes(centers, x, 1)[:, 0]]
        # codebook fits need ~256 training points per centroid (the FAISS
        # heuristic) — cap the per-subspace sample so driver-side training
        # stays O(k_codes), not O(corpus sample)
        cap = 256 * k_codes
        if resid.shape[0] > cap:
            pick = np.random.default_rng(_SEED).choice(resid.shape[0], cap, replace=False)
            resid = resid[pick]
        tensor = np.stack(
            [
                kmeans_fit(
                    resid[:, c * sub : (c + 1) * sub].astype(np.float32),
                    k_codes,
                    seed=_SEED + 1 + c,
                    n_init=2,
                )
                for c in range(n_chunks)
            ]
        )  # (m, k_codes, sub)

        # 3. distributed assign + write raw corpus partitioned by cluster
        index = cls(spark, path, id_col=id_col, vec_col=vec_col)
        assigned = assign_to_centroids(
            index.ivf._typed(corpus), enumerate(centers), id_col=id_col, vec_col=vec_col
        )
        write_clustered(assigned, index.ivf.corpus_path)

        # 4. residual-encode in ONE Arrow pass over the just-written corpus
        #    (reading it back avoids recomputing the assignment lineage)
        codes = index._encode(index.ivf.corpus(), centers, tensor)
        write_clustered(codes, index.codes_path)

        # 5. model state as engine-readable Parquet (no pickle — reference
        #    pickles at ivf.py:217-229 / implicit in pq)
        index.ivf.write_centroids(centers)
        index.pq.write_codebooks(tensor)
        return index

    # -- search ---------------------------------------------------------------

    def search(
        self, queries: DataFrame, k: int = 5, n_probe: int = 4, *, refine: int | None = 4
    ) -> DataFrame:
        """ADC n_probe search, as the k-NN result contract
        (``operators/topk.py``); with ``refine`` set, the ADC pass returns
        ``refine × k`` candidates per query and a raw-vector join re-ranks
        them exactly (distances then match brute force on the recalled set).

        Routed like :meth:`IVFIndex.search` (site ``ivf.probe``, one bounded
        fetch of the queries). Within ``knn._MAX_BATCH_QUERIES`` query rows
        the probes are ranked on the driver and the codes table, and the raw
        corpus the re-rank reads, carry a static ``cluster_id IN (probed
        clusters)`` partition filter; the ADC kernel
        (``pq._adc_top``) builds each (query, probed cluster) LUT from the
        broadcast queries, centroids and codebooks. Past the bound,
        ``ivf.probe_join`` joins the queries to the codes in SQL
        and the same kernel builds one LUT per (query, cluster) group of the
        joined rows. Both cut each batch to each query's ADC candidates
        (``refine × k``, or ``k``) by rounded dist and id, the global
        top-k's order, so of rows tied on ADC distance the lower ids are
        kept whatever the batch layout."""
        fetch = k * refine if refine else k
        q = _fetch_queries(queries, "ivf.probe")
        cents, tensor = self.ivf.centroid_matrix(), self.pq.codebook_tensor()
        corpus = self.ivf.corpus()
        if q is None:
            scored = self._adc_joined(queries, n_probe, fetch, cents, tensor)
            qside = queries.select("query_id", "query_vec")
        elif not len(q[0]):
            return _no_hits(self.spark)
        else:
            scored, probed = self._adc_probed(*q, n_probe, fetch, cents, tensor)
            # every candidate lives in a probed cluster: the re-rank scan is
            # pruned like the codes scan, and its query side is the fetch
            corpus = corpus.filter(F.col("cluster_id").isin(probed))
            qside = self.spark.createDataFrame(
                pd.DataFrame({"query_id": q[0], "query_vec": list(q[1])}),
                "query_id long, query_vec array<double>",
            )
        if not refine:
            return nearest_k(scored, k)

        # exact re-rank: refine×k candidate rows per query — broadcast the
        # (tiny) candidate list so the raw corpus is streamed, never
        # shuffled
        exact = (
            corpus
            .select(F.col(self.id_col).alias("neighbor_id"), self.vec_col)
            .join(F.broadcast(nearest_k(scored, fetch).select("query_id", "neighbor_id")),
                  "neighbor_id")
            .join(F.broadcast(qside), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                euclidean("query_vec", self.vec_col).alias("dist"),
            )
        )
        return nearest_k(exact, k)

    def _adc_probed(
        self, qids: np.ndarray, qmat: np.ndarray, n_probe: int, fetch: int,
        cents: np.ndarray, tensor: np.ndarray,
    ) -> tuple[DataFrame, list[int]]:
        """ADC candidates for fetched queries: a driver-side probe plan,
        then one pass over the probed clusters' codes. Returns the
        candidates and the probed cluster ids."""
        plan = _probe_plan(IVFIndex.rank_probes(cents, qmat, n_probe))
        bc = self.spark.sparkContext.broadcast((qids, qmat, cents, tensor, plan))
        id_col = self.id_col

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids, mat, cents, t, plan = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                cl = pdf["cluster_id"].to_numpy()
                for c in np.unique(cl):
                    rows, qs = cl == c, plan[c]
                    yield _adc_top(
                        mat[qs] - cents[c], t, pdf["codes"][rows], pdf[id_col][rows],
                        ids[qs], fetch,
                    )

        probed = list(plan)
        codes = self.codes().filter(F.col("cluster_id").isin(probed))
        return codes.mapInPandas(score, _BATCH_SCHEMA), probed

    def _adc_joined(
        self, queries: DataFrame, n_probe: int, fetch: int, cents: np.ndarray, tensor: np.ndarray
    ) -> DataFrame:
        """ADC candidates for a query table too big to collect: the SQL
        probe join, then one LUT per (query, cluster) group of its rows."""
        cand = probe_join(queries, self.codes(), cents, n_probe)
        bc = self.spark.sparkContext.broadcast((cents, tensor))
        id_col = self.id_col

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cents, t = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                for (q, cid), g in pdf.groupby(["query_id", "cluster_id"], sort=False):
                    qv = np.asarray(g["query_vec"].iloc[0], dtype=np.float64)
                    yield _adc_top(
                        (qv - cents[cid])[None, :], t, g["codes"], g[id_col],
                        np.array([q], dtype=np.int64), fetch,
                    )

        return cand.mapInPandas(score, _BATCH_SCHEMA)
