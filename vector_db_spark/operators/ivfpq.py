"""IVFPQ: coarse IVF probing + residual Product Quantization + ADC scan.

The reference ships IVF (``/root/reference/src/vector_db/indexing/ivf.py``)
and PQ (``/root/reference/src/vector_db/inference/pq.py``) as *separate*
components and never composes them. This module composes the two
(the FAISS-style IVFADC pipeline, the standard way to search billions of
vectors) and owns only what the composition adds.

Reused, not copied:

- **coarse layer** — an :class:`~vector_db_spark.operators.ivf.IVFIndex`
  over the same ``<path>``: its ``centroids/`` and ``corpus/`` readers,
  the probe ranking (``probe_join``), the one centroid-table writer and
  the cluster statistics (``index.ivf.stats()``);
- **codec** — a :class:`~vector_db_spark.operators.pq.PQModel` over the
  same ``<path>``: the one codebook writer and tensor reader, and the one
  PQ encode kernel :func:`~vector_db_spark.operators.pq.encode_chunks`.

Added here:

- the ``codes/`` table (``vec_id``, ``codes`` partitioned by
  ``cluster_id``) — the compressed corpus, the only thing ADC scans;
- the **residual** step: codebooks are trained on, and vectors encoded as,
  ``x − centroid(x)``. Within a probed cluster vectors share their
  centroid, so quantizing the residual spends the whole codebook budget on
  the local neighborhood — Jégou et al., "Product Quantization for Nearest
  Neighbor Search" (TPAMI 2011), §IV.A (IVFADC);
- the per-(query, cluster) **ADC kernel**: one lookup table over the
  residual query ``q − c`` per probed cluster, a partial top-k inside each
  Arrow batch, then a global exact top-k and an optional exact re-rank of
  ``refine × k`` candidates against the raw corpus.

At 100 TB: the only driver-side state is (k×dim centroids) + (m×k×sub
codebooks); training samples are capped; encode/search are single Arrow
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
from vector_db_spark.operators.ivf import IVFIndex, assign_to_centroids
from vector_db_spark.operators.kmeans import (
    DEFAULT_SAMPLE_CAP,
    collect_sample,
    kmeans_fit,
)
from vector_db_spark.operators.pq import PQModel, encode_chunks
from vector_db_spark.operators.topk import nearest_k


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
        max_iter: int = 20,
        seed: int = 42,
    ) -> "IVFPQIndex":
        """Coarse quantizer and residual codebooks from one bounded sample,
        then corpus, codes and — last — the two model tables."""
        dim = len(corpus.select(vec_col).first()[0])
        if dim % n_chunks != 0:
            raise ValueError(f"dim {dim} not divisible into {n_chunks} chunks")
        sub = dim // n_chunks

        # 1. coarse quantizer on a bounded sample (one collect, capped)
        x = collect_sample(corpus, vec_col, DEFAULT_SAMPLE_CAP, seed)
        centers = kmeans_fit(x, k_coarse, max_iter=max_iter, seed=seed)

        # 2. residual codebooks: the SAME sample re-used — assign each
        #    sampled vector to its center, train per-subspace k-means on the
        #    residuals (no second scan of the corpus)
        d2 = ((x[:, None, :].astype(np.float64) - centers[None, :, :]) ** 2).sum(axis=2)
        resid = x.astype(np.float64) - centers[d2.argmin(axis=1)]
        # codebook fits need ~256 training points per centroid (the FAISS
        # heuristic) — cap the per-subspace sample so driver-side training
        # stays O(k_codes), not O(corpus sample)
        cap = 256 * k_codes
        if resid.shape[0] > cap:
            pick = np.random.default_rng(seed).choice(resid.shape[0], cap, replace=False)
            resid = resid[pick]
        tensor = np.stack(
            [
                kmeans_fit(
                    resid[:, c * sub : (c + 1) * sub].astype(np.float32),
                    k_codes,
                    max_iter=max_iter,
                    seed=seed + 1 + c,
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
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        *,
        refine: int | None = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        round_to: int | None = 6,
    ) -> DataFrame:
        """ADC n_probe search; with ``refine`` set, the ADC pass returns
        ``refine × k`` candidates per query and a raw-vector join re-ranks
        them exactly (distances then match brute force on the recalled set).

        The probe join is size-routed like ``IVFIndex.probe_join``; its
        un-hinted large branch is safe here because the ADC kernel's
        per-batch (query, cluster) cuts are fixed by the global top-k."""
        fetch = k * refine if refine else k
        # the (tiny) probe table is broadcast into every codes partition —
        # no shuffle of the codes side; DPP prunes unprobed clusters
        cand = self.ivf.probe_join(
            queries, self.codes(), n_probe, query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        bc = self.spark.sparkContext.broadcast(
            (self.ivf.centroid_matrix(), self.pq.codebook_tensor())
        )
        id_col, qid, qvec, kk = self.id_col, query_id_col, query_vec_col, fetch

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cents, t = bc.value
            m, kcodes, s = t.shape
            rng = np.arange(m)
            for pdf in batches:
                if pdf.empty:
                    continue
                # one LUT per (query, cluster) group: residual q − c
                for (q, cid), g in pdf.groupby([qid, "cluster_id"], sort=False):
                    qv = np.asarray(g[qvec].iloc[0], dtype=np.float64)
                    r = (qv - cents[cid]).reshape(m, s)
                    lut = ((r[:, None, :] - t) ** 2).sum(axis=2)  # (m, kcodes)
                    codes = np.array(g["codes"].tolist(), dtype=np.int64)  # (n, m)
                    d = np.sqrt(lut[rng[None, :], codes].sum(axis=1))  # (n,)
                    take = min(kk, d.shape[0])
                    idx = np.argpartition(d, take - 1)[:take]
                    yield pd.DataFrame(
                        {
                            "query_id": np.full(take, q, dtype=np.int64),
                            "neighbor_id": g[id_col].to_numpy(dtype=np.int64)[idx],
                            "dist": d[idx],
                        }
                    )

        scored = cand.mapInPandas(score, "query_id long, neighbor_id long, dist double")
        adc_top = nearest_k(scored, fetch).drop("rank")
        if not refine:
            return nearest_k(adc_top, k, round_to)

        # exact re-rank: refine×k candidate rows per query — broadcast the
        # (tiny) candidate list so the raw corpus is streamed, never
        # shuffled, and its scan can prune on the candidates' clusters
        qside = queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv")
        )
        exact = (
            self.ivf.corpus()
            .select(F.col(self.id_col).alias("neighbor_id"), self.vec_col)
            .join(F.broadcast(adc_top.select("query_id", "neighbor_id")), "neighbor_id")
            .join(F.broadcast(qside), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                euclidean("__qv", self.vec_col).alias("dist"),
            )
        )
        return nearest_k(exact, k, round_to)
