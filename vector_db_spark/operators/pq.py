"""Product Quantization: train / encode / decode / ADC search.

Re-expresses the reference's PQ component (``/root/reference/src/vector_db/
inference/pq.py``) Spark-first:

| reference | here |
|---|---|
| ``_chunk_embeddings``: reshape (N,D)→(m,N,D/m) (pq.py:48-62) | ``slice(embedding, c*sub+1, sub)`` column expressions — no data movement |
| ``_compute_centroids``: per-chunk k-means, ProcessPoolExecutor (pq.py:64-75) | bounded-sample numpy fits per subspace over ONE collected sample (operators.kmeans) |
| ``_find_nearest_centroid`` / ``_compress_embedding``: argmin encode (pq.py:77-89) | :func:`encode_chunks` in an Arrow-batched pandas UDF over a broadcast (m,k,sub) codebook tensor — one vectorized pass, no shuffle (IVFPQ encodes its residuals with the same kernel) |
| codes ``int64[N, chunks]`` (pq.py:82-89) | ``codes array<int>`` column |
| codebook list of (k,sub) arrays (pq.py:37, 98-100) | Parquet table (chunk_idx, code, centroid) — broadcastable, engine-readable |

Plus ADC (asymmetric distance) search, the natural follow-on the reference
lacks: per query build an (m,k) lookup table of subspace distances, then a
corpus pass scores each code word by m table gathers — the scan reads only
the (tiny) code column, never the raw vectors. The gather is
:func:`_adc_top`, the one ADC kernel of PQ and IVF-PQ search.

Validation mirrors pq.py:39-46: dimension must divide evenly into chunks.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from vector_db_spark.io import read_small_parquet, write_small_parquet
from vector_db_spark.operators.kmeans import collect_sample, kmeans_fit
from vector_db_spark.operators.knn import _BATCH_SCHEMA, _fetch_queries, _no_hits, _topk_frame
from vector_db_spark.operators.topk import nearest_k


def encode_chunks(x: np.ndarray, tensor: np.ndarray) -> np.ndarray:
    """The PQ encode kernel: (n, m·sub) vectors → (n, m) int32 codes, each
    the nearest of the k code words of its subspace in the (m, k, sub)
    ``tensor`` (squared L2, ties to the lowest code)."""
    m, _, sub = tensor.shape
    chunks = x.reshape(x.shape[0], m, sub)  # (n, m, sub)
    # (n, m, k) squared distances per subspace, then argmin
    d2 = ((chunks[:, :, None, :] - tensor[None, :, :, :]) ** 2).sum(axis=3)
    return d2.argmin(axis=2).astype(np.int32)


def _adc_top(
    resid: np.ndarray,
    tensor: np.ndarray,
    codes: pd.Series,
    ids: pd.Series,
    qids: np.ndarray,
    kk: int,
) -> pd.DataFrame:
    """The ADC kernel, shared by PQ and IVF-PQ search: an (m, k_codes)
    lookup table per query residual (the rows of ``resid``: the query
    itself for plain PQ, ``q − c`` within IVF-PQ's cluster c), each code
    row's distance the root of its m summed lookups, then each query's
    top-``kk`` under the k-NN result order through ``knn._partial_topk``."""
    m, _, sub = tensor.shape
    codes = np.array(codes.tolist(), dtype=np.int64)  # (n, m)
    lut = ((resid.reshape(-1, m, 1, sub) - tensor) ** 2).sum(axis=3)  # (q, m, k_codes)
    d2 = np.zeros((len(qids), len(codes)))
    for j in range(m):
        d2 += lut[:, j, codes[:, j]]
    return _topk_frame(qids, ids.to_numpy(dtype=np.int64), np.sqrt(d2.T), kk)


class PQModel:
    """A trained PQ codebook set persisted at ``<path>/codebooks``."""

    def __init__(self, spark: SparkSession, path: str, *, id_col: str = "vec_id", vec_col: str = "embedding"):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col

    @property
    def codebooks_path(self) -> str:
        return os.path.join(self.path, "codebooks")

    def codebook_tensor(self) -> np.ndarray:
        """(m, k, sub) float64 tensor, read on the driver with no Spark job;
        each row lands at its (chunk_idx, code)."""
        t = read_small_parquet(self.codebooks_path)
        chunk, code = t.column("chunk_idx").to_numpy(), t.column("code").to_numpy()
        words = np.array(t.column("centroid").to_pylist(), dtype=np.float64)
        tensor = np.zeros((chunk.max() + 1, code.max() + 1, words.shape[1]))
        tensor[chunk, code] = words
        return tensor

    def write_codebooks(self, tensor: np.ndarray) -> None:
        """The codebook table's one writer: one (chunk_idx, code, centroid)
        row per code word of the (m, k, sub) ``tensor``."""
        m, k, sub = tensor.shape
        write_small_parquet(
            self.codebooks_path,
            pa.table(
                {
                    "chunk_idx": pa.array(np.repeat(np.arange(m), k), pa.int32()),
                    "code": pa.array(np.tile(np.arange(k), m), pa.int32()),
                    "centroid": pa.array(
                        tensor.reshape(m * k, sub).tolist(), pa.list_(pa.float64())
                    ),
                }
            ),
        )

    # -- train (reference pq.py:64-75, 91-108) --------------------------------

    @classmethod
    def train(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        path: str,
        *,
        n_chunks: int = 8,
        k: int = 16,
    ) -> "PQModel":
        """Codebooks of a (vec_id, embedding) corpus from one bounded
        sample."""
        dim = len(corpus.select("embedding").first()[0])
        if dim % n_chunks != 0:
            raise ValueError(
                f"embedding dim {dim} not divisible into {n_chunks} chunks"
            )
        sub = dim // n_chunks
        # one bounded sample collect feeds every subspace fit (the
        # reference's ProcessPoolExecutor parallelism collapses into
        # m in-driver numpy fits on slices of the same array); encode /
        # search stay fully distributed against the broadcast tensor
        seed = 42
        x = collect_sample(corpus, "embedding", seed=seed)
        tensor = np.stack(
            [
                kmeans_fit(x[:, c * sub : (c + 1) * sub], k, seed=seed + c)
                for c in range(n_chunks)
            ]
        )  # (m, k, sub)
        model = cls(spark, path)
        model.write_codebooks(tensor)
        return model

    # -- encode (reference pq.py:77-89) ---------------------------------------

    def encode(self, df: DataFrame) -> DataFrame:
        """Add a ``codes array<int>`` column: per-chunk nearest-centroid.
        One Arrow pass with the broadcast codebook tensor; no shuffle."""
        bc = self.spark.sparkContext.broadcast(self.codebook_tensor())
        id_col, vec_col = self.id_col, self.vec_col

        def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                x = np.array(pdf[vec_col].tolist(), dtype=np.float64)  # (n, d)
                codes = encode_chunks(x, bc.value)  # (n, m)
                yield pd.DataFrame({id_col: pdf[id_col].values, "codes": list(codes)})

        return df.select(id_col, vec_col).mapInPandas(
            enc, f"{id_col} long, codes array<int>"
        )

    # -- decode: approximate reconstruction -----------------------------------

    def decode(self, codes_df: DataFrame) -> DataFrame:
        """Reconstruct the quantized vector (codebook lookup + concat)."""
        tensor = self.codebook_tensor()
        bc = self.spark.sparkContext.broadcast(tensor)
        id_col = self.id_col

        def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            t = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
                recon = t[np.arange(t.shape[0])[None, :], codes]  # (n, m, sub)
                recon = recon.reshape(codes.shape[0], -1).astype(np.float32)
                yield pd.DataFrame({id_col: pdf[id_col].values, "decoded": list(recon)})

        return codes_df.mapInPandas(dec, f"{id_col} long, decoded array<float>")

    # -- ADC search -------------------------------------------------------------

    def adc_search(self, queries: DataFrame, codes_df: DataFrame, top_k: int = 5) -> DataFrame:
        """Asymmetric-distance k-NN over PQ codes, as the k-NN result
        contract (``operators/topk.py``): each corpus row costs m lookups
        in its query's (m, k) LUT of subspace squared distances — the scan
        touches only ids+codes (m*4 bytes/vector instead of dim*4), which
        is the point of PQ at 100 TB.

        The query side is collected and broadcast while it is within
        ``knn._MAX_BATCH_QUERIES`` rows (route site ``pq.queries``), and
        each Arrow batch of codes is scored by :func:`_adc_top`, the ADC
        kernel IVF-PQ shares, with the query as its residual. Past that the
        search routes to :meth:`_adc_search_join` — LUTs computed
        distributed per query row, distances via a JVM-side gather join."""
        q = _fetch_queries(queries, "pq.queries")
        if q is None:
            return self._adc_search_join(queries, codes_df, top_k)
        if not len(q[0]):
            return _no_hits(self.spark)
        bc = self.spark.sparkContext.broadcast((*q, self.codebook_tensor()))
        id_col = self.id_col

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qids, qmat, t = bc.value
            for pdf in batches:
                if not pdf.empty:
                    yield _adc_top(qmat, t, pdf["codes"], pdf[id_col], qids, top_k)

        scored = codes_df.select(id_col, "codes").mapInPandas(score, _BATCH_SCHEMA)
        return nearest_k(scored, top_k)

    def _adc_search_join(self, queries: DataFrame, codes_df: DataFrame, top_k: int) -> DataFrame:
        """Fully distributed ADC: the per-query (m·k) LUT is computed by a
        vectorized Pandas UDF *on the query table* (one Arrow batch per
        partition — never collected), and the corpus scan gathers
        ``Σ_j lut[j·k + codes[j]]`` with a JVM-side ``aggregate`` over the
        flat LUT array. The query×corpus pairing is a plain join with no
        broadcast hint, so Catalyst/AQE pick the physical strategy — this
        is the big-query-side shape the collected-LUT fast path cannot
        serve."""
        tensor = self.codebook_tensor()
        m, k, sub = tensor.shape
        bc = self.spark.sparkContext.broadcast(tensor)

        @pandas_udf("array<double>")
        def lut_flat(vecs: pd.Series) -> pd.Series:
            t = bc.value  # (m, k, sub)
            q = np.array(vecs.tolist(), dtype=np.float64).reshape(len(vecs), m, sub)
            luts = ((q[:, :, None, :] - t[None, :, :, :]) ** 2).sum(axis=3)  # (n, m, k)
            return pd.Series(list(luts.reshape(len(vecs), m * k)))

        qside = queries.select("query_id", lut_flat(F.col("query_vec")).alias("__lut"))
        dist2 = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.col("__lut"), (j * F.lit(k) + F.element_at(F.col("codes"), j + 1) + 1).cast("int")
            ),
        )
        scored = (
            codes_df.select(F.col(self.id_col).alias("neighbor_id"), "codes")
            .crossJoin(qside)
            .select("query_id", "neighbor_id", F.sqrt(dist2).alias("dist"))
        )
        return nearest_k(scored, top_k)
