"""OPQ — Optimized Product Quantization: an orthogonal rotation learned
before PQ so the subspace split stops fighting the data's correlation
structure.

Plain PQ (operators/pq.py, reference pq.py:48-108) chops the embedding
into m contiguous chunks and quantizes each independently — implicitly
assuming dimensions are uncorrelated and variance is spread evenly
across chunks. Real embeddings violate both, and the quantization error
concentrates in whichever chunk drew the high-variance, correlated
dims. OPQ (Ge et al., CVPR'13 — the parametric variant) fixes this with
a single orthogonal rotation R applied before chunking:

1. **Decorrelate** — rotate onto the PCA basis (operators/pca.py:
   one-pass distributed moments, driver d×d ``eigh``), so the
   covariance is diagonal.
2. **Balance** — permute the decorrelated dims into m groups whose
   eigenvalue *products* are as equal as possible (greedy: dims in
   descending-λ order, each to the currently-lightest non-full group
   by Σ log λ). Equalizing per-chunk information is what minimizes
   total quantization distortion for Gaussian data.
3. **Train plain PQ on the rotated vectors** — everything downstream
   (encode, ADC search, IVFADC composition) is unchanged; queries are
   rotated the same way at search time. R is orthogonal, so rotated
   Euclidean distances equal original distances exactly — ADC scores
   approximate the *same* metric, just with less quantization error.

Scale shape: the fit adds one PCA moment pass (zero row shuffle, driver
sees ≤ 32 bounded rows — pca.py); rotation is an Arrow BLAS matmul,
map-only; R itself is d×d doubles (16 KB at d=64), persisted as Parquet
next to the codebooks. Nothing else changes vs plain PQ.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from vector_db_spark.io import read_small_parquet, write_small_parquet
from vector_db_spark.operators.pca import fit_pca
from vector_db_spark.operators.pq import PQModel


def balanced_dim_allocation(eigvals: np.ndarray, n_chunks: int) -> np.ndarray:
    """Permutation of PCA dims (descending-λ input order) into ``n_chunks``
    contiguous groups with balanced Σ log λ — deterministic greedy
    (ties → lowest group index). Returns the dim order such that chunk c
    is positions [c·sub, (c+1)·sub)."""
    d = len(eigvals)
    if d % n_chunks != 0:
        raise ValueError(f"dim {d} not divisible into {n_chunks} chunks")
    sub = d // n_chunks
    logs = np.log(np.maximum(eigvals, 1e-12))
    groups: list[list[int]] = [[] for _ in range(n_chunks)]
    load = np.zeros(n_chunks)
    for dim in range(d):  # eigvals already descending
        open_groups = [g for g in range(n_chunks) if len(groups[g]) < sub]
        g = min(open_groups, key=lambda i: (load[i], i))
        groups[g].append(dim)
        load[g] += logs[dim]
    return np.array([dim for g in groups for dim in g], dtype=np.int64)


class OPQModel:
    """A rotation + PQ codebook pair persisted at ``<path>/{rotation,pq}``.
    Reopen-from-path like PQModel/IVFIndex: the index is just tables."""

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
        self.pq = PQModel(
            spark, os.path.join(path, "pq"), id_col=id_col, vec_col=vec_col
        )

    @property
    def rotation_path(self) -> str:
        return os.path.join(self.path, "rotation")

    def rotation(self) -> np.ndarray:
        """(d, d) orthogonal matrix — d² doubles, read on the driver with
        no Spark job; row i is the row with ``row_idx`` i."""
        t = read_small_parquet(self.rotation_path)
        order = np.argsort(t.column("row_idx").to_numpy())
        return np.array(t.column("row").to_pylist(), dtype=np.float64)[order]

    # -- train ----------------------------------------------------------------

    @classmethod
    def train(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        path: str,
        *,
        n_chunks: int = 8,
        k: int = 16,
    ) -> "OPQModel":
        """Rotation, then PQ codebooks of the rotated (vec_id, embedding)
        corpus."""
        import pyarrow as pa

        dim = len(corpus.select("embedding").first()[0])
        pca = fit_pca(corpus, "embedding", m=dim)
        perm = balanced_dim_allocation(pca.explained_var, n_chunks)
        R = np.ascontiguousarray(pca.components[perm])  # (d, d) orthogonal
        write_small_parquet(
            os.path.join(path, "rotation"),
            pa.table(
                {
                    "row_idx": pa.array(range(dim), pa.int32()),
                    "row": pa.array([list(map(float, r)) for r in R], pa.list_(pa.float64())),
                }
            ),
        )
        model = cls(spark, path)
        PQModel.train(
            spark, model.rotate(corpus), os.path.join(path, "pq"), n_chunks=n_chunks, k=k
        )
        return model

    # -- rotate / encode / search ---------------------------------------------

    def rotate(self, df: DataFrame, vec_col: str | None = None) -> DataFrame:
        """Replace ``vec_col`` with xR^T — broadcast Arrow matmul, map-only.
        No centering: a pure rotation preserves Euclidean distances, so
        rotated-space ADC approximates the original metric exactly."""
        from typing import Iterator

        import pandas as pd

        vec_col = vec_col or self.vec_col
        R = self.rotation()
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf):
                    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                    pdf = pdf.assign(**{vec_col: list((X @ R.T).astype(np.float32))})
                yield pdf

        return df.mapInPandas(kernel, schema)

    def encode(self, df: DataFrame) -> DataFrame:
        return self.pq.encode(self.rotate(df))

    def adc_search(self, queries: DataFrame, codes_df: DataFrame, top_k: int = 5) -> DataFrame:
        """ADC k-NN over OPQ codes: rotate the (small) query side, then
        delegate — the codes scan is identical to plain PQ's (ids+codes
        only, m bytes/vector)."""
        rq = self.rotate(queries.select("query_id", "query_vec"), vec_col="query_vec")
        return self.pq.adc_search(rq, codes_df, top_k)
