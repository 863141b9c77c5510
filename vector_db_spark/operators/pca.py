"""Distributed PCA over an embedding column — dimensionality reduction for
embedding pipelines (index build on reduced vectors, matryoshka-style
storage cuts, whitening before clustering).

North-star extension (the reference stores embeddings verbatim,
``/root/reference/src/vector_db/storage.py``; it has no linear-algebra
surface). The classic scale decomposition:

* **Fit = one pass of map-side moment partials.** Each Arrow batch
  contributes ``(n, Σx, ΣxxT)``; partials are re-aggregated once per
  shard (32-way) so the driver reduce sees a bounded, partition-count-
  independent number of rows, each ``d² + d + 1`` doubles. The d×d
  eigendecomposition happens on the driver — for embedding dims (64-4096)
  that is microseconds-to-seconds and is *not* the scale axis; rows are.
* **Transform = one Arrow-batched BLAS matmul** ``(X - mean) @ W.T`` per
  batch (the same kernel shape as ``similarity.hyperplane_lsh_buckets``),
  broadcast mean/components, zero shuffle.

Determinism: moments are mathematically order-independent; float
summation order varies by partition layout, but ``numpy.linalg.eigh`` on
the reduced covariance plus a fixed sign convention (largest-|loading|
component positive) yields stable components for any non-degenerate
spectrum; tests pin fit-vs-numpy-exact agreement on the fixture corpus.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_db_spark.io import ensure_parallelism

_N_REDUCE_SHARDS = 32


@dataclass(frozen=True)
class PCAModel:
    mean: np.ndarray  # (d,)
    components: np.ndarray  # (m, d) rows = principal axes, orthonormal
    explained_var: np.ndarray  # (m,) eigenvalues, descending
    total_var: float  # trace of the covariance

    def transform(
        self, df: DataFrame, vec_col: str = "embedding", out_col: str = "reduced"
    ) -> DataFrame:
        """Project ``vec_col`` onto the principal axes: broadcast
        mean/components into an Arrow-batched matmul; map-only plan."""
        mean, comps = self.mean, self.components
        out_fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        schema = f"{out_fields}, {out_col} array<float>"

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf):
                    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                    Y = (X - mean) @ comps.T
                    pdf = pdf.assign(**{out_col: list(Y.astype(np.float32))})
                else:
                    pdf = pdf.assign(**{out_col: pd.Series([], dtype=object)})
                yield pdf

        return df.mapInPandas(kernel, schema)


def _moment_partials(df: DataFrame, vec_col: str) -> pd.DataFrame:
    """Two-level reduction of ``(n, Σx, flat ΣxxT)``: per-Arrow-batch
    partials, re-summed per hash shard so the driver collect is bounded by
    ``_N_REDUCE_SHARDS`` rows regardless of input partition count."""
    schema = "shard int, n long, s array<double>, g array<double>"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "shard": [int(X[0].sum() * 1e6) % _N_REDUCE_SHARDS],
                    "n": [len(X)],
                    "s": [X.sum(axis=0)],
                    "g": [(X.T @ X).ravel()],
                }
            )

    def reduce_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "shard": [pdf["shard"].iloc[0]],
                "n": [pdf["n"].sum()],
                "s": [np.sum(np.array(pdf["s"].tolist()), axis=0)],
                "g": [np.sum(np.array(pdf["g"].tolist()), axis=0)],
            }
        )

    partials = ensure_parallelism(df).select(vec_col).mapInPandas(partial, schema)
    reduced = partials.groupBy("shard").applyInPandas(reduce_shard, schema)
    return reduced.toPandas()


def fit_pca(df: DataFrame, vec_col: str = "embedding", m: int = 8) -> PCAModel:
    """Exact (non-sampled) PCA fit over every row of ``df``: one
    distributed pass for the moments, driver-side ``eigh`` of the d×d
    covariance (population normalization, matching ``var_pop``)."""
    parts = _moment_partials(df, vec_col)
    if not len(parts):
        raise ValueError("fit_pca: empty input")
    n = int(parts["n"].sum())
    s = np.sum(np.array(parts["s"].tolist()), axis=0)
    g = np.sum(np.array(parts["g"].tolist()), axis=0)
    d = s.shape[0]
    if not 1 <= m <= d:
        raise ValueError(f"fit_pca: m={m} out of range for dim {d}")
    mean = s / n
    cov = g.reshape(d, d) / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:m]
    comps = evecs[:, order].T  # (m, d)
    # sign convention: the largest-|loading| coordinate of each axis is
    # positive, so components don't flip between equivalent fits
    flips = np.sign(comps[np.arange(m), np.abs(comps).argmax(axis=1)])
    comps = comps * flips[:, None]
    return PCAModel(
        mean=mean,
        components=np.ascontiguousarray(comps),
        explained_var=np.maximum(evals[order], 0.0),
        total_var=float(np.trace(cov)),
    )


def dim_stats(df: DataFrame, vec_col: str = "embedding") -> list[tuple[float, float]]:
    """Per-dimension (mean, stddev_pop) over the 6-dp-quantized embedding
    values — the integer micro-unit discipline (README "Correctness
    method"): each value becomes ``round(x * 1e6)`` as a long, so the
    sums are exact integers and every engine derives bit-identical
    statistics from them regardless of summation order. (A decimal cast
    of the raw float is NOT engine-exact: Spark converts floats to
    decimal through their shortest round-trip string, DuckDB through the
    exact binary expansion — they disagree at ~1e-7.) One explode + one
    aggregation, d rows out — the collect is bounded by the embedding
    dimension. At extreme row counts the squared-unit sum approaches
    int64 range (~1e12 rows of unit-norm micro-units); cast the products
    to ``decimal(38,0)`` past that."""
    dims = ensure_parallelism(df).select(F.posexplode(vec_col).alias("i", "x"))
    xi = F.round(F.col("x").cast("double") * 1e6).cast("long")
    stats = (
        dims.select("i", xi.alias("xi"))
        .groupBy("i")
        .agg(
            F.count("*").alias("n"),
            F.sum("xi").cast("double").alias("s"),
            F.sum(F.col("xi") * F.col("xi")).cast("double").alias("s2"),
        )
        .orderBy("i")
        .collect()
    )
    out = []
    for r in stats:
        n = r["n"]
        mu = r["s"] / n / 1e6
        var = r["s2"] / n / 1e12 - mu * mu
        out.append((mu, var**0.5 if var > 0 else 0.0))
    return out


def standardize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    round_to: int = 6,
) -> DataFrame:
    """(id, dim_idx, z): per-dimension z-scores of the embedding column —
    the normalization step before quantizer training / whitened distance.
    Stats come from :func:`dim_stats` (integer-exact, engine-identical);
    the transform inlines them as literal arrays, so the scoring pass is a
    map-only projection (zero shuffle, zero UDF) in whole-stage codegen.
    Scores are computed over the same 6-dp-quantized values the stats saw.
    Zero-variance dimensions standardize to 0 by convention."""
    stats = dim_stats(df, vec_col)
    mus = F.array(*[F.lit(m) for m, _ in stats])
    sds = F.array(*[F.lit(s) for _, s in stats])
    z = F.expr(
        f"transform({vec_col}, (x, i) -> "
        "CASE WHEN element_at(__sds, i + 1) = 0D THEN 0D "
        "ELSE round((round(CAST(x AS DOUBLE) * 1e6) / 1e6 - element_at(__mus, i + 1))"
        f" / element_at(__sds, i + 1), {round_to}) END)"
    )
    return (
        df.withColumn("__mus", mus)
        .withColumn("__sds", sds)
        .select(F.col(id_col), F.posexplode(z).alias("dim_idx", "z"))
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    *,
    seed: int = 42,
    in_dim: int | None = None,
    out_col: str = "reduced",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: y = x @ R with R a seeded
    Gaussian (d × out_dim)/√out_dim matrix — the data-independent
    dim-reduction companion to :func:`fit_pca`.

    Where PCA needs a moments pass over the corpus first, JL needs ZERO
    passes: R depends only on (seed, d, out_dim), so two jobs — or two
    clusters — project identically without exchanging any state, and new
    data is projected without refitting. The JL lemma (public result:
    Johnson & Lindenstrauss '84; Gaussian form per Dasgupta & Gupta '03)
    bounds pairwise-distance distortion by ε with out_dim ≳ 8·ln(n)/ε² —
    independent of the input dimension.

    Plan: R is driver-generated (d×out_dim doubles — configuration-sized),
    closure-broadcast into one Arrow BLAS matmul; map-only, zero shuffle,
    same physical shape as ``PCAModel.transform``. ``in_dim`` defaults to
    probing one row (driver-side, O(1))."""
    if in_dim is None:
        probe = df.select(F.size(vec_col).alias("d")).first()
        if probe is None:
            raise ValueError("empty input and no in_dim given")
        in_dim = int(probe["d"])
    rng = np.random.default_rng(seed)
    R = rng.standard_normal((in_dim, out_dim)) / np.sqrt(out_dim)

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{out_fields}, {out_col} array<float>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                Y = X @ R
                pdf = pdf.assign(**{out_col: list(Y.astype(np.float32))})
            else:
                pdf = pdf.assign(**{out_col: pd.Series([], dtype=object)})
            yield pdf

    return df.mapInPandas(kernel, schema)
