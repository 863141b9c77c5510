"""Sample-based k-means training (the IVF/PQ trainer).

The reference trains its coarse quantizer with single-node
``scipy.cluster.vq.kmeans2`` over all vectors
(/root/reference/src/vector_db/indexing/ivf.py:75,
/root/reference/src/vector_db/inference/pq.py:11). At 100 TB that is
impossible — and unnecessary: production ANN systems (FAISS et al.) train
the quantizer on a bounded random sample and then *assign* the full corpus
distributively. That is exactly the split here:

- **train** (this module): reservoir-free ``df.sample`` capped at
  ``sample_cap`` rows → driver numpy → k-means++ init + Lloyd iterations.
  Deterministic given the seed; milliseconds for any sane (k, dim); the
  driver never holds more than ``sample_cap × dim`` floats regardless of
  corpus size.
- **assign / search** (operators.ivf / operators.pq): broadcast the k×dim
  centers, argmin per vector — fully distributed, no collect.

A capped sample is the scale-correct *and* low-latency choice.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SAMPLE_CAP = 100_000


def collect_sample(
    df: DataFrame, vec_col: str, sample_cap: int = DEFAULT_SAMPLE_CAP, seed: int = 42
) -> np.ndarray:
    """Bounded training sample as an (n ≤ ~sample_cap, dim) float32 array.

    Uses count → fraction oversampled by 10% → limit, so the driver-side
    memory is capped no matter the corpus size (the one .collect() in the
    training path, and it is bounded by construction)."""
    n = df.count()
    if n == 0:
        raise ValueError("cannot train k-means on an empty corpus")
    sel = df.select(F.col(vec_col).alias("v"))
    if n > sample_cap:
        sel = sel.sample(fraction=min(1.0, 1.1 * sample_cap / n), seed=seed).limit(
            sample_cap
        )
    return np.asarray([r.v for r in sel.collect()], dtype=np.float32)


def kmeans_fit(
    x: np.ndarray, k: int, *, max_iter: int = 20, seed: int = 42, n_init: int = 4
) -> np.ndarray:
    """k-means++ init + Lloyd on a numpy sample, best of ``n_init``
    restarts by inertia → (k, dim) float64 centers. Deterministic given
    (x, k, seed). Empty clusters are re-seeded to the point farthest from
    its assigned center (kmeans2's 'points' spirit)."""
    n = x.shape[0]
    k = min(k, n)
    xd = x.astype(np.float64)
    x_sq = (xd * xd).sum(axis=1, keepdims=True)

    def one_run(run_seed: int) -> tuple[float, np.ndarray]:
        rng = np.random.default_rng(run_seed)
        # k-means++ seeding
        centers = np.empty((k, x.shape[1]), dtype=np.float64)
        centers[0] = xd[rng.integers(n)]
        d2 = ((xd - centers[0]) ** 2).sum(axis=1)
        for i in range(1, k):
            probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
            centers[i] = xd[rng.choice(n, p=probs)]
            d2 = np.minimum(d2, ((xd - centers[i]) ** 2).sum(axis=1))

        dist = None
        for _ in range(max_iter):
            # (n, k) squared distances via ||x||² - 2x·c + ||c||²
            dist = x_sq - 2 * (xd @ centers.T) + (centers * centers).sum(axis=1)
            labels = dist.argmin(axis=1)
            new_centers = centers.copy()
            for j in range(k):
                mask = labels == j
                if mask.any():
                    new_centers[j] = xd[mask].mean(axis=0)
                else:
                    new_centers[j] = xd[dist.min(axis=1).argmax()]
            if np.allclose(new_centers, centers):
                centers = new_centers
                break
            centers = new_centers
        dist = x_sq - 2 * (xd @ centers.T) + (centers * centers).sum(axis=1)
        return float(dist.min(axis=1).sum()), centers

    best = min((one_run(seed + 1000 * r) for r in range(n_init)), key=lambda t: t[0])
    return best[1]


def train_centroids(
    df: DataFrame,
    vec_col: str,
    k: int,
    *,
    max_iter: int = 20,
    seed: int = 42,
    sample_cap: int = DEFAULT_SAMPLE_CAP,
) -> list[list[float]]:
    """Sample → fit; returns plain float lists ready for a centroid table."""
    x = collect_sample(df, vec_col, sample_cap, seed)
    centers = kmeans_fit(x, k, max_iter=max_iter, seed=seed)
    return [[float(v) for v in c] for c in centers]
