"""Incremental centroid maintenance via mergeable sufficient statistics.

The reference's IVF ``add`` (reference ivf.py:87-117) appends a vector
to the nearest inverted list but NEVER updates the centroid that routed
it — the quantizer drifts away from the data it serves as the corpus
grows, and the only remedy is a full retrain over all vectors. The
segment-sketch pattern this repo uses everywhere (operators/sketches.py)
fixes that exactly: keep per-cluster **(Σ vector, n)** sufficient
statistics with DECIMAL sums, and the centroid is the derived ratio.

- **exact**: decimal sums are associative integer arithmetic, so
  ``merge(stats(old), stats(new))`` equals ``stats(old ∪ new)``
  bit-for-bit — an incremental update IS a full recompute, with the old
  corpus never rescanned (stats rows are O(k × dim), kilobytes).
- **mergeable**: segments (ingest batches, date ranges, stream epochs)
  each carry their own stats rows; any span's centroids are one keyed
  sum over stats rows only — the same design point as the HLL/CMS/KMV
  segment sketches.
- The update assigns new vectors against the CURRENT centroids (the
  reference's add semantics) with ``ivf.assign_to_centroids``, the
  package's one nearest-centroid rule, and then folds them in: the
  stats are plain SQL aggregations, which the registry oracle reproduces
  end to end.

At 100 TB: stats maintenance is one map-side aggregation per batch over
the batch only; centroid derivation touches k×dim rows. Re-clustering
(changing k, re-seeding) remains a deliberate rebuild — this maintains
the EXISTING quantizer between rebuilds, the gap the reference leaves
open.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SUM_DEC = "decimal(28,9)"


def centroid_stats(assigned: DataFrame) -> DataFrame:
    """(cluster_id, dim_idx, sum_val DECIMAL, n) from ``embedding`` vectors
    that already carry a ``cluster_id`` — one map-side-combinable
    aggregation over the batch."""
    return (
        assigned.select(
            "cluster_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim_idx", "v"),
        )
        .groupBy("cluster_id", "dim_idx")
        .agg(
            F.sum(F.col("v").cast(_SUM_DEC)).alias("sum_val"),
            F.count("*").alias("n"),
        )
    )


def merge_centroid_stats(*stats: DataFrame) -> DataFrame:
    """Fold any number of stats segments into one — linear, exact."""
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.groupBy("cluster_id", "dim_idx").agg(
        F.sum("sum_val").alias("sum_val"), F.sum("n").alias("n")
    )


def centroids_from_stats(stats: DataFrame) -> DataFrame:
    """(cluster_id, dim_idx, centroid_val): the derived mean — one exact
    decimal division cast to double, identical in any engine."""
    return stats.select(
        "cluster_id",
        "dim_idx",
        (F.col("sum_val").cast("double") / F.col("n")).alias("centroid_val"),
    )


def collect_centroids(centroids: DataFrame) -> np.ndarray:
    """The (k, dim) float64 matrix of a :func:`centroids_from_stats`
    table, row c = cluster c (as ``IVFIndex.centroid_matrix`` gives): one
    collect of k×dim values. Cluster ids must be 0..k-1."""
    t = centroids.select("cluster_id", "dim_idx", "centroid_val").toArrow()
    c, d = (t.column(n).to_numpy().astype(np.int64) for n in ("cluster_id", "dim_idx"))
    out = np.empty((c.max() + 1, d.max() + 1))
    if len(c) != out.size:
        raise ValueError("cluster ids must be 0..k-1, each with every dimension")
    out[c, d] = t.column("centroid_val").to_numpy()
    return out
