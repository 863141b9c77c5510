"""Top-k selection and the k-NN result contract.

Reference: sort-and-slice at ivf.py:191-195 / hnsw.py:365-369 and the O(n)
``argpartition`` helper (util/math.py:3-5). Spark equivalent: per-group
top-k (one k-NN result list per query) as a window ``row_number``.

Every k-NN search (exact, IVF, IVF-PQ, PQ/OPQ ADC, LSH, binary
quantization) takes its queries as ``(query_id, query_vec)`` and returns
:func:`nearest_k`'s rows: ``(query_id, neighbor_id, dist, rank)``, with
``dist`` rounded to ``DECIMALS`` places and distance ties going to the
lower ``neighbor_id``. The rounding rule lives here; the batch kernels'
partial top-k (``knn._partial_topk``) applies the same constant before it
cuts, so a local cut never drops a row the global order keeps.

The same rule orders centroids: every nearest-centroid ranking
(``ivf.assign_to_centroids``, ``IVFIndex.rank_probes``,
``ivf.nearest_centroids``) ranks by distance rounded to ``DECIMALS``, ties
to the lower ``cluster_id``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# k-NN distances are rounded to this many decimals before ranking, so
# near-equal distances tie and fall to the id order: results then match
# across kernels, partition layouts and the SQL oracles
DECIMALS = 6
RESULT_COLUMNS = ("query_id", "neighbor_id", "dist", "rank")


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str | Column],
    order_by: Sequence[str | Column],
    k: int,
) -> DataFrame:
    """Keep the k best rows per group, with a 1-based ``rank`` column.

    ``order_by`` must be a deterministic total order (include a unique
    tiebreaker column) — otherwise results are non-reproducible across runs
    and against an oracle.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def nearest_k(scored: DataFrame, k: int) -> DataFrame:
    """The k-NN result of a scored (query_id, neighbor_id, dist) table:
    ``dist`` rounded to ``DECIMALS``, then the k nearest ``neighbor_id``
    per ``query_id`` by (``dist``, ``neighbor_id``), as ``RESULT_COLUMNS``."""
    rounded = scored.withColumn("dist", F.round("dist", DECIMALS))
    return top_k_per_group(
        rounded, ["query_id"], [F.col("dist").asc(), F.col("neighbor_id").asc()], k
    ).select(*RESULT_COLUMNS)
