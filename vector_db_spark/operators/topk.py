"""Top-k selection.

Reference: sort-and-slice at ivf.py:191-195 / hnsw.py:365-369 and the O(n)
``argpartition`` helper (util/math.py:3-5). Spark equivalent: per-group
top-k (one k-NN result list per query) as a window ``row_number``;
:func:`nearest_k` is that top-k under the k-NN result order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str | Column],
    order_by: Sequence[str | Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the k best rows per group, with a 1-based ``rank`` column.

    ``order_by`` must be a deterministic total order (include a unique
    tiebreaker column) — otherwise results are non-reproducible across runs
    and against an oracle.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def nearest_k(scored: DataFrame, k: int, round_to: int | None = None) -> DataFrame:
    """The k nearest ``neighbor_id`` per ``query_id`` of a scored
    (query_id, neighbor_id, dist) table, ordered by (``dist``,
    ``neighbor_id``) — the one tie-break policy every k-NN result shares.
    With ``round_to``, ``dist`` is rounded first, so near-equal distances
    tie and fall to the id order (results then match across kernels and
    against the SQL oracles)."""
    if round_to is not None:
        scored = scored.withColumn("dist", F.round("dist", round_to))
    return top_k_per_group(
        scored, ["query_id"], [F.col("dist").asc(), F.col("neighbor_id").asc()], k
    )
