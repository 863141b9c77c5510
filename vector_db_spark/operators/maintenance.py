"""Table maintenance: incremental aggregate refresh.

A corpus fed by streaming appends keeps its aggregates current by merging
each batch's partial aggregate into the previous state
(:func:`merge_agg_delta`) instead of recomputing over the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_agg_delta(
    prev: DataFrame,
    delta: DataFrame,
    keys: list[str],
    *,
    sum_cols: tuple[str, ...] = (),
    count_col: str | None = None,
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: merge a
    pre-aggregated DELTA batch into the PREVIOUS aggregate state so the
    result equals a full recompute over (base ∪ batch) — without touching
    the base data. sum/count/min/max merge by construction (distributive);
    avg derives as sum/count downstream; non-distributive aggregates
    (distinct, median) need sketches (see ``operators/sketches.py``).

    One union + one keyed aggregation over |prev ∪ delta| GROUP ROWS (the
    aggregate cardinality, not the corpus) — at 100 TB the whole point:
    the nightly refresh costs the delta scan plus a group-sized merge."""
    aggs = (
        [F.sum(c).alias(c) for c in sum_cols]
        + ([F.sum(count_col).alias(count_col)] if count_col else [])
        + [F.min(c).alias(c) for c in min_cols]
        + [F.max(c).alias(c) for c in max_cols]
    )
    return prev.unionByName(delta).groupBy(*keys).agg(*aggs)
