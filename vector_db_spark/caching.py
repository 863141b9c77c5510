"""Bounded per-process DataFrame caching.

Several operators cache an intermediate that feeds multiple branches of
the *returned lazy plan* (e.g. the tf table in
:func:`~vector_db_spark.operators.similarity.sparse_cosine_pairs`, the
ranked-set table in the prefix-filter dedups). A bare ``.cache()`` there
is a process-lifetime leak: over a 200-query registry sweep or a bench
loop the cached blocks accumulate in executor/driver storage memory and
are never released.

:func:`tracked_cache` bounds that footprint to **one live block per
call-site**: caching under a key unpersists whatever previous DataFrame
was cached under the same key. Unpersisting a still-referenced plan is
safe — Spark recomputes from lineage; the cache is purely a
materialize-once optimization — so the worst case for an old plan that
is re-executed later is a recompute, never a wrong answer.

:func:`release_caches` drops everything (harness/bench teardown hook).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: dict[str, DataFrame] = {}


def tracked_cache(df: DataFrame, key: str, storage_level=None) -> DataFrame:
    """Cache ``df``, evicting the previous block cached under ``key``.

    ``storage_level`` (a ``pyspark.StorageLevel``) overrides the default
    ``.cache()`` (MEMORY_AND_DISK_DESER — PySpark's DataFrame default, which
    spills to local disk rather than dropping blocks): pass
    ``StorageLevel.DISK_ONLY`` for a
    materialization that must never compete with downstream execution
    memory (e.g. an edge set that gates a wedge join — at the ×100
    co-occurrence corpus memory-resident blocks fighting the join's
    execution pool OOMed; disk-only
    blocks cost a local read instead, usually served by the OS page
    cache)."""
    prev = _TRACKED.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session gone / already unpersisted — nothing to free
    df = df.cache() if storage_level is None else df.persist(storage_level)
    _TRACKED[key] = df
    return df


def release_caches() -> None:
    """Unpersist every tracked block (bench / test-session teardown)."""
    for key in list(_TRACKED):
        prev = _TRACKED.pop(key)
        try:
            prev.unpersist()
        except Exception:
            pass

