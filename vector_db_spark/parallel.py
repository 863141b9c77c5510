"""Driver-side job overlap (guide §2.6), pinned-thread-safe.

Spark's scheduler happily runs several jobs at once; actions are only
sequential because driver code calls them sequentially. The repo overlaps
independent actions (budget-audit ladder rungs, recall-sweep probe levels)
from a small thread pool so one job's stage tail backfills executors with
the next job's tasks.

Under PySpark pinned-thread mode (``PYSPARK_PIN_THREAD=true``, the default
since 3.2) JVM thread-local properties — job group/description, scheduler
pool, cancellation scope — are NOT inherited by plain ``threading`` /
``ThreadPoolExecutor`` threads. ``overlap_map`` wraps every task with
:func:`pyspark.inheritable_thread_target`, the documented way to launch
driver threads so the submitting thread's properties carry over and the
matching JVM thread state is cleaned up when the Python thread exits."""

from __future__ import annotations

import warnings
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable, List, TypeVar

T = TypeVar("T")
R = TypeVar("R")

def overlap_map(
    fn: Callable[[T], R], items: Iterable[T], *, max_workers: int
) -> List[R]:
    """Order-preserving ``[fn(x) for x in items]`` with the calls overlapped
    from a driver thread pool of ``max_workers`` (guide §2.6: 2-3 in flight
    is plenty — enough to fill a stage tail, not enough to fight over
    executors).

    Each task runs under ``pyspark.inheritable_thread_target`` so pinned-
    thread mode propagates job descriptions / groups / scheduler pools to
    the pool threads. Results come back in submission order, so callers
    that derive order-dependent booleans (monotone curves, first-fit
    ladders) see byte-identical sequences to the sequential walk. A failing
    task raises at result-consumption time; in-flight siblings run to
    completion (the pools here are small and the items idempotent reads)."""
    items = list(items)
    if max_workers <= 1 or len(items) <= 1:
        return [fn(x) for x in items]
    with ThreadPoolExecutor(max_workers=min(max_workers, len(items))) as pool:
        return list(pool.map(_inheriting(fn), items))


_warned_fallback = False


def _inheriting(fn: Callable[[T], R]) -> Callable[[T], R]:
    """``fn`` wrapped to inherit the submitting thread's Spark properties.
    Plain ``fn`` when there is nothing to inherit (pyspark not importable, no
    active session or context); any other failure to wrap also falls back to
    plain ``fn``, with one warning per process."""
    global _warned_fallback
    try:
        from pyspark import SparkContext, inheritable_thread_target
        from pyspark.sql import SparkSession
    except ImportError:
        return fn
    session = SparkSession.getActiveSession()
    if session is None and SparkContext._active_spark_context is None:
        return fn
    try:
        # with the session, tags AND local properties are inherited (and the
        # "Tags will not be inherited" warning is avoided); without one the
        # plain-callable form still inherits local properties
        if session is not None:
            return inheritable_thread_target(session)(fn)
        return inheritable_thread_target(fn)
    except Exception as e:
        if not _warned_fallback:
            _warned_fallback = True
            warnings.warn(
                f"overlap_map: jobs run without inherited Spark properties "
                f"(inheritable_thread_target failed: {type(e).__name__}: {e})",
                RuntimeWarning,
                stacklevel=3,
            )
        return fn
