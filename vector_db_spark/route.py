"""The size router: the one planning decision the engine makes itself.

Catalyst/AQE plan the joins; the engine only decides whether an input is
small enough to collect or broadcast-hint, or must take its large-input
branch. Smallness is probed, never trusted: the probe is
``limit(bound + 1)`` (O(bound), never a full count), and a collect-shaped
probe IS the fetch (:func:`fetch`, one Spark job at most), so rows are
read once. Past the bound the large branch
degrades to a longer distributed job instead of a driver OOM or the
broadcast ceiling. Each bound is a named constant at its call site.

Each decision logs one DEBUG record on ``vector_db_spark.route``, args
``(site, measured, bound, choice)``: set that logger to DEBUG to see the
trace. :func:`force_large` pins routers to their large branch for tests.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

log = logging.getLogger("vector_db_spark.route")

# module-level, not a contextvar, so overlap_map threads see it:
# True pins every site, a set pins the named ones
_forced: bool | frozenset[str] = frozenset()


def small(n: int, bound: int, site: str) -> bool:
    """True when a count the caller already has is within ``bound``."""
    pinned = _forced is True or site in _forced
    choice = "small" if n <= bound and not pinned else "large"
    log.debug("%s: %d vs bound %d -> %s", site, n, bound, choice)
    return choice == "small"


def fits(df: DataFrame, bound: int, site: str) -> bool:
    """True when ``df`` has at most ``bound`` rows (one bounded count)."""
    return small(df.limit(bound + 1).count(), bound, site)


def _is_local(df: DataFrame) -> bool:
    """True when the optimizer folds ``df`` into a driver-side relation
    (a pandas-built table, projected or limited, is one): its ``collect``
    starts no Spark job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def fetch(df: DataFrame, bound: int, site: str) -> pa.Table | None:
    """The rows of ``df`` as an Arrow table when there are at most
    ``bound``, else None, in at most one Spark job. ``collect`` of a limit
    runs Spark's incremental take (one partition, then the rest: two jobs
    on a multi-partition input), so a plan that is not local is read with
    ``toArrow``, one job over every partition, and its rows never become
    Python objects; a local plan is collected with no job."""
    head = df.limit(bound + 1)
    if _is_local(head):
        table = pa.Table.from_pylist(
            [r.asDict(recursive=True) for r in head.collect()],
            schema=to_arrow_schema(head.schema),
        )
    else:
        table = head.toArrow()
    return table if small(table.num_rows, bound, site) else None


@contextmanager
def force_large(*sites: str):
    """Pin every router (no arguments) or the named sites to the large
    branch. The probes still run, so the trace keeps the measured values."""
    global _forced
    prev = _forced
    _forced = True if not sites or prev is True else prev | frozenset(sites)
    try:
        yield
    finally:
        _forced = prev
