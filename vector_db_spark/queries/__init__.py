"""Registry of oracle-checked queries.

Every query registers with DuckDB oracle SQL over the same fixture tables.
Deterministic operators are hash-checked value by value; model-derived
operators (k-means ANN, stub embeddings) register an *invariant projection*
— the query runs the full operator pipeline, then emits exactly-checkable
facts (self-hit rank, recall ≥ floor, arity, norms) that the oracle
reproduces.

Two tiers:

- ``QUERIES``/``ORACLES`` — the **driver contract**, exposed through
  ``__spark_entry__`` and capped at ``DRIVER_QUERY_BUDGET`` entries.
- ``EXTRA_QUERIES``/``EXTRA_ORACLES`` — the remaining ``bench.py`` headline
  rows (``extra=True`` at the ``@register`` site). ``tests/test_queries_oracle.py``
  oracle-checks both tiers and requires every extra-tier query to be a
  headline row.

Column-name discipline: every computed column is aliased identically in the
Spark code and the oracle SQL (the driver hash compares columns by name).
Output schemas stay scalar-typed — the driver canonicalizer sorts rows by
every column and cannot hash array/struct cells.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
EXTRA_QUERIES: dict[str, QueryFn] = {}
EXTRA_ORACLES: dict[str, str] = {}

DRIVER_QUERY_BUDGET = 50


def register(name: str, oracle: str, *, extra: bool = False) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES or name in EXTRA_QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        queries, oracles = (EXTRA_QUERIES, EXTRA_ORACLES) if extra else (QUERIES, ORACLES)
        queries[name] = fn
        oracles[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    return {**QUERIES, **EXTRA_QUERIES}


def all_oracles() -> dict[str, str]:
    return {**ORACLES, **EXTRA_ORACLES}


# import for side effect: populate the registry. Imports are unconditional —
# a broken query module must fail loudly, not silently shrink the driver
# contract (an ImportError here means the registry is wrong, full stop).
from vector_db_spark.queries import vector  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import relational  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import text  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import indexing  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import pquant  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import stream  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import multimodal  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import curation  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import chunking  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import sketches  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import timeseries  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import lifecycle  # noqa: E402,F401  isort: skip
from vector_db_spark.queries import pysource  # noqa: E402,F401  isort: skip

assert len(QUERIES) <= DRIVER_QUERY_BUDGET, (
    f"{len(QUERIES)} driver queries registered, budget is {DRIVER_QUERY_BUDGET}; "
    "move variants to extra=True"
)
