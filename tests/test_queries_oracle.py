"""The t2 gate, locally: every registered query (driver tier AND extra tier)
must hash-match its DuckDB oracle on sf0.01, the driver's correctness scale
factor. The driver itself only sees the ≤50 ``QUERIES``; the extra tier is
the rest of ``bench.py``'s headline rows, under the same oracle discipline."""

from __future__ import annotations

from contextlib import nullcontext

import pytest

from bench import HEADLINE
from tests.oracle_utils import assert_parity, duckdb_con
from vector_db_spark.queries import (
    DRIVER_QUERY_BUDGET,
    EXTRA_QUERIES,
    QUERIES,
    all_oracles,
    all_queries,
)

ALL_QUERIES = all_queries()
ALL_ORACLES = all_oracles()


@pytest.fixture(scope="module")
def con(sf_correctness):
    c = duckdb_con(sf_correctness)
    yield c
    c.close()


def test_driver_tier_within_budget_and_fully_oracled():
    assert 0 < len(QUERIES) <= DRIVER_QUERY_BUDGET
    # every query in both tiers carries an oracle: no rows-only entries
    assert sorted(set(ALL_QUERIES) - set(ALL_ORACLES)) == []


def test_extra_tier_is_benched():
    # a query outside the driver contract ships only as a bench.py headline row
    assert sorted(set(EXTRA_QUERIES) - set(HEADLINE)) == []


# queries also checked with route sites pinned to their large branch: the
# route must not change the result
FORCED = {
    "ivf_search_det": ("ivf.probe",),
    "ivf_search_cosine_det": ("ivf.probe",),
}


@pytest.mark.parametrize(
    "name, sites",
    [pytest.param(n, (), id=n) for n in sorted(ALL_ORACLES)]
    + [pytest.param(n, s, id=f"{n}@{','.join(s)}") for n, s in sorted(FORCED.items())],
)
def test_oracle_parity(spark, sf_correctness, con, force_large, name, sites):
    with force_large(*sites) if sites else nullcontext():
        df = ALL_QUERIES[name](spark, sf_correctness)
    assert_parity(df, con, ALL_ORACLES[name], name)


def test_driver_outputs_are_scalar_typed(spark, sf_correctness):
    """The driver canonicalizer sorts rows by every column — array/struct
    cells are unhashable. Guard every driver-tier output schema."""
    for name, fn in QUERIES.items():
        for field in fn(spark, sf_correctness).schema.fields:
            assert field.dataType.typeName() not in ("array", "struct", "map"), (
                f"{name}.{field.name} is {field.dataType.simpleString()}"
            )
