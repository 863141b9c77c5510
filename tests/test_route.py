"""The size router's contract (vector_db_spark/route.py): inclusive bounds,
one action per decision, the test pin, and the decision record."""

from __future__ import annotations

import logging
import pathlib
import re

import pyarrow as pa
from pyspark.sql import Row
from pyspark.sql.types import LongType, StructField, StructType

from vector_db_spark import route
from vector_db_spark.parallel import overlap_map


class _Rows:
    """A DataFrame stand-in of ``n`` rows, local (collected with no job)
    or not, that records every action run."""

    schema = StructType([StructField("id", LongType())])

    def __init__(self, n: int, actions: list[str] | None = None, local: bool = False):
        self.n = n
        self.local = local
        self.actions = [] if actions is None else actions

    def limit(self, k: int) -> "_Rows":
        return _Rows(min(self.n, k), self.actions, self.local)

    def count(self) -> int:
        self.actions.append("count")
        return self.n

    def collect(self) -> list[Row]:
        self.actions.append("collect")
        return [Row(id=i) for i in range(self.n)]

    def toArrow(self) -> pa.Table:
        self.actions.append("toArrow")
        return pa.table({"id": pa.array(range(self.n), pa.int64())})


def test_exactly_bound_rows_is_small(spark):
    df = spark.range(5)
    assert route.small(5, 5, "t") and not route.small(6, 5, "t")
    assert route.fits(df, 5, "t") and not route.fits(df, 4, "t")
    assert route.fetch(df, 5, "t").column("id").to_pylist() == list(range(5))
    assert route.fetch(df, 4, "t") is None


def test_fetch_is_the_probe(monkeypatch):
    """One action per fetch: a local plan is collected, any other plan is
    read through Arrow (one job, where collect's take runs two)."""
    monkeypatch.setattr(route, "_is_local", lambda df: df.local)
    for local, action in ((True, "collect"), (False, "toArrow")):
        df = _Rows(3, local=local)
        assert route.fetch(df, 3, "t").column("id").to_pylist() == [0, 1, 2]
        assert df.actions == [action]  # the rows come from the probe itself
        big = _Rows(10, local=local)
        assert route.fetch(big, 3, "t") is None and big.actions == [action]
    counted = _Rows(10)
    assert not route.fits(counted, 3, "t") and counted.actions == ["count"]


def test_fetch_is_one_job(spark, jobs_of):
    """A multi-partition input is fetched in one job, a pandas-built one in
    none, and both give the rows ``collect`` gives."""
    import pandas as pd

    spread = spark.range(100, numPartitions=4).selectExpr(
        "id", "map('k', cast(id as string)) AS m", "array(cast(id AS float)) AS v"
    ).localCheckpoint(eager=True)
    local = spark.createDataFrame(pd.DataFrame({"id": range(5)})).select("id")
    for df, n_jobs in ((spread, 1), (local, 0)):
        table, jobs = jobs_of(f"route-fetch-{n_jobs}", lambda df=df: route.fetch(df, 1000, "t"))
        assert len(jobs) == n_jobs
        want = [r.asDict() for r in df.collect()]
        assert table.equals(pa.Table.from_pylist(want, schema=table.schema))


def test_force_large_pins_every_or_named_sites(spark):
    with route.force_large():
        assert not route.small(0, 10, "a") and not route.small(0, 10, "b")
    with route.force_large("x"):
        assert not route.small(0, 10, "x") and route.small(0, 10, "y")
        with route.force_large("y"):
            assert not route.small(0, 10, "y")
        assert route.small(0, 10, "y")
        # a module-level pin, so overlap_map's pool threads see it too
        assert overlap_map(
            lambda s: route.small(0, 10, s), ["x", "y"], max_workers=2
        ) == [False, True]
    assert route.small(0, 10, "x")


def test_decision_record_names_site_value_bound_choice(caplog):
    with caplog.at_level(logging.DEBUG, logger="vector_db_spark.route"):
        route.small(7, 5, "s")
        route.fits(_Rows(2), 5, "f")
    assert [(r.name, r.levelno, r.args) for r in caplog.records] == [
        ("vector_db_spark.route", logging.DEBUG, ("s", 7, 5, "large")),
        ("vector_db_spark.route", logging.DEBUG, ("f", 2, 5, "small")),
    ]
    assert caplog.records[0].getMessage() == "s: 7 vs bound 5 -> large"


def test_no_limit_probe_outside_route():
    """One mechanism per concern: every ``limit(<bound> + 1)`` size probe
    in the package lives in route.py."""
    pkg = pathlib.Path(route.__file__).parent
    probe = re.compile(r"\.limit\((?:[^()]|\([^()]*\))*?\+\s*1\s*\)")
    offenders = [
        f"{path.relative_to(pkg)}: {' '.join(m.group(0).split())}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "route.py"
        for m in probe.finditer(path.read_text())
    ]
    assert offenders == []
