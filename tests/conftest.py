from __future__ import annotations

import logging
import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_db_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark
    from vector_db_spark.caching import release_caches

    release_caches()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def jobs_of(spark):
    """``jobs_of(group, fn)``: ``fn()``'s result and the ids of the Spark
    jobs it started, read from the status tracker under job group
    ``group`` once the listener bus has drained."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, sc.statusTracker().getJobIdsForGroup(group)

    return run


@pytest.fixture(scope="session")
def force_large():
    """``route.force_large(*sites)`` that also proves the pin took: on a
    clean exit every named site (with no names, at least one site) must
    have logged a route decision with choice "large" inside the block."""
    from vector_db_spark import route

    @contextmanager
    def pin(*sites):
        records: list[logging.LogRecord] = []
        handler = logging.Handler(logging.DEBUG)
        handler.emit = records.append
        log = route.log
        old_level = log.level
        log.setLevel(logging.DEBUG)
        log.addHandler(handler)
        try:
            with route.force_large(*sites):
                yield
        finally:
            log.removeHandler(handler)
            log.setLevel(old_level)
        large = {r.args[0] for r in records if r.args[3] == "large"}
        missing = set(sites) - large if sites else not large
        assert not missing, f"no large-branch route decision for {missing}"

    return pin
