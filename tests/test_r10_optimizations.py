"""Focused equivalence tests for the r10 optimization round.

Each test pins a restructured internal to its previous (slower) form —
the restructures must be plan-only, never value-visible."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_spark.operators.knn_graph import _edge_support, k_truss
from vector_db_spark.parallel import overlap_map


def _triangle_graph(spark):
    # two triangles sharing edge (2,3), one pendant edge, duplicates and
    # both orientations in the raw input
    rows = [
        (1, 2), (2, 3), (3, 1),
        (2, 4), (4, 3),
        (4, 5),
        (2, 1),  # reverse duplicate
        (3, 2),  # reverse duplicate
        (5, 5),  # self loop (dropped)
    ]
    return spark.createDataFrame(rows, "src long, dst long")


def _support_map(df):
    return {(r.a, r.b): r.support for r in df.collect()}


def _canonical(g):
    """The canonical edge set ``_edge_support`` takes: (a, b) with a < b,
    loops dropped, distinct, materialized."""
    return (
        g.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _support(g):
    canon = _canonical(g)
    return _edge_support(canon, canon.count())


def test_edge_support_intersect_route_matches_wedge_route(spark, force_large):
    g = _triangle_graph(spark)
    # small graph: default routing takes the broadcast-intersect close;
    # forcing the route takes the wedge shape — identical table
    fast = _support_map(_support(g))
    with force_large("knn_graph.edge_support"):
        slow = _support_map(_support(g))
    assert fast == slow
    assert fast == {
        (1, 2): 1, (2, 3): 2, (1, 3): 1, (2, 4): 1, (3, 4): 1, (4, 5): 0,
    }


def test_edge_support_schema_identical_across_routes(spark, force_large):
    g = _triangle_graph(spark)
    fast = _support(g)
    with force_large("knn_graph.edge_support"):
        slow = _support(g)
    assert fast.schema == slow.schema


def test_edge_support_string_ids_fall_back_to_wedge(spark):
    # non-integral ids: the byte bound behind the intersect route does not
    # hold, so the wedge shape must run — and still be correct
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    g = spark.createDataFrame(rows, "src string, dst string")
    sup = {(r.a, r.b): r.support for r in _support(g).collect()}
    assert sup == {("a", "b"): 1, ("b", "c"): 1, ("a", "c"): 1, ("c", "d"): 0}
    plan = _support(g)._jdf.queryExecution().executedPlan().toString()
    assert "array_intersect" not in plan


def test_k_truss_peel_unchanged_by_routing(spark):
    g = _triangle_graph(spark)
    # 3-truss: every edge in >= 1 triangle within the surviving subgraph
    kept = {(r.src, r.dst): r.support for r in k_truss(g, 3).collect()}
    assert kept == {
        (1, 2): 1, (2, 3): 2, (1, 3): 1, (2, 4): 1, (3, 4): 1,
    }
    # 4-truss: needs >= 2 triangles per edge; only (2,3) has 2 but its
    # neighbors die, so the peel empties
    assert k_truss(g, 4).count() == 0


def test_overlap_map_preserves_order_and_results():
    assert overlap_map(lambda x: x * x, [3, 1, 2], max_workers=2) == [9, 1, 4]
    assert overlap_map(lambda x: x + 1, [], max_workers=2) == []
    assert overlap_map(lambda x: x + 1, [41], max_workers=2) == [42]


def test_overlap_map_propagates_exceptions():
    def boom(x):
        if x == 2:
            raise ValueError("x=2")
        return x

    with pytest.raises(ValueError):
        overlap_map(boom, [1, 2, 3], max_workers=2)


def test_overlap_map_warns_once_when_inheritance_fails(spark, monkeypatch):
    """A failure to wrap with inheritable_thread_target (other than having no
    session) still runs the jobs, but says so: one warning per process."""
    import warnings

    import pyspark

    from vector_db_spark import parallel

    def broken(*args, **kwargs):
        raise RuntimeError("no inheritance today")

    monkeypatch.setattr(pyspark, "inheritable_thread_target", broken)
    monkeypatch.setattr(parallel, "_warned_fallback", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert overlap_map(lambda x: x * 2, [1, 2, 3], max_workers=2) == [2, 4, 6]
        assert overlap_map(lambda x: x + 1, [1, 2], max_workers=2) == [2, 3]
    fallback = [w for w in caught if "overlap_map" in str(w.message)]
    assert len(fallback) == 1
    assert issubclass(fallback[0].category, RuntimeWarning)
    assert "no inheritance today" in str(fallback[0].message)
