"""Mergeable sketches (operators/sketches.py): HLL segment/rollup
lifecycle and the quantile digest's rank-error guarantee.

The digest's contract is *rank* accuracy — for any q, the true rank of
the returned estimate lies within ±2/max_centroids of q (one compression
level at build, one at merge). Tests pin that bound on skewed data and
under repartitioning."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_db_spark.operators.sketches import (
    _compress,
    digest_quantiles,
    hll_rollup,
    hll_segment_sketches,
    quantile_digest,
)


def _rank_err(values: np.ndarray, est: float, q: float) -> float:
    """Distance from q to the estimate's rank *interval* [frac(<est),
    frac(<=est)] — ties make rank an interval, not a point."""
    lo = float((values < est).sum()) / len(values)
    hi = float((values <= est).sum()) / len(values)
    return max(lo - q, q - hi, 0.0)


# --- kernel ------------------------------------------------------------------


def test_compress_exact_below_capacity():
    v = np.array([5.0, 1.0, 3.0])
    m, w = _compress(v, np.ones(3), max_c=8)
    assert m.tolist() == [1.0, 3.0, 5.0]
    assert w.tolist() == [1.0, 1.0, 1.0]


def test_compress_preserves_total_weight_and_order():
    rng = np.random.RandomState(7)
    v = rng.lognormal(0, 2, size=10_000)
    m, w = _compress(v, np.ones_like(v), max_c=64)
    assert len(m) <= 64
    assert w.sum() == pytest.approx(10_000)
    assert (np.diff(m) >= 0).all()


def test_compress_deterministic():
    rng = np.random.RandomState(11)
    v = rng.normal(size=5000)
    a = _compress(v, np.ones_like(v), 128)
    b = _compress(v.copy(), np.ones_like(v), 128)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])


# --- digest rank-error bound -------------------------------------------------


@pytest.fixture(scope="module")
def skewed(spark):
    rng = np.random.RandomState(42)
    vals = np.concatenate(
        [rng.lognormal(0, 2, 6000), rng.uniform(0, 1e6, 2000), np.zeros(500)]
    )
    grp = (np.arange(len(vals)) % 3).astype("int64")
    df = spark.createDataFrame(
        [(int(g), float(v)) for g, v in zip(grp, vals)], "g long, x double"
    )
    return df, vals, grp


def test_digest_rank_error_bound(spark, skewed):
    df, vals, grp = skewed
    dig = quantile_digest(df, "x", ["g"], max_centroids=256)
    out = digest_quantiles(dig, [0.01, 0.25, 0.5, 0.9, 0.99], ["g"]).collect()
    assert len(out) == 15
    for r in out:
        sub = vals[grp == r.g]
        # 2 levels × 1/256, plus per-Arrow-batch partials slack
        assert _rank_err(sub, r.est, r.q) <= 0.02, (r.g, r.q)


def test_digest_partition_layout_rank_invariant(spark, skewed):
    df, vals, _ = skewed
    for parts in (1, 7):
        dig = quantile_digest(df.repartition(parts), "x", max_centroids=256)
        (row,) = digest_quantiles(dig, [0.5]).collect()
        assert _rank_err(vals, row.est, 0.5) <= 0.02


def test_digest_exact_for_small_groups(spark):
    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    dig = quantile_digest(df, "x", max_centroids=512)
    (row,) = digest_quantiles(dig, [0.5]).collect()
    # n < max_centroids: digest holds every value; estimate is the first
    # value whose cumulative count reaches half ⇒ exactly 49.0
    assert row.est == 49.0


# --- HLL lifecycle -----------------------------------------------------------


def test_hll_segment_persist_merge(spark, tmp_path, sf_correctness):
    ev = spark.read.parquet(f"{sf_correctness}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":  # nanos fixture variant
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    ev = ev.withColumn("day", F.to_date("ts"))
    seg = hll_segment_sketches(ev, "user_id", ["event_type", "day"])
    path = str(tmp_path / "hll_segments")
    seg.write.parquet(path)  # binary sketch column persists as plain Parquet
    reopened = spark.read.parquet(path)

    est = {r.event_type: r.distinct_est for r in hll_rollup(reopened, ["event_type"]).collect()}
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(0.05 * n, 2), k


def test_hll_sparse_segments_are_cheap_and_tight(spark):
    df = spark.createDataFrame(
        [(i % 50, f"u{i % 400}") for i in range(5000)], "seg int, user string"
    )
    seg = hll_segment_sketches(df, "user", ["seg"])
    (row,) = hll_rollup(seg.drop("seg").withColumn("one", F.lit(1)), ["one"]).collect()
    assert abs(row.distinct_est - 400) <= 20


def test_hll_merge_is_batch_boundary_stable(spark):
    """Segment layout must not change the merged answer beyond sketch
    resolution. (Not bit-identical: DataSketches promotes sparse→dense at
    layout-dependent points, so a single exact-mode sketch and a union of
    thirteen can differ by a few counts — both stay within the error
    bound, which is the contract streaming ingest relies on.)"""
    df = spark.createDataFrame(
        [(i, f"u{i % 777}") for i in range(4000)], "id long, user string"
    )
    one = hll_segment_sketches(df.withColumn("seg", F.lit(0)), "user", ["seg"])
    many = hll_segment_sketches(df.withColumn("seg", F.col("id") % 13), "user", ["seg"])
    (a,) = hll_rollup(one.select("hll").withColumn("g", F.lit(1)), ["g"]).collect()
    (b,) = hll_rollup(many.select("hll").withColumn("g", F.lit(1)), ["g"]).collect()
    assert abs(a.distinct_est - 777) <= 0.03 * 777
    assert abs(b.distinct_est - 777) <= 0.03 * 777


# --- KMV (theta) sketches ----------------------------------------------------


def _kmv_imports():
    from vector_db_spark.operators.sketches import (
        kmv_distinct_estimate,
        kmv_intersect_estimate,
        kmv_sketch,
    )

    return kmv_sketch, kmv_distinct_estimate, kmv_intersect_estimate


def test_kmv_sketch_is_layout_invariant(spark):
    kmv_sketch, _, _ = _kmv_imports()
    df = spark.createDataFrame([(i % 500, "g") for i in range(2000)], "v long, g string")
    a = sorted(r.kmv_hash for r in kmv_sketch(df.coalesce(1), "v", ["g"], k=64).collect())
    b = sorted(r.kmv_hash for r in kmv_sketch(df.repartition(16), "v", ["g"], k=64).collect())
    assert a == b and len(a) == 64


def test_kmv_sparse_mode_is_exact(spark):
    kmv_sketch, kmv_distinct_estimate, _ = _kmv_imports()
    df = spark.createDataFrame([(i % 37, "g") for i in range(300)], "v long, g string")
    sk = kmv_sketch(df, "v", ["g"], k=256)
    (r,) = kmv_distinct_estimate(sk, ["g"], k=256).collect()
    assert r.n_hashes == 37 and r.distinct_est == 37.0


def test_kmv_estimate_within_bound_dense(spark):
    kmv_sketch, kmv_distinct_estimate, _ = _kmv_imports()
    n = 5000
    df = spark.createDataFrame([(i, "g") for i in range(n)], "v long, g string")
    sk = kmv_sketch(df, "v", ["g"], k=128)
    (r,) = kmv_distinct_estimate(sk, ["g"], k=128).collect()
    assert abs(r.distinct_est - n) <= 0.3 * n  # 3.4σ at RSE 1/√126


def test_kmv_intersection_disjoint_and_identical(spark):
    kmv_sketch, kmv_distinct_estimate, kmv_intersect_estimate = _kmv_imports()
    a = spark.createDataFrame([(i,) for i in range(0, 3000)], "v long")
    b = spark.createDataFrame([(i,) for i in range(3000, 6000)], "v long")
    k = 128
    sa, sb = kmv_sketch(a, "v", k=k), kmv_sketch(b, "v", k=k)
    (dis,) = kmv_intersect_estimate(sa, sb, k=k).collect()
    assert dis.n_common == 0 and dis.intersect_est == 0.0
    (same,) = kmv_intersect_estimate(sa, sa, k=k).collect()
    (est,) = kmv_distinct_estimate(sa, k=k).collect()
    # identical sketches: every hash below theta is common -> est == distinct est
    assert same.intersect_est == pytest.approx(est.distinct_est, rel=0.02)


def test_kmv_intersection_half_overlap_bound(spark):
    kmv_sketch, _, kmv_intersect_estimate = _kmv_imports()
    a = spark.createDataFrame([(i,) for i in range(0, 4000)], "v long")
    b = spark.createDataFrame([(i,) for i in range(2000, 6000)], "v long")
    (r,) = kmv_intersect_estimate(kmv_sketch(a, "v", k=256), kmv_sketch(b, "v", k=256), k=256).collect()
    assert abs(r.intersect_est - 2000) <= 0.35 * 2000


# --- Count-Min sketches ------------------------------------------------------


def _cms_imports():
    from vector_db_spark.operators.sketches import cms_estimate, cms_sketch

    return cms_sketch, cms_estimate


def test_cms_never_underestimates_and_is_exact_when_sparse(spark):
    cms_sketch, cms_estimate = _cms_imports()
    rows = [("a",)] * 50 + [("b",)] * 20 + [("c",)] * 1
    df = spark.createDataFrame(rows, "t string")
    sk = cms_sketch(df, "t", depth=4, width=256)
    probes = spark.createDataFrame([("a",), ("b",), ("c",), ("absent",)], "item string")
    got = {r.item: r.est_cnt for r in cms_estimate(sk, probes, depth=4, width=256).collect()}
    # 3 distinct items in 256 buckets: no collisions -> exact
    assert got == {"a": 50, "b": 20, "c": 1, "absent": 0}


def test_cms_overestimate_bounded_under_collisions(spark):
    cms_sketch, cms_estimate = _cms_imports()
    # 2000 distinct items into width=64: collisions guaranteed
    n = 4000
    df = spark.createDataFrame([(f"w{i % 2000}",) for i in range(n)], "t string")
    sk = cms_sketch(df, "t", depth=4, width=64)
    probes = spark.createDataFrame([(f"w{i}",) for i in range(10)], "item string")
    for r in cms_estimate(sk, probes, depth=4, width=64).collect():
        assert r.est_cnt >= 2  # true count of every probe
        assert r.est_cnt <= 2 + 2 * n / 64  # CM bound with huge slack


def test_cms_grouped_segments(spark):
    cms_sketch, cms_estimate = _cms_imports()
    df = spark.createDataFrame(
        [("d1", "x")] * 5 + [("d2", "x")] * 9, "day string, t string"
    )
    sk = cms_sketch(df, "t", ["day"], depth=4, width=64)
    probes = spark.createDataFrame([("x",)], "item string")
    per_day = {
        day: cms_estimate(sk.filter(F.col("day") == day).drop("day"), probes, depth=4, width=64)
        .collect()[0]
        .est_cnt
        for day in ("d1", "d2")
    }
    assert per_day == {"d1": 5, "d2": 9}


def test_cms_join_size_exact_when_sparse(spark):
    from vector_db_spark.operators.sketches import cms_join_size_estimate, cms_sketch

    # A: {x:3, y:2, z:1}; B: {y:4, z:5, w:7} -> true join size 2*4 + 1*5 = 13
    a = spark.createDataFrame([("x",)] * 3 + [("y",)] * 2 + [("z",)], "t string")
    b = spark.createDataFrame([("y",)] * 4 + [("z",)] * 5 + [("w",)] * 7, "t string")
    sa = cms_sketch(a, "t", depth=4, width=512)
    sb = cms_sketch(b, "t", depth=4, width=512)
    (r,) = cms_join_size_estimate(sa, sb).collect()
    assert r.join_size_est == 13  # no collisions at this width: exact


def test_cms_join_size_never_underestimates_under_collisions(spark):
    from vector_db_spark.operators.sketches import cms_join_size_estimate, cms_sketch

    a = spark.createDataFrame([(f"k{i % 300}",) for i in range(600)], "t string")
    b = spark.createDataFrame([(f"k{i % 500}",) for i in range(1000)], "t string")
    # true: keys 0..299 shared, f_A=2, f_B=2 each -> 300*4 = 1200
    sa = cms_sketch(a, "t", depth=4, width=32)  # heavy collisions
    sb = cms_sketch(b, "t", depth=4, width=32)
    (r,) = cms_join_size_estimate(sa, sb).collect()
    assert r.join_size_est >= 1200
    assert r.join_size_est <= 1200 + 2.8 / 32 * 600 * 1000  # CM bound w/ slack


def test_cms_join_size_disjoint_is_zero_when_no_bucket_overlap(spark):
    """Regression (round-4 advice): a depth with zero bucket overlap was
    dropped by the inner join, so fully disjoint sketches returned NULL
    instead of 0 and partial cases reported a looser bound than min over
    ALL depths. With a tiny width the disjoint sides may still collide in
    buckets; what must hold is est >= 0 always and est == 0 whenever ANY
    depth has no shared bucket."""
    from pyspark.sql import functions as F

    from vector_db_spark.operators.sketches import cms_join_size_estimate, cms_sketch

    a = spark.createDataFrame([(f"a{i}",) for i in range(20)], "item string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(20)], "item string")
    sa = cms_sketch(a, "item", depth=4, width=4096)
    sb = cms_sketch(b, "item", depth=4, width=4096)
    (r,) = cms_join_size_estimate(sa, sb).collect()
    assert r.join_size_est is not None
    # true join size is 0; with width=4096 and 20 keys/side a shared bucket
    # in every one of the 4 depths is vanishingly unlikely
    assert r.join_size_est == 0


def test_kmv_difference_sparse_is_exact(spark):
    """Sets smaller than k: θ=1 and every hash is kept, so the difference
    estimate is exactly |A \\ B| in both directions."""
    from vector_db_spark.operators.sketches import (
        kmv_difference_estimate,
        kmv_sketch,
    )

    a_vals = [(v,) for v in range(100)]          # A = 0..99
    b_vals = [(v,) for v in range(60, 140)]      # B = 60..139
    a = kmv_sketch(spark.createDataFrame(a_vals, "v long"), "v", k=256)
    b = kmv_sketch(spark.createDataFrame(b_vals, "v long"), "v", k=256)
    ab = kmv_difference_estimate(a, b, k=256).collect()[0]
    ba = kmv_difference_estimate(b, a, k=256).collect()[0]
    assert ab.n_kept == 60 and ab.difference_est == 60.0   # A\B = 0..59
    assert ba.n_kept == 40 and ba.difference_est == 40.0   # B\A = 100..139
    # disjoint-with-self sanity: A \ A is empty
    aa = kmv_difference_estimate(a, a, k=256).collect()[0]
    assert aa.n_kept == 0 and aa.difference_est == 0.0
