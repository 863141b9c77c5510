"""Range joins vs brute-force inequality joins: exact same pairs, each
exactly once, regardless of how many buckets an interval spans."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_db_spark.operators.rangejoin import point_in_interval_join


def _points(spark):
    # numeric line (unit = 1); points at boundaries included/excluded per
    # the half-open contract
    return spark.createDataFrame(
        [(1, 0), (2, 5), (3, 10), (4, 99), (5, 100), (6, 250)], "pid long, t long"
    )


def _intervals(spark):
    # interval 10 spans many 100-wide buckets; 20 is a point-width dud
    return spark.createDataFrame(
        [(10, 0, 260), (20, 50, 50), (30, 5, 11), (40, 90, 105)],
        "iid long, s long, e long",
    )


def test_point_in_interval_matches_brute(spark):
    got = point_in_interval_join(
        _points(spark), _intervals(spark), point_col="t", start_col="s", end_col="e",
        bucket=100,
    )
    brute = (
        _points(spark)
        .crossJoin(_intervals(spark))
        .filter((F.col("s") <= F.col("t")) & (F.col("t") < F.col("e")))
    )
    assert sorted((r.pid, r.iid) for r in got.collect()) == sorted(
        (r.pid, r.iid) for r in brute.collect()
    )
    # each matching pair exactly once (interval 10 covers 3 buckets)
    pairs = [(r.pid, r.iid) for r in got.collect()]
    assert len(pairs) == len(set(pairs))


def test_point_in_interval_with_keys(spark):
    pts = _points(spark).withColumn("k", F.col("pid") % 2)
    ivs = _intervals(spark).withColumn("k", F.col("iid") % 2)
    got = point_in_interval_join(
        pts, ivs, point_col="t", start_col="s", end_col="e", keys=["k"], bucket=100
    )
    brute = (
        pts.join(ivs, "k")
        .filter((F.col("s") <= F.col("t")) & (F.col("t") < F.col("e")))
    )
    assert sorted((r.pid, r.iid) for r in got.collect()) == sorted(
        (r.pid, r.iid) for r in brute.collect()
    )


def test_timestamp_columns(spark):
    pts = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00"), (2, "2024-01-01 13:00:00")], "pid long, t string"
    ).withColumn("t", F.to_timestamp("t"))
    ivs = spark.createDataFrame(
        [(10, "2024-01-01 10:00:00", "2024-01-01 12:00:00")], "iid long, s string, e string"
    ).select("iid", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))
    got = point_in_interval_join(
        pts, ivs, point_col="t", start_col="s", end_col="e", bucket="15 minutes"
    ).collect()
    assert [(r.pid, r.iid) for r in got] == [(1, 10)]
