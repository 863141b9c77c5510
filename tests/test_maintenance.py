"""Incremental aggregate maintenance: merging a delta equals a full
recompute."""

from __future__ import annotations


def test_merge_agg_delta_equals_full_recompute(spark):
    from pyspark.sql import functions as F

    from vector_db_spark.operators.maintenance import merge_agg_delta

    rows = [(i, f"g{i % 3}", i % 7, 100 + i) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, v long, w long")

    def agg(d):
        return d.groupBy("g").agg(
            F.count("*").alias("n"), F.sum("v").alias("v"),
            F.min("w").alias("w_min"), F.max("w").alias("w_max"),
        )

    for mod in (2, 5):
        merged = merge_agg_delta(
            agg(df.filter(F.col("id") % mod != 0)),
            agg(df.filter(F.col("id") % mod == 0)),
            ["g"], sum_cols=("v",), count_col="n",
            min_cols=("w_min",), max_cols=("w_max",),
        )
        full = agg(df)
        cols = ["g", "n", "v", "w_min", "w_max"]
        assert sorted(map(tuple, merged.select(cols).collect())) == sorted(
            map(tuple, full.select(cols).collect())
        )
