"""Source/sink breadth: the engine reads/writes more than Parquet (the
reference's SQLite/memmap backends generalize to any columnar/row sink),
and bucketed tables enable shuffle-free joins."""

from __future__ import annotations

from vector_db_spark.io import load_table


def test_csv_json_orc_roundtrip(spark, sf_smoke, tmp_path):
    """nation survives CSV, JSON, and ORC round-trips bit-exactly."""
    nation = load_table(spark, sf_smoke, "nation")
    expect = sorted(map(tuple, nation.collect()))
    for fmt in ["csv", "json", "orc"]:
        path = str(tmp_path / fmt)
        w = nation.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", True).csv(path)
            back = spark.read.schema(nation.schema).option("header", True).csv(path)
        elif fmt == "json":
            w.json(path)
            back = spark.read.schema(nation.schema).json(path)
        else:
            w.orc(path)
            back = spark.read.orc(path)
        assert sorted(map(tuple, back.collect())) == expect, fmt


def test_bucketed_join_has_no_shuffle(spark, sf_smoke, tmp_path):
    """Tables bucketed on the join key co-locate: the join plan contains
    no Exchange on either side — the 100 TB co-location strategy."""
    orders = load_table(spark, sf_smoke, "orders")
    li = load_table(spark, sf_smoke, "lineitem")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.withColumnRenamed("l_orderkey", "o_orderkey").write.mode("overwrite").bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").saveAsTable("b_lineitem")
    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "o_orderkey").groupBy("o_orderstatus").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_exchanges_before_join = plan.split("HashAggregate")[-1].count("Exchange")
        assert "SortMergeJoin" in plan
        assert n_exchanges_before_join == 0, plan
        assert joined.count() == 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
