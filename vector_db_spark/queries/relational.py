"""Relational surface queries (SURVEY.md §2.9 "free with Spark", plus the
reference's filter/lookup/stats operators F1-F4, S3-S6, A1-A2 re-expressed on
the fixture star schema).

Oracle-parity discipline (every query here is hash-checked against DuckDB):

- **Aggregates of doubles go through DECIMAL.** ``sum(double)`` is
  summation-order-dependent, and Spark's partial aggregation order is
  nondeterministic across partitions. ``CAST(SUM(CAST(x AS DECIMAL(18,4)))
  AS DOUBLE)`` is exact integer arithmetic in both engines, then one
  well-defined rounding to double — bit-identical regardless of plan or
  parallelism. This also holds at 1000 executors, where a float sum would
  drift run-to-run.
- **Every ORDER BY used for top-k is a total order** (unique tiebreaker).
- **Timestamp arithmetic in integer microseconds** (``unix_micros`` /
  ``epoch_us``), never float seconds.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_db_spark.caching import tracked_cache
from vector_db_spark.io import load_table, register_views
from vector_db_spark.queries import register


def _dec_sum(col_expr: str, alias: str, scale: int = 4) -> F.Column:
    return (
        F.sum(F.expr(f"CAST({col_expr} AS DECIMAL(18,{scale}))"))
        .cast("double")
        .alias(alias)
    )


# --- JSON metadata extraction (reference parses metadata JSON at
# storage.py:245; events.props is the JSON-string column) -------------------


@register(
    "events_variant_stats",
    extra=True,
    oracle="""
SELECT event_type,
       count(*)::BIGINT AS n_events,
       SUM(CAST(json_extract_string(props, '$.k') AS INTEGER))::BIGINT AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
                THEN 1 ELSE 0 END)::BIGINT AS n_big
FROM events GROUP BY event_type
""",
)
def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured metadata through Spark 4's VARIANT type:
    ``parse_json`` once into a binary variant, typed ``variant_get``
    extraction after. Against string re-parsing (get_json_object per
    predicate), a variant column parses once at ingest and every probe
    is a typed path lookup — at 100 TB the metadata column is parsed one
    time, not once per expression. The reference's metadata JSON
    (parsed per row at reference storage.py:245) maps exactly here."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_big"),
        )
    )


# --- S3: point lookup by id (reference storage.py:232-252) ------------------

@register(
    "point_lookup",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id = 42",
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").filter(F.col("doc_id") == 42)


# --- S5/S6 + A1/A2: id scan, counts, cluster statistics (reference
# ivf.py:201-215 get_cluster_size / get_cluster_stats) -----------------------

@register(
    "cluster_stats",
    oracle="""
WITH sizes AS (
  SELECT label AS cluster_id, COUNT(*)::BIGINT AS cluster_size
  FROM embeddings GROUP BY label
)
SELECT COUNT(*)::BIGINT AS n_clusters,
       MIN(cluster_size) AS min_size,
       MAX(cluster_size) AS max_size,
       CAST(SUM(cluster_size) AS DOUBLE) / COUNT(*) AS avg_size,
       SUM(cluster_size)::BIGINT AS total_vectors
FROM sizes
""",
)
def cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg cluster size + totals, the reference's index stats
    endpoint, using the label column as the cluster assignment."""
    emb = load_table(spark, sf_dir, "embeddings")
    sizes = emb.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.agg(
        F.count("*").alias("n_clusters"),
        F.min("cluster_size").alias("min_size"),
        F.max("cluster_size").alias("max_size"),
        (F.sum("cluster_size").cast("double") / F.count("*")).alias("avg_size"),
        F.sum("cluster_size").alias("total_vectors"),
    )


# --- TPC-H-shaped aggregation (Q1): wide agg with decimal-exact sums --------

@register(
    "pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum("l_quantity", "sum_qty", scale=6),
        _dec_sum("l_extendedprice", "sum_base_price", scale=6),
        _dec_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price", scale=6),
        _dec_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge", scale=6),
        (F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,6))")).cast("double") / F.count("*")).alias("avg_qty"),
        (F.sum(F.expr("CAST(l_discount AS DECIMAL(18,6))")).cast("double") / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --- TPC-H-shaped join + top-k (Q3): 3-way join, revenue ranking ------------

@register(
    "top_revenue_orders",
    extra=True,
    oracle="""
SELECT o.o_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer (dim, broadcast) ⋈ orders ⋈ lineitem; at scale the
    orders⋈lineitem side is a shuffle join on the join key while customer
    broadcasts — Catalyst picks this given the size stats."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --- TPC-H-shaped multiway join (Q5): snowflake revenue rollup --------------

@register(
    "regional_revenue",
    extra=True,
    oracle="""
SELECT r.r_name, n.n_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r.r_name, n.n_name
""",
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way snowflake join: the three dims broadcast; lineitem⋈orders is
    the only shuffle. Filter on orders prunes before the join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _dec_sum("l_extendedprice * (1 - l_discount)", "revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --- grouping sets (the general form; ROLLUP/CUBE are special cases) ---------

@register(
    "orders_grouping_sets",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*)::BIGINT AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL entry point (ROLLUP and CUBE
    are rewrites of this; both engines expand to the same Expand+Aggregate
    plan). Also exercises ``spark.sql`` over registered temp views — the
    identical-Catalyst-plan SQL surface."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """)


# --- sessionization (gap-based, integer-microsecond arithmetic) -------------

@register(
    "user_sessions",
    extra=True,
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
)
SELECT user_id,
       (1 + SUM(CASE WHEN prev_us IS NOT NULL AND us - prev_us > 3600000000 THEN 1 ELSE 0 END))::BIGINT AS n_sessions,
       COUNT(*)::BIGINT AS n_events
FROM e GROUP BY user_id
""",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize by >1h inactivity gap — lag + conditional sum, the batch
    equivalent of a streaming session window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    )
    return e.groupBy("user_id").agg(
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev_us").isNotNull()
                    & ((F.col("us") - F.col("prev_us")) > 3_600_000_000),
                    1,
                ).otherwise(0)
            )
        ).cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --- range join (bucketized interval join — north-star extension) -----------

@register(
    "range_join_user_activity",
    extra=True,
    oracle="""
WITH iv AS (
  SELECT user_id AS iv_user, (epoch_us(ts) // 86400000000) AS day_idx,
         min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
  FROM events WHERE user_id <= 3 GROUP BY 1, 2
)
SELECT iv_user, day_idx, COUNT(*)::BIGINT AS n_events
FROM iv JOIN (SELECT epoch_us(ts) AS us FROM events) e
  ON e.us >= iv.start_us AND e.us < iv.end_us
GROUP BY iv_user, day_idx
""",
)
def range_join_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (operators.rangejoin): per-day activity
    windows of users 1-3 joined to the full event stream. The plan is a
    bucketized equi-join (1-hour microsecond buckets), never an inequality
    theta-join — the oracle expresses the same semantics AS the theta-join,
    proving the bucketization exact."""
    from vector_db_spark.operators.rangejoin import point_in_interval_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    day_us = 86_400_000_000
    iv = (
        ev.filter(F.col("user_id") <= 3)
        .groupBy(
            F.col("user_id").alias("iv_user"),
            F.floor(F.col("us") / day_us).cast("long").alias("day_idx"),
        )
        .agg(F.min("us").alias("start_us"), F.max("us").alias("end_us"))
    )
    joined = point_in_interval_join(
        ev.select("us"), iv,
        point_col="us", start_col="start_us", end_col="end_us",
        bucket=3_600_000_000,
    )
    return joined.groupBy("iv_user", "day_idx").agg(F.count("*").alias("n_events"))


# --- SCD2 merge (upsert with history) -----------------------------------------


@register(
    "scd2_customer_history",
    extra=True,
    oracle="""
WITH cur AS (
  SELECT c_custkey, c_mktsegment AS segment,
         TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
         TIMESTAMP '2200-01-01 00:00:00' AS valid_to
  FROM customer),
u AS (
  SELECT o_custkey AS c_custkey, o_orderpriority AS segment,
         o_orderdate::TIMESTAMP AS ts
  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
  WHERE rn = 1)
SELECT c.c_custkey, c.segment, c.valid_from, c.valid_to
FROM cur c LEFT JOIN u ON c.c_custkey = u.c_custkey WHERE u.c_custkey IS NULL
UNION ALL
SELECT c.c_custkey, c.segment, c.valid_from, u.ts AS valid_to
FROM cur c JOIN u ON c.c_custkey = u.c_custkey
UNION ALL
SELECT u.c_custkey, u.segment, u.ts AS valid_from,
       TIMESTAMP '2200-01-01 00:00:00' AS valid_to
FROM u
""",
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge (operators/scd.py): a customer-segment snapshot
    merged with a latest-order-per-customer update batch — changed keys
    get their open version closed at the update timestamp and a new open
    version appended; order-less customers stay untouched. The oracle
    reproduces the entire history table (update priorities always differ
    from snapshot segments, so every updated key versions)."""
    from vector_db_spark.operators.scd import OPEN_TS, scd2_merge

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    current = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(OPEN_TS).cast("timestamp").alias("valid_to"),
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    updates = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderpriority").alias("segment"),
            F.col("o_orderdate").cast("timestamp").alias("ts"),
        )
    )
    return scd2_merge(current, updates, "c_custkey", ["segment"], "ts")


# --- funnel conversion --------------------------------------------------------

_FUNNEL = ("view", "click", "purchase")


@register(
    "funnel_conversion",
    extra=True,
    oracle=f"""
WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
            WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1),
s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s0 USING (user_id)
       WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > s0.t0 GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > s1.t1 GROUP BY 1)
SELECT 0 AS step_idx, '{_FUNNEL[0]}' AS step,
       (SELECT count(*) FROM s0)::BIGINT AS users
UNION ALL SELECT 1, '{_FUNNEL[1]}', (SELECT count(*) FROM s1)::BIGINT
UNION ALL SELECT 2, '{_FUNNEL[2]}', (SELECT count(*) FROM s2)::BIGINT
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): a user advances a step
    only with an event strictly after their previous step's first
    completion — the sequential-min semantics real funnel tools use.
    One keyed aggregation + one join per step; user-bounded state."""
    ev = load_table(spark, sf_dir, "events")
    reached = (
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    counts = [reached.count()]
    for step in _FUNNEL[1:]:
        reached = (
            ev.filter(F.col("event_type") == step)
            .join(reached.select("user_id", F.col("t").alias("prev_t")), "user_id")
            .filter(F.col("ts") > F.col("prev_t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        counts.append(reached.count())
    return spark.createDataFrame(
        [(i, s, c) for i, (s, c) in enumerate(zip(_FUNNEL, counts))],
        "step_idx int, step string, users long",
    )


# --- cohort retention ---------------------------------------------------------


@register(
    "cohort_retention",
    extra=True,
    oracle="""
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY 1),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
SELECT f.cohort AS cohort_week,
       ((epoch(a.wk) - epoch(f.cohort)) // 604800)::INTEGER AS week_offset,
       count(DISTINCT a.user_id)::BIGINT AS active_users
FROM first f JOIN active a USING (user_id)
GROUP BY 1, 2
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    in each subsequent active week (UTC-pinned ISO weeks, integer-exact
    offsets). Two aggregations + one user-keyed join."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    return (
        first.join(active, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (
                (F.unix_timestamp("wk") - F.unix_timestamp("cohort"))
                / F.lit(604800)
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# --- incremental view maintenance ---------------------------------------------

_IVM_MOD = 10  # event_id % 10 == 0 → the "new batch"


@register(
    "incremental_hourly_counts",
    extra=True,
    oracle="""
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*)::BIGINT AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM events GROUP BY 1, 2
""",
)
def incremental_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/maintenance.py
    merge_agg_delta): the corpus is split into an already-aggregated base
    and a fresh delta batch; merging the two PRE-AGGREGATED states must
    equal the oracle's full recompute over everything — the defining IVM
    contract, hash-checked. Values are summed in integer cents (the
    engine-exact idiom) so the merge is bit-identical to the recompute."""
    from vector_db_spark.operators.maintenance import merge_agg_delta

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("hour", "event_type").agg(
            F.count("*").alias("n"),
            F.sum("value_cents").alias("value_cents"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )

    base = agg(ev.filter(F.col("event_id") % _IVM_MOD != 0))
    delta = agg(ev.filter(F.col("event_id") % _IVM_MOD == 0))
    return merge_agg_delta(
        base,
        delta,
        ["hour", "event_type"],
        sum_cols=("value_cents",),
        count_col="n",
        min_cols=("first_ts",),
        max_cols=("last_ts",),
    )


# --- triangle counting over the part co-occurrence graph ----------------------


# one box's wedge budget: ≈12 GB of wedge shuffle at 24 B/row. The
# uncapped sf0.1 graph audits at 49.2 M wedges (fits); the ×100 blow-up
# audits at 4.92 B (raises with the priced message instead of a 118 GB
# spill death).
_COOC_UNCAPPED_WEDGE_BUDGET = 500_000_000


@register(
    "part_cooccurrence_triangles",
    extra=True,
    oracle=f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
n AS (SELECT count(DISTINCT v) AS n_nodes
      FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
deg AS (
  SELECT v, count(*) AS d
  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
o AS (
  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS s,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS t
  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
od AS (SELECT s, count(*) AS dd FROM o GROUP BY s),
idg AS (SELECT t, count(*) AS di FROM o GROUP BY t),
aud AS (
  SELECT coalesce(sum(coalesce(dd, 0) * coalesce(di, 0)), 0) AS n_wedges
  FROM od FULL JOIN idg ON od.s = idg.t)
SELECT n.n_nodes::BIGINT AS n_nodes,
       (SELECT count(*) FROM e)::BIGINT AS n_edges,
       (SELECT count(*) FROM e e1
          JOIN e e2 ON e1.b = e2.a
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)::BIGINT AS n_triangles,
       aud.n_wedges::BIGINT AS n_wedges,
       (aud.n_wedges <= {_COOC_UNCAPPED_WEDGE_BUDGET}) AS within_budget
FROM n CROSS JOIN aud
""",
)
def part_cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count (operators/knn_graph.py triangle_count) of the
    parts-bought-together graph (parts are linked when they share an
    order) — graph analytics over a join-derived edge list, value-checked
    end to end, UNCAPPED semantics.

    Preflight-then-join: before the O(wedges) join
    runs, the O(edges) wedge audit (``cooccurrence_wedge_audit``) prices
    it — Σ indeg·outdeg under the same (degree, id) orientation, the
    join's exact shuffle row count. Over budget ⇒ ``ValueError`` naming
    the bill and the capped alternative (``cooccurrence_capped_triangles``
    / ``derive_cooccurrence_caps``), never an implicit spill death: the
    ×100 blow-up audits at 4.92 B wedges ≈ 118 GB shuffle (SCALE.md,
    Guards and bounds) and raises here in O(edges) time. The audit facts ride the
    result row (``n_wedges``, ``within_budget``) so the oracle checks the
    preflight arithmetic, not just the count.

    ONE materialization of the oriented edge set serves BOTH the audit
    and the triangle close (``triangle_count_with_audit`` — DISK_ONLY, so
    the refusal path never competes with execution memory), instead of
    building the edge set once per consumer with a redundant
    normalize+distinct inside each orientation."""
    from vector_db_spark.operators.knn_graph import (
        cooccurrence_edges,
        triangle_count_with_audit,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return triangle_count_with_audit(
        edges,
        wedge_budget=_COOC_UNCAPPED_WEDGE_BUDGET,
        assume_canonical=True,
    )


_COOC_MAX_DF = 37  # p90 of part df at sf0.01/sf0.1 — the hub cut really bites
_COOC_MAX_BASKET = 5  # avg basket ≈ 4.07 items — the cap really bites


@register(
    "cooccurrence_capped_triangles",
    oracle=f"""
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
hub AS (
  SELECT i FROM bi GROUP BY i HAVING count(*) <= {_COOC_MAX_DF}),
capped AS (
  SELECT b, i FROM (
    SELECT bi.b, bi.i,
           row_number() OVER (PARTITION BY bi.b ORDER BY bi.i) AS rn
    FROM bi JOIN hub USING (i)) t
  WHERE rn <= {_COOC_MAX_BASKET}),
e AS (
  SELECT DISTINCT x.i AS a, y.i AS c
  FROM capped x JOIN capped y ON x.b = y.b AND x.i < y.i),
n AS (SELECT count(DISTINCT v) AS n_nodes
      FROM (SELECT a AS v FROM e UNION ALL SELECT c FROM e))
SELECT n.n_nodes::BIGINT AS n_nodes,
       (SELECT count(*) FROM e)::BIGINT AS n_edges,
       (SELECT count(*) FROM e e1
          JOIN e e2 ON e1.c = e2.a
          JOIN e e3 ON e3.a = e1.a AND e3.c = e2.c)::BIGINT AS n_triangles
FROM n
""",
)
def cooccurrence_capped_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wedge-volume mitigation, wired (SCALE.md, Guards and bounds:
    the uncapped ×100 co-purchase graph is 9.97 B wedge rows under ANY
    exact orientation — cluster-sized spill one box cannot hold): build
    the co-occurrence edge list through operators/knn_graph.py
    cooccurrence_edges with BOTH explicit throttles — hub cut
    (item df ≤ {_COOC_MAX_DF}) and deterministic basket cap
    ({_COOC_MAX_BASKET} smallest part ids per order) — then count
    triangles exactly on the capped graph. The cut is
    deterministic, so the oracle replays it item-for-item; the exactness
    trade is explicit in the knobs, never an implicit OOM."""
    from vector_db_spark.operators.knn_graph import cooccurrence_edges, triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(
        li,
        "l_orderkey",
        "l_partkey",
        max_item_df=_COOC_MAX_DF,
        max_basket_size=_COOC_MAX_BASKET,
    )
    # cooccurrence_edges output is canonical (src < dst, distinct): skip
    # the orientation's redundant normalize+distinct shuffle
    return triangle_count(edges, assume_canonical=True)


_COOC_LADDER = ((37, 5), (30, 4), (30, 3), (25, 3))
_COOC_WEDGE_BUDGET = 1_000_000


def _cooc_budget_oracle() -> str:
    """Replay every ladder rung's exact wedge audit (hub cut → basket cap →
    edge set → (degree, id) orientation → Σ indeg·outdeg, the row count of
    triangle_count's middle-vertex wedge join) and the first-fitting-rung
    selection rule, value-for-value."""
    ctes = [
        "bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem)"
    ]
    rows = []
    for r, (df_cap, bcap) in enumerate(_COOC_LADDER, start=1):
        ctes += [
            f"hub{r} AS (SELECT i FROM bi GROUP BY i HAVING count(*) <= {df_cap})",
            f"""capped{r} AS (
  SELECT b, i FROM (
    SELECT bi.b, bi.i,
           row_number() OVER (PARTITION BY bi.b ORDER BY bi.i) AS rn
    FROM bi JOIN hub{r} USING (i)) t
  WHERE rn <= {bcap})""",
            f"""e{r} AS (
  SELECT DISTINCT x.i AS a, y.i AS c
  FROM capped{r} x JOIN capped{r} y ON x.b = y.b AND x.i < y.i)""",
            f"""deg{r} AS (
  SELECT v, count(*) AS d
  FROM (SELECT a AS v FROM e{r} UNION ALL SELECT c FROM e{r}) GROUP BY v)""",
            f"""o{r} AS (
  SELECT CASE WHEN (da.d, e.a) < (dc.d, e.c) THEN e.a ELSE e.c END AS s,
         CASE WHEN (da.d, e.a) < (dc.d, e.c) THEN e.c ELSE e.a END AS t
  FROM e{r} e JOIN deg{r} da ON da.v = e.a JOIN deg{r} dc ON dc.v = e.c)""",
            f"od{r} AS (SELECT s, count(*) AS dd FROM o{r} GROUP BY s)",
            f"id{r} AS (SELECT t, count(*) AS di FROM o{r} GROUP BY t)",
            f"""aud{r} AS (
  SELECT {r} AS rung, {df_cap} AS max_df, {bcap} AS cap,
         coalesce(sum(dd), 0) AS n_edges,
         coalesce(sum(coalesce(dd, 0) * coalesce(di, 0)), 0) AS n_wedges,
         coalesce(max(dd), 0) AS max_outdeg
  FROM od{r} FULL JOIN id{r} ON od{r}.s = id{r}.t)""",
        ]
        rows.append(f"SELECT * FROM aud{r}")
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block},
all_rungs AS ({' UNION ALL '.join(rows)})
SELECT rung::INT AS rung, max_df::INT AS max_df, cap::INT AS cap,
       n_edges::BIGINT AS n_edges, n_wedges::BIGINT AS n_wedges,
       max_outdeg::BIGINT AS max_outdeg,
       (n_wedges <= {_COOC_WEDGE_BUDGET}) AS fits,
       ((n_wedges <= {_COOC_WEDGE_BUDGET}) AND NOT coalesce(
          bool_or(n_wedges <= {_COOC_WEDGE_BUDGET}) OVER (
            ORDER BY rung ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          false)) AS chosen
FROM all_rungs
"""


@register("cooccurrence_budget_audit", extra=True, oracle=_cooc_budget_oracle())
def cooccurrence_budget_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knob-from-budget derivation for the co-occurrence wedge join
    (operators/knn_graph.py derive_cooccurrence_caps): audit every rung of
    a fixed (max_item_df, max_basket_size) ladder — each audit is the EXACT
    Σ indeg·outdeg row count triangle_count's wedge join would shuffle, an
    O(edges) job — and choose the first (loosest) rung under a 1M-wedge
    budget. strict=False: if NO rung fits, this query still reports the
    full ladder (all chosen=false), exactly as the oracle does — the
    refusal behavior belongs to the strict operator API, not to an audit
    report. The oracle replays all four audits and the selection rule
    value-for-value. This is the production answer to the ×100 graph's
    measured spill death: price the join from the audit BEFORE running it."""
    from vector_db_spark.operators.knn_graph import derive_cooccurrence_caps

    li = load_table(spark, sf_dir, "lineitem")
    res = derive_cooccurrence_caps(
        li,
        "l_orderkey",
        "l_partkey",
        wedge_budget=_COOC_WEDGE_BUDGET,
        ladder=_COOC_LADDER,
        audit_all=True,
        strict=False,
    )
    rows = [
        (
            r + 1,
            a["max_item_df"],
            a["max_basket_size"],
            a["n_edges"],
            a["n_wedges"],
            a["max_outdeg"],
            a["fits"],
            a is res["chosen"],
        )
        for r, a in enumerate(res["ladder"])
    ]
    return spark.createDataFrame(
        rows,
        "rung int, max_df int, cap int, n_edges long, n_wedges long, "
        "max_outdeg long, fits boolean, chosen boolean",
    )


# --- interval (range-containment) join ----------------------------------------


@register(
    "purchase_window_events",
    extra=True,
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
o AS (SELECT user_id, ts, value FROM events WHERE event_type <> 'purchase')
SELECT p.event_id AS purchase_id,
       count(o.ts)::BIGINT AS n_follow,
       round(coalesce(sum(o.value), 0), 6) AS follow_value
FROM p LEFT JOIN o
  ON p.user_id = o.user_id AND o.ts >= p.ts AND o.ts <= p.ts + INTERVAL 2 HOUR
GROUP BY 1
""",
)
def purchase_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo-window attribution via the bucketed interval join
    (operators/asof.interval_join): every non-purchase event landing
    inside [purchase, purchase + 2 h] of the same user, counted and
    value-summed per purchase. Spark's native plan for the range predicate
    is a broadcast nested loop; the operator decomposes it into an
    equi-join on (user, 30-min bucket) with the exact containment filter
    re-applied — shuffle is |events| + 5 bucket rows per purchase, never
    users². Exact SQL oracle (BETWEEN join)."""
    from vector_db_spark.operators.asof import interval_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    others = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "value"
    )
    hits = interval_join(
        others,
        purchases,
        keys=["user_id"],
        probe_ts="ts",
        start_col="start",
        end_col="end",
        bucket_seconds=1800,
    )
    per_purchase = hits.groupBy("purchase_id").agg(
        F.count("*").alias("n_follow"),
        F.round(F.sum("value"), 6).alias("follow_value"),
    )
    return (
        purchases.select("purchase_id")
        .join(per_purchase, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce("n_follow", F.lit(0)).alias("n_follow"),
            F.round(F.coalesce("follow_value", F.lit(0.0)), 6).alias("follow_value"),
        )
    )


# --- PPR seed expansion over the co-purchase graph ----------------------------


@register(
    "copurchase_ppr_expansion",
    extra=True,
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE mod(l_partkey, 5) = 0),
deg AS (SELECT l_orderkey, count(*) AS c FROM li GROUP BY 1),
nodes AS (SELECT DISTINCT l_partkey FROM li JOIN deg USING (l_orderkey) WHERE c >= 2)
SELECT (SELECT count(*) FROM nodes)::BIGINT AS n_nodes,
       TRUE AS rank_sum_ok, TRUE AS concentrated_ok, TRUE AS hop2_mass_ok
""",
)
def copurchase_ppr_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized-PageRank seed expansion over the parts-bought-together
    graph (operators/knn_graph.personalized_pagerank on the same
    join-derived edges as part_cooccurrence_triangles): "customers who
    bought THESE parts also buy…", the recommendation / local-community
    primitive at relational scale. Seeds are the 10 smallest part keys in
    the graph. Invariant projection: exact node count, the stochastic-
    vector contract, teleport concentration (seed mass ≫ uniform share),
    and locality (majority of rank mass within two co-purchase hops of
    the seed set). Exact ranks are float-summation-order sensitive; the
    1e-9 numpy agreement is pinned in tests/test_knn_graph.py.

    Plan note (100 TB): the edge list is an equi-self-join on l_orderkey
    (per-order groups are tiny, TPC-H ≤ 7 lineitems); each PPR iteration
    is one degree-annotated edge join + one partial-aggregated groupBy
    with localCheckpoint lineage bounds — O(E) shuffle per iteration,
    nothing quadratic."""
    from vector_db_spark.operators.knn_graph import personalized_pagerank

    # bench-safe deterministic scope: the mod-5 part slice keeps the graph
    # proportional at every sf (the unscoped graph is the same plan, just
    # more iterations of the same O(E) budget)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
        # pinned ONCE: the edge list feeds five consumers (PPR's
        # node/degree/edge tables, the hop-1/hop-2 locality probes, and
        # the node count) — unpinned, each action would recompute the lineitem
        # self-join + distinct from scratch
        .localCheckpoint(eager=True)
    )
    nodes = pairs.select(F.col("src").alias("node")).distinct()
    seeds = nodes.orderBy("node").limit(10).withColumnRenamed("node", "s")
    ppr = personalized_pagerank(edges=pairs, sources=seeds, nodes=nodes, n_iter=6)

    hop1 = (
        pairs.join(F.broadcast(seeds), pairs.src == seeds.s)
        .select(F.col("dst").alias("node"))
        .distinct()
    )
    near = seeds.select(F.col("s").alias("node")).union(hop1).distinct()
    hop2 = pairs.join(near, pairs.src == near.node).select(
        F.col("dst").alias("node")
    )
    within2 = near.union(hop2).distinct()

    seed_mass = ppr.join(F.broadcast(seeds), ppr.id == seeds.s).agg(
        F.sum("rank")
    ).collect()[0][0]
    near_mass = ppr.join(within2, ppr.id == within2.node).agg(
        F.sum("rank")
    ).collect()[0][0]
    n_nodes = nodes.count()
    # concentration bar: 5× the seeds' uniform share, CAPPED at the 0.15
    # teleport-mass floor — the uncapped bar exceeds 1.0 (unsatisfiable)
    # once n_nodes < 5·n_seeds (sf0.001: 40 nodes ⇒ bar 1.25; found by
    # an sf0.001 parity sweep). PPR with restart β=0.15 holds
    # seed mass ≥ β analytically (π = β·s + (1−β)Pᵀπ), so the capped bar
    # is feasible at every scale while staying 5× uniform wherever that
    # is the tighter test (n_nodes ≥ 334).
    bar = min(5 * 10.0 / n_nodes, 0.15)
    return ppr.agg(
        F.count("*").cast("long").alias("n_nodes"),
        (F.abs(F.sum("rank") - 1.0) < 1e-9).alias("rank_sum_ok"),
        F.lit(seed_mass > bar).alias("concentrated_ok"),
        F.lit(near_mass > 0.5).alias("hop2_mass_ok"),
    )


@register(
    "association_rules",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE mod(l_partkey, 5) = 0),
n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM li),
item AS (SELECT l_partkey AS p, count(*) AS sup FROM li GROUP BY 1),
pair AS (
  SELECT a.l_partkey AS ante, b.l_partkey AS cons, count(*) AS sup_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2)
SELECT ante, cons, sup_ab::BIGINT AS support,
       round(sup_ab::DOUBLE / ia.sup, 6) AS confidence,
       round((sup_ab::DOUBLE / ia.sup) / (ic.sup::DOUBLE / n.n_baskets), 6)
         AS lift
FROM pair JOIN item ia ON ia.p = ante
          JOIN item ic ON ic.p = cons
          CROSS JOIN n
WHERE sup_ab >= 3
  AND round((sup_ab::DOUBLE / ia.sup) / (ic.sup::DOUBLE / n.n_baskets), 6) > 1.0
""",
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift —
    Agrawal-Srikant) over parts co-purchased in one order, at the same
    deterministic mod-5 scope as the other co-purchase analytics:
    directed rules ante→cons with support ≥ 3 and lift > 1. One distinct
    pass, one per-order self-join (tiny groups: TPC-H ≤ 7 lineitems),
    two broadcast-able item-support joins — never baskets². Exact SQL
    oracle, every metric value-checked."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    li = tracked_cache(li, "q.relational.itemsets.li")
    n_baskets = li.select("l_orderkey").distinct().count()
    item = li.groupBy(F.col("l_partkey").alias("p")).agg(F.count("*").alias("sup"))
    pair = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("ante"), F.col("b.l_partkey").alias("cons")
        )
        .agg(F.count("*").alias("sup_ab"))
    )
    ia = item.select(F.col("p").alias("ante"), F.col("sup").alias("sup_a"))
    ic = item.select(F.col("p").alias("cons"), F.col("sup").alias("sup_c"))
    conf = F.col("sup_ab") / F.col("sup_a")
    lift = conf / (F.col("sup_c") / F.lit(float(n_baskets)))
    return (
        pair.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .filter(F.col("sup_ab") >= 3)
        .withColumn("confidence", F.round(conf, 6))
        .withColumn("lift", F.round(lift, 6))
        .filter(F.col("lift") > 1.0)
        .select(
            "ante", "cons", F.col("sup_ab").cast("long").alias("support"),
            "confidence", "lift",
        )
    )


@register(
    "copurchase_ktruss",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE mod(l_partkey, 5) = 0),
e AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
SELECT (SELECT count(*) FROM e)::BIGINT AS n_edges_before,
       TRUE AS truss_is_subgraph, TRUE AS support_floor_ok,
       TRUE AS truss_nonempty
""",
)
def copurchase_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the co-purchase graph (operators/knn_graph.k_truss —
    iterative support peel, Cohen '08): the cohesive always-bought-
    together cores that k-core and raw triangle counts over-include.
    Same deterministic mod-5 scope as copurchase_ppr_expansion.
    Invariant projection: exact input edge count, subgraph containment,
    the k-truss support floor on every surviving edge (recomputed on the
    FINAL subgraph — the defining property), and non-emptiness. The peel
    itself is iterative (not one-shot SQL); exact agreement with a
    pure-Python peeling reference is pinned in tests/test_knn_graph.py."""
    from vector_db_spark.operators.knn_graph import k_truss

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    edges = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    edges = tracked_cache(edges, "q.relational.ktruss.edges")
    n_before = edges.count()
    truss = tracked_cache(k_truss(edges, 4), "q.relational.ktruss.truss")
    n_after = truss.count()
    contained = (
        truss.join(edges, ["src", "dst"], "left_anti").count() == 0
    )
    floor_ok = truss.filter(F.col("support") < 2).count() == 0
    return spark.createDataFrame(
        [
            (
                n_before,
                bool(contained),
                bool(floor_ok),
                bool(n_after > 0),
            )
        ],
        "n_edges_before long, truss_is_subgraph boolean, "
        "support_floor_ok boolean, truss_nonempty boolean",
    )


# --- data-contract expectations -----------------------------------------------


@register(
    "table_expectations",
    extra=True,
    oracle="""
SELECT 'unique(o_orderkey)' AS check, 'orders' AS table_name,
       (SELECT COALESCE(sum(c - 1), 0) FROM (
          SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1))::BIGINT
         AS violations,
       (SELECT COALESCE(sum(c - 1), 0) FROM (
          SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1)) = 0 AS ok
UNION ALL
SELECT 'not_null(c_name)', 'customer',
       (SELECT count(*) FROM customer WHERE c_name IS NULL)::BIGINT,
       (SELECT count(*) FROM customer WHERE c_name IS NULL) = 0
UNION ALL
SELECT 'range(l_discount,[0.0,0.1])', 'lineitem',
       (SELECT count(*) FROM lineitem
         WHERE l_discount < 0.0 OR l_discount > 0.1)::BIGINT,
       (SELECT count(*) FROM lineitem
         WHERE l_discount < 0.0 OR l_discount > 0.1) = 0
UNION ALL
SELECT 'fk(o_custkey->c_custkey)', 'orders',
       (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey))::BIGINT,
       (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey)) = 0
UNION ALL
SELECT 'fk(l_orderkey->o_orderkey)', 'lineitem',
       (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey))::BIGINT,
       (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey)) = 0
""",
)
def table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract audit (operators/quality.py): pk uniqueness, null
    rate, value range, and two referential-integrity checks over the
    TPC-H-ish fixtures — exact violation counts, one unioned report."""
    from vector_db_spark.operators.quality import (
        expect_foreign_key,
        expect_in_range,
        expect_not_null,
        expect_unique,
        expectation_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return expectation_report(
        [
            expect_unique(orders, ["o_orderkey"], "orders"),
            expect_not_null(customer, "c_name", "customer"),
            expect_in_range(lineitem, "l_discount", 0.0, 0.1, "lineitem"),
            expect_foreign_key(orders, "o_custkey", customer, "c_custkey", "orders"),
            expect_foreign_key(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem"),
        ]
    )


# --- link prediction over the part co-occurrence graph ------------------------

_LP_TOP = 20


@register(
    "part_link_prediction",
    extra=True,
    oracle=f"""
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
deg AS (SELECT s, count(*) AS dg FROM e GROUP BY s),
common AS (
  SELECT w1.s AS a, w2.d AS b, count(*) AS common
  FROM e w1 JOIN e w2 ON w1.d = w2.s
  WHERE w1.s % 97 = 0 AND w1.s <> w2.d
  GROUP BY 1, 2),
ne AS (
  SELECT c.* FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = c.a AND e.d = c.b)),
sc AS (
  SELECT ne.a, ne.b, ne.common,
         round(ne.common / (da.dg + db.dg - ne.common), 6) AS jaccard
  FROM ne JOIN deg da ON ne.a = da.s JOIN deg db ON ne.b = db.s)
SELECT a, b, common::BIGINT AS common, jaccard
FROM sc ORDER BY jaccard DESC, a, b LIMIT {_LP_TOP}
""",
)
def part_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (operators/knn_graph.py link_prediction_jaccard)
    scoped to a target set (parts with key % 97 == 0 — the realistic
    "score candidates FOR these items" shape; unscoped all-pairs wedges
    are Σ deg² ≈ 300 M on this dense graph): the 20 strongest
    not-yet-linked neighbors by neighborhood Jaccard, exact against the
    oracle's full recomputation."""
    from vector_db_spark.operators.knn_graph import link_prediction_jaccard

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
    )
    targets = li.select("l_partkey").filter(F.col("l_partkey") % 97 == 0).distinct()
    return link_prediction_jaccard(edges, top_n=_LP_TOP, sources=targets)


@register(
    "part_link_prediction_aa",
    extra=True,
    oracle=f"""
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
deg AS (SELECT s, count(*) AS dg FROM e GROUP BY s),
wed AS (
  SELECT w1.s AS a, w2.d AS b, dm.dg AS dm
  FROM e w1 JOIN e w2 ON w1.d = w2.s JOIN deg dm ON dm.s = w1.d
  WHERE w1.s % 97 = 0 AND w1.s <> w2.d),
common AS (
  SELECT a, b, count(*) AS common,
         SUM(CAST(round(1.0 / ln(dm), 12) AS DECIMAL(28,12))) AS aa
  FROM wed GROUP BY 1, 2),
ne AS (
  SELECT c.* FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = c.a AND e.d = c.b))
SELECT a, b, common::BIGINT AS common, round(aa::DOUBLE, 6) AS aa_score
FROM ne ORDER BY aa DESC, a, b LIMIT {_LP_TOP}
""",
)
def part_link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase graph
    (operators/knn_graph.link_prediction_adamic_adar), same scoped
    contract as part_link_prediction: hub-discounted common-neighbor
    scores, decimal-summed so the ranking is engine-exact."""
    from vector_db_spark.operators.knn_graph import link_prediction_adamic_adar

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
    )
    targets = li.select("l_partkey").filter(F.col("l_partkey") % 97 == 0).distinct()
    return link_prediction_adamic_adar(edges, top_n=_LP_TOP, sources=targets)


# --- snapshot diff (CDC) ------------------------------------------------------


@register(
    "snapshot_diff_customers",
    extra=True,
    oracle="""
WITH old AS (
  SELECT c_custkey, c_mktsegment AS segment, round(c_acctbal, 2) AS bal
  FROM customer WHERE c_custkey % 7 <> 0),
new AS (
  SELECT c_custkey, c_mktsegment AS segment,
         round(c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 10.0 ELSE 0.0 END, 2) AS bal
  FROM customer WHERE c_custkey % 11 <> 0)
SELECT 'D' AS op, o.c_custkey, o.segment, o.bal
FROM old o LEFT JOIN new n USING (c_custkey) WHERE n.c_custkey IS NULL
UNION ALL
SELECT 'I', n.c_custkey, n.segment, n.bal
FROM new n LEFT JOIN old o USING (c_custkey) WHERE o.c_custkey IS NULL
UNION ALL
SELECT 'U', n.c_custkey, n.segment, n.bal
FROM new n JOIN old o USING (c_custkey)
WHERE o.bal <> n.bal OR o.segment <> n.segment
""",
)
def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/scd.py snapshot_diff): two
    deterministic versions of the customer table (disjoint key drops +
    planted balance bumps) diffed into an I/D/U changeset — one
    full-outer join, value-checked."""
    from vector_db_spark.operators.scd import snapshot_diff

    cust = load_table(spark, sf_dir, "customer")
    old = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("bal"),
    )
    new = cust.filter(F.col("c_custkey") % 11 != 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 5 == 0, 10.0).otherwise(0.0),
            2,
        ).alias("bal"),
    )
    return snapshot_diff(old, new, ["c_custkey"])


# --- equi-width histogram -----------------------------------------------------

_HIST_NB = 16


@register(
    "value_histogram",
    extra=True,
    oracle=f"""
WITH st AS (SELECT min(value) AS mn, max(value) AS mx FROM events)
SELECT least({_HIST_NB - 1},
             floor((value - st.mn) / ((st.mx - st.mn) / {_HIST_NB})))::INTEGER
         AS bucket,
       count(*)::BIGINT AS n,
       round(min(value), 2) AS lo, round(max(value), 2) AS hi
FROM events CROSS JOIN st
GROUP BY 1
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bucket equi-width histogram of event values: the two-pass shape
    (exact min/max scalars, then one map-side bucket assignment + count) —
    bucket math is identical double arithmetic in any engine because the
    boundary scalars are exact column extrema, not estimates."""
    ev = load_table(spark, sf_dir, "events")
    st = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx")).collect()[0]
    mn, mx = st["mn"], st["mx"]
    width = (mx - mn) / _HIST_NB
    b = F.least(F.lit(_HIST_NB - 1), F.floor((F.col("value") - mn) / width)).cast("int")
    return (
        ev.groupBy(b.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


# --- winsorized statistics ----------------------------------------------------


@register(
    "winsorized_value_stats",
    extra=True,
    oracle="""
WITH q AS (
  SELECT quantile_cont(value, 0.05) AS p05, quantile_cont(value, 0.95) AS p95
  FROM events)
SELECT count(*)::BIGINT AS n,
       round(q.p05, 6) AS p05, round(q.p95, 6) AS p95,
       round(avg(least(greatest(value, q.p05), q.p95)), 4) AS winsor_mean,
       sum(CASE WHEN value < q.p05 OR value > q.p95 THEN 1 ELSE 0 END)::BIGINT
         AS n_clipped
FROM events CROSS JOIN q
GROUP BY q.p05, q.p95
""",
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%-clipped) statistics of event values — the
    outlier-robust mean a metrics pipeline reports next to the raw one.
    Exact linear-interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`), then one map-side clip + aggregation."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    ).collect()[0]
    p05, p95 = q["p05"], q["p95"]
    clipped = F.least(F.greatest(F.col("value"), F.lit(p05)), F.lit(p95))
    return ev.agg(
        F.count("*").alias("n"),
        F.round(F.lit(p05), 6).alias("p05"),
        F.round(F.lit(p95), 6).alias("p95"),
        F.round(F.avg(clipped), 4).alias("winsor_mean"),
        F.sum(
            ((F.col("value") < p05) | (F.col("value") > p95)).cast("long")
        ).alias("n_clipped"),
    )


@register(
    "asof_next_order",
    oracle="""
WITH raw AS (
  SELECT e.event_id, e.user_id, e.ts,
         (SELECT MIN(o.o_orderdate) FROM orders o
          WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts) AS rt
  FROM events e
),
t AS (
  SELECT event_id, user_id, ts,
         CASE WHEN rt IS NOT NULL AND epoch(rt) - epoch(ts) <= 2592000.0
              THEN rt END AS asof_time
  FROM raw
)
SELECT t.event_id, t.user_id, t.ts, t.asof_time,
       (SELECT MAX(o.o_totalprice) FROM orders o
        WHERE o.o_custkey = t.user_id AND o.o_orderdate = t.asof_time) AS asof_o_totalprice
FROM t
""",
    extra=True,
)
def asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (operators/asof.py::
    as_of_join_directional, pandas.merge_asof parity): each event joined
    to the user's NEXT order within 30 days — the "time-to-conversion"
    lookup. Matches beyond tolerance null out, equal-date ties take the
    max totalprice (same rule as the backward query)."""
    from vector_db_spark.operators.asof import as_of_join_directional

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_totalprice"
    )
    return as_of_join_directional(
        ev,
        o,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["o_totalprice"],
        direction="forward",
        tolerance_seconds=2_592_000.0,
        tiebreak_cols=["o_totalprice"],
    ).select("event_id", "user_id", "ts", "asof_time", "asof_o_totalprice")


@register(
    "asof_nearest_order",
    oracle="""
WITH m AS (
  SELECT e.event_id, e.user_id, e.ts,
         (SELECT MAX(o.o_orderdate) FROM orders o
          WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS bt,
         (SELECT MIN(o.o_orderdate) FROM orders o
          WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts) AS ft
  FROM events e
),
t AS (
  SELECT event_id, user_id, ts,
         CASE
           WHEN ft IS NULL THEN bt
           WHEN bt IS NULL THEN ft
           WHEN epoch(ts) - epoch(bt) <= epoch(ft) - epoch(ts) THEN bt
           ELSE ft
         END AS asof_time
  FROM m
)
SELECT t.event_id, t.user_id, t.ts, t.asof_time,
       (SELECT MAX(o.o_totalprice) FROM orders o
        WHERE o.o_custkey = t.user_id AND o.o_orderdate = t.asof_time) AS asof_o_totalprice
FROM t
""",
)
def asof_nearest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of (pandas tie rule: equal distance → backward): each
    event joined to the user's closest order in either direction. One
    union shuffle, two windows over the same key partitioning."""
    from vector_db_spark.operators.asof import as_of_join_directional

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_totalprice"
    )
    return as_of_join_directional(
        ev,
        o,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["o_totalprice"],
        direction="nearest",
        tiebreak_cols=["o_totalprice"],
    ).select("event_id", "user_id", "ts", "asof_time", "asof_o_totalprice")


@register(
    "value_quantile_bins",
    extra=True,
    oracle="""
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.50) AS q2,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY 1)
SELECT e.event_type,
       CASE WHEN e.value <= q.q1 THEN 0
            WHEN e.value <= q.q2 THEN 1
            WHEN e.value <= q.q3 THEN 2
            ELSE 3 END AS bin,
       count(*)::BIGINT AS n,
       round(any_value(q.q1), 6) AS q1,
       round(any_value(q.q2), 6) AS q2,
       round(any_value(q.q3), 6) AS q3
FROM events e JOIN q USING (event_type)
GROUP BY 1, 2
""",
)
def value_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile feature binning per event type (the QuantileDiscretizer
    feature-engineering step, done with EXACT interpolated boundaries so
    the binning is engine-reproducible — seeded approxQuantile is not).
    One O(groups)-row percentile aggregation broadcast back; bin
    assignment is a map-side CASE; bin counts are one partial-aggregated
    groupBy."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.50)").alias("q2"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    binned = ev.join(F.broadcast(q), "event_type").withColumn(
        "bin",
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("n"),
        F.round(F.first("q1"), 6).alias("q1"),
        F.round(F.first("q2"), 6).alias("q2"),
        F.round(F.first("q3"), 6).alias("q3"),
    )


@register(
    "value_percentile_ranks",
    extra=True,
    oracle="""
SELECT event_id, event_type, value,
       round(percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id), 6) AS pct
FROM events WHERE event_type IN ('purchase', 'error')
""",
)
def value_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECDF / percentile-rank feature transform: each event's value scored
    as its exact within-type percentile (the rank-normalization step
    before mixing heterogeneous score scales). SQL-standard percent_rank
    over a unique (value, id) order — engine-identical; one key shuffle.
    At corpus scale the sort-free twin is the digest-threshold form
    (operators/sketches.quantile_digest)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.percent_rank().over(w), 6).alias("pct"),
    )


@register(
    "udaf_event_median",
    extra=True,
    oracle="""
SELECT event_type, count(*)::BIGINT AS n,
       round(quantile_cont(value, 0.5), 6) AS median_value
FROM events GROUP BY event_type
""",
)
def udaf_event_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE surface (SURVEY.md §2.9): per-type median
    via a grouped-agg pandas UDF — the plan shows ``ArrowAggregatePython``
    (Arrow-batched group transfer; NOT the row-at-a-time BatchEvalPython
    the lint rejects). The kernel sorts before selecting, so the result
    is order-deterministic and matches DuckDB's ``quantile_cont`` exactly
    (both take the midpoint mean for even counts). Exercises the one
    extension point the built-in operator queries can't: custom
    aggregation logic running inside a keyed shuffle."""
    @F.pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        import numpy as np

        return float(np.median(np.sort(v.to_numpy(dtype="float64"))))

    ev = load_table(spark, sf_dir, "events")
    # Spark refuses pandas + built-in aggregates in ONE agg; two keyed
    # aggs over the same tiny group key, broadcast-joined
    med = ev.groupBy("event_type").agg(
        F.round(median_udaf("value"), 6).alias("median_value")
    )
    cnt = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    return cnt.join(F.broadcast(med), "event_type").select(
        "event_type", "n", "median_value"
    )


@register(
    "frequent_event_itemsets",
    extra=True,
    oracle="""
WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
nb AS (SELECT count(DISTINCT user_id) AS n FROM b),
s1 AS (
  SELECT event_type AS itemset, 1 AS sz, count(*) AS freq
  FROM b GROUP BY event_type),
s2 AS (
  SELECT x.event_type || ',' || y.event_type AS itemset, 2 AS sz, count(*) AS freq
  FROM b x JOIN b y ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1),
s3 AS (
  SELECT x.event_type || ',' || y.event_type || ',' || z.event_type AS itemset,
         3 AS sz, count(*) AS freq
  FROM b x
  JOIN b y ON x.user_id = y.user_id AND x.event_type < y.event_type
  JOIN b z ON y.user_id = z.user_id AND y.event_type < z.event_type
  GROUP BY 1)
SELECT itemset, sz::INTEGER AS sz, freq::BIGINT AS freq
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
WHERE freq >= 0.2 * (SELECT n FROM nb)
""",
)
def frequent_event_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset mining with pyspark.ml.fpm FPGrowth — the
    distributed FP-tree algorithm (Han et al. '00; Spark parallelizes as
    PFP) over per-user event-type baskets. FPGrowth is deterministic
    (no RNG), so unlike the k-means/ALS audits this ml query carries a
    FULL value-exact oracle: DuckDB enumerates every itemset of size
    ≤ 3 by self-joins and both engines must agree on the complete
    (itemset, frequency) table at 20% support. Itemsets are emitted as
    comma-joined sorted strings (scalar-typed driver contract)."""
    from pyspark.ml.fpm import FPGrowth

    ev = load_table(spark, sf_dir, "events")
    baskets = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("items"))
    )
    model = FPGrowth(
        itemsCol="items", minSupport=0.2, minConfidence=0.5
    ).fit(baskets)
    return (
        model.freqItemsets.withColumn("sz", F.size("items").cast("int"))
        .filter(F.col("sz") <= 3)
        .select(
            F.array_join(F.array_sort("items"), ",").alias("itemset"),
            "sz",
            F.col("freq").cast("long").alias("freq"),
        )
    )


@register(
    "sequential_event_patterns",
    extra=True,
    oracle="""
WITH p AS (
  SELECT user_id, event_type AS typ,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events QUALIFY pos <= 5),
n AS (SELECT count(DISTINCT user_id) AS nu FROM p),
s1 AS (SELECT typ AS pat, count(DISTINCT user_id) AS freq FROM p GROUP BY typ),
s2 AS (
  SELECT a.typ || ',' || b.typ AS pat, count(DISTINCT a.user_id) AS freq
  FROM p a JOIN p b ON a.user_id = b.user_id AND a.pos < b.pos
  GROUP BY 1),
s3 AS (
  SELECT a.typ || ',' || b.typ || ',' || c.typ AS pat,
         count(DISTINCT a.user_id) AS freq
  FROM p a
  JOIN p b ON a.user_id = b.user_id AND a.pos < b.pos
  JOIN p c ON b.user_id = c.user_id AND b.pos < c.pos
  GROUP BY 1)
SELECT pat, freq::BIGINT AS freq
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
WHERE freq >= ceil(0.15 * (SELECT nu FROM n))
""",
)
def sequential_event_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining with pyspark.ml.fpm PrefixSpan (Pei et
    al. '01 — projected-database recursion, distributed) over each
    user's first five events: order-sensitive where FP-Growth itemsets
    are not (click→purchase ≠ purchase→click), the funnel-mining
    primitive. PrefixSpan is deterministic, so the oracle is FULLY
    value-exact: DuckDB enumerates gap-allowed subsequence containment
    for every pattern of length ≤ 3 by position-ordered self-joins, and
    the complete (pattern, support) table must agree at 15% support.
    First-five truncation (ts, event_id tiebreak) keeps supports
    informative — over full ~100-event histories every short pattern is
    contained by every user and the table degenerates to 'all patterns,
    full support'."""
    from pyspark.ml.fpm import PrefixSpan

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    seqs = first5.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
            lambda s: F.array(s.event_type),
        ).alias("sequence")
    )
    res = PrefixSpan(
        minSupport=0.15, maxPatternLength=3
    ).findFrequentSequentialPatterns(seqs)
    return res.select(
        F.array_join(F.flatten("sequence"), ",").alias("pat"),
        F.col("freq").cast("long").alias("freq"),
    )


@register(
    "record_linkage_customers",
    oracle="""
WITH dirty AS (
  SELECT c_custkey + 1000000 AS id_b,
         CASE WHEN c_custkey % 3 = 0
              THEN substr(c_name, 1, 9) || substr(c_name, 11)
              ELSE c_name END AS name_b,
         c_nationkey AS nk_b, c_acctbal AS ab_b,
         CASE WHEN c_custkey % 3 = 1 THEN 'UNKNOWN' ELSE c_mktsegment END AS seg_b
  FROM customer),
cand AS (
  SELECT DISTINCT a.c_custkey AS id_a, d.id_b
  FROM customer a JOIN dirty d
    ON (a.c_nationkey = d.nk_b
        AND right(a.c_name, 6) = right(d.name_b, 6))
    OR (a.c_nationkey = d.nk_b AND a.c_acctbal = d.ab_b))
SELECT id_a, id_b, score, score >= 10.0 AS is_match FROM (
  SELECT cand.id_a AS id_a, cand.id_b AS id_b,
         round((CASE WHEN a.c_acctbal = d.ab_b THEN 6.0 ELSE -3.0 END)
             + (CASE WHEN a.c_mktsegment = d.seg_b THEN 2.0 ELSE -1.0 END)
             + (CASE WHEN levenshtein(a.c_name, d.name_b) <= 2 THEN 8.0 ELSE -4.0 END),
               6) AS score
  FROM cand JOIN customer a ON a.c_custkey = cand.id_a
            JOIN dirty d ON d.id_b = cand.id_b)
""",
)
def record_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (operators/linkage.record_linkage,
    Fellegi-Sunter JASA'69) demonstrated on a deterministically dirtied
    copy of the customer table (every third record loses a name
    character; another third gets its segment blanked — both md5-free,
    pure column surgery the oracle replays). Multi-pass blocking — a
    (nation, name-prefix) pass catches segment damage, a (nation,
    acctbal) pass catches name damage — union-deduped on the id pair,
    never a cross join; scoring is one codegen CASE sum with native
    levenshtein, weights as log2(m/u)-style literals, threshold 10.
    Full value reproduction (score and decision per pair)."""
    from vector_db_spark.operators.linkage import record_linkage

    base = load_table(spark, sf_dir, "customer")
    dirty = base.select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.substring("c_name", 1, 9), F.substring("c_name", 11, 1_000)
            ),
        ).otherwise(F.col("c_name")).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        F.when(F.col("c_custkey") % 3 == 1, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    return record_linkage(
        base,
        dirty,
        id_col="c_custkey",
        block_exprs=[
            (
                F.concat_ws("|", F.col("c_nationkey"), F.substring("c_name", -6, 6)),
                F.concat_ws("|", F.col("c_nationkey"), F.substring("c_name", -6, 6)),
            ),
            (
                F.concat_ws("|", F.col("c_nationkey"), F.col("c_acctbal")),
                F.concat_ws("|", F.col("c_nationkey"), F.col("c_acctbal")),
            ),
        ],
        exact_fields={"c_acctbal": (6.0, -3.0), "c_mktsegment": (2.0, -1.0)},
        fuzzy_fields={"c_name": (8.0, -4.0, 2)},
        threshold=10.0,
    )
