"""Tests for the plan-audit lint (vector_db_spark.plans) and the
selectivity-adaptive filtered k-NN strategy pick."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.plans import assert_scales, audit_plan


def codes(findings):
    return {f.code for f in findings}


def test_audit_flags_cartesian_product(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = emb.crossJoin(emb.withColumnRenamed("vec_id", "b"))
        fs = audit_plan(df)
        assert "cartesian-product" in codes(fs)
        with pytest.raises(AssertionError, match="cartesian-product"):
            assert_scales(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_audit_flags_row_python_udf(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    slow = F.udf(lambda s: len(s or ""), "int")  # row-at-a-time on purpose
    df = docs.select(slow("text").alias("n"))
    assert "row-python-udf" in codes(audit_plan(df))
    with pytest.raises(AssertionError, match="row-python-udf"):
        assert_scales(df)


def test_audit_flags_unpartitioned_window_but_not_grouped(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    global_w = ev.withColumn("rn", F.row_number().over(Window.orderBy("ts", "event_id")))
    assert "unpartitioned-window" in codes(audit_plan(global_w))
    per_user = ev.withColumn(
        "rn", F.row_number().over(Window.partitionBy("user_id").orderBy("ts"))
    )
    assert "unpartitioned-window" not in codes(audit_plan(per_user))


def test_registered_scale_paths_have_no_errors(spark, sf_smoke):
    """The headline scale-path queries audit clean: batch knn (Arrow, not
    row-Python) and SQL knn (deliberate bounded nested-loop)."""
    from vector_db_spark.queries import all_queries

    Q = all_queries()
    for name in (
        "knn_exact_batch",
        "doc_repetition",
        "near_dup_jaccard",
        "chunk_manifest",
    ):
        assert_scales(Q[name](spark, sf_smoke))
    fs = audit_plan(Q["knn_exact_sql"](spark, sf_smoke))
    assert not [f for f in fs if f.severity == "error"]
    assert "nested-loop-join" in codes(fs)  # present, but warn-grade


def test_adaptive_filtered_knn_picks_the_right_regime(
    spark, sf_smoke, tmp_path, force_large
):
    """Selective filter: probe-pruned IVF is a recall trap (survivors live
    outside the probed clusters → empty/short results); the adaptive
    strategy must fall back to exact search over the survivors. Broad
    filter: adaptive must delegate to the probe-pruned IVF path."""
    from vector_db_spark.operators.ivf import IVFIndex
    from vector_db_spark.operators.knn import adaptive_filtered_knn, knn_join

    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFIndex.build(spark, emb, 8, str(tmp_path / "ivf"))

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = idx.corpus()
    own = corpus.filter(F.col("vec_id") == 0).select("cluster_id").first()[0]
    # survivors: 30 ids from OTHER clusters only — n_probe=1 probes the
    # query's own cluster, which contains none of them
    allowed = (
        corpus.filter(F.col("cluster_id") != own).select("vec_id").limit(30)
    ).cache()
    assert allowed.count() == 30

    trap = idx.search(q, k=5, n_probe=1, allowed_ids=allowed)
    assert trap.count() < 5  # the recall trap is real

    got = adaptive_filtered_knn(q, idx, 5, allowed_ids=allowed, n_probe=1)
    want = knn_join(q, emb.join(allowed, "vec_id", "left_semi"), 5)
    assert got.count() == 5
    assert [tuple(r) for r in got.orderBy("rank").collect()] == [
        tuple(r) for r in want.orderBy("rank").collect()
    ]

    # broad regime: forcing the route takes the IVF branch; results
    # match a direct index search with the same filter
    all_ids = corpus.select("vec_id")
    with force_large("knn.filtered_exact"):
        via_adaptive = adaptive_filtered_knn(
            q, idx, 5, allowed_ids=all_ids, n_probe=4
        )
    via_index = idx.search(q, k=5, n_probe=4, allowed_ids=all_ids)
    assert [tuple(r) for r in via_adaptive.orderBy("rank").collect()] == [
        tuple(r) for r in via_index.orderBy("rank").collect()
    ]


# --- registry-wide sweep -------------------------------------------------------

@pytest.fixture(scope="module")
def registry_findings(spark, sf_smoke):
    """ONE build+audit pass over the full registry, shared by the error-
    and warn-grade checks below (each query build can trigger real work —
    k-means fits, stream commits — so the sweep must not run per-test)."""
    from vector_db_spark.plans import audit_plan
    from vector_db_spark.queries import all_queries

    return {
        name: audit_plan(fn(spark, sf_smoke)) for name, fn in all_queries().items()
    }


def test_no_scale_errors_in_any_registered_query(registry_findings):
    """Every registered query's physical plan — driver AND extra tier —
    must be free of error-severity scale findings (CartesianProduct,
    row-at-a-time Python UDFs): the lint, applied to the whole contract."""
    bad = {
        name: [(f.code, f.detail) for f in fs if f.severity == "error"]
        for name, fs in registry_findings.items()
    }
    bad = {k: v for k, v in bad.items() if v}
    assert not bad, bad


# Warn-grade snapshot of the whole registry (sweep at sf0.001):
# every entry is a deliberate bounded shape — "nested-loop-join" is a
# broadcast of an O(1)/O(k) query/centroid/sketch side, "single-partition-
# exchange" is a final scalar/top-N collapse after partial aggregation,
# "unpartitioned-window" runs over an already-bounded candidate or
# group-summary set (argued at each definition site). A query NOT listed
# here must audit warn-free: a new registration (or an edit to a clean
# query) that introduces one of these shapes fails the subset check below
# until it is consciously allow-listed.
_WARN_ALLOW: dict[str, set[str]] = {
    "bigram_lm_score": {"nested-loop-join", "single-partition-exchange"},
    "bpe_tokenize_audit": {"single-partition-exchange"},
    "bq_hamming_search": {"nested-loop-join"},
    "bq_retrieval_metrics": {"nested-loop-join"},
    "click_purchase_crosscorr": {"nested-loop-join", "single-partition-exchange"},
    "cluster_stats": {"single-partition-exchange"},
    "cluster_topic_terms": {"nested-loop-join", "single-partition-exchange"},
    "cms_join_size": {"single-partition-exchange"},
    # max-ts anchor: one-row aggregate broadcast onto the event stream
    "decayed_event_type_scores": {"nested-loop-join", "single-partition-exchange"},
    "copurchase_ppr_expansion": {"single-partition-exchange"},
    "corpus_drift_js": {"nested-loop-join", "single-partition-exchange"},
    "corpus_governance_report": {"single-partition-exchange"},
    # hour-grid construction: series × broadcast one-row (lo, hi) span,
    # then the per-series windows collapse through a scalar-span exchange
    "cusum_level_shifts": {"nested-loop-join", "single-partition-exchange"},
    # broadcast of the O(k) deterministic-centroid side (argmin routing)
    "ivf_incremental_update": {"nested-loop-join"},
    # crossJoin of two ONE-ROW aggregates + scalar finish
    "rendezvous_shard_stability": {"nested-loop-join", "single-partition-exchange"},
    "digest_price_quantiles": {"nested-loop-join"},
    # broadcast of the (small-by-nature) benchmark suite onto the corpus
    "embedding_decontaminate": {"nested-loop-join"},
    # same shape: the tagged suite UNION broadcasts (still suite-sized,
    # budget-priced as the sum) and cross-scores the corpus map-side
    "embedding_decontaminate_multi": {"nested-loop-join"},
    "embedding_isotropy": {"nested-loop-join", "single-partition-exchange"},
    "event_key_skew": {"nested-loop-join", "single-partition-exchange"},
    "frequent_event_paths": {"unpartitioned-window"},
    "fuzzy_typo_pairs": {"nested-loop-join"},
    "hybrid_search": {
        "nested-loop-join", "single-partition-exchange", "unpartitioned-window"
    },
    "interleave_training_order": {
        "single-partition-exchange", "unpartitioned-window"
    },
    "inverted_bm25_search": {"unpartitioned-window"},
    "ivf_search_cosine_det": {"nested-loop-join"},
    "ivf_search_det": {"nested-loop-join"},
    "ivf_search_kmeans": {"nested-loop-join"},
    "ivfpq_search_kmeans": {"nested-loop-join", "single-partition-exchange"},
    "jl_projection_audit": {"single-partition-exchange"},
    "join_size_preflight": {"nested-loop-join", "single-partition-exchange"},
    "kmv_orderkey_difference": {"nested-loop-join", "single-partition-exchange"},
    "kmv_orderkey_overlap": {"nested-loop-join", "single-partition-exchange"},
    "knn_exact_sql": {"nested-loop-join"},
    "knn_graph_export": {"nested-loop-join"},
    "late_interaction_search": {"nested-loop-join"},
    "opq_adc_recall": {"nested-loop-join", "single-partition-exchange"},
    # the two co-occurrence triangle counters end in a 3-way crossJoin of
    # 1-row scalar aggregates (n_nodes/n_edges/n_triangles) — the nested
    # loop and one-task stage are those single-row finishes, not the wedge
    # joins
    "cooccurrence_capped_triangles": {
        "nested-loop-join",
        "single-partition-exchange",
    },
    "part_cooccurrence_triangles": {"nested-loop-join", "single-partition-exchange"},
    # subscription rank window runs AFTER the TakeOrdered top-2n cut, so
    # the one-task stage holds 2·n_subs rows (n_docs/32), never the
    # corpus vocabulary
    "percolate_scaled_subscriptions": {"unpartitioned-window"},
    "pq_adc_kmeans": {"nested-loop-join", "single-partition-exchange"},
    "quality_dup_auc": {"single-partition-exchange", "unpartitioned-window"},
    "recall_bytes_frontier": {"nested-loop-join", "single-partition-exchange"},
    "semantic_search_docs": {"nested-loop-join"},
    "table_expectations": {"single-partition-exchange"},
    "token_collocations_pmi": {"unpartitioned-window"},
    # exact-percentile scalar finish; shape appears only under some input
    # partitionings (AQE), so the subset check needs it listed
    "winsorized_value_stats": {"single-partition-exchange"},
}


def test_registry_warn_shapes_are_allow_listed(registry_findings):
    """Subset check over the FULL registry: each query's warn-severity
    finding codes must be within its pinned allowlist (absent = must be
    warn-free). Catches plan-shape regressions — a pushdown that stopped
    working, a window that lost its PARTITION BY — on queries that audit
    clean today, without failing when a warn legitimately disappears."""
    assert sorted(set(_WARN_ALLOW) - set(registry_findings)) == []
    bad = {}
    for name, fs in registry_findings.items():
        warns = {f.code for f in fs if f.severity == "warn"}
        extra = warns - _WARN_ALLOW.get(name, set())
        if extra:
            bad[name] = sorted(extra)
    assert not bad, f"unexpected warn-grade plan shapes: {bad}"
