"""Unit pins for the wave-2 round-3 operators: key-skew profiling
(operators/profiling.py), adaptive per-group cuts (operators/curation.py)
and the matryoshka truncation audit (operators/evalmetrics.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_spark.operators.curation import per_group_top_frac
from vector_db_spark.operators.evalmetrics import truncation_overlap
from vector_db_spark.operators.profiling import key_skew_report


# --- key_skew_report ---------------------------------------------------------


def test_key_skew_report_exact(spark):
    # key 7 → 6 rows, keys 1..3 → 2 rows each: total 12, n_keys 4, mean 3
    rows = [(7,)] * 6 + [(1,), (1,), (2,), (2,), (3,), (3,)]
    df = spark.createDataFrame(rows, "k long")
    (r,) = key_skew_report(df, "k").collect()
    assert (r.n_keys, r.total_rows, r.max_cnt, r.top_key) == (4, 12, 6, 7)
    assert r.skew_ratio == pytest.approx(2.0)
    assert r.salt_hint == 2


def test_key_skew_report_tie_breaks_to_max_key(spark):
    df = spark.createDataFrame([(1,), (1,), (9,), (9,), (4,)], "k long")
    (r,) = key_skew_report(df, "k").collect()
    assert r.max_cnt == 2 and r.top_key == 9  # 1 and 9 tie; larger key wins


def test_key_skew_report_uniform(spark):
    df = spark.createDataFrame([(i % 5,) for i in range(25)], "k long")
    (r,) = key_skew_report(df, "k").collect()
    assert r.skew_ratio == pytest.approx(1.0) and r.salt_hint == 1


# --- per-group adaptive cuts -------------------------------------------------


@pytest.fixture(scope="module")
def scored(spark):
    # two groups: "a" 10 rows score=id, "b" 4 rows score=100+id
    rows = [(i, "a", float(i)) for i in range(10)] + [
        (100 + i, "b", 100.0 + i) for i in range(4)
    ]
    return spark.createDataFrame(rows, "doc_id long, g string, s double")


def test_per_group_top_frac_exact(spark, scored):
    out = per_group_top_frac(scored, "g", "s", 0.5).collect()
    by_g = {g: sorted(r.doc_id for r in out if r.g == g) for g in ("a", "b")}
    assert by_g["a"] == [5, 6, 7, 8, 9]  # top 5 of 10 by score
    assert by_g["b"] == [102, 103]  # top 2 of 4


def test_per_group_top_frac_keeps_at_least_one(spark, scored):
    out = per_group_top_frac(scored, "g", "s", 0.01).collect()
    by_g = {g: [r.doc_id for r in out if r.g == g] for g in ("a", "b")}
    assert by_g["a"] == [9] and by_g["b"] == [103]


def test_per_group_top_frac_tie_prefers_smaller_id(spark):
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 5.0), (3, "a", 1.0)], "doc_id long, g string, s double"
    )
    out = per_group_top_frac(df, "g", "s", 0.3).collect()  # ceil(0.9) = 1 row
    assert [r.doc_id for r in out] == [1]


# --- truncation audit --------------------------------------------------------


def test_truncation_overlap_full_dim_is_identity(spark, sf_smoke):
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    out = truncation_overlap(emb, k=5, d_trunc=64, n_queries=5).collect()
    assert len(out) == 5
    assert all(r.overlap_frac == 1.0 for r in out)


def test_truncation_overlap_prefix_keeps_self_hit(spark, sf_smoke):
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    out = truncation_overlap(emb, k=5, d_trunc=8, n_queries=5).collect()
    # each query's own vector is rank-1 under any prefix → overlap ≥ 1/k
    assert all(r.overlap_cnt >= 1 for r in out)
    assert all(0.0 <= r.overlap_frac <= 1.0 for r in out)


# --- join_size_estimate ------------------------------------------------------


def test_join_size_estimate_matches_actual(spark):
    from vector_db_spark.operators.profiling import join_size_estimate

    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], "k long")
    b = spark.createDataFrame([(1,), (1,), (1,), (3,), (4,)], "k long")
    (r,) = join_size_estimate(a, b, "k").collect()
    actual = a.join(b, "k").count()
    assert r.est_rows == actual == 7  # 2*3 + 1*1
    assert r.n_shared_keys == 2
    assert r.max_key_rows == 6 and r.top_key == 1


# --- group_sample_fixed_k ----------------------------------------------------


def test_group_sample_exact_k_and_deterministic(spark):
    from vector_db_spark.operators.curation import group_sample_fixed_k

    rows = [(i, "g" + str(i % 3)) for i in range(60)] + [(100, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    s1 = sorted(r.doc_id for r in group_sample_fixed_k(df, "g", 4).collect())
    s2 = sorted(
        r.doc_id
        for r in group_sample_fixed_k(df.repartition(7), "g", 4).collect()
    )
    assert s1 == s2  # layout-invariant draw
    out = group_sample_fixed_k(df, "g", 4)
    per = {r[0]: r[1] for r in out.groupBy("g").count().collect()}
    assert per == {"g0": 4, "g1": 4, "g2": 4, "tiny": 1}  # min(k, n_group)


# --- token_distribution_drift ------------------------------------------------


def test_drift_zero_for_identical_corpora(spark):
    from vector_db_spark.operators.curation import token_distribution_drift

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta delta")], "doc_id long, text string"
    )
    (r,) = token_distribution_drift(docs, docs).collect()
    assert r.js_divergence == 0.0
    assert r.n_tokens_a == r.n_tokens_b == 6


def test_drift_ln2_for_disjoint_corpora(spark):
    import math

    from vector_db_spark.operators.curation import token_distribution_drift

    a = spark.createDataFrame([(1, "aa bb cc")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "xx yy zz")], "doc_id long, text string")
    (r,) = token_distribution_drift(a, b).collect()
    assert r.js_divergence == pytest.approx(math.log(2), abs=1e-6)


def test_drift_is_symmetric(spark):
    from vector_db_spark.operators.curation import token_distribution_drift

    a = spark.createDataFrame([(1, "aa bb bb cc")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "bb cc cc dd")], "doc_id long, text string")
    (ab,) = token_distribution_drift(a, b).collect()
    (ba,) = token_distribution_drift(b, a).collect()
    assert ab.js_divergence == ba.js_divergence > 0.0


# --- interleave_by_group -----------------------------------------------------


def test_interleave_rotates_groups(spark):
    from vector_db_spark.operators.packing import interleave_by_group

    rows = [(i, "g" + str(i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    out = interleave_by_group(df, "g").orderBy("interleave_rank").collect()
    # every window of 4 consecutive ranks covers all 4 groups
    for w in range(0, 40, 4):
        assert {r.g for r in out[w : w + 4]} == {"g0", "g1", "g2", "g3"}
    # ranks are unique (total order)
    assert len({r.interleave_rank for r in out}) == 40


def test_interleave_layout_invariant_and_handles_exhaustion(spark):
    from vector_db_spark.operators.packing import interleave_by_group

    rows = [(i, "big") for i in range(10)] + [(100, "small")]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    a = sorted((r.doc_id, r.interleave_rank) for r in interleave_by_group(df, "g").collect())
    b = sorted(
        (r.doc_id, r.interleave_rank)
        for r in interleave_by_group(df.repartition(5), "g").collect()
    )
    assert a == b
    # 'small' exhausts after rank 1; 'big' continues with gaps — order total
    ranks = [x[1] for x in a]
    assert len(set(ranks)) == len(ranks)


# --- spherical equivalence (cosine via normalization) -------------------------


def test_spherical_euclid_matches_cosine_topk(spark, sf_smoke):
    """On unit vectors euclidean² = 2 − 2cos: top-k under normalized
    euclidean must match cosine top-k (up to rounding ties at the k
    boundary) — the law ivf_search_cosine_det rides on."""
    from vector_db_spark.operators.knn import knn_self

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    dv = F.col("embedding").cast("array<double>")
    norm = F.sqrt(
        F.aggregate(F.transform(dv, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    nemb = emb.select(
        "vec_id", F.transform(dv, lambda x: (x / norm).cast("float")).alias("embedding")
    )
    eu = knn_self(nemb, 10, n_queries=5, metric="euclidean")
    co = knn_self(emb, 10, n_queries=5, metric="cosine")
    a = {(r.query_id, r.neighbor_id) for r in eu.collect()}
    b = {(r.query_id, r.neighbor_id) for r in co.collect()}
    assert len(a & b) / len(a | b) >= 0.9


def test_interleave_keeps_null_group_rows(spark):
    """A NULL group key (missing domain/language) must keep its rows in
    the interleaved order — plain equality joins drop them silently."""
    from vector_db_spark.operators.packing import interleave_by_group

    rows = [(i, "g" + str(i % 2)) for i in range(10)] + [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    out = interleave_by_group(df, "g").collect()
    assert len(out) == 12
    assert {r.doc_id for r in out if r.g is None} == {100, 101}
    assert len({r.interleave_rank for r in out}) == 12
