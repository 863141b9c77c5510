"""Unit + plan-shape tests for the corpus-curation and hybrid-retrieval
operators (operators/curation.py, operators/hybrid.py).

Value-level correctness against DuckDB is covered by the registered oracle
queries (tests/test_queries_oracle.py); here we pin (a) the hand-checkable
semantics on tiny literal fixtures and (b) the physical-plan properties the
100 TB posture claims (map-only repetition stats, broadcast decontamination
probe).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.test_plans import plan_of
from vector_db_spark.operators.curation import (
    bigram_doc_scores,
    boilerplate_stats,
    decontaminate_ngrams,
    pii_scrub,
    repetition_stats,
)
from vector_db_spark.operators.hybrid import bm25_topk, idf_weights, rrf_fuse


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b a b a b"),            # bigram 'a b' repeats: high top2_frac
        (2, "x y z w q r"),            # all n-grams unique
        (3, "p q r s p q r s"),        # dup trigrams
        (4, "one two three"),
        (5, "contact me at bob@example.com or +1 (555) 123-4567 to join"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_exact(spark, docs):
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}
    # doc 1: tokens a b a b a b → bigrams [ab, ba, ab, ba, ab]: top 'a b'×3 of 5
    assert got[1]["top2_cnt"] == 3 and got[1]["top2_frac"] == round(3 / 5, 6)
    # trigrams: aba, bab, aba, bab → every instance duplicated
    assert got[1]["dup3_frac"] == 1.0
    # doc 2: nothing repeats
    assert got[2]["top2_cnt"] == 1 and got[2]["dup3_cnt"] == 0
    # doc 3: p q r s p q r s → trigram pqr×2, qrs×2, rsp, spq → 4 dup of 6
    assert got[3]["dup3_cnt"] == 4 and got[3]["dup3_frac"] == round(4 / 6, 6)
    # doc 4: fewer tokens than n → zero counts, zero fractions (no NaN/null)
    assert got[4]["dup3_cnt"] == 0 and got[4]["dup3_frac"] == 0.0


def test_repetition_stats_plan_is_map_only(spark, docs):
    """The Gopher metrics never shuffle: no Exchange, no Python eval."""
    plan = plan_of(repetition_stats(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_boilerplate_flags_shared_spans(spark):
    shared = "this span is common boilerplate text"
    rows = [(i, f"{shared} unique{i} tail{i} x{i} y{i}") for i in range(4)]
    rows.append((99, "entirely different words here nothing shared at all"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in boilerplate_stats(docs, n=4, min_df=3).collect()}
    assert all(got[i]["n_boiler"] >= 3 for i in range(4))  # shared 4-grams hit
    assert got[99]["n_boiler"] == 0 and got[99]["boiler_frac"] == 0.0


def test_decontaminate_flags_only_overlapping(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated training document words here"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "quick brown fox jumps elsewhere")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in decontaminate_ngrams(train, test, n=4).collect()}
    assert got[1]["contaminated"] and got[1]["n_hit_shingles"] >= 1
    assert not got[2]["contaminated"] and got[2]["n_hit_shingles"] == 0


def test_decontaminate_multi_attributes_per_suite(spark):
    """One corpus pass, per-suite attribution: doc 1 leaks into suite A
    only, doc 2 into both, doc 3 into neither — and the corpus-side
    shingle stream joins the combined tagged set exactly once (a single
    shingle equi-join in the plan)."""
    from vector_db_spark.operators.curation import decontaminate_ngrams_multi

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "nothing here overlaps with any held out suite"),
        ],
        "doc_id long, text string",
    )
    suites = {
        "qa": spark.createDataFrame(
            [(100, "quick brown fox jumps elsewhere entirely")],
            "doc_id long, text string",
        ),
        "math": spark.createDataFrame(
            [(200, "alpha beta gamma delta epsilon prefix and more")],
            "doc_id long, text string",
        ),
    }
    # doc 2 also shares a 4-gram with qa via a second qa doc
    suites["qa"] = suites["qa"].union(
        spark.createDataFrame(
            [(101, "beta gamma delta epsilon zeta trailer")],
            "doc_id long, text string",
        )
    )
    out = decontaminate_ngrams_multi(train, suites, n=4)
    got = {(r.doc_id, r.suite): r.n_hit_shingles for r in out.collect()}
    assert got[(1, "qa")] >= 1
    assert got[(2, "math")] >= 1 and got[(2, "qa")] >= 1
    assert (1, "math") not in got
    assert not any(d == 3 for d, _ in got)
    # one corpus pass: exactly one join keyed on the shingle (count in
    # the AQE final plan only — the Initial Plan section repeats it)
    import re

    final_plan = plan_of(out).split("== Initial Plan ==")[0]
    joins = re.findall(r"BroadcastHashJoin \[shingle", final_plan)
    assert len(joins) == 1, joins


def test_decontaminate_probe_is_broadcast(spark, sf_smoke):
    """The test-side shingle set broadcasts; the training stream is never
    shuffled for the probe join."""
    from vector_db_spark.io import load_table

    docs = load_table(spark, sf_smoke, "documents")
    df = decontaminate_ngrams(
        docs.filter(F.col("doc_id") % 37 != 0),
        docs.filter(F.col("doc_id") % 37 == 0),
        n=4,
    )
    assert "BroadcastHashJoin" in plan_of(df)


def test_decontaminate_large_routes_match_default(spark, sf_smoke, force_large):
    """Both decontamination routers' un-hinted large branch returns the
    default route's rows."""
    from vector_db_spark.io import load_table
    from vector_db_spark.operators.curation import decontaminate_ngrams_multi

    docs = load_table(spark, sf_smoke, "documents")
    train = docs.filter(F.col("doc_id") % 37 != 0)
    test = docs.filter(F.col("doc_id") % 37 == 0)
    suites = {"a": test, "b": docs.filter(F.col("doc_id") % 41 == 0)}

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = rows(decontaminate_ngrams(train, test, n=4))
    want_multi = rows(decontaminate_ngrams_multi(train, suites, n=4))
    with force_large("curation.decontaminate"):
        got = decontaminate_ngrams(train, test, n=4)
    assert rows(got) == want and any(r[2] for r in want)
    with force_large("curation.decontaminate_multi"):
        got_multi = decontaminate_ngrams_multi(train, suites, n=4)
    assert rows(got_multi) == want_multi and len(want_multi) > 0


def test_pii_scrub_counts_and_redacts(spark, docs):
    got = {r["doc_id"]: r.asDict() for r in pii_scrub(docs).collect()}
    assert got[5]["email_cnt"] == 1
    assert got[5]["phone_cnt"] == 1
    assert got[5]["deny_cnt"] == 1  # 'join'
    assert got[1]["email_cnt"] == got[1]["phone_cnt"] == 0
    # different docs with identical redaction outcome ⇒ same fp; doc5's
    # fingerprint must differ from its raw-md5 (something WAS redacted)
    raw5 = docs.filter("doc_id = 5").select(F.md5(F.lower("text"))).first()[0]
    assert got[5]["redacted_fp"] != raw5


def test_bm25_math_matches_reference_formula(spark):
    docs = spark.createDataFrame(
        [
            (1, "hash hash hash table"),
            (2, "hash join plans"),
            (3, "sort merge join"),
            (4, "no relevant terms"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in bm25_topk(docs, ["hash"], k=10).collect()}
    assert 4 not in got  # zero-score docs excluded
    assert got[1]["kw_rank"] == 1  # tf=3 beats tf=1
    # hand-compute doc 2: tf=1, dl=3, avgdl=(4+3+3+3)/4=3.25, df=2, N=4
    idf = idf_weights(4, [2])[0]
    expect = idf * 1 * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 3 / 3.25))
    assert math.isclose(got[2]["bm25"], round(expect, 6), abs_tol=1e-6)


def test_rrf_fusion_handles_disjoint_lists(spark):
    kw = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, kw_rank int")
    vec = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, vec_rank int")
    got = {r["doc_id"]: r.asDict() for r in rrf_fuse(kw, vec, k=10).collect()}
    assert got[2]["fused_rank"] == 1  # in both lists → highest fused score
    assert got[1]["vec_rank"] == 0 and got[3]["kw_rank"] == 0  # absent → 0
    assert math.isclose(got[2]["rrf_score"], round(1 / 62 + 1 / 61, 6), abs_tol=1e-6)


def test_bigram_lm_hand_checked(spark):
    # corpus: doc1 "a b a", doc2 "a b" → bigrams: (a,b)x2, (b,a)x1
    # V = 2; ctx(a)=2, ctx(b)=1; k=0.5
    # p(b|a) = (2+.5)/(2+1) = 5/6;  p(a|b) = (1+.5)/(1+1) = 3/4
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in bigram_doc_scores(docs).collect()}
    import math

    p_ba, p_ab = 2.5 / 3.0, 1.5 / 2.0
    exp1 = round((-math.log2(p_ba) - math.log2(p_ab)) / 2, 2)
    assert got[1]["n_bigrams"] == 2 and got[1]["bigram_bits"] == exp1
    assert got[2]["n_bigrams"] == 1
    assert got[2]["bigram_bits"] == round(-math.log2(p_ba), 2)


def test_bigram_lm_short_docs_drop_out(spark):
    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two words")], "doc_id long, text string"
    )
    got = bigram_doc_scores(docs).collect()
    assert [r["doc_id"] for r in got] == [3]


def test_late_interaction_self_retrieval_and_shape(spark):
    import numpy as np

    from vector_db_spark.operators.hybrid import late_interaction_topk

    rng = np.random.default_rng(4)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    rows = [
        (int(i // 4), int(i % 4), [float(x) for x in vecs[i]])
        for i in range(40)
    ]  # 10 docs × 4 token-vectors
    dv = spark.createDataFrame(rows, "doc_id long, q_token long, vec array<float>")
    qv = dv.filter("doc_id < 2").withColumnRenamed("doc_id", "query_id")
    got = late_interaction_topk(qv.select("query_id", "q_token", "vec"),
                                dv.select("doc_id", "vec"), 3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows_ in by_q.items():
        assert len(rows_) == 3
        top = min(rows_, key=lambda r: r["rank"])
        assert top["doc_id"] == qid          # own doc wins
        assert abs(top["score"] - 4.0) < 1e-5  # Σ of 4 perfect matches


def test_weighted_sample_favors_heavy_weights(spark):
    from vector_db_spark.operators.curation import weighted_sample

    rows = [(i, 1000.0 if i < 20 else 1.0) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, w double")
    got = {r["doc_id"] for r in weighted_sample(docs, F.col("w"), 20).collect()}
    assert len(got) == 20
    heavy = sum(1 for i in got if i < 20)
    assert heavy >= 15  # 1000:1 weights dominate the draw
    # engine-reproducible: identical under repartition
    got2 = {
        r["doc_id"]
        for r in weighted_sample(docs.repartition(7), F.col("w"), 20).collect()
    }
    assert got == got2


def test_percolate_conjunction_semantics(spark):
    from vector_db_spark.operators.hybrid import percolate

    docs = spark.createDataFrame(
        [
            (1, "the hash join plan"),
            (2, "hash only here"),
            (3, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    stored = spark.createDataFrame(
        [("q1", ["hash", "join"]), ("q2", ["hash"])],
        "query_id string, terms array<string>",
    )
    got = {(r["doc_id"], r["query_id"]) for r in percolate(docs, stored).collect()}
    assert got == {(1, "q1"), (1, "q2"), (2, "q2")}


def test_percolate_routed_vocab_parity(spark, sf_smoke, force_large):
    """A subscription vocabulary on the large branch skips the plan
    literal + driver collect and routes through un-hinted joins — same
    rows either way (the guard added for the wave-14b scaled shape)."""
    from tests.test_plans import plan_of
    from vector_db_spark.io import load_table
    from vector_db_spark.operators.hybrid import percolate
    from vector_db_spark.queries import all_queries

    docs = load_table(spark, sf_smoke, "documents")
    stored = spark.createDataFrame(
        [("q1", ["hash", "join"]), ("q2", ["stream", "window", "batch"])],
        "query_id string, terms array<string>",
    )
    lit_df = percolate(docs, stored)
    with force_large("hybrid.vocab"):
        routed_df = percolate(docs, stored)
    assert "array_intersect" in plan_of(lit_df)
    assert "array_intersect" not in plan_of(routed_df)
    lit = sorted(map(tuple, lit_df.collect()))
    routed = sorted(map(tuple, routed_df.collect()))
    assert lit == routed and len(lit) > 0
    # the scaled registered row derives subscriptions from the corpus and
    # its match volume scales with it: every subscription matches ≥ 1 doc
    scaled = all_queries()["percolate_scaled_subscriptions"](spark, sf_smoke)
    per_q = {r["query_id"]: r["n"] for r in
             scaled.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert len(per_q) == 8 and all(v >= 1 for v in per_q.values())


def test_group_safe_split_no_leakage_and_fractions(spark, sf_smoke):
    from vector_db_spark.io import load_table
    from vector_db_spark.operators.curation import group_safe_split

    docs = load_table(spark, sf_smoke, "documents")
    # force duplicates: union the corpus with itself under new ids
    dup = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    out = group_safe_split(dup, F.md5(F.col("text"))).cache()
    # no group (text) straddles splits
    cross = out.groupBy(F.md5("text")).agg(
        F.countDistinct("split").alias("n")
    ).filter(F.col("n") > 1)
    assert cross.count() == 0
    # fractions approximately honored at group granularity
    fr = {r.split: r.cnt for r in out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    total = sum(fr.values())
    assert 0.7 < fr["train"] / total < 0.9
    assert fr.get("val", 0) > 0 and fr.get("test", 0) > 0
    # layout invariance: same assignment under any partitioning
    a = {(r.doc_id, r.split) for r in out.collect()}
    b = {
        (r.doc_id, r.split)
        for r in group_safe_split(dup.repartition(7), F.md5(F.col("text"))).collect()
    }
    assert a == b


def test_group_safe_split_validates_inputs(spark, sf_smoke):
    import pytest as _pytest

    from vector_db_spark.io import load_table
    from vector_db_spark.operators.curation import group_safe_split

    docs = load_table(spark, sf_smoke, "documents")
    with _pytest.raises(ValueError, match="align"):
        group_safe_split(docs, "doc_id", fractions=(0.5, 0.5), labels=("a",))
    with _pytest.raises(ValueError, match="sum"):
        group_safe_split(docs, "doc_id", fractions=(0.5, 0.2), labels=("a", "b"))


def test_weighted_fixed_k_sample_laws(spark):
    """A-ES draw: exact k, zero-weight rows excluded, layout-invariant,
    and weight-monotone in aggregate (heavier ids win far more often
    across independent salts)."""
    from vector_db_spark.operators.curation import weighted_fixed_k_sample

    rows = [(i, 10.0 if i < 20 else 0.1) for i in range(200)] + [(999, 0.0)]
    docs = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_fixed_k_sample(docs, "w", 30).collect()
    assert len(out) == 30 and all(r.doc_id != 999 for r in out)
    # identical draw from a different physical layout
    out2 = weighted_fixed_k_sample(docs.repartition(7, "doc_id"), "w", 30).collect()
    assert {r.doc_id for r in out} == {r.doc_id for r in out2}
    # heavy ids (weight 100x) must dominate the draw on average over salts
    heavy_frac = 0.0
    for salt in ("a", "b", "c", "d", "e"):
        got = weighted_fixed_k_sample(docs, "w", 30, salt=salt).collect()
        heavy_frac += sum(1 for r in got if r.doc_id < 20) / 30 / 5
    # 20 heavy ids out of 200; uniform would pick ~10%; weight 100x ⇒ most
    assert heavy_frac > 0.4
    # k >= n returns every positive-weight row
    assert weighted_fixed_k_sample(docs, "w", 1000).count() == 200


def test_greedy_max_coverage_matches_reference(spark):
    """Exact agreement with single-node greedy (gain desc, id asc ties)
    on random set families, including the zero-gain early stop."""
    import random

    from vector_db_spark.operators.selection import greedy_max_coverage

    rng = random.Random(21)
    sets = {i: frozenset(rng.sample(range(40), rng.randint(1, 12))) for i in range(25)}
    inc = spark.createDataFrame(
        [(i, g) for i, s in sets.items() for g in s], "doc_id long, g int"
    )
    k = 6
    got = greedy_max_coverage(inc, k)

    covered: set = set()
    chosen: set = set()
    want = []
    for rank in range(1, k + 1):
        best = max(
            ((len(s - covered), -i) for i, s in sets.items() if i not in chosen),
        )
        gain, i = best[0], -best[1]
        if gain == 0:
            break
        want.append((rank, i, gain))
        covered |= sets[i]
        chosen.add(i)
    assert got == want


def test_greedy_max_coverage_stops_when_exhausted(spark):
    from vector_db_spark.operators.selection import greedy_max_coverage

    inc = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")], "doc_id long, g string"
    )
    picks = greedy_max_coverage(inc, 3)
    assert picks == [(1, 1, 2)]  # doc 2 adds nothing; no zero-gain pick


def _sg_reference(sets, k, eps, salt):
    """Single-node replay of stochastic-greedy: md5 hash-bucket sample
    per round, in-sample argmax (gain desc, id asc), zero-gain rounds
    skipped."""
    from vector_db_spark.operators.selection import (
        _id_bucket,
        sample_bucket_count,
    )

    n_buckets = sample_bucket_count(len(sets), k, eps)
    covered: set = set()
    chosen: set = set()
    want = []
    for rnd in range(1, k + 1):
        cands = [
            i
            for i in sets
            if i not in chosen and _id_bucket(i, salt, n_buckets) == (rnd - 1) % n_buckets
        ]
        scored = [(len(sets[i] - covered), -i) for i in cands]
        if not scored or max(scored)[0] == 0:
            continue
        gain, neg_i = max(scored)
        i = -neg_i
        want.append((rnd, i, gain))
        covered |= sets[i]
        chosen.add(i)
    return want, covered


def test_stochastic_greedy_matches_reference(spark):
    """Exact decision-for-decision agreement with the single-node replay
    (md5 sample per round, in-sample argmax) on random set families."""
    import random

    from vector_db_spark.operators.selection import stochastic_greedy_max_coverage

    rng = random.Random(33)
    sets = {i: frozenset(rng.sample(range(60), rng.randint(1, 15))) for i in range(40)}
    inc = spark.createDataFrame(
        [(i, g) for i, s in sets.items() for g in s], "doc_id long, g int"
    )
    for eps, salt in ((0.1, "sg-v1"), (0.25, "alt-salt")):
        got = stochastic_greedy_max_coverage(inc, 6, eps=eps, salt=salt)
        want, _ = _sg_reference(sets, 6, eps, salt)
        assert got == want


def test_stochastic_greedy_coverage_bound_on_planted_family(spark):
    """On a planted family (5 disjoint 30-element stars + 45 small
    overlapping sets) the stochastic picks' total coverage meets the
    Mirzasoleiman 1−1/e−ε bound vs the exact greedy's coverage."""
    import math

    from vector_db_spark.operators.selection import (
        greedy_max_coverage,
        stochastic_greedy_max_coverage,
    )

    k, eps = 5, 0.1
    sets = {i: frozenset(range(i * 30, (i + 1) * 30)) for i in range(k)}
    for i in range(k, 50):
        sets[i] = frozenset((i % 7, 1000 + i % 5, 2000 + i % 3))
    inc = spark.createDataFrame(
        [(i, g) for i, s in sets.items() for g in s], "doc_id long, g int"
    )
    exact_cov = sum(p[2] for p in greedy_max_coverage(inc, k))
    stoch = stochastic_greedy_max_coverage(inc, k, eps=eps)
    stoch_cov = sum(p[2] for p in stoch)
    assert stoch_cov >= (1 - 1 / math.e - eps) * exact_cov
    # marginal gains recompute exactly from the pick sequence
    covered: set = set()
    for _, i, gain in stoch:
        assert gain == len(sets[i] - covered)
        covered |= sets[i]


def test_stochastic_greedy_zero_gain_round_skipped(spark):
    """A round whose whole sample is already covered makes no pick but
    later rounds (fresh sample) still can."""
    from vector_db_spark.operators.selection import stochastic_greedy_max_coverage

    inc = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "c")], "doc_id long, g string"
    )
    picks = stochastic_greedy_max_coverage(inc, 3, eps=0.5)
    picked = {p[1] for p in picks}
    # docs 1 and 2 are duplicates ({a,b}); exactly one of them plus doc 3
    # ({c}) is picked — which duplicate wins depends on bucket order
    assert 3 in picked and len(picked & {1, 2}) == 1
    assert sum(p[2] for p in picks) == 3


def test_stochastic_greedy_materialized_matches_cached(spark, tmp_path):
    """materialize_dir writes the incidence partitionBy(__b) and rounds
    read it with file-level partition pruning — the decision sequence is
    bit-identical to the cached mode (same md5 bucket function, same
    arithmetic), and the per-round scan shows PartitionFilters."""
    import pyspark.sql.functions as F
    from vector_db_spark.io import load_table
    from vector_db_spark.functions.text import shingles, tokens
    from vector_db_spark.operators.selection import (
        sample_bucket_count,
        stochastic_greedy_max_coverage,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    inc = docs.select("doc_id", F.explode(shingles(tokens("text"), 3)).alias("g"))
    cached = stochastic_greedy_max_coverage(inc, 5, eps=0.1)
    disk = stochastic_greedy_max_coverage(
        inc, 5, eps=0.1, materialize_dir=str(tmp_path / "inc")
    )
    assert disk == cached
    # the bucket predicate reaches the scan as a partition filter
    back = spark.read.parquet(str(tmp_path / "inc"))
    plan = (
        back.filter(F.col("__b") == 0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "__b" in plan.split("PartitionFilters")[1][:80]


def test_stochastic_sample_size_rejects_eps_underflow():
    import pytest

    from vector_db_spark.operators.selection import stochastic_sample_size

    with pytest.raises(ValueError, match="too close to 1"):
        stochastic_sample_size(1000, 10, 0.9999999999)
    assert stochastic_sample_size(1000, 10, 0.1) > 0
