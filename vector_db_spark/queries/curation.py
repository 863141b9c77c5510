"""Corpus-curation + hybrid-retrieval queries: within-doc repetition,
boilerplate detection, train/test
decontamination, PII scrubbing, mixture resampling, unigram-LM scoring,
BM25+vector hybrid search, and radius (range) vector search.

Every query here is oracle-checked end-to-end: the n-gram, regex, md5,
BM25 and distance math is restricted to the Spark ∩ DuckDB deterministic
intersection (see operators/curation.py and operators/hybrid.py for the
scale posture of each plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.curation import (
    EMAIL_RE,
    PHONE_RE,
    bigram_doc_scores,
    boilerplate_stats,
    decontaminate_ngrams,
    pii_scrub,
    repetition_stats,
)
from vector_db_spark.operators.hybrid import bm25_topk, cosine_topk, rrf_fuse
from vector_db_spark.queries import register

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

# shared quality-score SQL (one definition — see queries/text.py)
from vector_db_spark.queries.text import _QUALITY_SQL  # noqa: E402  isort: skip


def _grams_sql(n: int, src: str = "documents", distinct: bool = False) -> str:
    """DuckDB word-n-gram stream ``(doc_id, g)`` — mirrors
    functions.text.shingles (space-joined windows of the token split)."""
    d = "DISTINCT " if distinct else ""
    return f"""
  SELECT {d}doc_id, array_to_string(list_slice(t, i + 1, i + {n}), ' ') AS g
  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - {n - 1}, 0))) AS i
        FROM (SELECT doc_id, {_TOKS} AS t FROM {src}))
"""


# --- within-doc repetition ---------------------------------------------------

@register(
    "doc_repetition",
    extra=True,
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
c2 AS (SELECT doc_id, max(c) AS top2_cnt, sum(c) AS n2
       FROM (SELECT doc_id, g, count(*) AS c FROM ({_grams_sql(2)}) GROUP BY 1, 2)
       GROUP BY 1),
c3 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3_cnt, sum(c) AS n3
       FROM (SELECT doc_id, g, count(*) AS c FROM ({_grams_sql(3)}) GROUP BY 1, 2)
       GROUP BY 1)
SELECT t.doc_id, len(t.t)::BIGINT AS n_tokens,
       COALESCE(c2.top2_cnt, 0)::BIGINT AS top2_cnt,
       COALESCE(round(c2.top2_cnt / c2.n2, 6), 0.0) AS top2_frac,
       COALESCE(c3.dup3_cnt, 0)::BIGINT AS dup3_cnt,
       COALESCE(round(c3.dup3_cnt / c3.n3, 6), 0.0) AS dup3_frac
FROM t LEFT JOIN c2 ON t.doc_id = c2.doc_id LEFT JOIN c3 ON t.doc_id = c3.doc_id
""",
)
def doc_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics — zero-shuffle map-only plan (the
    oracle computes the same values the heavyweight explode+groupBy way)."""
    return repetition_stats(load_table(spark, sf_dir, "documents"))


# --- cross-doc boilerplate ---------------------------------------------------

_BP_MIN_DF = 3

@register(
    "boilerplate_frac",
    extra=True,
    oracle=f"""
WITH sh AS ({_grams_sql(4, distinct=True)}),
df AS (SELECT g, count(*) AS df FROM sh GROUP BY g)
SELECT doc_id, count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN df >= {_BP_MIN_DF} THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
       round(sum(CASE WHEN df >= {_BP_MIN_DF} THEN 1 ELSE 0 END) / count(*), 6)
         AS boiler_frac
FROM sh JOIN df USING (g) GROUP BY doc_id
""",
)
def boilerplate_frac_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_stats(
        load_table(spark, sf_dir, "documents"), n=4, min_df=_BP_MIN_DF
    )


# --- train/test decontamination ----------------------------------------------

_TEST_MOD = 37  # doc_id % 37 == 0 → the held-out "benchmark" slice

@register(
    "decontaminate_ngrams",
    oracle=f"""
WITH sh AS (SELECT doc_id, g FROM ({_grams_sql(4, distinct=True)})
            WHERE doc_id % {_TEST_MOD} <> 0),
tsh AS (SELECT DISTINCT g FROM ({_grams_sql(4, distinct=True)})
        WHERE doc_id % {_TEST_MOD} = 0),
hits AS (SELECT doc_id, count(*) AS n FROM sh JOIN tsh USING (g) GROUP BY doc_id)
SELECT d.doc_id, COALESCE(h.n, 0)::BIGINT AS n_hit_shingles,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {_TEST_MOD} <> 0) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
""",
)
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-gram-overlap decontamination of the corpus against its own
    ``doc_id % 37 == 0`` slice standing in for a benchmark suite."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_ngrams(
        docs.filter(F.col("doc_id") % _TEST_MOD != 0),
        docs.filter(F.col("doc_id") % _TEST_MOD == 0),
        n=4,
    )


# second held-out slice for the multi-suite form; coprime with _TEST_MOD
# so the two "benchmarks" overlap on doc_id % (37*41) == 0 only
_TEST_MOD_B = 41

@register(
    "decontaminate_ngrams_multi",
    extra=True,
    oracle=f"""
WITH sh AS (SELECT doc_id, g FROM ({_grams_sql(4, distinct=True)})
            WHERE doc_id % {_TEST_MOD} <> 0 AND doc_id % {_TEST_MOD_B} <> 0),
tagged AS (
  SELECT 'suite_a' AS suite, g FROM ({_grams_sql(4, distinct=True)})
  WHERE doc_id % {_TEST_MOD} = 0
  UNION
  SELECT 'suite_b' AS suite, g FROM ({_grams_sql(4, distinct=True)})
  WHERE doc_id % {_TEST_MOD_B} = 0
)
SELECT sh.doc_id, t.suite, count(*)::BIGINT AS n_hit_shingles
FROM sh JOIN tagged t USING (g)
GROUP BY sh.doc_id, t.suite
""",
)
def decontaminate_multi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-suite decontamination in one corpus pass: the ``% 37`` and
    ``% 41`` slices stand in for two benchmark suites; the corpus (docs
    in neither) is shingled once and joined once against the combined
    suite-tagged shingle set (operators/curation.py
    decontaminate_ngrams_multi)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(
        (F.col("doc_id") % _TEST_MOD != 0) & (F.col("doc_id") % _TEST_MOD_B != 0)
    )
    from vector_db_spark.operators.curation import decontaminate_ngrams_multi

    return decontaminate_ngrams_multi(
        train,
        {
            "suite_a": docs.filter(F.col("doc_id") % _TEST_MOD == 0),
            "suite_b": docs.filter(F.col("doc_id") % _TEST_MOD_B == 0),
        },
        n=4,
    )


# the exact form prices corpus×|benchmark| cosine evaluations before any
# scoring (measured ~1.4M cosines/s/core at dim 64, so this
# budget caps the exact path at ~35 s of single-core work — the blocked
# twin takes over past it). sf0.1 bills ~107 k pairs, sf0.01 ~6.8 k.
_EDECON_PAIR_BUDGET = 50_000_000

@register(
    "embedding_decontaminate",
    oracle=f"""
WITH b AS (SELECT embedding FROM embeddings WHERE vec_id % {_TEST_MOD} = 0),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % {_TEST_MOD} <> 0),
aud AS (SELECT (SELECT count(*) FROM c) * (SELECT count(*) FROM b) AS pair_bill),
s AS (
  SELECT c.vec_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS s
  FROM c CROSS JOIN b)
SELECT vec_id, max(s) AS max_benchmark_sim,
       max(s) >= 0.9 AS contaminated,
       aud.pair_bill::BIGINT AS pair_bill,
       (aud.pair_bill <= {_EDECON_PAIR_BUDGET}) AS within_budget
FROM s CROSS JOIN aud
GROUP BY vec_id, aud.pair_bill
""",
)
def embedding_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (operators/dedup.py embedding_decontaminate):
    the ``vec_id % 37 == 0`` slice stands in for a benchmark suite; every
    remaining corpus vector reports its max cosine to the suite and a
    ≥ 0.9 contamination flag — the paraphrase-leakage cut n-gram overlap
    (``decontaminate_ngrams``) misses. Broadcast-exact: the benchmark side
    is small by nature, the corpus never shuffles.

    Preflight-then-score (the triangles template,
    queries/relational.py part_cooccurrence_triangles): the corpus×|B|
    cosine bill is counted BEFORE any scoring and passed to the operator
    as ``pair_budget`` — an over-budget call raises naming the bill and
    the blocked alternative (measured: 763 s when the suite scales with
    the corpus vs 6.1 s blocked), never an hours-long
    surprise. The audit facts ride the result rows (``pair_bill``,
    ``within_budget``) so the oracle checks the preflight arithmetic,
    not just the verdicts."""
    from vector_db_spark.operators.dedup import embedding_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % _TEST_MOD != 0)
    benchmark = emb.filter(F.col("vec_id") % _TEST_MOD == 0)
    nc, nb = corpus.count(), benchmark.count()
    out = embedding_decontaminate(
        corpus,
        benchmark,
        threshold=0.9,
        pair_budget=_EDECON_PAIR_BUDGET,
        corpus_count=nc,
        benchmark_count=nb,
    )
    return out.select(
        "vec_id",
        "max_benchmark_sim",
        "contaminated",
        F.lit(nc * nb).cast("long").alias("pair_bill"),
        F.lit(nc * nb <= _EDECON_PAIR_BUDGET).alias("within_budget"),
    )


@register(
    "embedding_decontaminate_multi",
    extra=True,
    oracle=f"""
WITH c AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % {_TEST_MOD} <> 0 AND vec_id % {_TEST_MOD_B} <> 0),
b AS (
  SELECT 'suite_a' AS suite, embedding FROM embeddings WHERE vec_id % {_TEST_MOD} = 0
  UNION ALL
  SELECT 'suite_b' AS suite, embedding FROM embeddings WHERE vec_id % {_TEST_MOD_B} = 0
),
aud AS (SELECT (SELECT count(*) FROM c) * (SELECT count(*) FROM b) AS pair_bill),
s AS (
  SELECT c.vec_id, b.suite,
         round(list_cosine_similarity(c.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS s
  FROM c CROSS JOIN b)
SELECT vec_id, suite, max(s) AS max_benchmark_sim,
       max(s) >= 0.9 AS contaminated,
       aud.pair_bill::BIGINT AS pair_bill,
       (aud.pair_bill <= {_EDECON_PAIR_BUDGET}) AS within_budget
FROM s CROSS JOIN aud
GROUP BY vec_id, suite, aud.pair_bill
""",
)
def embedding_decontaminate_multi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-suite semantic decontamination (operators/dedup.py
    embedding_decontaminate_multi): the ``% 37`` and ``% 41`` embedding
    slices stand in for two benchmark suites; every corpus vector (in
    neither) reports its per-suite max cosine and contamination flag
    from ONE broadcast cross-score over the tagged suite union — the
    single-suite plan with a second grouping key. Carries the same
    preflight audit facts as ``embedding_decontaminate`` (``pair_bill``
    is corpus × Σ|suite|, checked in the oracle's own arithmetic)."""
    from vector_db_spark.operators.dedup import embedding_decontaminate_multi

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(
        (F.col("vec_id") % _TEST_MOD != 0) & (F.col("vec_id") % _TEST_MOD_B != 0)
    )
    suites = {
        "suite_a": emb.filter(F.col("vec_id") % _TEST_MOD == 0),
        "suite_b": emb.filter(F.col("vec_id") % _TEST_MOD_B == 0),
    }
    nc = corpus.count()
    counts = {k: v.count() for k, v in suites.items()}
    out = embedding_decontaminate_multi(
        corpus,
        suites,
        threshold=0.9,
        pair_budget=_EDECON_PAIR_BUDGET,
        corpus_count=nc,
        suite_counts=counts,
    )
    bill = nc * sum(counts.values())
    return out.select(
        "vec_id",
        "suite",
        "max_benchmark_sim",
        "contaminated",
        F.lit(bill).cast("long").alias("pair_bill"),
        F.lit(bill <= _EDECON_PAIR_BUDGET).alias("within_budget"),
    )


# --- PII / denylist scrubbing ------------------------------------------------

_DENY = ("hash", "join", "merge")
_DENY_RE = r"\b(" + "|".join(_DENY) + r")\b"
_REPL = "[REDACTED]"

@register(
    "pii_scrub",
    oracle=f"""
SELECT doc_id,
  len(regexp_extract_all(lower(text), '{EMAIL_RE}'))::BIGINT AS email_cnt,
  len(regexp_extract_all(lower(text), '{PHONE_RE}'))::BIGINT AS phone_cnt,
  len(regexp_extract_all(lower(text), '{_DENY_RE}'))::BIGINT AS deny_cnt,
  md5(regexp_replace(regexp_replace(regexp_replace(lower(text),
      '{EMAIL_RE}', '{_REPL}', 'g'),
      '{PHONE_RE}', '{_REPL}', 'g'),
      '{_DENY_RE}', '{_REPL}', 'g')) AS redacted_fp
FROM documents
""",
)
def pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scrub(load_table(spark, sf_dir, "documents"), denylist=_DENY)


# --- bigram-LM scoring --------------------------------------------------------


@register(
    "bigram_lm_score",
    extra=True,
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
big AS (
  SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2),
bg AS (SELECT prev, cur, count(*) AS c FROM big GROUP BY prev, cur),
ctx AS (SELECT prev, sum(c) AS cc FROM bg GROUP BY prev),
v AS (SELECT count(DISTINCT tok) AS vs
      FROM (SELECT unnest(t) AS tok FROM toks))
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(-log2((c + 0.5) / (cc + 0.5 * vs))), 2) AS bigram_bits
FROM big JOIN bg USING (prev, cur) JOIN ctx USING (prev) CROSS JOIN v
GROUP BY doc_id
""",
)
def bigram_lm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_doc_scores(load_table(spark, sf_dir, "documents"))


# --- hybrid search (BM25 + cosine, RRF-fused) --------------------------------

_HY_TERMS = ["hash", "vector", "stream"]
_HY_QVEC = 7  # query = embedding of vec_id 7
_HY_K1, _HY_B = 1.2, 0.75
_HY_TOPK, _HY_FUSED_K = 20, 10

def _bm25_sql() -> str:
    tf_cols = ",\n        ".join(
        f"len(list_filter(t, x -> x = '{t}'))::DOUBLE AS tf_{i}"
        for i, t in enumerate(_HY_TERMS)
    )
    df_cols = ",\n    ".join(
        f"sum(CASE WHEN list_contains(t, '{t}') THEN 1 ELSE 0 END)::DOUBLE AS df_{i}"
        for i, t in enumerate(_HY_TERMS)
    )
    parts = " + ".join(
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0) * tf_{i} * {_HY_K1 + 1}"
        f" / (tf_{i} + {_HY_K1} * (1 - {_HY_B} + {_HY_B} * dl / avgdl))"
        for i in range(len(_HY_TERMS))
    )
    return f"""
corpus AS (
  SELECT d.doc_id, {_TOKS.replace('text', 'd.text')} AS t, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(len(t)) AS avgdl,
    {df_cols}
  FROM corpus),
scored AS (
  SELECT doc_id, round({parts}, 6) AS bm25
  FROM (SELECT doc_id, len(t)::DOUBLE AS dl,
        {tf_cols}
        FROM corpus) CROSS JOIN stats),
kw AS (SELECT doc_id, bm25,
              row_number() OVER (ORDER BY bm25 DESC, doc_id) AS kw_rank
       FROM scored WHERE bm25 > 0 QUALIFY kw_rank <= {_HY_TOPK}),
qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = {_HY_QVEC}),
vr AS (SELECT doc_id, cos_dist,
              row_number() OVER (ORDER BY cos_dist, doc_id) AS vec_rank
       FROM (SELECT c.doc_id,
                    round(1.0 - list_cosine_similarity(c.embedding::DOUBLE[], qv.q), 6)
                      AS cos_dist
             FROM corpus c CROSS JOIN qv)
       QUALIFY vec_rank <= {_HY_TOPK})
"""


@register(
    "hybrid_search",
    oracle=f"""
WITH {_bm25_sql()}
SELECT doc_id, kw_rank, vec_rank, rrf_score,
       row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS fused_rank
FROM (
  SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
         COALESCE(k.kw_rank, 0) AS kw_rank,
         COALESCE(v.vec_rank, 0) AS vec_rank,
         round(COALESCE(1.0 / (60 + k.kw_rank), 0) + COALESCE(1.0 / (60 + v.vec_rank), 0), 6)
           AS rrf_score
  FROM kw k FULL OUTER JOIN vr v ON k.doc_id = v.doc_id)
QUALIFY fused_rank <= {_HY_FUSED_K}
""",
)
def hybrid_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword top-20 + cosine top-20 over documents⋈embeddings,
    RRF-fused to a final top-10 — the full hybrid-retrieval serving plan
    as one declarative query (see operators/hybrid.py for why neither
    side shuffles the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    kw = bm25_topk(corpus, _HY_TERMS, k=_HY_TOPK, k1=_HY_K1, b=_HY_B)
    qv = emb.filter(F.col("vec_id") == _HY_QVEC)
    vec = cosine_topk(corpus, qv, k=_HY_TOPK)
    fused = rrf_fuse(kw, vec, k=_HY_FUSED_K)
    return fused.select(
        "doc_id",
        "kw_rank",
        "vec_rank",
        "rrf_score",
        F.col("fused_rank").cast("long").alias("fused_rank"),
    )


# --- ML quality/language classifier audit -------------------------------------

_MLQ_ACC_FLOOR = 0.8
_MLQ_AUC_FLOOR = 0.85


@register(
    "doc_classifier_audit",
    extra=True,
    oracle=f"""
WITH split AS (
  SELECT doc_id,
         ((strpos('0123456789abcdef', substring(md5(doc_id::VARCHAR || ':mlq'), 1, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substring(md5(doc_id::VARCHAR || ':mlq'), 2, 1)) - 1))
         < {int(0.2 * 256)} AS is_test
  FROM documents)
SELECT (SELECT count(*) FROM split WHERE NOT is_test)::BIGINT AS n_train,
       (SELECT count(*) FROM split WHERE is_test)::BIGINT AS n_test,
       true AS train_acc_ok, true AS test_acc_ok, true AS auc_ok
""",
)
def doc_classifier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quality-filter audit (operators/mlquality.py): pyspark.ml
    LogisticRegression over native token-shape features, content-hash
    train/test split. The fixture corpus is synthetic (its ``lang``/
    ``source`` columns are uncorrelated with the text), so the audited
    label is the one genuinely learnable proxy it offers — long-document
    class (``n_chars >= 300``), learned from token statistics with the raw
    length deliberately absent from the features. The oracle reproduces
    the split counts exactly (md5 membership is engine-independent); the
    learned metrics travel as floored booleans (coefficients vary in the
    last float bits with partition layout, accuracy/AUC floors do not).
    tests/test_mlquality.py additionally trains on a planted bilingual
    corpus where language IS text-derived and pins near-perfect AUC."""
    from vector_db_spark.operators.mlquality import train_doc_classifier

    docs = load_table(spark, sf_dir, "documents")
    a = train_doc_classifier(docs, F.col("n_chars") >= 300)
    return spark.createDataFrame(
        [
            (
                a.n_train,
                a.n_test,
                a.train_acc >= _MLQ_ACC_FLOOR,
                a.test_acc >= _MLQ_ACC_FLOOR,
                a.test_auc >= _MLQ_AUC_FLOOR,
            )
        ],
        "n_train long, n_test long, train_acc_ok boolean, "
        "test_acc_ok boolean, auc_ok boolean",
    )


# --- weighted sampling (A-Res) ------------------------------------------------

_WS_N = 50


def _nib15(expr: str) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substring({expr}, {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    )


@register(
    "weighted_sample_quality",
    extra=True,
    oracle=f"""
WITH k AS (
  SELECT doc_id, n_chars,
         round(pow(({_nib15("md5(doc_id::VARCHAR || ':wsample')")} + 1.0)
                   / {float(16**15 + 1)},
                   1.0 / n_chars), 6) AS akey
  FROM documents)
SELECT doc_id, n_chars::BIGINT AS n_chars
FROM k ORDER BY akey DESC, doc_id LIMIT {_WS_N}
""",
)
def weighted_sample_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sample without replacement
    (operators/curation.py weighted_sample), weights = document length:
    md5-derived uniforms make the drawn sample engine-reproducible, so
    the oracle re-derives the IDENTICAL 50 documents."""
    from vector_db_spark.operators.curation import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, F.col("n_chars"), _WS_N).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )


# --- leakage-safe dataset splitting -------------------------------------------


@register(
    "leakage_safe_split",
    extra=True,
    oracle="""
SELECT doc_id,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
         AS split
FROM (SELECT doc_id,
             mod(('0x' || substr(md5(md5(text) || ':split'), 1, 15))::UBIGINT::BIGINT,
                 100) AS b
      FROM documents)
""",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment by exact-duplicate GROUP
    (operators/curation.group_safe_split, group key = md5(text)):
    duplicated content can never straddle the split boundary, killing the
    train→eval contamination that row-i.i.d. splitting bakes in. Pure
    map-side md5 bucketing — the full per-doc assignment is re-derived
    exactly by the oracle."""
    from vector_db_spark.operators.curation import group_safe_split

    docs = load_table(spark, sf_dir, "documents")
    return group_safe_split(docs, F.md5(F.col("text"))).select("doc_id", "split")


# --- persisted inverted index (BM25 serving without corpus rescans) -----------

_INV_CACHE: dict[str, object] = {}


def _inverted_index(spark: SparkSession, sf_dir: str):
    """One index build per (process, sf_dir) — deployment shape is build
    once, serve many; bench.py times the build as its own entry."""
    import tempfile

    from vector_db_spark.operators.inverted import InvertedIndex

    if sf_dir not in _INV_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        path = tempfile.mkdtemp(prefix="inv_") + "/index"
        import os as _os

        _os.makedirs(path, exist_ok=True)
        _INV_CACHE[sf_dir] = InvertedIndex.build(spark, docs, path, n_buckets=64)
    return _INV_CACHE[sf_dir]


def _inv_bm25_sql() -> str:
    tf_cols = ",\n        ".join(
        f"len(list_filter(t, x -> x = '{t}'))::DOUBLE AS tf_{i}"
        for i, t in enumerate(_HY_TERMS)
    )
    df_cols = ",\n    ".join(
        f"sum(CASE WHEN list_contains(t, '{t}') THEN 1 ELSE 0 END)::DOUBLE AS df_{i}"
        for i, t in enumerate(_HY_TERMS)
    )
    parts = " + ".join(
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0) * tf_{i} * {_HY_K1 + 1}"
        f" / (tf_{i} + {_HY_K1} * (1 - {_HY_B} + {_HY_B} * dl / avgdl))"
        for i in range(len(_HY_TERMS))
    )
    return f"""
corpus AS (SELECT doc_id, {_TOKS} AS t FROM documents),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(len(t)) AS avgdl,
    {df_cols}
  FROM corpus),
scored AS (
  SELECT doc_id, round({parts}, 6) AS bm25
  FROM (SELECT doc_id, len(t)::DOUBLE AS dl,
        {tf_cols}
        FROM corpus) CROSS JOIN stats)
SELECT doc_id, bm25, kw_rank FROM (
  SELECT doc_id, bm25,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS kw_rank
  FROM scored WHERE bm25 > 0)
WHERE kw_rank <= 20
"""


@register(
    "inverted_bm25_search",
    extra=True,
    oracle=f"WITH {_inv_bm25_sql()}",
)
def inverted_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 served from the PERSISTED inverted index
    (operators/inverted.py): the query reads only its terms' posting
    buckets (plan shows PartitionFilters on the bucket key + a pushed tok
    filter) — cost O(posting-list lengths), independent of corpus row
    count. The oracle re-derives the identical ranking from a full
    corpus scan, proving index-vs-scan equivalence; tests additionally
    pin row-exact parity with hybrid.bm25_topk."""
    idx = _inverted_index(spark, sf_dir)
    return idx.bm25_search(_HY_TERMS, k=20, k1=_HY_K1, b=_HY_B).select(
        "doc_id", "bm25", F.col("kw_rank").cast("int").alias("kw_rank")
    )


# --- percolation (stored-query alerting) --------------------------------------

_PERC_QUERIES = [
    ("q_hash_join", ["hash", "join"]),
    ("q_stream3", ["stream", "window", "batch"]),
    ("q_sort", ["sort"]),
    ("q_missing", ["zzzznope"]),
]
_PERC_VALUES = ", ".join(
    f"('{q}', '{t}')" for q, terms in _PERC_QUERIES for t in terms
)
_PERC_ARITY = ", ".join(f"('{q}', {len(terms)})" for q, terms in _PERC_QUERIES)


@register(
    "percolate_alerts",
    extra=True,
    oracle=f"""
WITH dt AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents),
qt AS (SELECT * FROM (VALUES {_PERC_VALUES}) v(query_id, tok)),
ar AS (SELECT * FROM (VALUES {_PERC_ARITY}) v(query_id, need)),
hits AS (SELECT dt.doc_id, qt.query_id, count(*) AS got
         FROM dt JOIN qt USING (tok) GROUP BY 1, 2)
SELECT h.doc_id, h.query_id
FROM hits h JOIN ar USING (query_id) WHERE h.got = ar.need
""",
)
def percolate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation (operators/hybrid.py percolate): four stored
    conjunctive term subscriptions matched against every document —
    search inverted, value-checked."""
    from vector_db_spark.operators.hybrid import percolate

    docs = load_table(spark, sf_dir, "documents")
    stored = spark.createDataFrame(
        _PERC_QUERIES, "query_id string, terms array<string>"
    )
    return percolate(docs, stored)


# subscriptions per corpus: one two-term conjunction per 64 docs (floor 8),
# built from the corpus's top document-frequency tokens — deterministic,
# oracle-replayable, and the match volume genuinely scales with the corpus
_PERC_SCALE_DOCS_PER_SUB = 64
_PERC_SCALE_MIN_SUBS = 8


@register(
    "percolate_scaled_subscriptions",
    oracle=f"""
WITH dt AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents),
nd AS (SELECT greatest({_PERC_SCALE_MIN_SUBS},
                       count(*) // {_PERC_SCALE_DOCS_PER_SUB}) AS n_subs
       FROM documents),
dfreq AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
rk AS (SELECT tok, row_number() OVER (ORDER BY df DESC, tok ASC) AS rn
       FROM dfreq),
subs AS (SELECT 'q' || CAST((rn - 1) // 2 AS VARCHAR) AS query_id, tok
         FROM rk CROSS JOIN nd WHERE rn <= 2 * nd.n_subs),
ar AS (SELECT query_id, count(*) AS need FROM subs GROUP BY query_id),
hits AS (SELECT dt.doc_id, s.query_id, count(*) AS got
         FROM dt JOIN subs s USING (tok) GROUP BY 1, 2)
SELECT h.doc_id, h.query_id
FROM hits h JOIN ar USING (query_id) WHERE h.got = ar.need
""",
)
def percolate_scaled_subscriptions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation whose SUBSCRIPTION side scales with the corpus (the
    true matching-volume curve as a registered, oracled row): one two-term
    conjunctive subscription per 64 corpus documents (floor 8), built
    from the corpus's own top document-frequency tokens (rank 2i, 2i+1
    pair up; ties broken by token), so both the stored-query table AND
    the match volume grow ×k when the corpus grows ×k — the multi-tenant
    alerting deployment shape. The subscription derivation is pure
    DataFrame ops (df-rank → TakeOrdered cut → pair-up), and
    ``percolate``'s size-routed vocabulary picks the physical plan:
    literal map-side intersect at this geometry, un-hinted joins once a
    blown-up corpus pushes the derived vocabulary past the literal
    threshold (measured: ×100 corpus ⇒ ×100 subscriptions ⇒ exactly ×100
    matches at 3.1× wall, routed plan)."""
    from pyspark.sql import Window

    from vector_db_spark.functions.text import tokens
    from vector_db_spark.operators.hybrid import percolate

    docs = load_table(spark, sf_dir, "documents")
    n_subs = max(
        _PERC_SCALE_MIN_SUBS, docs.count() // _PERC_SCALE_DOCS_PER_SUB
    )
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    # top-2n df cut via orderBy+limit (TakeOrdered — no global window over
    # the full vocabulary); the rank window then runs over 2n rows only
    top = (
        dt.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(2 * n_subs)
    )
    rk = top.select(
        "tok",
        F.row_number()
        .over(Window.orderBy(F.desc("df"), F.asc("tok")))
        .alias("rn"),
    )
    stored = (
        rk.groupBy(((F.col("rn") - 1) / 2).cast("long").alias("__qi"))
        .agg(F.collect_list("tok").alias("terms"))
        .select(
            F.concat(F.lit("q"), F.col("__qi").cast("string")).alias("query_id"),
            "terms",
        )
    )
    return percolate(docs, stored)


# --- key-skew profiling + adaptive quality cut --------------------------------

@register(
    "event_key_skew",
    oracle="""
WITH c AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
s AS (SELECT count(*)::BIGINT AS n_keys, sum(cnt)::BIGINT AS total_rows,
             max(cnt)::BIGINT AS max_cnt
      FROM c)
SELECT n_keys, total_rows, max_cnt,
       (SELECT max(k) FROM c WHERE cnt = (SELECT max(cnt) FROM c)) AS top_key,
       round(max_cnt / (total_rows * 1.0 / n_keys), 6) AS skew_ratio,
       CAST(ceil(max_cnt / (total_rows * 1.0 / n_keys)) AS BIGINT) AS salt_hint
FROM s
""",
    extra=True,
)
def event_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle-key diagnostics (operators/profiling.py) on the
    sessionization key: one O(1)-output job answering "how skewed is
    user_id, and what salt fan-out levels it?" — the number every skew
    mitigation takes as input."""
    from vector_db_spark.operators.profiling import key_skew_report

    ev = load_table(spark, sf_dir, "events")
    return key_skew_report(ev, "user_id")


@register(
    "adaptive_quality_cut",
    oracle=f"""
WITH s AS (
  SELECT doc_id, lang,
         {_QUALITY_SQL} AS quality
  FROM documents
), r AS (
  SELECT doc_id, lang, quality,
         row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM s
)
SELECT doc_id, lang, quality FROM r WHERE rk <= greatest(1, ceil(0.4 * n))
""",
    extra=True,
)
def adaptive_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive quality floor: keep the top 40 % of each
    language by quality score (curation.per_group_top_frac) — same
    selectivity for every domain, unlike a global threshold. Ranked on
    the 6-dp-rounded score so the cross-engine order contract holds."""
    from vector_db_spark.functions.text import quality_score
    from vector_db_spark.operators.curation import per_group_top_frac

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.round(quality_score("text"), 6).alias("quality")
    )
    return per_group_top_frac(docs, "lang", "quality", 0.4)


@register(
    "join_size_preflight",
    oracle="""
WITH cl AS (SELECT o_orderkey AS k, count(*) AS ca FROM orders GROUP BY 1),
cr AS (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem GROUP BY 1),
p AS (SELECT k, ca * cb AS rows FROM cl JOIN cr USING (k)),
s AS (SELECT sum(rows)::BIGINT AS est_rows, count(*)::BIGINT AS n_shared_keys,
             max(rows)::BIGINT AS max_key_rows
      FROM p)
SELECT est_rows, n_shared_keys, max_key_rows,
       (SELECT max(k) FROM p WHERE rows = (SELECT max(rows) FROM p)) AS top_key,
       (SELECT count(*)::BIGINT FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS actual_rows,
       est_rows = (SELECT count(*) FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS est_exact
FROM s
""",
    extra=True,
)
def join_size_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join sizing before the shuffle (operators/profiling.py::
    join_size_estimate): Σ cnt·cnt over the shared keys — exact for an
    equi-join, computed from count tables orders of magnitude smaller
    than the join. est_exact re-runs the real join at fixture scale to
    prove the identity the 100 TB pre-flight relies on."""
    from vector_db_spark.operators.profiling import join_size_estimate

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    est = join_size_estimate(orders, li, "o_orderkey", "l_orderkey")
    actual = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    return est.select(
        "est_rows",
        "n_shared_keys",
        "max_key_rows",
        "top_key",
        F.lit(actual).alias("actual_rows"),
        (F.col("est_rows") == actual).alias("est_exact"),
    )


@register(
    "group_sample_per_lang",
    oracle="""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(doc_id::VARCHAR || ':gsample'), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 5
""",
    extra=True,
)
def group_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible fixed-k-per-group sampling (curation.
    group_sample_fixed_k): exactly 5 docs per language, drawn by md5
    permutation — identical rows on any engine, partitioning, or rerun."""
    from vector_db_spark.operators.curation import group_sample_fixed_k

    docs = load_table(spark, sf_dir, "documents")
    return group_sample_fixed_k(docs, "lang", 5).select("doc_id", "lang")


@register(
    "corpus_drift_js",
    oracle=f"""
WITH ta AS (SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang = 'en'),
tb AS (SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang <> 'en'),
ca AS (SELECT tok, count(*) AS cnt_a FROM ta GROUP BY 1),
cb AS (SELECT tok, count(*) AS cnt_b FROM tb GROUP BY 1),
j AS (SELECT COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM ca FULL OUTER JOIN cb USING (tok)),
t AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb, count(*) AS v FROM j),
c AS (
  SELECT na, nb, v,
         CAST(round(
           CASE WHEN cnt_a > 0 THEN 0.5 * (cnt_a / na) * ln((cnt_a / na) / ((cnt_a / na + cnt_b / nb) / 2)) ELSE 0 END
         + CASE WHEN cnt_b > 0 THEN 0.5 * (cnt_b / nb) * ln((cnt_b / nb) / ((cnt_a / na + cnt_b / nb) / 2)) ELSE 0 END,
         12) AS DECIMAL(28,12)) AS contrib
  FROM j CROSS JOIN t
)
SELECT na::BIGINT AS n_tokens_a, nb::BIGINT AS n_tokens_b, v::BIGINT AS vocab_union,
       round(CAST(sum(contrib) AS DOUBLE), 6) AS js_divergence
FROM c GROUP BY 1, 2, 3
""",
)
def corpus_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl drift alarm (curation.token_distribution_drift):
    Jensen-Shannon divergence between the English and non-English token
    distributions — symmetric, bounded, defined on disjoint supports.
    Vocab-sized joins only; decimal-summed 12-dp contributions make the
    scalar engine-exact."""
    from vector_db_spark.operators.curation import token_distribution_drift

    docs = load_table(spark, sf_dir, "documents")
    return token_distribution_drift(
        docs.filter(F.col("lang") == "en"), docs.filter(F.col("lang") != "en")
    )


@register(
    "interleave_training_order",
    oracle="""
WITH g AS (
  SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS gidx
  FROM (SELECT DISTINCT lang FROM documents)
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(doc_id::VARCHAR || ':interleave'), doc_id
         ) AS r
  FROM documents
)
SELECT r.doc_id, r.lang,
       ((r.r - 1) * (SELECT count(*) FROM g) + g.gidx)::BIGINT AS interleave_rank
FROM r JOIN g USING (lang)
""",
    extra=True,
)
def interleave_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin training order across languages
    (packing.interleave_by_group): sorting by interleave_rank visits
    languages in rotation, keeping any training window close to the
    corpus mixture. Engine-reproducible md5 permutation within groups."""
    from vector_db_spark.operators.packing import interleave_by_group

    docs = load_table(spark, sf_dir, "documents")
    return interleave_by_group(docs, "lang").select(
        "doc_id", "lang", F.col("interleave_rank").cast("long").alias("interleave_rank")
    )


_EMAIL_SQL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_SQL = "\\+?[0-9][0-9 ()-]{7,}[0-9]"


@register(
    "corpus_governance_report",
    oracle=f"""
SELECT 'docs_total' AS check_name, count(*)::BIGINT AS value FROM documents
UNION ALL
SELECT 'empty_docs', count(*) FILTER (WHERE text IS NULL OR trim(text) = '')::BIGINT FROM documents
UNION ALL
SELECT 'pii_email_docs', count(*) FILTER (WHERE regexp_matches(lower(text), '{_EMAIL_SQL}'))::BIGINT FROM documents
UNION ALL
SELECT 'pii_phone_docs', count(*) FILTER (WHERE regexp_matches(lower(text), '{_PHONE_SQL}'))::BIGINT FROM documents
UNION ALL
SELECT 'exact_dup_docs', (count(*) - count(DISTINCT md5(text)))::BIGINT FROM documents
UNION ALL
SELECT 'langs_distinct', count(DISTINCT lang)::BIGINT FROM documents
""",
    extra=True,
)
def corpus_governance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus governance audit in long format ``(check_name,
    value)``: volume, empty docs, PII exposure (email/phone regex over
    lowercased text — same cross-engine-safe patterns as pii_scrub),
    exact-duplicate count, language coverage. The compliance-dashboard
    companion to operators/quality.py's relational expectations; all
    counts exact, single scan + one distinct-agg pass."""
    docs = load_table(spark, sf_dir, "documents")
    row = docs.agg(
        F.count("*").alias("docs_total"),
        F.sum(
            (F.col("text").isNull() | (F.trim("text") == "")).cast("long")
        ).alias("empty_docs"),
        F.sum(F.lower("text").rlike(EMAIL_RE).cast("long")).alias("pii_email_docs"),
        F.sum(F.lower("text").rlike(PHONE_RE).cast("long")).alias("pii_phone_docs"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("exact_dup_docs"),
        F.countDistinct("lang").alias("langs_distinct"),
    )
    return row.selectExpr(
        "stack(6, 'docs_total', docs_total, 'empty_docs', empty_docs, "
        "'pii_email_docs', pii_email_docs, 'pii_phone_docs', pii_phone_docs, "
        "'exact_dup_docs', exact_dup_docs, 'langs_distinct', langs_distinct) "
        "AS (check_name, value)"
    )


@register(
    "quality_calibration_audit",
    extra=True,
    oracle="""
SELECT count(*)::BIGINT AS n,
       TRUE AS is_monotone, TRUE AS brier_improved, TRUE AS knots_ok
FROM documents
""",
)
def quality_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of a heuristic quality score against the
    learnable long-document label (operators/mlquality.calibrate_scores —
    distributed pool-adjacent-violators via pyspark.ml). Invariant
    projection: the calibrated mapping must be monotone, the Brier score
    must not degrade (a PAV least-squares guarantee on fit data), and the
    fit must produce a non-trivial knot set; the oracle reproduces the
    exact row count. tests/test_mlquality.py pins hand-computed PAV
    behavior on planted data."""
    from vector_db_spark.functions.text import tokens
    from vector_db_spark.operators.mlquality import calibrate_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.least(F.size(tokens("text")) / F.lit(80.0), F.lit(1.0)).alias("raw_score"),
        (F.col("n_chars") >= 300).cast("double").alias("label"),
    )
    _, audit = calibrate_scores(scored, score_col="raw_score")
    return spark.createDataFrame(
        [
            (
                audit.n,
                audit.is_monotone,
                audit.calibrated_brier <= audit.raw_brier + 1e-9,
                audit.n_knots >= 2,
            )
        ],
        "n long, is_monotone boolean, brier_improved boolean, knots_ok boolean",
    )


@register(
    "quality_weighted_draw",
    extra=True,
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         {_QUALITY_SQL} AS quality,
         ('0x' || substr(md5(doc_id::VARCHAR || ':wsample'), 1, 13))::UBIGINT::DOUBLE
           / 4503599627370496e0 AS u
  FROM documents),
keyed AS (
  SELECT doc_id, quality, round(ln(u) / quality, 12) AS sample_key
  FROM s WHERE quality > 0)
SELECT doc_id, quality, sample_key FROM (
  SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rk FROM keyed)
WHERE rk <= 100
""",
)
def quality_weighted_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-100-doc training-mix draw, probability ∝ quality score —
    Efraimidis-Spirakis weighted sampling without replacement
    (operators/curation.weighted_fixed_k_sample): the fixed-size
    companion to the Bernoulli weighted keep. The md5-derived keys make
    the draw a pure function of (corpus, salt): the oracle reproduces the
    EXACT member set, not a statistical lookalike."""
    from vector_db_spark.functions.text import quality_score
    from vector_db_spark.operators.curation import weighted_fixed_k_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_score("text").alias("quality")
    )
    return weighted_fixed_k_sample(docs, "quality", 100)
