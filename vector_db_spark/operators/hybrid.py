"""Hybrid retrieval: BM25 keyword scoring fused with vector similarity by
reciprocal-rank fusion (RRF) — the standard "vector DB + keyword" serving
pattern, expressed as one declarative batch plan.

The reference is vector-only (`/root/reference/src/vector_db/api/app.py:165-233`
searches embeddings, the content column is opaque); hybrid ranking is the
north-star extension every production retrieval stack layers on top.

Scale posture:

* **BM25 for a literal query needs no inverted index build and no
  explode**: with query terms known at plan time, per-document term
  frequencies are ``size(filter(tokens, t == lit))`` — map-side codegen —
  and the global statistics (N, avgdl, per-term document frequencies) are
  ONE single-row aggregate, broadcast back. The corpus is scanned twice
  (stats + score), shuffled never; the final top-k is
  TakeOrderedAndProject.
* **The score sum has a fixed term order** (one column per query term,
  not an exploded re-aggregation), so ranks are bit-reproducible across
  engines and partitionings — floating-point addition order is pinned by
  the plan shape itself.
* **RRF joins two small top-k lists** (k rows each, broadcast-sized by
  construction) — never corpus-sized sides.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_db_spark import route
from vector_db_spark.functions.text import tokens

RRF_K = 60
# past this many distinct subscription terms percolate skips the literal
_MAX_LITERAL_VOCAB = 10_000


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    *,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25 for a bag of literal query terms.

    Returns ``(id, bm25 rounded to 6, kw_rank)``, rank ties broken by id.
    Documents matching no term (score 0) are excluded.
    """
    toks = tokens(text_col)
    dl = F.size(toks)
    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(tokens(text_col))).alias("avgdl"),
        *[
            F.sum(F.array_contains(tokens(text_col), t).cast("long"))
            .cast("double")
            .alias(f"df_{i}")
            for i, t in enumerate(terms)
        ],
    )
    def term_freq(t: str) -> Column:
        # NB: the lambda must be unary — a second parameter would make
        # F.filter pass the array index as that argument.
        return F.size(F.filter(toks, lambda x: x == F.lit(t))).cast("double")

    scored = docs.select(
        F.col(id_col),
        dl.alias("dl"),
        *[term_freq(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    ).crossJoin(F.broadcast(stats))

    def part(i: int) -> Column:
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5) + 1.0
        )
        tf = F.col(f"tf_{i}")
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))

    score = part(0)
    for i in range(1, len(terms)):
        score = score + part(i)  # fixed left-to-right order: reproducible
    w = Window.orderBy(F.col("bm25").desc(), id_col)
    return (
        scored.select(F.col(id_col), F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    *,
    k: int = 20,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``k`` corpus rows by cosine distance to a single broadcast
    query vector: ``(id, cos_dist rounded to 6, vec_rank)``. Distance via
    :mod:`vector_db_spark.functions.distance` (double-cast higher-order
    expressions — the exact math the DuckDB oracles reproduce)."""
    from vector_db_spark.functions.distance import cosine_distance

    q = query_vec.select(F.col(vec_col).alias("__qv"))
    dist = F.round(cosine_distance(F.col(vec_col), F.col("__qv")), 6)
    w = Window.orderBy("cos_dist", id_col)
    return (
        corpus.crossJoin(F.broadcast(q))
        .select(F.col(id_col), dist.alias("cos_dist"))
        .withColumn("vec_rank", F.row_number().over(w))
        .filter(F.col("vec_rank") <= k)
    )


def rrf_fuse(
    keyword: DataFrame,
    vector: DataFrame,
    *,
    k: int = 10,
    id_col: str = "doc_id",
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of the two top-k lists:
    ``score = Σ 1/(rrf_k + rank)`` over the lists the doc appears in.
    Absent ranks surface as 0 (scalar-typed, driver-hashable). The two
    inputs are k-row tables, so the outer join is trivially broadcast.
    """
    fused = keyword.select(id_col, "kw_rank").join(
        vector.select(id_col, "vec_rank"), id_col, "full_outer"
    )
    score = F.round(
        F.coalesce(1.0 / (F.lit(rrf_k) + F.col("kw_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    w = Window.orderBy(F.col("rrf_score").desc(), id_col)
    return (
        fused.select(
            id_col,
            F.coalesce("kw_rank", F.lit(0)).alias("kw_rank"),
            F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
            score.alias("rrf_score"),
        )
        .withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= k)
    )


def idf_weights(n_docs: int, dfs: list[int]) -> list[float]:
    """Reference BM25 idf (Robertson/Sparck-Jones +1 form) for tests."""
    return [math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0) for df in dfs]


# ---------------------------------------------------------------------------
# late-interaction (ColBERT-style MaxSim) retrieval
# ---------------------------------------------------------------------------


def late_interaction_topk(
    query_vecs: DataFrame,
    doc_vecs: DataFrame,
    k: int,
    *,
    query_id: str = "query_id",
    doc_id: str = "doc_id",
    vec_col: str = "vec",
) -> DataFrame:
    """(query_id, doc_id, score, rank): top-k documents per multi-vector
    query under the late-interaction objective
    ``score(q, d) = Σ_{qv ∈ q} max_{dv ∈ d} cos(qv, dv)`` — the ColBERT
    MaxSim operator, the retrieval-quality step between single-vector ANN
    and a cross-encoder.

    Spark shape: broadcast the query vectors (a query batch is tokens ×
    queries — small by definition) onto the doc-vector scan; one partial-
    aggregated ``groupBy(query, q_token, doc)`` takes the per-token max;
    one more ``groupBy(query, doc)`` sums; windowed top-k. The corpus
    never shuffles by itself — both aggregations key on query-side-bounded
    composites, so the shuffle volume is O(q_tokens × docs), i.e. the
    match matrix, never corpus × corpus.

    Exactness: similarities are rounded to 6 dp *before* max (identical
    picks in any engine), and the sum runs over exact integer micro-units
    — bit-for-bit reproducible, DuckDB-oracle-checkable end-to-end."""
    from vector_db_spark.functions.distance import cosine_similarity

    sim = F.round(cosine_similarity(F.col("q.qv"), F.col("d." + vec_col)), 6)
    qsel = query_vecs.select(
        F.col(query_id).alias("qid"),
        F.col("q_token"),
        F.col(vec_col).alias("qv"),
    )
    per_token = (
        doc_vecs.alias("d")
        .join(F.broadcast(qsel.alias("q")), how="cross")
        .select(
            "qid",
            "q_token",
            F.col("d." + doc_id).alias("did"),
            (sim * 1e6).cast("long").alias("sim_u"),
        )
        .groupBy("qid", "q_token", "did")
        .agg(F.max("sim_u").alias("mx"))
    )
    scored = per_token.groupBy("qid", "did").agg(
        (F.sum("mx") / 1e6).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("did"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id),
            F.col("did").alias(doc_id),
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# percolation: stored queries matched against incoming documents
# ---------------------------------------------------------------------------


def percolate(
    docs: DataFrame,
    stored: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """(doc_id, query_id): which stored conjunctive term queries match each
    document — search INVERTED: the queries are the persisted table and
    the documents are the probe (the alerting/routing pattern; wire into
    ``foreachBatch`` and each micro-batch of new docs triggers its
    matching subscriptions).

    Plan, small-vocabulary regime (≤ ``_MAX_LITERAL_VOCAB`` distinct
    subscription terms): the stored-query term table broadcasts and its
    union'd term set rides the plan as a literal; each doc intersects its
    distinct tokens with that term set MAP-SIDE, so only matching terms
    are ever exploded or shuffled — the corpus contributes O(matched
    terms) rows, not O(all tokens). One partial-aggregated count per
    (doc, query) compared to the query's term arity — a match means
    EVERY term hit. No crossJoin, no regex over queries×docs.

    The distinct-term set is size-routed (``vector_db_spark.route``; the
    probe IS the vocabulary fetch). Past the bound — multi-tenant
    subscription tables growing with the corpus (the true
    matching-volume shape) — doc tokens explode distinct and the
    term/arity joins run un-hinted, so Catalyst/AQE broadcast the
    subscription side while it fits and shuffle past that, instead of
    building a plan literal of unbounded width on the driver. Both
    regimes emit identical rows."""
    q_terms = stored.select(
        query_id_col, F.explode(terms_col).alias("tok")
    )
    q_arity = stored.select(
        query_id_col, F.size(terms_col).alias("__need")
    )
    probe = route.fetch(
        q_terms.select("tok").distinct(), _MAX_LITERAL_VOCAB, "hybrid.vocab"
    )
    small = probe is not None
    if small:
        vocab = sorted(probe.column("tok").to_pylist())
        matched = docs.select(
            F.col(id_col),
            F.explode(
                F.array_intersect(
                    F.array_distinct(tokens(text_col)),
                    F.array(*[F.lit(t) for t in vocab]),
                )
            ).alias("tok"),
        )
    else:
        matched = docs.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
        )
    hint = F.broadcast if small else (lambda d: d)
    hits = (
        matched.join(hint(q_terms), "tok")
        .groupBy(id_col, query_id_col)
        .agg(F.count("*").alias("__got"))
    )
    return (
        hits.join(hint(q_arity), query_id_col)
        .filter(F.col("__got") == F.col("__need"))
        .select(id_col, query_id_col)
    )
