"""Text-analysis / dedup / similarity-search queries (north-star
LLM-data-pipeline operators), oracle-checked end-to-end where the operator
is deterministic.

All md5-based hashing (fingerprints, MinHash, band keys, SimHash) is chosen
precisely because both engines implement md5 identically — the *entire*
MinHash+LSH near-dup pipeline hash-matches DuckDB, not just its inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_db_spark.functions.embedding import embed_column
from vector_db_spark.functions.text import (
    LANG_STOPWORDS,
    doc_fingerprint,
    quality_score,
    shingles,
    tokens,
)
from vector_db_spark.io import load_table
from vector_db_spark.operators.dedup import (
    dedup_retain_best,
    exact_dedup,
    incremental_dedup,
    near_dup_pairs_minhash,
    shingle_table,
    winnow_candidate_pairs,
)
from vector_db_spark.operators.export import shard_manifest, shard_plan
from vector_db_spark.operators.packing import pack_sequences
from vector_db_spark.operators.dedup import containment_pairs
from vector_db_spark.operators.similarity import (
    HYPERPLANES,
    N_BITS,
    N_TABLES,
    lsh_search,
    sparse_cosine_pairs,
)
from vector_db_spark.queries import register

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

# the composite quality score, shared by every oracle that replays
# functions.text.quality_score — ONE definition so the Spark formula and
# its SQL replica cannot drift. Blank/whitespace-only text scores 0 (the
# split of '' is [''], which would otherwise score 0.505 and sail past
# every quality floor).
_QUALITY_SQL = (
    "(CASE WHEN len(trim(text)) = 0 THEN 0.0"
    f" ELSE round(0.5 * least(len({_TOKS}) / 100.0, 1.0)"
    f" + 0.5 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS})), 6) END)"
)

# --- language identification (stopword-vote heuristic) -----------------------

_STOPWORD_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, ws in LANG_STOPWORDS.items() for w in ws
)

@register(
    "lang_id_pred",
    oracle=f"""
WITH votes AS (
  SELECT d.doc_id, v.lang AS cand, COUNT(*) AS hits
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) d
  JOIN (VALUES {_STOPWORD_VALUES}) v(lang, word) ON d.tok = v.word
  GROUP BY d.doc_id, v.lang
),
best AS (
  SELECT doc_id, cand FROM (
    SELECT doc_id, cand,
           row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT d.doc_id, COALESCE(b.cand, 'unknown') AS pred_lang
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
""",
)
def lang_id_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID: explode tokens, broadcast-join the
    stopword table, argmax votes per doc; 'unknown' when nothing matches."""
    docs = load_table(spark, sf_dir, "documents")
    stop = spark.createDataFrame(
        [(lang, w) for lang, ws in LANG_STOPWORDS.items() for w in ws],
        "cand string, word string",
    )
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    votes = (
        toks.join(F.broadcast(stop), toks.tok == stop.word)
        .groupBy("doc_id", "cand")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "cand")
    best = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return docs.select("doc_id").join(best.select("doc_id", "cand"), "doc_id", "left").select(
        "doc_id", F.coalesce("cand", F.lit("unknown")).alias("pred_lang")
    )


# --- quality scoring ----------------------------------------------------------

@register(
    "doc_quality",
    oracle=f"""
SELECT doc_id,
       {_QUALITY_SQL} AS quality
FROM documents
""",
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation + lexical diversity
    (punctuation/stopword terms omitted — this corpus has none)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


# --- fingerprinting + exact dedup ---------------------------------------------

@register(
    "dedup_exact_prefix",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, md5(array_to_string(list_slice({_TOKS}, 1, 5), ' ')) AS fingerprint
  FROM documents
)
SELECT fingerprint, MIN(doc_id) AS doc_id, COUNT(*)::BIGINT AS group_size
FROM fp GROUP BY fingerprint
""",
)
def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a 5-token-prefix fingerprint: hash-groupBy, survivor
    = min id (catches truncation/extension duplicates)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, prefix_tokens=5).select(
        "fingerprint", "doc_id", "group_size"
    )


@register(
    "winnow_dup_candidates",
    oracle="""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents
),
grams AS (
  SELECT doc_id,
         [md5(substr(s, i, 8)) FOR i IN range(1, length(s) - 8 + 2)] AS hs
  FROM norm WHERE length(s) >= 11
),
fps AS (
  SELECT doc_id,
         unnest(list_distinct(
           [list_min(list_slice(hs, j, j + 3)) FOR j IN range(1, len(hs) - 4 + 2)]
         )) AS fp
  FROM grams
),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50),
f AS (SELECT fps.* FROM fps JOIN rare USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS shared_fps
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 5
""",
)
def winnow_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling k-gram fingerprint) copy detection: k=8 char
    grams, window w=4, docs sharing ≥5 selected fingerprints after a
    df≤50 boilerplate cut. Character-level — catches copied *passages*
    that token-shingle MinHash dilutes. Hash-matched end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    return winnow_candidate_pairs(docs, k=8, w=4, min_shared=5, max_df=50)


@register(
    "doc_novelty",
    extra=True,
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> len(x) > 0) AS tk
  FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                               FOR i IN range(1, len(tk) - 1)])) AS shingle
  FROM t WHERE len(tk) >= 3),
df AS (SELECT shingle, count(*) AS d FROM sh GROUP BY 1)
SELECT doc_id, count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
       round(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS novelty
FROM sh JOIN df USING (shingle)
GROUP BY 1
""",
)
def doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-shingles that appear NOWHERE else in the corpus — the
    dedup-adjacent curation signal separating fresh text from recombined
    boilerplate (low novelty ⇒ heavily shared phrasing even when no
    single pair crosses the near-dup threshold; the complement of the
    memorization-risk screen). One shingle-df aggregation + one keyed
    join — the same Σ-distinct-shingles budget as boilerplate_frac,
    value-exact against DuckDB."""
    from vector_db_spark.operators.dedup import shingle_table

    sh = shingle_table(load_table(spark, sf_dir, "documents"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("d"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("d") == 1).cast("long")).alias("n_unique"),
            F.round(
                F.sum((F.col("d") == 1).cast("long")) / F.count("*"), 6
            ).alias("novelty"),
        )
    )


@register(
    "prefix_filter_jaccard",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> len(x) > 0) AS tk
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                        FOR i IN range(1, len(tk) - 1)]) AS s
  FROM t WHERE len(tk) >= 3)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(len(list_intersect(a.s, b.s))::DOUBLE
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
           AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
WHERE jaccard >= 0.5
""",
)
def prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-set Jaccard ≥ 0.5 pairs via AllPairs/PPJoin prefix
    filtering (operators/dedup.prefix_filter_jaccard_pairs) — the
    deterministic, zero-miss complement to MinHash LSH: candidates are an
    equi-join on rare-first PREFIX shingles only (Σ df(prefix)² shuffle,
    never n²), verification is the exact map-side set intersect. The
    DuckDB oracle computes the ALL-PAIRS ground truth, so a green row
    proves the filter's completeness on real data, not just its
    candidates."""
    from vector_db_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(shingle_table(docs), threshold=0.5)


# --- MinHash + LSH near-dup pipeline ------------------------------------------
# MinHash SQL fragments are parameterized on the source relation so the
# incremental-dedup oracle can run the identical math over each side of
# the batch split; the plain constants serve the full-corpus queries.

def _shingles_sql(src: str = "documents") -> str:
    return f"""
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i + 1, i + 3), ' ') AS shingle
  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 0))) AS i
        FROM (SELECT doc_id, {_TOKS} AS t FROM {src}))
"""


def _minhash_sql(src: str = "documents") -> str:
    return f"""
  SELECT doc_id, hash_idx::INTEGER AS hash_idx,
         MIN(substring(md5((hash_idx // 4)::VARCHAR || ':' || shingle),
                       (hash_idx % 4) * 8 + 1, 8)) AS minhash
  FROM ({_shingles_sql(src)}) CROSS JOIN (SELECT unnest(range(0, 8)) AS hash_idx)
  GROUP BY doc_id, hash_idx
"""


def _bands_sql(src: str = "documents") -> str:
    return f"""
  SELECT doc_id, (hash_idx // 2) AS band,
         md5(string_agg(minhash, ',' ORDER BY hash_idx)) AS band_key
  FROM ({_minhash_sql(src)})
  GROUP BY doc_id, (hash_idx // 2)
"""


def _cand_sql(src: str = "documents") -> str:
    return f"""
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ({_bands_sql(src)}) a JOIN ({_bands_sql(src)}) b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


_SHINGLES_SQL = _shingles_sql()
_CAND_SQL = _cand_sql()


@register(
    "near_dup_jaccard",
    extra=True,
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
cands AS ({_CAND_SQL}),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (x.n_sh + y.n_sh - n_common), 6) AS jaccard
FROM common JOIN sizes x ON x.doc_id = doc_a JOIN sizes y ON y.doc_id = doc_b
WHERE round(n_common * 1.0 / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
""",
)
def near_dup_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup: shingle → sign → band → candidates →
    exact Jaccard ≥ 0.5. End-to-end engine-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    return near_dup_pairs_minhash(docs, threshold=0.5)


# --- incremental dedup: new batch vs indexed corpus ---------------------------

_INC_MOD = 5  # doc_id % 5 == 0 → the "incoming batch"; rest → the corpus

# ONE oracle for both incremental-dedup registrations: the re-deriving
# operator and the persisted-index probe compute the same math on the
# same split, so the same SQL verifies both (the index only removes the
# corpus-side re-derivation — a result difference means the index is
# stale or the geometry drifted, exactly what the shared oracle catches)
_INC_DEDUP_ORACLE = f"""
WITH ex AS (SELECT * FROM documents WHERE doc_id % {_INC_MOD} <> 0),
inc AS (SELECT * FROM documents WHERE doc_id % {_INC_MOD} = 0),
exact AS (
  SELECT i.doc_id, MIN(e.doc_id) AS dup_exact_of
  FROM (SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fp FROM inc) i
  JOIN (SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fp FROM ex) e
    USING (fp)
  GROUP BY i.doc_id
),
cand AS (
  SELECT DISTINCT i.doc_id AS doc_a, e.doc_id AS doc_b
  FROM ({_bands_sql('inc')}) i
  JOIN ({_bands_sql('ex')}) e ON i.band = e.band AND i.band_key = e.band_key
),
ish AS ({_shingles_sql('inc')}),
esh AS ({_shingles_sql('ex')}),
isz AS (SELECT doc_id, COUNT(*) AS n_sh FROM ish GROUP BY doc_id),
esz AS (SELECT doc_id, COUNT(*) AS n_sh FROM esh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN ish a ON a.doc_id = c.doc_a
  JOIN esh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
near AS (
  SELECT doc_a, doc_b,
         round(n_common * 1.0 / (x.n_sh + y.n_sh - n_common), 6) AS jaccard
  FROM common JOIN isz x ON x.doc_id = doc_a JOIN esz y ON y.doc_id = doc_b
  WHERE round(n_common * 1.0 / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
),
near_best AS (
  SELECT doc_a AS doc_id, doc_b AS dup_near_of, jaccard AS near_jaccard
  FROM (SELECT doc_a, doc_b, jaccard,
               row_number() OVER (PARTITION BY doc_a
                                  ORDER BY jaccard DESC, doc_b) AS rn
        FROM near)
  WHERE rn = 1
)
SELECT i.doc_id, x.dup_exact_of, nb.dup_near_of, nb.near_jaccard,
       (x.dup_exact_of IS NULL AND nb.dup_near_of IS NULL) AS is_new
FROM (SELECT doc_id FROM inc) i
LEFT JOIN exact x USING (doc_id)
LEFT JOIN near_best nb USING (doc_id)
"""


@register("incremental_dedup", oracle=_INC_DEDUP_ORACLE)
def incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming-batch-vs-corpus dedup (the corpus-maintenance shape): the
    ``doc_id % 5 == 0`` slice plays the fresh crawl, the rest the indexed
    corpus. The batch is size-routed: small batches broadcast and the
    corpus never shuffles (operators/dedup.py:incremental_dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    return incremental_dedup(
        docs.filter(F.col("doc_id") % _INC_MOD != 0),
        docs.filter(F.col("doc_id") % _INC_MOD == 0),
        threshold=0.5,
    )


_DEDUP_INDEX_CACHE: dict[str, object] = {}


def _dedup_index(spark: SparkSession, sf_dir: str):
    """One signature-index build per (process, sf_dir) — a real
    deployment builds the index once and probes many batches against it
    (the same amortization pattern as ``_kmeans_index``)."""
    if sf_dir not in _DEDUP_INDEX_CACHE:
        import tempfile

        from vector_db_spark.operators.dedup_index import DedupIndex

        docs = load_table(spark, sf_dir, "documents")
        path = tempfile.mkdtemp(prefix="dedup_idx_") + "/index"
        _DEDUP_INDEX_CACHE[sf_dir] = DedupIndex.build(
            spark, docs.filter(F.col("doc_id") % _INC_MOD != 0), path
        )
    return _DEDUP_INDEX_CACHE[sf_dir]


@register("incremental_dedup_indexed", oracle=_INC_DEDUP_ORACLE)
def incremental_dedup_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME batch-vs-corpus dedup served from the PERSISTED signature
    index (operators/dedup_index.py DedupIndex) — the production shape
    ``incremental_dedup``'s docstring promises: fingerprints, band keys,
    and shingles are built once and reopened from Parquet, so a probe
    never re-derives (or even reads) the corpus text. Identical output
    contract and ORACLE as ``incremental_dedup`` — the driver hash proves
    index-vs-rederive equivalence, the same way ``inverted_bm25_search``
    proves index-vs-scan equivalence for BM25."""
    idx = _dedup_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return idx.probe(
        docs.filter(F.col("doc_id") % _INC_MOD == 0), threshold=0.5
    )


# --- end-to-end corpus maintenance audit --------------------------------------
# The composition the reference's §3.2 write path performs per document
# (insert -> duplicate check -> persist -> cluster assign; reference
# app.py POST /insert + store dedup + ivf assign), at batch scale and
# with every stage's count conserved and exactly-once checked. The
# pieces each have their own oracled rows (incremental_dedup_indexed,
# node_table_crud_audit, versioned_lifecycle_audit, ivf_*); this row
# proves the COMPOSITION: probe -> accept -> epoch-txn'd append to the
# corpus VersionedTable and the DedupIndex, replayed once, run inline.

_MAINT_AUDIT_CACHE: dict[str, tuple] = {}

_MAINT_AUDIT_ORACLE = f"""
WITH verd AS ({_INC_DEDUP_ORACLE}),
agg AS (
  SELECT
    (SELECT COUNT(*) FROM documents WHERE doc_id % {_INC_MOD} <> 0) AS n_seed,
    COUNT(*) AS n_batch,
    COUNT(*) FILTER (WHERE dup_exact_of IS NOT NULL) AS n_dup_exact,
    COUNT(*) FILTER (WHERE dup_exact_of IS NULL
                       AND dup_near_of IS NOT NULL) AS n_dup_near,
    COUNT(*) FILTER (WHERE is_new) AS n_accepted
  FROM verd
)
SELECT n_seed, n_batch, n_dup_exact, n_dup_near, n_accepted,
       TRUE AS batch_conserved,
       n_seed + n_accepted AS corpus_after,
       TRUE AS corpus_conserved,
       n_seed + n_accepted AS index_fp_after,
       TRUE AS index_conserved,
       TRUE AS replay_noop,
       n_accepted AS n_assigned,
       TRUE AS assign_conserved,
       TRUE AS clusters_in_range
FROM agg
"""


def _maintenance_facts(spark: SparkSession, sf_dir: str) -> tuple:
    """One maintenance cycle per (process, sf_dir): seed corpus + index,
    probe the arriving batch, accept the new docs, append them to the
    corpus table and their signatures to the index (epoch-txn'd), replay
    the epoch to prove the no-op, then assign the accepted docs' stub
    embeddings to pinned centroids. Side-effecting, so it runs once and
    the audit row is rebuilt from the measured facts."""
    if sf_dir not in _MAINT_AUDIT_CACHE:
        import tempfile

        from vector_db_spark.operators.dedup_index import DedupIndex
        from vector_db_spark.operators.ivf import assign_to_centroids
        from vector_db_spark.operators.versioned import VersionedTable

        docs = load_table(spark, sf_dir, "documents")
        seed = docs.filter(F.col("doc_id") % _INC_MOD != 0)
        batch = docs.filter(F.col("doc_id") % _INC_MOD == 0)
        base = tempfile.mkdtemp(prefix="corpus_maint_")
        idx = DedupIndex.build(spark, seed, base + "/index")
        corpus = VersionedTable(spark, base + "/corpus")
        corpus.append(seed, txn_id="seed")
        n_seed = seed.count()

        verdicts = idx.probe(batch, threshold=0.5).localCheckpoint(eager=True)
        n_batch = verdicts.count()
        n_dup_exact = verdicts.filter(F.col("dup_exact_of").isNotNull()).count()
        n_dup_near = verdicts.filter(
            F.col("dup_exact_of").isNull() & F.col("dup_near_of").isNotNull()
        ).count()
        accepted = batch.join(
            verdicts.filter(F.col("is_new")).select("doc_id"),
            "doc_id",
            "left_semi",
        ).localCheckpoint(eager=True)
        n_accepted = accepted.count()

        corpus.append(accepted, txn_id="epoch:0")
        idx.append(accepted, txn_id="epoch:0")
        corpus_after = corpus.read().count()
        index_fp_after = idx.fingerprints().count()
        # exactly-once: a full replay of the committed epoch is a no-op
        corpus.append(accepted, txn_id="epoch:0")
        idx.append(accepted, txn_id="epoch:0")
        replay_noop = (
            corpus.read().count() == corpus_after
            and idx.fingerprints().count() == index_fp_after
        )

        # incremental cluster assignment: centroids pinned from the 8
        # lowest-id seed docs' stub embeddings (k x dim literal, the
        # zero-shuffle assign path)
        cents = [
            (i, list(r.embedding))
            for i, r in enumerate(
                embed_column(seed.orderBy("doc_id").limit(8), "text", dim=64)
                .orderBy("doc_id")
                .collect()
            )
        ]
        assigned = assign_to_centroids(
            embed_column(accepted, "text", dim=64), cents, id_col="doc_id"
        ).select("doc_id", "cluster_id").localCheckpoint(eager=True)
        n_assigned = assigned.count()
        clusters_in_range = (
            assigned.filter(
                (F.col("cluster_id") < 0) | (F.col("cluster_id") >= 8)
            ).count()
            == 0
        )
        _MAINT_AUDIT_CACHE[sf_dir] = (
            n_seed,
            n_batch,
            n_dup_exact,
            n_dup_near,
            n_accepted,
            n_dup_exact + n_dup_near + n_accepted == n_batch,
            corpus_after,
            corpus_after == n_seed + n_accepted,
            index_fp_after,
            index_fp_after == n_seed + n_accepted,
            replay_noop,
            n_assigned,
            n_assigned == n_accepted,
            clusters_in_range,
        )
    return _MAINT_AUDIT_CACHE[sf_dir]


@register("corpus_maintenance_audit", extra=True, oracle=_MAINT_AUDIT_ORACLE)
def corpus_maintenance_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest → dedup-index probe → accept → exactly-once append (corpus
    table + signature index) → IVF incremental assign, as one audited
    cycle. The oracle recomputes the expected stage counts from the
    shared incremental-dedup CTE and pins every conservation and
    exactly-once invariant TRUE — a count leak anywhere in the
    composition (dropped verdict, double-indexed signature, unassigned
    accept) flips a fact and fails the hash."""
    return spark.createDataFrame(
        [_maintenance_facts(spark, sf_dir)],
        "n_seed long, n_batch long, n_dup_exact long, n_dup_near long, "
        "n_accepted long, batch_conserved boolean, corpus_after long, "
        "corpus_conserved boolean, index_fp_after long, "
        "index_conserved boolean, replay_noop boolean, n_assigned long, "
        "assign_conserved boolean, clusters_in_range boolean",
    )


# --- dedup end-game: transitive clusters → one survivor each ------------------
# Near-dup *pairs* are not a cleaned corpus: A~B~C chains must collapse to
# one survivor even when A≁C directly. The Spark side groups pairs into
# connected components by iterative hash-min label propagation (no driver
# union-find); the oracle reproduces the grouping with a recursive CTE
# (min reachable id == component label — both engines converge to the same
# fixpoint). Survivor policy: max quality_score, ties to smallest id.

@register(
    "dedup_retain_best",
    oracle=f"""
WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
cands AS ({_CAND_SQL}),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
pairs AS (
  SELECT doc_a, doc_b
  FROM common JOIN sizes x ON x.doc_id = doc_a JOIN sizes y ON y.doc_id = doc_b
  WHERE round(n_common * 1.0 / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(id, comp) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id
),
comp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
labeled AS (
  SELECT d.doc_id,
         COALESCE(c.component, d.doc_id) AS component,
         {_QUALITY_SQL} AS quality
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
)
SELECT doc_id, component, cluster_size, quality FROM (
  SELECT doc_id, component, quality,
         COUNT(*) OVER (PARTITION BY component) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn
  FROM labeled
) WHERE rn = 1
""",
)
def dedup_retain_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_retain_best(docs, threshold=0.5)


# --- LSH bucket SQL (shared by the blocked near-dup and the ANN search) --------

def _bucket_sql(table_idx: int) -> str:
    bits = []
    for plane in HYPERPLANES[table_idx]:
        vals = ", ".join(repr(x) for x in plane)
        bits.append(
            f"(CASE WHEN list_inner_product(v, [{vals}]::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


_LSH_BUCKETS_SQL = " UNION ALL ".join(
    f"""
  SELECT vec_id, {t} AS table_idx, {_bucket_sql(t)} AS bucket
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
"""
    for t in range(N_TABLES)
)


# --- sequence packing ---------------------------------------------------------

@register(
    "pack_sequences_manifest",
    oracle=f"""
SELECT doc_id, shard, n_tokens, start_offset, (start_offset // 256)::BIGINT AS pack_id FROM (
  SELECT doc_id, shard, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT AS start_offset
  FROM (
    SELECT doc_id,
           (((strpos('0123456789abcdef', substring(md5(doc_id::VARCHAR || ':pack'), 1, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substring(md5(doc_id::VARCHAR || ':pack'), 2, 1)) - 1)) % 8)::INTEGER AS shard,
           len({_TOKS})::BIGINT AS n_tokens
    FROM documents
  )
)
""",
)
def pack_sequences_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing manifest: hash-shard → in-shard
    token offsets (one window) → 256-token pack assignment. The step
    between a cleaned corpus and packed training examples; see
    operators/packing.py for the scale argument."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=256, n_shards=8)


# --- edit-distance fuzzy join -------------------------------------------------


@register(
    "fuzzy_typo_pairs",
    extra=True,
    oracle=f"""
WITH v AS (
  SELECT DISTINCT s FROM (
    SELECT unnest({_TOKS}) AS s FROM documents
    UNION ALL
    SELECT source AS s FROM documents)
  WHERE length(s) > 0)
SELECT a.s AS a, b.s AS b, levenshtein(a.s, b.s)::INTEGER AS dist
FROM v a JOIN v b ON a.s < b.s
WHERE levenshtein(a.s, b.s) <= 1
""",
)
def fuzzy_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All string pairs within edit distance 1 over the corpus vocabulary
    plus source labels (operators/fuzzyjoin.py): q-gram-blocked candidate
    equi-join + short-pool + exact levenshtein verify. The oracle brute-
    forces all pairs — hash equality proves the blocking lost nothing."""
    from vector_db_spark.operators.fuzzyjoin import fuzzy_self_join

    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select(F.explode(tokens("text")).alias("s")).union(
        docs.select(F.col("source").alias("s"))
    )
    return fuzzy_self_join(vals, "s", max_dist=1)


# --- heavy hitters (Misra-Gries candidates + exact verify) --------------------

_HH_FRAC = 0.004


@register(
    "heavy_hitter_tokens",
    extra=True,
    oracle=f"""
WITH toks AS (SELECT unnest({_TOKS}) AS item FROM documents)
SELECT item, count(*)::BIGINT AS cnt
FROM toks GROUP BY item
HAVING count(*) >= (SELECT ceil({_HH_FRAC} * count(*)) FROM toks)
""",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens exceeding 0.4% of the corpus token stream — exact output via
    the two-pass Misra-Gries plan (operators/heavyhitters.py): per-task
    bounded summaries prune candidates, one broadcast-semi-joined exact
    count verifies, so the full-vocabulary shuffle the oracle runs never
    happens. The count() for the threshold is one exact scan (the stream
    size is a needed input of the contract, not a shortcut)."""
    import math

    from vector_db_spark.operators.heavyhitters import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    items = docs.select(F.explode(tokens("text")).alias("item"))
    n = items.count()
    threshold = math.ceil(_HH_FRAC * n)
    k = max(64, math.ceil(n / threshold))
    return heavy_hitters(items, "item", threshold=threshold, k=k)


# --- distributed BPE vocabulary learning --------------------------------------


@register(
    "bpe_merges",
    extra=True,
    oracle="""
WITH words AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents)
  WHERE length(word) > 0 GROUP BY 1),
prs AS (
  SELECT substring(word, i, 1) AS lft,
         CASE WHEN i < length(word) THEN substring(word, i + 1, 1)
              ELSE '</w>' END AS rgt,
         freq
  FROM (SELECT word, freq, unnest(range(1, length(word) + 1))::INTEGER AS i
        FROM words)),
best AS (
  SELECT lft, rgt, sum(freq)::BIGINT AS cnt FROM prs GROUP BY 1, 2
  ORDER BY cnt DESC, lft, rgt LIMIT 1)
SELECT 8 AS n_merges, lft AS first_left, rgt AS first_right,
       cnt AS first_count, TRUE AS min_freq_ok, TRUE AS merged_consistent,
       TRUE AS steps_contiguous
FROM best
""",
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned from the corpus (operators/bpe.py),
    emitted as an invariant projection: the FIRST merge is one-shot
    SQL-expressible (most frequent adjacent symbol pair of the initial
    character tokenization, ties by (left, right)) and is value-checked
    exactly; the remaining rounds — inherently iterative, each depends on
    the previous re-tokenization — contribute exact structural facts
    (count, min-freq floor, merged == left||right, contiguous steps).
    Full per-round agreement with a pure-Python reference learner is
    pinned in tests/test_bpe.py."""
    from vector_db_spark.operators.bpe import learn_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, n_merges=8, min_freq=2)
    first = merges[0]
    return spark.createDataFrame(
        [
            (
                len(merges),
                first[1],
                first[2],
                first[4],
                all(m[4] >= 2 for m in merges),
                all(m[3] == m[1] + m[2] for m in merges),
                [m[0] for m in merges] == list(range(len(merges))),
            )
        ],
        "n_merges int, first_left string, first_right string, "
        "first_count long, min_freq_ok boolean, merged_consistent boolean, "
        "steps_contiguous boolean",
    )


@register(
    "bpe_tokenize_audit",
    extra=True,
    oracle="""
SELECT count(*)::BIGINT AS n_docs, TRUE AS reconstruct_ok,
       TRUE AS token_bound_ok, TRUE AS merges_reduce_ok
FROM documents
""",
)
def bpe_tokenize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY (operators/bpe.apply_bpe — the rank-priority BPE
    encode loop as an Arrow kernel) audited by its algebraic laws, which
    hold for ANY learned merge list: lossless reconstruction (per doc,
    the concatenated tokens minus the </w> markers equal the concatenated
    lower-cased words — exact, all docs), the token-count upper bound
    (≤ chars + words: a word starts as chars+1 symbols and merges only
    shrink it), and strict reduction (8 learned merges must tokenize the
    corpus into fewer symbols than the character baseline). Exact
    per-round merge agreement with a reference learner is pinned in
    tests/test_bpe.py."""
    from vector_db_spark.operators.bpe import END_OF_WORD, apply_bpe, learn_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, n_merges=8, min_freq=2)
    toked = apply_bpe(docs, merges)
    words = tokens("text")
    per_doc = toked.select(
        F.replace(
            F.concat_ws("", "bpe_tokens"), F.lit(END_OF_WORD), F.lit("")
        ).alias("joined"),
        F.concat_ws("", words).alias("want"),
        F.size("bpe_tokens").alias("n_toks"),
        (
            F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
            + F.size(words)
        ).alias("baseline_syms"),
    )
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.min(F.col("joined") == F.col("want")).alias("reconstruct_ok"),
        F.min(F.col("n_toks") <= F.col("baseline_syms")).alias("token_bound_ok"),
        (F.sum("n_toks") < F.sum("baseline_syms")).alias("merges_reduce_ok"),
    )


# --- deterministic shard export -----------------------------------------------


def _nib(expr: str, i: int) -> str:
    return f"(strpos('0123456789abcdef', substring({expr}, {i}, 1)) - 1)"


def _hexval(expr: str, start: int, nibbles: int) -> str:
    """DuckDB mirror of operators.export.hex_value."""
    return " + ".join(
        f"{_nib(expr, start + i)} * {16 ** (nibbles - 1 - i)}"
        for i in range(nibbles)
    )


@register(
    "export_shard_manifest",
    extra=True,
    oracle=f"""
WITH plan AS (
  SELECT doc_id,
         md5(doc_id::VARCHAR || ':export-v1') AS sk,
         md5(doc_id::VARCHAR || chr(31) || text) AS fp
  FROM documents)
SELECT (({_hexval('sk', 1, 4)}) % 16)::INTEGER AS shard_id,
       count(*)::BIGINT AS n_rows,
       sum({_hexval('fp', 1, 8)})::BIGINT AS checksum,
       arg_min(doc_id, sk)::BIGINT AS head_id
FROM plan GROUP BY 1
""",
)
def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard audit manifest of the deterministic training-data export:
    16 shards, engine-reproducible md5 shuffle order, order-independent
    content checksums. See operators/export.py for the scale argument."""
    docs = load_table(spark, sf_dir, "documents")
    return shard_manifest(shard_plan(docs, n_shards=16))


# --- LSH-blocked embedding decontamination ------------------------------------
# Candidate pairs come from the seeded hyperplane-LSH buckets and cosine is
# verified only within buckets — the plan has NO corpus×corpus crossJoin, so
# it survives 100× scale (candidate volume ~ Σ bucket_size², not n²). LSH
# blocking is inherently approximate for weak similarities; the oracle
# reproduces the *same* seeded blocking in SQL, so the approximation itself
# is hash-checked.


@register(
    "embedding_decontaminate_blocked",
    extra=True,
    oracle=f"""
WITH buckets AS ({_LSH_BUCKETS_SQL}),
cb AS (SELECT * FROM buckets WHERE vec_id % 37 <> 0),
bb AS (SELECT * FROM buckets WHERE vec_id % 37 = 0),
cand AS (
  SELECT DISTINCT cb.vec_id AS cid, bb.vec_id AS bid
  FROM cb JOIN bb ON cb.table_idx = bb.table_idx AND cb.bucket = bb.bucket),
s AS (
  SELECT c.cid AS vec_id,
         round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6) AS s
  FROM cand c
  JOIN embeddings x ON x.vec_id = c.cid
  JOIN embeddings y ON y.vec_id = c.bid)
SELECT vec_id, max(s) AS max_benchmark_sim, max(s) >= 0.9 AS contaminated
FROM s GROUP BY vec_id
""",
)
def embedding_decontaminate_blocked_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked semantic decontamination (the scale path of
    ``embedding_decontaminate`` for benchmark suites too big to
    broadcast): both sides bucketed by the oracle-pinned hyperplanes,
    cosine verified only within bucket collisions. Knobs pinned to the
    plane literals the oracle reproduces; the production no-knob path
    derives geometry strictly with auto-multiprobe."""
    from vector_db_spark.operators.dedup import embedding_decontaminate_blocked
    from vector_db_spark.operators.similarity import N_BITS, N_TABLES

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_decontaminate_blocked(
        emb.filter(F.col("vec_id") % 37 != 0),
        emb.filter(F.col("vec_id") % 37 == 0),
        threshold=0.9,
        n_tables=N_TABLES,
        n_bits=N_BITS,
    )


# --- hyperplane-LSH ANN search --------------------------------------------------

@register(
    "ann_lsh_search",
    extra=True,
    oracle=f"""
WITH buckets AS ({_LSH_BUCKETS_SQL}),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM buckets qb JOIN buckets cb
    ON qb.table_idx = cb.table_idx AND qb.bucket = cb.bucket
  WHERE qb.vec_id < 10
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_distance(q.qv, e.embedding::DOUBLE[]), 6) AS dist
  FROM cand c JOIN q ON q.query_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, dist, rank::INTEGER AS rank FROM (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_lsh_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN: candidates share a bucket in any of the
    L tables; exact re-rank within candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < 10)
    return lsh_search(queries, emb, 5)


# --- embedding UDF + built-in LSH cross-check (invariant-projection oracles) ---

@register(
    "embed_stub_docs",
    oracle="""
SELECT doc_id, 64 AS dim, TRUE AS unit_norm FROM documents
""",
)
def embed_stub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2 embedding generation (deterministic stub; Arrow-batched pandas
    UDF). The vector *values* are numpy-PRNG-derived and not reproducible in
    SQL, so the checked projection is the embedder's postcondition (the
    reference's E5 dim check, services/embedding_service.py): every doc gets
    a dim-64, L2-normalized vector. The full UDF runs for every row — the
    invariant can't pass without it."""
    docs = load_table(spark, sf_dir, "documents")
    out = embed_column(docs, "text", dim=64)
    norm = F.sqrt(F.aggregate(
        F.col("embedding").cast("array<double>"),
        F.lit(0.0),
        lambda a, x: a + x * x,
    ))
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        (F.abs(norm - 1.0) < 1e-3).alias("unit_norm"),
    )


# --- length-bucketed batch manifest -------------------------------------------

_LB_BUCKETS = 16


@register(
    "length_bucketed_batches",
    extra=True,
    oracle=f"""
WITH t AS (SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens FROM documents),
n AS (SELECT count(*) AS n FROM t),
r AS (SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS rowno
      FROM t)
SELECT ((rowno * {_LB_BUCKETS}) // n)::INTEGER AS bucket,
       count(*)::BIGINT AS n_docs,
       min(n_tokens)::BIGINT AS min_tokens,
       max(n_tokens)::BIGINT AS max_tokens,
       sum(n_tokens)::BIGINT AS sum_tokens,
       (max(n_tokens) * count(*) - sum(n_tokens))::BIGINT AS padded_waste
FROM r CROSS JOIN n GROUP BY 1
""",
)
def length_bucketed_batches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-batching manifest (operators/packing.py): rank-based length
    buckets via the distributed global row number (range partition + per-
    partition offsets — never a single-task global window), with the
    padding-waste metric per bucket. Exact against the oracle's window
    form."""
    from vector_db_spark.operators.packing import length_bucketed_batches

    return length_bucketed_batches(
        load_table(spark, sf_dir, "documents"), n_buckets=_LB_BUCKETS
    )


# --- per-document TF-IDF keywords ---------------------------------------------

_KW_TOP = 3


@register(
    "doc_keywords",
    extra=True,
    oracle=f"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) GROUP BY 1, 2),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
n AS (SELECT count(*) AS nd FROM documents),
sc AS (
  SELECT tf.doc_id, tf.tok, tf.tf,
         round(tf.tf * ln((1.0 + nd) / (1.0 + df.df)), 6) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n)
SELECT doc_id, tok AS term, tf::BIGINT AS tf, tfidf, kw_rank::INTEGER AS kw_rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS kw_rank FROM sc)
WHERE kw_rank <= {_KW_TOP}
""",
)
def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (smoothed idf
    ``ln((1+N)/(1+df))``): two aggregations over the token stream (term
    frequencies; document frequencies — broadcastable vocabulary), one
    windowed top-k per doc. The per-doc tagging primitive of a corpus
    browser, value-checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = docs.count()
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        tf.join(F.broadcast(dfreq), "term")
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round(
                F.col("tf") * F.log((1.0 + nd) / (1.0 + F.col("df"))), 6
            ).alias("tfidf"),
        )
        .withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= _KW_TOP)
        .select("doc_id", "term", "tf", "tfidf", F.col("kw_rank").cast("int").alias("kw_rank"))
    )


@register(
    "simhash_near_dup",
    extra=True,
    oracle="""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents)
  WHERE tok <> ''),
th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::UBIGINT AS h FROM toks),
bits AS (
  SELECT doc_id, b AS bit, sum(((h >> b) & 1)::BIGINT) AS s, count(*) AS c
  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bb GROUP BY 1, 2),
sh AS (
  -- empty/whitespace-only/NULL text has no tokens and hashes to 0,
  -- matching the engine kernel (dedup.simhash60)
  SELECT doc_id,
         sum(CASE WHEN 2 * s >= c THEN (1::UBIGINT << bit) ELSE 0 END)::BIGINT
           AS simhash
  FROM bits GROUP BY 1
  UNION ALL
  SELECT doc_id, 0::BIGINT AS simhash FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM th)),
bands AS (
  SELECT doc_id, simhash, i AS band_idx,
         (simhash >> (i * 15)::INTEGER) & 32767 AS band_value
  FROM sh CROSS JOIN (SELECT unnest(range(4)) AS i) ii)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
FROM bands a JOIN bands b USING (band_idx, band_value)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Hamming-≤3 SimHash near-dup pairs via pigeonhole band
    blocking (operators/dedup.py simhash_near_dup_pairs — the
    Manku-et-al web-dedup design): candidates from a (band, value)
    equi-join, completeness guaranteed by the pigeonhole principle, a
    codegen'd bit_count(xor) verify. Never an all-pairs scan; the oracle
    reproduces hashes, bands, and pairs bit-for-bit."""
    from vector_db_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, hamming_max=3, n_bands=4)


# --- containment / multi-probe / sparse cosine ---------------------------------

@register(
    "containment_near_dup",
    extra=True,
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> len(x) > 0) AS tk
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                        FOR i IN range(1, len(tk) - 1)]) AS s
  FROM t WHERE len(tk) >= 3)
SELECT doc_a, doc_b, containment FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6) AS containment
  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
WHERE containment >= 0.8
""",
)
def containment_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-containment pairs (|A∩B|/|A| ≥ 0.8) via the
    one-sided prefix filter (operators/dedup.containment_pairs) — the
    asymmetric quote/subset-document detector Jaccard misses. The DuckDB
    oracle is ALL-PAIRS ground truth, so a green row proves the prefix
    filter's zero-miss guarantee on real data."""
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(shingle_table(docs), threshold=0.8)


@register(
    "ann_lsh_multiprobe",
    oracle=f"""
WITH buckets AS ({_LSH_BUCKETS_SQL}),
probes AS (
  SELECT vec_id, table_idx,
         CASE WHEN f = 0 THEN bucket
              ELSE substring(bucket, 1, f - 1)
                   || (CASE WHEN substring(bucket, f, 1) = '1' THEN '0' ELSE '1' END)
                   || substring(bucket, f + 1, {N_BITS} - f)
         END AS bucket
  FROM buckets CROSS JOIN (SELECT unnest(range(0, {N_BITS} + 1)) AS f)
  WHERE vec_id < 10
),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT p.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM probes p JOIN buckets cb
    ON p.table_idx = cb.table_idx AND p.bucket = cb.bucket
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_distance(q.qv, e.embedding::DOUBLE[]), 6) AS dist
  FROM cand c JOIN q ON q.query_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, dist, rank::INTEGER AS rank FROM (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_lsh_multiprobe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN (Lv et al., VLDB'07): each query
    probes its own bucket plus every 1-bit-flip neighbor bucket in each
    table — (1+h)× candidates, recall of ~L·(1+h) tables, corpus bucketed
    once. Same exact re-rank as ann_lsh_search; the probe expansion is a
    pure codegen string transform reproduced verbatim in the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < 10)
    return lsh_search(queries, emb, 5, multiprobe=True)


# Posting-join volume budget (rows) for the benched df-cut variant: the
# ceiling is DERIVED from the measured df histogram as the largest D with
# Σ_{{df≤D}} df² ≤ budget — so the join volume stays bounded at ANY corpus
# size/sharding, where a relative frac cut stops cutting (measured: 645 s
# degeneration at 100×). 500k bites at sf0.01 (total 761k) and
# sf0.1 (total 73.2M) alike, so the derivation itself is oracle-exercised.
_TFIDF_CUT_BUDGET = 500_000


@register(
    "tfidf_cosine_pairs_cut",
    extra=True,
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
big AS (
  SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS tok
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM t)),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM big GROUP BY 1, 2),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM tf),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
hist AS (SELECT df AS dfv, count(*) AS c FROM df GROUP BY df),
cum AS (SELECT dfv, sum(c * dfv * dfv) OVER (ORDER BY dfv) AS cumv FROM hist),
ceil AS (SELECT coalesce(max(dfv), 0) AS d FROM cum WHERE cumv <= {_TFIDF_CUT_BUDGET}),
w AS (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * ln((1.0 + nd) / (1.0 + df.df)), 6) AS w
  FROM tf JOIN df USING (tok) CROSS JOIN n
  WHERE df.df <= (SELECT d FROM ceil)),
norms AS (
  SELECT doc_id,
         sqrt(SUM(CAST(round(w * w * 1e12) AS BIGINT))::DOUBLE / 1e12) AS norm
  FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         SUM(CAST(round(a.w * b.w * 1e12) AS BIGINT)) AS dot
  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, cos_sim FROM (
  SELECT doc_a, doc_b,
         round((dot::DOUBLE / 1e12) / (x.norm * y.norm), 6) AS cos_sim
  FROM dots JOIN norms x ON x.doc_id = doc_a JOIN norms y ON y.doc_id = doc_b)
WHERE cos_sim >= 0.6
""",
)
def tfidf_cosine_pairs_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-tuned TF-IDF bigram cosine pairs: the df ceiling is
    DERIVED from the measured df distribution under a fixed posting-join
    volume budget (Σ df² ≤ 500k rows) instead of a relative fraction —
    the scale lesson wired into the default: a fixed
    ``max_df_frac`` stops cutting on a sharded/multi-domain corpus
    (every per-shard df falls below frac·global-N; measured 645 s
    degeneration at 100×), while the budget form bounds the
    join volume itself at any corpus size. The derivation (df histogram
    → cumulative Σ df² → largest admissible ceiling) is exact integer
    arithmetic reproduced verbatim in the oracle's hist/cum/ceil CTEs.
    The full-volume form above stays the correctness baseline; this is
    the steady-signal entry the bench regression gate tracks."""

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(shingles(tokens("text"), 2)).alias("term")
    )
    return sparse_cosine_pairs(
        toks, threshold=0.6, max_df_frac=None,
        join_volume_budget=_TFIDF_CUT_BUDGET,
    )


@register(
    "quality_dup_auc",
    extra=True,
    oracle=f"""
WITH s AS (
  SELECT {_QUALITY_SQL} AS q,
         md5(array_to_string(list_slice({_TOKS}, 1, 5), ' ')) AS fp
  FROM documents),
lab AS (SELECT q, (count(*) OVER (PARTITION BY fp)) > 1 AS dup FROM s),
per AS (
  SELECT q,
         sum(CASE WHEN dup THEN 1 ELSE 0 END) AS p,
         sum(CASE WHEN dup THEN 0 ELSE 1 END) AS n
  FROM lab GROUP BY q),
cum AS (
  SELECT q, p, n,
         coalesce(sum(n) OVER (ORDER BY q
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
  FROM per),
tot AS (SELECT sum(2 * p * cumn + p * n) AS total2,
               sum(p) AS pos, sum(n) AS neg FROM cum)
SELECT pos::BIGINT AS n_pos, neg::BIGINT AS n_neg,
       CASE WHEN pos * neg > 0
            THEN round(total2::DOUBLE / (2.0 * pos * neg), 6) END AS auc
FROM tot
""",
)
def quality_dup_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC (Mann-Whitney with tie correction) of the quality
    score as a duplicate detector: does low quality predict membership
    in a prefix-fingerprint duplicate group (the dedup_exact_prefix
    survivor-group label)? AUC = P(score_dup > score_unique) + ½·P(tie), computed
    WITHOUT a corpus-scale sort: one groupBy collapses the corpus to
    O(distinct scores) rows; the rank window runs over that aggregate.
    All ingredients (2·p·cum_n + p·n) are exact integers — the value
    hash-matches any engine. The measurement behind every curation-
    threshold decision; pyspark.ml's areaUnderROC is the approximate
    (driver-collected curve) cousin."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        quality_score("text").alias("q"), doc_fingerprint("text", 5).alias("fp")
    )
    lab = s.select(
        "q", (F.count("*").over(Window.partitionBy("fp")) > 1).alias("dup")
    )
    per = lab.groupBy("q").agg(
        F.sum(F.col("dup").cast("long")).alias("p"),
        F.sum((~F.col("dup")).cast("long")).alias("n"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "p", "n", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cumn")
    )
    return cum.agg(
        F.sum("p").alias("n_pos"),
        F.sum("n").alias("n_neg"),
        F.when(
            F.sum("p") * F.sum("n") > 0,
            F.round(
                F.sum(2 * F.col("p") * F.col("cumn") + F.col("p") * F.col("n")).cast("double")
                / (2.0 * F.sum("p") * F.sum("n")),
                6,
            ),
        ).alias("auc"),
    )


_PMI_TOP = 30
_PMI_MIN_PAIR = 5


@register(
    "token_collocations_pmi",
    extra=True,
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
uni AS (
  SELECT tok, count(*) AS c FROM (SELECT unnest(tk) AS tok FROM t) GROUP BY 1),
t1 AS (SELECT sum(c) AS n1 FROM uni),
pair AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS n_pair
  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM t)
  GROUP BY 1, 2),
t2 AS (SELECT sum(n_pair) AS n2 FROM pair),
sc AS (
  SELECT w1, w2, n_pair,
         round(ln((n_pair::DOUBLE / n2) / ((a.c::DOUBLE / n1) * (b.c::DOUBLE / n1))), 6) AS pmi
  FROM pair JOIN uni a ON a.tok = w1 JOIN uni b ON b.tok = w2
  CROSS JOIN t1 CROSS JOIN t2
  WHERE n_pair >= {_PMI_MIN_PAIR})
SELECT w1, w2, n_pair::BIGINT AS n_pair, pmi, rank::INTEGER AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank FROM sc)
WHERE rank <= {_PMI_TOP}
""",
)
def token_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-{_PMI_TOP} adjacent token pairs by
    pointwise mutual information ln(p(ab)/(p(a)p(b))) with a min-count
    floor — the classic phrase-discovery signal (which word pairs stick
    together far beyond chance). Two token-stream aggregations (both
    map-side partial) + a broadcast unigram join; every probability is a
    ratio of exact counts, so PMI is engine-exact once rounded to 6
    digits. The
    rank window runs over the pair AGGREGATE (vocab², tiny), never the
    corpus."""
    docs = load_table(spark, sf_dir, "documents")

    tk = docs.select(tokens("text").alias("tk"))
    uni = tk.select(F.explode("tk").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c")
    )
    pair = (
        tk.select(F.explode(shingles(F.col("tk"), 2)).alias("p"))
        .select(
            F.split("p", " ").getItem(0).alias("w1"),
            F.split("p", " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= _PMI_MIN_PAIR)
    )
    n1 = uni.agg(F.sum("c")).collect()[0][0]      # scalar: total tokens
    n2 = tk.select(
        F.sum(F.greatest(F.size("tk") - 1, F.lit(0))).alias("n")
    ).collect()[0][0]                             # scalar: total bigrams
    sc = (
        pair.join(F.broadcast(uni.select(F.col("tok").alias("w1"), F.col("c").alias("__ca"))), "w1")
        .join(F.broadcast(uni.select(F.col("tok").alias("w2"), F.col("c").alias("__cb"))), "w2")
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") / F.lit(float(n2)))
                    / (
                        (F.col("__ca").cast("double") / F.lit(float(n1)))
                        * (F.col("__cb").cast("double") / F.lit(float(n1)))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _PMI_TOP)
    )


@register(
    "udtf_token_positions",
    extra=True,
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> len(x) > 0) AS tk
  FROM documents)
SELECT doc_id, len(tk)::BIGINT AS n_tokens, tk[len(tk)] AS last_tok,
       (len(tk) * (len(tk) - 1) // 2)::BIGINT AS pos_sum
FROM t WHERE len(tk) > 0
""",
)
def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined TABLE-function surface (SURVEY.md §2.9): a Python
    UDTF lateral-joined against the corpus explodes each document into
    (position, token) rows — the plan shows ``ArrowEvalPythonUDTF``
    (Arrow row transfer, lint-clean). The downstream aggregate pins every
    emitted row: n_tokens, the max_by-position last token, and the
    position checksum Σpos = n(n−1)/2 — values the oracle reproduces from
    the token list, so the UDTF's row stream is verified, not just its
    liveness."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, tok: string", useArrow=True)
    class Tokenize:
        def eval(self, text: str):
            if text:
                for i, t in enumerate(text.lower().split()):
                    yield i, t

    name = "tokenize_udtf"
    spark.udtf.register(name, Tokenize)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = spark.sql(
        "SELECT d.doc_id, t.pos, t.tok FROM {d} AS d, LATERAL "
        + name
        + "(d.text) AS t",
        d=docs,
    )
    return rows.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.max_by("tok", "pos").alias("last_tok"),
        F.sum("pos").alias("pos_sum"),
    )


@register(
    "rendezvous_shard_stability",
    extra=True,
    oracle="""
WITH w AS (
  SELECT doc_id,
         (SELECT s FROM (
            SELECT unnest(range(0, 8)) AS s,
                   ('0x' || substr(md5(doc_id::VARCHAR || '|rdv-v1|' || unnest(range(0, 8))::VARCHAR), 1, 15))::UBIGINT AS wt
          ) ORDER BY wt DESC, s LIMIT 1) AS s8,
         (SELECT s FROM (
            SELECT unnest(range(0, 9)) AS s,
                   ('0x' || substr(md5(doc_id::VARCHAR || '|rdv-v1|' || unnest(range(0, 9))::VARCHAR), 1, 15))::UBIGINT AS wt
          ) ORDER BY wt DESC, s LIMIT 1) AS s9
  FROM documents)
SELECT count(*)::BIGINT AS n_docs,
       SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END)::BIGINT AS n_moved,
       bool_and(CASE WHEN s8 <> s9 THEN s9 = 8 ELSE TRUE END) AS moves_only_to_new,
       (SELECT max(cnt) FROM (SELECT count(*) cnt FROM w GROUP BY s8))::BIGINT AS max_shard_n8,
       (SELECT min(cnt) FROM (SELECT count(*) cnt FROM w GROUP BY s8))::BIGINT AS min_shard_n8
FROM w
""",
)
def rendezvous_shard_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard stability audit: assign every document under
    N=8 and N=9 shards and check the defining property — every moved key
    moves TO the new shard (surviving shards never reshuffle among
    themselves), so shard-count growth at 100 TB rewrites ~1/(N+1) of
    the corpus, not (N-1)/N as mod-N would. Placement is md5-derived,
    reproduced weight-for-weight by the oracle; balance facts
    (max/min shard size at N=8) ride along."""
    from vector_db_spark.operators.export import rendezvous_shard

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    both = rendezvous_shard(
        rendezvous_shard(docs, "doc_id", 8, out_col="s8"), "doc_id", 9, out_col="s9"
    )
    sizes = both.groupBy("s8").count()
    return (
        both.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("s8") != F.col("s9"), 1).otherwise(0)).alias("n_moved"),
            F.min(
                F.when(F.col("s8") != F.col("s9"), F.col("s9") == 8).otherwise(F.lit(True))
            ).alias("moves_only_to_new"),
        )
        .crossJoin(
            sizes.agg(
                F.max("count").alias("max_shard_n8"), F.min("count").alias("min_shard_n8")
            )
        )
    )


def _coverage_oracle(k: int) -> str:
    """Generate the k-stage chained-CTE greedy max-coverage oracle: each
    stage picks argmax marginal new-shingle coverage given all previous
    picks — the exact greedy sequence, mechanically unrolled."""
    ctes = [
        f"""sh AS (
  SELECT DISTINCT doc_id, tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS g
  FROM (SELECT doc_id, {_TOKS} AS tok FROM documents),
       LATERAL (SELECT unnest(range(1, len(tok) - 1)) AS i)
  WHERE len(tok) >= 3)"""
    ]
    sels = []
    for i in range(1, k + 1):
        # one set-subquery (NOT IN (SELECT ... UNION ALL ...)): a pick-less
        # round (possible for the stochastic variant when its bucket is
        # empty/fully covered) contributes zero rows and the filter stays
        # well-defined, whereas a list of scalar subqueries would go NULL
        # and silently filter out EVERY later candidate.
        prev_docs = " UNION ALL ".join(f"SELECT doc_id FROM p{j}" for j in range(1, i))
        prev_cov = " UNION ".join(
            f"SELECT g FROM sh JOIN p{j} USING (doc_id)" for j in range(1, i)
        )
        cov = f"AND g NOT IN ({prev_cov})" if prev_cov else ""
        doc = f"AND doc_id NOT IN ({prev_docs})" if prev_docs else ""
        ctes.append(
            f"""p{i} AS (
  SELECT doc_id, count(*) AS new_cov FROM sh
  WHERE TRUE {doc} {cov}
  GROUP BY doc_id ORDER BY new_cov DESC, doc_id LIMIT 1)"""
        )
        sels.append(
            f"SELECT {i} AS rank, doc_id, new_cov::BIGINT AS new_cov FROM p{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(sels)


_COVERAGE_K = 5


@register("coverage_exemplar_docs", extra=True, oracle=_coverage_oracle(_COVERAGE_K))
def coverage_exemplar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage exemplar selection
    (operators/selection.greedy_max_coverage): the k=5 documents whose
    3-gram shingle sets jointly cover the most distinct shingles — the
    submodular diverse-subset primitive (1−1/e guarantee) behind
    labeling-budget and eval-set curation. Deterministic (gain desc,
    doc_id asc ties), so the oracle replays the exact pick sequence
    through k chained CTE stages; marginal coverages are value-checked
    per rank."""
    from vector_db_spark.operators.selection import greedy_max_coverage

    docs = load_table(spark, sf_dir, "documents")
    inc = docs.select(
        "doc_id", F.explode(shingles(tokens("text"), 3)).alias("g")
    )
    picks = greedy_max_coverage(inc, _COVERAGE_K)
    return spark.createDataFrame(picks, "rank int, doc_id long, new_cov long")


def _coverage_stochastic_oracle(k: int, eps: float, salt: str) -> str:
    """Generate the k-stage stochastic-greedy oracle: ids land in
    ``B = max(1, n // s)`` md5 hash buckets (``s = ⌈n·ln(1/ε)/k⌉``,
    fixed-point); stage i's sample is the unpicked ids of bucket
    ``(i-1) mod B`` and the pick is that sample's argmax marginal
    coverage — replaying operators/selection.stochastic_greedy_max_
    coverage decision-for-decision (identical bucket hashing, identical
    integer arithmetic)."""
    import math

    c_fp = int(round(math.log(1.0 / eps) * 1_000_000_000))
    denom = k * 1_000_000_000
    ctes = [
        f"""sh AS (
  SELECT DISTINCT doc_id, tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS g
  FROM (SELECT doc_id, {_TOKS} AS tok FROM documents),
       LATERAL (SELECT unnest(range(1, len(tok) - 1)) AS i)
  WHERE len(tok) >= 3)""",
        f"""ids AS (
  SELECT doc_id,
         (('0x' || substr(md5(doc_id::VARCHAR || '|{salt}'), 1, 15))::UBIGINT
          % (SELECT greatest(1, count(DISTINCT doc_id)
               // ((count(DISTINCT doc_id) * {c_fp} + {denom - 1}) // {denom}))
             FROM sh))::BIGINT AS b
  FROM (SELECT DISTINCT doc_id FROM sh))""",
        f"""bk AS (
  SELECT greatest(1, count(DISTINCT doc_id)
           // ((count(DISTINCT doc_id) * {c_fp} + {denom - 1}) // {denom}))::BIGINT AS b
  FROM sh)""",
    ]
    sels = []
    for i in range(1, k + 1):
        # one set-subquery (NOT IN (SELECT ... UNION ALL ...)): a pick-less
        # round (possible for the stochastic variant when its bucket is
        # empty/fully covered) contributes zero rows and the filter stays
        # well-defined, whereas a list of scalar subqueries would go NULL
        # and silently filter out EVERY later candidate.
        prev_docs = " UNION ALL ".join(f"SELECT doc_id FROM p{j}" for j in range(1, i))
        prev_cov = " UNION ".join(
            f"SELECT g FROM sh JOIN p{j} USING (doc_id)" for j in range(1, i)
        )
        cov = f"AND g NOT IN ({prev_cov})" if prev_cov else ""
        doc = f"AND doc_id NOT IN ({prev_docs})" if prev_docs else ""
        ctes.append(
            f"""s{i} AS (
  SELECT doc_id FROM ids
  WHERE b = ({i - 1} % (SELECT b FROM bk)) {doc})"""
        )
        ctes.append(
            f"""p{i} AS (
  SELECT doc_id, count(*) AS new_cov FROM sh JOIN s{i} USING (doc_id)
  WHERE TRUE {cov}
  GROUP BY doc_id ORDER BY new_cov DESC, doc_id LIMIT 1)"""
        )
        sels.append(
            f"SELECT {i} AS rank, doc_id, new_cov::BIGINT AS new_cov FROM p{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(sels)


_COVERAGE_EPS = 0.1
_COVERAGE_SALT = "sg-v1"


@register(
    "coverage_exemplar_stochastic",
    extra=True,
    oracle=_coverage_stochastic_oracle(_COVERAGE_K, _COVERAGE_EPS, _COVERAGE_SALT),
)
def coverage_exemplar_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic-greedy max-coverage exemplar selection
    (operators/selection.stochastic_greedy_max_coverage, Mirzasoleiman
    AAAI'15): k=5 exemplars by 3-gram coverage, each round's marginal
    gains evaluated over one deterministic md5 HASH BUCKET of the
    unpicked id space (~⌈n·ln(1/ε)/k⌉ docs in expectation) instead of
    the full corpus — the 100 TB form of coverage_exemplar_docs: the
    bucket is a prunable predicate, so each round scans ~1/B of the
    incidence (batch-stat pruning on the cache; file-level partition
    pruning when written partitioned by bucket). The oracle replays the
    bucket assignment AND the in-sample argmax per round, pinning the
    Mirzasoleiman invariants (expected sample quota, in-sample
    maximality, md5-determinism) value-exactly."""
    from vector_db_spark.operators.selection import stochastic_greedy_max_coverage

    docs = load_table(spark, sf_dir, "documents")
    inc = docs.select(
        "doc_id", F.explode(shingles(tokens("text"), 3)).alias("g")
    )
    picks = stochastic_greedy_max_coverage(
        inc, _COVERAGE_K, eps=_COVERAGE_EPS, salt=_COVERAGE_SALT
    )
    return spark.createDataFrame(picks, "rank int, doc_id long, new_cov long")
