"""Corpus-curation operators for LLM training-data pipelines: within-doc
repetition metrics, cross-doc boilerplate detection, train/test
decontamination, PII / denylist scrubbing, and mixture resampling.

The reference has no text surface at all (content is an opaque column,
``/root/reference/src/vector_db/storage.py:163-181``); these are
north-star extensions, designed Spark-first:

* **Per-document metrics never shuffle.** Repetition statistics
  (Gopher-style top-n-gram and duplicate-n-gram fractions) are pure
  native-expression pipelines over sorted shingle arrays — zero Exchange,
  fully inside whole-stage codegen. At 100 TB the difference between a
  map-only scan and an (explode → groupBy doc) shuffle of the n-gram
  stream is the whole job.
* **Cross-doc metrics shuffle once, keyed on the n-gram.** Boilerplate
  document frequency and decontamination joins key on the shingle, never
  materialize doc×doc pairs, and cut the big side with a broadcast/semi
  join wherever one side is small (the benchmark suite in
  decontamination is always ≪ the training corpus).
* All hashing is md5-derived so every metric is reproducible bit-for-bit
  in any engine (the DuckDB oracles hash-match end-to-end).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_db_spark import route
from vector_db_spark.caching import tracked_cache
from vector_db_spark.functions.text import shingles, tokens
from vector_db_spark.io import ensure_parallelism
from vector_db_spark.operators.dedup import shingle_table

# ---------------------------------------------------------------------------
# within-doc repetition (Gopher repetition rules, token-based)
# ---------------------------------------------------------------------------


def _dup_instance_count(sorted_arr: Column) -> Column:
    """Number of elements of a SORTED array that occur more than once
    (counting every instance). Computed by neighbor comparison — an
    element is unique iff it differs from both neighbors — so the whole
    thing is one codegen'd expression, no explode, no shuffle.

    ``element_at`` is guarded with ``greatest``/``least`` because Spark
    evaluates both sides of a boolean ``|`` (no short-circuit): index 0
    would raise even on the never-taken branch.
    """
    n = F.size(sorted_arr)
    idx = F.sequence(F.lit(1), n)  # 1-based positions
    uniq = F.size(
        F.filter(
            idx,
            lambda i: (
                (i == 1)
                | (F.element_at(sorted_arr, F.greatest(i - 1, F.lit(1))) != F.element_at(sorted_arr, i))
            )
            & (
                (i == n)
                | (F.element_at(sorted_arr, F.least(i + 1, n)) != F.element_at(sorted_arr, i))
            ),
        )
    )
    return F.when(n >= 2, n - uniq).otherwise(F.lit(0))


def _max_run_count(sorted_arr: Column) -> Column:
    """Count of the most frequent element of a SORTED array — a single
    ``aggregate`` fold carrying (prev, run, best). Zero shuffle."""
    zero = F.struct(
        F.lit("\t__none").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document, token-based:

    - ``top2_cnt`` / ``top2_frac`` — occurrences of the most frequent
      bigram, and its fraction of all bigram instances (Gopher's
      top-n-gram rule, threshold 0.2 for 2-grams);
    - ``dup3_cnt`` / ``dup3_frac`` — trigram instances whose trigram
      occurs more than once in the document, as a fraction of all trigram
      instances (Gopher's duplicate-n-gram rule).

    Entirely map-side: sorted shingle arrays + neighbor/fold expressions,
    no explode, no shuffle (plan-pinned in tests/test_curation.py).
    """
    toks = tokens(text_col)
    g2 = F.array_sort(shingles(toks, 2))
    g3 = F.array_sort(shingles(toks, 3))
    n2 = F.size(g2)
    n3 = F.size(g3)
    top2 = _max_run_count(g2)
    dup3 = _dup_instance_count(g3)
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        top2.cast("long").alias("top2_cnt"),
        F.when(n2 > 0, F.round(top2.cast("double") / n2, 6)).otherwise(F.lit(0.0)).alias(
            "top2_frac"
        ),
        dup3.cast("long").alias("dup3_cnt"),
        F.when(n3 > 0, F.round(dup3.cast("double") / n3, 6)).otherwise(F.lit(0.0)).alias(
            "dup3_frac"
        ),
    )


# ---------------------------------------------------------------------------
# cross-doc boilerplate
# ---------------------------------------------------------------------------


def boilerplate_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 4,
    min_df: int = 3,
) -> DataFrame:
    """Per-document boilerplate fraction: the share of a document's
    distinct ``n``-gram shingles that appear in at least ``min_df``
    documents corpus-wide (headers, footers, license blurbs, templated
    spans).

    Two aggregations, both keyed on the shingle / the doc — never a
    doc×doc comparison: (1) document frequency per shingle (map-side
    partial counts; the shingle table is distinct-per-doc *before* the
    explode), (2) join the df back onto the shingle stream — both sides
    hash-partitioned by ``shingle`` from step 1, so the join adds no
    extra Exchange of the big side — and re-aggregate per document.
    """
    sh = shingle_table(docs, text_col, id_col, n=n)
    df_tbl = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    joined = sh.join(df_tbl, "shingle")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") >= min_df, 1).otherwise(0)).alias("n_boiler"),
        )
        .select(
            id_col,
            F.col("n_shingles").cast("long"),
            F.col("n_boiler").cast("long"),
            F.round(F.col("n_boiler") / F.col("n_shingles"), 6).alias("boiler_frac"),
        )
    )


# ---------------------------------------------------------------------------
# train/test decontamination
# ---------------------------------------------------------------------------

# past this many test-side shingles the contamination join runs un-hinted
_MAX_BROADCAST_SHINGLES = 5_000_000


def decontaminate_ngrams(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing at
    least one ``n``-gram with the held-out/test corpus (the GPT-3/PaLM
    n-gram-overlap protocol; production pipelines use 8-13-gram windows —
    the fixture documents are ~50 tokens, so the query uses 4).

    The test-side shingle set is *usually* tiny relative to the corpus,
    so it is deduplicated and **broadcast**, and the training shingle
    stream is probed map-side — no corpus-sized shuffle at all. That
    smallness is size-routed (``vector_db_spark.route``; a suite that
    grows with the corpus would broadcast a corpus-sized set): past
    ``_MAX_BROADCAST_SHINGLES`` the join runs un-hinted. The test
    shingles are CACHED first, so the probe materializes the
    explode+distinct once and the join reuses it. Returns every
    train doc with its hit count and a ``contaminated`` flag (hit count
    0 = clean), so the output is a stable full-corpus audit table.
    """
    train_sh = shingle_table(train, text_col, id_col, n=n)
    test_sh = tracked_cache(
        test.select(
            F.explode(F.array_distinct(shingles(tokens(text_col), n))).alias(
                "shingle"
            )
        ).distinct(),
        "curation.decontaminate.test_sh",
    )
    small = route.fits(test_sh, _MAX_BROADCAST_SHINGLES, "curation.decontaminate")
    hits = (
        train_sh.join(F.broadcast(test_sh) if small else test_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_shingles"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hit_shingles", F.lit(0)).cast("long").alias("n_hit_shingles"),
            (F.coalesce("n_hit_shingles", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_ngrams_multi(
    train: DataFrame,
    suites: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 4,
) -> DataFrame:
    """Decontaminate against MANY benchmark suites in one corpus pass,
    with per-suite attribution — the production shape: a training run
    holds out MMLU-and-friends simultaneously, and "contaminated" is
    only actionable when it names WHICH suite leaked (drop the doc vs
    drop it from one eval). ``suites`` maps suite name → its documents.

    Spark shape: each suite's deduplicated shingles are tagged with the
    suite name and unioned into ONE (suite, shingle) table, so the
    corpus-sized training shingle stream is joined ONCE no matter how
    many suites ride along — per-suite hit counts fall out of the
    (doc, suite) aggregation, never a per-suite corpus re-scan. The
    combined tagged set, sized as the SUM of the suites, is cached and
    size-routed like :func:`decontaminate_ngrams`'s test shingles.

    Returns the tall hit table ``(id, suite, n_hit_shingles)`` — one
    row per contaminated (doc, suite) pair; clean docs are the
    anti-join, which callers take against their corpus when they need
    the keep-list (the single-suite form returns the full audit table;
    here that would be |corpus| × |suites| mostly-zero rows)."""
    if not suites:
        raise ValueError("decontaminate_ngrams_multi needs at least one suite")
    train_sh = shingle_table(train, text_col, id_col, n=n)
    tagged = None
    for suite_name, suite_df in suites.items():
        one = suite_df.select(
            F.lit(suite_name).alias("suite"),
            F.explode(F.array_distinct(shingles(tokens(text_col), n))).alias(
                "shingle"
            ),
        ).distinct()
        tagged = one if tagged is None else tagged.unionByName(one)
    tagged = tracked_cache(tagged, "curation.decontaminate_multi.tagged")
    small = route.fits(tagged, _MAX_BROADCAST_SHINGLES, "curation.decontaminate_multi")
    return (
        train_sh.join(F.broadcast(tagged) if small else tagged, "shingle")
        .groupBy(id_col, "suite")
        .agg(F.count("*").cast("long").alias("n_hit_shingles"))
    )


# ---------------------------------------------------------------------------
# PII / denylist scrubbing
# ---------------------------------------------------------------------------

EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 ()-]{7,}[0-9]"


def pii_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    denylist: tuple[str, ...] = ("hash", "join", "merge"),
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """PII / sensitive-term audit + redaction, all native regex
    expressions (codegen'd, zero shuffle): per document, counts of
    email-shaped and phone-shaped spans, count of denylisted terms
    (word-boundary matched), and the md5 fingerprint of the redacted
    text — the checksum a downstream stage verifies before the scrubbed
    corpus ships.

    Patterns are kept inside the RE2 ∩ java.util.regex common dialect so
    any engine reproduces the same spans (the DuckDB oracle hash-matches
    the redacted-text fingerprints).
    """
    low = F.lower(F.col(text_col))
    deny_re = r"\b(" + "|".join(denylist) + r")\b"
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(low, EMAIL_RE, replacement), PHONE_RE, replacement
        ),
        deny_re,
        replacement,
    )
    return docs.select(
        F.col(id_col),
        F.regexp_count(low, F.lit(EMAIL_RE)).cast("long").alias("email_cnt"),
        F.regexp_count(low, F.lit(PHONE_RE)).cast("long").alias("phone_cnt"),
        F.regexp_count(low, F.lit(deny_re)).cast("long").alias("deny_cnt"),
        F.md5(redacted).alias("redacted_fp"),
    )


# ---------------------------------------------------------------------------
# mixture resampling
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# corpus-LM token statistics
# ---------------------------------------------------------------------------


def bigram_doc_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Per-document bigram-LM surprisal (add-k smoothed) against the
    corpus's own bigram distribution — the CCNet-style quality signal one
    LM order above unigram scoring: documents whose token
    *transitions* are unusual for the corpus (boilerplate tables, token
    soup, wrong-language spans) score high even when their unigram mix
    looks normal.

    ``p(cur | prev) = (c(prev,cur) + k) / (c(prev·) + k·V)`` where
    ``c(prev·)`` counts bigrams starting with ``prev`` and ``V`` is the
    corpus unigram vocabulary size; ``bigram_bits`` is the mean
    ``-log2 p`` over the document's bigrams, rounded to 2 decimals so the
    cross-engine contract never depends on float-summation order.

    Scale posture: the bigram stream is a ``zip_with`` of each token array
    against its own 1-shift — no self-join, no positional explode-and-
    rejoin. Two aggregations build the LM (bigram counts; context counts
    derived from them, so they are exactly consistent). The scoring join
    keys on ``(prev, cur)``: the LM table is Zipf-bounded (observed
    bigrams ≪ V², typically ≲100× vocab) — left to AQE, which broadcasts
    it when it fits and shuffle-joins co-partitioned on the bigram
    otherwise. Context counts and the vocab scalar are always broadcast.
    Documents with fewer than 2 tokens have no bigrams and drop out, in
    both engines, by construction.
    """
    t = tokens(text_col)
    base = ensure_parallelism(docs).select(F.col(id_col), t.alias("t"))
    big = (
        base.filter(F.size("t") >= 2)
        .select(
            id_col,
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
                )
            ).alias("bg"),
        )
        .select(id_col, "bg.prev", "bg.cur")
    )
    bg_counts = big.groupBy("prev", "cur").agg(F.count("*").alias("c"))
    ctx_counts = bg_counts.groupBy("prev").agg(F.sum("c").alias("cc"))
    vocab_size = base.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").alias("vs")
    )
    scored = (
        big.join(bg_counts, ["prev", "cur"])
        .join(F.broadcast(ctx_counts), "prev")
        .crossJoin(F.broadcast(vocab_size))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(
                -F.log2((F.col("c") + F.lit(k)) / (F.col("cc") + F.lit(k) * F.col("vs")))
            ).alias("bits"),
        )
        .select(
            id_col,
            F.col("n_bigrams").cast("long"),
            F.round(F.col("bits"), 2).alias("bigram_bits"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    weight: Column,
    n: int,
    *,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: the top-``n`` rows by the
    A-Res key ``u^(1/w)`` (Efraimidis-Spirakis) — each row's inclusion
    probability is proportional to ``weight`` among competitors, computed
    in one distributed TakeOrdered pass (no sequential reservoir, no
    rejection loop).

    The uniform is md5-derived (15 hex nibbles → (0,1), the repo's
    engine-reproducible randomness idiom), so the SAME sample comes out of
    any engine, any partitioning, any rerun — a quality-weighted corpus
    subsample you can re-derive, audit, and oracle-check. ``pow`` and
    ``ln`` are IEEE-deterministic; ties are broken by id.

    Scale: map-side key computation + global top-n (TakeOrderedAndProject
    — partial top-n per partition, n·P rows to the driver-side merge)."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    val: Column = F.lit(0)
    for i in range(15):
        nib = F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1
        val = val + nib.cast("long") * F.lit(16 ** (14 - i))
    u = (val.cast("double") + 1.0) / F.lit(float(16**15 + 1))
    key = F.pow(u, 1.0 / weight)
    # 6-dp key rounding + id tiebreak: pow() is only ~1-ulp reproducible
    # ACROSS engines (JVM Math.pow vs C libm), so the order contract rides
    # on the rounded key, where a 1-ulp disagreement flips a boundary with
    # probability ~1e-13 per row instead of ~1e-4
    return (
        docs.withColumn("__akey", F.round(key, 6))
        .orderBy(F.col("__akey").desc(), F.col(id_col))
        .limit(n)
        .drop("__akey")
    )


def per_group_top_frac(
    docs: DataFrame,
    group_col: str,
    score_col: str,
    frac: float,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Adaptive per-group quality cut: keep the top ``frac`` of each group
    by ``score_col`` (at least one row per group), ties broken by smaller
    id. A global threshold over-prunes weak domains and under-prunes
    strong ones; ranking *within* the group (language, source, shard)
    applies the same selectivity everywhere — the standard "per-language
    quality floor" of corpus curation.

    Exact semantics: survivor ⇔ row_number ≤ ⌈frac · n_group⌉ under
    (score desc, id asc) — deterministic, reproducible in any engine with
    window SQL. Cost: one shuffle on ``group_col`` + an in-partition
    sort. If a single group outweighs a task at corpus scale, compute the
    group's score threshold from a quantile digest instead
    (operators/sketches.py) and filter map-side — same cut within the
    digest's rank-error bound, no sort."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col)
    ranked = docs.withColumn(
        "__rk",
        F.row_number().over(w.orderBy(F.desc(score_col), F.asc(id_col))),
    ).withColumn("__n", F.count("*").over(w))
    return ranked.filter(
        F.col("__rk") <= F.greatest(F.lit(1), F.ceil(F.lit(frac) * F.col("__n")))
    ).drop("__rk", "__n")


def group_sample_fixed_k(
    docs: DataFrame,
    group_col: str,
    k: int,
    *,
    id_col: str = "doc_id",
    salt: str = "gsample",
) -> DataFrame:
    """Exactly ``min(k, n_group)`` rows per group, drawn uniformly and
    **reproducibly**: order within the group by ``md5(id:salt)`` (a
    deterministic uniform permutation — same discipline as
    :func:`weighted_sample`) and keep the first k. Any engine, any
    partitioning, any rerun draws the identical sample — the property
    that makes eval subsets and debugging slices citable.

    One shuffle on ``group_col``; the window sorts md5 strings, so
    per-task memory is the group's rows (for corpus-scale groups cut
    first, or sample via the digest-threshold pattern)."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(group_col).orderBy(F.col("__h"), F.col(id_col))
    return (
        docs.withColumn("__h", h)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__h", "__rk")
    )


def weighted_fixed_k_sample(
    docs: DataFrame,
    weight_col: str,
    k: int,
    *,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Exactly ``min(k, n)`` rows drawn WITHOUT replacement with
    probability proportional to ``weight_col`` — Efraimidis-Spirakis
    (IPL'06) A-ES: each row gets key ``ln(u)/w`` for a uniform u and the
    k LARGEST keys win (equivalently u^(1/w); log space avoids pow()
    cross-engine drift). Completes the sampling triptych: Bernoulli
    weighted keep (``weighted_sample``), uniform fixed-k per group
    (``group_sample_fixed_k``), and now weighted fixed-k — the "give me
    exactly 10k docs, quality-weighted" training-mix draw.

    Reproducible by the md5 discipline: u is the first 13 hex digits of
    ``md5(id:salt)`` over 2^52 — an exactly-representable double, so
    every engine computes the identical key (round-12 before ranking;
    id tie-break). Zero-weight rows are excluded (their inclusion
    probability is 0). The global top-k is ``orderBy().limit(k)`` —
    Spark's TakeOrderedAndProject: per-partition heaps + a k-row driver
    merge, NO single-task sort of the corpus (a global row_number window
    would be one)."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    u = F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(float(1 << 52))
    key = F.round(F.log(u) / F.col(weight_col), 12)
    return (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("__key", key)
        .orderBy(F.col("__key").desc(), F.col(id_col))
        .limit(k)
        .select(*docs.columns, F.col("__key").alias("sample_key"))
    )


def token_distribution_drift(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between two corpora's unigram
    distributions — ONE row ``(n_tokens_a, n_tokens_b, vocab_union,
    js_divergence)``. The drift alarm of a crawl-over-crawl pipeline:
    JS is symmetric, bounded [0, ln 2], and defined even where supports
    differ (KL is not), so it is THE standard between-snapshot metric.

    Shape: one token-count aggregation per corpus (vocab-sized outputs),
    a full-outer join of the two count tables, one scalar aggregation.
    Raw corpora are scanned once each; nothing corpus-sized shuffles.
    Engine-exact: per-token contributions are rounded to 12 dp and
    decimal-summed, immune to float summation order at any parallelism."""
    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(text_col)).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias(name))
        )

    ca, cb = counts(corpus_a, "cnt_a"), counts(corpus_b, "cnt_b")
    joined = ca.join(cb, "tok", "full_outer").select(
        F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
        F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
    )
    tot = joined.agg(
        F.sum("cnt_a").alias("na"), F.sum("cnt_b").alias("nb"), F.count("*").alias("v")
    )
    with_p = joined.join(F.broadcast(tot)).select(
        (F.col("cnt_a") / F.col("na")).alias("p"),
        (F.col("cnt_b") / F.col("nb")).alias("q"),
        "na",
        "nb",
        "v",
    )
    m = (F.col("p") + F.col("q")) / 2
    contrib = (
        F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
        + F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / m)).otherwise(0.0)
    )
    return (
        with_p.select(
            "na",
            "nb",
            "v",
            F.round(contrib, 12).cast("decimal(28,12)").alias("c"),
        )
        .groupBy("na", "nb", "v")
        .agg(F.round(F.sum("c").cast("double"), 6).alias("js_divergence"))
        .select(
            F.col("na").alias("n_tokens_a"),
            F.col("nb").alias("n_tokens_b"),
            F.col("v").alias("vocab_union"),
            "js_divergence",
        )
    )


def group_safe_split(
    df: DataFrame,
    group_col: Column | str,
    *,
    fractions: tuple[float, ...] = (0.8, 0.1, 0.1),
    labels: tuple[str, ...] = ("train", "val", "test"),
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure
    function of the GROUP key (md5 bucket over 0..99), so every member of
    a group — exact duplicates, near-dup cluster ids, same-domain pages —
    lands on the same side by construction. Splitting i.i.d. by row leaks
    duplicated content across train/eval and inflates benchmarks (the
    contamination failure mode decontaminate_ngrams guards against,
    applied to the split itself).

    Map-only (no shuffle, no state): md5 of the group key → 15-nibble
    long → bucket mod 100 → threshold ladder from cumulative
    ``fractions``. Engine/run/layout invariant, so the exact assignment
    is re-derivable anywhere (full value oracle)."""
    if len(fractions) != len(labels):
        raise ValueError("fractions and labels must align")
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError("fractions must sum to 1")
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(g.cast("string"), F.lit(":" + salt))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    cum, expr = 0.0, None
    for frac, lab in zip(fractions[:-1], labels[:-1]):
        cum += frac
        cond = bucket < F.lit(int(round(cum * 100)))
        expr = F.when(cond, lab) if expr is None else expr.when(cond, lab)
    expr = (expr if expr is not None else F.when(F.lit(False), "")).otherwise(
        labels[-1]
    )
    return df.withColumn(out_col, expr)
