"""Text-analysis column functions (north-star LLM-data-pipeline operators).

All are native Spark SQL expressions (JVM-side, codegen'd) — the hot path
of a 100 TB text pipeline must not cross into Python per row. Each has an
exact DuckDB-SQL equivalent used by the oracle queries in
``vector_db_spark.queries.text``.

The reference has no text operators (its content column is opaque,
storage.py:163-181); these extend the engine per the north-star brief.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword votes for the n-gram/stopword language-ID heuristic. Tiny on
# purpose: broadcast-joined as a literal table; a production list would be
# a few hundred words per language (still broadcastable).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "in", "that", "it", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "una"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "dans"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不", "人", "这"],
}

PUNCT_CLASS = r"[^.,!?;:]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lower-cased trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(col: Column | str) -> Column:
    t = tokens(col)
    return F.when(F.length(F.trim(F.col(col) if isinstance(col, str) else col)) == 0, F.lit(0)).otherwise(F.size(t))


def shingles(tokens_col: Column, n: int) -> Column:
    """Word n-grams: ``['a b c', 'b c d', ...]``; empty when fewer than n
    tokens. The unit of MinHash / Jaccard dedup.

    The token array is LET-BOUND as a lambda variable (argument of the
    outer ``transform``) so a computed ``tokens(...)`` expression is
    evaluated once per row — referencing it directly inside the window
    lambda re-runs the tokenizer regex at every shingle position,
    O(L²) per document (same trap as ``winnow_fingerprints``)."""
    return F.element_at(
        F.transform(
            F.array(tokens_col),
            lambda t: F.when(
                F.size(t) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1,
    )


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are sentence punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(c, PUNCT_CLASS, "")) / F.length(c)
    )


def doc_fingerprint(col: Column | str, prefix_tokens: int | None = None) -> Column:
    """Content fingerprint: md5 of the normalized token stream (optionally
    only its first ``prefix_tokens`` — prefix fingerprints catch
    truncation/expansion duplicates that full-hash dedup misses)."""
    t = tokens(col)
    if prefix_tokens is not None:
        t = F.slice(t, 1, prefix_tokens)
    return F.md5(F.concat_ws(" ", t))


def quality_score(col: Column | str) -> Column:
    """Composite document quality: 0.5·length-saturation (tokens/100 capped
    at 1) + 0.5·lexical diversity (distinct-token ratio), rounded to 6dp.
    The filterable scalar a training-data prep job thresholds on.

    Blank/whitespace-only text scores 0: splitting '' yields [''] (size 1,
    diversity 1.0), which would otherwise score 0.505 — above common
    quality floors, so empty documents would pass the very filter that
    exists to remove junk."""
    c = F.col(col) if isinstance(col, str) else col
    t = tokens(col)
    return F.when(F.length(F.trim(c)) == 0, F.lit(0.0)).otherwise(
        F.round(
            0.5 * F.least(F.size(t) / F.lit(100.0), F.lit(1.0))
            + 0.5 * (F.size(F.array_distinct(t)).cast("double") / F.size(t)),
            6,
        )
    )


def winnow_fingerprints(col: Column | str, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD '03): hash every character ``k``-gram of the normalized text,
    slide a ``w``-hash window, keep each window's minimum hash; the
    distinct selected hashes are the document's fingerprint set.

    Guarantee: any substring match of length ≥ ``w + k - 1`` between two
    documents yields at least one shared fingerprint, while only ~2/(w+1)
    of the k-gram hashes are retained.

    The classic presentation uses a *rolling* hash because a sequential
    scanner wants O(1) per-position updates; in a columnar engine the
    k-gram hashes are independent expressions that vectorize directly, so
    md5 is used instead — deterministic and reproducible in any engine
    (lexicographic min over fixed-width hex = consistent selection).
    Everything here is JVM-side (codegen'd ``transform``/``slice``), no
    Python in the hot path."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(F.lower(c), "[^a-z0-9]", "")
    # clamped sequences keep slice/substr args legal for short docs; the
    # final `when` guard discards those rows' partial windows anyway
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - k + 1, F.lit(1))),
        lambda i: F.md5(s.substr(i, F.lit(k))),
    )
    # LET-BINDING, load-bearing: `hashes` must be the *argument* of a
    # higher-order function (evaluated once per row), with every window
    # referencing the bound lambda variable. Referencing the `hashes`
    # expression inside the window lambda re-evaluates ALL ~L k-gram
    # md5s per window position — O(L²) md5 per document (measured:
    # winnow candidates over the sf0.1 corpus 368 s → 3.1 s warm with
    # this binding, identical output).
    wins = F.element_at(
        F.transform(
            F.array(hashes),
            lambda h: F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(h) - w + 1, F.lit(1))),
                lambda j: F.array_min(F.slice(h, j, w)),
            ),
        ),
        1,
    )
    return F.when(F.length(s) >= k + w - 1, F.array_distinct(wins)).otherwise(
        F.array().cast("array<string>")
    )
