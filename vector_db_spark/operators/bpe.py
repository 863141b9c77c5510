"""Distributed BPE vocabulary learning — the tokenizer-training step of an
LLM data pipeline, expressed as iterated Spark aggregations.

North-star extension (the reference has no tokenizer surface). The
algorithm is textbook Sennrich-style BPE over a *word-frequency table*,
which is what makes it scale: the corpus is scanned exactly once (one
``groupBy(word)``); every merge iteration then runs over the distinct-word
table — Zipf-bounded (millions of rows at 100 TB, not billions) and
fully distributed. Per iteration:

1. **pair counts** — each word's symbol array is zipped against its own
   1-shift (the same no-self-join idiom as ``curation.bigram_doc_scores``)
   and exploded; one partial-aggregated ``groupBy(left, right)`` weighted
   by word frequency.
2. **best pair** — ``orderBy(count desc, left, right) limit 1``: a
   TakeOrderedAndProject (no global sort), with a total deterministic
   tie-break so reruns and engines agree.
3. **merge** — a native ``aggregate`` fold rewrites each symbol array,
   replacing adjacent ``(a, b)`` with ``a+b`` left-to-right. The fold's
   replace-last rule equals greedy left-to-right scanning because a merged
   symbol ``a+b`` can never equal ``a`` (``b`` is non-empty), so it can
   never immediately re-trigger as the left element of the same pair.

The driver loop holds only the merge list (K rows); the word table is
``localCheckpoint``-ed every few iterations to keep lineage flat. This is
an inherently iterative algorithm (each merge depends on the last), so it
registers as a rows-only query; tests pin exact agreement with a pure-
Python reference BPE on real corpus samples.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_db_spark.functions.text import tokens
from vector_db_spark.io import ensure_parallelism

END_OF_WORD = "</w>"
_CHECKPOINT_EVERY = 4


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, symbols): the one corpus-wide scan. ``symbols`` is the
    character split plus the end-of-word marker."""
    w = (
        ensure_parallelism(docs)
        .select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    chars = F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    return w.withColumn("symbols", F.concat(chars, F.array(F.lit(END_OF_WORD))))


def pair_counts(words: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-symbol pair counts: map-side zip-shift,
    one aggregation."""
    pairs = F.zip_with(
        F.slice("symbols", 1, F.size("symbols") - 1),
        F.slice("symbols", 2, F.size("symbols") - 1),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        words.filter(F.size("symbols") >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy("p.left", "p.right")
        .agg(F.sum("freq").alias("cnt"))
    )


def merge_pair(symbols: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent ``(a, b)`` into ``a+b`` as a
    native fold — no UDF, stays inside codegen."""
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe(
    docs: DataFrame,
    *,
    n_merges: int = 10,
    min_freq: int = 2,
    text_col: str = "text",
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns
    ``[(step, left, right, merged, pair_count), ...]`` in merge order.
    Stops early when the best pair's corpus count falls below
    ``min_freq`` (merging hapax pairs just memorizes words)."""
    words = word_freqs(docs, text_col).localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(n_merges):
        best = (
            pair_counts(words)
            .orderBy(F.desc("cnt"), "left", "right")
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_freq:
            break
        a, b, cnt = best[0]["left"], best[0]["right"], int(best[0]["cnt"])
        merges.append((step, a, b, a + b, cnt))
        words = words.withColumn("symbols", merge_pair(F.col("symbols"), a, b))
        if step % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1:
            words = words.localCheckpoint()
    return merges


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a learned merge list. The merge recurrence is applied
    per *word* via an Arrow-batched kernel (the standard rank-priority BPE
    tokenizer loop — a sequential recurrence, not fold-expressible for
    hundreds of merges without unbounded expression depth). Map-only plan;
    the merge ranks broadcast with the closure."""
    ranks = {(m[1], m[2]): m[0] for m in merges}
    joined = {m[1] + m[2] for m in merges}
    assert len(joined) == len(merges), "ambiguous merge list"

    def encode_word(word: str) -> list[str]:
        syms = list(word) + [END_OF_WORD]
        while len(syms) >= 2:
            cand = [
                (ranks[(syms[i], syms[i + 1])], i)
                for i in range(len(syms) - 1)
                if (syms[i], syms[i + 1]) in ranks
            ]
            if not cand:
                break
            rank, _ = min(cand)
            # merge every LTR occurrence of that pair (one full pass, the
            # same semantics as the fold in merge_pair)
            a, b = next(p for p, r in ranks.items() if r == rank)
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    @F.pandas_udf("array<string>")
    def kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").lower().strip().split():
                toks.extend(encode_word(w))
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, kernel(F.col(text_col)))
