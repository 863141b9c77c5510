"""Greedy maximum-coverage subset selection (submodular curation).

"Pick the k documents that together cover the most distinct n-grams" is
the facility-location / max-coverage primitive behind diverse-exemplar
selection for labeling budgets, eval-set construction, and dedup-aware
corpus summarization. Greedy is the canonical algorithm: at each step
take the element with the largest MARGINAL gain; Nemhauser et al. '78
guarantees the result is within (1 − 1/e) of the optimal k-subset, and
for max-coverage no polynomial algorithm can beat that bound.

Spark shape: the (id, element) incidence table is computed once and
cached; each of the k rounds is one semi-join (elements already covered
by picks), one anti-join + keyed count (marginal gain per candidate),
and one TakeOrdered(1) — the driver holds exactly k picked rows.
Deterministic: ties break on (gain desc, id asc), so the DuckDB oracle
reproduces the pick sequence exactly via k chained CTE stages.

At 100 TB the exact greedy's k full passes become the bottleneck; the
production variant implemented here is **stochastic-greedy**
(Mirzasoleiman et al. AAAI'15, "Lazier Than Lazy Greedy"): each round
evaluates marginal gains over a ~⌈n/k·ln(1/ε)⌉-element candidate sample
instead of the full corpus, for a 1 − 1/e − ε expected-coverage
guarantee. The sample is realized as a deterministic md5 HASH BUCKET of
the id space (round r reads bucket r mod B, B ≈ n/s buckets) rather
than a per-round order-by-hash draw — measured on this box, an order-by
sample leaves every round scan-bound over the full incidence (the
semi-join still probes every row: k=25 exact 26.3 s vs order-sampled
26.5 s, no win), while the bucket form turns the sample into a
PRUNABLE predicate: batch-level stats skip non-sampled batches of the
cached incidence, and at 100 TB the incidence is written partitioned
by bucket so each round is a partition-pruned scan of ~s/n of the
corpus. The exact form is the correctness baseline the stochastic
variant is measured against (tests/test_curation.py pins the coverage
ratio on a planted family and exact decision agreement with a
single-node replay).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FP = 1_000_000_000


def stochastic_sample_size(n: int, k: int, eps: float) -> int:
    """⌈n·ln(1/ε)/k⌉ in exact fixed-point integer arithmetic (ln(1/ε)
    scaled by 1e9), so Spark and the SQL oracle compute the identical
    sample size with no float-boundary divergence."""
    c_fp = int(round(math.log(1.0 / eps) * _FP))
    if c_fp == 0:
        # eps so close to 1 that ln(1/eps) rounds to 0 in fixed point —
        # the sample size (and bucket count n // s) would be 0
        raise ValueError(f"eps={eps} too close to 1: sample size underflows to 0")
    return -(-(n * c_fp) // (k * _FP))


def sample_bucket_count(n: int, k: int, eps: float) -> int:
    """Number of hash buckets B so each bucket holds ~⌈n·ln(1/ε)/k⌉ ids
    in expectation: ``B = max(1, n // s)``. Pure integer arithmetic,
    reproduced verbatim by the SQL oracle."""
    return max(1, n // stochastic_sample_size(n, k, eps))


def _id_bucket(id_value: int, salt: str, n_buckets: int) -> int:
    """Driver-side replica of the Spark/SQL bucket expression:
    first 15 md5 nibbles of ``"{id}|{salt}"`` as an integer, mod B."""
    h = hashlib.md5(f"{id_value}|{salt}".encode()).hexdigest()
    return int(h[:15], 16) % n_buckets


def _bucket_col(id_col: str, salt: str, n_buckets: int):
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(n_buckets),
    )


def greedy_max_coverage(
    incidence: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    elem_col: str = "g",
) -> list[tuple[int, int, int]]:
    """Greedy max-coverage over a distinct ``(id, element)`` incidence
    table. Returns ``[(rank, id, marginal_new_coverage), ...]`` —
    exactly k rows on the driver (or fewer if coverage is exhausted:
    a zero-gain pick is never made)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    inc = incidence.select(id_col, elem_col).distinct().cache()
    inc.count()  # materialize once; every round reuses it
    picks: list[tuple[int, int, int]] = []
    try:
        for rank in range(1, k + 1):
            picked_ids = [p[1] for p in picks]
            cand = inc.filter(~F.col(id_col).isin(picked_ids)) if picked_ids else inc
            if picked_ids:
                covered = (
                    inc.filter(F.col(id_col).isin(picked_ids))
                    .select(elem_col)
                    .distinct()
                )
                # broadcast: the covered set is bounded by k picks × one
                # document's elements — k-bounded at ANY corpus scale, so
                # the anti-join never shuffles the candidate incidence.
                # The bound is APPLICATION-level, not enforced here: k is
                # small by contract (exemplar selection) and a "document"
                # is a bounded shingle/element set; a caller whose per-id
                # element sets are huge must not use the greedy exact
                # selector in the first place (its per-round collect of the
                # argmax already assumes bounded rows). A documented bound
                # rather than a limit-probe: the probe
                # would add one extra job per round on a set whose size the
                # caller controls directly via k.
                cand = cand.join(F.broadcast(covered), elem_col, "left_anti")
            top = (
                cand.groupBy(id_col)
                .agg(F.count("*").alias("new_cov"))
                .orderBy(F.col("new_cov").desc(), F.col(id_col).asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            picks.append((rank, top[0][0], top[0][1]))
    finally:
        inc.unpersist()
    return picks


def stochastic_greedy_max_coverage(
    incidence: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    elem_col: str = "g",
    eps: float = 0.1,
    salt: str = "sg-v1",
    materialize_dir: str | None = None,
) -> list[tuple[int, int, int]]:
    """Stochastic-greedy max-coverage (Mirzasoleiman et al. AAAI'15) with
    hash-bucket sampling: ids are assigned to ``B = max(1, n // s)``
    deterministic md5 buckets (``s = ⌈n·ln(1/ε)/k⌉``); round r evaluates
    marginal gains over only the unpicked ids of bucket ``(r-1) mod B``
    and picks that sample's argmax (gain desc, id asc). Expected
    coverage ≥ (1 − 1/e − ε)·OPT with E[|sample|] = n/B ≈ s.

    The bucket is a *predicate on a materialized column*, so each round
    SCANS ~s/n of the incidence (cached batch-stat pruning here; file-
    level partition pruning when the incidence is written partitioned by
    ``__b`` at corpus scale) — unlike an order-by-hash draw, whose
    semi-join still probes every incidence row per round. The covered-
    elements side is pruned the same way: picked ids' buckets are known
    on the driver, so the pass reads at most ``len(picks)`` buckets.

    A round whose sampled candidates are all fully covered makes no
    pick (the round is consumed; the next round reads a fresh bucket),
    so the result can have fewer than k rows and rank gaps — semantics
    the SQL oracle replays exactly.

    ``materialize_dir`` is the corpus-scale storage mode: the bucketed
    incidence is WRITTEN to Parquet ``partitionBy("__b")`` (one
    range-partitioned pass, so each writer task emits contiguous bucket
    dirs — no small-file explosion) and rounds re-read it with the
    bucket filter resolved as FILE-LEVEL PARTITION PRUNING
    (PartitionFilters in the scan), instead of executor-cache
    batch-stat pruning. Decision sequence is identical — the bucket is
    the same md5 function of the id either way; only where the pruning
    happens changes. Use it when the incidence outlives executor
    storage memory (the 100 TB shape); the caller owns the directory.

    Returns ``[(rank, id, marginal_new_coverage), ...]`` on the driver.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0.0 < eps < 1.0:
        raise ValueError("eps must be in (0, 1)")
    inc = incidence.select(id_col, elem_col).distinct()
    n = inc.select(id_col).distinct().count()
    if n == 0:
        return []
    n_buckets = sample_bucket_count(n, k, eps)
    n_part = int(
        inc.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # range-partition on (bucket, id): partitions stay bucket-pure (so the
    # per-round bucket filter prunes whole partitions/batches) WITHOUT
    # collapsing parallelism to B partitions when B < cluster width —
    # each bucket spans ~n_part/B contiguous partitions
    ranged = inc.withColumn(
        "__b", _bucket_col(id_col, salt, n_buckets)
    ).repartitionByRange(n_part, "__b", F.col(id_col))
    cached = materialize_dir is None
    if cached:
        inc = ranged.cache()
        inc.count()  # materialize once; rounds read bucket-pruned slices
    else:
        ranged.write.partitionBy("__b").mode("overwrite").parquet(materialize_dir)
        inc = incidence.sparkSession.read.parquet(materialize_dir)
    picks: list[tuple[int, int, int]] = []
    picked_buckets: set[int] = set()
    try:
        for rnd in range(1, k + 1):
            picked_ids = [p[1] for p in picks]
            cand = inc.filter(F.col("__b") == (rnd - 1) % n_buckets)
            if picked_ids:
                cand = cand.filter(~F.col(id_col).isin(picked_ids))
                covered = (
                    inc.filter(F.col("__b").isin(sorted(picked_buckets)))
                    .filter(F.col(id_col).isin(picked_ids))
                    .select(elem_col)
                    .distinct()
                )
                # k-bounded covered set (see greedy_max_coverage): broadcast
                # keeps the anti-join from shuffling the sampled candidates
                cand = cand.join(F.broadcast(covered), elem_col, "left_anti")
            top = (
                cand.groupBy(id_col)
                .agg(F.count("*").alias("new_cov"))
                .orderBy(F.col("new_cov").desc(), F.col(id_col).asc())
                .limit(1)
                .collect()
            )
            if not top:
                continue  # bucket exhausted; next round reads a fresh one
            picks.append((rnd, top[0][0], top[0][1]))
            picked_buckets.add(_id_bucket(top[0][0], salt, n_buckets))
    finally:
        if cached:
            inc.unpersist()
    return picks
