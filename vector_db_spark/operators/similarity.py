"""Similarity search beyond exact brute force: LSH-bucketed ANN.

The blocker is ``hyperplane_lsh_buckets`` — sign-of-dot-product random
hyperplanes. The hyperplanes are module-level constants from a seeded RNG
and are embedded as array literals into both the Spark plan and the DuckDB
oracle SQL, so the whole ANN pipeline is *exactly* reproducible (unlike
pyspark.ml's LSH, whose model state is opaque).

Search = bucket queries with the same hyperplanes → equi-join on
(table_idx, bucket) → exact distance → per-query top-k. With L tables of
h bits, the candidate join touches ~L·n/2^h corpus rows per query instead
of n — the same sublinear shape as the reference's HNSW beam search
(hnsw.py:330-374), but as a data-parallel equi-join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from vector_db_spark import route
from vector_db_spark.caching import tracked_cache
from vector_db_spark.functions.distance import dot_product, euclidean
from vector_db_spark.operators.knn import _MAX_BATCH_QUERIES
from vector_db_spark.operators.topk import nearest_k

DIM = 64
N_TABLES = 4
N_BITS = 4


def make_hyperplanes(
    n_tables: int, n_bits: int, *, dim: int = DIM, seed: int = 42
) -> list[list[list[float]]]:
    """(L, h, dim) hyperplanes, 6dp-rounded so SQL literals are compact
    and bit-exact everywhere. Deterministic in (shape, seed); the module
    defaults reproduce the oracle-pinned ``HYPERPLANES`` exactly."""
    rng = np.random.default_rng(seed)
    return [
        [[round(float(x), 6) for x in plane] for plane in table]
        for table in rng.standard_normal((n_tables, n_bits, dim))
    ]


HYPERPLANES: list[list[list[float]]] = make_hyperplanes(N_TABLES, N_BITS)

# Per-bucket occupancy the geometry auto-rule aims for: in-bucket
# candidate volume per vector is ~target·L, independent of corpus size.
TARGET_BUCKET_SIZE = 64


def derive_lsh_geometry(
    n: int,
    *,
    threshold: float = 0.9,
    target_bucket_size: int = TARGET_BUCKET_SIZE,
    recall_floor: float = 0.9,
    min_bits: int = N_BITS,
    max_bits: int = 24,
    min_tables: int = N_TABLES,
    max_tables: int = 16,
    multiprobe: bool = False,
    strict: bool = False,
) -> tuple[int, int]:
    """Corpus-derived LSH geometry ``(n_tables, n_bits)`` — the bucket-size
    rule of thumb made executable instead of documented (SCALE.md,
    Guards and bounds):

    - ``n_bits``: h ≈ ⌈log₂(n / target_bucket_size)⌉ — per-table
      in-bucket candidate volume is Σ bucket² ≈ n²/2^h, so holding
      expected bucket size constant keeps per-vector candidate work
      O(target·L) at ANY corpus size. The measured failure this encodes:
      static h=4 at 200 k vectors ⇒ 2.5×10⁷ candidate pairs per table
      ("unusable by construction"), and 11.5× wall at 10× data.
    - ``n_tables``: the smallest L with 1−(1−p^h)^L ≥ recall_floor,
      where p = 1 − acos(s)/π is the per-bit collision probability at
      the recall ANCHOR s = max(threshold, 0.85) — L grows with h so
      raising h for scale never silently trades away near-dup recall.
      Anchoring at ≥0.85 is deliberate: hyperplane LSH cannot hold high
      recall for weak similarities at large h (p(0.45)^12 ≈ 0.006 ⇒
      L≈400), and the near-dup contract is about true duplicates; pairs
      above the anchor have strictly higher collision probability.

    Pure integer/float math on one scalar ``n`` — callers fetch n with a
    cheap count (or pass one they already have). Bounds: h ∈ [min_bits,
    max_bits] (2^24 buckets ≈ 16M — beyond that, shard the corpus), L ∈
    [min_tables, max_tables] (each table is one more bucket-join pass).
    Defaults at fixture scale collapse to the oracle-pinned (4, 4).

    ``multiprobe=True`` derives L for a search that ALSO probes every
    Hamming-distance-1 bucket (:func:`expand_probe_buckets`): the
    per-table collision probability rises to P(d ≤ 1) = p^h +
    h·p^(h−1)(1−p), so the same recall floor needs far fewer tables —
    callers that enable it must actually expand one join side or the
    analytic floor is fiction. ``strict=True`` turns the
    floor-unattainable clamp into a ``ValueError`` instead of a
    ``UserWarning`` — at 100 TB nobody reads executor logs; recall-
    floor-critical callers (near-dup dedup) use this to fail loudly or
    auto-escalate to multiprobe rather than silently missing 30%+ of
    true near-dups."""
    import math

    h = min_bits
    if n > target_bucket_size:
        h = max(min_bits, math.ceil(math.log2(n / target_bucket_size)))
    h = min(h, max_bits)
    s = min(1.0, max(threshold, 0.85))
    p = 1.0 - math.acos(s) / math.pi
    per_table = p**h
    if multiprobe:
        # probe set = base bucket + h one-bit flips ⇒ a pair collides in
        # a table when its signatures differ in ≤ 1 of the h bits
        per_table = p**h + h * p ** (h - 1) * (1.0 - p)
    if per_table >= 1.0 or per_table <= 0.0:
        tables = min_tables
    else:
        tables = math.ceil(math.log(1.0 - recall_floor) / math.log(1.0 - per_table))
    if tables > max_tables:
        # the floor is NOT silently tradable: past ~300k vectors the
        # required L exceeds the table budget (L=37 at 5M for floor 0.9),
        # and clamping alone would quietly miss 30%+ of true near-dups.
        # Raise (strict) or surface it and name the mitigations.
        achieved = 1.0 - (1.0 - per_table) ** max_tables
        msg = (
            f"derive_lsh_geometry: recall floor {recall_floor} needs "
            f"L={tables} tables at h={h}"
            f"{' even with multiprobe' if multiprobe else ''}; "
            f"max_tables={max_tables} achieves analytic recall ≈ "
            f"{achieved:.2f} at the anchor. Raise max_tables, "
            "pass multiprobe=True on the search side "
            "(expand_probe_buckets: ~(1+h)x candidates per table), or "
            "lower target_bucket_size."
        )
        if strict:
            raise ValueError(msg)
        import warnings

        warnings.warn(msg + " (clamped)", stacklevel=2)
    return max(min_tables, min(max_tables, tables)), h


def derive_strict_geometry(
    n: int, *, threshold: float = 0.9, **kwargs
) -> tuple[int, int, bool]:
    """The recall-floor-critical derivation policy, shared by every
    blocked-dedup/decontamination default path: derive strictly; when the
    base geometry cannot hold the floor within the table budget,
    AUTO-ESCALATE to multiprobe (re-deriving L against the d≤1 collision
    probability) — still strict, so a floor even multiprobe cannot hold
    raises instead of silently missing pairs. Returns
    ``(n_tables, n_bits, use_multiprobe)``; when ``use_multiprobe`` is
    True the caller MUST expand one join side via
    :func:`expand_probe_buckets` or the analytic recall is fiction."""
    try:
        t, h = derive_lsh_geometry(n, threshold=threshold, strict=True, **kwargs)
        return t, h, False
    except ValueError:
        t, h = derive_lsh_geometry(
            n, threshold=threshold, multiprobe=True, strict=True, **kwargs
        )
        return t, h, True


def _bucket_expr(
    vec_col: str, table_idx: int, planes: list[list[list[float]]] | None = None
) -> Column:
    """Bit string, one sign bit per hyperplane: e.g. '101100'."""
    bits = [
        F.when(
            dot_product(
                F.col(vec_col), F.array(*[F.lit(x) for x in plane])
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in (planes or HYPERPLANES)[table_idx]
    ]
    return F.concat(*bits)


def _make_bucket_kernel(planes: list[list[list[float]]]):
    n_tables, n_bits = len(planes), len(planes[0])
    plane_mat = np.array(planes, dtype=np.float64).reshape(
        n_tables * n_bits, len(planes[0][0])
    ).T  # (dim, L·h): one matmul buckets every table at once

    @F.pandas_udf(ArrayType(StringType()))
    def kern(s):  # pragma: no cover - exercised via queries/tests
        import pandas as pd

        if s.empty:
            return pd.Series([], dtype=object)
        X = np.array(s.tolist(), dtype=np.float64)  # (batch, dim)
        chars = np.where(X @ plane_mat >= 0, "1", "0")  # (batch, L·h)
        return pd.Series(
            [
                ["".join(row[t * n_bits : (t + 1) * n_bits]) for t in range(n_tables)]
                for row in chars
            ]
        )

    return kern


_bucket_kernel = _make_bucket_kernel(HYPERPLANES)
_KERNEL_CACHE: dict[tuple[int, int], object] = {(N_TABLES, N_BITS): _bucket_kernel}


def hyperplane_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    impl: str = "kernel",
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
) -> DataFrame:
    """(id, table_idx, bucket): L bucket assignments per vector.

    ``n_bits`` is the SCALE knob: in-bucket candidate volume is
    Σ bucket_size² ≈ n²/2^h per table, so h must grow ~log₂(n) as the
    corpus grows (the 10× scale-curve run measured 11.5× wall on the
    near-dup join at fixed h=4 — the expected fixed-bucket-count
    quadratic creep; h=8 restores ~linear). The defaults are pinned by
    the DuckDB oracle's plane literals; overrides draw fresh seeded
    planes via :func:`make_hyperplanes`.

    One scan: all L·h sign bits are computed in a single pass and exploded
    to L rows (a per-table union would re-scan the corpus L times).

    Two physical strategies, same buckets:

    - ``impl="kernel"`` (default): one Arrow-batched BLAS matmul computes
      every table's sign bits at once — 4× the throughput of the fold
      (profiled: 1.05 s → 0.28 s over the sf0.1 corpus), because
      higher-order ``aggregate``/``zip_with`` folds evaluate interpreted
      per element, outside whole-stage codegen.
    - ``impl="expr"``: the native-expression form, the semantic definition
      the DuckDB oracle mirrors (queries/text.py ``_bucket_sql``).

    The two differ only in floating summation order; a bucket flip needs
    |dot| below ~1e-12, vanishingly unlikely for 6dp-rounded hyperplanes
    against real embeddings. ``tests/test_text_ops.py`` pins kernel==expr
    on the fixture corpus."""
    custom = (n_tables, n_bits) != (N_TABLES, N_BITS)
    if impl == "kernel":
        kern = _KERNEL_CACHE.get((n_tables, n_bits))
        if kern is None:
            kern = _make_bucket_kernel(make_hyperplanes(n_tables, n_bits))
            _KERNEL_CACHE[(n_tables, n_bits)] = kern
        return df.select(
            F.col(id_col),
            F.posexplode(kern(F.col(vec_col).cast("array<double>"))).alias(
                "table_idx", "bucket"
            ),
        )
    if impl != "expr":
        raise ValueError(f"unknown impl {impl!r}; choose 'kernel' or 'expr'")
    planes = make_hyperplanes(n_tables, n_bits) if custom else HYPERPLANES
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("table_idx"),
                _bucket_expr(vec_col, t, planes).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return df.select(F.col(id_col), F.explode(entries).alias("__e")).select(
        id_col, "__e.table_idx", "__e.bucket"
    )


def expand_probe_buckets(buckets: DataFrame, n_bits: int = N_BITS) -> DataFrame:
    """Multi-probe expansion (Lv et al., VLDB'07): for each base bucket
    emit the bucket itself plus every bucket at Hamming distance 1 (one
    sign bit flipped) — ``1 + n_bits`` probes per table. Applied to the
    QUERY side only: recall rises as if more hash tables existed, but the
    corpus is bucketed (and stored) exactly once — the memory/recall
    trade that made multi-probe the standard LSH deployment shape. The
    probe set is a pure string transform of the base bucket, so the whole
    expansion stays inside whole-stage codegen and is reproducible in SQL.

    Input/output schema: ``(id, table_idx, bucket)``; probes are distinct
    by construction (each flip changes exactly one position)."""
    id_col, *_ = buckets.columns
    variants = [F.col("bucket")] + [
        F.concat(
            F.substring("bucket", 1, i),
            F.when(F.substring("bucket", i + 1, 1) == "1", F.lit("0")).otherwise(
                F.lit("1")
            ),
            F.substring("bucket", i + 2, n_bits - i - 1),
        )
        for i in range(n_bits)
    ]
    return buckets.select(
        id_col, "table_idx", F.explode(F.array(*variants)).alias("bucket")
    )


def lsh_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    multiprobe: bool = False,
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
) -> DataFrame:
    """ANN top-k by euclidean distance within the union of the query's L
    buckets over a (vec_id, embedding) corpus, as the k-NN result contract
    (``operators/topk.py``). With ``multiprobe=True`` each query
    additionally probes every bucket one bit-flip away in each table
    (``expand_probe_buckets``) — ~(1+h)× the candidate volume for strictly
    higher recall, corpus-side storage unchanged.

    ``n_tables``/``n_bits`` default to the oracle-pinned literals (the
    fixture-scale geometry); at corpus scale pass
    ``derive_lsh_geometry(n)`` — the fixed h=4 measured as
    "unusable by construction" at 200 k vectors (16 buckets/table ⇒
    ~L·n/16 candidates per query).

    The query side is broadcast-hinted while it is within
    ``knn._MAX_BATCH_QUERIES`` rows (route site ``lsh.queries``); past
    that it joins un-hinted."""
    hint = (
        F.broadcast
        if route.fits(queries, _MAX_BATCH_QUERIES, "lsh.queries")
        else (lambda d: d)
    )
    cbuckets = hyperplane_lsh_buckets(
        corpus, "embedding", "vec_id", n_tables=n_tables, n_bits=n_bits
    )
    qbuckets = hyperplane_lsh_buckets(
        queries, "query_vec", "query_id", n_tables=n_tables, n_bits=n_bits
    )
    if multiprobe:
        qbuckets = expand_probe_buckets(qbuckets)
    # dedup collisions on bare (query_id, neighbor_id) ids — carrying the
    # query vector through the distinct would shuffle the float arrays as
    # part of the grouping key; the vectors re-attach afterwards (query
    # side hinted like the buckets, corpus side equi-join)
    cand_ids = (
        hint(qbuckets)
        .join(cbuckets, ["table_idx", "bucket"])
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()  # a pair can collide in several tables
    )
    cand = cand_ids.join(
        corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id"
    ).join(hint(queries.select("query_id", "query_vec")), "query_id")
    scored = cand.select(
        "query_id", "neighbor_id", euclidean("query_vec", "embedding").alias("dist")
    )
    return nearest_k(scored, k)


def sparse_cosine_pairs(
    toks: DataFrame,
    *,
    id_col: str = "doc_id",
    term_col: str = "term",
    threshold: float = 0.6,
    max_df_frac: float | None = 0.2,
    max_df: int | None = None,
    join_volume_budget: int | None = None,
) -> DataFrame:
    """All-pairs TF-IDF cosine similarity ≥ ``threshold`` via the inverted-
    index join — document similarity WITHOUT embeddings, over the sparse
    term space itself (Bayardo et al. WWW'07 all-pairs; the exact core
    DIMSUM approximates by sampling). Input is the raw ``(id, term)``
    token stream (duplicates = term frequency).

    Plan: tf per (doc, term) → df per term → weights
    ``tf · ln((1+N)/(1+df))`` restricted to *informative* terms — the df
    cut that bounds the self-join: posting-list join volume is
    Σ_{df≤cut} df², and the near-stopword terms that would dominate it
    carry ~zero idf anyway. The ceiling is the MIN of whichever knobs
    are given:

    - ``max_df_frac`` — relative cut ``df ≤ frac·N``. Sufficient on a
      single-domain corpus, but a sharded / multi-domain corpus pushes
      every per-shard term's df below any fixed fraction of the GLOBAL
      N and the cut silently stops cutting (measured at 100×:
      the "cut" variant degenerated to the 645 s full-volume join).
      Pass ``None`` to disable.
    - ``max_df`` — absolute ceiling, corpus-size-independent.
    - ``join_volume_budget`` — the scale-honest knob: derive the
      absolute ceiling FROM the measured df distribution as the largest
      D with Σ_{df≤D} df² ≤ budget, i.e. bound the join volume itself
      (exact integer arithmetic over the O(distinct df values)
      histogram of the already-aggregated df table — engines reproduce
      it bit-for-bit). A budget below the df=1 band's volume yields an
      empty ceiling (every term cut) — deliberately honest: the
      requested volume bound is infeasible.

    Pair scores
    come from ONE equi-join of the postings table with itself on term —
    never docs² — with map-side partial aggregation of the per-term
    products; norms are one per-doc aggregation, broadcast-joined back.

    Engine-exact across engines at any parallelism: weights are rounded
    to 6dp (the ``doc_keywords`` idf-parity contract), every dot/norm
    contribution is scaled by 1e12 and rounded to a LONG — the exact
    integer sum is order-independent like a decimal but aggregates at
    plain-long speed (the dot aggregation runs over Σ df² rows, the one
    hot loop of this plan; headroom: |w| ≤ ~20 ⇒ contribution ≤ 4e14,
    × ≤10⁴ shared terms per pair ≪ 2⁶³) — and only the final cosine
    divides in doubles.

    Returns ``(doc_a, doc_b, cos_sim)``, doc_a < doc_b, rounded to 6 digits."""
    # tf is the pivot of the whole plan (feeds df, N, weights, norms and
    # BOTH join sides): cache it so the corpus tokenization+aggregation
    # runs once, not once per consumer — it is O(docs × distinct terms)
    # rows, the already-collapsed representation. tracked_cache bounds
    # the footprint to one live block across registry/bench sweeps.
    tf = tracked_cache(
        toks.groupBy(id_col, term_col).agg(F.count("*").alias("tf")),
        "similarity.sparse_cosine_pairs.tf",
    )
    dfreq = tf.groupBy(term_col).agg(F.count("*").alias("df"))
    n_docs = tf.select(id_col).distinct().count()
    ceilings: list[float] = []
    if max_df_frac is not None:
        ceilings.append(max_df_frac * n_docs)
    if max_df is not None:
        ceilings.append(float(max_df))
    if join_volume_budget is not None:
        # df histogram: O(distinct df values) rows — a scalar-sized
        # collect off the cached tf, same cost class as the n_docs count.
        hist = sorted(
            (r["df"], r["n_terms"])
            for r in dfreq.groupBy("df").agg(F.count("*").alias("n_terms")).collect()
        )
        cum, derived = 0, 0
        for d, n_terms in hist:
            cum += n_terms * d * d
            if cum > join_volume_budget:
                break
            derived = d
        ceilings.append(float(derived))
    if not ceilings:
        raise ValueError(
            "at least one of max_df_frac / max_df / join_volume_budget required"
        )
    eff_ceiling = min(ceilings)
    w = (
        tf.join(F.broadcast(dfreq.filter(F.col("df") <= eff_ceiling)), term_col)
        .select(
            id_col,
            term_col,
            F.round(
                F.col("tf") * F.log((1.0 + n_docs) / (1.0 + F.col("df"))), 6
            ).alias("w"),
        )
    )
    # overflow guards, in-plan (no extra pass): the docstring's |w|
    # headroom is enforced NOWHERE by the input — a spammy doc with
    # tf=300 on a rare term reaches w≈3600, whose squared fixed-point
    # contribution alone exceeds Long.MaxValue. Two layers, because the
    # failure points differ:
    #   1. per-ROW, evaluated BEFORE the long cast (under ANSI the raw
    #      CAST_OVERFLOW would otherwise fire first and this message
    #      would never be seen): a single w²·1e12 ≥ 9e18 row raises the
    #      actionable message on every cluster config.
    #   2. per-DOC on the double sum: rows individually under the bound
    #      can still sum past it — on non-ANSI the long SUM wraps
    #      SILENTLY and this assert is the only protection. (Under ANSI
    #      that same sum raises a raw ARITHMETIC_OVERFLOW before this
    #      doc-level assert is reached — layer 1 can't help there; the
    #      raw error is loud, just not friendly.)
    # A per-doc Σw²·1e12 < 9e18 bound also covers every pair dot by
    # Cauchy-Schwarz (|Σ wa·wb| ≤ ‖a‖‖b‖).
    _sq = F.col("w") * F.col("w") * 1e12
    _overflow_msg = F.lit(
        "tf-idf weight norm overflows the 1e12 fixed-point "
        "long — cap tf or tighten the df cut"
    )
    _row_guarded = F.when(
        F.assert_true(_sq < F.lit(9.0e18), _overflow_msg).isNull(),
        F.round(_sq).cast("long"),
    )
    norms = (
        w.groupBy(id_col)
        .agg(
            F.sum(_row_guarded).alias("n2"),
            F.sum(F.col("w") * F.col("w")).alias("__n2d"),
        )
        .select(
            id_col,
            F.when(
                F.assert_true(
                    F.col("__n2d") * 1e12 < F.lit(9.0e18), _overflow_msg
                ).isNull(),
                F.sqrt(F.col("n2").cast("double") / 1e12),
            ).alias("norm"),
        )
    )
    # The postings table is SMALL (O(docs·terms) rows) but the term
    # self-join EXPANDS it to Σ df² rows — AQE sizes the stream side by
    # input bytes, so without intervention it coalesces the tiny input to
    # ~1 partition and the whole expansion + pair partial-agg lands on one
    # core (measured: >10 min vs ~4 s at sf0.1). An explicit fixed-width
    # repartition on the join key pins the expansion's parallelism; AQE
    # honors user-specified partition counts. On a cluster the same
    # exchange is what a co-partitioned sort-merge join needs anyway once
    # the build side outgrows the broadcast threshold.
    n_part = int(
        toks.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    a = w.select(
        F.col(id_col).alias("doc_a"), F.col(term_col).alias("t"), F.col("w").alias("wa")
    ).repartition(n_part, "t")
    b = w.select(F.col(id_col).alias("doc_b"), F.col(term_col).alias("t"), F.col("w").alias("wb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.round(F.col("wa") * F.col("wb") * 1e12).cast("long")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("norm").alias("__na"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("norm").alias("__nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "cos_sim",
            F.round(
                (F.col("dot").cast("double") / 1e12)
                / (F.col("__na") * F.col("__nb")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("doc_a", "doc_b", "cos_sim")
    )
