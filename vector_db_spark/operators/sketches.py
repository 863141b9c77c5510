"""Mergeable, persistable sketches: HLL distinct-count state and
deterministic quantile digests.

North-star extension (the reference's only "statistics" surface is IVF
cluster counts, reference ivf.py:207-215): a 100 TB training-data pipeline
asks distinct-count and quantile questions over *rolling spans* of an
append-only corpus ("distinct users this week", "p99 doc length this
month"). Recomputing those from raw rows rescans history every time; the
scale-correct shape is **incremental sketch maintenance**:

1. **Segment sketches** — each ingest segment (day, shard, batch) reduces
   to a kilobyte summary once: an HLL sketch per group for distinct
   counts (Spark's built-in DataSketches HLL — ``hll_sketch_agg``), a
   bounded centroid digest per group for quantiles. One aggregation over
   the new segment only; persisted as an ordinary Parquet table.
2. **Merge at question time** — any span's distinct count is a merge of
   its segments' HLL sketches (``hll_rollup`` → ``hll_union_agg``).
   The merge input is O(segments × groups) kilobyte rows — independent
   of corpus row count. History is never rescanned.

The quantile digest is a deterministic equi-rank centroid summary (the
mergeable-summaries pattern of Agarwal et al., PODS'12 — same family as
the Misra-Gries stage in operators/heavyhitters.py): values sorted, then
bucketed by mid-rank into ≤ ``max_centroids`` weighted means. Each
compression moves any value's rank by at most W/max_centroids (W = total
weight compressed), so a build → merge pipeline (two levels) answers any
quantile within rank error ≤ 2/max_centroids of exact — the bound
``tests/test_sketches.py`` pins. Estimates depend on partition layout
(partial digests form per input split), but the *rank-error guarantee*
is layout-invariant, so registered queries project layout-invariant
facts (exact group keys/counts + within-bound booleans) the DuckDB
oracle reproduces exactly.

Everything here is one map-side pass plus a digest-row shuffle: raw
values never shuffle, nothing collects to the driver.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- HLL distinct-count state ------------------------------------------------


def hll_segment_sketches(
    df: DataFrame,
    col: str,
    by: Sequence[str],
    *,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch row per ``by`` group: ``(*by, hll: binary)``.

    Run once per ingest segment and append to a sketch table (plain
    Parquet — the sketch is just a binary column). ``lg_k=12`` ⇒ 4 KiB
    registers, ~1.6 % relative standard error at large cardinalities and
    exact counts in the sparse regime."""
    return df.groupBy(*by).agg(F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("hll"))


def hll_rollup(sketches: DataFrame, by: Sequence[str]) -> DataFrame:
    """Merge segment sketches down to ``by`` and estimate:
    ``(*by, distinct_est: bigint)``. Input is summary rows, never raw
    data — a week/month/all-time rollup costs the same tiny job."""
    return sketches.groupBy(*by).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("distinct_est")
    )


# --- deterministic quantile digest -------------------------------------------


def _compress(vals: np.ndarray, wts: np.ndarray, max_c: int) -> tuple[np.ndarray, np.ndarray]:
    """Equi-rank re-compression of a weighted value multiset (deterministic:
    stable sort, fixed bucket rule). Bucket = floor(mid_rank/W * max_c)."""
    order = np.argsort(vals, kind="mergesort")
    v, w = vals[order], wts[order]
    if len(v) <= max_c:
        return v, w
    total = w.sum()
    mid = np.cumsum(w) - w / 2.0
    bucket = np.minimum((mid / total * max_c).astype(np.int64), max_c - 1)
    wsum = np.bincount(bucket, weights=w, minlength=max_c)
    vsum = np.bincount(bucket, weights=v * w, minlength=max_c)
    keep = wsum > 0
    return vsum[keep] / wsum[keep], wsum[keep]


def quantile_digest(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    *,
    max_centroids: int = 512,
) -> DataFrame:
    """Mergeable quantile digest per ``by`` group:
    ``(*by, means: array<double>, weights: array<double>)``.

    Two-phase mergeable-summaries plan: a map-only Arrow kernel digests
    each input split per group (raw values never cross the network), then
    one aggregation of digest rows per group re-compresses. The shuffle
    volume is O(splits × groups × max_centroids) doubles."""
    by = list(by)
    key_fields = ", ".join(
        f"`{c}` {t}" for c, t in df.select(*by, col).dtypes if c != col
    )
    schema = (key_fields + ", " if key_fields else "") + (
        "means array<double>, weights array<double>"
    )
    narrow = df.select(*by, F.col(col).cast("double").alias(col)).na.drop(subset=[col])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out: dict[str, list] = {c: [] for c in by}
            out["means"], out["weights"] = [], []
            groups = pdf.groupby(by, sort=False) if by else [((), pdf)]
            for key, g in groups:
                if by and not isinstance(key, tuple):
                    key = (key,)
                v = g[col].to_numpy(dtype=np.float64)
                m, w = _compress(v, np.ones_like(v), max_centroids)
                for c, kv in zip(by, key):
                    out[c].append(kv)
                out["means"].append(m)
                out["weights"].append(w)
            yield pd.DataFrame(out)

    partials = narrow.mapInPandas(partial, schema)

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.concatenate([np.asarray(x, dtype=np.float64) for x in pdf["means"]])
        w = np.concatenate([np.asarray(x, dtype=np.float64) for x in pdf["weights"]])
        m, wm = _compress(v, w, max_centroids)
        row = {c: [k] for c, k in zip(by, key)}
        row["means"], row["weights"] = [m], [wm]
        return pd.DataFrame(row)

    if by:
        return partials.groupBy(*by).applyInPandas(merge, schema)
    return partials.groupBy().applyInPandas(lambda key, pdf: merge((), pdf), schema)


def digest_quantiles(
    digest: DataFrame, qs: Sequence[float], by: Sequence[str] = ()
) -> DataFrame:
    """Quantile estimates from a digest: ``(*by, q: double, est: double)``.

    Pure JVM plan (explode → running-sum window → per-q argmin); the digest
    is already ≤ max_centroids rows per group, so the window is bounded.
    Estimate = mean of the first centroid whose cumulative weight reaches
    q × total (a valid answer within the digest's rank-error bound)."""
    from pyspark.sql import Window

    by = list(by)
    e = digest.select(
        *by, F.posexplode(F.arrays_zip("means", "weights")).alias("i", "mw")
    ).select(
        *by,
        F.col("i"),
        F.col("mw.means").alias("mean"),
        F.col("mw.weights").alias("weight"),
    )
    win = Window.partitionBy(*by).orderBy("i") if by else Window.orderBy("i")
    tot = Window.partitionBy(*by) if by else Window.partitionBy()
    e = e.withColumn("cum", F.sum("weight").over(win)).withColumn(
        "total", F.sum("weight").over(tot)
    )
    qdf = digest.sparkSession.createDataFrame([(float(q),) for q in qs], "q double")
    hit = e.join(F.broadcast(qdf)).filter(F.col("cum") >= F.col("q") * F.col("total"))
    return hit.groupBy(*by, "q").agg(F.min_by("mean", "i").alias("est"))


# --- KMV (theta) distinct-count sketches ------------------------------------
#
# HLL answers "how many distinct" per group and unions across groups, but it
# cannot INTERSECT: "how many users did BOTH X and Y" has no HLL merge. The
# k-minimum-values / theta sketch (Beyer et al., SIGMOD'07; the DataSketches
# theta family) does: keep the k smallest hash values of the distinct set;
# under the k-th smallest hash θ every sketch is a uniform sample of its set
# with inclusion probability θ/2^60, so set-algebra estimates follow from
# counting shared hashes below the common θ.
#
# Everything is md5-derived (the repo's engine-reproducible randomness
# idiom): the k smallest distinct hashes are a PURE FUNCTION of the value
# set — layout-, rerun-, and engine-invariant — so unlike HLL's opaque
# binary state, KMV estimates are themselves oracle-checkable value-for-
# value in DuckDB.

_KMV_SCALE = float(2**60)  # hashes are 60-bit (15 md5 nibbles); 2^60 is an
# exact double, so /2^60 is an exact binary-exponent shift in both engines


def _kmv_hash(col: str, salt: str):
    """60-bit integer hash of ``col`` (15 md5 hex nibbles via conv), the
    same construction DuckDB reproduces as ('0x'||substr(md5(..),1,15))."""
    h = F.md5(F.concat(F.col(col).cast("string"), F.lit(":" + salt)))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def kmv_sketch(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    *,
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct 60-bit hashes of
    ``col`` as plain rows ``(*by, kmv_hash)`` — a persistable Parquet
    table, like the HLL segment rows.

    Plan: a map-side Arrow kernel keeps the k smallest distinct hashes
    per group per partition (O(groups×k) task memory, the Misra-Gries
    shape from heavyhitters.py), so the shuffle carries ≤ tasks×k rows
    per group — corpus-row-independent. One final per-group rank over
    candidates selects the true global k minima (dedup across partitions
    happens here). Groups with fewer than k distinct values keep them
    all: the sketch degrades to the exact distinct set ("sparse mode").
    """
    from pyspark.sql import Window

    by = list(by)
    hashed = df.select(*by, _kmv_hash(col, salt).alias("kmv_hash"))

    def kernel(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        best: dict[tuple, np.ndarray] = {}
        for pdf in batches:
            for key, g in pdf.groupby(by, sort=False) if by else [((), pdf)]:
                key = key if isinstance(key, tuple) else (key,)
                merged = np.unique(
                    np.concatenate(
                        [best.get(key, np.empty(0, np.int64)), g["kmv_hash"].to_numpy(np.int64)]
                    )
                )
                best[key] = merged[:k]
        for key, hs in best.items():
            out = {c: np.repeat(v, len(hs)) for c, v in zip(by, key)}
            out["kmv_hash"] = hs
            yield pd.DataFrame(out)

    fields = ", ".join(
        [f"{c} {t}" for c, t in df.select(*by).dtypes] + ["kmv_hash long"]
    )
    cand = hashed.mapInPandas(kernel, fields).dropDuplicates(by + ["kmv_hash"])
    w = (
        Window.partitionBy(*by).orderBy("kmv_hash")
        if by
        else Window.partitionBy(F.lit(1)).orderBy("kmv_hash")
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_distinct_estimate(sketch: DataFrame, by: Sequence[str] = (), *, k: int = 256) -> DataFrame:
    """``(*by, n_hashes, distinct_est)`` from sketch rows. Sparse groups
    (fewer than k hashes = the full distinct set) are exact; dense groups
    use the unbiased KMV estimator (k−1)/θ with θ = k-th smallest
    normalized hash. Deterministic — same value from any engine."""
    by = list(by)
    agg = sketch.groupBy(*by).agg(
        F.count("*").alias("n_hashes"), F.max("kmv_hash").alias("__theta")
    )
    est = F.when(
        F.col("n_hashes") < k, F.col("n_hashes").cast("double")
    ).otherwise(F.lit(float(k - 1)) / (F.col("__theta").cast("double") / F.lit(_KMV_SCALE)))
    return agg.select(*by, "n_hashes", F.round(est, 4).alias("distinct_est"))


def kmv_intersect_estimate(
    sk_a: DataFrame, sk_b: DataFrame, *, k: int = 256
) -> DataFrame:
    """One-row ``(n_common, intersect_est)``: estimated |A ∩ B| from two
    single-group sketches. θ = min of the two sketches' thetas (sparse
    side ⇒ θ=1); ``n_common`` counts hashes below θ present in BOTH
    sketches — each is a θ-probability uniform sample of its set, so
    n_common/θ is the standard theta-sketch intersection estimate.
    Join volume: ≤ k × k sketch rows, zero corpus access."""

    def theta(sk: DataFrame) -> DataFrame:
        return sk.agg(
            F.when(F.count("*") < k, F.lit(int(_KMV_SCALE)))
            .otherwise(F.max("kmv_hash"))
            .alias("th")
        )

    th = (
        theta(sk_a).select(F.col("th").alias("th_a"))
        .join(theta(sk_b).select(F.col("th").alias("th_b")))
        .select(F.least("th_a", "th_b").alias("theta"))
    )
    common = sk_a.select("kmv_hash").join(sk_b.select("kmv_hash"), "kmv_hash")
    return (
        common.join(F.broadcast(th))
        .filter(F.col("kmv_hash") < F.col("theta"))
        .groupBy("theta")
        .agg(F.count("*").alias("n_common"))
        .union(th.select("theta", F.lit(0).alias("n_common")))  # empty-intersection fallback
        .groupBy()
        .agg(
            F.max("n_common").alias("n_common"),
            F.round(
                F.max("n_common").cast("double")
                / (F.min("theta").cast("double") / F.lit(_KMV_SCALE)),
                4,
            ).alias("intersect_est"),
        )
    )


def kmv_difference_estimate(
    sk_a: DataFrame, sk_b: DataFrame, *, k: int = 256
) -> DataFrame:
    """One-row ``(n_kept, difference_est)``: estimated ``|A \\ B|`` from
    two single-group sketches — the OTHER set operation HLL cannot do
    (union it has; intersection and difference need hash samples).
    θ = min of the two thetas; A's hashes below θ are a θ-probability
    uniform sample of A, and for any such hash membership in B is decided
    EXACTLY (B's sketch holds every B hash < θ_b ≥ θ), so the anti-join
    survivors below θ are a θ-sample of A\\B and ``n_kept/θ`` is the
    standard theta-sketch difference estimate. Join volume ≤ k×k sketch
    rows, zero corpus access; deterministic, value-oracled like the
    intersect form."""

    def theta(sk: DataFrame) -> DataFrame:
        return sk.agg(
            F.when(F.count("*") < k, F.lit(int(_KMV_SCALE)))
            .otherwise(F.max("kmv_hash"))
            .alias("th")
        )

    th = (
        theta(sk_a).select(F.col("th").alias("th_a"))
        .join(theta(sk_b).select(F.col("th").alias("th_b")))
        .select(F.least("th_a", "th_b").alias("theta"))
    )
    kept = sk_a.select("kmv_hash").join(
        sk_b.select("kmv_hash"), "kmv_hash", "left_anti"
    )
    return (
        kept.join(F.broadcast(th))
        .filter(F.col("kmv_hash") < F.col("theta"))
        .groupBy("theta")
        .agg(F.count("*").alias("n_kept"))
        .union(th.select("theta", F.lit(0).alias("n_kept")))  # empty-difference fallback
        .groupBy()
        .agg(
            F.max("n_kept").alias("n_kept"),
            F.round(
                F.max("n_kept").cast("double")
                / (F.min("theta").cast("double") / F.lit(_KMV_SCALE)),
                4,
            ).alias("difference_est"),
        )
    )


# --- Count-Min frequency sketches -------------------------------------------
#
# The frequency companion of the HLL/KMV distinct sketches: heavyhitters.py
# answers "which items are frequent" exactly, but a 100 TB pipeline also
# wants point frequency ESTIMATES over rolling segments ("how often did
# this token/domain/fingerprint appear this month") without re-scanning
# history or materializing a vocabulary-sized table per segment. Count-Min
# (Cormode & Muthukrishnan, J. Algorithms'05): a depth×width counter
# matrix; est(x) = min_i cnt[i][h_i(x)] is NEVER below the true count and
# exceeds it by more than 2N/width with probability ≤ (1/2)^depth.
#
# Hashes are md5-derived (engine-reproducible idiom), so segment sketches,
# merges, and every estimate are deterministic — value-hash-oracleable in
# DuckDB, like the KMV surface and unlike opaque HLL state.


def _cms_bucket(col, i: int, width: int, salt: str):
    h = F.md5(F.concat(col.cast("string"), F.lit(f":{salt}:{i}")))
    return F.pmod(F.conv(F.substring(h, 1, 15), 16, 10).cast("long"), F.lit(width))


def cms_sketch(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    *,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """Per-group Count-Min sketch as plain rows ``(*by, d, bucket, cnt)``
    — a persistable Parquet table of ≤ depth×width rows per group.

    Build: each row derives its ``depth`` buckets map-side (posexplode of
    a depth-length array — the same bounded fan-out the MinHash stage
    pays), then ONE keyed count with map-side partial aggregation, so the
    post-combine shuffle is ≤ groups × depth × width rows per task —
    corpus-row-independent. Only non-empty buckets are materialized
    (absent ⇒ 0)."""
    by = list(by)
    buckets = F.array(*[_cms_bucket(F.col(col), i, width, salt) for i in range(depth)])
    return (
        df.select(*by, F.posexplode(buckets).alias("d", "bucket"))
        .groupBy(*by, "d", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str = "item",
    *,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """``(item, est_cnt)`` for each probe item: min over the depth rows of
    its bucket counters (missing bucket ⇒ 0). Probe side re-derives the
    same md5 buckets; the join is probes×depth rows against sketch rows —
    broadcast the probe side, zero corpus access."""
    probes = items.select(
        F.col(item_col).alias("item"),
        F.posexplode(
            F.array(*[_cms_bucket(F.col(item_col), i, width, salt) for i in range(depth)])
        ).alias("d", "bucket"),
    )
    return (
        F.broadcast(probes)
        .join(sketch, ["d", "bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


def cms_join_size_estimate(sk_a: DataFrame, sk_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two Count-Min sketches — the
    CM inner-product estimator (Cormode & Muthukrishnan '05):
    |A ⋈ B| = Σ_v f_A(v)·f_B(v), estimated as min_i Σ_bucket
    a_i[b]·b_i[b]. Never below the true size; exceeds it by more than
    ε·N_A·N_B (ε = e/width) with probability ≤ (1/2)^depth.

    This is `profiling.join_size_estimate` answered WITHOUT touching the
    tables: both sides are kilobyte counter rows (persisted per segment,
    merged per span), so sizing a prospective join across corpus versions
    or date ranges costs a sketch-row join — depth×width rows per side,
    zero data access. md5 hashing keeps the estimate deterministic and
    oracle-checkable.

    Returns one row ``(join_size_est,)`` (exact-integer long: products
    and sums of exact counters)."""
    a = sk_a.select("d", "bucket", F.col("cnt").alias("cnt_a"))
    b = sk_b.select("d", "bucket", F.col("cnt").alias("cnt_b"))
    per_depth = (
        a.join(b, ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("ip"))
    )
    # every depth must contribute its inner product: a depth with zero
    # bucket overlap has true IP 0 and must be allowed to win the min
    # (an inner join would drop it — fully disjoint sketches returned
    # NULL instead of 0, and partial overlap reported a looser bound
    # than the CM estimator defines)
    spine = sk_a.select("d").union(sk_b.select("d")).distinct()
    return (
        spine.join(per_depth, "d", "left")
        .agg(F.min(F.coalesce(F.col("ip"), F.lit(0))).alias("join_size_est"))
    )
