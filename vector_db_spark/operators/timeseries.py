"""Time-series surface: hypertable-style rollups over an event stream.

The brief's operator list names "hypertable rollup" beside as-of and range
joins as the time-series capabilities a Spark-native engine should express
natively (the reference itself has no time axis beyond ingest order — its
events are rows in a FastAPI queue, reference api/routes.py). This module
supplies the four canonical shapes:

- ``ohlc_bars`` — per-bucket open/high/low/close/volume (the hypertable
  continuous-aggregate rollup). One keyed aggregation, map-side partial.
- ``resample_ffill`` — regularize an irregular series onto a fixed grid and
  carry the last observation forward (gap fill). Grid generation is
  per-key `sequence()` (no driver loop); the fill is one carry-forward
  window — the same single-shuffle idiom as ``asof.as_of_join``.
- ``ewma`` — exponentially weighted moving average, truncated at ``k_lags``
  terms so the whole recurrence unrolls into fixed ``lag()`` expressions
  inside whole-stage codegen (no per-key Python, no sequential scan).
- ``mad_outliers`` — robust anomaly flags via median/MAD (median absolute
  deviation): exact interpolated percentiles, two tiny aggregations, flag
  computation map-side.

Scale posture: every operator here shuffles ON THE SERIES KEY
exactly once (plus O(groups)-row broadcast joins for the stats forms);
nothing materializes pairs, nothing collects the corpus. ``resample_ffill``
output volume is grid-bounded (keys × buckets), which the caller controls
via ``step``; the gaps a 100 TB deployment fills are per-key and
independent, so AQE handles key skew the same way it does for the as-of
join.

Determinism: window orders carry an id tie-break everywhere; EWMA weights
are exact powers of (1-α) rounded at 6 dp so the oracle (DuckDB lag-sum
form) reproduces values bit-for-bit after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ohlc_bars(
    df: DataFrame,
    *,
    ts: str = "ts",
    value: str = "value",
    key: str | None = None,
    tiebreak: str = "event_id",
    step: str = "1 day",
) -> DataFrame:
    """Per-bucket open/high/low/close/volume/vwap-style rollup.

    ``open``/``close`` are the values at the earliest/latest ``(ts,
    tiebreak)`` in the bucket — ``min_by``/``max_by`` over a struct order,
    so ties at identical timestamps resolve deterministically by id on any
    engine and any partitioning.

    One aggregation keyed on (key, bucket): map-side partials combine
    min/max/sum/count and the struct-ordered extremes, so the shuffle
    carries one row per (key, bucket) per map task — the classic
    hypertable continuous-aggregate budget. At 100 TB this is the same
    plan: bucket derivation is map-side, no window, no join.
    """
    bucket = F.window(F.col(ts), step).start.alias("bucket_ts")
    keys = ([F.col(key)] if key else []) + [bucket]
    order = F.struct(F.col(ts), F.col(tiebreak))
    return (
        df.groupBy(*keys)
        .agg(
            F.min_by(F.col(value), order).alias("open"),
            F.max(value).alias("high"),
            F.min(value).alias("low"),
            F.max_by(F.col(value), order).alias("close"),
            F.count("*").alias("n_obs"),
            F.sum(value).alias("total"),
        )
    )


def resample_ffill(
    df: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
    step_hours: int = 24,
) -> DataFrame:
    """Regularize each key's irregular series onto a fixed ``step_hours``
    grid, carrying the last observation forward into empty buckets.

    Plan (one key-shuffle, grid-bounded output):

    1. per-(key, bucket) last observation — one aggregation, ``max_by``
       over the (ts, tiebreak) struct;
    2. per-key grid — `sequence(min_bucket, max_bucket, interval)` +
       `explode`, derived from the same aggregation re-aggregated (no
       driver loop, no literal calendar);
    3. grid ⟕ observations on (key, bucket), then ONE carry-forward
       window `last(value, ignorenulls)` per key — the as-of idiom.

    Output columns: ``(key, bucket_ts, value_ffill, is_observed)``.
    Grid volume = keys × span/step, controlled by the caller; the window
    state is one value per key. Leading buckets before a key's first
    observation cannot exist (the grid starts at the key's own min).
    """
    bucket = F.window(F.col(ts), f"{step_hours} hours").start
    obs = (
        df.select(F.col(key), bucket.alias("bucket_ts"), F.col(value), F.col(ts), F.col(tiebreak))
        .groupBy(key, "bucket_ts")
        .agg(F.max_by(F.col(value), F.struct(F.col(ts), F.col(tiebreak))).alias("obs_value"))
    )
    grid = (
        obs.groupBy(key)
        .agg(F.min("bucket_ts").alias("b0"), F.max("bucket_ts").alias("b1"))
        .select(
            key,
            F.explode(
                F.sequence("b0", "b1", F.expr(f"INTERVAL {step_hours} HOURS"))
            ).alias("bucket_ts"),
        )
    )
    w = Window.partitionBy(key).orderBy("bucket_ts")
    return (
        grid.join(obs, [key, "bucket_ts"], "left")
        .select(
            key,
            "bucket_ts",
            F.last("obs_value", ignorenulls=True).over(w).alias("value_ffill"),
            F.col("obs_value").isNotNull().alias("is_observed"),
        )
    )


def _ewma_expr(value: str, alpha: float, k_lags: int, w: Window) -> Column:
    """Truncated-EWMA as unrolled lag expressions: weighted mean of the
    current value and up to ``k_lags`` predecessors with weights
    (1-α)^i, renormalized over the lags that actually exist (series
    heads see fewer terms — same convention as pandas ewm(adjust=True))."""
    num: Column = F.col(value).cast("double")
    den: Column = F.lit(1.0)
    for i in range(1, k_lags + 1):
        wt = float((1.0 - alpha) ** i)
        lagged = F.lag(F.col(value).cast("double"), i).over(w)
        num = num + F.coalesce(lagged * F.lit(wt), F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return num / den


def ewma(
    df: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
    alpha: float = 0.5,
    k_lags: int = 8,
    out: str = "ewma_value",
) -> DataFrame:
    """Exponentially weighted moving average per key, truncated at
    ``k_lags`` terms.

    The infinite EWMA recurrence is inherently sequential; truncating at
    K terms (weight (1-α)^K ≤ 0.4% of the head at the defaults) turns it
    into K fixed ``lag()`` columns summed inside whole-stage codegen —
    one shuffle on the key, zero Python, and (unlike the recurrence) any
    row's value depends only on a bounded window, so late/partitioned
    recomputation is local. ``adjust``-style renormalization handles
    series heads exactly.

    Emitted value is rounded to 6 dp: the weights are exact doubles both
    engines compute identically, so the rounded stream is oracle-exact.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(tiebreak))
    return df.select(
        key,
        ts,
        tiebreak,
        F.col(value),
        F.round(_ewma_expr(value, alpha, k_lags, w), 6).alias(out),
    )


def mad_outliers(
    df: DataFrame,
    *,
    group: str = "event_type",
    value: str = "value",
    z_cut: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier flags: |value − median| > z_cut·1.4826·MAD.

    Median and MAD are exact interpolated percentiles (Spark ``percentile``
    ≡ DuckDB ``quantile_cont`` — the cross-engine identity the winsorized
    stats already rely on). Two group-keyed aggregations (each one
    shuffle of O(groups) output rows) with the group stats broadcast back
    onto the scan; the flag itself is a map-side expression. Degenerate
    groups (MAD = 0) flag nothing rather than everything.

    Returns the input plus ``(med, mad, is_outlier)``.
    """
    med = df.groupBy(group).agg(F.expr(f"percentile({value}, 0.5)").alias("med"))
    with_med = df.join(F.broadcast(med), group)
    mad = (
        with_med.groupBy(group)
        .agg(F.expr(f"percentile(abs({value} - med), 0.5)").alias("mad"))
    )
    scaled = F.col("mad") * F.lit(1.4826)
    return (
        with_med.join(F.broadcast(mad), group)
        .withColumn(
            "is_outlier",
            F.when(F.col("mad") > 0, F.abs(F.col(value) - F.col("med")) > F.lit(z_cut) * scaled)
            .otherwise(F.lit(False)),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Per-key time-weighted average: each observation holds until the
    next one, so its weight is the seconds until its successor (the last
    observation of a key carries no interval and gets weight 0) — the
    hypertable `time_weight('LOCF')` aggregate for irregular series,
    where a plain AVG over-weights bursts of rapid samples.

    One window over one key shuffle computes the lead timestamp; the
    weighted aggregation is map-side partial on top. Output:
    ``(key, twa_value, n_obs, span_seconds)``; keys with a single
    observation (zero span) fall back to the plain value."""
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(tiebreak))
    dt = (
        F.unix_micros(F.lead(ts).over(w)) - F.unix_micros(F.col(ts))
    ).cast("double") / 1e6
    # decimal-summed terms (the repo's order-independent aggregation
    # discipline): double addition is not associative, so raw double sums
    # vary with partial-agg order — per-row decimal casts then an exact
    # decimal sum give the same scalar on any engine/partitioning
    seg = df.select(
        F.col(key),
        (F.col(value).cast("double") * F.coalesce(dt, F.lit(0.0)))
        .cast("decimal(28,8)")
        .alias("__wv"),
        F.coalesce(dt, F.lit(0.0)).cast("decimal(20,6)").alias("__dt"),
        F.col(value).cast("double").alias("__v"),
        F.col(ts).alias("__ts"),
        F.col(tiebreak).alias("__tb"),
    )
    sum_wv = F.sum("__wv").cast("double")
    sum_dt = F.sum("__dt").cast("double")
    return seg.groupBy(key).agg(
        F.when(sum_dt > 0, sum_wv / sum_dt)
        .otherwise(F.min_by("__v", F.struct("__ts", "__tb")))
        .alias("twa_value"),
        F.count("*").alias("n_obs"),
        sum_dt.alias("span_seconds"),
    )


def counter_rate(
    df: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Monotonic-counter rate with reset detection (the PromQL
    ``rate()``/``increase()`` semantics): per consecutive pair, the
    increase is ``v - prev_v`` unless the counter went backwards (a
    process restart zeroed it), in which case the post-reset level ``v``
    is the increase. Total increase / observed span = per-second rate.

    One lag window over one key shuffle; aggregation map-side partial.
    Output: ``(key, total_increase, span_seconds, rate_per_sec,
    n_resets)``; keys with fewer than two observations report rate 0."""
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(tiebreak))
    prev_v = F.lag(F.col(value).cast("double")).over(w)
    prev_t = F.lag(ts).over(w)
    inc = F.when(prev_v.isNull(), F.lit(None)).otherwise(
        F.when(F.col(value) >= prev_v, F.col(value) - prev_v).otherwise(
            F.col(value).cast("double")
        )
    )
    seg = df.select(
        F.col(key),
        inc.cast("decimal(28,8)").alias("__inc"),  # order-independent sums
        F.when(
            prev_v.isNotNull() & (F.col(value) < prev_v), F.lit(1)
        ).otherwise(F.lit(0)).alias("__reset"),
        (
            (F.unix_micros(F.col(ts)) - F.unix_micros(prev_t)).cast("double") / 1e6
        ).cast("decimal(20,6)").alias("__dt"),
    )
    sum_inc = F.sum("__inc").cast("double")
    sum_dt = F.sum("__dt").cast("double")
    return seg.groupBy(key).agg(
        F.coalesce(sum_inc, F.lit(0.0)).alias("total_increase"),
        F.coalesce(sum_dt, F.lit(0.0)).alias("span_seconds"),
        F.when(sum_dt > 0, sum_inc / sum_dt).otherwise(F.lit(0.0)).alias("rate_per_sec"),
        F.sum("__reset").alias("n_resets"),
    )


def rolling_time_stats(
    df: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    window_seconds: int = 7 * 86400,
    tiebreak: str = "event_id",
) -> DataFrame:
    """Per-row trailing aggregates over an EVENT-TIME range frame: for each
    observation, count / sum / mean of the key's values in
    ``[t − window, t]`` (boundary-inclusive). This is the range-frame
    window (`RANGE BETWEEN`) — unlike a rows-frame, bursty keys see the
    same trailing horizon as sparse ones.

    One shuffle on the key; the frame is evaluated over micro-second
    integer order keys, and the summed values are per-row decimal casts so
    the trailing sum is order-independent and engine-exact. Rows at the
    same timestamp share a frame by RANGE semantics (both engines agree).

    Output: input key/ts/tiebreak/value plus ``(n_window, sum_window,
    avg_window)``."""
    us = F.unix_micros(F.col(ts))
    w = (
        Window.partitionBy(key)
        .orderBy(us)
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    dec = F.col(value).cast("double").cast("decimal(24,6)")
    sum_dec = F.sum(dec).over(w)
    return df.select(
        key,
        ts,
        tiebreak,
        value,
        F.count("*").over(w).alias("n_window"),
        sum_dec.cast("double").alias("sum_window"),
        (sum_dec.cast("double") / F.count("*").over(w)).alias("avg_window"),
    )


def lagged_cross_correlation(
    df: DataFrame,
    *,
    ts: str = "ts",
    series_col: str = "event_type",
    series_a: str = "click",
    series_b: str = "purchase",
    bucket: str = "hour",
    max_lag: int = 6,
) -> DataFrame:
    """Pearson cross-correlation of two event-count series at lags
    0..``max_lag`` buckets: corr(A(t), B(t+ℓ)) — "do purchases follow
    clicks, and by how many hours?", the lead/lag diagnostic behind
    attribution windows and forecasting features.

    Exactness: both series are integer COUNTS on a shared bucket grid
    (missing buckets = 0 via a ``sequence()`` spine), so every Pearson
    ingredient (n, Σa, Σb, Σab, Σa², Σb²) is exact integer arithmetic —
    the only floating math is the final closed-form division, identical
    in any engine; output rounded to 6 digits.

    Scale: raw events collapse to O(buckets) rows in ONE map-side-partial
    aggregation; the grid spine, the lag shift (an equi-join of the grid
    with itself at t+ℓ), and the per-lag aggregation are all grid-sized —
    at 100 TB the corpus is touched once and everything downstream is
    kilobytes. Output: (lag, n_points, corr)."""
    t = F.date_trunc(bucket, F.col(ts))
    counts = (
        df.filter(F.col(series_col).isin(series_a, series_b))
        .groupBy(t.alias("t"), F.col(series_col).alias("s"))
        .agg(F.count("*").alias("c"))
    )
    bounds = counts.agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    )
    step = F.expr(f"INTERVAL 1 {bucket.upper()}")
    grid = bounds.select(
        F.explode(F.sequence("t0", "t1", step)).alias("t")
    )
    a = grid.join(
        counts.filter(F.col("s") == series_a).select("t", "c"), "t", "left"
    ).select("t", F.coalesce("c", F.lit(0)).alias("a"))
    b = grid.join(
        counts.filter(F.col("s") == series_b).select("t", "c"), "t", "left"
    ).select(F.col("t").alias("tb"), F.coalesce("c", F.lit(0)).alias("b"))
    lags = df.sparkSession.range(0, max_lag + 1).select(F.col("id").cast("int").alias("lag"))
    # pair A(t) with B(t+lag): equi-join on the shifted grid key; pairs
    # where t+lag overruns the grid drop out (inner join) so every lag
    # correlates only aligned buckets
    paired = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("tb", F.col("t") + F.col("lag") * step)
        .join(b, ["tb"])
    )
    agg = paired.groupBy("lag").agg(
        F.count("*").alias("n_points"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    num = F.col("n_points") * F.col("sab") - F.col("sa") * F.col("sb")
    var_a = F.col("n_points") * F.col("saa") - F.col("sa") * F.col("sa")
    var_b = F.col("n_points") * F.col("sbb") - F.col("sb") * F.col("sb")
    return agg.select(
        "lag",
        "n_points",
        F.round(
            num.cast("double") / F.sqrt(var_a.cast("double") * var_b.cast("double")), 6
        ).alias("corr"),
    )


def cusum_changepoints(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    series_col: str = "event_type",
    baseline_buckets: int = 168,
    threshold_mult: int = 12,
) -> DataFrame:
    """(series, window_start, cusum_scaled): hours where a one-sided
    CUSUM of hourly counts exceeds ``threshold_mult`` baseline-sums —
    upward level-shift (changepoint) detection, Page '54.

    The CUSUM recursion S_t = max(0, S_{t-1} + x_t − μ − k) looks
    inherently sequential, but has the windowed closed form
    ``S_t = P_t − min(0, running_min(P_t))`` over the drift prefix sum
    P — two window functions per series, no per-row recursion, no UDF,
    and the same two windows at any scale (series are the natural
    partition key; each window is one shuffle on the series column).

    Exactness contract: with μ = baseline mean over the first
    ``baseline_buckets`` hours and slack k = μ/4, scaling the drift by
    4·B turns every term into an INTEGER — ``d_t = 4·B·x_t − 5·Σ_base``
    — so prefix sums, running mins, and the threshold comparison are
    exact 64-bit arithmetic in any engine (headroom: |d| ≤ 4·B·x ≪ 2⁶³).
    ``cusum_scaled`` is S in those units; the alarm threshold
    ``threshold_mult·Σ_base`` is an integer knob."""
    hours = (
        df.select(series_col, F.date_trunc("hour", F.col(ts_col)).alias("t"))
        .groupBy(series_col, "t")
        .agg(F.count("*").alias("x"))
    )
    span = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("hi"),
    )
    grid = (
        df.select(series_col)
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            series_col,
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("t"),
        )
    )
    series = grid.join(hours, [series_col, "t"], "left").select(
        series_col, "t", F.coalesce("x", F.lit(0)).alias("x")
    )
    w_ord = Window.partitionBy(series_col).orderBy("t")
    series = series.withColumn("pos", F.row_number().over(w_ord))
    base = (
        series.filter(F.col("pos") <= baseline_buckets)
        .groupBy(series_col)
        .agg(F.sum("x").alias("sb"))
    )
    b = baseline_buckets
    drift = series.join(base, series_col).select(
        series_col,
        "t",
        "pos",
        "sb",
        (F.lit(4 * b) * F.col("x") - F.lit(5) * F.col("sb")).alias("d"),
    )
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    cusum = drift.withColumn("p", F.sum("d").over(w_run)).withColumn(
        "cusum_scaled",
        F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(w_run)),
    )
    return cusum.filter(
        F.col("cusum_scaled") > F.lit(threshold_mult) * F.col("sb")
    ).select(series_col, F.col("t").alias("window_start"), "cusum_scaled")


def trend_mann_kendall_sen(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    series_col: str = "event_type",
) -> DataFrame:
    """(series, mk_s, n_pairs, sen_slope): Mann-Kendall trend statistic
    and Theil-Sen slope over hourly counts — the robust (outlier-immune,
    distribution-free) trend pair: S = Σ sign(x_j − x_i) over ordered
    pairs is EXACT integer arithmetic, and the Sen slope is the median
    pairwise slope selected by rank, so both engines pick identical
    values (rank ties share a slope value, making the middle-rank
    average permutation-invariant).

    Pairs are over observed hours (grid-free; zero-fill first via
    ``resample_ffill`` if silent hours should count). Spark shape: the
    corpus collapses to O(hours) counts in one aggregation, then ONE
    position-ordered self-join per series — pair volume C(hours, 2) per
    series is the inherent cost of the exact statistic; for month+
    spans the scale form is per-window trend over bounded buckets (the
    statistic is meaningful per window anyway)."""
    cnt = (
        df.select(series_col, F.date_trunc("hour", F.col(ts_col)).alias("t"))
        .groupBy(series_col, "t")
        .agg(F.count("*").alias("x"))
    )
    w = Window.partitionBy(series_col).orderBy("t")
    pos = cnt.withColumn("pos", F.row_number().over(w)).select(series_col, "x", "pos")
    a = pos.select(series_col, F.col("x").alias("xa"), F.col("pos").alias("pa"))
    b = pos.select(series_col, F.col("x").alias("xb"), F.col("pos").alias("pb"))
    pairs = (
        a.join(b, series_col)
        .filter(F.col("pa") < F.col("pb"))
        .select(
            series_col,
            F.signum(F.col("xb") - F.col("xa")).cast("long").alias("sgn"),
            F.round(
                (F.col("xb") - F.col("xa")) / (F.col("pb") - F.col("pa")), 6
            ).alias("slope"),
        )
    )
    mk = pairs.groupBy(series_col).agg(
        F.sum("sgn").alias("mk_s"), F.count("*").alias("n_pairs")
    )
    wr = Window.partitionBy(series_col).orderBy("slope")
    wn = Window.partitionBy(series_col)
    ranked = (
        pairs.withColumn("r", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wn))
    )
    sen = (
        ranked.filter(
            (F.col("r") == F.floor((F.col("n") + 1) / 2))
            | (F.col("r") == F.floor((F.col("n") + 2) / 2))
        )
        .groupBy(series_col)
        .agg(F.round(F.avg("slope"), 6).alias("sen_slope"))
    )
    return mk.join(sen, series_col)


def decayed_key_scores(
    df: DataFrame,
    *,
    key: str = "event_type",
    ts: str = "ts",
    halflife_hours: int = 24,
    max_halvings: int = 30,
) -> DataFrame:
    """Time-decayed frequency ranking with BUCKETED exponential decay —
    "what is hot NOW", the recency-weighted complement to plain counts
    (trending topics / hot keys / cache-admission scoring): each
    observation weighs ``2^-b`` with ``b = min(⌊age/halflife⌋,
    max_halvings)``, age measured from the stream's max event time.

    Bucketing the exponent is the ENGINE-EXACTNESS move: a smooth decay
    ``0.5^(age/h)`` needs ``pow`` with fractional exponents, whose last
    ulp differs across libm implementations — while 2^-b for integer b
    is exact in any IEEE engine, and the score is accumulated as the
    integer ``Σ count_b · 2^(max_halvings - b)`` (exact while
    n_events · 2^max_halvings < 2⁶³: ~8.5 G events at the default 30).
    Semantically it is the classic "epoch halving" used by in-memory
    hot-key trackers: all events in the same halflife epoch share one
    weight.

    Plan: one map-side ``(key, b)`` partial count (the shuffle carries
    ≤ keys × (max_halvings+1) rows, corpus-independent like the CMS/MG
    sketches), then a keys-sized weighted rollup. The max-ts anchor is
    one scalar aggregation, broadcast.

    Output: ``(key, n_events, decayed_fp, decayed_score)`` where
    ``decayed_fp`` is the exact scaled-integer score (the value-hash
    column) and ``decayed_score = decayed_fp / 2^max_halvings`` its
    float rendering, rounded to 9 dp."""
    anchor = df.agg(F.max(ts).alias("__t_max"))
    scale = 2**max_halvings
    hl_us = halflife_hours * 3_600_000_000
    b = F.least(
        F.floor(
            (F.unix_micros(F.col("__t_max")) - F.unix_micros(F.col(ts))) / hl_us
        ),
        F.lit(max_halvings),
    )
    per_bucket = (
        df.crossJoin(F.broadcast(anchor))
        .groupBy(F.col(key), b.cast("int").alias("__b"))
        .agg(F.count("*").alias("__n"))
    )
    return (
        per_bucket.groupBy(key)
        .agg(
            F.sum("__n").alias("n_events"),
            F.sum(
                F.col("__n") * F.expr(f"shiftleft(1L, {max_halvings} - __b)")
            ).alias("decayed_fp"),
        )
        .select(
            key,
            "n_events",
            "decayed_fp",
            F.round(F.col("decayed_fp").cast("double") / F.lit(float(scale)), 9).alias(
                "decayed_score"
            ),
        )
    )
