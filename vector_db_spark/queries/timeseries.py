"""Time-series rollup queries over the `events` table: hypertable-style
OHLC bars, gap-filled resampling, truncated EWMA smoothing, and MAD-robust
outlier flags (operators/timeseries.py).

All four are fully deterministic, so each carries a complete value-level
DuckDB oracle. EWMA uses α=0.5 deliberately: every weight (1-α)^i is an
exact binary fraction, so decimal-vs-double literal parsing differences
between engines cannot perturb the arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.timeseries import (
    ewma,
    lagged_cross_correlation,
    mad_outliers,
    ohlc_bars,
    resample_ffill,
)
from vector_db_spark.queries import register


@register(
    "ohlc_daily_bars",
    extra=True,
    oracle="""
WITH b AS (
  SELECT event_type, date_trunc('day', ts) AS bucket_ts, value, ts, event_id,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT event_type, bucket_ts,
       round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
       round(max(value), 6) AS high,
       round(min(value), 6) AS low,
       round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
       count(*)::BIGINT AS n_obs,
       round(sum(value), 4) AS total
FROM b GROUP BY 1, 2
""",
)
def ohlc_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open/high/low/close/volume bars per event type — the
    hypertable continuous-aggregate rollup as ONE map-side-partial
    aggregation (no window, no join; the oracle's row_number form is the
    heavyweight equivalent)."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlc_bars(ev, key="event_type", step="1 day")
    return bars.select(
        "event_type",
        "bucket_ts",
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "n_obs",
        F.round("total", 4).alias("total"),
    )


@register(
    "resample_ffill_purchases",
    oracle="""
WITH obs AS (
  SELECT user_id, date_trunc('day', ts) AS bucket_ts, value, ts, event_id,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'),
last_obs AS (
  SELECT user_id, bucket_ts, value AS obs_value FROM obs WHERE rn = 1),
span AS (
  SELECT user_id, min(bucket_ts) AS b0, max(bucket_ts) AS b1
  FROM last_obs GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 24 HOURS)) AS bucket_ts
  FROM span)
SELECT g.user_id, g.bucket_ts,
       round(last_value(o.obs_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_ts), 6) AS value_ffill,
       (o.obs_value IS NOT NULL) AS is_observed
FROM grid g LEFT JOIN last_obs o
  ON g.user_id = o.user_id AND g.bucket_ts = o.bucket_ts
""",
    extra=True,
)
def resample_ffill_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's purchase stream regularized onto a daily grid with the
    last value carried into gap days — the resample/gap-fill every
    downstream ML feature pipeline wants. One key shuffle; grid rows are
    keys × span-days, never corpus-scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    filled = resample_ffill(ev, key="user_id", step_hours=24)
    return filled.select(
        "user_id",
        "bucket_ts",
        F.round("value_ffill", 6).alias("value_ffill"),
        "is_observed",
    )


_EWMA_W = [0.5**i for i in range(1, 9)]
_EWMA_NUM_SQL = "value" + "".join(
    f" + coalesce(lag(value, {i}) OVER w * {w!r}, 0e0)" for i, w in enumerate(_EWMA_W, 1)
)
_EWMA_DEN_SQL = "1e0" + "".join(
    f" + CASE WHEN lag(value, {i}) OVER w IS NOT NULL THEN {w!r} ELSE 0e0 END"
    for i, w in enumerate(_EWMA_W, 1)
)


@register(
    "ewma_purchase_values",
    oracle=f"""
SELECT user_id, ts, event_id, value,
       round(({_EWMA_NUM_SQL}) / ({_EWMA_DEN_SQL}), 6) AS ewma_value
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def ewma_purchase_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed purchase values per user (α=0.5, 8-term truncation —
    the tail weight is ≤0.4% of the head). The recurrence is unrolled
    into fixed lag() expressions inside whole-stage codegen: one key
    shuffle, zero Python, bounded dependence per row."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ewma(ev, key="user_id", alpha=0.5, k_lags=8, out="ewma_value")


@register(
    "value_mad_outliers",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY 1)
SELECT e.event_type,
       count(*)::BIGINT AS n,
       round(any_value(m.med), 6) AS med,
       round(any_value(d.mad), 6) AS mad,
       sum(CASE WHEN d.mad > 0
                 AND abs(e.value - m.med) > 3.5e0 * 1.4826e0 * d.mad
            THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
GROUP BY 1
""",
    extra=True,
)
def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier census via median/MAD (exact interpolated
    percentiles both engines compute identically). Two O(groups)-row
    aggregations broadcast back; the flag is map-side."""
    ev = load_table(spark, sf_dir, "events")
    flagged = mad_outliers(ev, group="event_type", value="value", z_cut=3.5)
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.first("med"), 6).alias("med"),
        F.round(F.first("mad"), 6).alias("mad"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
    )


@register(
    "twa_purchase_values",
    oracle="""
WITH seg AS (
  SELECT user_id, value, ts, event_id,
         CAST(value * coalesce((epoch_us(lead(ts) OVER w) - epoch_us(ts)) / 1e6, 0e0)
              AS DECIMAL(28,8)) AS wv,
         CAST(coalesce((epoch_us(lead(ts) OVER w) - epoch_us(ts)) / 1e6, 0e0)
              AS DECIMAL(20,6)) AS dt
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
       round(CASE WHEN CAST(sum(dt) AS DOUBLE) > 0
                  THEN CAST(sum(wv) AS DOUBLE) / CAST(sum(dt) AS DOUBLE)
                  ELSE arg_min(value, event_id) END, 6) AS twa_value,
       count(*)::BIGINT AS n_obs,
       round(CAST(sum(dt) AS DOUBLE), 4) AS span_seconds
FROM seg GROUP BY 1
""",
    extra=True,
)
def twa_purchase_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average purchase value per user — each observation
    holds until its successor (LOCF weighting), so burst sampling doesn't
    skew the mean. One lead window on one key shuffle; decimal-summed
    terms make the aggregate order-independent and oracle-exact."""
    from vector_db_spark.operators.timeseries import time_weighted_avg

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = time_weighted_avg(ev, key="user_id")
    return out.select(
        "user_id",
        F.round("twa_value", 6).alias("twa_value"),
        "n_obs",
        F.round("span_seconds", 4).alias("span_seconds"),
    )


@register(
    "counter_rate_purchases",
    oracle="""
WITH seg AS (
  SELECT user_id,
         CAST(CASE WHEN lag(value) OVER w IS NULL THEN NULL
                   WHEN value >= lag(value) OVER w THEN value - lag(value) OVER w
                   ELSE value END AS DECIMAL(28,8)) AS inc,
         CASE WHEN lag(value) OVER w IS NOT NULL AND value < lag(value) OVER w
              THEN 1 ELSE 0 END AS is_reset,
         CAST((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6 AS DECIMAL(20,6)) AS dt
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
       round(coalesce(CAST(sum(inc) AS DOUBLE), 0e0), 4) AS total_increase,
       round(coalesce(CAST(sum(dt) AS DOUBLE), 0e0), 4) AS span_seconds,
       round(CASE WHEN CAST(sum(dt) AS DOUBLE) > 0
                  THEN CAST(sum(inc) AS DOUBLE) / CAST(sum(dt) AS DOUBLE)
                  ELSE 0e0 END, 9) AS rate_per_sec,
       sum(is_reset)::BIGINT AS n_resets
FROM seg GROUP BY 1
""",
    extra=True,
)
def counter_rate_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style counter rate over each user's purchase-value series,
    treating the value as a monotonic counter with reset detection (a
    drop = restart; the post-reset level counts as the increase). One lag
    window on one key shuffle, decimal-summed increases."""
    from vector_db_spark.operators.timeseries import counter_rate

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = counter_rate(ev, key="user_id")
    return out.select(
        "user_id",
        F.round("total_increase", 4).alias("total_increase"),
        F.round("span_seconds", 4).alias("span_seconds"),
        F.round("rate_per_sec", 9).alias("rate_per_sec"),
        "n_resets",
    )


@register(
    "rolling_7d_purchase_stats",
    extra=True,
    oracle="""
SELECT user_id, ts, event_id, value,
       count(*) OVER w AS n_window,
       CAST(sum(CAST(value AS DECIMAL(24,6))) OVER w AS DOUBLE) AS sum_window,
       round(CAST(sum(CAST(value AS DECIMAL(24,6))) OVER w AS DOUBLE)
             / count(*) OVER w, 6) AS avg_window
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
""",
)
def rolling_7d_purchase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day purchase count/sum/mean per user at every purchase —
    the event-time RANGE frame (bursts and sparse keys see the same
    horizon). One key shuffle; decimal-cast terms keep the running sum
    engine-exact."""
    from vector_db_spark.operators.timeseries import rolling_time_stats

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = rolling_time_stats(ev, key="user_id", window_seconds=7 * 86400)
    return out.select(
        "user_id", "ts", "event_id", "value", "n_window", "sum_window",
        F.round("avg_window", 6).alias("avg_window"),
    )


@register(
    "seasonal_hourly_outliers",
    extra=True,
    oracle="""
WITH base AS (
  SELECT event_type, extract(hour FROM ts)::INTEGER AS hod, value FROM events),
stats AS (
  SELECT event_type, hod,
         count(*)::BIGINT AS n,
         CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS mu,
         CAST(sum(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS m2
  FROM base GROUP BY 1, 2)
SELECT b.event_type, b.hod, any_value(s.n) AS n,
       round(any_value(s.mu), 6) AS mean_value,
       sum(CASE WHEN sqrt(greatest(s.m2 - s.mu * s.mu, 0)) > 0
                 AND abs(b.value - s.mu) > 3e0 * sqrt(greatest(s.m2 - s.mu * s.mu, 0))
            THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM base b JOIN stats s USING (event_type, hod)
GROUP BY 1, 2
""",
)
def seasonal_hourly_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly census: each event scored against its
    (type, hour-of-day) population — the diurnal profile a flat global
    threshold misses. Two aggregations over the same grouping (decimal-
    summed moments, broadcast back); flags map-side; 3σ population cut."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.hour("ts").alias("hod"), F.col("value").cast("double").alias("value")
    )
    mu = F.sum(F.col("value").cast("decimal(24,6)")).cast("double") / F.count("*")
    m2 = F.sum((F.col("value") * F.col("value")).cast("decimal(30,8)")).cast("double") / F.count("*")
    stats = base.groupBy("event_type", "hod").agg(
        F.count("*").alias("n"), mu.alias("mu"), m2.alias("m2")
    )
    sd = F.sqrt(F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(0.0)))
    return (
        base.join(F.broadcast(stats), ["event_type", "hod"])
        .groupBy("event_type", "hod")
        .agg(
            F.first("n").alias("n"),
            F.round(F.first("mu"), 6).alias("mean_value"),
            F.sum(
                (
                    (sd > 0) & (F.abs(F.col("value") - F.col("mu")) > 3.0 * sd)
                ).cast("long")
            ).alias("n_outliers"),
        )
    )


@register(
    "click_purchase_crosscorr",
    extra=True,
    oracle="""
WITH counts AS (
  SELECT date_trunc('hour', ts) AS t, event_type AS s, count(*) AS c
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
bounds AS (SELECT min(t) AS t0, max(t) AS t1 FROM counts),
grid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS t FROM bounds),
a AS (SELECT g.t, coalesce(c.c, 0) AS a
      FROM grid g LEFT JOIN counts c ON c.t = g.t AND c.s = 'click'),
b AS (SELECT g.t AS tb, coalesce(c.c, 0) AS b
      FROM grid g LEFT JOIN counts c ON c.t = g.t AND c.s = 'purchase'),
paired AS (
  SELECT l.lag, a.a, b.b
  FROM a CROSS JOIN (SELECT unnest(range(0, 7))::INTEGER AS lag) l
  JOIN b ON b.tb = a.t + l.lag * INTERVAL 1 HOUR),
agg AS (
  SELECT lag, count(*) AS n_points, sum(a) AS sa, sum(b) AS sb,
         sum(a * b) AS sab, sum(a * a) AS saa, sum(b * b) AS sbb
  FROM paired GROUP BY lag)
SELECT lag, n_points::BIGINT AS n_points,
       round((n_points * sab - sa * sb)::DOUBLE
             / sqrt((n_points * saa - sa * sa)::DOUBLE
                    * (n_points * sbb - sb * sb)::DOUBLE), 6) AS corr
FROM agg
""",
)
def click_purchase_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag diagnostic between the click and purchase hourly series
    (operators/timeseries.lagged_cross_correlation): Pearson correlation
    at lags 0..6 h on a zero-filled shared grid — every ingredient exact
    integer arithmetic, so the value hash-matches at any parallelism. The
    raw corpus collapses to O(hours) rows in one aggregation; everything
    after is grid-sized."""
    ev = load_table(spark, sf_dir, "events")
    return lagged_cross_correlation(ev, max_lag=6)


@register(
    "cusum_level_shifts",
    oracle="""
WITH grid AS (
  SELECT s.event_type, g.t
  FROM (SELECT DISTINCT event_type FROM events) s
  CROSS JOIN (SELECT unnest(generate_series(
      (SELECT date_trunc('hour', min(ts)) FROM events),
      (SELECT date_trunc('hour', max(ts)) FROM events), INTERVAL 1 HOUR)) AS t) g),
cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS t, count(*) AS x
  FROM events GROUP BY 1, 2),
series AS (
  SELECT g.event_type, g.t, coalesce(c.x, 0) AS x,
         row_number() OVER (PARTITION BY g.event_type ORDER BY g.t) AS pos
  FROM grid g LEFT JOIN cnt c ON g.event_type = c.event_type AND g.t = c.t),
base AS (
  SELECT event_type, SUM(x) AS sb FROM series WHERE pos <= 168 GROUP BY 1),
pfx AS (
  SELECT s.event_type, s.t, s.pos, b.sb,
         SUM((4 * 168 * s.x - 5 * b.sb)::BIGINT)
           OVER (PARTITION BY s.event_type ORDER BY s.pos) AS p
  FROM series s JOIN base b USING (event_type)),
cusum AS (
  SELECT event_type, t, sb,
         p - LEAST(0, MIN(p) OVER (PARTITION BY event_type ORDER BY pos)) AS s
  FROM pfx)
SELECT event_type, t AS window_start, s::BIGINT AS cusum_scaled
FROM cusum WHERE s > 12 * sb
""",
)
def cusum_level_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection over hourly event counts
    (operators/timeseries.cusum_changepoints): the sequential-looking
    recursion evaluated as two window functions via the prefix-sum
    closed form, with 4·B-scaled INTEGER drift so every engine computes
    the identical alarm set — value-exact down to the scaled statistic.
    At sf0.01 the sparse counts yield a rich alarm table (~300 rows
    hash-checked); at sf0.1 the 10× denser stream has proportionally
    smaller relative drift and the EMPTY alarm set is the statistically
    correct answer (the fixture plants no level shift)."""
    from vector_db_spark.operators.timeseries import cusum_changepoints

    return cusum_changepoints(load_table(spark, sf_dir, "events"))


@register(
    "trend_mann_kendall",
    extra=True,
    oracle="""
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS t, count(*) AS x
  FROM events GROUP BY 1, 2),
pos AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY t) AS pos
  FROM cnt),
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
         round((b.x - a.x) * 1.0 / (b.pos - a.pos), 6) AS slope
  FROM pos a JOIN pos b ON a.event_type = b.event_type AND a.pos < b.pos),
mk AS (
  SELECT event_type, SUM(sgn)::BIGINT AS mk_s, count(*)::BIGINT AS n_pairs
  FROM pairs GROUP BY 1),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM pairs),
sen AS (
  SELECT event_type, round(avg(slope), 6) AS sen_slope
  FROM ranked WHERE r IN ((n + 1) // 2, (n + 2) // 2)
  GROUP BY event_type)
SELECT m.event_type, m.mk_s, m.n_pairs, s.sen_slope
FROM mk m JOIN sen s USING (event_type)
""",
)
def trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen slope per event-type hourly
    series (operators/timeseries.trend_mann_kendall_sen) — robust trend
    detection with an integer-exact S statistic and a rank-selected
    median slope, reproduced value-exactly by the oracle. The fixture
    stream is stationary, so near-zero S and a 0.0 Sen slope are the
    statistically correct answers the hash check pins."""
    from vector_db_spark.operators.timeseries import trend_mann_kendall_sen

    return trend_mann_kendall_sen(load_table(spark, sf_dir, "events"))


@register(
    "decayed_event_type_scores",
    oracle="""
WITH mx AS (SELECT max(ts) AS tmax FROM events),
pb AS (
  SELECT event_type,
         least(floor((epoch_us(tmax) - epoch_us(ts)) / 86400000000), 30)::INT AS b,
         count(*) AS n
  FROM events CROSS JOIN mx GROUP BY 1, 2)
SELECT event_type,
       sum(n)::BIGINT AS n_events,
       sum(n * (1::BIGINT << (30 - b)))::BIGINT AS decayed_fp,
       round(sum(n * (1::BIGINT << (30 - b)))::DOUBLE / 1073741824.0, 9) AS decayed_score
FROM pb GROUP BY event_type
""",
)
def decayed_event_type_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed event-type frequency (operators/timeseries.
    decayed_key_scores): bucketed exponential decay 2^-⌊age/24h⌋ from the
    stream's max event time — "what is hot now" vs plain counts. The
    bucketed exponent keeps every weight an exact power of two, so the
    scaled-integer score (decayed_fp) is value-hash-exact across engines
    where a fractional-pow decay would drift by libm ulps. Shuffle is
    bounded at keys x 31 bucket rows, corpus-independent."""
    from vector_db_spark.operators.timeseries import decayed_key_scores

    return decayed_key_scores(
        load_table(spark, sf_dir, "events"),
        key="event_type", ts="ts", halflife_hours=24,
    )
