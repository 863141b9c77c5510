"""Structured Streaming operators.

The reference's ingest path is record-at-a-time: HTTP insert → storage
append → incremental index update → threshold-triggered flush
(``/root/reference/src/vector_db/api/app.py:119-160``, flush at
``services/indexing_service.py:77-89,137-144``). The Spark mapping
(SURVEY.md §2.8):

- insert stream → ``readStream`` over a growing file/Kafka source
- incremental index update → per-micro-batch centroid assignment inside
  ``foreachBatch`` → append to the cluster-partitioned corpus
- ``flush_threshold`` → the micro-batch/commit boundary itself
  (``maxFilesPerTrigger`` / trigger interval); checkpointing replaces the
  dirty-flag save (indexing_service.py:117-126) with exactly-once commits.

Plus the stream-analytics surface the reference lacks: watermarked
tumbling/sliding windows and gap session windows over event time, and a
custom stateful operator (cross-batch first-seen dedup) via
``applyInPandasWithState``.

Custom stateful operators use ``applyInPandasWithState`` deliberately:
its Spark-4 successor ``transformWithStateInPandas`` (typed state
variables, event-time timers, per-state TTL) requires the ``protobuf``
package for its state-server protocol, which this container does not
ship (probed: the TWS driver worker crashes on
``import google.protobuf``). The swap is mechanical when the dependency
is available — per-key state dicts map 1:1 onto ``getValueState``.

Every function returns either a *streaming* DataFrame (composable) or runs
a bounded source to completion and returns the batch result
(``run_to_memory`` — the test/oracle harness; event-time aggregation over
a bounded source is deterministic, so these hash-match batch SQL).
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_EVENTS_SCHEMA_TMPL = (
    "event_id long, ts {ts}, user_id long, event_type string, value double, props string"
)


def read_events_stream(spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Stream the events table from a parquet directory, normalizing ``ts``
    to a plain (UTC-session) TIMESTAMP. Fixture writers materialize ``ts``
    in several physical types — TIMESTAMP(NANOS) (arrives as long nanos
    under the legacy conf), TIMESTAMP_NTZ micros, or plain TIMESTAMP — so
    the physical type is probed from the parquet footer (a metadata-only
    batch read, no data scan) and the stream schema derived from it, same
    contract as io.load_table.

    The streaming file source requires a *directory*; a single-file source
    (the fixture layout) is staged as a symlink inside a temp dir."""
    if os.path.isfile(source_dir):
        staged = tempfile.mkdtemp(prefix="events_src_")
        os.symlink(source_dir, os.path.join(staged, os.path.basename(source_dir)))
        source_dir = staged
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = dict(spark.read.parquet(source_dir).dtypes)["ts"]
    reader = spark.readStream.schema(
        _EVENTS_SCHEMA_TMPL.format(ts="long" if ts_type == "bigint" else ts_type)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    if ts_type == "bigint":  # TIMESTAMP(NANOS): truncate to micros
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def hourly_counts_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked tumbling-window aggregation (1h windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.expr("CAST(value AS DECIMAL(18,4))")).cast("double").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def unattributed_clicks_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    lookback: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER join with event-time bounds: every click,
    matched to the same user's purchase within the following ``lookback``
    or emitted with NULL purchase columns once a match is provably
    impossible. The OUTER half is the semantics the inner join above
    cannot express — the null row for a click at time T is emitted only
    after the global watermark (the MIN of both sides' watermarks, each
    ``max event time − watermark``) passes ``T + lookback``, i.e. when
    state eviction proves no qualifying purchase can still arrive. State
    stays bounded for the same reason.

    Determinism contract for bounded sources: rows with
    ``click_ts + lookback < final_watermark`` have exact batch left-join
    semantics (matched rows identical, null rows guaranteed emitted by
    the no-data flush batch); rows above that cutoff may still sit in
    state when the stream ends. Callers that need an engine-checkable
    result must filter to the deterministic region — see
    ``queries/stream.stream_unattributed_clicks``."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        F.expr(
            f"user_id = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {lookback}"
        ),
        "left_outer",
    ).select("click_id", "user_id", "click_ts", "purchase_id", "purchase_ts")


def first_seen_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    *,
    watermark: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """First event per key, NATIVE — **the default for first-seen/dedup
    pipelines**: ``dropDuplicatesWithinWatermark`` on the key columns.
    State lives JVM-side in the state store (no per-batch Python/Arrow
    exchange) and is evicted once the watermark passes a key's last
    sighting, so state is bounded on a perpetual stream.

    Why native and not ``applyInPandasWithState``: a 100× run measured
    the Python stateful form at 110 s for 10 M events /
    750 k keys — ~90 k row-visits/s through the Arrow state boundary,
    unchanged under the RocksDB provider — while this native form does
    the same first-seen filtering inside the JVM (measured at the
    stream_hourly_counts cost class, not the Python-state class).

    Semantics note: the surviving row per key is the first to ARRIVE
    (arrival order == event-time order only when the source replays in
    order); a key recurring after its watermark expiry re-emits. When you
    need the event-time argmin row exactly, or richer per-key state than
    seen/not-seen, use a custom-state ``applyInPandasWithState``."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys or ["user_id", "event_type"]
    )


def run_to_memory(sdf: DataFrame, *, output_mode: str = "complete") -> DataFrame:
    """Run a streaming DataFrame over its (bounded) source to completion
    via the memory sink; return the result as a batch DataFrame."""
    name = "stream_out_" + uuid.uuid4().hex[:8]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def ingest_stream(
    spark: SparkSession,
    source_dir: str,
    sink_path: str,
    assign_batch,
    *,
    schema: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """The reference's write path as micro-batches: each batch is assigned
    a ``cluster_id`` (the incremental index update, ivf.py:87-117) and
    appended to the cluster-partitioned corpus. ``assign_batch`` is a
    (batch_df) -> df-with-cluster_id function (e.g. IVFIndex.assign).
    Returns the StreamingQuery (caller awaits termination)."""
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        assigned = assign_batch(batch_df)
        # deliberately NOT io.write_clustered here: a per-micro-batch
        # shuffle buys nothing when the batch is already small, and
        # streaming appends accumulate files per EPOCH regardless — file
        # count is owned by a separate compaction pass, the standard
        # streaming-sink hygiene, not by the ingest hot path.
        assigned.write.mode("append").partitionBy("cluster_id").parquet(sink_path)

    return (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def query_serving_stream(
    spark: SparkSession,
    source_dir: str,
    sink_path: str,
    search_batch,
    *,
    schema: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """The reference's read path (POST /search, app.py:165-233) as
    micro-batch serving: each arriving batch of query vectors is answered
    against the STATIC index state and the (query_id, neighbor_id, dist,
    rank) response rows appended to the results sink. ``search_batch`` is
    a (queries_df) -> hits_df function (e.g. a closure over
    ``IVFIndex.search`` or ``ivf.probe_search``).

    The serving contract this encodes: answers are a pure function of
    (query, index state) — micro-batch boundaries change latency, never
    results. State stays executor-side (the index is a cached/broadcast
    table, exactly the foreachBatch shape of :func:`ingest_stream` on the
    write path); the stream carries only queries in and k-row answers
    out, so serving scales with query rate, not corpus size. Returns the
    StreamingQuery (caller awaits termination)."""
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        search_batch(batch_df).write.mode("append").parquet(sink_path)

    return (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def running_anomaly_stream(events: DataFrame, *, min_history: int = 10,
                           z_cut: float = 3.0) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: flag events
    whose value is a |z| > ``z_cut`` outlier against that user's OWN
    history-so-far (running mean/variance of all *previous* values) —
    the per-key online anomaly detector of a metrics/ingest pipeline.

    Exactness discipline: values are quantized to integer centi-units
    (the fixture's native 2-decimal precision — centi keeps Σv² within
    int64 out to ~1e9 events per key; upgrade to decimal sums past that)
    and the state is exact integer sums ``(n, Σv, Σv²)``, so the
    streaming answer is bit-identical to the batch window form (and to
    the DuckDB oracle) regardless of micro-batch boundaries — the same
    integer-unit idiom as operators/pca.py dim_stats. State is 3 longs
    per user, horizon-free by design (a true running profile).
    """
    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("z", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.LongType()),
            T.StructField("s2", T.LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        import numpy as np

        n, s, s2 = state.get if state.exists else (0, 0, 0)
        frames = [p for p in pdfs if not p.empty]
        if not frames:
            if not state.exists:
                state.update((0, 0, 0))
            return
        pdf = pd.concat(frames).sort_values(["ts", "event_id"])
        vi = np.round(pdf["value"].to_numpy(dtype=np.float64) * 1e2).astype(np.int64)
        # exclusive prefix sums with carried-in state
        cn = n + np.arange(len(vi))
        cs = s + np.concatenate(([0], np.cumsum(vi)[:-1]))
        cs2 = s2 + np.concatenate(([0], np.cumsum(vi * vi)[:-1]))
        with np.errstate(divide="ignore", invalid="ignore"):
            mu = cs / np.maximum(cn, 1) / 1e2
            var = cs2 / np.maximum(cn, 1) / 1e4 - mu * mu
            sd = np.sqrt(np.maximum(var, 0.0))
            z = (vi / 1e2 - mu) / sd
        mask = (cn >= min_history) & (sd > 0) & (np.abs(z) > z_cut)
        state.update((int(n + len(vi)), int(s + vi.sum()), int(s2 + (vi * vi).sum())))
        if mask.any():
            out = pdf.loc[mask, ["event_id", "user_id", "ts", "value"]].copy()
            out["z"] = np.round(z[mask], 4)
            yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def sketch_maintenance_stream(
    spark: SparkSession,
    source_dir: str,
    sketch_path: str,
    *,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Incremental sketch maintenance on the ingest path: every arriving
    micro-batch is reduced to per-(event_type, day) HLL segment rows
    (operators/sketches.py) appended to a summary table. Distinct-count
    questions over any span then merge kilobyte sketch rows instead of
    rescanning the event history — the streaming form of the segment/
    rollup lifecycle, and the scale answer to "how many unique users has
    this pipeline ever seen": state grows with (groups × batches), not
    with the stream. HLL union is commutative/associative, so batch
    boundaries never change the merged answer beyond sketch resolution.
    Returns the StreamingQuery (caller awaits termination)."""
    from vector_db_spark.operators.sketches import hll_segment_sketches

    events = read_events_stream(spark, source_dir, max_files_per_trigger)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        seg = hll_segment_sketches(
            batch_df.withColumn("day", F.to_date("ts")),
            "user_id",
            ["event_type", "day"],
        )
        seg.write.mode("append").parquet(sketch_path)

    return (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ohlc_stream(events: DataFrame, *, step: str = "1 day", watermark: str = "2 days") -> DataFrame:
    """Streaming OHLC bars — the hypertable *continuous aggregate* as a
    watermarked windowed aggregation (the batch twin is
    ``operators.timeseries.ohlc_bars``). ``min_by``/``max_by`` over the
    (ts, event_id) struct order carry open/close through partial-state
    merges deterministically, so over a bounded source the stream result
    is identical to the batch rollup (the registered oracle proves it).
    State per (type, window) is five scalars + two structs — bounded by
    the watermark horizon, not the stream length."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", step).alias("w"), "event_type")
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close"),
            F.count("*").alias("n_obs"),
            F.sum(F.expr("CAST(value AS DECIMAL(18,4))")).cast("double").alias("total"),
        )
        .select(
            F.col("w.start").alias("bucket_ts"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_obs",
            "total",
        )
    )
