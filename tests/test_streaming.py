"""Structured Streaming tests: micro-batch ingest with checkpoint resume,
cross-batch stateful dedup, watermark late-data
handling (SURVEY.md §2.8)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from vector_db_spark.streaming.ingest import (
    first_seen_stream,
    hourly_counts_stream,
    ingest_stream,
    run_to_memory,
)

EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _write_file(spark, path, rows):
    spark.createDataFrame(rows, EV_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _ev(i, ts, user=1, etype="click", value=1.0):
    import datetime

    return (i, datetime.datetime.fromisoformat(ts), user, etype, value, "{}")


def _stream_events(spark, path, max_files=None):
    reader = spark.readStream.schema(EV_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(path)


def test_first_seen_state_survives_across_batches(spark, tmp_path):
    """File 1 processes first (one file per trigger); when file 2 arrives
    with another event for the same key, state says 'seen' and nothing new
    is emitted — cross-micro-batch state-store state."""
    src = str(tmp_path / "src")
    _write_file(spark, src, [_ev(1, "2024-01-01 10:00:00"), _ev(2, "2024-01-01 11:00:00", user=2)])
    time.sleep(1.1)  # distinct modTime → deterministic file order
    _write_file(spark, src, [_ev(3, "2024-01-01 09:00:00")])  # same key as event 1
    out = run_to_memory(
        first_seen_stream(_stream_events(spark, src, max_files=1)),
        output_mode="append",
    ).collect()
    got = {(r.user_id, r.event_type): r.event_id for r in out}
    # event 3 is *earlier* in event time but arrives in a later batch: the
    # operator is first-SEEN (stream order), so event 1 wins and 3 is dropped
    assert got == {(1, "click"): 1, (2, "click"): 2}


def test_ingest_checkpoint_resume_no_duplicates(spark, tmp_path):
    """foreachBatch ingest is exactly-once per file: re-running with the
    same checkpoint ingests nothing; a new source file ingests only itself."""
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    vecs = [(i, [float(i), 0.0]) for i in range(10)]
    spark.createDataFrame(vecs, "vec_id long, embedding array<float>").coalesce(2).write.parquet(src)
    cents = [(0, [0.0, 0.0]), (1, [9.0, 0.0])]
    from vector_db_spark.operators.ivf import assign_to_centroids

    def run():
        q = ingest_stream(
            spark, src, sink,
            lambda b: assign_to_centroids(b, cents),
            schema="vec_id long, embedding array<float>",
            checkpoint_dir=ckpt, max_files_per_trigger=1,
        )
        q.awaitTermination()

    run()
    n1 = spark.read.parquet(sink).count()
    assert n1 == 10
    run()  # replay with same checkpoint → no duplicates
    assert spark.read.parquet(sink).count() == 10
    spark.createDataFrame([(100, [8.0, 0.0])], "vec_id long, embedding array<float>").coalesce(
        1
    ).write.mode("append").parquet(src)
    run()  # only the new file is processed
    corpus = spark.read.parquet(sink)
    assert corpus.count() == 11
    assert corpus.filter(F.col("vec_id") == 100).collect()[0].cluster_id == 1


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a 10-minute watermark: once a window's
    state has been finalized and evicted (watermark passed its end at a
    batch boundary), a late row for it is dropped. Spark evicts lazily — a
    late row arriving while the state still lives is merged — so the drop
    needs the eviction to happen one batch before the late arrival."""
    src = str(tmp_path / "src")
    _write_file(spark, src, [
        _ev(1, "2024-01-01 10:05:00"),
        _ev(2, "2024-01-01 15:00:00"),  # advances watermark to 14:50
    ])
    time.sleep(1.1)
    _write_file(spark, src, [_ev(3, "2024-01-01 16:00:00")])  # evicts 10:00 window
    time.sleep(1.1)
    _write_file(spark, src, [_ev(4, "2024-01-01 10:10:00")])  # late by ~5h → dropped
    out = run_to_memory(
        hourly_counts_stream(_stream_events(spark, src, max_files=1), watermark="10 minutes"),
        output_mode="append",
    ).collect()
    by_window = {r.window_start.isoformat(): r.n_events for r in out}
    # the 10:00 window finalized with ONE event; the late row never counted
    assert by_window.get("2024-01-01T10:00:00") == 1


def test_dedup_stream_drops_redelivery_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a record re-delivered in a LATER
    micro-batch is dropped (bounded state, not per-batch distinct)."""
    src = str(tmp_path / "src")
    batch = [
        _ev(1, "2024-01-01 10:00:00"),
        _ev(2, "2024-01-01 10:05:00"),
    ]
    _write_file(spark, src, batch)  # delivery 1
    _write_file(spark, src, batch + [_ev(3, "2024-01-01 10:06:00")])  # redelivery + new
    out = run_to_memory(
        first_seen_stream(_stream_events(spark, src, max_files=1), ["event_id"]),
        output_mode="append",
    ).collect()
    assert sorted(r.event_id for r in out) == [1, 2, 3]


def test_streaming_embed_ingest_equals_batch(spark, tmp_path):
    """The reference's POST /embed write path end-to-end as a stream:
    text docs → stub-embed (Arrow pandas UDF *inside* the micro-batch) →
    centroid assign → cluster-partitioned append. The final corpus must
    equal the batch pipeline on the same rows — commit boundaries and the
    streaming execution of the UDF change nothing."""
    from vector_db_spark.functions.embedding import embed_column
    from vector_db_spark.operators.ivf import assign_to_centroids
    from vector_db_spark.streaming.ingest import ingest_stream

    docs = [(i, f"document number {i} with some words {i % 7}") for i in range(40)]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    centers = [(0, [0.5] * 8 + [0.0] * 8), (1, [0.0] * 8 + [0.5] * 8)]

    def embed_assign(batch):
        emb = embed_column(batch, "text", dim=16)
        return assign_to_centroids(emb, centers, id_col="doc_id")

    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    ddf.repartition(4).write.parquet(src)
    q = ingest_stream(
        spark, src, sink, embed_assign,
        schema="doc_id long, text string",
        checkpoint_dir=ckpt, max_files_per_trigger=1,
    )
    q.awaitTermination()

    streamed = {
        r.doc_id: (r.cluster_id, tuple(round(x, 5) for x in r.embedding))
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        r.doc_id: (r.cluster_id, tuple(round(x, 5) for x in r.embedding))
        for r in embed_assign(ddf).collect()
    }
    assert streamed == batch


def test_running_anomaly_batch_boundary_invariance(spark, tmp_path):
    """The anomaly stream's integer state must make results independent of
    where micro-batch boundaries fall: 1-file-per-trigger over two files
    == one batch over both == the batch window computation."""
    import datetime

    from vector_db_spark.streaming.ingest import running_anomaly_stream

    def ev(i, minute, value):
        return (
            i,
            datetime.datetime.fromisoformat(f"2024-01-01 10:{minute:02d}:00"),
            1,
            "metric",
            value,
            "{}",
        )

    # 12 calm values then two spikes, split across files mid-history
    rows1 = [ev(i, i, 10.0 + (i % 3)) for i in range(8)]
    rows2 = [ev(8 + j, 8 + j, v) for j, v in enumerate([10.0, 11.0, 12.0, 10.5, 99.0, 10.0, -500.0])]
    outs = []
    for split, tag in ((1, "split"), (None, "one")):
        src = str(tmp_path / f"src-{tag}")
        _write_file(spark, src, rows1)
        time.sleep(1.1)
        _write_file(spark, src, rows2)
        out = run_to_memory(
            running_anomaly_stream(_stream_events(spark, src, max_files=split)),
            output_mode="append",
        ).collect()
        outs.append(sorted((r.event_id, r.z) for r in out))
    assert outs[0] == outs[1]
    ids = [i for i, _ in outs[0]]
    assert 12 in ids and 14 in ids  # both spikes flagged
    assert all(i not in ids for i in range(12))  # calm prefix silent


def test_percolation_over_doc_stream(spark, tmp_path):
    """Stored-query alerting as micro-batch serving: documents arrive as a
    2-file stream, each batch percolates against the static subscription
    table through foreachBatch — the union of per-batch alerts must equal
    the batch percolation over all docs (alerts are per-doc pure, so
    commit boundaries cannot change them)."""
    from vector_db_spark.operators.hybrid import percolate
    from vector_db_spark.streaming.ingest import query_serving_stream

    stored = spark.createDataFrame(
        [("q1", ["hash", "join"]), ("q2", ["stream"])],
        "query_id string, terms array<string>",
    )
    docs = [
        (1, "the hash join plan"),
        (2, "a stream of batches"),
        (3, "hash stream join"),
        (4, "nothing here"),
    ]
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.filter("doc_id <= 2").coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    df.filter("doc_id > 2").coalesce(1).write.mode("append").parquet(src)

    q = query_serving_stream(
        spark, src, sink,
        lambda batch: percolate(batch, stored),
        schema="doc_id long, text string",
        checkpoint_dir=ckpt,
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["doc_id"], r["query_id"]) for r in spark.read.parquet(sink).collect()
    }
    want = {(r["doc_id"], r["query_id"]) for r in percolate(df, stored).collect()}
    assert got == want and (3, "q1") in got and (4, "q2") not in got


def test_left_outer_join_emits_null_after_eviction(spark, tmp_path):
    """A click with no qualifying purchase must get its NULL row once the
    global watermark passes click_ts + lookback; a matched click emits the
    pair; a click too close to the stream's end (no eviction proof yet)
    emits nothing — exactly the bounded-source determinism contract."""
    from vector_db_spark.streaming.ingest import unattributed_clicks_stream

    src = str(tmp_path / "src")
    _write_file(
        spark,
        src,
        [
            _ev(1, "2024-01-01 08:00:00", user=7, etype="click"),     # unattributed
            _ev(2, "2024-01-01 09:00:00", user=8, etype="click"),     # matched
            _ev(3, "2024-01-01 09:30:00", user=8, etype="purchase"),
            _ev(4, "2024-01-01 17:40:00", user=9, etype="click"),     # near stream end
            # watermark drivers: push both sides' max event time forward
            _ev(5, "2024-01-01 18:00:00", user=1, etype="click"),
            _ev(6, "2024-01-01 18:00:00", user=1, etype="purchase"),
        ],
    )
    clicks = _stream_events(spark, src).filter(F.col("event_type") == "click")
    purchases = _stream_events(spark, src).filter(F.col("event_type") == "purchase")
    out = run_to_memory(
        unattributed_clicks_stream(clicks, purchases), output_mode="append"
    ).collect()
    by_click = {r.click_id: r.purchase_id for r in out}
    # watermark = 18:00 - 1h = 17:00; eviction proof needs click_ts + 1h < 17:00
    assert by_click.get(1) is None and 1 in by_click
    assert by_click.get(2) == 3
    assert 4 not in by_click  # 17:40 + 1h > watermark: still in state, no null row
