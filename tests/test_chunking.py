"""RAG chunking: window math, coverage, and reconstruction properties."""

from __future__ import annotations

import pytest

from vector_db_spark.operators.chunking import chunk_documents


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_chunk_windows_cover_and_overlap(spark):
    text = "abcdefghijklmnopqrstuvwxyz" * 10  # 260 chars
    df = _docs(spark, [text])
    rows = (
        chunk_documents(df, size=100, overlap=20)
        .orderBy("chunk_idx")
        .collect()
    )
    # stride 80: starts at 0, 80, 160, 240 (< 260)
    assert [r.chunk_start for r in rows] == [0, 80, 160, 240]
    assert [len(r.chunk_text) for r in rows] == [100, 100, 100, 20]
    for prev, nxt in zip(rows, rows[1:]):
        if len(prev.chunk_text) == 100:
            assert prev.chunk_text[-20:] == nxt.chunk_text[:20]  # exact overlap
    # stitching strides reconstructs the document exactly
    stitched = rows[0].chunk_text + "".join(r.chunk_text[20:] for r in rows[1:])
    assert stitched == text


def test_every_doc_yields_at_least_one_chunk(spark):
    df = _docs(spark, ["", "x", "y" * 500])
    counts = {
        r.doc_id: r["count"]
        for r in chunk_documents(df, size=200, overlap=50).groupBy("doc_id").count().collect()
    }
    assert counts[0] == 1 and counts[1] == 1
    assert counts[2] == 4  # stride 150: starts 0,150,300,450


def test_invalid_overlap_rejected(spark):
    df = _docs(spark, ["abc"])
    with pytest.raises(ValueError):
        chunk_documents(df, size=10, overlap=10)
    with pytest.raises(ValueError):
        chunk_documents(df, size=10, overlap=-1)


def test_chunk_plan_is_shuffle_free(spark):
    """The split must stay a pure projection: no Exchange in the plan."""
    df = _docs(spark, ["hello world " * 50])
    plan = chunk_documents(df, size=64, overlap=16)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
