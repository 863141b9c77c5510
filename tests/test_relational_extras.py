"""Tests for the remote-embed client shape (E3) with an injected transport
and for the planted-violation expectations check."""

from __future__ import annotations

from vector_db_spark.functions.embedding import remote_embed


def test_remote_embed_with_injected_transport(spark):
    """The client batches requests per partition and attaches vectors; the
    fake transport records call shapes (no network in this environment)."""
    calls = []

    def fake_transport(url, texts):
        calls.append((url, len(texts)))
        return [[float(len(t)), 0.0] for t in texts]

    df = spark.createDataFrame(
        [(i, "x" * (i + 1)) for i in range(10)], "doc_id long, text string"
    ).coalesce(1)
    out = remote_embed(
        df, "text", endpoint="http://embed.svc/embed/batch",
        dim=2, batch_size=4, transport=fake_transport,
    ).collect()
    got = {r.doc_id: r.embedding for r in out}
    assert got[4] == [5.0, 0.0]  # length-derived fake vector
    assert len(got) == 10


def test_expectations_catch_planted_violations(spark):
    from vector_db_spark.operators.quality import (
        expect_foreign_key,
        expect_in_range,
        expect_not_null,
        expect_unique,
        expectation_report,
    )

    child = spark.createDataFrame(
        [(1, 10, 0.05, "a"), (1, 10, 0.2, None), (2, 99, -0.1, "c")],
        "id long, fk long, v double, name string",
    )
    parent = spark.createDataFrame([(10,)], "pk long")
    rep = {
        r["check"]: r.asDict()
        for r in expectation_report(
            [
                expect_unique(child, ["id"], "t"),
                expect_not_null(child, "name", "t"),
                expect_in_range(child, "v", 0.0, 0.1, "t"),
                expect_foreign_key(child, "fk", parent, "pk", "t"),
            ]
        ).collect()
    }
    assert rep["unique(id)"]["violations"] == 1 and not rep["unique(id)"]["ok"]
    assert rep["not_null(name)"]["violations"] == 1
    assert rep["range(v,[0.0,0.1])"]["violations"] == 2
    assert rep["fk(fk->pk)"]["violations"] == 1
