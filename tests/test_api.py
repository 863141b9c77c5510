"""Service-facade integration tests — the reference's API test surface
(tests/integration/test_search_api.py, test_embed_api.py) without HTTP:
insert→search roundtrip, metadata-filter semantics, empty-filter
short-circuit, health, persistence across 'restarts'."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from vector_db_spark.api import VectorDBService


@pytest.fixture
def service(spark, tmp_path):
    svc = VectorDBService(spark, str(tmp_path / "svc"), dim=32)
    docs = spark.createDataFrame(
        [
            ("Red Apple", {"color": "red", "kind": "fruit"}),
            ("Green Apple", {"color": "green", "kind": "fruit"}),
            ("Red Car", {"color": "red", "kind": "car"}),
            ("Blue Bicycle", {"color": "blue", "kind": "vehicle"}),
        ],
        "content string, metadata map<string,string>",
    )
    assert svc.insert_documents(docs) == 4
    return svc


def test_insert_search_roundtrip(service):
    """Searching an inserted text returns it as the top hit at distance ~0
    (test_embed_api.py / test_search_api.py roundtrip)."""
    hits = service.search(["Red Apple"], top_k=2).collect()
    top = [h for h in hits if h.rank == 1][0]
    assert top.content == "Red Apple"
    assert top.distance < 1e-6


def test_metadata_filter_excludes_nonmatching(service):
    """Reference semantics (test_search_api.py:149-172): filtering
    color=red must exclude 'Green Apple' even for an apple query."""
    hits = service.search(["Green Apple"], top_k=4, metadata_filter={"color": "red"}).collect()
    contents = {h.content for h in hits}
    assert "Green Apple" not in contents
    assert contents <= {"Red Apple", "Red Car"}
    # conjunction: two pairs → only Red Apple
    hits = service.search(
        ["Apple"], top_k=4, metadata_filter={"color": "red", "kind": "fruit"}
    ).collect()
    assert {h.content for h in hits} == {"Red Apple"}


def test_empty_filter_returns_no_rows(service):
    """Empty candidate set short-circuits to zero rows, no error
    (app.py:186-192, test_search_api.py:175-185)."""
    assert service.search(["Apple"], metadata_filter={"color": "mauve"}).count() == 0


def test_health_and_index_lifecycle(service):
    h = service.health()
    assert h == {"status": "healthy", "storage_nodes": 4, "index": False}
    service.build_index(k=2)
    h = service.health()
    assert h["index"] and h["index_vectors"] == 4 and h["index_clusters"] <= 2
    # indexed search (filtered + unfiltered) still correct
    top = [r for r in service.search(["Red Car"], top_k=1, n_probe=2).collect() if r.rank == 1][0]
    assert top.content == "Red Car"
    hits = service.search(["Red Car"], top_k=4, n_probe=2, metadata_filter={"kind": "fruit"}).collect()
    assert {h.content for h in hits} == {"Red Apple", "Green Apple"}


def test_incremental_insert_updates_index(spark, service):
    """Inserting after build_index incrementally extends the index
    (reference insert path, app.py:149 → indexing_service.insert_node)."""
    service.build_index(k=2)
    more = spark.createDataFrame(
        [("Purple Plum", {"color": "purple", "kind": "fruit"})],
        "content string, metadata map<string,string>",
    )
    service.insert_documents(more)
    assert service.health()["index_vectors"] == 5
    # the index holds exactly the stored ids
    stored = sorted(r.id for r in service.nodes.all_ids().collect())
    indexed = sorted(r.id for r in service._index().corpus().select("id").collect())
    assert indexed == stored == [1, 2, 3, 4, 5]
    top = [r for r in service.search(["Purple Plum"], top_k=1, n_probe=2).collect() if r.rank == 1][0]
    assert top.content == "Purple Plum"
    assert top.distance < 1e-6


def test_persistence_across_restart(spark, service):
    """A new service instance over the same path sees everything
    (test_embed_api.py:190-210 index-file persistence)."""
    service.build_index(k=2)
    svc2 = VectorDBService(spark, service.base_path, dim=32)
    assert svc2.health()["storage_nodes"] == 4
    top = [r for r in svc2.search(["Blue Bicycle"], top_k=1).collect() if r.rank == 1][0]
    assert top.content == "Blue Bicycle"


def test_refresh_index_after_drifting_inserts(spark, service):
    """Post-insert refresh: centroid table moves toward the new data and
    search still fills k with every document accounted for."""
    assert service.refresh_index() == {"max_shift": 0.0, "drifted": [], "moved": 0}
    service.build_index(k=2)
    many = spark.createDataFrame(
        [(f"zzz drift document {i}", {"kind": "drift"}) for i in range(20)],
        "content string, metadata map<string,string>",
    )
    service.insert_documents(many)
    stats = service.refresh_index(reassign_threshold=0.0)
    assert stats["max_shift"] > 0.0
    h = service.health()
    assert h["storage_nodes"] == 24 and h["index_vectors"] == 24
    hits = service.search(["Red Apple"], top_k=3)
    assert hits.count() == 3


def test_delete_documents_removes_from_store_and_index(spark, tmp_path):
    from pyspark.sql import functions as F

    svc = VectorDBService(spark, str(tmp_path / "svc"), dim=8)
    docs = spark.createDataFrame(
        [(f"doc number {i}", {"k": str(i % 2)}) for i in range(30)],
        "content string, metadata map<string,string>",
    )
    svc.insert_documents(docs)
    svc.build_index(k=3)
    removed = svc.delete_documents([1, 2, 3, 999])
    assert removed == 3  # 999 never existed
    assert svc.nodes.size() == 27
    # the index agrees: deleted ids are unsearchable and membership matches
    idx = svc._index()
    assert idx.corpus().filter(F.col("id").isin([1, 2, 3])).count() == 0
    assert idx.corpus().count() == 27
    # search still works over the survivors
    q = svc.nodes.df().filter(F.col("id") == 5).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = idx.search(q, k=3, n_probe=3)
    assert got.count() == 3

    # an emptied store numbers from 1 again, like a new one
    svc.delete_documents([r.id for r in svc.nodes.all_ids().collect()])
    assert svc.nodes.size() == 0
    # the emptied index still opens: no clusters, no hits
    assert svc.health()["index_clusters"] == 0
    assert svc.search(["doc number 5"], top_k=3).count() == 0
    assert svc.insert_documents(docs.limit(1)) == 1
    assert [r.id for r in svc.nodes.all_ids().collect()] == [1]
    assert [r.id for r in idx.corpus().select("id").collect()] == [1]


def test_insert_embeds_each_document_once(spark, tmp_path, force_large):
    """The embedder runs once per inserted document, into a new store and
    into an indexed one, on either id-numbering branch: the batch is
    materialized once, and the index is fed the rows that were written."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from vector_db_spark.functions.embedding import _stub_vec

    embedded = spark.sparkContext.accumulator(0)

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def counting_embedder(texts: pd.Series) -> pd.Series:
        embedded.add(len(texts))
        return texts.map(lambda t: _stub_vec(t, 8))

    svc = VectorDBService(spark, str(tmp_path / "svc"), dim=8, embedder=counting_embedder)

    def docs(tag, n):
        return spark.createDataFrame(
            [(f"{tag} document {i}", {"tag": tag}) for i in range(n)],
            "content string, metadata map<string,string>",
        )

    assert svc.insert_documents(docs("first", 12)) == 12
    assert embedded.value == 12
    svc.build_index(k=2)
    assert svc.insert_documents(docs("second", 5)) == 5
    assert embedded.value == 12 + 5
    assert svc.health()["index_vectors"] == 17
    # the distributed numbering reads the same checkpointed batch
    with force_large("storage.id_batch"):
        assert svc.insert_documents(docs("third", 40)) == 40
    assert embedded.value == 12 + 5 + 40
    assert svc.health()["index_vectors"] == 57
    assert sorted(r.id for r in svc.nodes.all_ids().collect()) == list(range(1, 58))


def test_unreadable_index_raises_instead_of_going_exact(spark, service):
    """A present but unreadable index is not an absent one: search and
    insert raise rather than silently running exact search or leaving the
    new documents out of the index."""
    import glob
    import os

    service.build_index(k=2)
    parts = glob.glob(os.path.join(service.index_path, "centroids", "part-*"))
    assert parts
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"this is not a parquet file")
    # search ranks its probes on the driver, so the pyarrow centroid read fails
    with pytest.raises(pa.ArrowInvalid, match="parquet"):
        service.search(["Red Apple"], top_k=2).collect()
    more = spark.createDataFrame(
        [("Yellow Banana", {"kind": "fruit"})],
        "content string, metadata map<string,string>",
    )
    with pytest.raises(pa.ArrowInvalid, match="parquet"):
        service.insert_documents(more)


def test_failed_centroid_rewrite_keeps_the_index(service, monkeypatch):
    """A refresh whose centroid write fails leaves the old centroid table
    in place: the index stays present, with the centroids it had."""
    import pyarrow.parquet as pq

    service.build_index(k=2)
    before = service._index().centroid_matrix()

    def fail(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", fail)
    with pytest.raises(OSError, match="disk full"):
        service.refresh_index()
    idx = service._index()
    assert idx is not None
    assert np.array_equal(idx.centroid_matrix(), before)


def test_service_writes_start_few_jobs(spark, tmp_path, jobs_of):
    """An insert into an indexed store starts at most 6 Spark jobs and a
    delete at most 5. A delete of ids that do not exist starts only its
    two probes (node table and index) and rewrites no file."""
    svc = VectorDBService(spark, str(tmp_path / "svc"), dim=8)

    def docs(tag, n):
        return spark.createDataFrame(
            [(f"{tag} document {i}", {"k": str(i % 3)}) for i in range(n)],
            "content string, metadata map<string,string>",
        )

    def files():
        return sorted(
            os.path.join(d, f)
            for d, _, names in os.walk(svc.base_path)
            for f in names
        )

    svc.insert_documents(docs("first", 60))
    svc.build_index(k=3)
    n, jobs = jobs_of("svc-insert-indexed", lambda: svc.insert_documents(docs("second", 20)))
    assert n == 20 and 0 < len(jobs) <= 6, jobs
    n, jobs = jobs_of("svc-delete-indexed", lambda: svc.delete_documents([3, 30, 70]))
    assert n == 3 and 0 < len(jobs) <= 5, jobs
    before = files()
    n, jobs = jobs_of("svc-delete-missing", lambda: svc.delete_documents([500, 501]))
    assert n == 0 and 0 < len(jobs) <= 2, jobs
    assert files() == before
    assert svc.health()["storage_nodes"] == svc.health()["index_vectors"] == 77
