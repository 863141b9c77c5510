"""NodeTable CRUD tests — the reference's storage test surface
(tests/services/test_storage_service.py:15-151,
tests/inference/test_mmap_vector_store.py:29-385) on Parquet."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from vector_db_spark.storage import NODE_SCHEMA, NodeTable


def _nodes(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in e], c, m) for i, e, c, m in rows], NODE_SCHEMA
    )


@pytest.fixture
def table(spark, tmp_path):
    t = NodeTable(spark, str(tmp_path / "nodes"), dim=4)
    t.init(
        _nodes(
            spark,
            [
                (1, [1, 0, 0, 0], "Red Apple", {"color": "red", "kind": "fruit"}),
                (2, [0, 1, 0, 0], "Green Apple", {"color": "green", "kind": "fruit"}),
                (3, [0, 0, 1, 0], "Red Car", {"color": "red", "kind": "car"}),
            ],
        )
    )
    return t


def test_roundtrip_and_reopen(spark, table):
    """Write → reopen → identical contents (persistence across 'restarts')."""
    reopened = NodeTable(spark, table.path)
    rows = {r.id: r for r in reopened.df().collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].content == "Red Apple"
    assert rows[1].metadata == {"color": "red", "kind": "fruit"}
    assert rows[2].embedding == [0.0, 1.0, 0.0, 0.0]


def test_point_lookup_and_projection(table):
    assert table.get(2).collect()[0].content == "Green Apple"
    emb = table.get_embedding(3).collect()
    assert len(emb) == 1 and emb[0].embedding == [0.0, 0.0, 1.0, 0.0]
    assert table.get(99).count() == 0  # missing id → empty, not error
    assert table.size() == 3


def test_metadata_filter_conjunction(table):
    """Reference semantics: ALL pairs must match ('Green Apple' excluded when
    filtering color=red — test_search_api.py:149-172)."""
    ids = {r.id for r in table.filter_by_metadata({"color": "red"}).collect()}
    assert ids == {1, 3}
    ids = {r.id for r in table.filter_by_metadata({"color": "red", "kind": "fruit"}).collect()}
    assert ids == {1}
    assert table.filter_by_metadata({"color": "blue"}).count() == 0


def test_append_and_next_id(spark, table):
    newbies = _nodes(spark, [(-1, [1, 1, 0, 0], "Blue Bike", {"color": "blue"})]).drop("id")
    table.append_with_ids(newbies.select(F.lit(None).cast("long").alias("id"), "*").drop("id"))
    assert table.size() == 4
    assert {r.id for r in table.all_ids().collect()} == {1, 2, 3, 4}


def test_upsert_replaces(spark, table):
    table.upsert(_nodes(spark, [(2, [9, 9, 9, 9], "Ripe Apple", {"color": "yellow"})]))
    assert table.size() == 3
    assert table.get(2).collect()[0].content == "Ripe Apple"


def test_delete(spark, table):
    table.delete([1, 3])
    assert {r.id for r in table.df().collect()} == {2}


def test_dim_validation(spark, table):
    with pytest.raises(ValueError, match="dimension mismatch"):
        table.append(_nodes(spark, [(9, [1, 2, 3], "short", {})]))


def test_zero_vector_is_not_a_free_slot(spark, table):
    """The reference misclassifies all-zero embeddings as free slots
    (storage.py:183-196); we deliberately don't."""
    table.append(_nodes(spark, [(10, [0, 0, 0, 0], "zero", {})]))
    assert table.get(10).count() == 1
    table.delete([2])
    assert table.get(10).count() == 1  # survives an unrelated rewrite


def test_missing_core_column_raises(spark, table, tmp_path, jobs_of):
    bad = spark.createDataFrame(
        [(20, [1.0, 0.0, 0.0, 0.0], "No Meta")],
        "id long, embedding array<float>, content string",
    )
    with pytest.raises(ValueError, match="missing core columns"):
        table.append(bad)

    # a column outside the node schema is rejected by name, never dropped
    extra = spark.createDataFrame(
        [(20, [1.0, 0.0, 0.0, 0.0], "Yellow Pear", {"kind": "fruit"}, "en")],
        "id long, embedding array<float>, content string, "
        "metadata map<string,string>, lang string",
    )
    with pytest.raises(ValueError, match="outside the node schema.*'lang'"):
        table.append(extra)
    with pytest.raises(ValueError, match="outside the node schema.*'lang'"):
        table.upsert(extra)
    assert table.size() == 3

    from vector_db_spark.api import VectorDBService

    svc = VectorDBService(spark, str(tmp_path / "svc"), dim=4)
    docs = spark.createDataFrame(
        [("Purple Grape", {"kind": "fruit"}, "batch-7")],
        "content string, metadata map<string,string>, ingest_tag string",
    )

    def insert():
        with pytest.raises(ValueError, match="outside the node schema.*'ingest_tag'"):
            svc.insert_documents(docs)

    # rejected from the column names alone, before any count or embedding
    _, jobs = jobs_of("insert-extra-column", insert)
    assert jobs == []
    assert not svc.nodes.exists()


def test_open_reads_with_the_fixed_schema_and_no_spark_job(spark, table, jobs_of):
    """Opening an existing table pins NODE_SCHEMA: its df() starts no
    Spark job (a schema-inferring read runs a footer-merge job)."""
    # the probe sees the job an inferring read starts
    _, control = jobs_of(
        "node-open-merge",
        lambda: spark.read.option("mergeSchema", "true").parquet(table.path),
    )
    assert control
    df, jobs = jobs_of("node-open", lambda: NodeTable(spark, table.path).df())
    assert jobs == []
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in NODE_SCHEMA
    ]
    assert df.count() == 3


def test_exists_is_a_filesystem_check(spark, tmp_path):
    t = NodeTable(spark, str(tmp_path / "nope"))
    assert not t.exists()
    t.init(_nodes(spark, [(1, [1, 0, 0, 0], "x", {})]))
    assert t.exists()


def test_append_with_ids_large_batch_routes_distributed(spark, table, force_large):
    """On the large branch the id assignment goes through the
    range-repartitioned global_row_number — no single-task global window
    — and value parity holds: the id block is max+1..max+n and every row
    survives."""
    batch = _nodes(
        spark,
        [(-1, [float(i), 1.0, 0.0, 0.0], f"doc {i}", {"i": str(i)}) for i in range(25)],
    ).drop("id")
    with force_large("storage.id_batch"):
        table.append_with_ids(batch)
    rows = table.df().collect()
    assert len(rows) == 3 + 25
    new = [r for r in rows if r.id > 3]
    assert sorted(r.id for r in new) == list(range(4, 29))
    # every batch row present exactly once, content intact
    assert sorted(r.content for r in new) == sorted(f"doc {i}" for i in range(25))
    # plan shape: the distributed path range-partitions instead of a
    # single-task Window over monotonically_increasing_id
    from vector_db_spark.operators.packing import global_row_number
    import pyspark.sql.functions as F

    keyed = batch.withColumn("__ord", F.md5(F.to_json(F.struct(*batch.columns))))
    plan = global_row_number(keyed, ["__ord"], out_col="__rowno")._jdf.queryExecution().executedPlan().toString()
    # global_row_number localCheckpoints its range-partitioned input, so
    # the executed plan is Scan ExistingRDD (the materialized ranged
    # layout) + a map-only numbering pass — crucially NO Window node (the
    # single-task global-sort shape this guard exists to avoid)
    assert "Window" not in plan
    assert "MapInPandas" in plan and "ExistingRDD" in plan


def test_append_with_ids_max_id_zero_not_treated_as_empty(spark, tmp_path):
    """A table whose max id is 0 hands out 1 next, not a duplicate 0; an
    emptied or missing table hands out 1 too."""
    from vector_db_spark.storage import NodeTable

    t = NodeTable(spark, str(tmp_path / "zero"), dim=4)
    t.init(_nodes(spark, [(0, [1.0, 0.0, 0.0, 0.0], "first", {})]))
    t.append_with_ids(
        _nodes(spark, [(-1, [0.0, 1.0, 0.0, 0.0], "second", {})]).drop("id")
    )
    ids = sorted(r.id for r in t.all_ids().collect())
    assert ids == [0, 1]

    # an emptied table numbers from 1, like a missing one
    t.delete(ids)
    t.append_with_ids(
        _nodes(spark, [(-1, [0.0, 0.0, 1.0, 0.0], "third", {})]).drop("id")
    )
    assert [r.id for r in t.all_ids().collect()] == [1]
    missing = NodeTable(spark, str(tmp_path / "missing"), dim=4)
    n, written = missing.append_with_ids(
        _nodes(spark, [(-1, [0.0, 0.0, 0.0, 1.0], "fourth", {})]).drop("id")
    )
    assert n == 1 and [r.id for r in written.collect()] == [1]
    assert [r.id for r in missing.all_ids().collect()] == [1]


def test_upsert_rejects_duplicate_batch_ids(spark, table):
    """Two rows with one id in a single upsert batch would both survive the
    anti-join and permanently break id uniqueness — there is no
    deterministic last-write order on a DataFrame, so the batch is
    rejected loudly."""
    batch = _nodes(
        spark,
        [
            (7, [1, 1, 0, 0], "dup A", {"kind": "fruit"}),
            (7, [0, 0, 1, 1], "dup B", {"kind": "fruit"}),
        ],
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        table.upsert(batch)
    # the table is untouched by the rejected batch
    assert table.size() == 3


def test_max_id_reads_footers_with_no_spark_job(spark, table, tmp_path, jobs_of):
    """The next id comes from the Parquet footers on the driver: no Spark
    job. A row group with rows but no id statistics raises instead of
    guessing, and so does the insert that needs the next id."""
    got, jobs = jobs_of("node-max-id", table._max_id)
    assert got == 3 and jobs == []
    assert NodeTable(spark, str(tmp_path / "missing"))._max_id() is None

    bare = NodeTable(spark, str(tmp_path / "bare"), dim=4)
    os.makedirs(bare.path)
    pq.write_table(
        pa.table({"id": pa.array([7], pa.int64()), "embedding": [[1.0, 0.0, 0.0, 0.0]],
                  "content": ["x"], "metadata": pa.array([[("k", "v")]],
                                                          pa.map_(pa.string(), pa.string()))}),
        os.path.join(bare.path, "part-00000.parquet"),
        write_statistics=False,
    )
    assert bare.size() == 1
    with pytest.raises(ValueError, match="no id statistics"):
        bare._max_id()
    with pytest.raises(ValueError, match="no id statistics"):
        bare.append_with_ids(
            _nodes(spark, [(-1, [0.0, 1.0, 0.0, 0.0], "y", {})]).drop("id")
        )
    assert bare.size() == 1


def test_delete_rewrites_only_the_files_holding_the_ids(spark, table):
    """A delete swaps out only the data files that held the ids, replaced
    by one file of their survivors; other files are untouched, and a
    delete that matches nothing writes nothing."""

    def data_files():
        return sorted(f for f in os.listdir(table.path) if f.startswith("part-"))

    table.append(_nodes(spark, [(10, [0, 0, 0, 1], "Blue Bike", {})]).coalesce(1))
    before = data_files()
    (cold,) = [
        f for f in before
        if pq.read_table(os.path.join(table.path, f)).column("id").to_pylist() == [10]
    ]
    assert table.delete([1, 3]) == 2
    after = data_files()
    assert cold in after
    assert {r.id for r in table.df().collect()} == {2, 10}
    assert table.delete([99]) == 0
    assert data_files() == after
