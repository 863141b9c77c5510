"""Staged partition-swap protocol (operators/staging.py): crash ordering,
resume idempotence, discard-before-commit, and the read-path guard.

Crash injection is filesystem surgery: the protocol's whole contract is
that any prefix of its rename sequence is a recoverable state, so the tests
construct those intermediate states directly and assert recovery lands on
the exact final table."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table, write_clustered
from vector_db_spark.operators.ivf import IVFIndex
from vector_db_spark.operators.staging import (
    execute_swap,
    read_swap_plan,
    recover_staged,
    write_swap_plan,
)


def _rows(spark, path):
    return {
        (r.id, r.cluster_id)
        for r in spark.read.parquet(path).select("id", "cluster_id").collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    """A tiny cluster-partitioned table: ids 0-9 in cluster 1, 10-19 in 2,
    20-29 in 3."""
    df = spark.range(30).select(
        F.col("id"), (F.col("id") / 10 + 1).cast("int").alias("cluster_id")
    )
    path = str(tmp_path / "t")
    write_clustered(df, path)
    return path


def _stage(spark, table, *, drop_cluster, new_rows, move_rows=None):
    """Stage a swap: cluster `drop_cluster` fully removed, cluster 2
    replaced by `new_rows`, optional `move_rows` appended to cluster 3."""
    tmp = table + ".tmp-delete"
    staged = spark.createDataFrame(new_rows, "id long, cluster_id int")
    if move_rows:
        staged = staged.union(
            spark.createDataFrame(move_rows, "id long, cluster_id int")
        )
    write_clustered(staged, tmp)
    return tmp


def test_swap_replaces_retires_and_moves(spark, table):
    # cluster 1 fully deleted, cluster 2 replaced by 3 rows, 2 rows moved
    # into (appended to) cluster 3
    tmp = _stage(
        spark,
        table,
        drop_cluster=1,
        new_rows=[(10, 2), (11, 2), (12, 2)],
        move_rows=[(100, 3), (101, 3)],
    )
    write_swap_plan(spark, tmp, [1, 2], [3])
    execute_swap(spark, table, tmp)
    want = (
        {(i, 2) for i in (10, 11, 12)}
        | {(i, 3) for i in range(20, 30)}
        | {(100, 3), (101, 3)}
    )
    assert _rows(spark, table) == want
    assert not os.path.exists(tmp)  # staging fully reclaimed


def test_resume_from_every_crash_point(spark, table):
    """Cut the swap at each intermediate filesystem state and assert
    recovery completes to the identical final table."""
    want = {(i, 2) for i in (10, 11)} | {(i, 3) for i in range(20, 30)} | {(200, 3)}

    def fresh(tmp_suffix_state):
        # rebuild the source table and staging for each crash point
        shutil.rmtree(table)
        df = spark.range(30).select(
            F.col("id"), (F.col("id") / 10 + 1).cast("int").alias("cluster_id")
        )
        write_clustered(df, table)
        tmp = _stage(
            spark, table, drop_cluster=1, new_rows=[(10, 2), (11, 2)],
            move_rows=[(200, 3)],
        )
        write_swap_plan(spark, tmp, [1, 2], [3])
        tmp_suffix_state(tmp)
        return tmp

    def crash_after_retire_only(tmp):
        # cluster 1 (whole-delete) retired, nothing else done
        os.rename(
            os.path.join(table, "cluster_id=1"),
            os.path.join(tmp, "old-cluster_id=1"),
        )

    def crash_mid_replace(tmp):
        crash_after_retire_only(tmp)
        # cluster 2: old renamed out, new NOT yet renamed in
        os.rename(
            os.path.join(table, "cluster_id=2"),
            os.path.join(tmp, "old-cluster_id=2"),
        )

    def crash_after_replace(tmp):
        crash_mid_replace(tmp)
        os.rename(
            os.path.join(tmp, "cluster_id=2"), os.path.join(table, "cluster_id=2")
        )

    def crash_mid_move(tmp):
        crash_after_replace(tmp)
        srcdir = os.path.join(tmp, "cluster_id=3")
        moved_one = False
        for name in sorted(os.listdir(srcdir)):
            if name.startswith("part-") and not moved_one:
                os.rename(
                    os.path.join(srcdir, name), os.path.join(table, "cluster_id=3", name)
                )
                moved_one = True

    for crash in (
        lambda tmp: None,  # crash immediately after the plan commit
        crash_after_retire_only,
        crash_mid_replace,
        crash_after_replace,
        crash_mid_move,
    ):
        tmp = fresh(crash)
        got = recover_staged(spark, table, (".tmp-delete",))
        assert got == {".tmp-delete": "completed"}
        assert _rows(spark, table) == want, crash.__name__
        assert not os.path.exists(tmp)
        # idempotence: recovering again is a no-op
        assert recover_staged(spark, table, (".tmp-delete",)) == {}


def test_staging_without_plan_is_discarded(spark, table):
    """A staged write that never reached the plan commit point has never
    touched the live table — recovery discards it wholesale."""
    before = _rows(spark, table)
    tmp = _stage(spark, table, drop_cluster=1, new_rows=[(999, 2)])
    assert read_swap_plan(spark, tmp) is None
    got = recover_staged(spark, table, (".tmp-delete",))
    assert got == {".tmp-delete": "discarded"}
    assert not os.path.exists(tmp)
    assert _rows(spark, table) == before


def test_ivf_reads_refuse_pending_swap_and_recover(spark, sf_smoke, tmp_path):
    """End-to-end through IVFIndex: a committed-but-unfinished delete swap
    makes corpus() raise; recover() completes it and the surviving rows
    match an uninterrupted delete exactly."""
    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFIndex.build(spark, emb, 4, str(tmp_path / "ivf"))
    victims = [r.vec_id for r in emb.limit(3).collect()]
    expect = (
        idx.corpus().filter(~F.col("vec_id").isin(victims)).count()
    )

    # stage the delete by hand up to the commit point, then "crash" with
    # one cluster renamed out and nothing renamed in
    corpus = idx.corpus()
    affected = sorted(
        r.cluster_id
        for r in corpus.filter(F.col("vec_id").isin(victims))
        .select("cluster_id")
        .distinct()
        .collect()
    )
    remaining = corpus.filter(
        F.col("cluster_id").isin(affected) & ~F.col("vec_id").isin(victims)
    )
    tmp = idx.corpus_path.rstrip("/") + ".tmp-delete"
    write_clustered(remaining, tmp)
    write_swap_plan(spark, tmp, affected, [])
    c0 = affected[0]
    os.rename(
        os.path.join(idx.corpus_path, f"cluster_id={c0}"),
        os.path.join(tmp, f"old-cluster_id={c0}"),
    )

    with pytest.raises(RuntimeError, match="interrupted maintenance swap"):
        idx.corpus()
    got = idx.recover()
    assert got == {".tmp-delete": "completed"}
    assert idx.corpus().count() == expect
    assert idx.corpus().filter(F.col("vec_id").isin(victims)).count() == 0


def _node_rows(table):
    return sorted((r.id, r.content) for r in table.df().collect())


def _move(src_dir, name, dst_dir, dst_name=None):
    """Rename a data file and its checksum, as the Hadoop rename does."""
    os.rename(os.path.join(src_dir, name), os.path.join(dst_dir, dst_name or name))
    crc = f".{name}.crc"
    if os.path.exists(os.path.join(src_dir, crc)):
        os.rename(
            os.path.join(src_dir, crc), os.path.join(dst_dir, f".{dst_name or name}.crc")
        )


def test_node_table_delete_recovers_from_every_crash_point(spark, tmp_path, monkeypatch):
    """NodeTable.delete through the staged swap, cut at each prefix of its
    rename sequence: before the commit point recovery lands on the
    untouched table, after it on the exact final rows; while a plan is
    pending, df() refuses to read."""
    from vector_db_spark import storage
    from vector_db_spark.storage import NODE_SCHEMA, NodeTable

    def fresh(name):
        t = NodeTable(spark, str(tmp_path / name), dim=2)
        rows = [(i, [float(i), 1.0], f"doc {i}", {}) for i in range(1, 13)]
        t.init(spark.createDataFrame(rows[:8], NODE_SCHEMA).coalesce(1))
        t.append(spark.createDataFrame(rows[8:], NODE_SCHEMA).coalesce(1))
        return t

    class Crash(Exception):
        pass

    def crash(*args, **kwargs):
        raise Crash

    # crash before the commit point: staged files, no plan
    t = fresh("pre-commit")
    before = _node_rows(t)
    monkeypatch.setattr(storage, "write_plan", crash)
    with pytest.raises(Crash):
        t.delete([2, 10])
    monkeypatch.undo()
    tmp = t.path + ".tmp-rewrite"
    assert os.path.isdir(tmp) and read_swap_plan(spark, tmp) is None
    assert _node_rows(t) == before  # never touched the live table
    assert t.recover() == {".tmp-rewrite": "discarded"}
    assert _node_rows(t) == before and not os.path.exists(tmp)

    want = [(i, f"doc {i}") for i in range(1, 13) if i not in (2, 10)]

    def retire_one(t, tmp, plan):
        _move(t.path, plan["retire"][0], tmp, "old-" + plan["retire"][0])

    def retire_all(t, tmp, plan):
        for name in plan["retire"]:
            _move(t.path, name, tmp, "old-" + name)

    def add_all(t, tmp, plan):
        retire_all(t, tmp, plan)
        for name in plan["add"]:
            _move(tmp, name, t.path)

    for cut in (lambda t, tmp, plan: None, retire_one, retire_all, add_all):
        t = fresh(f"cut-{cut.__name__}")
        monkeypatch.setattr(storage, "execute_swap", crash)
        with pytest.raises(Crash):
            t.delete([2, 10])
        monkeypatch.undo()
        tmp = t.path + ".tmp-rewrite"
        plan = read_swap_plan(spark, tmp)
        assert len(plan["retire"]) == 2 and len(plan["add"]) == 1
        cut(t, tmp, plan)
        with pytest.raises(RuntimeError, match="interrupted maintenance swap"):
            t.df()
        assert t.recover() == {".tmp-rewrite": "completed"}
        assert _node_rows(t) == want, cut.__name__
        assert not os.path.exists(tmp)
        assert t.recover() == {}
