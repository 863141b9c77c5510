"""Driver-visible lifecycle audits for the side-effecting surfaces.

Most of the engine's CRUD/transaction machinery (NodeTable init/append/
upsert/delete — reference storage.py:198-306; VersionedTable commit/
time-travel/rollback/vacuum — the engine's replacement for the reference's
pickle-snapshot persistence, reference ivf.py:217-241 and the
restart-persistence integration test tests/integration/test_embed_api.py:
190-210) is side-effecting and was previously pinned only by pytest. These
two queries make it DRIVER-verifiable: each runs the full lifecycle against
a throwaway tmp-path table built from deterministic slices of `customer`,
eagerly collects scalar facts (counts per version, idempotence flags,
invariant booleans), and returns them as one literal row whose oracle is
exact SQL over `customer` plus protocol constants.

The heavy steps (appends, CoW rewrites, merges) all run as distributed
Spark jobs — only the audited FACTS are collected, so the pattern holds at
any scale: an audit over a 100 TB table collects the same one row.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_db_spark.io import load_table
from vector_db_spark.queries import register

_DEL_IDS = [3, 13, 23, 33, 43]


@register(
    "versioned_lifecycle_audit",
    oracle="""
WITH c AS (SELECT c_custkey, c_mktsegment FROM customer)
SELECT
  (SELECT count(*) FROM c WHERE mod(c_custkey, 10) < 5)::BIGINT  AS rows_v0,
  (SELECT count(*) FROM c)::BIGINT                               AS rows_v1,
  (SELECT count(*) FROM c WHERE c_mktsegment <> 'BUILDING')::BIGINT AS rows_v2,
  TRUE  AS time_travel_ok,
  TRUE  AS rollback_restores,
  TRUE  AS replay_noop,
  TRUE  AS nomatch_delete_metadata_only,
  TRUE  AS vacuum_replay_noop,
  2::BIGINT AS versions_after_vacuum
""",
)
def versioned_lifecycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full VersionedTable lifecycle, driver-checked end to end:
    append ×2 (second with a txn_id) → copy-on-write delete → time-travel
    reads → rollback → idempotent replay → metadata-only no-match delete →
    vacuum → replay of a VACUUMED epoch (exercises the txns.json
    carry-forward, the exactly-once-across-retention guarantee). Every
    row count is exact against `customer`; every protocol invariant is a
    boolean the oracle pins TRUE. Mirrors the reference's
    persistence-across-restart behavior (reference
    tests/integration/test_embed_api.py:190-210, ivf.py:217-241) under
    snapshot isolation instead of pickle snapshots."""
    from vector_db_spark.operators.versioned import VersionedTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    a = cust.filter(F.col("c_custkey") % 10 < 5)
    b = cust.filter(F.col("c_custkey") % 10 >= 5)

    root = tempfile.mkdtemp(prefix="vtab-audit-")
    try:
        vt = VersionedTable(spark, os.path.join(root, "t"))
        v0 = vt.append(a)
        v1 = vt.append(b, txn_id="epoch-b")
        v2 = vt.delete_where(F.col("c_mktsegment") == "BUILDING")
        rows_v0 = vt.read(v0).count()
        rows_v1 = vt.read(v1).count()
        rows_v2 = vt.read(v2).count()
        time_travel_ok = rows_v0 == a.count() and rows_v1 == rows_v0 + b.count()

        v3 = vt.rollback(v1)
        rollback_restores = vt.read(v3).count() == rows_v1

        replay = vt.append(b, txn_id="epoch-b")  # duplicate epoch: must no-op
        replay_noop = replay == v1 and vt.current_version() == v3

        files_before = set(vt._snapshot(v3)["files"])
        m4 = vt._snapshot(vt.delete_where(F.col("c_mktsegment") == "NO_SUCH_SEGMENT"))
        nomatch_delete_metadata_only = (
            set(m4["files"]) == files_before and m4["n_rows"] == rows_v1
        )

        vt.vacuum(keep_last=2, min_age_seconds=0)  # expires v0..v2 manifests
        replay2 = vt.append(b, txn_id="epoch-b")  # vacuumed epoch: still a no-op
        vacuum_replay_noop = replay2 == v1 and vt.read().count() == rows_v1
        versions_after_vacuum = len(vt._versions())
    finally:
        shutil.rmtree(root, ignore_errors=True)

    schema = T.StructType(
        [
            T.StructField("rows_v0", T.LongType()),
            T.StructField("rows_v1", T.LongType()),
            T.StructField("rows_v2", T.LongType()),
            T.StructField("time_travel_ok", T.BooleanType()),
            T.StructField("rollback_restores", T.BooleanType()),
            T.StructField("replay_noop", T.BooleanType()),
            T.StructField("nomatch_delete_metadata_only", T.BooleanType()),
            T.StructField("vacuum_replay_noop", T.BooleanType()),
            T.StructField("versions_after_vacuum", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [
            (
                rows_v0,
                rows_v1,
                rows_v2,
                bool(time_travel_ok),
                bool(rollback_restores),
                bool(replay_noop),
                bool(nomatch_delete_metadata_only),
                bool(vacuum_replay_noop),
                versions_after_vacuum,
            )
        ],
        schema,
    )


@register(
    "versioned_layout_audit",
    extra=True,
    oracle="""
SELECT (SELECT count(*) FROM customer)::BIGINT AS rows_total,
       (SELECT count(*) FROM customer WHERE c_custkey = 42)::BIGINT AS point_rows,
       TRUE AS bloom_single_file_ok,
       TRUE AS bloom_absent_prunes_all,
       TRUE AS zorder_rows_unchanged,
       (SELECT count(*) FROM customer
        WHERE c_custkey BETWEEN 100 AND 299
          AND c_nationkey BETWEEN 0 AND 5)::BIGINT AS box_rows,
       TRUE AS box_prune_ok
""",
)
def versioned_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout services audited end to end (operators/versioned.py):
    per-file Bloom filters (point-lookup file
    skipping — `pruned_files_eq`/`read_point`) and Z-order compaction
    (multi-dimensional zone-map pruning — `compact(zorder_by=...)`).
    Facts: exact point-lookup and 2-D box-probe row counts (the layout
    must never change an answer), single-file bloom routing for a present
    key, all-file pruning for an absent key, and the box probe planning at
    most half the files after Z-order. All counts exact over `customer`."""
    from vector_db_spark.operators.versioned import VersionedTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    root = tempfile.mkdtemp(prefix="vlay-audit-")
    try:
        vt = VersionedTable(spark, os.path.join(root, "t"))
        vt.set_stats_cols(["c_custkey", "c_nationkey"])
        vt.set_bloom_cols(["c_custkey"], n_bits=8192, n_hashes=5)
        vt.append(cust.repartitionByRange(8, "c_custkey"))
        rows_total = vt.read().count()

        point_rows = vt.read_point("c_custkey", 42).count()
        bloom_single_file_ok = len(vt.pruned_files_eq("c_custkey", 42)) <= 2
        bloom_absent_prunes_all = (
            len(vt.pruned_files_eq("c_custkey", 10**9)) == 0
        )

        vt.compact(target_files=8, zorder_by=["c_custkey", "c_nationkey"])
        zorder_rows_unchanged = vt.read().count() == rows_total
        kept = set(vt.pruned_files("c_custkey", 100, 299)) & set(
            vt.pruned_files("c_nationkey", 0, 5)
        )
        box_rows = (
            vt._read_paths([os.path.join(vt.path, f) for f in sorted(kept)])
            .filter(
                F.col("c_custkey").between(100, 299)
                & F.col("c_nationkey").between(0, 5)
            )
            .count()
            if kept
            else 0
        )
        box_prune_ok = len(kept) <= 4
    finally:
        shutil.rmtree(root, ignore_errors=True)

    return spark.createDataFrame(
        [
            (
                rows_total,
                point_rows,
                bool(bloom_single_file_ok),
                bool(bloom_absent_prunes_all),
                bool(zorder_rows_unchanged),
                box_rows,
                bool(box_prune_ok),
            )
        ],
        "rows_total long, point_rows long, bloom_single_file_ok boolean, "
        "bloom_absent_prunes_all boolean, zorder_rows_unchanged boolean, "
        "box_rows long, box_prune_ok boolean",
    )


@register(
    "right_to_erasure_audit",
    extra=True,
    oracle="""
WITH e AS (SELECT event_id, user_id FROM events)
SELECT (SELECT count(*) FROM e)::BIGINT AS rows_before,
       (SELECT count(*) FROM e WHERE user_id <> 7)::BIGINT AS rows_after,
       0::BIGINT AS head_trace,
       0::BIGINT AS raw_trace,
       TRUE AS history_redacted,
       TRUE AS other_users_intact
""",
)
def right_to_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style erasure, proven at the STORAGE level: copy-on-write
    ``delete_where`` removes a user's rows from the head snapshot, and
    ``vacuum`` makes the erasure physical — after it, a raw scan of
    every byte under data/ (bypassing all manifests) finds ZERO trace,
    and the retained time-travel versions cannot resurface the user
    (history_redacted). The audit emits exact row counts against
    `events` plus the zero-trace facts. This is the capability the
    reference's pickle-snapshot persistence cannot express at all:
    erasure there means rewriting the one monolithic snapshot."""
    from vector_db_spark.operators.versioned import VersionedTable

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    root = tempfile.mkdtemp(prefix="gdpr-audit-")
    try:
        vt = VersionedTable(spark, os.path.join(root, "t"))
        vt.append(ev.filter(F.col("event_id") % 2 == 0))
        vt.append(ev.filter(F.col("event_id") % 2 == 1))
        rows_before = vt.read().count()
        vt.delete_where(F.col("user_id") == 7)
        rows_after = vt.read().count()
        vt.vacuum(keep_last=1, min_age_seconds=0)
        head_trace = vt.read().filter(F.col("user_id") == 7).count()
        # raw scan of every parquet byte on disk, no manifest consulted
        raw = spark.read.option("recursiveFileLookup", "true").parquet(vt.data_dir)
        raw_trace = raw.filter(F.col("user_id") == 7).count()
        # every still-readable version is clean
        history_redacted = all(
            vt.read(v).filter(F.col("user_id") == 7).count() == 0
            for v in vt._versions()
        )
        other_users_intact = rows_after == vt.read().count() == raw.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)

    return spark.createDataFrame(
        [
            (
                rows_before,
                rows_after,
                head_trace,
                raw_trace,
                bool(history_redacted),
                bool(other_users_intact),
            )
        ],
        "rows_before long, rows_after long, head_trace long, raw_trace long, "
        "history_redacted boolean, other_users_intact boolean",
    )


@register(
    "node_table_crud_audit",
    oracle=f"""
WITH c AS (SELECT c_custkey, c_mktsegment FROM customer),
del AS (SELECT unnest([{", ".join(str(i) for i in _DEL_IDS)}]) AS k)
SELECT
  (SELECT count(*) FROM c WHERE mod(c_custkey, 10) < 5)::BIGINT AS size_init,
  (SELECT count(*) FROM c WHERE mod(c_custkey, 10) < 8)::BIGINT AS size_append,
  (SELECT count(*) FROM c WHERE mod(c_custkey, 10) < 9)::BIGINT AS size_autoid,
  TRUE AS ids_contiguous_ok,
  (SELECT count(*) FROM c)::BIGINT AS size_upsert,
  ((SELECT count(*) FROM c)
   - (SELECT count(*) FROM c WHERE c_custkey IN (SELECT k FROM del)))::BIGINT
    AS size_delete,
  (SELECT count(*) FROM c WHERE mod(c_custkey, 10) = 0)::BIGINT AS updated_count,
  1::BIGINT AS point_lookup_rows,
  8 AS emb_dim,
  (SELECT count(*) FROM c
   WHERE c_mktsegment = 'BUILDING' AND mod(c_custkey, 10) <= 8
     AND c_custkey NOT IN (SELECT k FROM del))::BIGINT AS meta_building,
  TRUE AS dim_check_ok
""",
)
def node_table_crud_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NodeTable CRUD surface (reference storage.py:198-306: save / get /
    get_embedding / get_all_ids / size / delete / add; L4 idempotent
    insert hnsw.py:152-155), driver-checked end to end on a tmp-path
    corpus derived from `customer`: init → append → append_with_ids
    (max+1 contiguous assignment, storage.py:276-280) → upsert (replace +
    insert) → delete → point lookup → embedding projection → metadata
    eq-conjunction filter → dimension-validation rejection. Facts are
    exact counts over `customer` plus invariant booleans."""
    from vector_db_spark.storage import NodeTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    nodes = cust.select(
        F.col("c_custkey").alias("id"),
        F.array_repeat((F.col("c_custkey") % 97).cast("float"), 8).alias("embedding"),
        F.col("c_name").alias("content"),
        F.create_map(F.lit("segment"), F.col("c_mktsegment")).alias("metadata"),
    )
    m = F.col("id") % 10

    root = tempfile.mkdtemp(prefix="ntab-audit-")
    try:
        nt = NodeTable(spark, os.path.join(root, "t"), dim=8)
        nt.init(nodes.filter(m < 5))
        size_init = nt.size()

        nt.append(nodes.filter((m >= 5) & (m <= 7)))
        size_append = nt.size()

        old_max = nt.df().agg(F.max("id")).collect()[0][0]
        batch_c = nodes.filter(m == 8).drop("id")
        n_c = batch_c.count()
        nt.append_with_ids(batch_c)
        size_autoid = nt.size()
        got = (
            nt.df()
            .filter(F.col("id") > old_max)
            .agg(
                F.count("*").alias("n"),
                F.min("id").alias("mn"),
                F.max("id").alias("mx"),
            )
            .collect()[0]
        )
        ids_contiguous_ok = (
            got["n"] == n_c
            and got["mn"] == old_max + 1
            and got["mx"] == old_max + n_c
        )

        # upsert: rewrite content for the mod-0 ids (metadata untouched),
        # insert clones of the mod-9 customers under fresh high ids
        upd = nodes.filter(m == 0).withColumn("content", F.lit("UPDATED"))
        ins = nodes.filter(m == 9).withColumn(
            "id", F.col("id") + F.lit(10_000_000)
        ).withColumn("metadata", F.create_map(F.lit("segment"), F.lit("CLONE")))
        nt.upsert(upd.unionByName(ins))
        size_upsert = nt.size()
        updated_count = nt.df().filter(F.col("content") == "UPDATED").count()

        nt.delete(_DEL_IDS)
        size_delete = nt.size()

        point_lookup_rows = nt.get(1).count()
        emb_dim = nt.get_embedding(1).select(F.size("embedding")).collect()[0][0]
        meta_building = nt.filter_by_metadata({"segment": "BUILDING"}).count()

        try:
            nt.append(
                nodes.filter(F.col("id") == 2).withColumn(
                    "embedding", F.array_repeat(F.lit(1.0).cast("float"), 4)
                )
            )
            dim_check_ok = False
        except ValueError:
            dim_check_ok = True
    finally:
        shutil.rmtree(root, ignore_errors=True)

    schema = T.StructType(
        [
            T.StructField("size_init", T.LongType()),
            T.StructField("size_append", T.LongType()),
            T.StructField("size_autoid", T.LongType()),
            T.StructField("ids_contiguous_ok", T.BooleanType()),
            T.StructField("size_upsert", T.LongType()),
            T.StructField("size_delete", T.LongType()),
            T.StructField("updated_count", T.LongType()),
            T.StructField("point_lookup_rows", T.LongType()),
            T.StructField("emb_dim", T.IntegerType()),
            T.StructField("meta_building", T.LongType()),
            T.StructField("dim_check_ok", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(
        [
            (
                size_init,
                size_append,
                size_autoid,
                bool(ids_contiguous_ok),
                size_upsert,
                size_delete,
                updated_count,
                point_lookup_rows,
                int(emb_dim),
                meta_building,
                bool(dim_check_ok),
            )
        ],
        schema,
    )
