"""Staged swap protocol for plain-Parquet tables: the one crash-safe
rewrite path of both stores.

Two tables rewrite part of themselves in place: the IVF corpus (index
delete and refresh replace ``cluster_id=N`` partition directories) and the
node table (``NodeTable.delete``/``upsert`` replace the data files that
hold the affected ids). Plain Parquet has no manifest, so atomicity comes
from a small filesystem protocol instead:

1. stage the new data under ``<table>.tmp-<op>`` (a normal Spark write);
2. durably record the intended mutation as ``.swap-plan.json`` inside the
   staging dir — the plan's presence is the COMMIT POINT: a staging dir
   without a plan has never touched the live table (safe to discard), one
   with a plan is resumable to completion;
3. execute the plan with existence-guarded renames only — live data is
   NEVER deleted before its replacement is durably in place (a retired
   entry is renamed INTO the staging dir, not deleted), and the staging
   dir is removed only after every rename has landed.

A crash at any point is recovered by re-running :func:`execute_swap`
(every step is idempotent: each rename is guarded by what already exists).
Readers must refuse to read THROUGH a committed-but-unfinished swap —
data may be missing from the live layout, and a silently-partial read is
wrong, not slow — hence :func:`assert_no_pending_swap` on the read path
and recover-on-entry in every mutating op.

Plan shape: ``{"retire": [top-level live entries (partition dirs or data
files) renamed to ``old-<name>`` inside the staging dir], "add": [paths
relative to the staging dir, renamed to the same path in the table]}``.
Retires run before adds, so a partition dir that is both retired and
added is replaced. Staged file names carry the writing job's uuid, so an
added file never collides with a live one.
"""

from __future__ import annotations

import json
import os

SWAP_PLAN = ".swap-plan.json"


def _hadoop_fs(spark, table_path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(table_path).getFileSystem(spark._jsc.hadoopConfiguration())
    return jpath, fs


def staged_part_files(spark, tmp: str, subdir: str = "") -> list[str]:
    """The data files a Spark write left in ``tmp/subdir``, relative to
    ``tmp``."""
    jpath, fs = _hadoop_fs(spark, tmp)
    names = [st.getPath().getName() for st in fs.listStatus(jpath(os.path.join(tmp, subdir)))]
    return sorted(os.path.join(subdir, n) for n in names if n.startswith("part-"))


def write_plan(spark, tmp: str, retire: list[str], add: list[str]) -> None:
    """Write the plan atomically (staged file + rename) — the commit point."""
    jpath, fs = _hadoop_fs(spark, tmp)
    payload = json.dumps({"retire": sorted(retire), "add": sorted(add)}).encode()
    staged = jpath(os.path.join(tmp, SWAP_PLAN + ".tmp"))
    out = fs.create(staged, True)
    out.write(bytearray(payload))
    out.close()
    fs.rename(staged, jpath(os.path.join(tmp, SWAP_PLAN)))


def write_swap_plan(
    spark, tmp: str, swap_clusters: list[int], move_clusters: list[int]
) -> None:
    """The plan of a cluster-partitioned table: each ``swap`` cluster's live
    dir is retired and its staged dir, when there is one, takes its place
    (no staged dir: the whole cluster was deleted); each ``move`` cluster's
    staged part files are renamed INTO its live dir (append-shaped)."""
    jpath, fs = _hadoop_fs(spark, tmp)
    swap = [f"cluster_id={int(c)}" for c in swap_clusters]
    add = [d for d in swap if fs.exists(jpath(os.path.join(tmp, d)))]
    for c in move_clusters:
        add += staged_part_files(spark, tmp, f"cluster_id={int(c)}")
    write_plan(spark, tmp, swap, add)


def read_swap_plan(spark, tmp: str) -> dict | None:
    jpath, fs = _hadoop_fs(spark, tmp)
    plan_path = jpath(os.path.join(tmp, SWAP_PLAN))
    if not fs.exists(plan_path):
        return None
    stream = fs.open(plan_path)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def execute_swap(spark, table_path: str, tmp: str) -> None:
    """Run (or resume) a planned swap against ``table_path``. No-op when the
    plan is absent (the staged write never reached the commit point)."""
    plan = read_swap_plan(spark, tmp)
    if plan is None:
        return
    jpath, fs = _hadoop_fs(spark, table_path)
    for name in plan["retire"]:
        live = jpath(os.path.join(table_path, name))
        old = jpath(os.path.join(tmp, "old-" + name))
        # once retired, a live entry of this name can only be its replacement
        if fs.exists(live) and not fs.exists(old):
            fs.rename(live, old)  # out of the way, still durable
    for rel in plan["add"]:
        src = jpath(os.path.join(tmp, rel))
        if fs.exists(src):  # absent: landed in an earlier attempt
            dst = os.path.join(table_path, rel)
            fs.mkdirs(jpath(os.path.dirname(dst)))
            fs.rename(src, jpath(dst))
    fs.delete(jpath(tmp), True)


def recover_staged(spark, table_path: str, suffixes: tuple[str, ...]) -> dict:
    """Complete (plan present) or discard (no plan) every staged swap of
    ``table_path``. Idempotent; safe to call anytime."""
    jpath, fs = _hadoop_fs(spark, table_path)
    out: dict[str, str] = {}
    for suffix in suffixes:
        tmp = table_path.rstrip("/") + suffix
        if not fs.exists(jpath(tmp)):
            continue
        if read_swap_plan(spark, tmp) is not None:
            execute_swap(spark, table_path, tmp)
            out[suffix] = "completed"
        else:
            fs.delete(jpath(tmp), True)  # never reached the commit point
            out[suffix] = "discarded"
    return out


def assert_no_pending_swap(spark, table_path: str, suffixes: tuple[str, ...]) -> None:
    jpath, fs = _hadoop_fs(spark, table_path)
    for suffix in suffixes:
        tmp = table_path.rstrip("/") + suffix
        if fs.exists(jpath(tmp)) and read_swap_plan(spark, tmp) is not None:
            raise RuntimeError(
                f"interrupted maintenance swap at {tmp!r}: data may be "
                "missing from the live layout — call .recover() on the "
                "table or index before reading"
            )
