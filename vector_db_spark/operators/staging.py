"""Staged partition-swap protocol for plain-Parquet partitioned tables.

The IVF index maintenance ops (delete, refresh) rewrite a subset
of ``cluster_id=N`` partition directories. Plain Parquet has no manifest, so
atomicity comes from a small filesystem protocol instead:

1. stage the rewritten partitions under ``<table>.tmp-<op>`` (a normal
   partitioned Spark write);
2. durably record the intended mutation as ``.swap-plan.json`` inside the
   staging dir — the plan's presence is the COMMIT POINT: a staging dir
   without a plan has never touched the live table (safe to discard), one
   with a plan is resumable to completion;
3. execute the plan with existence-guarded renames only — live data is
   NEVER deleted before its replacement is durably in place (a retired
   partition is renamed INTO the staging dir, not deleted), and the staging
   dir is removed only after every rename has landed.

A crash at any point is recovered by re-running :func:`execute_swap`
(every step is idempotent: each rename is guarded by what already exists).
Readers must refuse to read THROUGH a committed-but-unfinished swap —
clusters may be missing from the live layout, and a silently-partial read
is wrong, not slow — hence :func:`assert_no_pending_swap` on the read path
and recover-on-entry in every mutating op.

Plan shape: ``{"swap": [cluster ids whose staged dir REPLACES the live
dir; a missing staged dir means the whole cluster was deleted and the live
dir is retired], "move": [cluster ids whose staged part files are renamed
INTO the existing live dir — append-shaped, task-uuid file names cannot
collide]}``.
"""

from __future__ import annotations

import json
import os

SWAP_PLAN = ".swap-plan.json"


def _hadoop_fs(spark, table_path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(table_path).getFileSystem(spark._jsc.hadoopConfiguration())
    return jpath, fs


def write_swap_plan(
    spark, tmp: str, swap_clusters: list[int], move_clusters: list[int]
) -> None:
    """Write the plan atomically (staged file + rename) — the commit point."""
    jpath, fs = _hadoop_fs(spark, tmp)
    payload = json.dumps(
        {
            "swap": sorted(int(c) for c in swap_clusters),
            "move": sorted(int(c) for c in move_clusters),
        }
    ).encode()
    staged = jpath(os.path.join(tmp, SWAP_PLAN + ".tmp"))
    out = fs.create(staged, True)
    out.write(bytearray(payload))
    out.close()
    fs.rename(staged, jpath(os.path.join(tmp, SWAP_PLAN)))


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
    for c in plan["swap"]:
        src = jpath(os.path.join(tmp, f"cluster_id={c}"))
        dst = jpath(os.path.join(table_path, f"cluster_id={c}"))
        old = jpath(os.path.join(tmp, f"old-cluster_id={c}"))
        if fs.exists(src):
            if fs.exists(dst):
                fs.rename(dst, old)  # out of the way, still durable
            fs.rename(src, dst)
        elif fs.exists(dst) and not fs.exists(old):
            # whole-cluster removal: no staged replacement — retire the live
            # dir by MOVING it into staging (reclaimed with tmp at the very
            # end, never deleted before)
            fs.rename(dst, old)
        # src absent and dst already new (or absent) → cluster already done
    for c in plan.get("move", ()):
        srcdir = jpath(os.path.join(tmp, f"cluster_id={c}"))
        if not fs.exists(srcdir):
            continue  # already moved by a previous attempt
        dstdir_s = os.path.join(table_path, f"cluster_id={c}")
        fs.mkdirs(jpath(dstdir_s))
        for st in fs.listStatus(srcdir):
            name = st.getPath().getName()
            if name.startswith("part-"):
                fs.rename(st.getPath(), jpath(os.path.join(dstdir_s, name)))
        fs.delete(srcdir, True)
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
                f"interrupted maintenance swap at {tmp!r}: clusters may be "
                "missing from the live layout — call .recover() on the index "
                "before reading"
            )
