"""Table maintenance: small-file compaction.

The streaming ingest path (``streaming.ingest.ingest_stream``) appends one
file set per micro-batch per cluster partition — at 100 TB that is the
classic small-files problem: scan planning cost and per-file open overhead
grow with file count, not data size. The reference never meets this (one
preallocated memmap, ``/root/reference/src/vector_db/storage.py:135-144``);
for a Parquet corpus it is a first-class maintenance operator, the
plain-Parquet equivalent of Delta/Iceberg ``OPTIMIZE``.

Compaction is a per-partition staged rewrite (tmp dir + FileSystem swap,
same pattern as ``IVFIndex.delete``): only partitions whose file count
exceeds what their byte size needs are rewritten, so a mostly-compact table
costs almost nothing to re-compact, and readers never observe a partially
rewritten partition.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_FILE_BYTES = 128 << 20  # one comfortable scan split


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    return jpath, jpath(path).getFileSystem(spark._jsc.hadoopConfiguration())


def _data_files(fs, jpath, d):
    """(name, bytes) of data files directly under ``d`` (no _SUCCESS/CRC)."""
    out = []
    for st in fs.listStatus(jpath(d)):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            out.append((name, st.getLen()))
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    partition_col: str | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict[str, int]:
    """Rewrite over-fragmented (sub-)directories of a Parquet table into
    ``ceil(bytes / target_file_bytes)`` files each. Returns
    ``{"partitions_compacted": n, "files_before": a, "files_after": b}``.

    With ``partition_col`` set, each ``<col>=<val>`` directory is assessed
    and rewritten independently (reading only that partition — the scan is
    partition-pruned by construction); without it the whole directory is
    treated as one unit.
    """
    jpath, fs = _fs(spark, path)
    if partition_col is None:
        units = [("", path)]
    else:
        units = [
            (st.getPath().getName(), os.path.join(path, st.getPath().getName()))
            for st in fs.listStatus(jpath(path))
            if st.isDirectory() and st.getPath().getName().startswith(f"{partition_col}=")
        ]

    stats = {"partitions_compacted": 0, "files_before": 0, "files_after": 0}
    for name, unit_path in units:
        files = _data_files(fs, jpath, unit_path)
        stats["files_before"] += len(files)
        want = max(1, math.ceil(sum(sz for _, sz in files) / target_file_bytes))
        if len(files) <= want:
            stats["files_after"] += len(files)
            continue
        tmp = unit_path.rstrip("/") + ".tmp-compact"
        spark.read.parquet(unit_path).coalesce(want).write.mode("overwrite").parquet(tmp)
        fs.delete(jpath(unit_path), True)
        fs.rename(jpath(tmp), jpath(unit_path))
        stats["partitions_compacted"] += 1
        stats["files_after"] += len(_data_files(fs, jpath, unit_path))
    return stats


def merge_agg_delta(
    prev: DataFrame,
    delta: DataFrame,
    keys: list[str],
    *,
    sum_cols: tuple[str, ...] = (),
    count_col: str | None = None,
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: merge a
    pre-aggregated DELTA batch into the PREVIOUS aggregate state so the
    result equals a full recompute over (base ∪ batch) — without touching
    the base data. sum/count/min/max merge by construction (distributive);
    avg derives as sum/count downstream; non-distributive aggregates
    (distinct, median) need sketches (see ``operators/sketches.py``).

    One union + one keyed aggregation over |prev ∪ delta| GROUP ROWS (the
    aggregate cardinality, not the corpus) — at 100 TB the whole point:
    the nightly refresh costs the delta scan plus a group-sized merge."""
    aggs = (
        [F.sum(c).alias(c) for c in sum_cols]
        + ([F.sum(count_col).alias(count_col)] if count_col else [])
        + [F.min(c).alias(c) for c in min_cols]
        + [F.max(c).alias(c) for c in max_cols]
    )
    return prev.unionByName(delta).groupBy(*keys).agg(*aggs)
