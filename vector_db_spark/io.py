"""Fixture-table loading.

The driver materializes the tables described in FIXTURES.md at
``/root/testdata/sf{0.001,0.01,0.1}/<table>.parquet``. Parquet is this
engine's at-rest format — it supplies for free what the reference hand-rolls:
column-group splitting (reference storage.py:135-181 hot/cold layers →
Parquet column pruning), validity scans (storage.py:148-159 → unnecessary),
and zero-copy projection (storage.py:254-259 → vectorized Parquet reader).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain ``spark.read.parquet`` so Catalyst gets
    full pushdown/pruning; the schema is inferred from the file footers,
    which costs a Spark job per read (a read given a schema runs none).

    Fixture writers materialize ``events.ts`` as TIMESTAMP(NANOS) (which
    Spark's reader rejects → read nanos as long and truncate to micros) or
    as TIMESTAMP_NTZ. Both are normalized
    to plain TIMESTAMP here: the engine pins the session timezone to UTC
    (session.py), so the NTZ→LTZ cast is value-identical to how every
    naive-timestamp consumer (DuckDB, pandas) reads the same file, and
    downstream instant arithmetic (``unix_micros``, ``window``) type-checks.
    """
    # the engine contract pins UTC (NTZ→LTZ casts and window boundaries are
    # timezone-dependent); enforce it even under a caller-built session —
    # runtime-settable, idempotent, and what session.py already configures
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def has_data_files(path: str) -> bool:
    """Filesystem-level presence of data files under ``path``, with no read
    attempt: a present-but-unreadable table must raise on its next read, not
    look absent."""
    if not os.path.isdir(path):
        return False
    return any(
        f.endswith(".parquet") or f.startswith("part-")
        for f in os.listdir(path)
    )


def write_small_parquet(path: str, table: pa.Table) -> None:
    """Replace ``path``'s one Parquet file with a driver-side pyarrow
    Table — for index state that is small by definition (k×dim centroids,
    PQ codebooks, the OPQ rotation) — skipping a Spark job for data that
    never left the driver. The file is written under a hidden name (which
    Spark and :func:`has_data_files` skip) and renamed over the old one,
    so a failed write leaves the old table. :func:`read_small_parquet`
    reads it back."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, ".part-00000.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, "part-00000.parquet"))


def read_small_parquet(path: str) -> pa.Table:
    """The pyarrow Table :func:`write_small_parquet` wrote at ``path`` —
    read on the driver, with no Spark job."""
    return pq.read_table(os.path.join(path, "part-00000.parquet"))


def write_clustered(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    key: str = "cluster_id",
    num_partitions: int | None = None,
) -> None:
    """Partitioned write with the key shuffle IN FRONT: a bare
    ``write.partitionBy(key)`` makes every writer task emit a file into
    every key directory — tasks × k part files, invisible at k=10 and
    measured fatal at derived k (~57 k files at k=1789, a 22.9 s cold
    search spent LISTING them; SCALE.md, Guards and bounds). One hash
    repartition on the key routes each key's rows to exactly one task, so
    file count is O(k) at any corpus size and writer parallelism is
    min(num_partitions, distinct keys)."""
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    df.repartition(n, key).write.mode(mode).partitionBy(key).parquet(path)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before compute-heavy
    stages (hashing, distance math, encoding).

    Small fixture files arrive as a single scan partition, which would
    serialize every downstream expression onto one core. At 100 TB inputs
    are already wide, so this only ever scales UP (round-robin, one cheap
    shuffle of the narrow input) and is a no-op on well-partitioned data.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
