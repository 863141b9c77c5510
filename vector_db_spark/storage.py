"""The Node-table storage surface on Parquet.

Re-expresses the reference's ``NodeStorage`` ABC (``/root/reference/src/
vector_db/storage.py:15-51``: save / get / get_embedding / get_all_ids /
size / delete / add) and its three backends (in-memory dict, two-layer
memmap, SQLite+memmap) as operations on an immutable Parquet-backed
DataFrame:

- The memmap's hot/cold column-group split (storage.py:135-181) is Parquet
  column pruning — ``select("id","embedding")`` never reads content bytes.
- The preallocated capacity bound (storage.py:183-186) disappears: appends
  are new Parquet files; 100 TB is just more files.
- The "embedding all zeros = free slot" heuristic (storage.py:183-196),
  which misclassifies a legitimate zero vector, is NOT replicated —
  deletions are explicit anti-join rewrites.
- Content/metadata truncation at 10 KB / 5 KB (storage.py:217-222) is NOT
  replicated — Parquet strings are unbounded.
- ``get_next_id`` = max+1 (storage.py:276-280) has a distributed equivalent
  for batch appends: ``max(id) + row_number over the new batch``.

Schema (SURVEY.md §1.5): ``id long, embedding array<float>, content string,
metadata map<string,string>`` — the one fixed row type; per-document
attributes live in ``metadata``. Reads pin this schema, so opening the
table starts no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_db_spark import route
from vector_db_spark.io import has_data_files

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# past this many id-less rows the numbering runs distributed
# (operators/packing.global_row_number) instead of one single-task window
_MAX_WINDOW_ID_BATCH = 100_000


class NodeTable:
    """A vector corpus at a Parquet path, with the reference's CRUD surface.

    Writes rewrite or append immutable files; reads are plain DataFrames so
    every downstream operator gets Catalyst pushdown. Nothing here ever
    collects the corpus.
    """

    def __init__(self, spark: SparkSession, path: str, dim: int | None = None):
        self.spark = spark
        self.path = path
        self.dim = dim

    # -- reads ---------------------------------------------------------------

    def df(self) -> DataFrame:
        return self.spark.read.schema(NODE_SCHEMA).parquet(self.path)

    def exists(self) -> bool:
        return has_data_files(self.path)

    def get(self, node_id: int) -> DataFrame:
        """Point lookup (reference storage.py:232-252)."""
        return self.df().filter(F.col("id") == node_id)

    def get_embedding(self, node_id: int) -> DataFrame:
        """Embedding-only projection (storage.py:254-259) — column pruning
        means the content/metadata pages are never read."""
        return self.df().select("id", "embedding").filter(F.col("id") == node_id)

    def all_ids(self) -> DataFrame:
        return self.df().select("id")

    def size(self) -> int:
        return self.df().count()

    def filter_by_metadata(self, filter_dict: dict[str, str]) -> DataFrame:
        """Equality-conjunction metadata filter (reference
        services/storage_service.py:106-128): all pairs must match."""
        df = self.df()
        for k, v in filter_dict.items():
            df = df.filter(F.col("metadata")[k] == v)
        return df

    # -- writes --------------------------------------------------------------

    @staticmethod
    def _check_columns(columns: list[str]) -> None:
        """The batch must carry exactly the four NODE_SCHEMA columns. A
        column outside NODE_SCHEMA is rejected, not dropped: per-document
        attributes belong in ``metadata``."""
        missing = [f.name for f in NODE_SCHEMA.fields if f.name not in columns]
        if missing:
            raise ValueError(f"nodes batch is missing core columns {missing}")
        unknown = [c for c in columns if c not in NODE_SCHEMA.fieldNames()]
        if unknown:
            raise ValueError(
                f"nodes batch has columns outside the node schema {unknown}; "
                "put per-document attributes in metadata"
            )

    def _validate(self, nodes: DataFrame) -> DataFrame:
        """Dimension check on write (reference mmap_vector_store.py:100-107),
        plus schema normalization: the columns are checked, cast to their
        canonical types and put in schema order."""
        self._check_columns(nodes.columns)
        nodes = nodes.select(
            [F.col(f.name).cast(f.dataType) for f in NODE_SCHEMA.fields]
        )
        if self.dim is not None:
            nodes = nodes.withColumn(
                "__dim_ok",
                F.col("embedding").isNull() | (F.size("embedding") == self.dim),
            )
            bad = nodes.filter(~F.col("__dim_ok")).limit(1).collect()
            if bad:
                raise ValueError(
                    f"embedding dimension mismatch: expected {self.dim}, "
                    f"got {len(bad[0]['embedding'])} for id {bad[0]['id']}"
                )
            nodes = nodes.drop("__dim_ok")
        return nodes

    def init(self, nodes: DataFrame) -> None:
        self._validate(nodes).write.mode("overwrite").parquet(self.path)

    def append(self, nodes: DataFrame) -> None:
        """Append-only insert (reference save at storage.py:198-230). Caller
        guarantees new ids; use :meth:`upsert` otherwise."""
        self._validate(nodes).write.mode("append").parquet(self.path)

    def append_with_ids(self, nodes: DataFrame) -> tuple[int, DataFrame]:
        """Number an id-less batch ``start..start+n-1`` and append it — the
        distributed form of get_next_id (storage.py:276-280) and the
        service's one ingest path. ``start`` is ``max(id) + 1``, or 1 when
        the table is missing or empty. Returns ``(n, written)``: the batch
        count and the rows as written. The columns are checked before any
        Spark job; the numbered batch is materialized once, so the
        dimension check, the write and ``written`` read one copy and the
        batch's lineage (an embedding UDF) runs once.

        Batches within the size route take one global window over the new
        batch only — a single task, fine at that size. Larger ones go
        through ``global_row_number`` (range repartition + per-partition
        offsets), ordered by a content digest: ties only between identical
        rows, whose numbering is interchangeable."""
        self._check_columns([c for c in nodes.columns if c != "id"] + ["id"])
        n = nodes.count()
        max_id = self.df().agg(F.max("id")).collect()[0][0] if self.exists() else None
        start = (max_id or 0) + 1  # a max id of 0 gives 1 as well
        if route.small(n, _MAX_WINDOW_ID_BATCH, "storage.id_batch"):
            w = Window.orderBy(F.monotonically_increasing_id())
            withids = nodes.withColumn(
                "id", F.row_number().over(w) + F.lit(start - 1)
            )
        else:
            from vector_db_spark.operators.packing import global_row_number

            keyed = nodes.withColumn(
                "__ord", F.md5(F.to_json(F.struct(*nodes.columns)))
            )
            withids = (
                global_row_number(keyed, ["__ord"], out_col="__rowno")
                .withColumn("id", (F.col("__rowno") + F.lit(start)).cast("long"))
                .drop("__ord", "__rowno")
            )
        written = self._validate(withids.localCheckpoint(eager=True))
        written.write.mode("append").parquet(self.path)
        return n, written

    def upsert(self, nodes: DataFrame) -> None:
        """INSERT OR REPLACE (reference storage.py:377-400 SQLite path; L4
        idempotent insert at hnsw.py:152-155): anti-join out the replaced
        ids, union the new rows, rewrite. With a Delta/Iceberg sink this is
        a MERGE; on plain Parquet it is a rewrite."""
        nodes = self._validate(nodes)
        # a batch with duplicate ids would append BOTH rows after the
        # anti-join and permanently break id uniqueness (get() returning 2
        # rows, delete/append id arithmetic on a non-unique key). There is
        # no deterministic "last write wins" on an unordered DataFrame, so
        # reject loudly.
        dup = (
            nodes.groupBy("id").agg(F.count("*").alias("__n")).filter(F.col("__n") > 1)
        )
        dup_rows = dup.limit(5).collect()
        if dup_rows:
            raise ValueError(
                "upsert batch contains duplicate ids (no deterministic "
                f"last-write order on a DataFrame): {[r['id'] for r in dup_rows]}"
            )
        merged = self.df().join(nodes.select("id"), "id", "left_anti").unionByName(nodes)
        self._rewrite(merged)

    def delete(self, node_ids: list[int]) -> None:
        """Tombstone-free delete (reference storage.py:286-306 zeroes the
        slot; here the row is simply absent after rewrite)."""
        self._rewrite(self.df().filter(~F.col("id").isin(node_ids)))

    def _rewrite(self, df: DataFrame) -> None:
        tmp = self.path.rstrip("/") + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        final = self.spark.read.schema(NODE_SCHEMA).parquet(tmp)
        final.write.mode("overwrite").parquet(self.path)
        # best-effort cleanup of the staging dir
        try:
            import shutil

            shutil.rmtree(tmp)
        except OSError:
            pass
