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
  which misclassifies a legitimate zero vector, is NOT replicated — a
  delete or upsert rewrites only the data files that hold the affected
  ids, without those rows, and swaps them in through the staged-swap
  protocol (operators/staging.py) that the IVF corpus uses too.
- Content/metadata truncation at 10 KB / 5 KB (storage.py:217-222) is NOT
  replicated — Parquet strings are unbounded.
- ``get_next_id`` = max+1 (storage.py:276-280) reads the max from the data
  files' Parquet footers on the driver (row-group statistics of ``id``,
  O(files), no Spark job); a batch append numbers its rows from there.

Schema (SURVEY.md §1.5): ``id long, embedding array<float>, content string,
metadata map<string,string>`` — the one fixed row type; per-document
attributes live in ``metadata``. Reads pin this schema, so opening the
table starts no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from vector_db_spark import route
from vector_db_spark.io import has_data_files
from vector_db_spark.operators.staging import (
    assert_no_pending_swap,
    execute_swap,
    recover_staged,
    staged_part_files,
    write_plan,
)

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(NODE_SCHEMA)

# past this many id-less rows a batch is numbered distributed
# (operators/packing.global_row_number) instead of on the driver. The
# driver holds the batch as the Arrow table it fetched and writes: at 384-d
# (the real-model embedder) 384 × 4 B ≈ 1.5 KB a row, so 10,000 rows are
# ≈ 15 MB; at the service's 64-d default ≈ 2.6 MB. Content and metadata
# strings add their own size on top.
_MAX_DRIVER_ID_BATCH = 10_000


class NodeTable:
    """A vector corpus at a Parquet path, with the reference's CRUD surface.

    Writes append immutable files or swap in rewritten ones; reads are
    plain DataFrames so every downstream operator gets Catalyst pushdown.
    Nothing here ever collects the corpus.
    """

    # the staging dir of delete/upsert (operators/staging.py)
    _SWAP_TMPS = (".tmp-rewrite",)

    def __init__(self, spark: SparkSession, path: str, dim: int | None = None):
        self.spark = spark
        self.path = path
        self.dim = dim

    # -- reads ---------------------------------------------------------------

    def df(self) -> DataFrame:
        # a committed-but-unfinished rewrite can have rows missing from the
        # live files; a read through it would be silently wrong. The table
        # is a local path (see has_data_files), so the common case is one
        # os.path.exists instead of a JVM filesystem round trip
        if os.path.exists(self.path.rstrip("/") + self._SWAP_TMPS[0]):
            assert_no_pending_swap(self.spark, self.path, self._SWAP_TMPS)
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

    def _max_id(self) -> int | None:
        """The largest id, from the row-group statistics in the data files'
        Parquet footers: read on the driver, one footer per file, no Spark
        job. None for a missing or empty table. A row group holding rows
        but no ``id`` statistics raises — a guessed next id could reuse a
        live one. Callers :meth:`recover` first: a pending swap can hold
        the largest id outside the live files."""
        if not os.path.isdir(self.path):
            return None
        best = None
        for name in sorted(os.listdir(self.path)):
            if name.startswith((".", "_")):
                continue
            md = pq.read_metadata(os.path.join(self.path, name))
            col = [md.schema.column(j).path for j in range(md.num_columns)].index("id")
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                stats = rg.column(col).statistics
                if stats is None or not stats.has_min_max:
                    raise ValueError(
                        f"{name}: row group {g} has no id statistics; "
                        "the next id cannot be read from the footers"
                    )
                best = stats.max if best is None else max(best, stats.max)
        return best

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

    def _dim_error(self, node_id, embedding) -> ValueError:
        return ValueError(
            f"embedding dimension mismatch: expected {self.dim}, "
            f"got {len(embedding)} for id {node_id}"
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
            bad = (
                nodes.filter(
                    F.col("embedding").isNotNull() & (F.size("embedding") != self.dim)
                )
                .limit(1)
                .collect()
            )
            if bad:
                raise self._dim_error(bad[0]["id"], bad[0]["embedding"])
        return nodes

    def init(self, nodes: DataFrame) -> None:
        self.recover()
        self._validate(nodes).write.mode("overwrite").parquet(self.path)

    def append(self, nodes: DataFrame) -> None:
        """Append-only insert (reference save at storage.py:198-230). Caller
        guarantees new ids; use :meth:`upsert` otherwise."""
        self.recover()
        self._validate(nodes).write.mode("append").parquet(self.path)

    def append_with_ids(self, nodes: DataFrame) -> tuple[int, DataFrame]:
        """Number an id-less batch ``start..start+n-1`` and append it — the
        distributed form of get_next_id (storage.py:276-280) and the
        service's one ingest path. ``start`` is one past :meth:`_max_id`
        (the footers' max), or 1 when the table is missing or empty.
        Returns ``(n, written)``: the batch size and the rows as written.
        The columns are checked before any Spark job.

        The batch is materialized once, by an eager local checkpoint: one
        job computes every partition (and its lineage, an embedding UDF),
        whichever branch runs next. One bounded fetch (route site
        ``storage.id_batch``, one job) is the size probe and the read:
        within ``_MAX_DRIVER_ID_BATCH`` rows the fetched Arrow table is
        numbered in fetch order and dimension-checked on the driver, and
        ``written`` is that one-partition table, which is appended. Larger
        batches are numbered through ``global_row_number`` (range
        repartition + per-partition offsets), ordered by a content digest:
        ties only between identical rows, whose numbering is
        interchangeable."""
        self._check_columns([c for c in nodes.columns if c != "id"] + ["id"])
        self.recover()
        start = (self._max_id() or 0) + 1  # a max id of 0 gives 1 as well
        batch = nodes.select(
            [F.col(f.name).cast(f.dataType) for f in NODE_SCHEMA.fields if f.name != "id"]
        ).localCheckpoint(eager=True)
        table = route.fetch(batch, _MAX_DRIVER_ID_BATCH, "storage.id_batch")
        if table is not None:
            n = table.num_rows
            if self.dim is not None:
                emb = table.column("embedding")
                # a null embedding has no length to check
                lens = pc.list_value_length(emb).fill_null(self.dim).to_numpy()
                bad = np.flatnonzero(lens != self.dim)
                if bad.size:
                    raise self._dim_error(start + int(bad[0]), emb[int(bad[0])].as_py())
            table = table.add_column(0, "id", pa.array(range(start, start + n), pa.int64()))
            written = self.spark.createDataFrame(table.cast(_ARROW_SCHEMA), NODE_SCHEMA).coalesce(1)
        else:
            from vector_db_spark.operators.packing import global_row_number

            keyed = batch.withColumn("__ord", F.md5(F.to_json(F.struct(*batch.columns))))
            withids = (
                global_row_number(keyed, ["__ord"], out_col="__rowno")
                .withColumn("id", (F.col("__rowno") + F.lit(start)).cast("long"))
                .drop("__ord", "__rowno")
            )
            written = self._validate(withids.localCheckpoint(eager=True))
            n = written.count()
        written.write.mode("append").parquet(self.path)
        return n, written

    def upsert(self, nodes: DataFrame) -> None:
        """INSERT OR REPLACE (reference storage.py:377-400 SQLite path; L4
        idempotent insert at hnsw.py:152-155): the files holding replaced
        ids are rewritten without them, the new rows are staged beside
        them, and both swap in through :meth:`_swap_in`. With a
        Delta/Iceberg sink this is a MERGE."""
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
        self.recover()
        files = []
        if self.exists():
            hits = (
                self.df().select("id", F.input_file_name().alias("f"))
                .join(nodes.select("id"), "id", "left_semi")
                .select("f").distinct().collect()
            )
            files = self._file_names(hits)
        staged = nodes
        if files:
            staged = (
                self._read_files(files)
                .join(nodes.select("id"), "id", "left_anti")
                .unionByName(nodes)
            )
        self._swap_in(staged, files)

    def delete(self, node_ids: list[int]) -> int:
        """Tombstone-free delete (reference storage.py:286-306 zeroes the
        slot; here the row is absent after the swap). One collect of the
        matched rows' file names — at most ``len(node_ids)`` rows, no
        ``distinct`` shuffle — names the files to rewrite; only their survivors are written, as
        one file, and swapped in. Returns the number of ids matched (ids
        are unique, so the number of rows removed); a delete that matches
        nothing writes nothing."""
        self.recover()
        if not self.exists():
            return 0
        hits = (
            self.df().filter(F.col("id").isin(node_ids))
            .select(F.input_file_name().alias("f")).collect()
        )
        if not hits:
            return 0
        files = self._file_names(hits)
        survivors = self._read_files(files).filter(~F.col("id").isin(node_ids))
        self._swap_in(survivors.coalesce(1), files)
        return len(hits)

    # -- staged swap (operators/staging.py) ------------------------------------

    def recover(self) -> dict:
        """Complete (or discard) an interrupted delete/upsert swap. Called
        on entry by every write; :meth:`df` RAISES while a planned swap is
        pending. Idempotent; safe anytime."""
        return recover_staged(self.spark, self.path, self._SWAP_TMPS)

    @staticmethod
    def _file_names(hits: list) -> list[str]:
        """The data-file names in collected ``input_file_name`` URIs (the
        part-file names Spark writes need no URI decoding)."""
        return sorted({r.f.rsplit("/", 1)[-1] for r in hits})

    def _read_files(self, names: list[str]) -> DataFrame:
        return self.spark.read.schema(NODE_SCHEMA).parquet(
            *[os.path.join(self.path, n) for n in names]
        )

    def _swap_in(self, staged: DataFrame, retire: list[str]) -> None:
        """Write ``staged`` under the staging dir, then commit a plan that
        retires the live data files named ``retire`` and adds the staged
        files that hold rows, and run it."""
        tmp = self.path.rstrip("/") + self._SWAP_TMPS[0]
        staged.write.mode("overwrite").parquet(tmp)
        add = [
            f for f in staged_part_files(self.spark, tmp)
            if pq.read_metadata(os.path.join(tmp, f)).num_rows > 0
        ]
        write_plan(self.spark, tmp, retire, add)
        execute_swap(self.spark, self.path, tmp)
