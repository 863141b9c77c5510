"""``vdb_jsonl`` — batch DataSource over a directory of JSONL shards.

Round-trips the shard layout this module's own writer produces: a
directory of ``*.jsonl`` files, one JSON object per line. The reference's closest analogue is the HTTP document-ingest
boundary (reference api/app.py:119-160) — rows enter/leave the engine as
JSON records; here that boundary is a planned, partition-parallel scan
instead of a request loop.

Reader design:

- **one InputPartition per shard file** (lexicographic order): tasks
  parse shards independently with ``pyarrow.json`` and yield Arrow
  RecordBatches — the zero-copy path into Spark, no per-row Python.
- **typed filter pushdown** (``pushFilters``, Spark 4.1): equality,
  range, null and IN filters on top-level columns are applied inside the
  source via ``pyarrow.compute`` BEFORE rows reach Spark; unsupported
  filters are handed back for Catalyst to evaluate. On a 100 TB shard
  corpus this is the difference between shipping a shard and shipping
  its matching rows.
- schema: caller-supplied (``.schema(...)``) or inferred once from the
  lexicographically first shard (driver-side, one file).

Writer design (the DSv2 commit protocol in miniature): each task writes
``part-<uuid>.jsonl.tmp`` and reports it in its commit message; only the
driver-side ``commit()`` renames temporaries to their final names (and,
for overwrite mode, removes stale part files), so readers never observe
a half-written shard and failed/speculative tasks leave only ``.tmp``
litter that ``abort()`` clears. Local-FS rename here; a DFS client slots
into the same two-phase shape.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterable, Iterator, Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


@dataclass
class _ShardPartition(InputPartition):
    path: str


@dataclass
class _ShardCommit(WriterCommitMessage):
    tmp_name: str | None  # None: empty task partition, nothing staged


def _shard_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        raise FileNotFoundError(f"vdb_jsonl path is not a directory: {path!r}")
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".jsonl")
    )


def _apply_filters(table: "Any", filters: Sequence[Filter]) -> "Any":
    """Evaluate pushed filters with pyarrow.compute (exact, typed)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for f in filters:
        col = table.column(f.attribute[0])
        if isinstance(f, EqualTo):
            m = pc.equal(col, f.value)
        elif isinstance(f, GreaterThan):
            m = pc.greater(col, f.value)
        elif isinstance(f, GreaterThanOrEqual):
            m = pc.greater_equal(col, f.value)
        elif isinstance(f, LessThan):
            m = pc.less(col, f.value)
        elif isinstance(f, LessThanOrEqual):
            m = pc.less_equal(col, f.value)
        elif isinstance(f, In):
            m = pc.is_in(col, value_set=pa.array(list(f.value)))
        elif isinstance(f, IsNull):
            m = pc.is_null(col)
        elif isinstance(f, IsNotNull):
            m = pc.is_valid(col)
        else:  # pragma: no cover - pushFilters never accepts others
            raise AssertionError(f"unexpected pushed filter {f!r}")
        m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    return table if mask is None else table.filter(mask)


_PUSHABLE = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
    IsNull,
    IsNotNull,
)


class JsonlShardReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict[str, str]) -> None:
        self.schema = schema
        self.path = options.get("path") or options.get("paths")
        if not self.path:
            raise ValueError("vdb_jsonl requires a 'path' option (shard directory)")
        self.pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        """Accept scalar comparisons on top-level columns; return the rest
        for Spark to evaluate. Accepted filters are applied EXACTLY in
        read() (arrow compute), so dropping them from Spark's plan is
        sound.

        Upstream caveat (Spark 4.1, pinned in tests/test_pydatasource.py):
        the JVM caches a Python source's planned read (partitions +
        pickled reader) inside the relation and only re-plans when a new
        action HAS filters to push — an unfiltered action on the same
        ``load()`` DataFrame reuses a previously planned FILTERED scan.
        Derive each differently-filtered query from its own ``load()``
        (every registry query does); the reset below keeps this reader
        correct within one planning pass regardless."""
        self.pushed = []
        rest: list[Filter] = []
        names = {f.name for f in self.schema.fields}
        for f in filters:
            attr = getattr(f, "attribute", None)
            if (
                isinstance(f, _PUSHABLE)
                and attr is not None
                and len(attr) == 1
                and attr[0] in names
                # an In list containing NULL must stay with Spark: SQL's
                # `x IN (1, NULL)` is never TRUE for x = NULL, but arrow's
                # is_in matches null-to-null — accepting it here would
                # return rows the built-in sources drop
                and not (isinstance(f, In) and any(v is None for v in f.value))
            ):
                self.pushed.append(f)
            else:
                rest.append(f)
        return rest

    def partitions(self) -> Sequence[InputPartition]:
        return [_ShardPartition(p) for p in _shard_files(self.path)]

    def read(self, partition: _ShardPartition) -> Iterator["Any"]:
        import pyarrow as pa
        import pyarrow.json as pj

        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        # a zero-byte shard (defensive: the writer no longer commits them,
        # but a truncated copy or a foreign producer can still leave one)
        # is an empty table, not an ArrowInvalid crash for the whole scan
        if os.path.getsize(partition.path) == 0:
            return
        table = pj.read_json(partition.path)
        # project to the declared schema (absent column -> all-null) so
        # heterogeneous shards still read; then cast to the exact target
        cols = []
        for field in target:
            if field.name in table.column_names:
                cols.append(table.column(field.name).cast(field.type))
            else:
                cols.append(pa.nulls(table.num_rows, field.type))
        table = pa.table(dict(zip(target.names, cols)))
        table = _apply_filters(table, self.pushed)
        yield from table.to_batches()


def _reject_unjsonable(schema: StructType) -> None:
    """JSON has no binary representation and this layout defines no
    encoding convention for one — fail at plan time, not with a silently
    stringified ``b'...'`` repr that the reader's cast then corrupts."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType
    from pyspark.sql.types import StructType as _St

    def walk(dt: "Any", name: str) -> None:
        if isinstance(dt, BinaryType):
            raise ValueError(
                f"vdb_jsonl cannot write binary column {name!r}: JSONL shards "
                "have no binary encoding convention (base64-encode to a "
                "string column first)"
            )
        if isinstance(dt, ArrayType):
            walk(dt.elementType, f"{name}[]")
        elif isinstance(dt, MapType):
            walk(dt.keyType, f"{name}<key>")
            walk(dt.valueType, f"{name}<value>")
        elif isinstance(dt, _St):
            for f in dt.fields:
                walk(f.dataType, f"{name}.{f.name}")

    for f in schema.fields:
        walk(f.dataType, f.name)


def _json_canonical(o: "Any") -> str:
    """Canonical string forms for the non-JSON-native types the reader's
    Arrow cast path is tested to accept: timestamps/dates as ISO-8601
    (tz-aware normalized to UTC, ``+00:00`` offset KEPT — Arrow's
    string→timestamp[tz] cast requires one), decimals as plain decimal
    strings. Anything else is a hard error — ``default=str`` silently
    corrupted binary and exotic types."""
    import datetime as _dt
    import decimal as _dec

    if isinstance(o, _dt.datetime):
        # tz-aware (Spark TIMESTAMP arrives as timestamp[us, tz=UTC]):
        # normalize to UTC and KEEP the +00:00 offset — Arrow's string→
        # timestamp[tz] cast requires one. tz-naive (TIMESTAMP_NTZ):
        # plain ISO, cast to offset-less timestamp[us] accepts it.
        if o.tzinfo is not None:
            o = o.astimezone(_dt.timezone.utc)
        return o.isoformat()
    if isinstance(o, _dt.date):
        return o.isoformat()
    if isinstance(o, _dec.Decimal):
        return format(o, "f")
    raise TypeError(f"vdb_jsonl cannot serialize {type(o).__name__} values")


class JsonlShardWriter(DataSourceArrowWriter):
    def __init__(self, schema: StructType, options: dict[str, str], overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("vdb_jsonl requires a 'path' option (shard directory)")
        _reject_unjsonable(schema)
        self.overwrite = overwrite

    def write(self, iterator: Iterator["Any"]) -> _ShardCommit:
        os.makedirs(self.path, exist_ok=True)
        tmp_name = f"part-{uuid.uuid4().hex}.jsonl.tmp"
        n = 0
        with open(os.path.join(self.path, tmp_name), "w") as out:
            for batch in iterator:
                for row in batch.to_pylist():
                    out.write(json.dumps(row, default=_json_canonical) + "\n")
                    n += 1
        if n == 0:
            # never commit a zero-byte shard: pyarrow's read_json raises
            # ArrowInvalid("Empty JSON file") on it, so one empty task
            # partition (routine after a filter/repartition) would make
            # the whole directory unreadable
            os.remove(os.path.join(self.path, tmp_name))
            return _ShardCommit(tmp_name=None)
        return _ShardCommit(tmp_name=tmp_name)

    def commit(self, messages: list[_ShardCommit]) -> None:  # type: ignore[override]
        # final name keeps the task uuid (tmp name minus ".tmp"): append
        # mode must never collide with shards from a PREVIOUS write —
        # sequential part-NNNNN names silently overwrote them (data loss,
        # pinned in tests); overwrite mode clears the survivors instead
        keep = set()
        for msg in messages:
            if msg.tmp_name is None:  # empty task partition — nothing staged
                continue
            final = msg.tmp_name[: -len(".tmp")]
            os.replace(
                os.path.join(self.path, msg.tmp_name), os.path.join(self.path, final)
            )
            keep.add(final)
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".jsonl") and f not in keep:
                    os.remove(os.path.join(self.path, f))

    def abort(self, messages: list[_ShardCommit]) -> None:  # type: ignore[override]
        for msg in messages:
            if msg is None or msg.tmp_name is None:
                continue
            try:
                os.remove(os.path.join(self.path, msg.tmp_name))
            except OSError:
                pass


class JsonlShardDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "vdb_jsonl"

    def schema(self) -> StructType:
        """Infer from the lexicographically first shard (deterministic,
        one driver-side file read). Callers with a known schema should
        pass it explicitly and skip this."""
        from pyspark.sql.pandas.types import from_arrow_schema

        import pyarrow.json as pj

        files = [
            f for f in _shard_files(self.options["path"]) if os.path.getsize(f) > 0
        ]
        if not files:
            raise FileNotFoundError(
                f"no non-empty .jsonl shards under {self.options['path']!r}"
            )
        return from_arrow_schema(pj.read_json(files[0]).schema)

    def reader(self, schema: StructType) -> JsonlShardReader:
        return JsonlShardReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> JsonlShardWriter:
        return JsonlShardWriter(schema, dict(self.options), overwrite)
