"""Versioned Parquet tables: snapshot isolation, time travel, file-level
copy-on-write deletes, rollback, and vacuum over plain Parquet — the
manifest-log pattern (Delta Lake / Apache Iceberg, both public designs)
reduced to its load-bearing core.

Why it belongs in this engine: the reference persists index state as
whole-file pickle snapshots and reloads on start (reference ivf.py:217-241,
store.py save/load) — implicit version-of-one. A 100 TB corpus needs the
general form: ingest batches land as new files while readers keep a
consistent snapshot; a bad batch rolls back without rewriting data; "what
did training job X read" is answerable forever by version number.

Design (all public knowledge):

- ``<path>/data/`` holds immutable Parquet files, written once by Spark
  jobs, never modified.
- ``<path>/_manifest/v{N:012d}.json`` is a **delta manifest**: the files
  ADDED and REMOVED by commit N relative to N−1 (paths relative to the
  table root). A commit therefore writes O(changed files) JSON, not
  O(table files) — the property that survives a million-file table.
  Readers NEVER race writers: files referenced by any manifest are
  immutable, and a half-written data directory is invisible until its
  manifest commits.
- ``<path>/_manifest/ckpt-v{N:012d}.json`` is a **checkpoint**: the full
  file list (+ zone-map stats + cumulative txn map) at version N, written
  every ``checkpoint_interval`` commits (and by vacuum at the oldest
  retained version). Opening any version reads ONE checkpoint plus at
  most ``checkpoint_interval`` small deltas — the Delta/Iceberg
  checkpointed-log design, which removes the O(versions) replay and the
  O(files)-per-commit manifest rewrite in one move. Checkpoints are
  derived data: losing one only means replaying more deltas, and two
  racing writers produce byte-identical checkpoints (deterministic from
  the log), so checkpoint writes need no coordination.
- Commit = exclusive creation (O_EXCL) of the next manifest file: exactly
  one writer wins each version number; a loser gets
  :class:`CommitConflict` and re-validates against the new head —
  ``append`` re-derives its base, ``rollback`` retries
  verbatim, a conflicted ``delete_where`` must re-scan (optimistic
  concurrency — the local-FS/HDFS form; on an object store the same
  protocol rides a conditional PUT / put-if-absent).
- ``delete_where`` is file-level copy-on-write: only files that actually
  contain matching rows are rewritten (pruned via ``input_file_name``);
  untouched files carry over by reference. The rewrite volume tracks the
  match locality, not the table size.
- ``vacuum`` removes data files referenced by no retained manifest —
  the only operation that ever deletes data, and it respects time travel
  by construction (it keeps everything the retained versions can see).

Scale: delta manifests are O(changed files); checkpoints amortize the
full file list to one write per ``checkpoint_interval`` commits; reads
are one checkpoint + a bounded delta tail. The read path (explicit file
list → ``spark.read.parquet(*files)``) and the O_EXCL commit protocol
are exactly as before.
"""

from __future__ import annotations

import json
import os
import uuid

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifest"
_DATA_DIR = "data"

# sentinel: "this commit is base-independent" (rollback)
_ANY_BASE = object()


def _canon_stat(v):
    """Canonical scalar for zone-map values and probes: dates/timestamps
    as their str() form (exactly what ``json.dump(default=str)`` persists,
    so in-memory pending stats and reloaded manifests compare identically
    — and str() of ISO datetimes orders chronologically). Everything else
    passes through."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return str(v)
    return v


class CommitConflict(RuntimeError):
    """Another writer committed the version this transaction targeted."""


class VersionedTable:
    def __init__(
        self, spark: SparkSession, path: str, *, checkpoint_interval: int = 100
    ):
        self.spark = spark
        self.path = path
        self.manifest_dir = os.path.join(path, _MANIFEST_DIR)
        self.data_dir = os.path.join(path, _DATA_DIR)
        self.checkpoint_interval = checkpoint_interval
        # committed snapshots are immutable -> cache is never invalidated
        self._snap_cache: dict[int, dict] = {}

    # -- manifest log ---------------------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(self.manifest_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:012d}.json")

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"ckpt-v{version:012d}.json")

    def _ckpt_versions(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        return sorted(
            int(f[6:-5])
            for f in os.listdir(self.manifest_dir)
            if f.startswith("ckpt-v") and f.endswith(".json")
        )

    def _snapshot(self, version: int) -> dict:
        """Reconstruct the full state at ``version``:
        ``{files, stats, n_rows, op, txn_id}`` — from the nearest
        checkpoint at or below it plus the delta tail. Bounded work:
        one checkpoint read + at most ``checkpoint_interval`` deltas
        (vacuum guarantees a checkpoint at the oldest retained version)."""
        cached = self._snap_cache.get(version)
        if cached is not None:
            return cached
        below = [c for c in self._ckpt_versions() if c <= version]
        files: set[str] = set()
        stats: dict[str, dict] = {}
        start = -1
        if below:
            start = max(below)
            with open(self._ckpt_path(start)) as fh:
                ck = json.load(fh)
            files = set(ck["files"])
            stats = dict(ck.get("stats", {}))
        m = None
        for u in range(start + 1, version + 1):
            m = self._read_manifest(u)
            files.difference_update(m.get("remove", ()))
            files.update(m.get("add", ()))
            stats.update(m.get("stats", {}))
        if m is None or m["version"] != version:  # version == checkpoint version
            m = self._read_manifest(version)
        snap = {
            "files": sorted(files),
            "stats": {f: stats[f] for f in files if f in stats},
            "n_rows": m["n_rows"],
            "op": m["op"],
            "txn_id": m.get("txn_id"),
        }
        self._snap_cache[version] = snap
        return snap

    def _write_checkpoint(self, version: int, snap: dict) -> None:
        """Best-effort checkpoint at ``version``. Derived data: any writer
        reaching this version writes identical bytes (the log determines
        the content), so a race is harmless; a crash before the write only
        means readers replay more deltas."""
        ck = {
            "version": version,
            "files": snap["files"],
            "stats": snap["stats"],
            "txns": self._txns_through(version),
        }
        tmp = self._ckpt_path(version) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(ck, fh, default=str)
        os.replace(tmp, self._ckpt_path(version))

    def _txns_through(self, version: int) -> dict[str, int]:
        """Cumulative ``txn_id -> version`` for every commit <= version
        still derivable from the log (nearest checkpoint's map + delta
        tail + the vacuum-retired sidecar)."""
        txns = dict(self._retired_txns())
        below = [c for c in self._ckpt_versions() if c <= version]
        start = -1
        if below:
            start = max(below)
            with open(self._ckpt_path(start)) as fh:
                txns.update(json.load(fh).get("txns", {}))
        for u in range(start + 1, version + 1):
            if os.path.exists(self._manifest_path(u)):
                tid = self._read_manifest(u).get("txn_id")
                if tid is not None:
                    txns[tid] = u
        return txns

    def current_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    # -- file statistics (manifest-level zone maps) ---------------------------

    def set_stats_cols(self, cols: Sequence[str]) -> None:
        """Declare the columns whose per-file min/max get recorded in every
        future manifest (zone maps). Kilobytes of manifest buy planning-
        time file skipping on these columns — choose the natural ingest/
        cluster keys (time, id range, partition-ish dims)."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        with open(os.path.join(self.manifest_dir, "stats_cols.json"), "w") as fh:
            json.dump(sorted(cols), fh)

    def stats_cols(self) -> list[str]:
        p = os.path.join(self.manifest_dir, "stats_cols.json")
        if not os.path.exists(p):
            return []
        with open(p) as fh:
            return json.load(fh)

    # -- per-file bloom filters (point-lookup file skipping) -------------------

    def set_bloom_cols(
        self, cols: Sequence[str], *, n_bits: int = 8192, n_hashes: int = 5
    ) -> None:
        """Declare high-cardinality columns whose per-file Bloom filter is
        recorded in every future manifest — the point-lookup complement to
        zone maps: min/max zones prune RANGE probes but are useless for an
        equality probe on an unclustered id (every file's [min, max] spans
        it); a ~1 KB bloom per file answers "id definitely absent" at
        planning time. md5-derived bit positions keep the filter
        engine/run/layout invariant. False-positive rate ≈
        (1 − e^(−k·n/m))^k — size ``n_bits`` for the expected distinct
        values per FILE, not per table. (Production twin: Parquet's own
        footer blooms prune row groups after a file is opened; manifest
        blooms prune before any footer read, same two-level split as the
        zone maps.)"""
        os.makedirs(self.manifest_dir, exist_ok=True)
        with open(os.path.join(self.manifest_dir, "bloom_cols.json"), "w") as fh:
            json.dump(
                {"cols": sorted(cols), "n_bits": n_bits, "n_hashes": n_hashes}, fh
            )

    def bloom_config(self) -> dict | None:
        p = os.path.join(self.manifest_dir, "bloom_cols.json")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    @staticmethod
    def _bloom_positions(value, n_bits: int, n_hashes: int) -> list[int]:
        """Bit positions for a probe value. The hashed rendering must match
        Spark's string cast of the column (the build side casts columns to
        string before hashing): str() agrees for longs, strings, decimals,
        dates, and timestamps — the id-like types blooms are for; booleans
        render 'true'/'false' in SQL, so they are normalized here. (Doubles
        diverge in the scientific-notation range; point-lookup blooms on
        floating-point keys are a modeling error anyway.)"""
        import hashlib

        if isinstance(value, bool):
            value = "true" if value else "false"
        return [
            int(hashlib.md5(f"{value}:bloom:{i}".encode()).hexdigest()[:15], 16)
            % n_bits
            for i in range(n_hashes)
        ]

    def pruned_files_eq(self, col: str, value) -> list[str]:
        """Files of the current version whose bloom for ``col`` might
        contain ``value`` — decided from the manifest alone. Files without
        a recorded bloom are conservatively kept; a kept file is a maybe,
        a dropped file is a guarantee."""
        v = self.current_version()
        if v is None:
            raise ValueError("empty table")
        cfg = self.bloom_config()
        if cfg is None or col not in cfg["cols"]:
            return self._snapshot(v)["files"]
        import base64

        # positions depend on each bitmap's own geometry (bitmaps record
        # [b64, n_bits, n_hashes] — probing a bitmap with a reconfigured
        # geometry would read the wrong bits); legacy bare-string
        # bitmaps fall back to the current config they were built under
        pos_cache: dict[tuple[int, int], list[int]] = {}

        def pos_for(nb: int, nh: int) -> list[int]:
            key = (nb, nh)
            if key not in pos_cache:
                pos_cache[key] = self._bloom_positions(value, nb, nh)
            return pos_cache[key]

        stats = self._snapshot(v)["stats"]
        keep = []
        for f in self._snapshot(v)["files"]:
            rec = stats.get(f, {}).get(f"bloom::{col}")
            if isinstance(rec, list) and len(rec) == 3:
                b64, nb, nh = rec[0], int(rec[1]), int(rec[2])
            elif isinstance(rec, str):
                b64, nb, nh = rec, cfg["n_bits"], cfg["n_hashes"]
            else:
                keep.append(f)
                continue
            bits = base64.b64decode(b64)
            if all(bits[p >> 3] & (1 << (p & 7)) for p in pos_for(nb, nh)):
                keep.append(f)
        return keep

    def read_point(self, col: str, value) -> DataFrame:
        """Bloom-pruned point lookup on the current version: only
        possibly-matching files reach the scan; the equality predicate is
        still applied (blooms bound, they don't filter rows)."""
        files = self.pruned_files_eq(col, value)
        if not files:
            return self.read().limit(0).filter(F.col(col) == value)
        return self._read_paths(
            [os.path.join(self.path, f) for f in files]
        ).filter(F.col(col) == value)

    def pruned_files(self, col: str, lo=None, hi=None) -> list[str]:
        """Files of the current version whose [min, max] zone for ``col``
        overlaps [lo, hi] — decided entirely from the manifest (no footer
        reads). Files without recorded stats (written before
        ``set_stats_cols``, or all-NULL zones) are conservatively kept."""
        v = self.current_version()
        if v is None:
            raise ValueError("empty table")
        # zones are stored in canonical (json-stable) form — date/timestamp
        # zones are str — so probes canonicalize the same way; str-vs-date
        # comparisons otherwise raise cross-session while passing in-session
        lo, hi = _canon_stat(lo), _canon_stat(hi)
        m = self._snapshot(v)
        stats = m.get("stats", {})
        keep = []
        for f in m["files"]:
            zone = stats.get(f, {}).get(col)
            if zone is None or zone[0] is None or zone[1] is None:
                keep.append(f)
                continue
            mn, mx = zone
            if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                continue
            keep.append(f)
        return keep

    def txn_version(self, txn_id: str) -> int | None:
        """Version that committed ``txn_id``, or None. The sink-side
        exactly-once primitive (the Delta `txn` appId/version idea): a
        replayed writer finds its transaction already in the log and
        skips. One log scan — O(versions), no data access.

        Vacuumed history is still consulted: :meth:`vacuum` carries the
        txn_ids of expired manifests into ``_manifest/txns.json`` (the
        Delta setTransaction-retention idea), so a lost-checkpoint replay
        of a long-vacuumed epoch is still recognised as a duplicate.
        Bounded work: checkpoints hold the cumulative txn map, so the
        lookup reads the delta tail + one checkpoint, not the whole log."""
        head = self.current_version()
        if head is None:
            return self._retired_txns().get(txn_id)
        return self._txns_through(head).get(txn_id)

    def _retired_txns_path(self) -> str:
        return os.path.join(self.manifest_dir, "txns.json")

    def _retired_txns(self) -> dict[str, int]:
        """txn_id -> version for manifests vacuum has already removed."""
        p = self._retired_txns_path()
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def _try_commit(
        self,
        files: list[str],
        op: str,
        n_rows: int,
        *,
        txn_id: str | None = None,
        pending: dict | None = None,
        base_version: int | None | object = _ANY_BASE,
    ) -> int:
        """One atomic attempt to claim the next version: the manifest is
        written to a temp file and hard-linked into place (link fails if
        the name exists), so exactly one writer wins each version number
        AND readers can never observe a half-written manifest. Losing
        raises :class:`CommitConflict` — the CALLER decides whether its
        file list is still valid against the new head (append re-derives
        its base; rollback retries verbatim; a conflicting delete must
        re-scan).

        ``base_version`` closes the lost-update window: a caller whose
        file list was derived from snapshot N passes ``base_version=N``,
        and the commit is refused when the head has since moved — without
        it, a commit that landed between the caller's snapshot read and
        this claim would have its files silently diffed away as
        ``remove`` entries. The base-independent rollback omits it."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        head = self.current_version()
        if base_version is not _ANY_BASE and head != base_version:
            raise CommitConflict(
                f"base version {base_version} is stale (head is now {head})"
            )
        version = (head + 1) if head is not None else 0
        base = (
            self._snapshot(head)
            if head is not None
            else {"files": [], "stats": {}}
        )
        base_files = set(base["files"])
        new_files = set(files)
        add = sorted(new_files - base_files)
        remove = sorted(base_files - new_files)
        manifest = {
            "version": version,
            "op": op,
            "add": add,
            "remove": remove,
            "n_files": len(files),
            "n_rows": n_rows,
        }
        if txn_id is not None:
            manifest["txn_id"] = txn_id
        # zone maps: a file's stats are immutable — the delta records stats
        # for its ADDED files only (from the just-written txn's pending
        # stats, or the base snapshot when re-adding e.g. on rollback);
        # snapshot reconstruction accumulates them
        known: dict = dict(base["stats"])
        known.update(pending or {})
        add_stats = {f: known[f] for f in add if f in known}
        if add_stats:
            manifest["stats"] = add_stats
        # atomic publish: fully write + fsync a temp manifest, then
        # hard-link it to the version name — link fails if the version is
        # claimed, and readers either see the complete manifest or
        # nothing (O_EXCL + in-place json.dump exposed half-written JSON
        # at an already-claimed version: permanently unreadable history).
        # On a DFS/object store this step maps to a conditional put.
        tmp = self._manifest_path(version) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, default=str)  # date/timestamp zones as str
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self._manifest_path(version))
        except FileExistsError as exc:
            raise CommitConflict(
                f"version {version} was claimed concurrently"
            ) from exc
        finally:
            os.unlink(tmp)
        snap = {
            "files": sorted(new_files),
            "stats": {f: known[f] for f in sorted(new_files) if f in known},
            "n_rows": n_rows,
            "op": op,
            "txn_id": txn_id,
        }
        self._snap_cache[version] = snap
        if (
            self.checkpoint_interval
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            self._write_checkpoint(version, snap)
        return version

    def _read_paths(self, paths: Sequence[str]) -> DataFrame:
        """Every multi-file snapshot read goes through mergeSchema: a
        snapshot may span txn dirs written under evolved schemas, and a
        plain read would infer from whichever txn dir happens to sort
        first — a CoW rewrite through that read would silently drop
        evolved columns from surviving rows."""
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def _rel_file(self, uri: str) -> str:
        """Manifest-relative file name from an ``input_file_name()`` URI.
        The URI is percent-encoded (a table path containing a space came
        back as ``my%20table`` — a bare prefix-strip then matched NOTHING
        in the manifest, silently turning deletes into row duplication);
        decode before relativizing."""
        from urllib.parse import unquote, urlparse

        p = unquote(urlparse(uri).path) if "://" in uri else uri
        return os.path.relpath(p, self.path)

    def _kept_rows(self, m: dict, keep: list[str]) -> int:
        """Row count of the carried-over files, from the manifest's
        per-file ``__rows`` stats when every kept file has one (O(0) I/O)
        — falling back to one count scan for files recorded before
        per-file counts existed."""
        if not keep:
            return 0
        stats = m.get("stats", {})
        known = [stats.get(f, {}).get("__rows") for f in keep]
        if all(isinstance(x, int) for x in known):
            return sum(known)
        return self.spark.read.parquet(
            *[os.path.join(self.path, f) for f in keep]
        ).count()

    # -- writes ---------------------------------------------------------------

    def _write_files(self, df: DataFrame) -> tuple[list[str], int, dict]:
        """Land ``df`` as immutable files in a fresh txn subdir of data/.
        The directory is invisible to every reader until a manifest that
        references it commits.

        If the table declares ``stats_cols`` (see :meth:`set_stats_cols`),
        per-file min/max for those columns are computed in the same
        read-back job that counts rows (one ``input_file_name`` grouping)
        and stored beside the file list — manifest-level zone maps, the
        Iceberg/Delta data-skipping idea: a filtered read prunes files at
        PLANNING time from kilobytes of manifest, before any footer is
        opened."""
        txn = os.path.join(_DATA_DIR, f"txn-{uuid.uuid4().hex[:12]}")
        out = os.path.join(self.path, txn)
        df.write.mode("overwrite").parquet(out)
        files = sorted(
            os.path.join(txn, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )
        if not files:  # empty frame can commit zero part files
            return [], 0, {}
        back = self.spark.read.parquet(out)
        stats_cols = [c for c in self.stats_cols() if c in back.columns]
        # per-file row counts are ALWAYS recorded (stats key "__rows"):
        # they make delete's carried-over row total a manifest-only
        # sum instead of an O(table) recount scan
        aggs = [F.count("*").alias("__n")]
        for c in stats_cols:
            aggs += [F.min(c).alias(f"min::{c}"), F.max(c).alias(f"max::{c}")]
        per_file = (
            back.withColumn("__f", F.input_file_name())
            .groupBy("__f")
            .agg(*aggs)
            .collect()
        )  # O(files) rows
        n_rows = sum(r["__n"] for r in per_file)
        pending = {}
        for r in per_file:
            rec: dict = {"__rows": int(r["__n"])}
            for c in stats_cols:
                # canonical (json-stable) zone values: what default=str
                # persists is what in-memory pending stats hold too
                rec[c] = [_canon_stat(r[f"min::{c}"]), _canon_stat(r[f"max::{c}"])]
            pending[self._rel_file(r["__f"])] = rec
        # zero-row part files (a writer partition with no rows) produce no
        # stats group; referencing them buys nothing and, being stats-less,
        # they would be conservatively kept by every prune forever — the
        # commit simply doesn't list them (vacuum reclaims the bytes).
        # Invariant guard: every stats key must name a listed file — a
        # _rel_file/os.listdir normalization mismatch would otherwise make
        # this filter drop ROW-BEARING files (silent data loss), not just
        # their stats.
        unknown = set(pending) - set(files)
        if unknown:
            raise AssertionError(
                f"stats keys do not match listed data files: {sorted(unknown)!r}"
            )
        files = [f for f in files if f in pending]
        self._merge_pending_blooms(back, pending)
        return files, n_rows, pending

    def _merge_pending_blooms(self, back: DataFrame, pending: dict) -> None:
        """Per-file Bloom bitmaps for the declared bloom columns, computed
        in one Arrow task per file group and merged into the pending
        stats under ``bloom::<col>`` keys (riding the exact same
        carry-over / checkpoint plumbing as the zone maps). Collects
        O(files × cols) rows of ~n_bits/8 bytes each."""
        cfg = self.bloom_config()
        if not cfg:
            return
        cols = [c for c in cfg["cols"] if c in back.columns]
        if not cols:
            return
        import base64

        import pandas as pd

        n_bits, n_hashes = cfg["n_bits"], cfg["n_hashes"]
        positions = self._bloom_positions

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            f = pdf["__f"].iloc[0]
            rows = []
            for c in cols:
                bits = bytearray(n_bits // 8)
                for v in pdf[c].dropna().unique():
                    for p in positions(v, n_bits, n_hashes):
                        bits[p >> 3] |= 1 << (p & 7)
                rows.append((f, c, base64.b64encode(bytes(bits)).decode()))
            return pd.DataFrame(rows, columns=["f", "col", "bloom"])

        # columns are CAST TO STRING Spark-side so the kernel hashes the
        # engine's canonical rendering: pandas coerces an int64 column
        # containing any NULL to float64, and hashing '5.0' while the
        # probe hashes '5' wrongly pruned files that contain the value —
        # the one failure a bloom must never have. Spark's cast matches
        # the probe's str() for longs/doubles/decimals/dates/timestamps.
        per_file = (
            back.select(
                F.input_file_name().alias("__f"),
                *[F.col(c).cast("string").alias(c) for c in cols],
            )
            .groupBy("__f")
            .applyInPandas(kernel, "f string, col string, bloom string")
            .collect()
        )
        for r in per_file:
            rel = self._rel_file(r["f"])
            # geometry rides with every bitmap: a later set_bloom_cols
            # with different n_bits must not be probed against old bitmaps
            pending.setdefault(rel, {})[f"bloom::{r['col']}"] = [
                r["bloom"],
                n_bits,
                n_hashes,
            ]

    def append(self, df: DataFrame, *, txn_id: str | None = None, retries: int = 5) -> int:
        """Append commutes with concurrent commits: on conflict the base
        file list is RE-DERIVED from the new head (the new files landed
        once; only the manifest merge repeats).

        ``txn_id`` makes the append idempotent: if the log already holds a
        commit with this id, the call is a no-op returning that version —
        a crashed-and-replayed streaming micro-batch (foreachBatch re-runs
        epochs the checkpoint never acknowledged) cannot double-append.
        The check runs before any data write, so replays cost one log
        scan. (Idempotence assumes one live writer per txn_id — the
        streaming-checkpoint contract; concurrent same-id writers are a
        misconfiguration the log would record as duplicates.)"""
        if txn_id is not None:
            seen = self.txn_version(txn_id)
            if seen is not None:
                return seen
        files, n, pend = self._write_files(df)
        for _ in range(retries):
            prev = self.current_version()
            m = self._snapshot(prev) if prev is not None else {"files": [], "n_rows": 0}
            try:
                return self._try_commit(
                    m["files"] + files, "append", m["n_rows"] + n,
                    txn_id=txn_id, pending=pend, base_version=prev,
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"append lost {retries} consecutive commit races")

    def delete_where(self, cond: Column) -> int:
        """Copy-on-write delete: prune to the files that contain matching
        rows (one filtered scan collecting distinct ``input_file_name`` —
        O(files) output), rewrite ONLY those files without the matches,
        and carry every untouched file over by reference."""
        prev = self.current_version()
        if prev is None:
            raise ValueError("empty table")
        m = self._snapshot(prev)
        current = [os.path.join(self.path, f) for f in m["files"]]
        if not current:
            return self._try_commit([], "delete", 0, base_version=prev)
        df = self._read_paths(current).withColumn("__file", F.input_file_name())
        hit_files = {
            self._rel_file(r["__file"])
            for r in df.filter(cond).select("__file").distinct().collect()
        }
        if not hit_files:
            return self._try_commit(
                m["files"], "delete", m["n_rows"], base_version=prev
            )
        keep = [f for f in m["files"] if f not in hit_files]
        # NULL predicate = no match: a row where cond is NULL must survive
        # (filter(~cond) alone would silently drop it). The rewrite read
        # also goes through mergeSchema (hit files may themselves span
        # evolved schemas — a plain read would drop evolved columns from
        # surviving rows, permanently).
        survivors = self._read_paths(
            [os.path.join(self.path, f) for f in sorted(hit_files)]
        ).filter(~F.coalesce(cond, F.lit(False)))
        new_files, n_new, pend = self._write_files(survivors)
        kept_rows = self._kept_rows(m, keep)
        return self._try_commit(
            keep + new_files, "delete", kept_rows + n_new, pending=pend,
            base_version=prev,
        )

    def rollback(self, version: int) -> int:
        """Restore an old snapshot as a NEW commit (history is never
        erased; the bad versions stay inspectable).

        The target's data files are validated to still exist before the
        commit — a vacuum that already reclaimed them must fail the
        rollback HERE, not leave a head pointing at vanished data. (A
        vacuum running concurrently with this call can still win the
        narrow window between the check and the commit; run maintenance
        and restores from one scheduler, as every table format requires.)
        """
        m = self._snapshot(version)  # raises if unknown
        missing = [
            f for f in m["files"] if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise ValueError(
                f"rollback target v{version} references {len(missing)} "
                f"vacuumed data file(s), e.g. {missing[0]!r}"
            )
        # the restored files' zones may be absent from the current head —
        # re-seed them from the target snapshot. A rollback is
        # base-independent (it restores a fixed file list regardless of
        # what the loser of the race committed), so a lost commit race
        # retries verbatim — the module contract at the top of this file.
        for _ in range(5):
            try:
                return self._try_commit(
                    m["files"], f"rollback:{version}", m["n_rows"],
                    pending=m.get("stats", {}),
                )
            except CommitConflict:
                continue
        raise CommitConflict("rollback lost 5 consecutive commit races")

    def compact(
        self, target_files: int = 1, *, zorder_by: Sequence[str] | None = None
    ) -> int:
        """Rewrite the current snapshot into ``target_files`` files as a
        NEW version (op="compact") — the small-file answer for a table fed
        by per-epoch streaming appends. Old versions still time-travel to
        the un-compacted files until :meth:`vacuum` reclaims them; zone
        maps are recomputed for the new files in the same write.

        With ``zorder_by``, rows are laid out along a Z-order (Morton)
        curve over the named columns (the Delta OSS OPTIMIZE ZORDER BY
        idea): each column is quantile-bucketed to 8 bits (boundaries from
        one approxQuantile pass — driver holds 255 doubles per column, no
        data centralizes), the bucket bits interleave into a single long,
        and a range repartition + in-partition sort on that long clusters
        the files. The payoff is MULTI-dimensional zone-map pruning: after
        a sort by (a, b), zones on ``b`` span everything and prune
        nothing; after Z-order, a box probe on ANY subset of the curve
        columns skips most files. Layout only — rows, schema, and every
        query answer are unchanged."""
        prev = self.current_version()
        df = self.read()
        if zorder_by:
            df = (
                df.withColumn("__z", self._zvalue(df, list(zorder_by)))
                .repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            files, n, pend = self._write_files(df)
            return self._try_commit(
                files, "zorder", n, pending=pend, base_version=prev
            )
        files, n, pend = self._write_files(df.coalesce(target_files))
        return self._try_commit(
            files, "compact", n, pending=pend, base_version=prev
        )

    def _zvalue(self, df: DataFrame, cols: list[str], *, bits: int = 8):
        """Morton code: interleaved bits of per-column quantile buckets.
        Bucket = count of quantile boundaries <= value (a 255-element
        array filter, JVM-side); NULLs sort to bucket 0."""
        if len(cols) * bits > 63:
            raise ValueError("zorder bit budget exceeds a signed long")
        from pyspark.sql import types as T

        numeric = (T.NumericType, T.TimestampType)
        for c in cols:
            if not isinstance(df.schema[c].dataType, numeric):
                raise ValueError(
                    f"zorder_by column {c!r} is {df.schema[c].dataType.simpleString()}: "
                    "quantile bucketing needs a numeric/timestamp column "
                    "(a string would silently hash to one bucket)"
                )
        nq = 1 << bits
        k = len(cols)
        z = F.lit(0).cast("long")
        for j, c in enumerate(cols):
            probs = [i / nq for i in range(1, nq)]
            bounds = df.select(
                F.col(c).cast("double").alias("__q")
            ).approxQuantile("__q", probs, 0.001)
            barr = F.array(*[F.lit(float(b)) for b in bounds])
            bucket = F.size(
                F.filter(barr, lambda x: x <= F.col(c).cast("double"))
            )
            for i in range(bits):
                z = z + (
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)).cast("long")
                    * F.lit(1 << (i * k + j))
                )
        return z

    # -- reads ----------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError("empty table")
        m = self._snapshot(v)
        if not m["files"]:
            raise ValueError(f"version {v} is empty")
        # mergeSchema: a snapshot may span txn dirs written under evolved
        # schemas (append with added nullable columns); older files read
        # the missing columns as NULL
        return self.spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(self.path, f) for f in m["files"]]
        )

    # -- maintenance ----------------------------------------------------------

    def vacuum(self, keep_last: int = 2, *, min_age_seconds: float = 3600.0) -> dict:
        """Drop manifests older than the last ``keep_last`` versions and
        delete data files no retained manifest references. Time travel to
        retained versions is untouched by construction.

        ``min_age_seconds`` guards the write/vacuum race: a writer that
        has landed its txn dir but not yet committed its manifest owns
        files that are "unreferenced" right now — deleting them would let
        a manifest commit against vanished data. Files younger than the
        guard are skipped (the Delta retention-threshold idea); any
        legitimately orphaned dir (crashed writer) is reclaimed by the
        next vacuum after it ages past the guard. Tests pass 0 to force
        immediate reclamation."""
        import time as _time

        vs = self._versions()
        retained, expired = vs[-keep_last:], vs[:-keep_last]
        live: set[str] = set()
        for v in retained:
            live.update(self._snapshot(v)["files"])
        cutoff = _time.time() - min_age_seconds
        # carry txn_ids of expiring manifests forward BEFORE removing them:
        # exactly-once replay detection (txn_version) must survive vacuum,
        # else a lost-checkpoint replay re-appends vacuumed epochs
        retired = self._retired_txns()
        for v in expired:
            tid = self._read_manifest(v).get("txn_id")
            if tid is not None:
                retired[tid] = v
        if retired:
            with open(self._retired_txns_path(), "w") as fh:
                json.dump(retired, fh)
        # delta manifests: retained versions must stay reconstructable after
        # the older deltas disappear — anchor a checkpoint at the oldest
        # retained version (computed BEFORE any manifest is removed), then
        # drop checkpoints older than it
        if retained:
            anchor = retained[0]
            if not os.path.exists(self._ckpt_path(anchor)):
                self._write_checkpoint(anchor, self._snapshot(anchor))
            for c in self._ckpt_versions():
                if c < anchor:
                    os.remove(self._ckpt_path(c))
        removed_files = 0
        for root, _, names in os.walk(self.data_dir):
            for name in names:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.path)
                if (
                    name.endswith(".parquet")
                    and rel not in live
                    and os.path.getmtime(full) <= cutoff
                ):
                    os.remove(full)
                    removed_files += 1
        for v in expired:
            os.remove(self._manifest_path(v))
            # a vacuumed version must stop being readable: evict its cached
            # snapshot so read() fails with FileNotFoundError, not a
            # dangling-path scan error
            self._snap_cache.pop(v, None)
        # prune empty txn dirs left behind
        for root, dirs, names in os.walk(self.data_dir, topdown=False):
            if root != self.data_dir and not dirs and not names:
                os.rmdir(root)
        return {"removed_files": removed_files, "removed_versions": len(expired)}
