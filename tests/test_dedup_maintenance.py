"""Exactly-once corpus maintenance: DedupIndex txn appends under replay
and mid-write crashes.
"""

from __future__ import annotations

import os
import shutil


def _docs(spark, rows):
    """rows: (doc_id, text) — texts long enough to shingle at n=3."""
    return spark.createDataFrame(list(rows), "doc_id long, text string")


def _text(i: int) -> str:
    return f"unique document body {i} with several tokens about topic {i * 7}"


def test_dedup_index_txn_append_is_idempotent_and_heals_partial_writes(
    spark, tmp_path
):
    """The VersionedTable.append(txn_id) pattern on the partitioned
    index: (a) a committed txn replays as a no-op; (b) the HARD window —
    marker never written, some stores landed, some not (crash mid-way
    through the three store writes) — heals on replay via dynamic
    partition overwrite instead of duplicating signatures."""
    from vector_db_spark.operators.dedup_index import DedupIndex

    idx = DedupIndex.build(
        spark,
        _docs(spark, [(i, _text(i)) for i in range(10)]),
        str(tmp_path / "idx"),
        n_buckets=8,
    )
    batch = _docs(spark, [(i, _text(i)) for i in range(10, 15)])
    idx.append(batch, txn_id="epoch0")
    assert idx.txn_committed("epoch0")
    n_fp = idx.fingerprints().count()
    n_sh = idx.shingles().count()
    assert n_fp == 15

    # (a) full replay of a committed epoch: no-op
    idx.append(batch, txn_id="epoch0")
    assert idx.fingerprints().count() == n_fp
    assert idx.shingles().count() == n_sh

    # (b) crash mid-write: fingerprints landed, bands/shingles did not,
    # marker missing. Simulate by deleting the marker and the txn's
    # partitions from two of the three stores.
    os.remove(idx._txn_marker("epoch0"))
    for store in ("bands", "shingles"):
        root = os.path.join(str(tmp_path / "idx"), store)
        for bucket_dir in os.listdir(root):
            txn_dir = os.path.join(root, bucket_dir, "__txn=epoch0")
            if os.path.isdir(txn_dir):
                shutil.rmtree(txn_dir)
    assert idx.shingles().count() < n_sh  # the index really is torn
    idx.append(batch, txn_id="epoch0")  # the replay
    assert idx.txn_committed("epoch0")
    assert idx.fingerprints().count() == n_fp  # healed, not duplicated
    assert idx.shingles().count() == n_sh
    assert idx.bands().count() == idx.fingerprints().count() * idx.n_bands

    # layout v1 indexes are append-frozen
    import json

    import pytest

    pj = str(tmp_path / "idx" / "params.json")
    with open(pj) as f:
        params = json.load(f)
    params.pop("layout")
    with open(pj, "w") as f:
        json.dump(params, f)
    frozen = DedupIndex(spark, str(tmp_path / "idx"))
    with pytest.raises(ValueError, match="append-frozen"):
        frozen.append(batch)
