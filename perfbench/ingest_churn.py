"""ingest_churn: the write path with reads beside it, through
``VectorDBService`` as the reference's ``/embed`` and ``/search`` use it,
with the default stub embedder. One cycle inserts a batch, deletes live
ids, and runs an unfiltered and a ``lang``-filtered search; every fifth
cycle also refreshes the index."""

from __future__ import annotations

import os
import time
from types import SimpleNamespace

import numpy as np

from common import Op, check_exact, exact_topk, group_hits, recall, true_dist
from datagen import DIM, docs, query_texts, stub_vec

SIZES = {
    "initial_docs": 2_000,
    "index_k": 16,
    "insert_batch": 100,
    "delete_batch": 10,
    "search_texts": 8,
    "top_k": 10,
    "n_probe": 10,
    "refresh_every": 5,
    "reassign_threshold": 0.05,
    "filter": "lang=de (~15%)",
}
RECALL_FLOOR = 0.6  # API search (IVF, n_probe 10 of 16) recall@10 floor
SETUP_REPS = 2
WARMUP_CYCLES = 1
# one cycle already takes longer than --seconds; it runs the refresh too
MIN_CYCLES = 1

_DOC_SCHEMA = "content string, metadata map<string,string>"


def setup(spark, work: str, seed: int, rep: int) -> SimpleNamespace:
    from vector_db_spark.api import VectorDBService

    s = SimpleNamespace()
    s.spark, s.seed = spark, seed
    s.rng = np.random.default_rng(seed)
    s.svc = VectorDBService(spark, os.path.join(work, f"churn-{rep}"), dim=DIM)
    batch = docs(s.rng, SIZES["initial_docs"], "init")
    s.svc.insert_documents(spark.createDataFrame(batch, _DOC_SCHEMA))
    t0 = time.perf_counter()
    s.svc.build_index(k=SIZES["index_k"], seed=seed)
    s.index_build_s = time.perf_counter() - t0
    # the model of the store the checks compare against: id -> (vec, lang)
    s.live = {}
    s.bad_setup = _learn(s, -1, {t for t, _ in batch}, SIZES["initial_docs"])
    s.deleted = set()
    s.inserted = s.deleted_n = 0
    s.insert_bytes = []
    s.recalls = []
    if sorted(s.live) != list(range(1, SIZES["initial_docs"] + 1)):
        s.bad_setup.append("initial insert did not assign ids 1..n")
    return s


def _learn(s, after: int, texts: set, n: int) -> list[str]:
    """Read back rows with id > ``after``: they must be exactly
    ``after+1 .. after+n`` and carry exactly the inserted texts."""
    from pyspark.sql import functions as F

    rows = (
        s.svc.nodes.df().filter(F.col("id") > after)
        .select("id", "content", F.col("metadata")["lang"].alias("lang")).collect()
    )
    ids = sorted(r["id"] for r in rows)
    bad = []
    if after >= 0 and ids != list(range(after + 1, after + n + 1)):
        bad.append(f"insert after max id {after} got ids {ids[:3]}..{ids[-3:]}")
    if {r["content"] for r in rows} != texts:
        bad.append("inserted contents differ from the batch")
    for r in rows:
        s.live[int(r["id"])] = (stub_vec(r["content"]), r["lang"])
    return bad


def cycle(s, i: int) -> list[Op]:
    """Cycle 0 is the untimed warm-up. It and the first timed cycle, then
    every fifth one, also refresh the index."""
    ops = []
    if i == 0 or i % SIZES["refresh_every"] == 1:
        ops.append(Op("refresh", lambda: s.svc.refresh_index(
            reassign_threshold=SIZES["reassign_threshold"]), _check_refresh))

    batch = docs(s.rng, SIZES["insert_batch"], f"c{i}")
    ops.append(Op("insert", lambda: (max(s.live), s.svc.insert_documents(
        s.spark.createDataFrame(batch, _DOC_SCHEMA))), lambda r: _check_insert(s, batch, r)))

    ops.append(Op("delete", lambda: _delete(s), lambda r: _check_delete(s, r)))

    texts = query_texts(s.rng, SIZES["search_texts"], f"{i}a")
    ops.append(Op("search", lambda: s.svc.search(
        texts, top_k=SIZES["top_k"], n_probe=SIZES["n_probe"]).collect(),
        lambda rows: _check_search(s, texts, rows, None)))

    ftexts = query_texts(s.rng, SIZES["search_texts"], f"{i}b")
    ops.append(Op("filtered_search", lambda: s.svc.search(
        ftexts, top_k=SIZES["top_k"], metadata_filter={"lang": "de"},
        n_probe=SIZES["n_probe"]).collect(),
        lambda rows: _check_search(s, ftexts, rows, "de")))
    return ops


def _check_refresh(r) -> list[str]:
    return [] if {"max_shift", "drifted", "moved"} <= set(r) else [f"refresh returned {r}"]


def _check_insert(s, batch, r) -> list[str]:
    before, n = r
    s.inserted += n
    # user payload: text, metadata strings and the float32 vector
    s.insert_bytes.append(sum(
        len(t.encode()) + sum(len(k) + len(v) for k, v in m.items()) + 4 * DIM
        for t, m in batch))
    bad = [] if n == len(batch) else [f"insert_documents reported {n} of {len(batch)}"]
    return bad + _learn(s, before, {t for t, _ in batch}, len(batch))


def _delete(s):
    """Delete live ids, never the current maximum (so ids are never
    reused and a deleted id stays deleted)."""
    top = max(s.live)
    pool = np.array(sorted(k for k in s.live if k != top))
    ids = [int(x) for x in s.rng.choice(pool, SIZES["delete_batch"], replace=False)]
    return ids, s.svc.delete_documents(ids)


def _check_delete(s, r) -> list[str]:
    ids, n = r
    for k in ids:
        s.live.pop(k, None)
    s.deleted.update(ids)
    s.deleted_n += n
    return [] if n == len(ids) else [f"delete_documents removed {n} of {len(ids)}"]


def _check_search(s, texts, rows, lang) -> list[str]:
    ids = np.array(sorted(k for k, (_, g) in s.live.items() if lang is None or g == lang))
    mat = np.stack([s.live[k][0] for k in ids])
    q = np.stack([stub_vec(t) for t in texts])
    hits = group_hits(rows, "query_id", "id", "distance")
    bad = []
    returned = {i for h in hits.values() for _, i in h}
    if returned & s.deleted:
        bad.append(f"search returned deleted ids {sorted(returned & s.deleted)[:5]}")
    if lang is not None:
        if any(r["metadata"]["lang"] != lang for r in rows):
            bad.append("filtered search returned a row outside the filter")
    gt_ids, gt_d = exact_topk(mat, ids, q, SIZES["top_k"])
    if lang is not None:  # a selective filter takes the exact path
        return bad + check_exact(hits, gt_ids, gt_d, "filtered_search")
    for qi in range(len(texts)):
        h = hits.get(qi, [])
        if len(h) != SIZES["top_k"]:
            bad.append(f"search: query {qi} returned {len(h)} rows")
        for d, nid in h:
            if nid not in s.live or abs(d - true_dist(s.live[nid][0], q[qi])) > 2e-6:
                bad.append(f"search: query {qi} id {nid} distance {d} is wrong")
                break
    s.recalls.append(recall(hits, gt_ids))
    return bad


def finish(s) -> tuple[list[str], dict]:
    from vector_db_spark.operators.ivf import IVFIndex

    bad = list(s.bad_setup)
    h = s.svc.health()
    n = len(s.live)
    if not (h["storage_nodes"] == h.get("index_vectors") == n):
        bad.append(f"health {h} disagrees with {n} live documents")
    ids = [r["id"] for r in s.svc.nodes.df().select("id").collect()]
    if len(ids) != len(set(ids)) or set(ids) != set(s.live):
        bad.append("stored ids are not unique or differ from the expected set")
    index = IVFIndex(s.spark, s.svc.index_path, id_col="id")
    idx_ids = [r["id"] for r in index.corpus().select("id").collect()]
    if sorted(idx_ids) != sorted(ids):
        bad.append("index ids differ from stored ids")
    r = float(np.mean(s.recalls)) if s.recalls else 0.0
    if r < RECALL_FLOOR:
        bad.append(f"search recall@10 {r:.3f} below floor {RECALL_FLOOR}")
    return bad, {
        "index_build_s": s.index_build_s,
        "search_recall_at_10": round(r, 4),
        "docs_inserted": s.inserted,
        "docs_deleted": s.deleted_n,
        "live_docs": n,
    }
