"""serve_search: the read path. A seeded Gaussian-mixture corpus in a
NodeTable with an IVF and an IVF-PQ index; requests of 32 query vectors go
round-robin to exact k-NN, IVF, IVF-PQ and a metadata-filtered search."""

from __future__ import annotations

import os
from types import SimpleNamespace

import numpy as np
import pandas as pd

from common import Op, check_exact, exact_topk, group_hits, recall, true_dist
from datagen import DIM, mixture, near_queries, node_rows

SIZES = {
    "corpus_vectors": 5_000,
    "dim": DIM,
    "mixture_centres": 128,
    "ivf_k": 16,
    "ivfpq_k_coarse": 16,
    "n_probe": 2,
    "ivfpq_refine": 4,
    "queries_per_request": 32,
    "top_k": 10,
    "filter": "lang=de (~15%)",
}
# recall@10 floors, below which a run fails; the measured values are
# about 1.0 and 0.98 (README.md)
RECALL_FLOOR = {"ivf": 0.75, "ivfpq": 0.5}
SETUP_REPS = 2
MIN_CYCLES = 2
# the first cycle pays the cold start of every search path; later ones
# still get faster while the JVM compiles the planner's hot paths, but the
# compiler threads' CPU is left out of the CPU metrics
WARMUP_CYCLES = 1


def setup(spark, work: str, seed: int, rep: int) -> SimpleNamespace:
    from vector_db_spark.operators.ivf import IVFIndex
    from vector_db_spark.operators.ivfpq import IVFPQIndex
    from vector_db_spark.storage import NodeTable

    s = SimpleNamespace()
    s.spark, s.seed = spark, seed
    s.x = mixture(seed, SIZES["corpus_vectors"], centres=SIZES["mixture_centres"])
    rows = node_rows(seed + 1, s.x)
    s.ids = rows["id"].to_numpy()
    s.lang = np.array([m["lang"] for m in rows["metadata"]])
    base = os.path.join(work, f"serve-{rep}")
    df = spark.createDataFrame(
        rows, "id long, embedding array<float>, content string, metadata map<string,string>"
    ).repartition(spark.sparkContext.defaultParallelism)
    s.nodes = NodeTable(spark, os.path.join(base, "nodes"), dim=DIM)
    s.nodes.init(df)
    vecs = s.nodes.df().select("id", "embedding")
    s.ivf = IVFIndex.build(spark, vecs, SIZES["ivf_k"], os.path.join(base, "ivf"), id_col="id")
    s.ivfpq = IVFPQIndex.build(
        spark, vecs, os.path.join(base, "ivfpq"), k_coarse=SIZES["ivfpq_k_coarse"], id_col="id"
    )
    s.recalls = {"ivf": [], "ivfpq": []}
    s.n_req = 0
    return s


def _queries(s):
    s.n_req += 1
    q = near_queries(s.seed * 1_000_003 + s.n_req, s.x, SIZES["queries_per_request"])
    pdf = pd.DataFrame({"query_id": np.arange(q.shape[0], dtype=np.int64), "query_vec": list(q)})
    return q, pdf


def _qdf(s, pdf):
    return s.spark.createDataFrame(pdf, "query_id long, query_vec array<float>")


def cycle(s, i: int) -> list[Op]:
    from vector_db_spark.operators.knn import adaptive_filtered_knn, knn_join

    k, probe = SIZES["top_k"], SIZES["n_probe"]
    ops = []

    q, pdf = _queries(s)
    ops.append(Op("exact", lambda pdf=pdf: knn_join(
        _qdf(s, pdf), s.nodes.df().select("id", "embedding"), k, id_col="id", impl="batch"
    ).collect(), lambda rows, q=q: _check_exact(s, rows, q, None, "exact")))

    q, pdf = _queries(s)
    ops.append(Op("ivf", lambda pdf=pdf: s.ivf.search(_qdf(s, pdf), k, probe).collect(),
                  lambda rows, q=q: _check_ann(s, rows, q, "ivf")))

    q, pdf = _queries(s)
    ops.append(Op("ivfpq", lambda pdf=pdf: s.ivfpq.search(
        _qdf(s, pdf), k, probe, refine=SIZES["ivfpq_refine"]).collect(),
        lambda rows, q=q: _check_ann(s, rows, q, "ivfpq")))

    q, pdf = _queries(s)
    ops.append(Op("filtered", lambda pdf=pdf: adaptive_filtered_knn(
        _qdf(s, pdf), s.ivf, k,
        allowed_ids=s.nodes.filter_by_metadata({"lang": "de"}).select("id"),
    ).collect(), lambda rows, q=q: _check_exact(s, rows, q, "de", "filtered")))
    return ops


def _check_exact(s, rows, q, lang, label) -> list[str]:
    mask = slice(None) if lang is None else s.lang == lang
    gt_ids, gt_d = exact_topk(s.x[mask], s.ids[mask], q, SIZES["top_k"])
    return check_exact(group_hits(rows, "query_id", "neighbor_id", "dist"), gt_ids, gt_d, label)


def _check_ann(s, rows, q, label) -> list[str]:
    """ANN results: k rows per query, each distance the true distance of
    the returned id; recall is gated at the end of the run."""
    hits = group_hits(rows, "query_id", "neighbor_id", "dist")
    bad = []
    for qi in range(q.shape[0]):
        h = hits.get(qi, [])
        if len(h) != SIZES["top_k"]:
            bad.append(f"{label}: query {qi} returned {len(h)} rows")
        for d, nid in h:
            if abs(d - true_dist(s.x[nid], q[qi])) > 2e-6:
                bad.append(f"{label}: query {qi} id {nid} distance {d} is wrong")
                break
    gt_ids, _ = exact_topk(s.x, s.ids, q, SIZES["top_k"])
    s.recalls[label].append(recall(hits, gt_ids))
    return bad


def finish(s) -> tuple[list[str], dict]:
    bad, detail = [], {}
    for label, vals in s.recalls.items():
        r = float(np.mean(vals)) if vals else 0.0
        detail[f"{label}_recall_at_10"] = round(r, 4)
        if r < RECALL_FLOOR[label]:
            bad.append(f"{label} recall@10 {r:.3f} below floor {RECALL_FLOOR[label]}")
    return bad, detail
