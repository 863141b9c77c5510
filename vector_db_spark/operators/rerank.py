"""Result re-ranking: maximal marginal relevance (MMR) diversification.

North-star extension (the reference returns a plain nearest-first list,
``/root/reference/src/vector_db/api/app.py:165-233``; every RAG retriever
layered on it wants the diversified variant): greedily re-order a bounded
candidate set so each pick balances relevance to the query against
redundancy with what is already picked —

    MMR(d) = λ·rel(d, q) − (1−λ)·max_{s∈S} sim(d, s)

Scale posture: MMR is inherently sequential *within* a query (each pick
changes the next argmax) but embarrassingly parallel *across* queries —
so it runs as ``applyInPandas`` keyed by query over the FIRST-PASS
candidate set, never the corpus. Group size is the candidate count
(k·refine from an ANN first pass — bounded by construction), so the
per-task kernel is O(n_cand² · dim) on tens of rows. The corpus-scale
work stays in the first-pass index scan; this operator only ever touches
(n_queries × n_cand) rows.

Determinism: scores are rounded before every argmax and ties break on
ascending neighbor id, so the selection is engine- and layout-independent
(same discipline as operators.knn).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from vector_db_spark.operators.topk import DECIMALS

_OUT_SCHEMA = (
    "query_id long, neighbor_id long, mmr_rank int, mmr_score double, rel double"
)


def _mmr_pick(
    rel: np.ndarray, sims: np.ndarray, ids: np.ndarray, k: int, lam: float
) -> list[int]:
    """Greedy MMR over one candidate group. ``sims`` is the candidate×
    candidate cosine matrix; returns selected row indices in pick order."""
    n = len(rel)
    k = min(k, n)
    picked: list[int] = []
    red = np.zeros(n)  # max sim to the selected set; 0 while S is empty
    avail = np.ones(n, dtype=bool)
    for _ in range(k):
        score = np.round(lam * rel - (1.0 - lam) * red, 9)
        score[~avail] = -np.inf
        # tie-break on ascending neighbor id among max-score availables
        best = np.flatnonzero(score == score.max())
        j = best[np.argmin(ids[best])]
        picked.append(int(j))
        avail[j] = False
        red = np.maximum(red, np.round(sims[:, j], 9))
    return picked


def mmr_rerank(candidates: DataFrame, k: int = 10, *, lam: float = 0.5) -> DataFrame:
    """Diversified top-``k`` per query from a bounded candidate set.

    ``candidates`` columns: (query_id, neighbor_id, rel — higher is more
    relevant, embedding — the candidate's vector). Returns ``(query_id,
    neighbor_id, mmr_rank, mmr_score, rel)`` with ``mmr_rank`` in pick
    order (1-based) and scores rounded to ``topk.DECIMALS``.
    Candidate-candidate similarity is cosine over ``embedding``.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(
                columns=["query_id", "neighbor_id", "mmr_rank", "mmr_score", "rel"]
            )
        pdf = pdf.sort_values("neighbor_id", kind="mergesort")
        V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        U = V / norms
        sims = U @ U.T
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        order = _mmr_pick(rel, sims, ids, k, lam)
        red = np.zeros(len(rel))
        rows = []
        for rank, j in enumerate(order, start=1):
            score = round(lam * rel[j] - (1.0 - lam) * red[j], DECIMALS)
            rows.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    int(ids[j]),
                    rank,
                    score,
                    round(float(rel[j]), DECIMALS),
                )
            )
            red = np.maximum(red, np.round(sims[:, j], 9))
        return pd.DataFrame(
            rows, columns=["query_id", "neighbor_id", "mmr_rank", "mmr_score", "rel"]
        )

    return (
        candidates.select("query_id", "neighbor_id", "rel", "embedding")
        .groupBy("query_id")
        .applyInPandas(kernel, _OUT_SCHEMA)
    )
