"""Exact k-NN search as a similarity join.

Reference behavior: a query is embedded, optionally metadata-filtered, then
matched against every candidate with an exact distance and sorted
(brute-force inner loops at ``/root/reference/src/vector_db/indexing/
ivf.py:174-198``; one-query-per-HTTP-call at ``api/app.py:165-233``). Here a
*table* of queries joins a *table* of corpus vectors — the batch/similarity-
join form (SURVEY.md §2.3 V2/V15).

Two physical strategies, same results:

- ``impl="sql"``: broadcast the (small) query side, cross-join the corpus,
  native-SQL distance, windowed top-k. Entirely JVM-side; the plan is
  BroadcastNestedLoopJoin → WholeStageCodegen distance → shuffle of
  (n_queries x corpus) rows for the per-query window. Exact and
  oracle-checkable, but the window shuffle carries every scored pair.
- ``impl="batch"``: the 100 TB path. Queries are broadcast to executors as a
  numpy matrix; a ``mapInPandas`` kernel scores each corpus Arrow batch
  against all queries vectorized (BLAS) and emits only the per-batch top-k
  per query, so the shuffle carries at most ``k * n_queries * n_batches``
  rows into the final exact top-k — a map-side partial top-k, the same idea
  as Spark's TakeOrderedAndProject but per query group. Given an IVF probe
  plan (``IVFIndex.search``), the same kernel scores each cluster's rows
  against only the queries that probe that cluster.

Both return the k-NN result contract of ``operators/topk.py``: queries in
as ``(query_id, query_vec)``, ``(query_id, neighbor_id, dist, rank)`` out,
``dist`` rounded to ``topk.DECIMALS`` and ties broken by neighbor id, so the
result set is deterministic and engine-independent. The query side of every
vector search is bounded by the one ``_MAX_BATCH_QUERIES`` and read by the
one :func:`_fetch_queries`.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_db_spark import route
from vector_db_spark.functions.distance import METRICS
from vector_db_spark.operators.topk import DECIMALS, nearest_k

_BATCH_SCHEMA = "query_id long, neighbor_id long, dist double"
_RESULT_SCHEMA = _BATCH_SCHEMA + ", rank int"
# past this many query rows a search's query side is neither collected nor
# broadcast-hinted: the one bound of every vector search's query side
_MAX_BATCH_QUERIES = 10_000
# filtered search brute-forces the survivors up to this many allowed ids
_EXACT_MAX_ALLOWED = 100_000


def _numpy_distances(metric: str, corpus: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """(n_corpus, n_queries) distance matrix in float64.

    Euclidean uses the explicit difference form (not the ``a^2+b^2-2ab``
    expansion) so values agree with the sequential-fold SQL expression to
    well under the output rounding.
    """
    if metric in ("euclidean", "sqeuclidean"):
        # chunk queries to bound the (n, q, d) intermediate
        out = np.empty((corpus.shape[0], queries.shape[0]), dtype=np.float64)
        step = max(1, int(4e7 // (corpus.shape[0] * corpus.shape[1] + 1)))
        for s in range(0, queries.shape[0], step):
            diff = corpus[:, None, :] - queries[None, s : s + step, :]
            out[:, s : s + step] = np.einsum("nqd,nqd->nq", diff, diff)
        return out if metric == "sqeuclidean" else np.sqrt(out)
    if metric == "cosine":
        cn = np.linalg.norm(corpus, axis=1, keepdims=True)
        qn = np.linalg.norm(queries, axis=1, keepdims=True)
        return 1.0 - (corpus @ queries.T) / (cn * qn.T)
    if metric == "dot":
        return -(corpus @ queries.T)
    raise ValueError(f"unknown metric {metric!r}")


def _fetch_queries(queries: DataFrame, site: str) -> tuple[np.ndarray, np.ndarray] | None:
    """The query side as ``(qids, qmat)``, int64 ids and a float64
    (q, dim) matrix, when it has at most ``_MAX_BATCH_QUERIES`` rows, else
    None. One bounded fetch (route site ``site``) is both the size probe
    and the read of the queries."""
    table = route.fetch(queries.select("query_id", "query_vec"), _MAX_BATCH_QUERIES, site)
    if table is None:
        return None
    return (
        table.column("query_id").to_numpy().astype(np.int64),
        np.array(table.column("query_vec").to_pylist(), dtype=np.float64),
    )


def _no_hits(spark) -> DataFrame:
    """The k-NN result of an empty query side."""
    return spark.createDataFrame([], _RESULT_SCHEMA)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "batch",
) -> DataFrame:
    """Exact k nearest corpus rows per query row, as the k-NN result
    contract (``operators/topk.py``). The corpus side is never collected
    and may be arbitrarily large. The query side is size-routed
    (``vector_db_spark.route``, site ``knn.queries``): past
    ``_MAX_BATCH_QUERIES`` rows either impl runs the distributed join
    WITHOUT a broadcast hint (Catalyst/AQE pick the strategy).
    """
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; choose from {sorted(METRICS)}")
    if impl not in ("batch", "sql"):
        raise ValueError(f"unknown impl {impl!r}")
    # the batch path needs the rows anyway, so its probe is the fetch; the
    # sql path only counts ids instead of shipping vectors it would discard
    if impl == "batch":
        q = _fetch_queries(queries, "knn.queries")
        if q is not None:
            if not len(q[0]):
                return _no_hits(corpus.sparkSession)
            scored = _batch_score(*q, corpus, k, metric=metric, id_col=id_col, vec_col=vec_col)
            return nearest_k(scored, k)
        small = False  # query side too big to collect: stay distributed
    else:
        small = route.fits(queries.select("query_id"), _MAX_BATCH_QUERIES, "knn.queries")
    qside = queries.select("query_id", "query_vec")
    if small:
        qside = F.broadcast(qside)
    scored = corpus.crossJoin(qside).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        METRICS[metric](F.col("query_vec"), F.col(vec_col)).alias("dist"),
    )
    return nearest_k(scored, k)


def _partial_topk(dists: np.ndarray, cids: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-query top-k within one batch under the FINAL ordering
    (dist rounded to ``topk.DECIMALS``, neighbor id) — ``(idx (k, q),
    rounded dists (n, q))``.

    Rounding must happen *before* selection: an unrounded argpartition can
    cut a candidate that ties at the boundary after rounding yet wins the
    id tiebreak globally, making the result depend on partition layout.
    lexsort keys are (secondary=id, primary=dist) per numpy convention."""
    dists = np.round(dists, DECIMALS)
    n, nq = dists.shape
    kk = min(k, n)
    # vectorized O(n) cut across ALL queries at once; per-query work below
    # touches only the kk-row cut (plus, rarely, boundary ties)
    part = np.argpartition(dists, kk - 1, axis=0)[:kk]  # (kk, q), ties arbitrary
    thresh = np.take_along_axis(dists, part, axis=0).max(axis=0)  # (q,)
    n_le = (dists <= thresh[None, :]).sum(axis=0)  # candidates per query
    idx = np.empty((kk, nq), dtype=np.int64)
    for q in range(nq):
        if n_le[q] == kk:
            cand = part[:, q]  # the cut IS the exact candidate set
        else:
            # distance ties straddle the cut boundary: widen to every tie so
            # an id-tiebreak winner below the cut is never dropped
            cand = np.flatnonzero(dists[:, q] <= thresh[q])
        order = np.lexsort((cids[cand], dists[cand, q]))[:kk]
        idx[:, q] = cand[order]
    return idx, dists


def _topk_frame(qids: np.ndarray, cids: np.ndarray, dists: np.ndarray, k: int) -> pd.DataFrame:
    """The (query_id, neighbor_id, dist) rows of each query's
    :func:`_partial_topk` over one batch's (n, q) ``dists``."""
    idx, dists = _partial_topk(dists, cids, k)
    return pd.DataFrame(
        {
            "query_id": np.repeat(qids[None, :], idx.shape[0], axis=0).ravel(),
            "neighbor_id": cids[idx].ravel(),
            "dist": np.take_along_axis(dists, idx, axis=0).ravel(),
        }
    )


def _probe_plan(probes: np.ndarray) -> dict[int, np.ndarray]:
    """An IVF probe plan: cluster id → the ascending row numbers of the
    queries that probe it, from a (q, n_probe) array of probed clusters."""
    q, n = probes.shape
    flat = probes.ravel()
    order = np.argsort(flat, kind="stable")
    clusters, starts = np.unique(flat[order], return_index=True)
    rows = np.repeat(np.arange(q), n)[order]
    return dict(zip(clusters.tolist(), np.split(rows, starts[1:])))


def _batch_score(
    qids: np.ndarray,
    qmat: np.ndarray,
    corpus: DataFrame,
    k: int,
    *,
    metric: str,
    id_col: str,
    vec_col: str,
    probes: np.ndarray | None = None,
) -> DataFrame:
    """Map-side scored + partially-top-k'd (query, neighbor, dist) triples
    of the already-fetched query side (:func:`_fetch_queries`).

    ``probes`` is an IVF probe plan: a (q, n_probe) array whose row i holds
    the clusters query i probes. ``corpus`` then carries ``cluster_id``,
    and each batch scores a cluster's rows only against the queries that
    probe that cluster (rows of unprobed clusters score against none)."""
    plan = None if probes is None else _probe_plan(probes)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qmat, plan))
    cols = [id_col, vec_col] + ([] if plan is None else ["cluster_id"])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, plan = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cvecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            if plan is None:
                groups = [(slice(None), slice(None))]
            else:
                cl = pdf["cluster_id"].to_numpy()
                groups = [(cl == c, plan[c]) for c in np.unique(cl) if c in plan]
            for rows, qs in groups:
                dists = _numpy_distances(metric, cvecs[rows], mat[qs])  # (n, q)
                yield _topk_frame(ids[qs], cids[rows], dists, k)

    return corpus.select(*cols).mapInPandas(score, _BATCH_SCHEMA)


def knn_self(
    corpus: DataFrame,
    k: int = 5,
    *,
    n_queries: int = 20,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "batch",
) -> DataFrame:
    """k-NN of the first ``n_queries`` corpus vectors (by id) against the
    whole corpus — the flagship self-join query (SURVEY.md §7 Phase 0)."""
    queries = (
        corpus.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"))
        .filter(F.col("query_id") < n_queries)
    )
    return knn_join(
        queries, corpus, k, metric=metric, id_col=id_col, vec_col=vec_col, impl=impl
    )


def adaptive_filtered_knn(
    queries: DataFrame,
    index,
    k: int = 5,
    *,
    allowed_ids: DataFrame,
    n_probe: int = 10,
) -> DataFrame:
    """Selectivity-adaptive filtered search — the pre-filter/post-filter
    planning decision every production vector store makes, as a library
    function over an :class:`~vector_db_spark.operators.ivf.IVFIndex`.

    A filtered ANN search has two regimes:

    - **selective filter** (few matching ids): probe-pruned IVF search is
      WRONG here, not just slow — the k true neighbors among the survivors
      may all live outside the probed clusters, so recall collapses as
      selectivity rises. Brute-force over the surviving rows is both exact
      and cheap (the survivor set is small).
    - **broad filter**: brute force re-scores nearly the whole corpus;
      probe-pruned IVF with the filter as a pre-join
      (``IVFIndex.search(allowed_ids=...)``) keeps the scan sublinear at
      ANN-grade recall.

    The regime is picked by a bounded probe of the survivors (route site
    ``knn.filtered_exact``): at most ``_EXACT_MAX_ALLOWED + 1`` ids are
    counted, never the whole filter. ``_EXACT_MAX_ALLOWED`` is
    per-cluster-budget shaped: survivors within it cost one bounded
    batch-kernel pass. Both branches return the k-NN result contract, so
    the choice never changes *what* is returned for the selective regime,
    only how.
    """
    if route.fits(allowed_ids, _EXACT_MAX_ALLOWED, "knn.filtered_exact"):
        corpus = index.corpus().join(F.broadcast(allowed_ids), index.id_col, "left_semi")
        return knn_join(queries, corpus, k, id_col=index.id_col, vec_col=index.vec_col)
    return index.search(queries, k, n_probe, allowed_ids=allowed_ids)
