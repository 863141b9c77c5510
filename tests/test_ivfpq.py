"""IVFPQ (IVFADC) tests — composition of the reference's IVF and PQ
components (reference test surfaces: tests/indexing/test_ivf.py:17-364,
tests/inference/test_pq.py:11-176): conservation, self-match, recall vs
brute force with exact re-rank, ADC-only path, persistence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.operators.ivfpq import IVFPQIndex
from vector_db_spark.operators.knn import knn_join

K_COARSE = 10


@pytest.fixture(scope="module")
def index(spark, sf_smoke, tmp_path_factory):
    emb = load_table(spark, sf_smoke, "embeddings")
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    # the fixture embeddings are near-random (PQ's hard case: no subspace
    # structure to exploit) so the codebook budget is sized up: 16 chunks
    # of 6-bit codes. Real embedding corpora cluster far better.
    return IVFPQIndex.build(
        spark, emb, path, k_coarse=K_COARSE, n_chunks=16, k_codes=64
    )


def _queries(spark, sf_smoke, n):
    emb = load_table(spark, sf_smoke, "embeddings")
    return emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < n)


def test_codes_conservation(spark, sf_smoke, index):
    """Every corpus vector gets exactly one code word; codes and raw corpus
    agree on the partitioning (reference invariant test_ivf.py:44)."""
    total = load_table(spark, sf_smoke, "embeddings").count()
    assert index.codes().count() == total
    assert index.corpus().count() == total
    code_parts = {r.cluster_id for r in index.codes().select("cluster_id").distinct().collect()}
    corpus_parts = {r.cluster_id for r in index.corpus().select("cluster_id").distinct().collect()}
    assert code_parts == corpus_parts
    assert len(code_parts) <= K_COARSE


def test_code_shape(index):
    """m codes per vector, each in [0, k_codes)."""
    row = index.codes().first()
    assert len(row.codes) == 16
    assert all(0 <= c < 64 for c in row.codes)


def test_self_match_reranked(spark, sf_smoke, index):
    """With exact re-rank, a member vector finds itself at distance ~0 even
    probing only its own cluster (reference test_ivf.py:117-125)."""
    res = index.search(_queries(spark, sf_smoke, 5), k=1, n_probe=1, refine=4).collect()
    assert len(res) == 5
    for r in res:
        assert r.query_id == r.neighbor_id
        assert r.dist < 1e-6


def test_recall_vs_bruteforce(spark, sf_smoke, index):
    """recall@5 ≥ 0.7 on ≥ 80% of 10 queries, probing half the clusters —
    the BASELINE.md floor (stricter of the reference's two ANN thresholds).
    Residual PQ + refine=8 exact re-rank is the quality mechanism."""
    qs = _queries(spark, sf_smoke, 10)
    exact = knn_join(qs, load_table(spark, sf_smoke, "embeddings"), 5)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = index.search(qs, k=5, n_probe=5, refine=8)
    got: dict[int, set] = {}
    for r in approx.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(
        1 for q in truth if len(truth[q] & got.get(q, set())) / len(truth[q]) >= 0.7
    )
    assert hits >= 8, f"only {hits}/10 queries reached recall 0.7"


def test_adc_only_path(spark, sf_smoke, index):
    """refine=None returns pure ADC distances — k rows per query, and the
    approximate self-match still ranks the query itself on top."""
    res = index.search(_queries(spark, sf_smoke, 5), k=3, n_probe=5, refine=None)
    rows = res.collect()
    assert len(rows) == 15
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    top1 = {q: min(rs, key=lambda r: (r.dist, r.neighbor_id)) for q, rs in by_q.items()}
    self_hits = sum(1 for q, r in top1.items() if r.neighbor_id == q)
    assert self_hits >= 4  # ADC is approximate; allow one quantization miss


@pytest.mark.parametrize("refine", [4, None])
def test_search_unhinted_probe_join_matches_default(
    spark, sf_smoke, index, force_large, refine
):
    """IVF-PQ search over the probe join's un-hinted large branch returns
    the default (broadcast-hinted) route's rows."""
    qs = _queries(spark, sf_smoke, 6)
    want = sorted(map(tuple, index.search(qs, k=5, n_probe=3, refine=refine).collect()))
    with force_large("ivf.probe"):
        got = index.search(qs, k=5, n_probe=3, refine=refine)
    assert sorted(map(tuple, got.collect())) == want and len(want) == 30


def test_persistence_reopen(spark, sf_smoke, index):
    """Index state is plain Parquet — a new handle on the same path serves
    searches (reference pickle round-trip, ivf.py:217-241)."""
    reopened = IVFPQIndex(spark, index.path)
    res = reopened.search(_queries(spark, sf_smoke, 3), k=1, n_probe=1).collect()
    assert len(res) == 3


def test_add_then_delete_lifecycle(spark, sf_smoke, tmp_path):
    """add appends to BOTH tables (corpus + codes) and the new vectors are
    immediately searchable; delete removes them from both, partition-
    targeted (IVF's lifecycle contract, extended to the compressed side)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFPQIndex.build(
        spark, emb, str(tmp_path / "idx"), k_coarse=4, n_chunks=8, k_codes=16
    )
    n0 = idx.codes().count()
    new = emb.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    idx.add(new)
    assert idx.codes().count() == n0 + 2
    assert idx.corpus().count() == n0 + 2
    q = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ids = {r.neighbor_id for r in idx.search(q, k=2, n_probe=1, refine=4).collect()}
    assert ids == {0, 1_000_000}  # both zero-distance copies, id tie-break
    idx.delete([1_000_000, 1_000_001])
    assert idx.codes().count() == n0
    assert idx.corpus().count() == n0
    ids2 = {r.neighbor_id for r in idx.search(q, k=2, n_probe=1, refine=4).collect()}
    assert all(i < 1_000_000 for i in ids2)


def test_delete_pair_atomicity_precommit_crash(spark, sf_smoke, tmp_path):
    """Crash window BETWEEN the two plan writes (codes plan durable, corpus
    plan not): the pair never committed — recover() must DISCARD both
    stagings (including the planned codes tmp), leaving both tables on the
    old side of the delete. A recover that replayed the codes plan alone
    would leave ids searchable in corpus but absent from codes — the
    permanent inconsistency the r6 ADVICE flagged."""
    from vector_db_spark.operators.staging import write_swap_plan
    from vector_db_spark.io import write_clustered
    import os

    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFPQIndex.build(
        spark, emb, str(tmp_path / "idx"), k_coarse=4, n_chunks=8, k_codes=16
    )
    n0 = idx.codes().count()
    victim = [int(idx.codes().first().vec_id)]
    clusters = [
        r.cluster_id
        for r in idx.codes()
        .filter(F.col("vec_id").isin(victim))
        .select("cluster_id")
        .distinct()
        .collect()
    ]
    # reproduce delete()'s staging exactly, then "crash" before the corpus
    # plan (the pair commit point) is written
    for sub, df in (("corpus", idx.corpus()), ("codes", idx.codes())):
        table = os.path.join(idx.path, sub)
        remaining = df.filter(
            F.col("cluster_id").isin(clusters) & ~F.col("vec_id").isin(victim)
        )
        write_clustered(remaining, table.rstrip("/") + ".tmp-delete")
    write_swap_plan(
        spark, os.path.join(idx.path, "codes").rstrip("/") + ".tmp-delete",
        clusters, [],
    )
    got = idx.recover()
    assert got.get("codes.tmp-delete") == "discarded"
    # both tables untouched: the victim survives in BOTH
    assert idx.codes().filter(F.col("vec_id").isin(victim)).count() == 1
    assert idx.corpus().filter(F.col("vec_id").isin(victim)).count() == 1
    assert idx.codes().count() == n0 and idx.corpus().count() == n0
    # tmp dirs gone — read path is clean
    assert not os.path.exists(os.path.join(idx.path, "codes.tmp-delete"))
    assert not os.path.exists(os.path.join(idx.path, "corpus.tmp-delete"))


def test_delete_pair_atomicity_postcommit_crash(spark, sf_smoke, tmp_path):
    """Crash AFTER both plans are written but before either swap executes:
    the pair committed — recover() must drive BOTH tables forward to the
    deleted state."""
    from vector_db_spark.operators.staging import write_swap_plan
    from vector_db_spark.io import write_clustered
    import os

    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFPQIndex.build(
        spark, emb, str(tmp_path / "idx"), k_coarse=4, n_chunks=8, k_codes=16
    )
    n0 = idx.codes().count()
    victim = [int(idx.codes().first().vec_id)]
    clusters = [
        r.cluster_id
        for r in idx.codes()
        .filter(F.col("vec_id").isin(victim))
        .select("cluster_id")
        .distinct()
        .collect()
    ]
    for sub, df in (("corpus", idx.corpus()), ("codes", idx.codes())):
        table = os.path.join(idx.path, sub)
        remaining = df.filter(
            F.col("cluster_id").isin(clusters) & ~F.col("vec_id").isin(victim)
        )
        tmp = table.rstrip("/") + ".tmp-delete"
        write_clustered(remaining, tmp)
        write_swap_plan(spark, tmp, clusters, [])
    got = idx.recover()
    assert got.get("codes.tmp-delete") == "completed"
    assert got.get("corpus.tmp-delete") == "completed"
    assert idx.codes().filter(F.col("vec_id").isin(victim)).count() == 0
    assert idx.corpus().filter(F.col("vec_id").isin(victim)).count() == 0
    assert idx.codes().count() == n0 - 1 and idx.corpus().count() == n0 - 1


def test_recover_completes_legacy_mid_execution_codes_swap(spark, sf_smoke, tmp_path):
    """A codes staging dir WITH a plan that already holds old-cluster_id=
    dirs was mid-execution under the legacy per-table protocol (its corpus
    half had fully swapped) — those dirs are the only copies of retired
    live data. recover() must complete that swap FORWARD; force-deleting
    it would permanently lose codes clusters the corpus still has."""
    import os

    from vector_db_spark.operators.staging import write_swap_plan
    from vector_db_spark.io import write_clustered

    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFPQIndex.build(
        spark, emb, str(tmp_path / "idx"), k_coarse=4, n_chunks=8, k_codes=16
    )
    n0 = idx.codes().count()
    victim = [int(idx.codes().first().vec_id)]
    clusters = [
        r.cluster_id
        for r in idx.codes()
        .filter(F.col("vec_id").isin(victim))
        .select("cluster_id")
        .distinct()
        .collect()
    ]
    codes_table = os.path.join(idx.path, "codes")
    tmp = codes_table.rstrip("/") + ".tmp-delete"
    remaining = idx.codes().filter(
        F.col("cluster_id").isin(clusters) & ~F.col("vec_id").isin(victim)
    )
    write_clustered(remaining, tmp)
    write_swap_plan(spark, tmp, clusters, [])
    # simulate execute_swap's first rename: live dir moved INTO staging
    c = clusters[0]
    os.rename(
        os.path.join(codes_table, f"cluster_id={c}"),
        os.path.join(tmp, f"old-cluster_id={c}"),
    )
    got = idx.recover()
    assert got.get("codes.tmp-delete") == "completed"
    assert idx.codes().filter(F.col("vec_id").isin(victim)).count() == 0
    assert idx.codes().count() == n0 - 1
    assert not os.path.exists(tmp)


def test_recover_completes_legacy_committed_unexecuted_codes_swap(
    spark, sf_smoke, tmp_path
):
    """Legacy per-table state with the plan written but execution NOT yet
    started (no old-cluster_id= dirs) and no corpus staging dir (legacy's
    corpus half had fully swapped and reclaimed its tmp): the codes plan
    is committed legacy work — recover() must drive it forward, not
    classify it as pre-commit pair staging and delete it (which would
    leave deleted ids searchable in codes forever)."""
    import os

    from vector_db_spark.operators.staging import write_swap_plan
    from vector_db_spark.io import write_clustered

    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFPQIndex.build(
        spark, emb, str(tmp_path / "idx"), k_coarse=4, n_chunks=8, k_codes=16
    )
    n0 = idx.codes().count()
    victim = [int(idx.codes().first().vec_id)]
    clusters = [
        r.cluster_id
        for r in idx.codes()
        .filter(F.col("vec_id").isin(victim))
        .select("cluster_id")
        .distinct()
        .collect()
    ]
    codes_table = os.path.join(idx.path, "codes")
    tmp = codes_table.rstrip("/") + ".tmp-delete"
    remaining = idx.codes().filter(
        F.col("cluster_id").isin(clusters) & ~F.col("vec_id").isin(victim)
    )
    write_clustered(remaining, tmp)
    write_swap_plan(spark, tmp, clusters, [])
    # no corpus tmp, no old- dirs: the committed-but-unexecuted legacy state
    got = idx.recover()
    assert got.get("codes.tmp-delete") == "completed"
    assert idx.codes().filter(F.col("vec_id").isin(victim)).count() == 0
    assert idx.codes().count() == n0 - 1
    assert not os.path.exists(tmp)


def test_add_encodes_like_build(spark, sf_smoke, tmp_path):
    """build encodes from the in-memory model and add from the persisted
    tables: a copy added under a new id must land in its original's
    cluster with its original's codes."""
    emb = load_table(spark, sf_smoke, "embeddings")
    idx = IVFPQIndex.build(
        spark, emb, str(tmp_path / "idx"), k_coarse=4, n_chunks=8, k_codes=16
    )
    offset = 1_000_000
    idx.add(
        emb.filter(F.col("vec_id") < 20).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding"
        )
    )
    rows = idx.codes().collect()
    by_id = {r.vec_id: (r.cluster_id, list(r.codes)) for r in rows}
    copies = {i - offset: v for i, v in by_id.items() if i >= offset}
    assert sorted(copies) == list(range(20))
    for orig, got in copies.items():
        assert got == by_id[orig], orig
