"""Persisted inverted index (operators/inverted.py): BM25 parity with the
corpus-scan scorer, partition-pruned posting reads, stats exactness."""

from __future__ import annotations

from vector_db_spark.io import load_table
from vector_db_spark.operators.hybrid import bm25_topk
from vector_db_spark.operators.inverted import InvertedIndex

TERMS = ["hash", "vector", "stream"]


def _index(spark, sf_smoke, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("inv"))
    docs = load_table(spark, sf_smoke, "documents")
    return InvertedIndex.build(spark, docs, path, n_buckets=16), docs, path


def test_bm25_parity_with_corpus_scan(spark, sf_smoke, tmp_path_factory):
    idx, docs, _ = _index(spark, sf_smoke, tmp_path_factory)
    via_index = idx.bm25_search(TERMS, k=20)
    via_scan = bm25_topk(docs, TERMS, k=20)
    a = [(r.doc_id, r.bm25, r.kw_rank) for r in via_index.orderBy("kw_rank").collect()]
    b = [(r.doc_id, r.bm25, r.kw_rank) for r in via_scan.orderBy("kw_rank").collect()]
    assert a == b and len(a) > 0


def test_query_reads_only_probed_buckets(spark, sf_smoke, tmp_path_factory):
    import re

    idx, _, path = _index(spark, sf_smoke, tmp_path_factory)
    post = idx.postings_for(TERMS)
    plan = post._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    # planning-time partition pruning: the scan carries a bucket IN
    # predicate over exactly the probed buckets, plus a pushed tok filter
    assert m and "bucket" in m.group(1) and " IN " in m.group(1), plan[:500]
    probed = sorted(set(idx._term_buckets(TERMS)))
    assert all(str(b) in m.group(1) for b in probed)
    assert "PushedFilters: [In(tok" in plan
    # and the pruned read still finds every term's postings
    toks = {r.tok for r in post.select("tok").distinct().collect()}
    assert toks == set(TERMS)


def test_reopen_from_path(spark, sf_smoke, tmp_path_factory):
    idx, docs, path = _index(spark, sf_smoke, tmp_path_factory)
    cold = InvertedIndex(spark, path)
    assert (cold.n_docs, cold.avgdl) == (idx.n_docs, idx.avgdl)
    a = [(r.doc_id, r.bm25) for r in cold.bm25_search(TERMS, k=5).collect()]
    b = [(r.doc_id, r.bm25) for r in idx.bm25_search(TERMS, k=5).collect()]
    assert a == b


def test_absent_term_scores_zero_and_drops(spark, sf_smoke, tmp_path_factory):
    idx, docs, _ = _index(spark, sf_smoke, tmp_path_factory)
    got = idx.bm25_search(["zzzznope"], k=10)
    assert got.count() == 0
    # mixed: absent term contributes nothing, present terms still rank
    mixed = idx.bm25_search(["zzzznope", "hash"], k=10)
    only = idx.bm25_search(["hash"], k=10)
    assert [(r.doc_id, r.kw_rank) for r in mixed.collect()] == [
        (r.doc_id, r.kw_rank) for r in only.collect()
    ]
