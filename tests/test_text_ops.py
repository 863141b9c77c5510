"""Unit tests for text functions, dedup suite, embedding stub, LSH search,
and multimodal plumbing (Phase 4 north-star operators)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_db_spark.functions.embedding import embed_column
from vector_db_spark.functions.text import shingles, tokens, winnow_fingerprints
from vector_db_spark.io import load_table
from vector_db_spark.operators.dedup import (
    dedup_retain_best,
    exact_dedup,
    near_dup_pairs_minhash,
    shingle_table,
    winnow_candidate_pairs,
)
from vector_db_spark.operators.knn import knn_join
from vector_db_spark.operators.knn_graph import components_from_edges
from vector_db_spark.operators.multimodal import MEDIA_SCHEMA, decode_image_features
from vector_db_spark.operators.similarity import lsh_search


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# --- text functions -----------------------------------------------------------

def test_tokens_and_shingles(spark):
    df = _docs(spark, ["The quick  Brown fox", "a b", ""])
    rows = df.select(
        tokens("text").alias("t"), shingles(tokens("text"), 3).alias("s")
    ).collect()
    assert rows[0].t == ["the", "quick", "brown", "fox"]
    assert rows[0].s == ["the quick brown", "quick brown fox"]
    assert rows[1].s == []  # shorter than n → empty, not null


# --- dedup --------------------------------------------------------------------

def test_exact_dedup_survivors(spark):
    df = _docs(spark, ["a b c", "a  B c", "x y z", "a b c d e f"])
    out = exact_dedup(df).collect()
    # "a b c" and "a  B c" normalize identically → one survivor (min id)
    by_id = {r.doc_id: r for r in out}
    assert set(by_id) == {0, 2, 3}
    assert by_id[0].group_size == 2


def test_minhash_near_dup_finds_planted_pair(spark, force_large):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rng = np.random.default_rng(5)
    texts = [" ".join(rng.choice(words, 40)) for _ in range(20)]
    texts.append(texts[3] + " mu")      # planted near-dup of doc 3
    df = _docs(spark, texts)
    pairs = near_dup_pairs_minhash(df, threshold=0.5).collect()
    assert any({p.doc_a, p.doc_b} == {3, 20} for p in pairs), pairs
    for p in pairs:
        assert p.jaccard >= 0.5
    # candidate sets on the large branch route to shuffle verify joins
    # (same router as incremental_dedup) — identical pairs
    with force_large("dedup.pairs"):
        routed_df = near_dup_pairs_minhash(df, threshold=0.5)
    routed = routed_df.collect()
    assert sorted(map(tuple, routed)) == sorted(map(tuple, pairs))


def test_dedup_retain_best_transitive_chain(spark):
    """A~B and B~C near-dups with A≁C directly: connected components must
    collapse the whole chain to ONE survivor (the greedy pair cut would
    keep two), and the survivor is the highest-quality member."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    a = " ".join(base * 3)                      # doc 0
    b = " ".join(base * 3 + ["mu"])             # doc 1: ~a, ~c
    c = " ".join(base * 3 + ["mu", "nu"])       # doc 2: ~b
    other = " ".join(reversed([w + "x" for w in base * 4]))  # doc 3: unrelated
    df = _docs(spark, [a, b, c, other])
    out = {r.doc_id: r for r in dedup_retain_best(df, threshold=0.5).collect()}
    chain_survivors = [i for i in (0, 1, 2) if i in out]
    assert len(chain_survivors) == 1
    s = out[chain_survivors[0]]
    assert s.cluster_size == 3 and s.component == 0
    # survivor carries the cluster's max quality (doc 2 has the most
    # distinct tokens → highest diversity term)
    assert chain_survivors[0] == 2
    assert out[3].cluster_size == 1


def test_components_from_edges_min_label(spark):
    # self-loops make 5 and 99 singleton components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5), (99, 99)], "src long, dst long"
    )
    comp = {r.id: r.component for r in components_from_edges(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 10: 10, 11: 10, 99: 99}


def test_pack_sequences_contiguous_offsets(spark):
    """Within every shard the token stream is gapless (each doc starts
    where the previous ended), pack_id is the 256-token window holding the
    doc's first token, and shard assignment is hash-deterministic."""
    from vector_db_spark.operators.packing import pack_sequences

    texts = [" ".join(f"w{i}_{j}" for j in range(5 + (i * 7) % 90)) for i in range(60)]
    df = _docs(spark, texts)
    rows = pack_sequences(df, budget=256, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(4)) and len(rows) == 60
    for members in by_shard.values():
        members.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in members:
            assert r.start_offset == expect
            assert r.pack_id == r.start_offset // 256
            expect += r.n_tokens
    rows2 = pack_sequences(df, budget=256, n_shards=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_shingle_table_distinct(spark):
    df = _docs(spark, ["a b a b a b"])  # repeating shingles collapse
    sh = shingle_table(df, n=2).collect()
    assert sorted(r.shingle for r in sh) == ["a b", "b a"]


# --- embedding stub -----------------------------------------------------------

def test_winnow_guarantee_and_short_docs(spark):
    """Winnowing's detection guarantee: a shared substring of length
    ≥ w + k - 1 (= 11 normalized chars at k=8, w=4) must yield at least
    one shared fingerprint; docs shorter than that get an empty set."""
    common = "an identical stolen passage that is plenty long enough"
    df = _docs(
        spark,
        [
            f"AAA prefix one. {common} suffix alpha.",
            f"totally different opening here -- {common} -- other tail",
            "short",  # < k + w - 1 normalized chars
            "unrelated content with no overlap whatsoever in its body text",
        ],
    )
    fps = df.select("doc_id", winnow_fingerprints("text").alias("fps")).collect()
    by_id = {r.doc_id: set(r.fps) for r in fps}
    assert by_id[0] & by_id[1]  # shared passage → shared fingerprint
    assert by_id[2] == set()  # too short → empty, not an error
    # selection is a subset of ~2/(w+1) of the k-gram hashes, never all
    n_grams_3 = len("".join(c for c in "unrelated content with no overlap whatsoever in its body text" if c.isalnum())) - 8 + 1
    assert 0 < len(by_id[3]) < n_grams_3


def test_winnow_candidate_pairs_finds_planted_copy(spark):
    texts = [
        "the licensed boilerplate header text " + "every doc shares this exact plagiarized paragraph body",
        "a different intro sentence then " + "every doc shares this exact plagiarized paragraph body",
        "completely independent document about spark catalyst optimizer internals",
        "another unrelated one concerning parquet row groups and column chunks",
    ]
    pairs = winnow_candidate_pairs(
        _docs(spark, texts), min_shared=3, max_df=50
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (0, 1) in found
    assert all(p == (0, 1) for p in found)


def test_stub_embedder_deterministic_and_unit(spark):
    df = _docs(spark, ["hello world", "hello world", "other text"])
    out = embed_column(df, "text", dim=32).collect()
    v0, v1, v2 = (np.array(r.embedding) for r in out)
    assert np.allclose(v0, v1)          # same text → same vector
    assert not np.allclose(v0, v2)
    assert abs(np.linalg.norm(v0) - 1.0) < 1e-5


def _fake_torch(cuda: bool, mps: bool | None):
    """Minimal torch lookalike; mps=None models an old torch without the
    backends.mps attribute."""
    from types import SimpleNamespace

    backends = SimpleNamespace()
    if mps is not None:
        backends.mps = SimpleNamespace(is_available=lambda: mps)
    return SimpleNamespace(
        cuda=SimpleNamespace(is_available=lambda: cuda), backends=backends
    )


def test_get_device_resolution():
    """E4 (reference inference/device.py:17-56): preference → concrete
    device, per availability."""
    from vector_db_spark.functions.embedding import get_device

    both = _fake_torch(cuda=True, mps=True)
    neither = _fake_torch(cuda=False, mps=False)
    old = _fake_torch(cuda=False, mps=None)
    assert get_device("cpu", both) == "cpu"
    assert get_device("cuda", both) == "cuda"
    assert get_device("cuda", neither) == "cpu"
    assert get_device("mps", both) == "mps"
    assert get_device("mps", neither) == "cpu"
    assert get_device("mps", old) == "cpu"
    assert get_device("auto", both) == "cuda"          # cuda beats mps
    assert get_device("auto", _fake_torch(False, True)) == "mps"
    assert get_device("auto", neither) == "cpu"
    assert get_device("auto", old) == "cpu"
    # no torch importable at all → cpu (torch isn't in this environment)
    assert get_device("auto") == "cpu"


# --- LSH ANN ------------------------------------------------------------------

def test_lsh_search_recall(spark, sf_smoke):
    """Bucketed ANN achieves reasonable recall vs exact on fixtures."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).filter(F.col("query_id") < 10)
    exact = knn_join(queries, emb, 5)
    approx = lsh_search(queries, emb, 5)
    truth, got = {}, {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / 5 for q in truth]
    assert sum(recalls) / len(recalls) >= 0.4, recalls
    # self is always in its own bucket → rank-1 self-match
    for r in approx.collect():
        if r.rank == 1:
            assert r.neighbor_id == r.query_id


# --- multimodal plumbing ------------------------------------------------------

@pytest.fixture
def media(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes 1", (64, 64, None, None, "png")),
        (2, "image", b"\x89PNG fake bytes 2", (128, 128, None, None, "png")),
        (3, "audio", b"RIFF fake", (None, None, 16000, 2500, "wav")),
        (4, "video", b"\x00\x00ftyp fake", (640, 480, None, 3500, "mp4")),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_features_fake_decoder(spark, media):
    out = decode_image_features(media, decoder="fake").collect()
    assert {r.media_id for r in out} == {1, 2}  # only images
    assert all(len(r.features) == 16 for r in out)
    again = decode_image_features(media, decoder="fake").collect()
    assert sorted(map(tuple, ((r.media_id, tuple(r.features)) for r in out))) == sorted(
        map(tuple, ((r.media_id, tuple(r.features)) for r in again))
    )  # deterministic


def test_strict_decoder_raises(media):
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_image_features(media, decoder="strict")


def test_real_decoder_import_gated(media):
    """decoder='real' is the actual PIL wiring (scripts/real_model_run.py):
    without pillow it must raise the actionable NotImplementedError at
    PLAN time, not die inside an executor; with pillow installed this test
    is vacuous (the seam is then exercised by the opt-in script)."""
    try:
        import PIL  # noqa: F401

        pytest.skip("pillow installed — seam covered by real_model_run.py")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="pillow|PIL"):
        decode_image_features(media, decoder="real")
    # dim guard fires before the import gate
    with pytest.raises(ValueError, match="divide 256"):
        decode_image_features(media, decoder="real", dim=7)


# --- incremental (batch-vs-corpus) dedup --------------------------------------

def test_incremental_dedup_planted(spark):
    from vector_db_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated corpus document about spark plans"),
            (3, "another unrelated document mentioning shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog today"),  # exact
            (102, "the quick brown fox jumps over the lazy dog yesterday"),  # near
            (103, "a genuinely fresh document with brand new content"),  # new
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in incremental_dedup(corpus, incoming, threshold=0.5).collect()
    }
    assert got[101]["dup_exact_of"] == 1 and not got[101]["is_new"]
    assert got[102]["dup_exact_of"] is None
    assert got[102]["dup_near_of"] == 1 and got[102]["near_jaccard"] >= 0.5
    assert got[103]["is_new"]
    assert got[103]["dup_exact_of"] is None and got[103]["dup_near_of"] is None


def test_incremental_dedup_broadcasts_batch_side(spark, sf_smoke):
    """Corpus-side plan never hash-shuffles for the probe joins: the batch
    fingerprint and band tables ride the broadcast side."""
    from tests.test_plans import plan_of
    from vector_db_spark.io import load_table
    from vector_db_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_smoke, "documents")
    df = incremental_dedup(
        docs.filter(F.col("doc_id") % 5 != 0), docs.filter(F.col("doc_id") % 5 == 0)
    )
    assert plan_of(df).count("BroadcastHashJoin") >= 2


def test_incremental_dedup_routes_oversized_batch(spark, sf_smoke, force_large):
    """A batch on the large branch must NOT ride any broadcast hint
    (VERDICT r7 item 2 — the knn_join guard pattern): with the auto-
    broadcast estimator disabled, the routed plan is hint-free (pure
    shuffle joins), while the small-batch plan keeps its hinted
    broadcasts — and both routes return identical rows."""
    from tests.test_plans import plan_of
    from vector_db_spark.io import load_table
    from vector_db_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_smoke, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    with force_large("dedup.batch"):
        routed_df = incremental_dedup(corpus, batch)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # hint-stripped regime: every remaining BroadcastHashJoin is an
        # explicit F.broadcast — the routed plan must have none
        assert plan_of(routed_df).count("BroadcastHashJoin") == 0
        broad_df = incremental_dedup(corpus, batch)  # probe says small
        assert plan_of(broad_df).count("BroadcastHashJoin") >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    routed = sorted(map(tuple, routed_df.collect()), key=lambda t: t[0])
    broad = sorted(map(tuple, broad_df.collect()), key=lambda t: t[0])
    assert routed == broad and len(routed) > 0


def test_dedup_index_probe_matches_rederive_and_appends(spark, sf_smoke, tmp_path):
    """The persisted signature index (operators/dedup_index.py) must be
    result-identical to the re-deriving operator: (a) build→probe equals
    incremental_dedup on the same split; (b) build-on-half + append-half
    equals a build over the union (append is exact, not approximate);
    (c) a reopened-from-path handle (fresh object, params read back from
    params.json) probes identically — the S9/S10 reopen contract."""
    from vector_db_spark.io import load_table
    from vector_db_spark.operators.dedup import incremental_dedup
    from vector_db_spark.operators.dedup_index import DedupIndex

    docs = load_table(spark, sf_smoke, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    def key(df):
        return sorted(map(tuple, df.collect()), key=lambda t: t[0])

    want = key(incremental_dedup(corpus, batch, threshold=0.5))

    idx = DedupIndex.build(spark, corpus, str(tmp_path / "idx"))
    assert key(idx.probe(batch, threshold=0.5)) == want

    # incremental lifecycle: half the corpus at build, half appended
    idx2 = DedupIndex.build(
        spark, corpus.filter(F.col("doc_id") % 2 == 1), str(tmp_path / "idx2")
    )
    idx2.append(corpus.filter(F.col("doc_id") % 2 == 0))
    assert key(idx2.probe(batch, threshold=0.5)) == want

    # reopen from path: params.json drives the geometry, not the builder
    reopened = DedupIndex(spark, str(tmp_path / "idx"))
    assert (reopened.n, reopened.n_hashes, reopened.n_bands) == (3, 8, 4)
    assert key(reopened.probe(batch, threshold=0.5)) == want


def test_dedup_index_bucketed_layout_prunes_and_legacy_reopens(
    spark, sf_smoke, tmp_path, force_large
):
    """r9 bucketed layout (VERDICT r8 weak #1): (a) stores land as
    O(n_buckets) hash-clustered partition dirs; (b) the probe pushes
    ``__bucket IN (...)`` partition filters into the store scans (file-
    group pruning, visible in the executed plan); (c) an unbucketed
    index (``n_buckets=None``) and a pre-r9 params.json (no ``n_buckets``
    key at all) still reopen and probe identically — layout changes
    results never."""
    import json
    import os

    from vector_db_spark.operators.dedup import incremental_dedup
    from vector_db_spark.operators.dedup_index import DedupIndex

    docs = load_table(spark, sf_smoke, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    def key(df):
        return sorted(map(tuple, df.collect()), key=lambda t: t[0])

    want = key(incremental_dedup(corpus, batch, threshold=0.5))

    DedupIndex.build(spark, corpus, str(tmp_path / "idx"), n_buckets=16)
    for store in ("fingerprints", "bands", "shingles"):
        dirs = [
            d
            for d in os.listdir(str(tmp_path / "idx" / store))
            if d.startswith("__bucket=")
        ]
        assert 0 < len(dirs) <= 16, (store, dirs)
    # forcing the store-size gate prunes a fixture-sized store (the
    # 1 GiB gate would rightly skip it as overhead)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    with force_large("dedup_index.prune"):
        probe = idx.probe(batch, threshold=0.5)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [__bucket" in plan.replace(
        "PartitionFilters: [ __bucket", "PartitionFilters: [__bucket"
    ), "probe plan must carry __bucket partition filters on the store scans"
    assert key(probe) == want

    # unbucketed build: single flat store, identical probe results
    flat = DedupIndex.build(
        spark, corpus, str(tmp_path / "flat"), n_buckets=None
    )
    assert not any(
        d.startswith("__bucket=")
        for d in os.listdir(str(tmp_path / "flat" / "shingles"))
    )
    assert key(flat.probe(batch, threshold=0.5)) == want

    # pre-r9 params.json (no n_buckets key): reopen treats it as unbucketed
    pj = str(tmp_path / "flat" / "params.json")
    with open(pj) as f:
        params = json.load(f)
    del params["n_buckets"]
    with open(pj, "w") as f:
        json.dump(params, f)
    legacy = DedupIndex(spark, str(tmp_path / "flat"))
    assert legacy.n_buckets is None
    assert key(legacy.probe(batch, threshold=0.5)) == want


def test_lsh_bucket_kernel_matches_expression(spark, sf_correctness):
    """The Arrow-batched bucket kernel must emit the exact buckets the
    native-expression (oracle-mirrored) form defines."""
    from vector_db_spark.operators.similarity import hyperplane_lsh_buckets

    emb = spark.read.parquet(f"{sf_correctness}/embeddings.parquet")
    kern = {
        (r.vec_id, r.table_idx): r.bucket
        for r in hyperplane_lsh_buckets(emb, impl="kernel").collect()
    }
    expr = {
        (r.vec_id, r.table_idx): r.bucket
        for r in hyperplane_lsh_buckets(emb, impl="expr").collect()
    }
    assert kern == expr


# --- global row number / length bucketing -------------------------------------


def test_global_row_number_is_exact_and_distributed(spark):
    from vector_db_spark.operators.packing import global_row_number

    rows = [(i, (i * 37) % 101) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(11)
    got = {r["id"]: r["rowno"] for r in
           global_row_number(df, ["v", "id"], num_partitions=7).collect()}
    want_order = [i for i, _ in sorted(rows, key=lambda t: (t[1], t[0]))]
    assert [got[i] for i in want_order] == list(range(500))
    # layout invariance
    got2 = {r["id"]: r["rowno"] for r in
            global_row_number(df.repartition(3), ["v", "id"],
                              num_partitions=13).collect()}
    assert got == got2


def test_length_buckets_cut_padding_waste(spark, sf_smoke):
    from pyspark.sql import functions as F

    from vector_db_spark.io import load_table
    from vector_db_spark.operators.packing import length_bucketed_batches

    docs = load_table(spark, sf_smoke, "documents")
    man = length_bucketed_batches(docs, n_buckets=8).collect()
    assert sum(r["n_docs"] for r in man) == docs.count()
    total_waste = sum(r["padded_waste"] for r in man)
    # one global batch pads everything to the corpus max
    stats = docs.select(
        F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("n")
    ).agg(F.max("n").alias("mx"), F.sum("n").alias("s"), F.count("*").alias("c")
    ).collect()[0]
    global_waste = stats["mx"] * stats["c"] - stats["s"]
    assert total_waste < global_waste  # sorted batching strictly helps here
    # buckets are length-ordered: maxes non-decreasing by bucket id
    maxes = [r["max_tokens"] for r in sorted(man, key=lambda r: r["bucket"])]
    assert maxes == sorted(maxes)


# --- SimHash Hamming near-dup (pigeonhole banding) ---------------------------


def test_simhash_near_dup_finds_planted_pair_and_matches_brute_force(spark):
    import itertools

    from vector_db_spark.operators.dedup import simhash60, simhash_near_dup_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    docs = [(0, base), (1, base.replace("river", "ocean")),  # near-identical
            (2, "completely different content about spark shuffles and joins " * 4)]
    docs += [(10 + i, f"unrelated filler document number {i} with words {i * 17} " * 5)
             for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_dup_pairs(df, hamming_max=3, n_bands=4).collect()
    }
    sh = {r.doc_id: r.simhash for r in simhash60(df).collect()}
    want = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for a, b in itertools.combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    assert got == want  # pigeonhole blocking is COMPLETE, not approximate
    assert any(p[:2] == (0, 1) for p in got)  # the planted near-pair survives


def test_simhash_locality(spark):
    from vector_db_spark.operators.dedup import simhash60

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 10
    df = spark.createDataFrame(
        [(0, text), (1, text.replace("kappa", "lambda")),
         (2, "entirely other topic with distinct vocabulary everywhere " * 10)],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash for r in simhash60(df).collect()}
    near = bin(sh[0] ^ sh[1]).count("1")
    far = bin(sh[0] ^ sh[2]).count("1")
    assert near < far and near <= 10 and far > 10


def test_simhash_pigeonhole_guard(spark):
    import pytest as _pytest

    from vector_db_spark.operators.dedup import simhash_near_dup_pairs

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(df, hamming_max=4, n_bands=4)


def test_pmi_collocation_ranks_planted_pair_first(spark):
    """A pair that always co-occurs ('hong kong') must out-PMI pairs of
    independent frequent words; PMI value matches the closed form."""
    import math
    import os
    import tempfile

    from vector_db_spark.queries.text import (
        _PMI_MIN_PAIR,
        token_collocations_pmi,
    )

    docs = [(i, "hong kong " + ("the of and or " * 5).strip()) for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # run the registered function against a temp dir shaped like a fixture
    d = tempfile.mkdtemp()
    df.write.parquet(os.path.join(d, "documents.parquet"))
    out = token_collocations_pmi(spark, d).collect()
    assert out, "no collocations found"
    top = out[0]
    assert (top.w1, top.w2) == ("hong", "kong")
    # closed form: c(hong kong)=10, c(hong)=c(kong)=10, T1=220, T2=210
    want = round(math.log((10 / 210) / ((10 / 220) * (10 / 220))), 6)
    assert abs(top.pmi - want) < 1e-9
    assert all(r.n_pair >= _PMI_MIN_PAIR for r in out)


def test_quality_score_blank_text_is_zero(spark):
    """Splitting '' yields [''] (1 'token', diversity 1.0), which scored
    blank docs 0.505 — above common quality floors. Blank must be 0."""
    from vector_db_spark.functions.text import quality_score

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a real sentence with several words")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.q for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
    assert got[1] == 0.0 and got[2] == 0.0
    assert got[3] > 0.0
