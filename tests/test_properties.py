"""Property-based tests (hypothesis): engine operators vs plain-Python
reference implementations on randomized inputs. Example counts are kept
small — every example runs real Spark jobs."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from vector_db_spark.functions.distance import euclidean
from vector_db_spark.operators.asof import as_of_join
from vector_db_spark.operators.dedup import exact_dedup
from vector_db_spark.operators.topk import top_k_per_group

SETTINGS = dict(max_examples=5, deadline=None)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from vector_db_spark.session import get_spark

        _spark = get_spark("props", cpus=8)
    return _spark


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000), st.integers(0, 10**6)),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(1, 5),
)
def test_topk_matches_python(rows, k):
    spark = _get_spark()
    # unique tiebreaker per row
    data = [(g, v, i) for i, (g, v, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, v long, uid long")
    got = {
        (r.g, r.uid): r.rank
        for r in top_k_per_group(df, ["g"], [F.col("v").asc(), F.col("uid").asc()], k).collect()
    }
    expect = {}
    by_g: dict[int, list] = {}
    for g, v, uid in data:
        by_g.setdefault(g, []).append((v, uid))
    for g, items in by_g.items():
        for rank, (v, uid) in enumerate(sorted(items)[:k], 1):
            expect[(g, uid)] = rank
    assert got == expect


@settings(**SETTINGS)
@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 1000)), min_size=1, max_size=30),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 1000)), min_size=0, max_size=30),
)
def test_asof_matches_merge_asof(left, right):
    spark = _get_spark()
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # unique right times per key → tie-free, merge_asof semantics well-defined
    rseen = set()
    rrows = []
    for kk, t in right:
        if (kk, t) not in rseen:
            rseen.add((kk, t))
            rrows.append((kk, base + dt.timedelta(minutes=t), float(t)))
    lrows = [
        (kk, base + dt.timedelta(minutes=t), i) for i, (kk, t) in enumerate(left)
    ]
    ldf = spark.createDataFrame(lrows, "k long, t timestamp, uid long")
    rdf = spark.createDataFrame(
        rrows or [(99, base, 0.0)], "k long, rt timestamp, val double"
    )
    got = {
        r.uid: (r.asof_time, r.asof_val)
        for r in as_of_join(
            ldf, rdf, on="k", left_time="t", right_time="rt", value_cols=["val"]
        ).collect()
    }
    lp = pd.DataFrame(lrows, columns=["k", "t", "uid"]).sort_values("t")
    rp = pd.DataFrame(rrows or [(99, base, 0.0)], columns=["k", "rt", "val"]).sort_values("rt")
    m = pd.merge_asof(lp, rp, left_on="t", right_on="rt", by="k", direction="backward")
    for _, row in m.iterrows():
        at, av = got[row.uid]
        if pd.isna(row.rt):
            assert at is None and av is None
        else:
            assert at == row.rt.to_pydatetime() and av == row.val


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=25
    )
)
def test_exact_dedup_partitions_by_normalized_text(texts):
    spark = _get_spark()
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = exact_dedup(df).collect()
    norm = lambda t: " ".join(t.lower().split())
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(norm(t), []).append(i)
    assert {r.doc_id for r in out} == {min(v) for v in groups.values()}
    sizes = {norm(texts[r.doc_id]): r.group_size for r in out}
    assert sizes == {kk: len(v) for kk, v in groups.items()}


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(st.floats(-10, 10, allow_nan=False, width=32), min_size=4, max_size=4),
        min_size=2,
        max_size=10,
    )
)
def test_euclidean_column_matches_numpy(vecs):
    spark = _get_spark()
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    pairs = df.alias("a").crossJoin(df.alias("b")).select(
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
        euclidean(F.col("a.v"), F.col("b.v")).alias("d"),
    )
    arr = np.array(vecs, dtype=np.float32).astype(np.float64)
    for r in pairs.collect():
        expect = float(np.linalg.norm(arr[r.ia] - arr[r.ib]))
        assert abs(r.d - expect) <= 1e-9 * max(1.0, expect)


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=0, max_size=30
    ),
    n_nodes=st.integers(1, 16),
)
def test_connected_components_matches_union_find(edges, n_nodes):
    """Pregel-style hash-min labels == plain union-find on random graphs
    (self-loops and out-of-range neighbors dropped)."""
    from vector_db_spark.operators.knn_graph import components_from_edges

    spark = _get_spark()
    adj: dict[int, list[int]] = {i: [] for i in range(n_nodes)}
    for a, b in edges:
        if a < n_nodes and b < n_nodes and a != b:
            adj[a].append(b)
    graph = spark.createDataFrame(
        [(i, sorted(set(ns))) for i, ns in adj.items()],
        "vec_id long, neighbors array<bigint>",
    )
    edges = graph.select(F.col("vec_id").alias("src"), F.explode("neighbors").alias("dst"))
    loops = graph.select(F.col("vec_id").alias("src"), F.col("vec_id").alias("dst"))
    got = {
        r.id: r.component
        for r in components_from_edges(edges.unionByName(loops)).collect()
    }

    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, ns in adj.items():
        for b in ns:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component, matching hash-min
    expect = {i: min(j for j in range(n_nodes) if find(j) == find(i)) for i in range(n_nodes)}
    assert got == expect


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=30), min_size=1, max_size=15
    )
)
def test_repetition_stats_match_python(texts):
    import re
    from collections import Counter

    from vector_db_spark.operators.curation import repetition_stats

    spark = _get_spark()
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in repetition_stats(df).collect()}
    for i, t in enumerate(texts):
        # regex-split semantics (same as the engine/DuckDB): "" → [""]
        toks = re.split(r"\s+", t.strip().lower())
        g2 = Counter(tuple(toks[j : j + 2]) for j in range(max(len(toks) - 1, 0)))
        g3 = Counter(tuple(toks[j : j + 3]) for j in range(max(len(toks) - 2, 0)))
        top2 = max(g2.values(), default=0)
        dup3 = sum(c for c in g3.values() if c > 1)
        assert got[i]["n_tokens"] == len(toks)
        assert got[i]["top2_cnt"] == top2
        assert got[i]["dup3_cnt"] == dup3
        n2, n3 = sum(g2.values()), sum(g3.values())
        assert got[i]["top2_frac"] == (round(top2 / n2, 6) if n2 else 0.0)
        assert got[i]["dup3_frac"] == (round(dup3 / n3, 6) if n3 else 0.0)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=8),
        min_size=1,
        max_size=12,
    ),
    terms=st.lists(st.sampled_from(["x", "y", "z"]), min_size=1, max_size=2, unique=True),
)
def test_bm25_matches_python(docs, terms):
    import math

    from vector_db_spark.operators.hybrid import bm25_topk

    spark = _get_spark()
    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.bm25 for r in bm25_topk(df, terms, k=len(docs)).collect()}
    n, avgdl = len(docs), sum(len(d) for d in docs) / len(docs)
    k1, b = 1.2, 0.75
    for i, d in enumerate(docs):
        score = 0.0
        for t in terms:
            tf = d.count(t)
            dfreq = sum(1 for dd in docs if t in dd)
            idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(d) / avgdl))
        if round(score, 6) > 0:
            assert math.isclose(got[i], round(score, 6), abs_tol=1e-6)
        else:
            assert i not in got


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=120), min_size=1, max_size=6
    ),
    size=st.integers(2, 40),
    overlap_frac=st.floats(0.0, 0.9),
)
def test_chunking_covers_every_char_exactly(texts, size, overlap_frac):
    """Any (size, overlap): every doc yields ≥1 chunk, stitching chunk
    strides reconstructs the text, consecutive chunks share exactly
    ``overlap`` chars, and every char of the doc is inside ≥1 chunk."""
    from vector_db_spark.operators.chunking import chunk_documents

    spark = _get_spark()
    overlap = min(int(size * overlap_frac), size - 1)
    stride = size - overlap
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = chunk_documents(df, size=size, overlap=overlap).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert [c.chunk_start for c in chunks] == [
            j * stride for j in range(len(chunks))
        ]
        stitched = chunks[0].chunk_text + "".join(
            c.chunk_text[overlap:] for c in chunks[1:]
        )
        assert stitched == t
        # no start beyond the text, and the last chunk reaches the end
        assert chunks[-1].chunk_start <= max(len(t) - 1, 0)
        assert chunks[-1].chunk_start + len(chunks[-1].chunk_text) == len(t)


@settings(**SETTINGS)
@given(
    syms=st.lists(st.sampled_from(["a", "b", "ab", "ba", "c"]), min_size=1, max_size=12),
    pair=st.sampled_from([("a", "b"), ("a", "a"), ("b", "a"), ("ab", "b")]),
)
def test_bpe_merge_fold_matches_ltr_scan(syms, pair):
    """The native-fold merge must equal a plain left-to-right scan for any
    symbol sequence, including self-overlapping and merged-token cases."""
    from vector_db_spark.operators.bpe import merge_pair

    spark = _get_spark()
    a, b = pair
    got = (
        spark.createDataFrame([(syms,)], "symbols array<string>")
        .select(merge_pair(F.col("symbols"), a, b).alias("m"))
        .collect()[0]["m"]
    )
    want, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            want.append(a + b)
            i += 2
        else:
            want.append(syms[i])
            i += 1
    assert got == want


@settings(**SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6), min_size=2, max_size=25
    ),
    k=st.integers(1, 2),
)
def test_fuzzy_join_matches_brute_force(words, k):
    """q-gram blocking + short pool must lose NO pair vs brute-force
    levenshtein over a tiny alphabet (maximally adversarial for shared
    grams)."""
    from tests.test_fuzzyjoin import _brute
    from vector_db_spark.operators.fuzzyjoin import fuzzy_self_join

    spark = _get_spark()
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {
        (r["a"], r["b"], r["dist"])
        for r in fuzzy_self_join(df, "s", max_dist=k).collect()
    }
    assert got == _brute(words, k)


@settings(**SETTINGS)
@given(
    items=st.lists(st.integers(0, 30), min_size=10, max_size=300),
    frac=st.sampled_from([0.05, 0.1, 0.2]),
)
def test_heavy_hitters_exact_on_random_streams(items, frac):
    import math
    from collections import Counter

    from vector_db_spark.operators.heavyhitters import heavy_hitters

    spark = _get_spark()
    vals = [str(x) for x in items]
    threshold = max(1, math.ceil(frac * len(vals)))
    df = spark.createDataFrame([(v,) for v in vals], "item string").repartition(5)
    got = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(
            df, "item", threshold=threshold,
            k=math.ceil(len(vals) / threshold),
        ).collect()
    }
    want = {v: c for v, c in Counter(vals).items() if c >= threshold}
    assert got == want


@settings(**SETTINGS)
@given(
    probes=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5000)), min_size=1, max_size=40
    ),
    intervals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5000), st.integers(0, 2000)),
        min_size=1,
        max_size=25,
    ),
    bucket=st.sampled_from([7, 60, 900]),
)
def test_interval_join_matches_brute_force(probes, intervals, bucket):
    """Bucketed decomposition == naive range join, for ANY bucket width
    (width only changes the plan, never the answer)."""
    from pyspark.sql import functions as F

    from vector_db_spark.operators.asof import interval_join

    spark = _get_spark()
    p = spark.createDataFrame(
        [(k, i, s) for i, (k, s) in enumerate(probes)], "k int, pid int, off int"
    ).selectExpr(
        "k", "pid",
        "cast('2024-01-01 00:00:00' as timestamp) + make_interval(0,0,0,0,0,0,off) AS ts",
    )
    iv = spark.createDataFrame(
        [(k, i, s, s + d) for i, (k, s, d) in enumerate(intervals)],
        "k int, iid int, s int, e int",
    ).selectExpr(
        "k", "iid",
        "cast('2024-01-01 00:00:00' as timestamp) + make_interval(0,0,0,0,0,0,s) AS start",
        "cast('2024-01-01 00:00:00' as timestamp) + make_interval(0,0,0,0,0,0,e) AS end",
    )
    fast = {
        (r.pid, r.iid)
        for r in interval_join(
            p, iv, keys=["k"], bucket_seconds=bucket, max_span_buckets=10**6
        ).collect()
    }
    brute = {
        (pid, iid)
        for pid, (pk, poff) in enumerate(probes)
        for iid, (ik, s, d) in enumerate(intervals)
        if pk == ik and s <= poff <= s + d
    }
    assert fast == brute


@settings(**SETTINGS)
@given(
    keys=st.lists(st.text(min_size=0, max_size=8), min_size=1, max_size=50),
    fracs=st.sampled_from([(0.8, 0.1, 0.1), (0.5, 0.5), (0.9, 0.05, 0.05)]),
)
def test_group_safe_split_is_pure_function_of_group(keys, fracs):
    from pyspark.sql import functions as F

    from vector_db_spark.operators.curation import group_safe_split

    spark = _get_spark()
    labels = tuple(f"s{i}" for i in range(len(fracs)))
    rows = [(i, k) for i, k in enumerate(keys)] + [
        (i + 10_000, k) for i, k in enumerate(keys)  # duplicate groups
    ]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = group_safe_split(df, "grp", fractions=fracs, labels=labels)
    by_group: dict = {}
    for r in out.collect():
        by_group.setdefault(r.grp, set()).add(r.split)
    # every group maps to exactly one split, regardless of row identity
    assert all(len(v) == 1 for v in by_group.values())


@settings(**SETTINGS)
@given(
    sets=st.lists(
        st.sets(st.integers(min_value=0, max_value=25), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.75, 0.8, 1.0]),
)
def test_containment_pairs_complete_on_random_sets(sets, threshold):
    """One-sided prefix filtering must find EVERY directional pair with
    |A∩B|/|A| ≥ θ on arbitrary set families — the ceil-boundary property
    the fixture corpus can't probe (θ·|A| landing exactly on an integer,
    singleton sets, identical sets, subset chains)."""
    from vector_db_spark.operators.dedup import containment_pairs

    spark = _get_spark()
    rows = [(i, f"tok{t}") for i, ss in enumerate(sets) for t in ss]
    items = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(items, threshold=threshold).collect()
    }
    want = {}
    for a, sa in enumerate(sets):
        for b, sb in enumerate(sets):
            if a == b:
                continue
            c = round(len(sa & sb) / len(sa), 6)
            if c >= threshold:
                want[(a, b)] = c
    assert got == want


@settings(**SETTINGS)
@given(
    sets=st.lists(
        st.sets(st.integers(min_value=0, max_value=25), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8, 1.0]),
)
def test_prefix_filter_jaccard_complete_on_random_sets(sets, threshold):
    """AllPairs prefix filtering: zero misses at any θ, including θ=1
    (exact duplicates only) and prefix lengths of exactly 1."""
    from vector_db_spark.operators.dedup import prefix_filter_jaccard_pairs

    spark = _get_spark()
    rows = [(i, f"tok{t}") for i, ss in enumerate(sets) for t in ss]
    items = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(items, threshold=threshold).collect()
    }
    want = {}
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            inter = len(sets[a] & sets[b])
            j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
            if j >= threshold:
                want[(a, b)] = j
    assert got == want


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.integers(0, 12), min_size=0, max_size=10),
        min_size=1,
        max_size=15,
    ),
    subs=st.lists(
        st.sets(st.integers(0, 12), min_size=1, max_size=3),
        min_size=1,
        max_size=6,
    ),
    force_routed=st.booleans(),
)
def test_percolate_conjunctions_match_python(force_large, docs, subs, force_routed):
    """Percolation vs plain-Python conjunction matching on random token
    streams — duplicate tokens inside a document count once, a query
    matches iff EVERY term appears, and the literal-vocab and routed
    plans (force_large("hybrid.vocab")) emit identical rows."""
    from contextlib import nullcontext

    from vector_db_spark.operators.hybrid import percolate

    spark = _get_spark()
    ddf = spark.createDataFrame(
        [(i, " ".join(f"w{t}" for t in toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    sdf = spark.createDataFrame(
        [(f"q{i}", [f"w{t}" for t in terms]) for i, terms in enumerate(subs)],
        "query_id string, terms array<string>",
    )
    with force_large("hybrid.vocab") if force_routed else nullcontext():
        out = percolate(ddf, sdf)
    got = {(r.doc_id, r.query_id) for r in out.collect()}
    want = set()
    for i, toks in enumerate(docs):
        # tokens() splits lower(trim(text)) on \s+ — an empty doc still
        # yields the [''] token, which matches no wN term
        tokset = {f"w{t}" for t in toks}
        for j, terms in enumerate(subs):
            if {f"w{t}" for t in terms} <= tokset:
                want.add((i, f"q{j}"))
    assert got == want


@settings(max_examples=3, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.integers(0, 11), min_size=3, max_size=8),
        min_size=4,
        max_size=24,
    ),
)
def test_dedup_index_probe_equals_rederive_on_random_corpora(force_large, docs):
    """Index-vs-rederive equivalence on RANDOM corpora (the planted-case
    tests pin known shapes; this pins the contract itself): for any doc
    set split corpus/batch, the persisted-index probe — with bucket
    pruning FORCED on (the store-size gate pinned large), exercising the
    saturation guard and the bucket collections against arbitrary key
    sets — emits
    exactly incremental_dedup's rows. Tiny vocab (12 tokens) forces
    exact dups, near dups, and band collisions to actually occur."""
    import tempfile

    from vector_db_spark.operators.dedup import incremental_dedup
    from vector_db_spark.operators.dedup_index import DedupIndex

    spark = _get_spark()
    rows = [
        (i, " ".join(f"w{t}" for t in toks)) for i, toks in enumerate(docs)
    ]
    ddf = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = ddf.filter(F.col("doc_id") % 3 != 0)
    batch = ddf.filter(F.col("doc_id") % 3 == 0)
    if corpus.limit(1).count() == 0:
        return  # an index needs a non-empty seed corpus

    want = sorted(
        map(tuple, incremental_dedup(corpus, batch, threshold=0.5).collect())
    )
    path = tempfile.mkdtemp(prefix="didx_prop_") + "/index"
    DedupIndex.build(spark, corpus, path, n_buckets=8)
    idx = DedupIndex(spark, path)
    with force_large("dedup_index.prune"):
        probe = idx.probe(batch, threshold=0.5)
    got = sorted(map(tuple, probe.collect()))
    assert got == want
