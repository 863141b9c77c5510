"""Seeded input generators. Everything the program sees is made here from
the workload seed; the same seed gives byte-identical inputs."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

DIM = 64
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.55, 0.15, 0.12, 0.10, 0.08)  # "de" is the ~15% filter value
VOCAB = (
    "the fast slow big small data query table scan join merge sort hash "
    "window batch stream vector index column row filter group agg order "
    "part key value node graph model token text shard cache page file "
    "disk plan stage task"
).split()


def mixture(seed: int, n: int, *, centres: int = 128, dim: int = DIM):
    """``n`` float32 vectors from a ``centres``-component Gaussian mixture."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((centres, dim)) * 3.0
    x = c[rng.integers(0, centres, n)] + rng.standard_normal((n, dim))
    return x.astype(np.float32)


def near_queries(seed: int, corpus: np.ndarray, n: int, noise: float = 0.25):
    """Queries drawn as corpus points plus Gaussian noise."""
    rng = np.random.default_rng(seed)
    pick = rng.integers(0, corpus.shape[0], n)
    q = corpus[pick] + noise * rng.standard_normal((n, corpus.shape[1]))
    return q.astype(np.float32)


def node_rows(seed: int, vecs: np.ndarray) -> pd.DataFrame:
    """NodeTable rows (id, embedding, content, metadata) for ``vecs``."""
    rng = np.random.default_rng(seed)
    n = vecs.shape[0]
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    sources = rng.integers(0, 20, n)
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "content": [f"passage {i}" for i in range(n)],
            "metadata": [
                {"lang": str(lang), "source": f"src{s}"} for lang, s in zip(langs, sources)
            ],
        }
    )


def docs(rng: np.random.Generator, n: int, tag: str) -> list[tuple[str, dict]]:
    """``n`` (content, metadata) documents; ``tag`` keeps texts unique."""
    out = []
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    for i in range(n):
        words = rng.choice(VOCAB, int(rng.integers(8, 24)))
        text = f"{tag}-{i} " + " ".join(words)
        out.append((text, {"lang": LANGS[langs[i]], "source": f"src{int(rng.integers(0, 20))}"}))
    return out


def query_texts(rng: np.random.Generator, n: int, tag: str) -> list[str]:
    return [f"q{tag}-{i} " + " ".join(rng.choice(VOCAB, 6)) for i in range(n)]


def stub_vec(text: str, dim: int = DIM) -> np.ndarray:
    """Reference re-implementation of the program's default stub embedder
    (md5-seeded Gaussian, L2-normalised, float32): the ground truth for
    searches issued through the API."""
    seed = int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
    v = np.random.default_rng(seed).standard_normal(dim)
    v /= np.linalg.norm(v) or 1.0
    return v.astype(np.float32)
