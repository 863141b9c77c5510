"""Embedding generation as an Arrow-batched pandas UDF.

The reference embeds with sentence-transformers behind an HTTP service
(``/root/reference/src/vector_db/inference/embedding.py:38-52``, service
wrappers at ``services/embedding_service.py:80-116``). Here embedding is a
scalar ``pandas_udf`` running *inside* the executors — the Arrow batch IS
the reference's batch path, and the shuffle-free UDF replaces the HTTP hop
(SURVEY.md §3.1: the process boundary becomes a plan boundary).

Two embedders:

- ``stub_embedder`` — deterministic hash→unit-vector, the CI embedder
  (mirrors the reference's mocked random embedder in integration tests,
  test_search_api.py:66-72, but reproducible: same text → same vector).
- ``sentence_transformer_embedder`` — the real model, lazily loaded once
  per executor python worker; gated behind an import-try because the model
  stack is not installed in this environment.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


def _stub_vec(text: str, dim: int) -> list[float]:
    """md5(text) seeds a PRNG → L2-normalized pseudo-random vector. Unlike
    the reference's mock (pure random), identical text embeds identically,
    so dedup-by-embedding is testable."""
    seed = int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
    v = np.random.default_rng(seed).standard_normal(dim)
    v /= np.linalg.norm(v) or 1.0
    return [float(x) for x in v.astype(np.float32)]


def stub_embedder(dim: int = DEFAULT_DIM):
    """Returns a pandas UDF column function: text -> array<float>(dim)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(lambda t: _stub_vec(t if t is not None else "", dim))

    return embed


def get_device(device: str = "auto", torch_module=None) -> str:
    """E4 device selection (reference ``inference/device.py:17-56``):
    resolve a device *preference* to a concrete torch device string.

    - ``"cpu"`` — always cpu
    - ``"cuda"`` / ``"mps"`` — that accelerator if available, else cpu
    - ``"auto"`` — best available: cuda > mps > cpu
    - no torch importable — cpu

    This runs executor-local (each python worker picks its own GPU view);
    ``torch_module`` is injectable for tests — by default torch is imported
    here, lazily, so the driver never needs the model stack."""
    if torch_module is None:
        try:
            import torch as torch_module  # noqa: F811
        except ImportError:
            return "cpu"
    torch = torch_module
    if device == "cpu":
        return "cpu"
    if device == "cuda":
        return "cuda" if torch.cuda.is_available() else "cpu"
    mps_ok = hasattr(torch.backends, "mps") and torch.backends.mps.is_available()
    if device == "mps":
        return "mps" if mps_ok else "cpu"
    # auto
    if torch.cuda.is_available():
        return "cuda"
    return "mps" if mps_ok else "cpu"


def sentence_transformer_embedder(
    model_name: str = "sentence-transformers/all-MiniLM-L6-v2",
    dim: int = 384,
    device: str = "auto",
):
    """Real-model embedder (reference config.yaml:1-3 defaults). The model
    loads lazily once per executor worker and is reused across batches —
    the iterator form keeps load cost out of the per-batch path. The device
    preference resolves *inside the worker* via :func:`get_device` (E4,
    reference ``inference/device.py``) — heterogeneous executors each pick
    their own accelerator."""
    try:
        import sentence_transformers  # noqa: F401
    except ImportError as exc:  # pragma: no cover - model stack not in CI
        raise NotImplementedError(
            "sentence-transformers is not installed in this environment; "
            "use stub_embedder() or install the model stack"
        ) from exc

    @F.pandas_udf(T.ArrayType(T.FloatType()))  # pragma: no cover
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from sentence_transformers import SentenceTransformer

        model = SentenceTransformer(model_name, device=get_device(device))
        for s in batches:
            vecs = model.encode(s.fillna("").tolist(), convert_to_numpy=True)
            yield pd.Series([[float(x) for x in v] for v in vecs])

    return embed


def embed_column(df, text_col: str, out_col: str = "embedding", dim: int = DEFAULT_DIM, embedder=None):
    """E1/E2: add an embedding column (reference embed_text/embed_texts)."""
    fn = embedder if embedder is not None else stub_embedder(dim)
    return df.withColumn(out_col, fn(F.col(text_col)))


def remote_embed(df, text_col: str, *, endpoint: str, dim: int = DEFAULT_DIM,
                 batch_size: int = 64, transport=None, out_col: str = "embedding"):
    """E3: remote embedding client (reference ``services/embedding_client.py:
    33-146`` — HTTP POST /embed/batch to the embedding service) as a
    ``mapInPandas`` with one session per partition and batched requests.

    ``transport(endpoint, texts) -> list[vector]`` is injectable; the
    default uses urllib (JSON {"texts": [...]} → {"embeddings": [...]}),
    matching the reference's wire shape (docker/embedding-service/
    app.py:74-90). Executors make the calls — the driver never sees a
    payload."""

    def default_transport(url: str, texts: list[str]) -> list[list[float]]:
        import json
        import urllib.request

        req = urllib.request.Request(
            url,
            data=json.dumps({"texts": texts}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())["embeddings"]

    call = transport if transport is not None else default_transport
    # df.schema is the DataFrame's cached StructType — .add() would mutate
    # it in place; build a fresh copy
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vecs: list[list[float]] = []
            texts = pdf[text_col].fillna("").tolist()
            for s in range(0, len(texts), batch_size):
                vecs.extend(call(endpoint, texts[s : s + batch_size]))
            yield pdf.assign(**{out_col: vecs})

    return df.mapInPandas(kernel, schema)
