"""Pluggable embedding stage — the Spark-native form of the reference's
embedding model calls.

Reference behavior being replaced (SURVEY.md U1/P4):
- ``rag.py:27,49``: ``SentenceTransformer(...).encode(content)`` once per
  row, single process — the scalability cliff.
- ``rag.py:72-73``: the model is RE-LOADED on every search call.
- ``email_fetching.py:54``: Chroma embeds implicitly inside the store.

Here embedding is a *column transform*: ``df.withColumn(out, embedder(col))``
backed by an Arrow-batched pandas_udf. The model loads lazily ONCE PER
EXECUTOR PROCESS (not per row, not per call) via a module-level cache —
the executor-global init pattern. Tests and oracle checks use
``HashingEmbedder`` (deterministic, dependency-free); the real
sentence-transformers model is an optional drop-in behind the same
interface and is never imported unless requested (SURVEY.md §5.3).
"""

from __future__ import annotations

import hashlib
from typing import Protocol

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType


class Embedder(Protocol):
    """text column -> array<float> column of fixed dimension."""

    dim: int

    def __call__(self, col: Column | str) -> Column: ...


def _hash_embed_batch(texts: pd.Series, dim: int) -> pd.Series:
    """Deterministic hashed bag-of-words embedding, L2-normalized.

    Same construction as the oracle-checkable SQL embedder in
    plans/pipeline.py (token -> md5 bucket), vectorized over the Arrow
    batch: each distinct token is hashed once per batch, and one
    ``bincount`` builds the (rows, dim) count matrix. Uses md5, never
    Python's salted hash(). Counts are small integers, so the squared
    norms are exact in float64 and the result is bit-identical to
    normalizing each row on its own."""
    buckets: dict[str, int] = {}
    cells = []  # row * dim + bucket, one entry per token occurrence
    for i, t in enumerate(texts):
        if not t:
            continue
        base = i * dim
        for tok in t.split():
            b = buckets.get(tok)
            if b is None:
                h = int.from_bytes(
                    hashlib.md5(tok.encode()).digest()[:8], "big"
                )
                b = buckets[tok] = h % dim
            cells.append(base + b)
    n = len(texts)
    counts = np.bincount(
        np.asarray(cells, dtype=np.int64), minlength=n * dim
    ).reshape(n, dim).astype(np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", counts, counts))[:, None]
    np.divide(counts, norms, out=counts, where=norms > 0)
    return pd.Series(list(counts.astype(np.float32)))


class HashingEmbedder:
    """Deterministic, dependency-free embedder (the test stand-in for a
    sentence-transformers model, SURVEY.md §5.3). Defaults to 64 dims to
    match the ``embeddings`` fixture table."""

    def __init__(self, dim: int = 64):
        self.dim = dim
        d = dim

        @F.pandas_udf(ArrayType(FloatType()))
        def _udf(texts: pd.Series) -> pd.Series:
            return _hash_embed_batch(texts, d)

        self._udf = _udf

    def __call__(self, col: Column | str) -> Column:
        return self._udf(F.col(col) if isinstance(col, str) else col)


# Executor-global model cache: one model per (executor process, model name),
# loaded on first batch — the fix for the reference re-loading the model on
# every call (rag.py:72).
_MODEL_CACHE: dict[str, object] = {}


def _st_embed_batch(texts: pd.Series, name: str) -> pd.Series:
    """One Arrow batch through the real model: lazy per-process load, then
    a single batched ``encode`` call (module-level so the contract is
    testable with a mocked ``sentence_transformers`` — the UDF below runs
    in worker processes a driver-side mock cannot reach)."""
    try:
        from sentence_transformers import SentenceTransformer
    except ImportError as e:  # pragma: no cover - env without dep
        raise ImportError(
            "sentence-transformers not installed; use "
            "HashingEmbedder for deterministic embeddings"
        ) from e
    model = _MODEL_CACHE.get(name)
    if model is None:  # once per executor process
        model = SentenceTransformer(name)
        _MODEL_CACHE[name] = model
    vecs = model.encode(texts.fillna("").tolist())
    return pd.Series([np.asarray(v, dtype=np.float32) for v in vecs])


class SentenceTransformerEmbedder:
    """Real-model embedder behind the same interface. Requires the optional
    ``sentence-transformers`` dependency AT EXECUTION time only (import
    happens inside the UDF, on executors). Reference parity: model name
    defaults to the reference's ``all-MiniLM-L6-v2`` (``rag.py:24``),
    384-dim (``rag.py:35``)."""

    def __init__(self, model_name: str = "all-MiniLM-L6-v2", dim: int = 384):
        self.model_name = model_name
        self.dim = dim
        name = model_name

        @F.pandas_udf(ArrayType(FloatType()))
        def _udf(texts: pd.Series) -> pd.Series:
            return _st_embed_batch(texts, name)

        self._udf = _udf

    def __call__(self, col: Column | str) -> Column:
        return self._udf(F.col(col) if isinstance(col, str) else col)


def embed_documents(
    df,
    embedder: Embedder,
    *,
    text_col: str = "content",
    out_col: str = "embedding",
):
    """The embed stage of the reference's ``embed_and_store_products``
    (``rag.py:44-50``) as one declarative transform."""
    return df.withColumn(out_col, embedder(text_col))
