"""Embedding providers.

The reference supports pluggable embedding providers (local
sentence-transformers 384-d, Azure 1536-d, deterministic Mock for tests —
reference: alma/retrieval/embeddings.py, engine.py:872-929). Here:

- `HashEmbedder`: deterministic, dependency-free token-hash embedder.
  Default for tests and oracles (the reference's tests similarly rely on a
  deterministic MockEmbedder so rankings are reproducible without model
  downloads).
- `encode_udf`: Arrow-batched pandas UDF for distributed write-time
  encoding — the slow path done right (vectorized per batch, model/state
  initialized once per executor, never per row).
- A real sentence-transformers provider is gated behind an import-try;
  the container has no model libs, so it raises with a clear message.

Embeddings are L2-normalized at write time so that dot product ==
cosine similarity downstream (the reference normalizes at index-add for
the same reason — exact cosine via inner product).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alma_memory_spark.cache import LRU

DEFAULT_DIM = 64


def _token_hash(token: str) -> int:
    """Stable 64-bit hash (md5-based; never Python's salted hash())."""
    return int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "big")


def hash_embed(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic bag-of-tokens hash embedding, L2-normalized.

    Each lowercase token adds +/-1 to a hashed slot (sign from a second
    hash bit), like the hashing trick. Texts sharing tokens get
    correlated vectors, so similarity-ranking tests behave sensibly.
    """
    vec = [0.0] * dim
    for tok in text.lower().split():
        h = _token_hash(tok)
        slot = h % dim
        sign = 1.0 if (h >> 63) & 1 == 0 else -1.0
        vec[slot] += sign
    norm = math.sqrt(sum(v * v for v in vec))
    if norm == 0.0:
        vec[0] = 1.0
        norm = 1.0
    return [v / norm for v in vec]


def hash_embed_batch(texts, dim: int = DEFAULT_DIM):
    """Vectorized hash_embed over a batch (VERDICT r6 #7): one md5 per
    UNIQUE token (factorize dedups the batch vocabulary) and a single
    scatter-add instead of a Python loop per row. Bit-for-bit equal to
    per-row hash_embed: the slot accumulations are ±1 integers (exact
    in float64 in any order) and the squared-norm sums integers, so no
    float-order divergence exists to round differently. Returns an
    (n, dim) float64 ndarray."""
    import numpy as np
    import pandas as pd

    tok_lists = [("" if t is None else t).lower().split() for t in texts]
    n = len(tok_lists)
    M = np.zeros((n, dim), dtype=np.float64)
    lengths = np.fromiter((len(x) for x in tok_lists), dtype=np.int64, count=n)
    if lengths.sum():
        flat = np.concatenate(
            [np.asarray(x, dtype=object) for x in tok_lists if x]
        )
        codes, uniques = pd.factorize(flat)
        h = np.fromiter(
            (_token_hash(u) for u in uniques), dtype=np.uint64, count=len(uniques)
        )
        slots = (h % np.uint64(dim)).astype(np.int64)
        signs = np.where((h >> np.uint64(63)) == 0, 1.0, -1.0)
        rows = np.repeat(np.arange(n), lengths)
        np.add.at(M, (rows, slots[codes]), signs[codes])
    nrm = np.sqrt((M * M).sum(axis=1))
    zero = nrm == 0.0
    M[zero, 0] = 1.0
    nrm[zero] = 1.0
    return M / nrm[:, None]


class HashEmbedder:
    """Deterministic embedding provider (no model download, no network)."""

    def __init__(self, dim: int = DEFAULT_DIM):
        self.dim = dim

    def encode(self, text: str) -> list[float]:
        return hash_embed(text, self.dim)

    def encode_batch(self, texts: list[str]) -> list[list[float]]:
        return hash_embed_batch(texts, self.dim).tolist()


class CachedEmbedder:
    """LRU-cached wrapper around any embedding provider — the
    reference's EmbeddingCache + BatchedEmbeddingProcessor
    (alma/retrieval/embeddings_optimized.py:24-209): keys are
    md5(text), eviction is LRU at max_size, batch encode runs the
    underlying provider ONLY on cache misses and stitches results back
    in input order. Matters for real-model providers (the reference
    reports 10-100x on repeat queries); the driver-side retrieve()
    query-encode path is the intended seat."""

    def __init__(self, inner=None, max_size: int = 10000):
        import hashlib

        self.inner = inner or HashEmbedder()
        self.dim = self.inner.dim
        self.max_size = max_size
        self._vecs = LRU(max_size)
        self._hash = lambda t: hashlib.md5(t.encode("utf-8")).hexdigest()
        self.hits = 0
        self.misses = 0

    def encode(self, text: str) -> list[float]:
        return self.encode_batch([text])[0]

    def encode_batch(self, texts: list[str]) -> list[list[float]]:
        keys = [self._hash(t) for t in texts]
        out: list = [None] * len(texts)
        miss_idx: dict[str, list[int]] = {}
        for i, k in enumerate(keys):
            got = self._vecs.get(k)
            if got is not None:
                self.hits += 1
                out[i] = got
            elif k in miss_idx:
                # intra-batch duplicate of a pending miss: one encode
                # serves both; count the duplicate as a hit
                self.hits += 1
                miss_idx[k].append(i)
            else:
                self.misses += 1
                miss_idx[k] = [i]
        if miss_idx:
            # one underlying batch over UNIQUE misses, original order
            uniq = list(miss_idx)
            first_text = {k: texts[ix[0]] for k, ix in miss_idx.items()}
            encoded = self.inner.encode_batch([first_text[k] for k in uniq])
            for k, vec in zip(uniq, encoded):
                for i in miss_idx[k]:
                    out[i] = vec
                self._vecs.put(k, vec)
        return out

    def get_stats(self) -> dict[str, int]:
        total = self.hits + self.misses
        return {
            "size": len(self._vecs),
            "max_size": self.max_size,
            "hits": self.hits,
            "misses": self.misses,
            "hit_rate_pct": int(100 * self.hits / total) if total else 0,
        }

    def clear(self) -> None:
        self._vecs.clear()
        self.hits = 0
        self.misses = 0


class SentenceTransformerEmbedder:
    """Driver-side real-model provider (reference: LocalEmbedder,
    alma/retrieval/embeddings.py:34-85 — all-MiniLM-L6-v2, 384-d).
    Import-gated: the container has no model libs, so construction
    raises the same declared environment boundary as
    sentence_transformer_udf."""

    def __init__(self, model_name: str = "all-MiniLM-L6-v2"):
        try:
            from sentence_transformers import SentenceTransformer
        except ImportError as e:  # pragma: no cover - model libs absent here
            raise NotImplementedError(
                "sentence-transformers is not available in this environment; "
                "use embedding provider 'hash'/'mock' instead"
            ) from e
        self._model = SentenceTransformer(model_name)  # pragma: no cover
        self.dim = self._model.get_sentence_embedding_dimension()  # pragma: no cover

    def encode(self, text: str) -> list[float]:  # pragma: no cover
        return self.encode_batch([text])[0]

    def encode_batch(self, texts: list[str]) -> list[list[float]]:  # pragma: no cover
        vecs = self._model.encode(texts, normalize_embeddings=True)
        return [np.asarray(v, dtype=np.float32).tolist() for v in vecs]


def resolve_provider(name: str | None, dim: int | None = None, model: str | None = None):
    """Config -> embedding provider (reference: RetrievalEngine
    _get_embedder, engine.py:872-890 — 'local' is sentence-transformers,
    'azure' requires AZURE_OPENAI_ENDPOINT/KEY env vars, 'mock' is the
    deterministic test provider). 'hash' and 'mock' map to HashEmbedder
    here (this repo's deterministic default); the real-model providers
    stay env/import-gated with a clear boundary error."""
    import os

    name = (name or "hash").lower()
    if name in ("hash", "mock", "default"):
        return HashEmbedder(dim or DEFAULT_DIM)
    if name in ("local", "sentence_transformers", "sentence-transformers"):
        return SentenceTransformerEmbedder(model or "all-MiniLM-L6-v2")
    if name == "azure":
        if not (
            os.environ.get("AZURE_OPENAI_ENDPOINT") and os.environ.get("AZURE_OPENAI_KEY")
        ):
            raise NotImplementedError(
                "embedding provider 'azure' requires AZURE_OPENAI_ENDPOINT and "
                "AZURE_OPENAI_KEY (reference: embeddings.py:106-122)"
            )
        raise NotImplementedError(  # pragma: no cover - no network here
            "azure embedding calls need network access unavailable in this "
            "environment"
        )
    raise ValueError(f"unknown embedding provider: {name}")


def encode_udf(dim: int = DEFAULT_DIM):
    """pandas UDF: string column -> ArrayType(FloatType) embedding column.

    Runs JVM->Arrow->pandas batched; the per-batch numpy path keeps
    Python overhead off the per-row hot path.
    """

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _encode(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield pd.Series(list(hash_embed_batch(s.tolist(), dim)))

    return _encode


def sentence_transformer_udf(model_name: str = "all-MiniLM-L6-v2"):
    """Real-model encode UDF (384-d). Requires sentence-transformers,
    which is not installed in this container — import-gated."""
    try:
        from sentence_transformers import SentenceTransformer  # noqa: F401
    except ImportError as e:  # pragma: no cover - model libs absent here
        raise NotImplementedError(
            "sentence-transformers is not available in this environment; "
            "use HashEmbedder / encode_udf for deterministic embeddings"
        ) from e

    @F.pandas_udf(T.ArrayType(T.FloatType()))  # pragma: no cover
    def _encode(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from sentence_transformers import SentenceTransformer

        model = SentenceTransformer(model_name)  # once per executor
        for s in it:
            vecs = model.encode(s.fillna("").tolist(), normalize_embeddings=True)
            yield pd.Series([np.asarray(v, dtype=np.float32).tolist() for v in vecs])

    return _encode
