"""Embedding providers — SURVEY §2.13 / V8 / V9.

The MockEmbedder is a bit-exact port of
/root/reference/src/embedders/providers.js:87-105 (djb2-style hash with JS
`| 0` int32 overflow, window substring, L2 normalize) — it is what makes
vector tests deterministic without a model.  Real providers (Ollama/OpenAI)
are HTTP clients in the reference (:54-85); HTTPEmbedder implements both
payload shapes behind the same mapInPandas wrapper with an injectable
transport (faked in tests — this environment has no network/model; the
mock remains the deterministic tested path).

Scale design (V8, RAGPipeline's sequential embed loop → batch):
distinct-text first (dedup compute), Arrow-batched pandas transform on
executors, then broadcast-join the small embedding table back.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StringType, StructField, StructType

DIMENSIONS = 64  # MockEmbedder default (providers.js:89)


def _int32(x: int) -> int:
    """JS `| 0` semantics: wrap to signed 32-bit."""
    x &= 0xFFFFFFFF
    return x - 0x100000000 if x >= 0x80000000 else x


def mock_embed(text: str, dimensions: int = DIMENSIONS) -> list[float]:
    """Bit-exact MockEmbedder._embed (providers.js:91-104):

    per dimension i: h = 5381 + i folded over a 20-char window starting at
    floor(i/dim * len) via h = (h*33 + charCode) | 0; component =
    ((h % 2000) - 1000) / 1000 (JS % keeps sign); then L2-normalize.
    """
    text = text or ""
    vec = np.zeros(dimensions, dtype=np.float32)
    n = len(text)
    for i in range(dimensions):
        h = 5381 + i
        start = int(i / dimensions * n)
        w = text[start : start + 20]
        for ch in w:
            h = _int32(_int32(h << 5) + h + ord(ch))
        rem = h % 2000 if h >= 0 else -((-h) % 2000)  # JS remainder keeps sign
        vec[i] = np.float32((rem - 1000) / 1000)
    norm = float(np.sqrt(np.sum(vec.astype(np.float64) ** 2)))
    if norm > 0:
        vec = (vec.astype(np.float64) / norm).astype(np.float32)
    return [float(v) for v in vec]


def mock_embed_batch(texts: list[str], dimensions: int = DIMENSIONS) -> list[list[float]]:
    """Vectorized mock_embed over a batch: one (texts × dims, 20) int32
    fold instead of a per-char Python loop.  Bit-exact to mock_embed —
    int32 two's-complement adds/shifts are modular, so wrapping at every
    step equals JS's single `| 0` at the end; the signed remainder and the
    float64 normalize replay the scalar ops elementwise."""
    n_texts = len(texts)
    if n_texts == 0:
        return []
    dim = dimensions
    rows = []
    masks = []
    for t in texts:
        t = t or ""
        n = len(t)
        codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        starts = (np.arange(dim, dtype=np.float64) / dim * n).astype(np.int64)
        idx = starts[:, None] + np.arange(20, dtype=np.int64)[None, :]
        mask = idx < n
        safe = np.clip(idx, 0, max(n - 1, 0))
        rows.append(np.where(mask, codes[safe] if n else 0, 0))
        masks.append(mask)
    C = np.concatenate(rows).astype(np.int32).reshape(n_texts * dim, 20)
    M = np.concatenate(masks).reshape(n_texts * dim, 20)
    h = np.tile(np.arange(dim, dtype=np.int32) + np.int32(5381), n_texts)
    with np.errstate(over="ignore"):
        for j in range(20):
            h = np.where(M[:, j], (h << np.int32(5)) + h + C[:, j], h)
    h64 = h.astype(np.int64)
    rem = np.where(h64 >= 0, h64 % 2000, -((-h64) % 2000))
    V = ((rem - 1000) / 1000).astype(np.float32).reshape(n_texts, dim)
    V64 = V.astype(np.float64)
    norms = np.sqrt(np.sum(V64 ** 2, axis=1))
    out = np.where(norms[:, None] > 0, V64 / np.where(norms[:, None] == 0, 1.0, norms[:, None]), V64)
    return [[float(x) for x in row.astype(np.float32)] for row in out]


EMBED_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def embed_texts(
    texts: DataFrame,
    text_col: str = "text",
    dimensions: int = DIMENSIONS,
    embed_fn: Callable[[str, int], list[float]] = mock_embed,
) -> DataFrame:
    """V8: batched embedding of DISTINCT texts (compute-dedup, the Spark
    answer to the reference's memo-cache, providers.js:23-39)."""
    distinct = texts.select(F.col(text_col).alias("text")).distinct()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if embed_fn is mock_embed:  # vectorized fast path, bit-exact
                vecs = mock_embed_batch(list(pdf["text"]), dimensions)
            else:
                vecs = [embed_fn(t, dimensions) for t in pdf["text"]]
            yield pd.DataFrame({"text": pdf["text"], "embedding": vecs})

    return distinct.mapInPandas(run, schema=EMBED_SCHEMA)


def _js_hash(text: str) -> int:
    """BaseEmbedder._hash (providers.js:45-51): JS 31-bit rolling hash over
    the first 500 chars with `| 0` overflow — the reference's cache key."""
    h = 0
    for ch in text[:500]:
        h = _int32(_int32(h << 5) - h + ord(ch))
    return h


def _urllib_transport(url: str, payload: dict, headers: dict) -> dict:
    """Default HTTP transport (stdlib only).  Injectable for tests."""
    import json
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json", **headers},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        return json.loads(resp.read().decode("utf-8"))


class HTTPEmbedder:
    """Real embedding providers behind the same batch wrapper as the mock
    (providers.js:54-85: OllamaEmbedder / OpenAIEmbedder).

    - per-text memo cache with the reference's key shape
      `model:len:jsHash` (providers.js:23-28);
    - embed_batch groups client-side by batch_size (providers.js:32-38);
    - `transport(url, payload, headers) -> parsed json` is injectable so
      tests run against a fake; the default is a stdlib urllib POST;
    - instances are picklable closures, so `embed_texts(...,
      embed_fn=provider)` ships them to executors for the distributed
      distinct-text batch.

    The mock remains the tested/deterministic path; this class is the
    config-gated network path (no network in this environment)."""

    DEFAULTS = {
        "ollama": ("nomic-embed-text", 768, "http://localhost:11434"),
        "openai": ("text-embedding-3-small", 1536, "https://api.openai.com/v1"),
    }

    def __init__(
        self,
        provider: str = "ollama",
        model: str | None = None,
        dimensions: int | None = None,
        base_url: str | None = None,
        api_key: str | None = None,
        batch_size: int = 32,
        transport: Callable[[str, dict, dict], dict] = _urllib_transport,
    ):
        if provider not in self.DEFAULTS:
            raise ValueError(f"unknown provider {provider!r}; one of {sorted(self.DEFAULTS)}")
        d_model, d_dim, d_url = self.DEFAULTS[provider]
        self.provider = provider
        self.model = model or d_model
        self.dimensions = dimensions or d_dim
        self.base_url = (base_url or d_url).rstrip("/")
        self.api_key = api_key
        self.batch_size = batch_size
        self.transport = transport
        self._cache: dict[str, list[float]] = {}
        self.stats = {"calls": 0, "cached": 0}

    def _embed(self, text: str) -> list[float]:
        if self.provider == "ollama":
            out = self.transport(
                f"{self.base_url}/api/embeddings",
                {"model": self.model, "prompt": text},
                {},
            )
            return [float(x) for x in out["embedding"]]
        if self.api_key is None:
            raise ValueError("OpenAI API key required (api_key=...)")
        out = self.transport(
            f"{self.base_url}/embeddings",
            {"model": self.model, "input": text},
            {"Authorization": f"Bearer {self.api_key}"},
        )
        return [float(x) for x in out["data"][0]["embedding"]]

    def embed(self, text: str) -> list[float]:
        key = f"{self.model}:{len(text)}:{_js_hash(text)}"
        if key in self._cache:
            self.stats["cached"] += 1
            return self._cache[key]
        vec = self._embed(text)
        self._cache[key] = vec
        self.stats["calls"] += 1
        return vec

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        out: list[list[float]] = []
        for i in range(0, len(texts), self.batch_size):
            out.extend(self.embed(t) for t in texts[i : i + self.batch_size])
        return out

    def __call__(self, text: str, dimensions: int | None = None) -> list[float]:
        """engine.embedder protocol (dimensions is fixed by the provider)."""
        return self.embed(text)
