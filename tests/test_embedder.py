"""Mock-embedder parity tests (reference providers.js:87-105): unit norm,
determinism, dimension, and byte-parity against the reference JS
implementation when available."""

from __future__ import annotations

import json
import math
import shutil
import subprocess

import pytest

from fusionspark.io import load_table
from fusionspark.operators.embedder import DIMENSIONS, embed_texts, mock_embed


def test_unit_norm_and_determinism():
    v1 = mock_embed("hello spark world")
    v2 = mock_embed("hello spark world")
    assert v1 == v2
    assert len(v1) == DIMENSIONS
    assert abs(math.sqrt(sum(x * x for x in v1)) - 1.0) < 1e-6


def test_different_texts_differ():
    assert mock_embed("alpha") != mock_embed("beta")


def test_empty_text_deterministic_nonzero():
    """Empty text still hashes (h = 5381+i, empty window) → a fixed unit
    vector, exactly like the reference (providers.js:92-97)."""
    v = mock_embed("")
    assert v == mock_embed("")
    assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-6
    # first component: h=5381 → ((5381 % 2000) - 1000)/1000 = 0.381 pre-norm
    assert v[0] > 0


def test_spark_embed_distinct(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(20)
    out = embed_texts(d, "text").collect()
    assert len(out) == d.select("text").distinct().count()
    for r in out:
        assert len(r["embedding"]) == DIMENSIONS


@pytest.mark.skipif(shutil.which("node") is None, reason="node unavailable")
def test_node_parity(tmp_path):
    import os

    ref = "/root/reference/src/embedders/providers.js"
    if not os.path.exists(ref):
        pytest.skip("reference checkout unavailable")
    texts = ["hello world", "spark", "", "a", "the quick brown fox " * 10, "ünïcödé ✓"]
    script = tmp_path / "embed.js"
    script.write_text(
        """
const { MockEmbedder } = require('%s');
const texts = JSON.parse(require('fs').readFileSync(process.argv[2], 'utf8'));
(async () => {
  const e = new MockEmbedder({});
  const out = [];
  for (const t of texts) out.push(await e._embed(t));
  console.log(JSON.stringify(out));
})();
""" % ref
    )
    inp = tmp_path / "texts.json"
    inp.write_text(json.dumps(texts))
    res = subprocess.run(
        ["node", str(script), str(inp)], capture_output=True, text=True, check=True
    )
    expected = json.loads(res.stdout)
    for t, exp in zip(texts, expected):
        act = mock_embed(t)
        assert len(act) == len(exp)
        for a, b in zip(act, exp):
            assert abs(a - b) < 1e-6, f"mismatch for {t!r}"


def test_http_embedder_fake_transport_batch_and_cache():
    """HTTPEmbedder against a faked transport: payload shapes match the
    reference providers, the memo cache suppresses repeat calls, and
    embed_batch groups by batch_size."""
    from fusionspark.operators.embedder import HTTPEmbedder

    calls = []

    def fake(url, payload, headers):
        calls.append((url, payload))
        return {"embedding": [0.1, 0.2, float(len(payload["prompt"]))]}

    emb = HTTPEmbedder("ollama", model="m1", dimensions=3, batch_size=2, transport=fake)
    texts = ["alpha", "beta", "alpha", "gamma"]
    vecs = emb.embed_batch(texts)
    assert len(vecs) == 4 and vecs[0] == vecs[2]
    assert emb.stats["calls"] == 3 and emb.stats["cached"] == 1
    assert all(u.endswith("/api/embeddings") for u, _ in calls)
    assert calls[0][1] == {"model": "m1", "prompt": "alpha"}

    def fake_openai(url, payload, headers):
        assert headers["Authorization"] == "Bearer k"
        assert payload["input"] and payload["model"] == "text-embedding-3-small"
        return {"data": [{"embedding": [1.0, 2.0]}]}

    emb2 = HTTPEmbedder("openai", api_key="k", transport=fake_openai)
    assert emb2.embed("x") == [1.0, 2.0]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        HTTPEmbedder("openai").embed("x")  # no api key
    with _pytest.raises(ValueError):
        HTTPEmbedder("nope")


def test_http_embedder_distributed_via_embed_texts(spark):
    """The provider instance ships to executors through the same
    mapInPandas wrapper the mock uses."""
    from fusionspark.operators.embedder import HTTPEmbedder, embed_texts

    def fake(url, payload, headers):
        return {"embedding": [float(len(payload["prompt"])), 1.0]}

    emb = HTTPEmbedder("ollama", dimensions=2, transport=fake)
    df = spark.createDataFrame([("aa",), ("bbb",), ("aa",)], "text: string")
    out = {r["text"]: r["embedding"] for r in embed_texts(df, "text", 2, emb).collect()}
    assert out["aa"] == [2.0, 1.0] and out["bbb"] == [3.0, 1.0]
    assert len(out) == 2  # distinct texts only


def test_mock_embed_batch_bit_exact():
    """The vectorized batch fold must be bit-identical to the scalar
    reference port for every input shape: empty, short, long, unicode."""
    from fusionspark.operators.embedder import mock_embed, mock_embed_batch

    texts = [
        "", "a", "hello world", "x" * 500,
        "the quick brown fox jumps over the lazy dog " * 8,
        "ünïcödé — テキスト ✓", " leading and trailing  ",
    ] + [f"document number {i} with words {i * 7} {i * 13}" for i in range(40)]
    batch = mock_embed_batch(texts, 64)
    for t, got in zip(texts, batch):
        assert got == mock_embed(t, 64), f"mismatch for {t!r}"
    # other dimension counts too
    batch16 = mock_embed_batch(texts[:5], 16)
    for t, got in zip(texts[:5], batch16):
        assert got == mock_embed(t, 16)
