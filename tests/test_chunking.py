"""Chunker invariants (mirrors reference RAG tests,
/root/reference/test/fusionpact.test.js:227-248) plus node-parity: the
Python ports must produce byte-identical chunks to the reference JS
implementation when node + the reference checkout are available."""

from __future__ import annotations

import json
import shutil
import subprocess

import pytest

from fusionspark.io import load_table
from fusionspark.operators.chunking import (
    CHUNK_SIZE,
    chunk_documents,
    paragraph_chunk,
    sentence_chunk,
    split_recursive,
)

SAMPLE = (
    "Spark structures computation as jobs. Jobs split into stages. "
    "Stages split into tasks. Tasks run on executors.\n\n"
    "Shuffles move data between stages. Broadcast joins avoid shuffles for small tables. "
    "Window functions partition and order rows. " * 8
)


def test_recursive_bounds_and_coverage():
    chunks = split_recursive(SAMPLE, chunk_size=128, chunk_overlap=20)
    assert len(chunks) > 1
    assert all(len(c) <= 128 * 1.5 for c in chunks)
    # every non-overlap character of the source is retained in order
    joined = "".join(chunks)
    for word in ("executors", "Broadcast", "Window"):
        assert word in joined


def test_recursive_short_text_single_chunk():
    assert split_recursive("tiny", chunk_size=CHUNK_SIZE) == ["tiny"]


def test_sentence_chunk_packs_sentences():
    chunks = sentence_chunk(SAMPLE, chunk_size=200, chunk_overlap=20)
    assert all(len(c) <= 200 + 120 for c in chunks)  # one sentence overflow max
    assert chunks[0].startswith("Spark structures")


def test_paragraph_chunk():
    chunks = paragraph_chunk("a\n\nb\n\n" + "c" * 600, chunk_size=100)
    assert chunks[0] == "a\n\nb"


def test_spark_chunk_documents(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(50)
    out = chunk_documents(d, "recursive", chunk_size=128, chunk_overlap=20).collect()
    by_doc: dict[str, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == 50
    for doc_id, rows in by_doc.items():
        idxs = sorted(r["chunk_index"] for r in rows)
        assert idxs == list(range(len(rows)))          # contiguous 0..n-1
        assert all(r["total_chunks"] == len(rows) for r in rows)


@pytest.mark.skipif(shutil.which("node") is None, reason="node unavailable")
def test_node_parity_recursive(tmp_path):
    """Byte-identical with the reference chunker for a corpus of tricky
    texts.  Uses the reference module read-only as a test oracle."""
    ref = "/root/reference/src/rag/RAGPipeline.js"
    import os

    if not os.path.exists(ref):
        pytest.skip("reference checkout unavailable")
    texts = [
        SAMPLE,
        "word " * 400,
        "a\n\n" + "b" * 700 + "\n\nc. d. " + "e" * 100,
        "no separators here just one long token " * 30,
        "",
    ]
    script = tmp_path / "chunk.js"
    script.write_text(
        """
const { RAGPipeline } = require('%s');
const texts = JSON.parse(require('fs').readFileSync(process.argv[2], 'utf8'));
const out = [];
for (const t of texts) {
  const p = Object.create(RAGPipeline.prototype);
  p.chunkStrategy = 'recursive'; p.chunkSize = 128; p.chunkOverlap = 20;
  out.push(p._chunk(t));
}
console.log(JSON.stringify(out));
""" % ref
    )
    inp = tmp_path / "texts.json"
    inp.write_text(json.dumps(texts))
    res = subprocess.run(
        ["node", str(script), str(inp)], capture_output=True, text=True, check=True
    )
    expected = json.loads(res.stdout)
    actual = [split_recursive(t, chunk_size=128, chunk_overlap=20) if len(t) > 128
              else [t] for t in texts]
    assert actual == expected


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_corpus_has_no_higher_separators(sf):
    """Enforce (not assume) the collapsed-cascade premise of the T1 DuckDB
    oracle (_CHUNKS_RECURSIVE_ORACLE): documents.text contains no '\\n\\n',
    '\\n', or '. ' at any SF, so _splitRecursive levels 1-3 are identity
    pass-throughs and the SQL's two-case replay (whole-doc / word-fold) is
    exhaustive.  If the driver ever regenerates testdata with multi-line
    or sentence-ized documents, this fails BEFORE the oracle silently
    diverges (VERDICT r7 #5)."""
    import duckdb

    path = f"/root/testdata/sf{sf}/documents.parquet"
    n = duckdb.sql(
        f"""SELECT count(*) FROM read_parquet('{path}')
            WHERE text LIKE '%' || chr(10) || '%' OR text LIKE '%. %'"""
    ).fetchone()[0]
    assert n == 0, (
        f"sf{sf}: {n} documents contain level-1/2/3 separators; the "
        "chunks_recursive oracle's collapsed-cascade replay no longer holds"
    )
