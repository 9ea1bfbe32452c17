"""Document chunkers — bit-exact ports of the reference's three strategies
(SURVEY §2.10 T1-T3), wrapped as one Arrow-batched mapInPandas pass.

Reference: /root/reference/src/rag/RAGPipeline.js:246-339.
The chunk-boundary logic (separator cascade, tail overlap, 1.5× re-split)
is inherently sequential per document, so it runs as Python over each text —
but documents are independent, so `explode(udf(text))` parallelizes
perfectly across partitions; the reference's sequential per-chunk embed loop
(its biggest scalability defect, RAGPipeline.js:100-121) disappears.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

CHUNK_SIZE = 512     # RAGPipeline.js default chunkSize
CHUNK_OVERLAP = 50   # default chunkOverlap


# ── bit-exact Python ports ────────────────────────────────────────────────

def split_recursive(
    text: str,
    separators: tuple[str, ...] = ("\n\n", "\n", ". ", " "),
    chunk_size: int = CHUNK_SIZE,
    chunk_overlap: int = CHUNK_OVERLAP,
) -> list[str]:
    """T1: recursive separator-cascade chunking
    (RAGPipeline.js:260-303, `_splitRecursive`)."""
    if len(text) <= chunk_size:
        return [text]

    separator = separators[0]
    parts = text.split(separator)
    chunks: list[str] = []
    current = ""
    for part in parts:
        candidate = current + separator + part if current else part
        if len(candidate) > chunk_size and current:
            chunks.append(current)
            # overlap: keep the tail of the current chunk (:277-282)
            overlap_text = current[-chunk_overlap:] if chunk_overlap else ""
            current = overlap_text + separator + part
        else:
            current = candidate
    if current:
        chunks.append(current)

    if len(separators) > 1:
        refined: list[str] = []
        for chunk in chunks:
            if len(chunk) > chunk_size * 1.5:
                refined.extend(
                    split_recursive(chunk, separators[1:], chunk_size, chunk_overlap)
                )
            else:
                refined.append(chunk)
        return refined
    return chunks


def sentence_chunk(
    text: str, chunk_size: int = CHUNK_SIZE, chunk_overlap: int = CHUNK_OVERLAP
) -> list[str]:
    """T2: sentence packing with tail overlap (RAGPipeline.js:306-321)."""
    sentences = re.findall(r"[^.!?]+[.!?]+", text) or [text]
    chunks: list[str] = []
    current = ""
    for sentence in sentences:
        if len(current + sentence) > chunk_size and current:
            chunks.append(current.strip())
            current = current[-chunk_overlap:] + sentence if chunk_overlap else sentence
        else:
            current += sentence
    if current.strip():
        chunks.append(current.strip())
    return chunks


def paragraph_chunk(text: str, chunk_size: int = CHUNK_SIZE) -> list[str]:
    """T3: paragraph packing (RAGPipeline.js:324-339)."""
    paragraphs = re.split(r"\n\n+", text)
    chunks: list[str] = []
    current = ""
    for para in paragraphs:
        if len(current + "\n\n" + para) > chunk_size and current:
            chunks.append(current.strip())
            current = para
        else:
            current = current + "\n\n" + para if current else para
    if current.strip():
        chunks.append(current.strip())
    return chunks


#: strategy → chunker(text, chunk_size, chunk_overlap)
CHUNKERS = {
    "recursive": lambda text, size, overlap: split_recursive(
        text, chunk_size=size, chunk_overlap=overlap
    ),
    "sentence": sentence_chunk,
    "paragraph": lambda text, size, _overlap: paragraph_chunk(text, size),
}


# ── Spark wrapper ─────────────────────────────────────────────────────────

CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("chunk_index", IntegerType()),
        StructField("total_chunks", IntegerType()),
        StructField("chunk_text", StringType()),
    ]
)


def chunk_documents(
    documents: DataFrame,
    strategy: str = "recursive",
    chunk_size: int = CHUNK_SIZE,
    chunk_overlap: int = CHUNK_OVERLAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Explode documents into chunk rows with the reference's metadata shape
    (chunk_index / total_chunks, RAGPipeline.js:111-120).  Arrow-batched
    mapInPandas; one Python pass per partition."""
    chunker = CHUNKERS[strategy]
    src = documents.select(
        F.col(id_col).cast("string").alias("doc_id"), F.col(text_col).alias("text")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "chunk_index": [], "total_chunks": [], "chunk_text": []
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                chunks = chunker(text or "", chunk_size, chunk_overlap)
                n = len(chunks)
                for i, c in enumerate(chunks):
                    out["doc_id"].append(doc_id)
                    out["chunk_index"].append(i)
                    out["total_chunks"].append(n)
                    out["chunk_text"].append(c)
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=CHUNK_SCHEMA)

