"""fusionspark — a PySpark-native analytics engine with the query and
data-processing capabilities of FusionpactTech/fusionpact-vectordb.

The reference (/root/reference, ~6.3k LoC Node.js) is an in-memory vector
database (HNSW) + hierarchical document index + BM25-ish keyword search,
fused with Reciprocal Rank Fusion, plus agent memory, a RAG pipeline, and a
learning layer.  This package re-expresses every one of its data operators
as idiomatic Spark DataFrame/SQL plans designed for 100 TB scale:

- vectors are rows of a Parquet/Delta table, not graph nodes;
- k-NN is an exact top-k-per-probe broadcast join (HNSW approximates exactly
  this contract), with LSH / IVF partition-pruned variants as the scale path;
- every filter is pushed BEFORE candidate generation (the reference
  post-filters, losing recall — see SURVEY.md V7);
- all scoring expressions stay JVM-side (zip_with/aggregate, codegen),
  Python appears only in Arrow-batched pandas UDFs (chunkers, embedders).
"""

from fusionspark.session import get_spark
from fusionspark.io import load_tables, TABLES


def create(
    root: str | None = None,
    embedder: str = "mock",
    spark=None,
    **provider_kw,
):
    """One-call factory mirroring the reference's `create()` entry point
    (src/index.js:83-118): a ready engine with the chosen embedding
    provider ('mock' | 'ollama' | 'openai').  Every collection it owns is
    a manifest table (storage/manifest.py): atomic commits for concurrent
    writers, each reclaiming the files it replaced, and no time travel.
    Returns the engine; the HTTP/tool surface wraps it via
    fusionspark.server.serve(engine)."""
    import tempfile

    from fusionspark.engine import FusionSparkEngine
    from fusionspark.operators.embedder import HTTPEmbedder, mock_embed

    if spark is None:
        spark = get_spark()
    if embedder == "mock":
        embed_fn = mock_embed
    else:
        embed_fn = HTTPEmbedder(embedder, **provider_kw)
    return FusionSparkEngine(
        spark,
        root or tempfile.mkdtemp(prefix="fusionspark-"),
        embedder=embed_fn,
    )


__all__ = ["get_spark", "load_tables", "TABLES", "create"]
__version__ = "0.2.0"
