"""Driver contract for the spark-graft builder (PySpark target).

Thin view over fusionspark.queries.REGISTRY — every implemented operator
from SURVEY.md §2 registers a (Spark callable, DuckDB oracle SQL) pair
there; see fusionspark/queries/*.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fusionspark.queries import REGISTRY, load_all  # noqa: E402

load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's hallmark hybrid retrieval — keyword (TF
    saturation) + vector (exact cosine) + tree-fallback branches fused with
    weighted Reciprocal Rank Fusion (SURVEY §3.2; HybridRetriever.js:115-362)
    over sf0.001."""
    from fusionspark.queries.text_queries import rrf_fusion

    return rrf_fusion(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
