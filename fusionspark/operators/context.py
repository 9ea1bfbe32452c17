"""RAG context assembly — SURVEY §2.7 W3.

Reference: /root/reference/src/rag/RAGPipeline.js:219-233 (and the same
greedy loop at HybridRetriever.js:235-254): walk results best-first, keep
while the running Σ ceil(len/4) token estimate stays ≤ maxTokens.

Spark plan: a running-sum window frame (unboundedPreceding → currentRow)
over the score order — the textbook frame-spec use case.  The candidate set
is already top-k (tiny), so the window is a single-partition no-shuffle step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fusionspark.functions.text import token_estimate


def pack_context(
    ranked: DataFrame,
    max_tokens: int = 2000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """W3: greedy token-budget prefix (RAGPipeline.js:219-233).

    Keeps rows whose inclusive running token sum fits the budget.  Note the
    reference's loop `if (tokens + t > max) break` admits a row only if the
    sum INCLUDING it fits — the inclusive rowsBetween frame matches exactly.
    """
    w = (
        Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranked.withColumn("tokens", token_estimate(text_col))
        .withColumn("running_tokens", F.sum("tokens").over(w))
        .filter(F.col("running_tokens") <= max_tokens)
    )


def pack_rows(ranked: list[tuple], max_tokens: int = 2000) -> list[tuple]:
    """pack_context on the driver over (id, score, text) rows: by score DESC
    then id ASC, keep rows while the inclusive running sum of
    ceil(len(text)/4) tokens fits the budget (tokens are never negative,
    so the first row that overflows ends the pack)."""
    out, used = [], 0
    for row in sorted(ranked, key=lambda r: (-r[1], r[0])):
        used += -(-len(row[2]) // 4)
        if used > max_tokens:
            break
        out.append(row)
    return out
