"""Hybrid-retrieval fusion — SURVEY §2.5 (F1-F7, W1).

Reference: /root/reference/src/retrieval/HybridRetriever.js:115-219 (branch
dispatch + over-fetch), :308-333 (merge), :336-362 (weighted RRF, rrfK=60).

Spark plan: each strategy contributes a ranked DataFrame (id, score); rank
is a per-strategy window (W1), fusion is a groupBy-id aggregate of
w/(rrfK+rank) — the shuffle carries only the over-fetched candidate ids
(strategies × 2k rows), never the corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_K = 60                     # HybridRetriever.js:78
DEFAULT_WEIGHTS = {"vector": 0.4, "tree": 0.4, "keyword": 0.2}  # :72-77
OVERFETCH = 2                  # per-strategy fetch factor (:136,163-169,191)


def rank_strategy(results: DataFrame, strategy: str, id_col: str = "doc_id") -> DataFrame:
    """F1/W1: 1-based rank in score-desc order within one strategy
    (HybridRetriever.js:142-199 `rank: i+1`)."""
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return results.select(
        F.col(id_col),
        F.col("score"),
        F.lit(strategy).alias("strategy"),
        F.row_number().over(w).alias("rank"),
    )


def rrf_fuse(
    branches: dict[str, DataFrame],
    top_k: int = 10,
    weights: dict[str, float] | None = None,
    rrf_k: int = RRF_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """F3+F4: union ranked branches, merge by id, fused score
    Σ_s w_s / (rrfK + rank_s) — HybridRetriever.js:336-362.

    Returns (id, fused_score, n_strategies, best_rank, top-k rows).
    """
    weights = weights or DEFAULT_WEIGHTS
    ranked = [rank_strategy(df, name, id_col) for name, df in branches.items()]
    unioned = ranked[0]
    for r in ranked[1:]:
        unioned = unioned.unionByName(r)
    wexpr = F.coalesce(
        *[
            F.when(F.col("strategy") == s, F.lit(float(w)))
            for s, w in weights.items()
        ],
        F.lit(0.0),
    )
    contrib = wexpr / (F.lit(float(rrf_k)) + F.col("rank").cast("double"))
    return (
        unioned.withColumn("contrib", contrib)
        .groupBy(id_col)
        .agg(
            F.sum("contrib").alias("fused_score"),
            F.count("*").alias("n_strategies"),
            F.min("rank").alias("best_rank"),
        )
        .orderBy(F.col("fused_score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def rrf_rank(
    branches: dict[str, list[tuple]],
    top_k: int = 10,
    weights: dict[str, float] | None = None,
    rrf_k: int = RRF_K,
) -> list[dict]:
    """rrf_fuse on the driver over ranked (id, score) lists: each branch is
    ranked by score DESC then id ASC; an id's fused score sums its
    w/(rrfK + rank) per branch in rank order, then across branches, as the
    partial and final aggregates do.  A repeated id (one per tenant)
    contributes once per row, like the groupBy.  Returns rrf_fuse's rows
    as dicts (doc_id, fused_score, n_strategies, best_rank)."""
    weights = weights or DEFAULT_WEIGHTS
    fused: dict = {}
    for name, rows in branches.items():
        w = float(weights.get(name, 0.0))
        part: dict = {}
        for rank, (i, _s) in enumerate(sorted(rows, key=lambda r: (-r[1], r[0])), 1):
            s, n, best = part.get(i, (0.0, 0, rank))
            part[i] = (s + w / (float(rrf_k) + rank), n + 1, best)
        for i, (s, n, best) in part.items():
            s0, n0, best0 = fused.get(i, (0.0, 0, best))
            fused[i] = (s0 + s, n0 + n, min(best0, best))
    top = sorted(fused.items(), key=lambda kv: (-kv[1][0], kv[0]))[:top_k]
    return [
        {"doc_id": i, "fused_score": s, "n_strategies": n, "best_rank": best}
        for i, (s, n, best) in top
    ]
