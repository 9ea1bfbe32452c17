"""Top-k-per-probe vector search — the Spark-native replacement for the
reference's HNSW beam search (`/root/reference/src/core/HNSWIndex.js:245-320`).

HNSW is a sequential pointer-chasing graph; its *contract* is approximate
k-NN.  At Spark altitude the same contract is an exact top-k theta join:

    probes (small)  ×broadcast×  corpus (huge, Parquet)
        → score expression → per-probe top-k

Scale design (100 TB corpus, 1000 executors):
- probes are broadcast — the corpus NEVER shuffles for scoring;
- filters (tenant / metadata / TTL) are applied BEFORE scoring so they push
  down to the Parquet scan (the reference post-filters after candidate
  generation and can return < k rows — we do strictly better, SURVEY V7);
- scoring has three strategies:
    * expression (default): fixed-dimension unrolled multiply-adds —
      ordinary codegen'd expressions (higher-order functions are
      CodegenFallback and run ~100× slower interpreted).  Bit-identical to
      a sequential left-to-right loop → oracle-exact.
    * numpy: Arrow-batched mapInPandas doing a float64 GEMM
      (batch × probes) per partition plus the partition-local top-k —
      the high-throughput path for large probe batches.
    * window-only fallback for unknown dimension (HOF expression).
- top-k reduces in two phases: per-partition local top-k, then a global
  window over `partitions × probes × k` rows — the shuffle carries
  kilobytes, not the corpus;
- the IVF path (operators/ann.py) turns the full scan into an
  inverted-list pruned scan for 10-100× less IO at scale.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fusionspark.functions import vector as V


def vector_dim(df: DataFrame, vector_col: str) -> int | None:
    """Dimension of the (fixed-width) vector column, from one row."""
    row = df.select(F.size(vector_col).alias("d")).first()
    return None if row is None else row["d"]


def id_sql_type(df: DataFrame, col: str) -> str:
    """Declared Arrow/SQL type for an id column — derived per side (a string
    probe_id with a bigint corpus id must not inherit the corpus type)."""
    dt = dict(df.dtypes)[col]
    if dt == "string":
        return "string"
    if dt in ("bigint", "int", "smallint", "tinyint"):
        return "long"
    raise TypeError(f"unsupported id column type {dt!r} for {col!r}")


def score_probes(
    corpus: DataFrame,
    probes: DataFrame,
    metric: str = "cosine",
    vector_col: str = "embedding",
    probe_vector_col: str = "probe_embedding",
    pre_filter: Column | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Broadcast-join probes onto the corpus and compute distance + score.
    For cosine, per-side norms are computed once per row before the join."""
    if pre_filter is not None:
        corpus = corpus.filter(pre_filter)
    if dim is None:
        dim = vector_dim(corpus, vector_col)
    if metric == "cosine" and dim is not None:
        corpus = corpus.withColumn("_nrm", V.l2_norm(vector_col, dim))
        probes = probes.withColumn("_pnrm", V.l2_norm(probe_vector_col, dim))
        joined = corpus.crossJoin(F.broadcast(probes))
        denom = F.col("_nrm") * F.col("_pnrm")
        sim = F.when(
            denom > 0,
            V.dot_product(F.col(vector_col), F.col(probe_vector_col), dim) / denom,
        ).otherwise(F.lit(0.0))
        dist = F.lit(1.0) - sim
        return (
            joined.withColumn("distance", dist)
            .withColumn("score", F.lit(1.0) - F.col("distance"))
            .drop("_nrm", "_pnrm")
        )
    joined = corpus.crossJoin(F.broadcast(probes))
    dist = V.distance(metric, F.col(vector_col), F.col(probe_vector_col), dim)
    return joined.withColumn("distance", dist).withColumn(
        "score", V.score_from_distance(metric, F.col("distance"))
    )


def knn(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    vector_col: str = "embedding",
    probe_vector_col: str = "probe_embedding",
    probe_id_col: str = "probe_id",
    id_col: str = "vec_id",
    pre_filter: Column | None = None,
    strategy: str = "window",
    keep_cols: tuple[str, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """Exact k-NN for every probe row.

    Returns (probe_id, <id_col>, distance, score, rank) with rank 1..k per
    probe, ties broken by id ASC for determinism (FIXTURES.md rule).

    strategy: "window" (score expr + one window), "partitioned" (expr +
    per-partition top-k pre-reduction), "numpy" (GEMM scoring + local top-k
    in one Arrow pass — highest throughput for many probes).

    `keep_cols` carries corpus columns through to each hit ("window"
    only), so a caller needs no join back by id.  `dim`, the vector width
    when the caller knows it, saves `score_probes` a `.first()` job to
    read it from the corpus.
    """
    if keep_cols and strategy != "window":
        raise ValueError("keep_cols needs strategy='window'")
    if strategy == "numpy":
        scored = _numpy_score_topk(
            corpus, probes, k, metric, vector_col, probe_vector_col,
            probe_id_col, id_col, pre_filter,
        )
    else:
        scored = score_probes(
            corpus, probes, metric, vector_col, probe_vector_col, pre_filter,
            dim,
        )
        # drop the vector payloads before the top-k shuffle — the window
        # exchange should carry (ids, distance), not the embeddings
        scored = scored.select(probe_id_col, id_col, "distance", "score",
                               *keep_cols)
        if strategy == "partitioned":
            scored = _local_topk(scored, k, probe_id_col, id_col)
    w = Window.partitionBy(probe_id_col).orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, "distance", "score", "rank", *keep_cols)
    )


def _local_topk(scored: DataFrame, k: int, probe_id_col: str, id_col: str) -> DataFrame:
    """Per-partition top-k pre-reduction: shrinks the window-shuffle input
    from |corpus|×|probes| rows to num_partitions×|probes|×k rows."""
    out_schema = scored.select(probe_id_col, id_col, "distance", "score").schema

    def reduce_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[pd.DataFrame] = []
        for pdf in batches:
            acc.append(
                pdf.sort_values(["distance", id_col])
                .groupby(probe_id_col, sort=False)
                .head(k)[[probe_id_col, id_col, "distance", "score"]]
            )
        if acc:
            merged = pd.concat(acc, ignore_index=True)
            yield (
                merged.sort_values(["distance", id_col])
                .groupby(probe_id_col, sort=False)
                .head(k)
            )

    return scored.mapInPandas(reduce_partition, schema=out_schema)


def _numpy_score_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    metric: str,
    vector_col: str,
    probe_vector_col: str,
    probe_id_col: str,
    id_col: str,
    pre_filter: Column | None,
) -> DataFrame:
    """Score + partition-local top-k in one Arrow pass: the probe matrix is
    tiny (collected to the driver, shipped in the task closure); each
    Arrow batch keeps its exact (distance, id) top-k per probe through the
    serving kernel (GEMM candidates, row-local re-score — so a row's
    distance does not depend on the batch it lands in).  Output:
    batches × probes × k rows for the global window."""
    from fusionspark.operators.serving import _prepare, _scored_topk

    if pre_filter is not None:
        corpus = corpus.filter(pre_filter)
    probe_rows = probes.select(probe_id_col, probe_vector_col).collect()
    probe_ids = np.asarray([r[probe_id_col] for r in probe_rows])
    P = np.asarray([r[probe_vector_col] for r in probe_rows], dtype=np.float64)

    src = corpus.select(F.col(id_col), F.col(vector_col).alias("_v"))
    out_schema = (
        f"{probe_id_col} {id_sql_type(probes, probe_id_col)}, "
        f"{id_col} {id_sql_type(corpus, id_col)}, distance double, score double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts: list[pd.DataFrame] = []
        for pdf in batches:
            if not len(pdf) or not len(P):
                continue
            E = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            M, v2 = _prepare(E, metric)
            Dk, Ik = _scored_topk(P, M, pdf[id_col].to_numpy(), k, metric, v2)
            d = Dk.ravel()
            parts.append(
                pd.DataFrame(
                    {
                        probe_id_col: np.repeat(probe_ids, Dk.shape[1]),
                        id_col: Ik.ravel(),
                        "distance": d,
                        "score": 1.0 - d,
                    }
                )
            )
        if parts:
            merged = pd.concat(parts, ignore_index=True)
            yield (
                merged.sort_values(["distance", id_col])
                .groupby(probe_id_col, sort=False)
                .head(k)
            )

    return src.mapInPandas(run, schema=out_schema)


def self_probes(
    corpus: DataFrame,
    n_probes: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Deterministic probe set: first `n_probes` corpus rows by id
    (FIXTURES.md: probes come from the table itself)."""
    return (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_probes)
        .select(
            F.col(id_col).alias("probe_id"),
            F.col(vector_col).alias("probe_embedding"),
        )
    )
