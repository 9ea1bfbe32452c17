"""Embedding-matrix spectral analytics: exact integer Gram/covariance and
a cross-engine bit-deterministic power-iteration PCA.

Not in the reference (north-star additions): a 100 TB curation pipeline
needs distribution-level views of its embedding space — which dimensions
co-vary (encoder redundancy / collapsed dims), the principal axis of the
corpus (domain drift summaries, whitening, PCA-guided sharding), and each
document's coordinate along it (outlier triage, curriculum ordering).

Determinism contract (the whole module is built around it):

* Vectors are quantized once, ``x_int = floor(double(x) * SCALE)`` —
  ``floor`` is exact in IEEE double on every engine, so the quantization
  is bit-identical wherever it runs.
* All second-moment sums (Gram, means, counts) are exact BIGINT
  arithmetic — associative, overflow-checked by construction
  (|x_int| <= SCALE, so a partition of P rows holds Σx·x <= P·SCALE² and
  n·Σxy fits int64 up to n ≈ 9.2e18 / SCALE² / n ≈ 30k rows at
  SCALE=1e5; shrink SCALE for bigger corpora — the quantization IS the
  spec, both engines see the same grid).
* Everything after the integer moments (the power iteration, the doc
  projections) folds doubles LEFT-TO-RIGHT over explicitly ordered lists
  (``F.aggregate`` over ``array_sort(collect_list(...))`` here,
  ``list_reduce(list(... ORDER BY ...))`` in the DuckDB oracles).  With
  identical inputs and identical fold order, IEEE +,*,/ and sqrt are
  correctly rounded everywhere — the iterate stays BIT-identical across
  engines, not merely close.

Scale shape: one Arrow ``mapInPandas`` pass emits per-partition integer
partial Gram blocks (d² + d + 1 rows per partition — vectors never
shuffle); one tiny groupBy finishes the reduction; the 64×64 iteration is
driver-scale math done as joins over a 4096-row frame; the per-doc
projection broadcasts 2·d doubles and runs as whole-stage-codegen array
expressions with zero shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 100_000  # quantization grid; |x|<1 → |x_int| <= 1e5


def _ordered_fold(key_col: str, term) -> F.Column:
    """Left-to-right sum of ``term`` ordered by ``key_col`` — the
    engine-independent fold (see module docstring)."""
    return F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col(key_col).alias("k"), term.alias("t")))),
        F.lit(0.0),
        lambda acc, s: acc + s["t"],
    )


def quantize(vec_col: str = "embedding", scale: int = SCALE) -> F.Column:
    """array<float> → array<long> on the shared integer grid."""
    return F.transform(
        F.col(vec_col),
        lambda e: F.floor(e.cast("double") * F.lit(float(scale))).cast("long"),
    )


def gram_int(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64, scale: int = SCALE
) -> DataFrame:
    """Exact integer second moments of the (quantized) embedding matrix.

    Returns a long frame with three row kinds:
      * ``i >= 0, j >= 0`` — Σ x_int[i]·x_int[j] (full d×d, BIGINT)
      * ``i == -1``        — Σ x_int[j] per dimension j
      * ``i == -2``        — row count (j == -2)

    One Arrow pass computes per-partition partials with an int64 GEMM
    (d=64: 4096 + 64 + 1 partial rows per partition); vectors never leave
    their partition — only the tiny partials shuffle into one groupBy.
    """

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        G = np.zeros((dim, dim), dtype=np.int64)
        sx = np.zeros(dim, dtype=np.int64)
        cnt = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Xi = np.floor(X * float(scale)).astype(np.int64)
            G += Xi.T @ Xi
            sx += Xi.sum(axis=0)
            cnt += len(pdf)
        if cnt == 0:
            return
        ii, jj = np.indices((dim, dim))
        yield pd.DataFrame(
            {
                "i": np.concatenate([ii.ravel(), np.full(dim, -1), [-2]]),
                "j": np.concatenate([jj.ravel(), np.arange(dim), [-2]]),
                "s": np.concatenate([G.ravel(), sx, [cnt]]),
            }
        )

    part = df.select(vec_col).mapInPandas(partials, schema="i int, j int, s long")
    return part.groupBy("i", "j").agg(F.sum("s").cast("long").alias("s"))


def covariance_int(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64, scale: int = SCALE
) -> DataFrame:
    """Full d×d scaled-covariance matrix as exact BIGINTs.

    ``c_int[i,j] = n·Σxy − Σx·Σy`` (covariance × n² × scale², exact);
    the true covariance is ``c_int / (n² · scale²)``.  Columns:
    (i, j, c_int, n)."""
    return covariance_from_gram(
        gram_int(df, vec_col=vec_col, dim=dim, scale=scale), scale=scale
    )


def covariance_from_gram(g: DataFrame, scale: int = SCALE) -> DataFrame:
    """covariance_int from an already-computed Gram frame, so the corpus
    is not rescanned."""
    sxy = g.filter(F.col("i") >= 0)
    sx = g.filter(F.col("i") == -1).select(F.col("j"), F.col("s").alias("sx"))
    # loud overflow guard on the documented bound |n·Σxy| ≤ n²·scale²:
    # routed through the n VALUE (a bare assert_true column would be
    # pruned by Catalyst) so exceeding the exact-int64 envelope fails the
    # job instead of silently wrapping — shrink `scale` to go bigger
    n_ok = (
        F.col("s").cast("double") * F.col("s").cast("double") * F.lit(float(scale) ** 2)
        < F.lit(9.2e18)
    )
    n = g.filter(F.col("i") == -2).select(
        F.when(n_ok, F.col("s"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "covariance_int: n²·scale² exceeds int64 — reduce `scale` "
                    "for this corpus size (the grid is the spec)"
                )
            )
        )
        .alias("n")
    )
    return (
        sxy.crossJoin(F.broadcast(n))
        .join(F.broadcast(sx.withColumnsRenamed({"j": "i", "sx": "sx_i"})), "i")
        .join(F.broadcast(sx.withColumnsRenamed({"sx": "sx_j"})), "j")
        .select(
            "i",
            "j",
            (F.col("n") * F.col("s") - F.col("sx_i") * F.col("sx_j")).alias("c_int"),
            "n",
        )
    )


def _cov_double(c: DataFrame, scale: int = SCALE) -> DataFrame:
    """(i, j, c) with c = c_int / (double(n·n) · scale²) — one division,
    identical expression tree in the oracles."""
    return c.select(
        "i",
        "j",
        (
            F.col("c_int").cast("double")
            / ((F.col("n") * F.col("n")).cast("double") * F.lit(float(scale) ** 2))
        ).alias("c"),
        "n",
    )


def covariance_topk(
    df: DataFrame, k: int = 20, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Top-k most-covarying dimension pairs (i < j) by |c_int| — the
    ordering compares exact BIGINTs, so the cut is engine-deterministic;
    ties break on (i, j).  Returns 1-based (dim_i, dim_j, cov)."""
    ci = covariance_int(df, vec_col=vec_col, dim=dim)
    c = ci.withColumn(
        "c",
        F.col("c_int").cast("double")
        / ((F.col("n") * F.col("n")).cast("double") * F.lit(float(SCALE) ** 2)),
    )
    return (
        c.filter(F.col("i") < F.col("j"))
        .orderBy(F.abs(F.col("c_int")).desc(), F.col("i").asc(), F.col("j").asc())
        .limit(k)
        .select(
            (F.col("i") + 1).cast("long").alias("dim_i"),
            (F.col("j") + 1).cast("long").alias("dim_j"),
            F.round("c", 6).alias("cov"),
        )
    )


def _power_vector(
    df: DataFrame,
    iters: int = 8,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Unrounded signed top-eigenvector iterate: (j 0-based, v, nrm) from
    one fresh Gram pass — see _power_vector_from_gram."""
    return _power_vector_from_gram(
        gram_int(df, vec_col=vec_col, dim=dim), iters=iters, dim=dim
    )


def _power_vector_from_gram(
    g: DataFrame,
    iters: int = 8,
    dim: int = 64,
    scale: int = SCALE,
) -> DataFrame:
    """Unrounded signed top-eigenvector iterate: (j 0-based, v, nrm).
    Shared by pca_top_component (display rounding) and pca_scores (folds
    the raw doubles — rounding mid-chain would desync from the oracle;
    pca_scores passes a checkpointed Gram so the corpus scans ONCE).
    Sign convention: the largest-|loading| dimension (lowest index on
    ties) is non-negative."""
    if dim != 64:
        raise NotImplementedError("v0 = 1/sqrt(dim) must be exactly representable")
    # materialize the 4096-row matrix once; each iteration reads w twice
    # (normalizer + update), so without a lineage cut the plan tree would
    # double per iteration (the dedup_clusters/k-core iteration rule)
    cmat = (
        _cov_double(covariance_from_gram(g, scale=scale), scale=scale)
        .select("i", "j", "c")
        .localCheckpoint(eager=True)
    )
    spark = g.sparkSession
    v = spark.range(dim).select(F.col("id").cast("int").alias("j"), F.lit(0.125).alias("v"))
    nrm = None
    for _ in range(iters):
        w = (
            cmat.join(v, "j")
            .groupBy("i")
            .agg(_ordered_fold("j", F.col("c") * F.col("v")).alias("w"))
            .localCheckpoint(eager=True)
        )
        nrm = w.agg(
            F.sqrt(_ordered_fold("i", F.col("w") * F.col("w"))).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"), (F.col("w") / F.col("nrm")).alias("v")
        )
    sgn = (
        v.orderBy(F.abs(F.col("v")).desc(), F.col("j").asc())
        .limit(1)
        .select(F.when(F.col("v") >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("sgn"))
    )
    return (
        v.crossJoin(F.broadcast(sgn))
        .crossJoin(F.broadcast(nrm))
        .select(
            "j",
            (F.col("v") * F.col("sgn")).alias("v"),
            F.col("nrm"),
        )
    )


def pca_top_component(
    df: DataFrame,
    iters: int = 8,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top principal axis of the quantized covariance by ``iters`` power
    iterations from the exact uniform start v0 = 1/√d (d=64 → 0.125,
    representable).  Every per-dimension sum is a left-to-right ordered
    fold, so the iterate is bit-identical wherever it is replayed.
    Returns (dim 1-based, loading, eigval) with eigval = ‖C·v‖ of the
    final iteration; rounding happens HERE only (display), never inside
    the chain."""
    return _power_vector(df, iters=iters, vec_col=vec_col, dim=dim).select(
        (F.col("j") + 1).cast("long").alias("dim"),
        F.round("v", 6).alias("loading"),
        F.round("nrm", 6).alias("eigval"),
    )


def spectrum_stats(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64, scale: int = SCALE
) -> DataFrame:
    """Closed-form spectral summary of the embedding covariance — no
    iteration, so unlike the power method it is exact for any spectrum:

      * ``total_variance``  = tr(C)   = Σ eigenvalues
      * ``frobenius``       = tr(C²)  = Σ eigenvalues²   (‖C‖_F²)
      * ``effective_rank``  = tr(C)²/tr(C²) — the participation ratio,
        64 for an isotropic space, →1 as the corpus collapses onto one
        axis (anisotropy / encoder-collapse diagnostic); defined as 0
        for a zero-variance corpus (n = 1 or all-identical vectors —
        maximal collapse must alarm as a number, not a NULL).

    Both traces are left-to-right ordered folds over the exact-integer
    covariance (bit-identical across engines); division happens once."""
    return spectrum_from_gram(
        gram_int(df, vec_col=vec_col, dim=dim, scale=scale), dim=dim, scale=scale
    )


def spectrum_from_gram(
    g: DataFrame, dim: int = 64, scale: int = SCALE
) -> DataFrame:
    """spectrum_stats from an existing Gram frame (a slice Gram already
    computed by drift)."""
    c = _cov_double(covariance_from_gram(g, scale=scale), scale=scale).select(
        "i", "j", "c"
    )
    tv = c.filter(F.col("i") == F.col("j")).agg(_ordered_fold("i", F.col("c")).alias("tv"))
    fr = (
        c.withColumn("k", (F.col("i").cast("long") * dim + F.col("j")))
        .agg(_ordered_fold("k", F.col("c") * F.col("c")).alias("fr"))
    )
    return tv.crossJoin(fr).select(
        F.round("tv", 6).alias("total_variance"),
        F.round("fr", 6).alias("frobenius"),
        F.round(
            F.when(F.col("fr") != 0.0, F.col("tv") * F.col("tv") / F.col("fr"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("effective_rank"),
    )


def pca_scores(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Per-row projection onto the top principal axis, mean-centered in
    exact integer space: score = Σ_j double(n·x_int[j] − Σx[j]) · v[j]
    / (double(n)·scale), folded j-ascending.  The 2·d-value (Σx, v)
    state broadcasts; scoring is whole-stage-codegen array math — zero
    shuffle on the corpus.  The Gram frame is checkpointed and shared by
    the power iteration AND the Σx/n extraction, so the corpus pays ONE
    moments scan (plus the scoring pass), not two."""
    g = gram_int(df, vec_col=vec_col, dim=dim).localCheckpoint(eager=True)
    comp = _power_vector_from_gram(g, iters=iters, dim=dim)
    varr = comp.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "v"))), lambda s: s["v"]
        ).alias("varr")
    )
    sxarr = (
        g.filter(F.col("i") == -1)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "s"))), lambda s: s["s"]
            ).alias("sxarr")
        )
    )
    n = g.filter(F.col("i") == -2).select(F.col("s").alias("n"))
    state = varr.crossJoin(sxarr).crossJoin(n)
    xi = quantize(vec_col).alias("xi")
    scored = df.select(id_col, xi).crossJoin(F.broadcast(state))
    terms = F.transform(
        F.col("xi"),
        lambda x, k: (F.col("n") * x - F.element_at(F.col("sxarr"), k + 1)).cast("double")
        * F.element_at(F.col("varr"), k + 1),
    )
    score = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t) / (
        F.col("n").cast("double") * F.lit(float(SCALE))
    )
    return scored.select(id_col, F.round(score, 6).alias("pc1_score"))


def drift(
    a: DataFrame, b: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Distribution shift between two corpus slices (snapshot vs snapshot,
    domain vs domain): exact mean-vector displacement plus each slice's
    spectral shape.

    ``mean_shift`` = ‖mean_A − mean_B‖ with the difference formed in exact
    integer space — per dim, num_j = n_B·Σx_A[j] − n_A·Σx_B[j] (BIGINT),
    squared and summed in decimal(38,0) (num_j ≤ n²·scale ≈ 4e11 would
    overflow int64 when squared), one sqrt + division at display.  The
    spectral columns come from the SAME two Gram frames (checkpointed —
    4,161 rows each — and fed to spectrum_from_gram): a drop in
    effective rank between snapshots is the embedding-collapse /
    mode-collapse alarm, a large mean_shift is domain drift.

    Scale shape: exactly two gram_int partial passes, one per slice
    (corpus never shuffles) + tiny broadcast joins — identical envelope
    to the rest of the family.
    """
    ga = gram_int(a, vec_col=vec_col, dim=dim).localCheckpoint(eager=True)
    gb = gram_int(b, vec_col=vec_col, dim=dim).localCheckpoint(eager=True)
    sxa = ga.filter(F.col("i") == -1).select("j", F.col("s").alias("sxa"))
    sxb = gb.filter(F.col("i") == -1).select("j", F.col("s").alias("sxb"))
    na = ga.filter(F.col("i") == -2).select(F.col("s").alias("na"))
    nb = gb.filter(F.col("i") == -2).select(F.col("s").alias("nb"))
    num = (
        sxa.join(sxb, "j")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            (
                (F.col("nb") * F.col("sxa") - F.col("na") * F.col("sxb"))
            ).cast("decimal(19,0)").alias("num"),
            "na",
            "nb",
        )
    )
    ssq = num.groupBy("na", "nb").agg(
        F.sum(F.col("num") * F.col("num")).alias("ssq")
    )
    shift = ssq.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(
            F.sqrt(F.col("ssq").cast("double"))
            / (
                F.col("na").cast("double")
                * F.col("nb").cast("double")
                * F.lit(float(SCALE))
            ),
            6,
        ).alias("mean_shift"),
    )
    ea = spectrum_from_gram(ga, dim=dim).select(
        F.col("effective_rank").alias("er_a")
    )
    eb = spectrum_from_gram(gb, dim=dim).select(
        F.col("effective_rank").alias("er_b")
    )
    return shift.crossJoin(ea).crossJoin(eb)


def moments_int(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64, scale: int = SCALE
) -> DataFrame:
    """First moments only — (j, s) with Σ x_int[j] for j ≥ 0 and the row
    count at j == -2.  The gram_int partial pass minus the d² GEMM: what
    centroid-distance scoring needs, at 1/d the partial size (a 100 TB
    outlier scan should not pay for a covariance it never reads)."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sx = np.zeros(dim, dtype=np.int64)
        cnt = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            sx += np.floor(X * float(scale)).astype(np.int64).sum(axis=0)
            cnt += len(pdf)
        if cnt == 0:
            return
        yield pd.DataFrame(
            {
                "j": np.concatenate([np.arange(dim), [-2]]),
                "s": np.concatenate([sx, [cnt]]),
            }
        )

    part = df.select(vec_col).mapInPandas(partials, schema="j int, s long")
    return part.groupBy("j").agg(F.sum("s").cast("long").alias("s"))


def centroid_outliers(
    df: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = SCALE,
) -> DataFrame:
    """Top-k vectors by EXACT distance from the corpus centroid — the
    corrupt-embedding screen (all-zero rows, saturated encoders, wrong
    preprocessing land far from the mean).  Per vector,
    d²_int = Σ_j (n·x_int[j] − Σx[j])² in the quantized integer space:
    each term is BIGINT (|n·x − Σx| ≤ 2n·scale), the 64-term sum
    accumulates in decimal(38,0) (HUGEINT in the oracle), so the RANKING
    key is exact — cross-engine ties are impossible except on true
    equality, broken by id.  sqrt + /(n·scale) once at display.

    Scale shape: one moments_int partial pass (vectors never shuffle) +
    a 2·d-value broadcast; scoring is whole-stage-codegen array math and
    the cut is a TakeOrdered — zero shuffle on the corpus."""
    # the 65-row moments frame feeds BOTH the Σx array and the n scalar —
    # checkpoint it so the corpus pays ONE partial pass (the pca_scores
    # shared-Gram rule)
    m = moments_int(df, vec_col=vec_col, dim=dim, scale=scale).localCheckpoint(
        eager=True
    )
    sxrow = m.filter(F.col("j") >= 0).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "s"))), lambda s: s["s"]
        ).alias("sxarr")
    )
    nrow = m.filter(F.col("j") == -2).select(F.col("s").alias("n"))
    d2 = F.aggregate(
        F.zip_with(
            quantize(vec_col, scale),
            F.col("sxarr"),
            lambda x, s: (F.col("n") * x - s).cast("decimal(19,0)"),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, r: acc + r * r,
    )
    return (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(sxrow))
        .crossJoin(F.broadcast(nrow))
        .select(id_col, F.col("n"), d2.alias("d2"))
        .orderBy(F.col("d2").desc(), F.col(id_col).asc())
        .limit(k)
        .select(
            id_col,
            F.round(
                F.sqrt(F.col("d2").cast("double"))
                / (F.col("n").cast("double") * F.lit(float(scale))),
                6,
            ).alias("dist"),
        )
    )
