"""Approximate nearest-neighbor search — the scale path for V1.

The reference's HNSW graph (/root/reference/src/core/HNSWIndex.js) is a
single-machine pointer structure; the Spark-native equivalent at 100 TB is
IVF partition pruning:

  build:  choose centroids → assign every vector to its nearest centroid →
          write the corpus partitioned/bucketed by centroid_id
  search: score probe × centroids (tiny broadcast), keep nProbe best lists,
          scan ONLY those partitions (Catalyst partition pruning on
          `centroid_id IN (...)`), exact re-rank inside

Recall < 1 exactly like HNSW; brute-force knn (operators/knn.py) remains the
ground truth.  Centroid choice here is deterministic (first k by id —
reproducible across engines for the oracle); swap in MLlib KMeans at scale
for better cluster geometry, same plan shape.

Scale design (100 TB corpus, 1000 executors):
- the centroid set is TINY (k ≤ a few thousand); it is collected to the
  driver once and folded into a single projection — assignment is a pure
  map, the corpus NEVER shuffles and no window/exchange appears in the plan
  (the round-1 crossJoin+row_number version exchanged corpus×k rows
  *including embedding payloads*);
- `persist_ivf` writes the assignment `partitionBy("centroid_id")` so a
  search reads only the nProbe chosen lists via Catalyst partition pruning
  (PartitionFilters on the parquet scan — the 10-100× IO win);
- the candidate top-k projects vector payloads away BEFORE the per-probe
  window, so the only shuffle carries (probe_id, id, sim) rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fusionspark.functions import vector as V


def deterministic_centroids(
    corpus: DataFrame, k: int, id_col: str = "vec_id", vector_col: str = "embedding"
) -> DataFrame:
    """First k vectors by id as centroids (deterministic; oracle-replicable)."""
    return (
        corpus.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vector_col).alias("centroid"),
        )
    )


def _py_l2_norm(vec: list[float]) -> float:
    """Left-to-right float64 sum-of-squares — matches the unrolled
    l2_norm expression fold order exactly (float32 elements are exact in
    float64, so this is bit-identical to Spark's / DuckDB's value)."""
    acc = 0.0
    for x in vec:
        xx = float(x)
        acc += xx * xx
    return math.sqrt(acc)


def _collect_centroids(centroids: DataFrame) -> list[tuple[int, list[float], float]]:
    """(centroid_id, vector, l2norm) sorted by id — the driver-side codebook
    (k rows; tiny by construction)."""
    rows = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
    out = []
    for r in rows:
        vec = [float(x) for x in r["centroid"]]
        out.append((int(r["centroid_id"]), vec, _py_l2_norm(vec)))
    return out


def _assign_from_rows(
    corpus: DataFrame,
    crows: list[tuple[int, list[float], float]],
    vector_col: str,
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (ties → lower
    centroid_id) as a pure Arrow-batched map — the codebook ships in the
    task closure, so the corpus never shuffles and the plan contains no
    join/window/Exchange.  (The round-1 crossJoin+row_number form exchanged
    corpus×k rows including embedding payloads; an expression-tree argmax
    blows Janino's 64 KB method limit at k×dim terms and de-codegens the
    whole stage.)

    Bit-identical to the oracle's ROW_NUMBER form: the numpy fold below is
    elementwise `acc = acc + E[:,i]·c_i` over i — the SAME left-to-right
    float64 operation sequence per row as the unrolled Spark expression and
    the DuckDB oracle, with no BLAS reassociation — and argmax ties resolve
    to the first (lowest) centroid_id."""
    import numpy as np

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    cids = np.asarray([c[0] for c in crows], dtype=np.int64)
    C = [c[1] for c in crows]
    cnorms = [c[2] for c in crows]
    k = len(C)
    d = len(C[0])

    out_schema = StructType(
        list(corpus.schema.fields)
        + [StructField("c_sim", DoubleType()), StructField("centroid_id", LongType())]
    )

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            E = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vector_col]])
            acc = np.zeros(n)
            for i in range(d):
                acc = acc + E[:, i] * E[:, i]
            vnorm = np.sqrt(acc)
            sims = np.empty((n, k))
            for j in range(k):
                accj = np.zeros(n)
                cj = C[j]
                for i in range(d):
                    accj = accj + E[:, i] * cj[i]
                denom = vnorm * cnorms[j]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims[:, j] = np.where(denom > 0, accj / denom, 0.0)
            best = np.argmax(sims, axis=1)  # ties → first = lowest centroid_id
            out = pdf.copy()
            out["c_sim"] = sims[np.arange(n), best]
            out["centroid_id"] = cids[best]
            yield out

    return corpus.mapInPandas(assign, schema=out_schema)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Public shuffle-free assignment over a centroid DataFrame (collected
    to the driver once — see _assign_from_rows for the scale story)."""
    return _assign_from_rows(corpus, _collect_centroids(centroids), vector_col)


# Largest probe frame the driver-side router will collect.  Above this,
# ivf_search_persisted delegates to ivf_search_distributed's Arrow-map
# routing (probes never reach the driver).  4096 = one GEMM probe block
# (max_group_probes): past that size the batch is throughput-, not
# latency-bound, and the distributed plan is the right one anyway.
ROUTE_COLLECT_MAX = 4096


def _route_probes(
    probes: DataFrame,
    crows: list[tuple[int, list[float], float]],
    n_probe: int,
    probe_id_col: str,
    probe_vector_col: str,
) -> list[tuple]:
    """Driver-side probe→list routing: probes × codebook are both tiny, so
    the n_probe closest lists per probe are computed in plain Python (same
    left-to-right float64 fold as the oracle) — no crossJoin, no window.
    Returns [(probe_id, probe_vector, centroid_id), ...]."""
    recs = []
    for pr in probes.collect():
        pv = [float(x) for x in pr[probe_vector_col]]
        pn = _py_l2_norm(pv)
        scored = []
        for cid, cvec, cnorm in crows:
            acc = 0.0
            for i in range(len(pv)):
                acc += pv[i] * cvec[i]
            denom = pn * cnorm
            scored.append(((acc / denom) if denom > 0 else 0.0, cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        recs.extend((pr[probe_id_col], pr[probe_vector_col], cid) for _s, cid in scored[:n_probe])
    return recs


def _probe_lists_local(
    probes: DataFrame,
    crows: list[tuple[int, list[float], float]],
    n_probe: int,
    probe_id_col: str,
    probe_vector_col: str,
):
    """(probe_lists DataFrame, wanted centroid_id list) from _route_probes."""
    from pyspark.sql.types import LongType, StructField, StructType

    recs = _route_probes(probes, crows, n_probe, probe_id_col, probe_vector_col)
    schema = StructType(
        [
            probes.schema[probe_id_col],
            probes.schema[probe_vector_col],
            StructField("centroid_id", LongType()),
        ]
    )
    return probes.sparkSession.createDataFrame(recs, schema), sorted({r[2] for r in recs})


def _rerank_candidates(
    cand: DataFrame,
    k: int,
    dim: int,
    id_col: str,
    vector_col: str,
    probe_id_col: str,
    probe_vector_col: str,
) -> DataFrame:
    """Exact cosine top-k inside the selected lists.  Payloads are projected
    away before the per-probe window so the shuffle carries only
    (probe_id, id, sim)."""
    scored = cand.withColumn(
        "sim", V.cosine_similarity(F.col(vector_col), F.col(probe_vector_col), dim)
    ).select(probe_id_col, id_col, "sim")
    wk = Window.partitionBy(probe_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(probe_id_col, id_col, "sim", "rnk")
    )


def _partial_topk(sims, ids, pids, k, probe_id_col, id_col):
    """Map-side per-probe top-k over a scored (corpus × probes) sim matrix,
    boundary ties widened like knn so the global window's (sim DESC, id ASC)
    order can't lose a tied row to the partial cut."""
    import numpy as np
    import pandas as pd

    kk = min(k, sims.shape[0])
    # top-k LARGEST per probe; boundary ties widened like knn
    dist = -sims
    idx = np.argpartition(dist, kk - 1, axis=0)[:kk]
    dsel = np.take_along_axis(dist, idx, axis=0)
    sel_p = list(np.repeat(np.asarray(pids), kk))
    sel_i = list(ids[idx.ravel(order="F")])
    sel_s = list(-dsel.ravel(order="F"))
    if kk < dist.shape[0]:
        boundary = dsel.max(axis=0)
        n_total = (dist == boundary[None, :]).sum(axis=0)
        n_inside = (dsel == boundary[None, :]).sum(axis=0)
        for qi in np.flatnonzero(n_total > n_inside):
            extra = np.setdiff1d(
                np.flatnonzero(dist[:, qi] == boundary[qi]), idx[:, qi]
            )
            sel_p.extend([pids[qi]] * len(extra))
            sel_i.extend(ids[extra])
            sel_s.extend(sims[extra, qi])
    return pd.DataFrame({probe_id_col: sel_p, id_col: sel_i, "sim": sel_s})


def _numpy_rerank(
    data: DataFrame,
    probes: DataFrame,
    recs: list[tuple],
    k: int,
    id_col: str,
    vector_col: str,
    probe_id_col: str,
) -> DataFrame:
    """Per-list GEMM rerank for LARGE probe batches: each corpus row is
    scored only against the probes routed to its list (one float64 GEMM per
    (batch, list) group), with a partition-local top-k before the global
    per-probe window — the high-throughput sibling of the expression
    rerank, ulp-level float drift like knn's numpy strategy."""
    import numpy as np
    import pandas as pd

    from fusionspark.operators.knn import id_sql_type

    routing: dict[int, tuple[list, "np.ndarray"]] = {}
    for pid, pvec, cid in recs:
        routing.setdefault(cid, ([], []))
        routing[cid][0].append(pid)
        routing[cid][1].append(np.asarray(pvec, dtype=np.float64))
    routing = {
        cid: (pids, np.vstack(mats)) for cid, (pids, mats) in routing.items()
    }
    for cid, (pids, P) in routing.items():
        pn = np.linalg.norm(P, axis=1)
        pn[pn == 0] = 1.0
        routing[cid] = (pids, P, pn)

    out_schema = (
        f"{probe_id_col} {id_sql_type(probes, probe_id_col)}, "
        f"{id_col} {id_sql_type(data, id_col)}, sim double"
    )
    src = data.select(id_col, vector_col, "centroid_id")

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            parts = []
            for cid, grp in pdf.groupby("centroid_id", sort=False):
                route = routing.get(cid)
                if route is None:
                    continue
                pids, P, pn = route
                E = np.asarray([np.asarray(v, dtype=np.float64) for v in grp[vector_col]])
                en = np.linalg.norm(E, axis=1)
                en[en == 0] = 1.0
                sims = (E @ P.T) / en[:, None] / pn[None, :]
                ids = grp[id_col].to_numpy()
                parts.append(
                    _partial_topk(sims, ids, pids, k, probe_id_col, id_col)
                )
            if parts:
                merged = pd.concat(parts, ignore_index=True)
                merged = merged.sort_values(
                    ["sim", id_col], ascending=[False, True]
                ).groupby(probe_id_col, sort=False).head(k)
                yield merged

    scored = src.mapInPandas(run, schema=out_schema)
    wk = Window.partitionBy(probe_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(probe_id_col, id_col, "sim", "rnk")
    )


def ivf_knn(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vector_col: str = "probe_embedding",
    assigned: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k: per probe, search only the n_probe closest inverted lists.

    Returns (probe_id, vec_id, sim, rnk).  Pass a prebuilt `assigned`
    (+ matching `centroids`) to reuse the index across queries — e.g. from
    `persist_ivf`/`ivf_search_persisted`; building per query is the cold
    path.  Job count is minimal: one collect for the codebook, one for the
    probes, then a single job (scan → assign map → broadcast join → top-k).
    """
    if centroids is None:
        centroids = deterministic_centroids(corpus, n_centroids, id_col, vector_col)
    crows = _collect_centroids(centroids)
    dim = len(crows[0][1])
    if assigned is None:
        assigned = _assign_from_rows(corpus, crows, vector_col)

    probe_lists, wanted = _probe_lists_local(
        probes, crows, n_probe, probe_id_col, probe_vector_col
    )
    cand = assigned.filter(F.col("centroid_id").isin(wanted)).join(
        F.broadcast(probe_lists), "centroid_id"
    )
    return _rerank_candidates(
        cand, k, dim, id_col, vector_col, probe_id_col, probe_vector_col
    )


# ── persisted index layout (the actual 100-TB path) ───────────────────────


def persist_ivf(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> None:
    """Build the IVF index ONCE and write it `partitionBy(centroid_id)`:
    `<path>/data/centroid_id=<c>/…` + `<path>/centroids/`.  Searches then
    read only the chosen lists via Catalyst partition pruning — this is the
    IO win the in-flight semi-join can't give (contract analogue:
    /root/reference/src/core/HNSWIndex.js:245-320 build-once semantics)."""
    if centroids is None:
        centroids = deterministic_centroids(corpus, n_centroids, id_col, vector_col)
    crows = _collect_centroids(centroids)
    assigned = _assign_from_rows(corpus, crows, vector_col)
    (
        # cluster rows by list before the partitioned write: each task then
        # writes whole lists (≈1 file per list) instead of every task
        # writing a sliver of every list (tasks × lists small files)
        assigned.drop("c_sim")
        .repartition(F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/data")
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_search_persisted(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vector_col: str = "probe_embedding",
    strategy: str = "expression",
    pre_filter: F.Column | None = None,
) -> DataFrame:
    """Search a `persist_ivf` index.  The union of each probe's n_probe lists
    becomes a literal IN-filter on the partition column, so the parquet scan
    shows PartitionFilters and touches only those directories.

    strategy: "expression" (codegen'd cosine + window — bit-exact, right
    for few probes) or "numpy" (per-list GEMM — the throughput path for
    large probe batches, where per-row probe joins would explode).

    pre_filter: optional predicate applied to the pruned lists BEFORE
    scoring (V7 pre-filter semantics — candidates that fail the filter
    never occupy a top-k slot; pushes into the pruned scan).

    Probe routing auto-scales: up to ROUTE_COLLECT_MAX probes route
    driver-side (_route_probes — pure Python over probes×codebook, the
    low-latency interactive form); a larger probe frame delegates to
    ivf_search_distributed, whose Arrow-map routing never collects a
    probe to the driver (same routing fold and tie rules, so for
    strategy="numpy" the switch is invisible in results — the
    distributed form scores with the same numpy GEMM).  A caller who
    explicitly asked for strategy="expression" (the codegen'd cosine,
    bit-exact contract) is NOT silently rerouted: the delegated numpy
    scoring can differ at ulp level, so that combination warns before
    delegating (the alternative — collecting >ROUTE_COLLECT_MAX probes
    to the driver — is the scale failure this router exists to prevent).
    The bound is checked with a limit(N+1).count() so the big-frame case
    never pays a full count."""
    n_small = probes.limit(ROUTE_COLLECT_MAX + 1).count()
    if n_small > ROUTE_COLLECT_MAX:
        if strategy != "numpy":
            import warnings

            warnings.warn(
                f"ivf_search_persisted: probe frame exceeds ROUTE_COLLECT_MAX"
                f" ({ROUTE_COLLECT_MAX}); delegating to ivf_search_distributed,"
                f" which scores with numpy GEMM — results may differ at ulp"
                f" level from the requested strategy={strategy!r} expression"
                f" path. Pass strategy='numpy' to silence this.",
                stacklevel=2,
            )
        return ivf_search_distributed(
            spark, path, probes, k=k, n_probe=n_probe,
            id_col=id_col, vector_col=vector_col,
            probe_id_col=probe_id_col, probe_vector_col=probe_vector_col,
            pre_filter=pre_filter,
        )
    crows = _collect_centroids(spark.read.parquet(f"{path}/centroids"))
    dim = len(crows[0][1])
    recs = _route_probes(probes, crows, n_probe, probe_id_col, probe_vector_col)
    wanted = sorted({r[2] for r in recs})
    data = spark.read.parquet(f"{path}/data").filter(F.col("centroid_id").isin(wanted))
    if pre_filter is not None:
        data = data.filter(pre_filter)
    if strategy == "numpy":
        return _numpy_rerank(data, probes, recs, k, id_col, vector_col, probe_id_col)
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            probes.schema[probe_id_col],
            probes.schema[probe_vector_col],
            StructField("centroid_id", LongType()),
        ]
    )
    probe_lists = spark.createDataFrame(recs, schema)
    cand = data.join(F.broadcast(probe_lists), "centroid_id")
    return _rerank_candidates(
        cand, k, dim, id_col, vector_col, probe_id_col, probe_vector_col
    )


def route_probes_mapped(
    probes: DataFrame,
    crows: list[tuple[int, list[float], float]],
    n_probe: int,
    probe_id_col: str = "probe_id",
    probe_vector_col: str = "probe_embedding",
) -> DataFrame:
    """Distributed probe→list routing: the codebook ships in the task
    closure (exactly like the corpus assignment in _assign_from_rows) and
    each Arrow batch computes its probes' n_probe best lists — the probe
    frame NEVER collects to the driver.  _route_probes is the low-latency
    driver-side form for interactive probe counts; this is the
    millions-of-probes form.  Same left-to-right float64 fold and
    (sim DESC, centroid_id ASC) tie order, so both paths route every probe
    to the same lists.  Output: one (probe, centroid_id) row per routed
    list, no shuffle."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    cids = np.asarray([c[0] for c in crows], dtype=np.int64)
    C = [c[1] for c in crows]
    cnorms = [c[2] for c in crows]
    kc = len(C)
    d = len(C[0])
    n_probe = min(n_probe, kc)

    src = probes.select(probe_id_col, probe_vector_col)
    out_schema = StructType(
        list(src.schema.fields) + [StructField("centroid_id", LongType())]
    )

    def route(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            P = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[probe_vector_col]]
            )
            acc = np.zeros(n)
            for i in range(d):
                acc = acc + P[:, i] * P[:, i]
            pnorm = np.sqrt(acc)
            sims = np.empty((n, kc))
            for j in range(kc):
                accj = np.zeros(n)
                cj = C[j]
                for i in range(d):
                    accj = accj + P[:, i] * cj[i]
                denom = pnorm * cnorms[j]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims[:, j] = np.where(denom > 0, accj / denom, 0.0)
            # stable argsort on -sims: ties keep codebook order = cid ASC,
            # matching _route_probes' sort(key=(-sim, cid))
            best = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            out = pdf.loc[pdf.index.repeat(n_probe)].reset_index(drop=True)
            out["centroid_id"] = cids[best].ravel()
            yield out

    return src.mapInPandas(route, schema=out_schema)


def ivf_search_distributed(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vector_col: str = "probe_embedding",
    max_group_probes: int = 4096,
    max_group_rows: int = 65536,
    pre_filter: F.Column | None = None,
) -> DataFrame:
    """`ivf_search_persisted` for LARGE probe sets (millions+): probes stay
    distributed end to end.  pre_filter has the same V7 pre-filter
    semantics as the persisted form — applied to the pruned lists before
    any scoring.

    Plan: Arrow-map routing (route_probes_mapped, zero shuffle) → one tiny
    count-agg fixes the wanted lists (still a literal partition filter on
    the parquet scan — pruning survives) and the per-list block factors →
    cogroup the pruned corpus with its routed probes on
    (centroid_id, probe_block, corpus_block), one float64 GEMM per group,
    partial top-k (ties widened) before the only all-to-all exchange, which
    carries (probe_id, id, sim) — never a vector payload.

    The 2-D blocking bounds both group axes: a hot list's probes split into
    ⌈probes/max_group_probes⌉ blocks (corpus rows replicated across probe
    blocks), an oversized list's rows into ⌈rows/max_group_rows⌉ blocks
    (probe rows replicated across corpus blocks) — the block-matrix schedule
    of a distributed GEMM, so no single task ever materializes more than
    max_group_rows × max_group_probes pairs regardless of skew.

    Results are identical to ivf_search_persisted(strategy='numpy'): same
    routing fold, same GEMM, same tie rules."""
    import numpy as np

    crows = _collect_centroids(spark.read.parquet(f"{path}/centroids"))
    routed = route_probes_mapped(probes, crows, n_probe, probe_id_col, probe_vector_col)

    # tiny aggs (≤ n_centroids rows each): wanted lists + block factors
    pc = {
        int(r["centroid_id"]): int(r["count"])
        for r in routed.groupBy("centroid_id").count().collect()
    }
    wanted = sorted(pc)
    data = spark.read.parquet(f"{path}/data").filter(
        F.col("centroid_id").isin(wanted)
    )
    if pre_filter is not None:
        data = data.filter(pre_filter)
    rc = {
        int(r["centroid_id"]): int(r["count"])
        for r in data.groupBy("centroid_id").count().collect()
    }
    pblocks = {c: -(-n // max_group_probes) for c, n in pc.items()}
    cblocks = {c: -(-rc.get(c, 1) // max_group_rows) for c in pc}

    def lit_map(d: dict) -> F.Column:
        pairs = []
        for cid, v in d.items():
            pairs.extend([F.lit(cid), F.lit(v)])
        return F.create_map(*pairs)

    pb_of = F.element_at(lit_map(pblocks), F.col("centroid_id"))
    cb_of = F.element_at(lit_map(cblocks), F.col("centroid_id"))

    probe_side = (
        routed.withColumn(
            "pb", F.pmod(F.xxhash64(F.col(probe_id_col)), pb_of).cast("int")
        )
        .withColumn("cb", F.explode(F.sequence(F.lit(0), cb_of - 1)))
    )
    corpus_side = (
        data.select(id_col, vector_col, "centroid_id")
        .withColumn("cb", F.pmod(F.xxhash64(F.col(id_col)), cb_of).cast("int"))
        .withColumn("pb", F.explode(F.sequence(F.lit(0), pb_of - 1)))
    )

    from fusionspark.operators.knn import id_sql_type

    out_schema = (
        f"{probe_id_col} {id_sql_type(probes, probe_id_col)}, "
        f"{id_col} {id_sql_type(data, id_col)}, sim double"
    )

    def gemm(left, right):
        import pandas as pd

        if not len(left) or not len(right):
            return pd.DataFrame({probe_id_col: [], id_col: [], "sim": []})
        E = np.asarray([np.asarray(v, dtype=np.float64) for v in left[vector_col]])
        en = np.linalg.norm(E, axis=1)
        en[en == 0] = 1.0
        P = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in right[probe_vector_col]]
        )
        pn = np.linalg.norm(P, axis=1)
        pn[pn == 0] = 1.0
        sims = (E @ P.T) / en[:, None] / pn[None, :]
        return _partial_topk(
            sims, left[id_col].to_numpy(), list(right[probe_id_col]), k,
            probe_id_col, id_col,
        )

    scored = (
        corpus_side.groupBy("centroid_id", "pb", "cb")
        .cogroup(probe_side.groupBy("centroid_id", "pb", "cb"))
        .applyInPandas(gemm, schema=out_schema)
    )
    # a probe routed to n_probe lists (and cb corpus blocks) has that many
    # partials — the global window merges them; it carries no payloads
    wk = Window.partitionBy(probe_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(probe_id_col, id_col, "sim", "rnk")
    )


# ── SRP-LSH (signed-random-projection) bucketed ANN ───────────────────────


def md5_planes(n_bits: int, dim: int, seed: int = 42):
    """Deterministic md5-derived projection planes, bit-identical in Python
    and DuckDB SQL: plane[b][i] = H32(f"srp:{seed}:{b}:{i}") / 2^31 - 1,
    where H32 = first 8 hex chars of md5 (the same Carter-Wegman base the
    MinHash oracle replays, pipeline_queries._H32).  Values are exact IEEE
    doubles on both sides (a 32-bit int divided by a power of two), so the
    oracle can replay signatures exactly.  Symmetric-uniform weights serve
    SRP as well as Gaussians do for bucketing; recall is measured either
    way (tests/test_dedup_ann.py)."""
    import hashlib

    import numpy as np

    planes = np.empty((n_bits, dim), dtype=np.float64)
    for b in range(n_bits):
        for i in range(dim):
            h = int(hashlib.md5(f"srp:{seed}:{b}:{i}".encode()).hexdigest()[:8], 16)
            planes[b, i] = h / 2147483648.0 - 1.0
    return planes


def srp_signatures(
    corpus: DataFrame,
    n_bits: int = 16,
    seed: int = 42,
    vector_col: str = "embedding",
    planes=None,
) -> DataFrame:
    """Append a signed-random-projection signature column `srp_sig`:
    bit b = sign(v · plane_b), planes drawn once from a seeded generator
    and shipped in the task closure — a pure Arrow map, zero shuffle,
    exactly like the IVF assignment.  Nearby (cosine) vectors agree on
    most bits, so sharing a band of the signature is an LSH bucket.
    Pass `planes` (e.g. `md5_planes(...)`) for an oracle-replayable
    derivation; default stays the seeded Gaussian generator."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    dim = len(corpus.select(vector_col).first()[vector_col])
    if planes is None:
        planes = np.random.RandomState(seed).normal(size=(n_bits, dim))

    out_schema = StructType(
        list(corpus.schema.fields) + [StructField("srp_sig", LongType())]
    )
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    def sign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vector_col]])
            bits = (E @ planes.T) > 0  # (n, n_bits)
            out = pdf.copy()
            out["srp_sig"] = (bits * weights[None, :]).sum(axis=1)
            yield out

    return corpus.mapInPandas(sign, schema=out_schema)


def _sig_bands(sig_col, n_bits: int, bands: int):
    """Split an n_bits signature into `bands` contiguous band values."""
    base, rem = divmod(n_bits, bands)
    entries, lo = [], 0
    for b in range(bands):
        width = base + (1 if b < rem else 0)
        entries.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(sig_col, lo).bitwiseAND((1 << width) - 1).alias("band_val"),
            )
        )
        lo += width
    return entries


def srp_knn(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_bits: int = 16,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vector_col: str = "probe_embedding",
    planes=None,
) -> DataFrame:
    """LSH-bucketed approximate k-NN: candidates are corpus rows sharing at
    least one signature band with the probe (banding amplifies recall like
    MinHash-LSH), then an exact cosine re-rank keeps top-k.  The corpus
    side is signature map → explode(bands) → broadcast-join with the tiny
    probe band table; no all-pairs, no corpus shuffle before the final
    (probe_id, id, sim) top-k exchange.  Complements IVF: no codebook to
    build/maintain, recall governed by (n_bits, bands).  `planes` as in
    `srp_signatures` (md5-derived planes make the whole pipeline
    DuckDB-replayable)."""
    import numpy as np

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    signed = srp_signatures(corpus, n_bits, seed, vector_col, planes=planes)
    c_bands = signed.select(
        "*", F.explode(F.array(*_sig_bands(F.col("srp_sig"), n_bits, bands))).alias("_bv")
    ).select(
        id_col, vector_col,
        F.col("_bv.band").alias("band"), F.col("_bv.band_val").alias("band_val"),
    )
    # probe signatures on the driver (probes are tiny; same seeded planes)
    prows = probes.collect()
    dim = len(prows[0][probe_vector_col])
    if planes is None:
        planes = np.random.RandomState(seed).normal(size=(n_bits, dim))
    base, rem = divmod(n_bits, bands)
    recs = []
    for pr in prows:
        pv = np.asarray([float(x) for x in pr[probe_vector_col]])
        sig = int(((pv @ planes.T > 0) * (1 << np.arange(n_bits, dtype=np.int64))).sum())
        lo = 0
        for b in range(bands):
            width = base + (1 if b < rem else 0)
            recs.append(
                (pr[probe_id_col], pr[probe_vector_col], b, (sig >> lo) & ((1 << width) - 1))
            )
            lo += width
    p_schema = StructType(
        [
            probes.schema[probe_id_col],
            probes.schema[probe_vector_col],
            StructField("band", IntegerType()),
            StructField("band_val", LongType()),
        ]
    )
    p_bands = probes.sparkSession.createDataFrame(recs, p_schema)
    # drop probe_embedding from the band table BEFORE the join: probe
    # vectors are tiny and already on the driver, so they ship in the
    # scoring closure — the candidate rows then carry ONE vector payload,
    # not two (at 1M+ candidates that halves the Arrow transfer).
    cand = c_bands.join(
        F.broadcast(p_bands.select(probe_id_col, "band", "band_val")),
        ["band", "band_val"],
    )
    # score BEFORE deduping band-collisions: the dedup groupBy then carries
    # only (probe_id, id, sim) — never the embedding payloads a distinct on
    # candidate rows would shuffle.  Scoring is an Arrow-batched fold, not
    # the unrolled cosine expression: inside the joined stage the 64-term
    # expression overflowed Janino's method limit and de-codegened the
    # whole stage (measured 10×+ slowdown at 100k corpus).
    from fusionspark.operators.knn import id_sql_type

    pvecs = {
        pr[probe_id_col]: np.asarray(
            [float(x) for x in pr[probe_vector_col]], dtype=np.float64
        )
        for pr in prows
    }
    pnorms = {}
    for pid, pv in pvecs.items():
        acc = 0.0
        for i in range(dim):
            acc += pv[i] * pv[i]
        pnorms[pid] = float(np.sqrt(acc))

    cand_cols = cand.select(probe_id_col, id_col, vector_col)
    sim_schema = (
        f"{probe_id_col} {id_sql_type(probes, probe_id_col)}, "
        f"{id_col} {id_sql_type(corpus, id_col)}, sim double"
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            A = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vector_col]])
            B = np.vstack([pvecs[p] for p in pdf[probe_id_col]])
            nb = np.asarray([pnorms[p] for p in pdf[probe_id_col]])
            # same left-to-right float64 fold as the unrolled expression
            dot = np.zeros(n)
            na = np.zeros(n)
            for i in range(dim):
                dot = dot + A[:, i] * B[:, i]
                na = na + A[:, i] * A[:, i]
            denom = np.sqrt(na) * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(denom > 0, dot / denom, 0.0)
            yield pd.DataFrame(
                {probe_id_col: pdf[probe_id_col], id_col: pdf[id_col], "sim": sim}
            )

    scored = (
        cand_cols.mapInPandas(score, schema=sim_schema)
        .groupBy(probe_id_col, id_col)
        .agg(F.first("sim").alias("sim"))
    )
    wk = Window.partitionBy(probe_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(probe_id_col, id_col, "sim", "rnk")
    )


# ── product quantization (IVF-PQ: the memory-compression scale path) ──────
#
# At 100 TB of float32 embeddings, even the pruned IVF lists are IO-bound on
# vector payloads (64-d float32 = 256 B/vector).  PQ stores an m-byte code
# instead (m=4-16): subvectors quantize against per-subspace codebooks, and
# search scores candidates with an ADC (asymmetric distance computation)
# table built per probe — corpus vectors are never touched until an optional
# exact refine over the tiny ADC top-R.  32-64× less scan IO per list, the
# standard IVF-PQ layout (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011).


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
):
    """Deterministic PQ codebooks: the first `ksub` corpus vectors by id,
    L2-normalized, sliced into m subvectors — the same determinism contract
    as deterministic_centroids, so a SQL oracle replays training exactly.
    Returns (m, ksub, dsub) float64."""
    import numpy as np

    rows = (
        corpus.orderBy(F.col(id_col).asc()).limit(ksub).select(vector_col).collect()
    )
    V = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0] = 1.0
    V = V / norms[:, None]
    dim = V.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    return V.reshape(ksub, m, dsub).transpose(1, 0, 2).copy()


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id[, extra…], codes array<int>): per-subspace nearest-codebook-entry
    codes of the L2-normalized vector.  One zero-shuffle Arrow map (the
    signature sibling of minhash_signatures); the argmin uses the GEMM form
    argmin_c(|c|² − 2⟨u,c⟩) — one matmul per subspace instead of an
    (n × ksub × dsub) broadcast temp; ties break to the lowest code index
    (np.argmin first-occurrence — mirrors the oracle's ORDER BY dist,
    code_id).  `extra_cols` (e.g. centroid_id) ride along for IVF-PQ."""
    import numpy as np
    import pandas as pd

    from fusionspark.operators.knn import id_sql_type

    m, ksub, dsub = codebooks.shape
    cb = codebooks
    cnorm2 = (codebooks**2).sum(-1)  # (m, ksub)
    extra = list(extra_cols or [])
    extra_schema = "".join(
        f", {c} {id_sql_type(corpus, c)}" for c in extra
    )
    out_schema = (
        f"{id_col} {id_sql_type(corpus, id_col)}{extra_schema}, codes array<int>"
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vector_col]]
            )
            norms = np.linalg.norm(E, axis=1)
            norms[norms == 0] = 1.0
            Es = (E / norms[:, None]).reshape(len(pdf), m, dsub)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                # |u−c|² = |u|² − 2⟨u,c⟩ + |c|²; |u|² is constant per row
                d = cnorm2[j][None, :] - 2.0 * (Es[:, j, :] @ cb[j].T)
                codes[:, j] = d.argmin(1)
            out = {id_col: pdf[id_col]}
            for c in extra:
                out[c] = pdf[c]
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    return corpus.select(id_col, *extra, vector_col).mapInPandas(
        run, schema=out_schema
    )


def pq_adc_topk(
    codes_df: DataFrame,
    probes: DataFrame,
    codebooks,
    k: int = 10,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    probe_vector_col: str = "probe_embedding",
    routing_recs: list[tuple] | None = None,
) -> DataFrame:
    """ADC top-k over PQ codes: per probe, a (m × ksub) inner-product table
    against the L2-normalized probe is built ONCE (driver-side — tables are
    KB-sized), then every corpus row scores with m table lookups — no
    vector payload is read at all.  Partition-local partial top-k (boundary
    ties widened) feeds the global per-probe window; the shuffle carries
    (probe_id, id, asim) only.  Returns (probe_id, vec_id, asim, rnk) —
    `asim` approximates cosine.

    `routing_recs` (IVF-PQ): (probe_id, probe_vec, centroid_id) triples
    from _route_probes; codes_df must then carry `centroid_id`, and each
    row scores only against the probes routed to its list — the per-list
    sibling of _numpy_rerank's GEMM routing."""
    import numpy as np
    import pandas as pd

    from fusionspark.operators.knn import id_sql_type

    m, ksub, dsub = codebooks.shape
    prow = probes.select(probe_id_col, probe_vector_col).collect()
    pids = [r[0] for r in prow]
    P = np.asarray([list(r[1]) for r in prow], dtype=np.float64)
    norms = np.linalg.norm(P, axis=1)
    norms[norms == 0] = 1.0
    Ps = (P / norms[:, None]).reshape(len(pids), m, dsub)
    # T[p, j, c] = <probe_p[j], codebook[j][c]>
    T = np.einsum("pjd,jcd->pjc", Ps, codebooks)

    # per-list probe routing (IVF-PQ): each code row scores ONLY against
    # the probes routed to its centroid list — without this, a 1000-probe
    # batch degrades to brute-force ADC over probes × corpus
    route_idx: dict | None = None
    if routing_recs is not None:
        pid_pos = {pid: i for i, pid in enumerate(pids)}
        route_idx = {}
        for pid, _vec, cid in routing_recs:
            route_idx.setdefault(cid, []).append(pid_pos[pid])

    out_schema = (
        f"{probe_id_col} {id_sql_type(probes, probe_id_col)}, "
        f"{id_col} {id_sql_type(codes_df, id_col)}, sim double"
    )

    def _score(codes, ids, tbl, group_pids):
        sims = np.zeros((len(codes), len(group_pids)))
        for j in range(m):
            sims += tbl[:, j, codes[:, j]].T  # (n_rows, n_probes)
        return _partial_topk(sims, ids, group_pids, k, probe_id_col, id_col)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            if route_idx is None:
                codes = np.stack(
                    [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
                )
                yield _score(codes, pdf[id_col].to_numpy(), T, pids)
                continue
            parts = []
            for cid, grp in pdf.groupby("centroid_id", sort=False):
                sel = route_idx.get(cid)
                if not sel:
                    continue
                codes = np.stack(
                    [np.asarray(c, dtype=np.int64) for c in grp["codes"]]
                )
                parts.append(
                    _score(
                        codes,
                        grp[id_col].to_numpy(),
                        T[sel],
                        [pids[i] for i in sel],
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    in_cols = (
        [id_col, "codes"] if route_idx is None else [id_col, "centroid_id", "codes"]
    )
    scored = codes_df.select(*in_cols).mapInPandas(run, schema=out_schema)
    wk = Window.partitionBy(probe_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    ranked = scored.withColumn("rnk", F.row_number().over(wk))
    return ranked.filter(F.col("rnk") <= k).select(
        probe_id_col, id_col, F.col("sim").alias("asim"), "rnk"
    )


# ── scalar quantization (SQ8) ─────────────────────────────────────────────


def sq8_train(df: DataFrame, vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-dimension [min, max] ranges — the whole SQ8 "codebook" is
    2·dim floats from ONE corpus aggregate (vs PQ's k-means): the scalar-
    quantization trade (4× smaller embeddings, cheaper training, less
    accurate than PQ at the same budget).  Returns a 1-row frame of
    mins/maxs arrays that BROADCASTS everywhere downstream."""
    import numpy as np
    import pandas as pd

    # Arrow per-batch min/max, then a tiny (j, mn, mx) rollup: the naive
    # form is ONE aggregate of 2·dim element_at expressions, whose
    # generated code is big enough to dominate the whole SQ8 path in
    # compile time (measured ~3s of the 5s ann_sq8 bench entry at sf0.1).
    # min/max are exact whatever the batching, so this is bit-identical.
    def pre(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {"j": np.arange(1, dim + 1), "mn": m.min(axis=0), "mx": m.max(axis=0)}
            )

    parts = df.select(vec_col).mapInPandas(pre, schema="j int, mn double, mx double")
    per_dim = parts.groupBy("j").agg(
        F.min("mn").alias("mn"), F.max("mx").alias("mx")
    )
    row = per_dim.agg(
        F.collect_list(F.struct("j", "mn")).alias("a"),
        F.collect_list(F.struct("j", "mx")).alias("b"),
    )
    return row.select(
        F.transform(F.array_sort(F.col("a")), lambda s: s["mn"]).alias("mins"),
        F.transform(F.array_sort(F.col("b")), lambda s: s["mx"]).alias("maxs"),
    )


def sq8_encode(
    df: DataFrame,
    ranges: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    strategy: str = "numpy",
) -> DataFrame:
    """uint8 codes: code_j = round(255·(x_j − min_j)/(max_j − min_j))
    (degenerate dims → 0); codes are exact integers, so the DuckDB
    oracle replays them bit-for-bit.

    strategy='numpy' (default): zero-shuffle Arrow kernel.  The 64-way
    when/round expression chain ('expr') de-codegens its stage at this
    width (the ann_sq8 Janino failure class) and ran ~2s at sf0.1 for a
    5000-row encode; the kernel vectorizes the identical arithmetic
    (same op order: (255·(x−mn))/span in float64).  Rounding is Spark's
    own HALF_UP-on-shortest-decimal: the vectorized floor(v+½) answer is
    kept everywhere it is unambiguous and the few values within
    float-add error of a half-integer re-round through Decimal(repr(v))
    — bit-identical to the expression form by construction."""
    if strategy == "expr":
        j_codes = []
        for j in range(1, dim + 1):
            x = F.element_at(F.col(vec_col), j).cast("double")
            mn = F.element_at(F.col("mins"), j)
            mx = F.element_at(F.col("maxs"), j)
            span = mx - mn
            j_codes.append(
                F.when(span > 0, F.round(255.0 * (x - mn) / span, 0).cast("int"))
                .otherwise(F.lit(0))
            )
        return df.crossJoin(F.broadcast(ranges)).select(
            *[c for c in df.columns if c != vec_col],
            F.array(*j_codes).alias("codes"),
            "mins", "maxs",
        )

    import numpy as np
    import pandas as pd

    rrow = ranges.collect()[0]
    mins = np.asarray(rrow["mins"], dtype=np.float64)
    maxs = np.asarray(rrow["maxs"], dtype=np.float64)
    span = maxs - mins
    ok = span > 0
    keep = [c for c in df.columns if c != vec_col]

    def _round_half_up(v: "np.ndarray") -> "np.ndarray":
        out = np.floor(v + 0.5)
        frac = v - np.floor(v)
        risky = np.abs(frac - 0.5) < 1e-9
        if risky.any():
            import decimal

            flat_v = v[risky]
            fixed = np.array(
                [
                    float(
                        decimal.Decimal(repr(float(x))).quantize(
                            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
                        )
                    )
                    for x in flat_v
                ]
            )
            out[risky] = fixed
        return out

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            v = 255.0 * (m - mins) / np.where(ok, span, 1.0)
            codes = np.where(ok, _round_half_up(v), 0.0).astype(np.int32)
            out = pdf[keep].copy()
            out["codes"] = list(codes)
            out["mins"] = [mins.tolist()] * len(out)
            out["maxs"] = [maxs.tolist()] * len(out)
            yield out

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema
                       if f.name != vec_col)
    return df.mapInPandas(
        enc,
        schema=f"{fields}, codes array<int>, mins array<double>, maxs array<double>",
    )


def sq8_knn(
    corpus_codes: DataFrame,
    probes: DataFrame,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    probe_vec_col: str = "embedding",
    strategy: str = "numpy",
) -> DataFrame:
    """Approximate top-k over SQ8 codes: score = Σ q_j · dequant(code_j),
    dequant = min_j + code_j/255·span_j.  The probe side stays float; the
    corpus is read as 1-byte codes (the 4× scan-IO win).  Ties cut on
    (rounded score desc, id).

    strategy='numpy' (default): Arrow-kernel scoring with an explicit
    left-to-right per-dimension fold — BIT-IDENTICAL to the expression
    form, but actually fast: the 64-term unrolled expression exceeds
    Janino's method-size limit, silently de-codegens its whole stage
    (ERROR CodeGenerator in the round-6 board log), and ran ~5s at sf0.1
    where the kernel runs <1s.  Same failure class the cosine scorer hit
    in round 3 (dedup.py embedding near-dup), same fix.  Probes collect
    to the task closure — the small-probe-set contract shared with
    knn(strategy='numpy'); use the distributed IVF form for probe sets
    beyond broadcast size.  strategy='expr' keeps the expression plan
    (parity-tested against the kernel)."""
    from pyspark.sql.window import Window

    probes = probes.select(
        F.col(id_col).alias("probe_id"), F.col(probe_vec_col).alias("q")
    )
    if strategy == "expr":
        score: F.Column = F.lit(0.0)
        for j in range(1, dim + 1):
            mn = F.element_at(F.col("mins"), j)
            span = F.element_at(F.col("maxs"), j) - mn
            deq = mn + F.element_at(F.col("codes"), j).cast("double") / 255.0 * span
            score = score + F.element_at(F.col("q"), j).cast("double") * deq
        scored = corpus_codes.crossJoin(F.broadcast(probes)).select(
            "probe_id", id_col, F.round(score, 6).alias("score")
        )
    else:
        import numpy as np
        import pandas as pd

        from fusionspark.operators.knn import id_sql_type

        # derive id types per side (as serving._result_df does) so string
        # or int ids keep working instead of silently becoming bigint
        probe_id_t = id_sql_type(probes, "probe_id")
        corpus_id_t = id_sql_type(corpus_codes, id_col)
        rows = probes.collect()
        pids = [r["probe_id"] for r in rows]
        pvecs = np.array([list(r["q"]) for r in rows], dtype=np.float64)

        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.array(pdf["codes"].tolist(), dtype=np.float64)
                mins = np.asarray(pdf["mins"].iloc[0], dtype=np.float64)
                span = np.asarray(pdf["maxs"].iloc[0], dtype=np.float64) - mins
                # per-element mn + (c/255)*span, then a LEFT-TO-RIGHT fold
                # over j — the exact IEEE sequence of the unrolled
                # expression, so hashes cannot move
                deq = mins + codes / 255.0 * span
                ids = pdf[id_col].to_numpy()
                n = len(ids)
                out_p, out_i, out_s = [], [], []
                for pi, pid in enumerate(pids):
                    q = pvecs[pi]
                    acc = np.zeros(n, dtype=np.float64)
                    for j in range(dim):
                        acc = acc + q[j] * deq[:, j]
                    out_p.extend([pid] * n)
                    out_i.extend(ids.tolist())
                    out_s.extend(acc.tolist())
                yield pd.DataFrame(
                    {"probe_id": out_p, id_col: out_i, "score": out_s}
                )

        scored = corpus_codes.select(id_col, "codes", "mins", "maxs").mapInPandas(
            run, schema=f"probe_id {probe_id_t}, {id_col} {corpus_id_t}, score double"
        ).select("probe_id", id_col, F.round("score", 6).alias("score"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), id_col)
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", id_col, "score", F.col("rnk").cast("int").alias("rnk"))
    )
