"""Resident vector serving — the peer of the reference's in-memory HNSW
(reference src/core/HNSWIndex.js:126-320 keeps the whole graph in process
memory; search never touches storage).

Two resident forms, chosen per collection by size:

* `Snapshot` — the serving form.  One Arrow `toPandas` pass copies the
  collection into the server process: the original string ids, a float64
  matrix (row-normalized for cosine), the `content` texts, `ts`/`ttl_ms` as
  int64 and tenant plus each metadata key as categorical code arrays.  The
  engine answers every interactive read from it with no Spark job: search
  (whatever its `resident` and `approximate` flags), recall, both branches
  of hybrid retrieve and the RAG context (vectorised tenant/metadata/TTL
  masks, the exact top-k below, and the driver twins of keyword scoring,
  RRF and the token-budget pack next to their Spark operators).  Snapshots are immutable: a write
  builds a new one from the old plus the rows it already holds on the
  driver, and a reader keeps whichever reference it took, so it never sees
  half a write.  One freshness rule: each snapshot carries the collection's
  mutation token of the storage state it mirrors; the engine serves it only
  while the token matches and otherwise reloads it from storage (still the
  source of truth) before the read.
* `ResidentIndex` — distributed blocks for collections above the size
  limit (`fits_driver`): a collection's `rows × dim × 8` matrix bytes plus
  its content bytes, together with every other loaded snapshot, must stay
  under `SNAPSHOT_MEM_FRACTION` of the driver host's MemAvailable.  Each
  partition's vectors are materialized once into a numpy block persisted
  in the Python workers, so a search is one Spark stage of GEMM + top-k per
  block with no corpus serialization.  Blocks live where the data lives;
  the per-partition (Q×k) candidates merge associatively, either on the
  driver or as `treeReduce` partials (`merge="tree"`, the 1000-executor
  form).

Exactness, shared by both forms and by `knn(strategy="numpy")`: every
distance is scored row-locally with `einsum`, and the (distance ASC, id
ASC) selection runs on those values (`_scored_topk`).  A single probe is
scored that way against every row; for a probe batch GEMM only CHOOSES
candidates — every row within the float64 dot-product error bound of the
k-th distance — which are then re-scored.  A row's distance thus
depends only on that row and the probe — never on block, strip or
snapshot layout — so an appended or mirrored index answers bit-for-bit
like a rebuilt one.  The snapshot breaks ties on the real string ids.
`ResidentIndex` ranks string-keyed corpora on int64 surrogates
(xxhash64(id), collision-checked at build, decoded by a join against the
(surrogate, id) mapping), so its boundary ties follow hash order, not the
lexicographic id order.
"""

from __future__ import annotations

import os
from typing import Iterable, Iterator

import numpy as np

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["ResidentIndex", "Snapshot", "fits_driver"]

_METRICS = ("cosine", "dot", "euclidean")


# merge="auto" switches to executor-side treeReduce above this many blocks:
# at 1000 partitions the driver fold would pull 1000 × (Q×k) candidate
# matrices through one process; below it the single vectorized driver merge
# is faster than an extra distributed stage.
AUTO_TREE_PARTITIONS = 64

# Corpus rows per GEMM strip in the search kernel.  Bounds a task's
# transient allocations at Q×TILE_ROWS float64 (~32 MB for 1000 probes)
# regardless of block size: measured at 1M×64 on this host, the un-tiled
# (Q, n) kernel paid an 80s first-search page-fault storm (32 tasks
# first-touching ~24 GB) vs 1.5s warm, while 4096-row strips run ~0.43s
# per 31k-row block steady-state with no cold spike — faster than the
# single shot even warm (better cache locality for the top-k pass).
TILE_ROWS = 4096

#: probe-matrix rows the build-time warm pass sizes its fake transients
#: for — the common serving batch shape; larger real batches only fault
#: the difference.
WARM_Q = 1000

#: collections are served from driver `Snapshot`s while all of them
#: together (matrix rows × dim × 8 bytes plus content bytes) stay under
#: this share of the driver host's MemAvailable; a write copies the matrix
#: once, so the share leaves room for two copies plus search transients.
#: Above it, `ResidentIndex` blocks and Spark reads.
SNAPSHOT_MEM_FRACTION = 0.25


def _mem_available() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return os.sysconf("SC_AVPHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def fits_driver(rows: int, dim: int, content_bytes: int = 0,
                held: int = 0) -> bool:
    """Whether a rows × dim collection with `content_bytes` of text may be
    served from a `Snapshot` while other snapshots hold `held` bytes."""
    need = rows * dim * 8 + content_bytes + held
    return need <= SNAPSHOT_MEM_FRACTION * _mem_available()


def _warm_kernel(it):
    """Build-time pre-fault of the search kernel's transient allocations
    in each Python worker: allocate-and-touch the same strip-shaped
    arrays (scores, distances, argpartition output) a WARM_Q-probe search
    would, so the FIRST real search runs at steady-state latency instead
    of paying the allocator/page-fault cost (measured 6.3s vs 1.7s at
    1M×64 even tiled; 80-108s before tiling).  The reference pays its
    memory setup during insert, so pricing it into build keeps the
    build/search split honest.  Also serves as the materializing action
    for the block cache."""
    n_blocks = 0
    for _ids, M, _extra in it:
        n_blocks += 1
        strip = min(TILE_ROWS, M.shape[0])
        S = np.zeros((WARM_Q, strip))
        D = S + 1.0
        kk = min(10, strip)
        idx = np.argpartition(D, kk - 1, axis=1)
        dsel = np.take_along_axis(D, idx[:, :kk], axis=1)
        _ = D == dsel.max(axis=1)[:, None]  # tie-check booleans
    yield n_blocks


def _id_kind(df: DataFrame, id_col: str) -> str:
    t = dict(df.dtypes)[id_col]
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if t == "string":
        return "string"
    raise ValueError(
        f"resident index needs an integral or string id column; {id_col!r} is {t}"
    )


def _encode_string_ids(corpus: DataFrame, id_col: str):
    """Dict-encode a string id column to int64 surrogates: surrogate =
    xxhash64(id) (content-deterministic, so append()-built blocks stay
    consistent with earlier ones without shared state).  One aggregation
    pass proves injectivity on THIS corpus and fails loudly otherwise.
    Returns (encoded_df_with___rid64, mapping_df(surrogate, id))."""
    enc = corpus.withColumn("__rid64", F.xxhash64(F.col(id_col)))
    stats = enc.agg(
        F.countDistinct(id_col).alias("n_ids"),
        F.countDistinct("__rid64").alias("n_codes"),
    ).first()
    if stats["n_ids"] != stats["n_codes"]:
        raise ValueError(
            f"xxhash64 collision among {stats['n_ids']} string ids in "
            f"{id_col!r}; resident serving cannot dict-encode this corpus"
        )
    # distinct: duplicate ids are legal corpus rows (e.g. the engine's
    # per-tenant id namespaces) and must not multiply decode-join results
    return enc, enc.select("__rid64", id_col).distinct()


def _block_of(rows: list, id_name: str, vec_name: str, metric: str,
              attr_names: tuple = ()):
    """(ids int64, M float64, extra) where M is pre-normalized for cosine;
    the squared row norms of M ride in extra["__sqnorm__"]; attr columns
    (for pre-filtered serving) ride as numpy arrays in extra."""
    ids = np.asarray([r[id_name] for r in rows], dtype=np.int64)
    V = np.asarray([r[vec_name] for r in rows], dtype=np.float64)
    extra = {a: np.asarray([r[a] for r in rows]) for a in attr_names}
    M, extra["__sqnorm__"] = _prepare(V, metric)
    return ids, M, extra


def _rowdot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot products.  `einsum` reduces each row in a fixed order
    that depends only on the row, so a row scores bit-identically at any
    offset in any matrix — unlike GEMM/GEMV, whose blocking does not."""
    return np.einsum("ij,ij->i", A, B)


def _prepare(V: np.ndarray, metric: str):
    """(M, squared row norms of M): rows normalized for cosine, else V."""
    if metric == "cosine":
        n = np.sqrt(_rowdot(V, V))
        n[n == 0] = 1.0
        V = V / n[:, None]
    return V, _rowdot(V, V)


def _rescore(A: np.ndarray, B: np.ndarray, metric: str) -> np.ndarray:
    """Row-local distances between row pairs (A[i], B[i]); euclidean as
    sqrt(Σ(a-b)²), free of the cancellation in |a|²+|b|²-2a·b."""
    if metric == "euclidean":
        diff = A - B
        return np.sqrt(_rowdot(diff, diff))
    s = _rowdot(A, B)
    return 1.0 - s if metric == "cosine" else -s


def _scored_topk(P: np.ndarray, M: np.ndarray, ids: np.ndarray, k: int,
                 metric: str, v2: np.ndarray):
    """Exact per-probe top-k (distance ASC, id ASC) of the rows of M (already
    `_prepare`d, squared norms v2) for raw probes P.  Every returned
    distance is `_rescore`d row-locally and `_row_topk` selects on those
    values, so the answer does not depend on how the rows are laid out.
    One probe scores every row that way: it costs about a GEMV and leaves
    no BLAS threads spin-waiting after the request.  For more probes GEMM
    picks the candidates: every row whose GEMM distance is within twice
    the error bound `err` of the k-th one.  A float64 dot product of
    length d is within about d·2⁻⁵³·|p|·|m| of the true value in any
    summation order, so GEMM and row-local values differ by less than
    `err` (which doubles that bound) and no true top-k row can fall
    outside the cut."""
    Q, n = P.shape[0], M.shape[0]
    if n == 0:
        return np.empty((Q, 0)), ids[np.zeros((Q, 0), dtype=np.int64)]
    P, p2 = _prepare(P, metric)
    if Q == 1:
        return _row_topk(
            _rescore(np.broadcast_to(P, M.shape), M, metric)[None, :], ids, k
        )
    S = P @ M.T
    vmax, d = v2.max(), P.shape[1]
    if metric == "euclidean":
        D = np.sqrt(np.maximum(p2[:, None] + v2[None, :] - 2.0 * S, 0.0))
        err = np.sqrt((d + 2) * 2.0**-50 * (p2 + vmax))
    else:
        D = 1.0 - S if metric == "cosine" else -S
        err = 4.0 * d * 2.0**-53 * np.sqrt(p2 * vmax)
        if metric == "cosine":
            err = err + 2.0**-50  # rounding of 1 - s
    kk = min(k, n)
    tau = np.partition(D, kk - 1, axis=1)[:, kk - 1]
    qi, ci = np.nonzero(D <= (tau + 2.0 * err)[:, None])
    Dx = np.full(D.shape, np.inf)
    Dx[qi, ci] = _rescore(P[qi], M[ci], metric)
    return _row_topk(Dx, ids, k)


def _row_topk(D: np.ndarray, ids: np.ndarray, k: int):
    """Exact per-row top-k of (distance ASC, id ASC): argpartition cut, then
    an exact re-selection for the (rare) rows whose kth distance ties with
    rows outside the cut — so membership is the documented total order, not
    argpartition's arbitrary boundary pick."""
    n = D.shape[1]
    kk = min(k, n)
    idx = np.argpartition(D, kk - 1, axis=1)[:, :kk] if kk < n else (
        np.broadcast_to(np.arange(n), D.shape).copy()
    )
    dsel = np.take_along_axis(D, idx, axis=1)
    isel = ids[idx]
    if kk < n:
        boundary = dsel.max(axis=1)
        n_tot = (D == boundary[:, None]).sum(axis=1)
        n_in = (dsel == boundary[:, None]).sum(axis=1)
        for qi in np.flatnonzero(n_tot > n_in):
            cand = np.flatnonzero(D[qi] <= boundary[qi])
            order = np.lexsort((ids[cand], D[qi, cand]))
            pick = cand[order[:kk]]
            dsel[qi] = D[qi, pick]
            isel[qi] = ids[pick]
    return dsel, isel


def _merge_candidates(parts: Iterable[tuple], k: int):
    """Associative merge of (D (Q,m), I (Q,m)) candidate sets: concatenate,
    then one structured sort per row by (distance, id) — the exact total
    order.  Works for the driver fold and for treeReduce partials alike."""
    parts = list(parts)
    D = np.concatenate([p[0] for p in parts], axis=1)
    I = np.concatenate([p[1] for p in parts], axis=1)
    m = D.shape[1]
    kk = min(k, m)
    if m > 2 * kk:
        # argpartition prefilter by distance (cheap) before the exact
        # structured sort; rows whose kth distance ties with dropped
        # columns get an exact (d, id) re-selection so the cut stays exact
        idx = np.argpartition(D, kk - 1, axis=1)[:, :kk]
        dsel = np.take_along_axis(D, idx, axis=1)
        isel = np.take_along_axis(I, idx, axis=1)
        boundary = dsel.max(axis=1)
        n_tot = (D == boundary[:, None]).sum(axis=1)
        n_in = (dsel == boundary[:, None]).sum(axis=1)
        for qi in np.flatnonzero(n_tot > n_in):
            cand = np.flatnonzero(D[qi] <= boundary[qi])
            order = np.lexsort((I[qi, cand], D[qi, cand]))
            pick = cand[order[:kk]]
            dsel[qi] = D[qi, pick]
            isel[qi] = I[qi, pick]
        D, I = dsel, isel
    arr = np.empty(D.shape, dtype=[("d", "f8"), ("i", "i8")])
    arr["d"] = D
    arr["i"] = I
    arr.sort(axis=1, order=["d", "i"])
    return arr["d"][:, :kk], arr["i"][:, :kk]


def _result_df(
    spark: SparkSession,
    probe_ids: list,
    Dk: np.ndarray,
    Ik: np.ndarray,
    probe_id_col: str,
    id_col: str,
    probe_sql_type: str,
    id_sql_type: str,
) -> DataFrame:
    import pandas as pd

    Q, kk = Dk.shape
    keep = np.isfinite(Dk)  # IVF: probes not routed to a partition pad with +inf
    reps = keep.sum(axis=1)
    pdf = pd.DataFrame(
        {
            probe_id_col: np.repeat(np.asarray(probe_ids), reps),
            id_col: Ik[keep],
            "distance": Dk[keep],
        }
    )
    pdf["score"] = 1.0 - pdf["distance"]
    ranks = np.concatenate([np.arange(1, r + 1) for r in reps]) if Q else np.array([], dtype=np.int64)
    pdf["rank"] = ranks.astype(np.int64)
    schema = (
        f"{probe_id_col} {probe_sql_type}, {id_col} {id_sql_type}, "
        "distance double, score double, rank int"
    )
    return spark.createDataFrame(pdf, schema=schema)


def _codes(values, cats: dict | None = None):
    """Categorical (codes int32, cats value→code) of `values`, None → -1;
    `cats` is extended in a copy, never in place."""
    cats = dict(cats or {})
    codes = np.fromiter(
        (-1 if v is None else cats.setdefault(v, len(cats)) for v in values),
        dtype=np.int32, count=len(values),
    )
    return codes, cats


def _meta_codes(maps) -> dict:
    """metadata key -> categorical column over the rows' maps, in one pass
    (each key's code array is allocated once, when the key first occurs)."""
    n = len(maps)
    cols: dict = {}
    for i, m in enumerate(maps):
        for key, v in (m or {}).items():
            if key not in cols:
                cols[key] = (np.full(n, -1, dtype=np.int32), {})
            if v is not None:
                codes, cats = cols[key]
                codes[i] = cats.setdefault(v, len(cats))
    return cols


def _concat_codes(a, b, na: int, nb: int):
    """Concatenate two categorical columns (None = all -1), re-coding b."""
    ca, cats = a or (np.full(na, -1, dtype=np.int32), {})
    cb, bcats = b or (np.full(nb, -1, dtype=np.int32), {})
    cats = dict(cats)
    # bcats iterates in code order; the trailing -1 maps b's NULLs
    remap = np.asarray(
        [cats.setdefault(v, len(cats)) for v in bcats] + [-1], dtype=np.int32
    )
    return np.concatenate([ca, remap[cb]]), cats


class Attrs:
    """The engine's filter columns in columnar form: tenant and each
    metadata key as categorical codes, ts/ttl_ms as int64."""

    __slots__ = ("tenant", "meta", "ts", "ttl")

    def __init__(self, tenant, meta, ts, ttl):
        self.tenant, self.meta = tenant, meta
        self.ts, self.ttl = ts, ttl

    @classmethod
    def of(cls, tenants, maps, ts, ttl) -> "Attrs":
        """From per-row values.  A row whose ts or ttl_ms is None (NULL)
        never expires, so it gets ttl 0 (`_visible`'s rule)."""
        ttl = [0 if t is None or x is None else x for t, x in zip(ts, ttl)]
        ts = [0 if t is None else t for t in ts]
        return cls(_codes(tenants), _meta_codes(maps),
                   np.asarray(ts, dtype=np.int64),
                   np.asarray(ttl, dtype=np.int64))

    def take(self, keep) -> "Attrs":
        return Attrs(
            (self.tenant[0][keep], self.tenant[1]),
            {k: (c[keep], cats) for k, (c, cats) in self.meta.items()},
            self.ts[keep], self.ttl[keep],
        )

    def concat(self, o: "Attrs") -> "Attrs":
        na, nb = len(self.ts), len(o.ts)
        return Attrs(
            _concat_codes(self.tenant, o.tenant, na, nb),
            {k: _concat_codes(self.meta.get(k), o.meta.get(k), na, nb)
             for k in {**self.meta, **o.meta}},
            np.concatenate([self.ts, o.ts]),
            np.concatenate([self.ttl, o.ttl]),
        )

    def tenant_is(self, tenant_id) -> np.ndarray:
        """Null-safe tenant equality (None matches NULL tenants)."""
        codes, cats = self.tenant
        return codes == (-1 if tenant_id is None else cats.get(tenant_id, -2))

    def mask(self, tenant_id, metadata_filter: dict | None, now: int):
        """The exact path's pre-filter: tenant ==, metadata key == value
        (or IN a list), and TTL lazy expiry."""
        m = (self.ttl == 0) | (now - self.ts < self.ttl)
        if tenant_id is not None:
            m &= self.tenant_is(tenant_id)
        for key, v in (metadata_filter or {}).items():
            vals = [str(x) for x in v] if isinstance(v, (list, tuple)) else [str(v)]
            codes, cats = self.meta.get(key, (np.full(len(m), -1), {}))
            m &= np.isin(codes, [cats[x] for x in vals if x in cats])
        return m


def block_filter(tenant_id, metadata_filter: dict | None, now: int):
    """`ResidentIndex.search` pre_filter for blocks built with the engine's
    attr_cols (tenant_id, ts, ttl_ms, metadata): the mask a `Snapshot`
    applies, over each block's columns."""
    def pre(_ids, attrs):
        return Attrs.of(
            attrs["tenant_id"], attrs["metadata"], attrs["ts"], attrs["ttl_ms"]
        ).mask(tenant_id, metadata_filter, now)
    return pre


class Snapshot:
    """Driver-local, immutable copy of one engine collection (id string,
    vector array<float>, content, tenant_id, metadata, ts, ttl_ms) for
    reads with no Spark job.  `token` is the collection mutation token of
    the storage state it mirrors.  Writes return a new snapshot."""

    __slots__ = ("metric", "token", "ids", "M", "v2", "content", "attrs",
                 "_keys")

    def __init__(self, metric, token, ids, M, v2, content, attrs):
        self.metric, self.token = metric, token
        self.ids, self.M, self.v2 = ids, M, v2
        self.content, self.attrs = content, attrs
        self._keys = None

    def __len__(self) -> int:
        return len(self.ids)

    @classmethod
    def of(cls, metric, token, ids, V, content, attrs) -> "Snapshot":
        M, v2 = _prepare(np.asarray(V, dtype=np.float64), metric)
        return cls(metric, token, np.asarray(ids, dtype=object), M, v2,
                   np.asarray(content, dtype=object), attrs)

    @classmethod
    def load(cls, df: DataFrame, metric: str, dim: int, token) -> "Snapshot":
        """One Arrow `toPandas` pass over the collection DataFrame."""
        pdf = df.filter(F.col("vector").isNotNull()).select(
            "id", "vector", "content", "tenant_id", "metadata",
            F.coalesce("ts", F.lit(0)).alias("ts"),
            # a NULL ts or ttl_ms never expires: ttl 0, as in Attrs.of
            F.when(F.col("ts").isNull(), F.lit(0))
            .otherwise(F.coalesce("ttl_ms", F.lit(0))).alias("ttl_ms"),
        ).toPandas()
        V = (np.stack(pdf["vector"].to_numpy()) if len(pdf)
             else np.empty((0, dim)))
        return cls.of(
            metric, token, pdf["id"].to_numpy(), V, pdf["content"].to_numpy(),
            Attrs.of(pdf["tenant_id"].to_numpy(), pdf["metadata"].to_numpy(),
                     pdf["ts"].to_numpy(), pdf["ttl_ms"].to_numpy()),
        )

    def nbytes(self) -> int:
        """What `fits_driver` counts: matrix bytes plus UTF-8 content bytes."""
        return self.M.nbytes + sum(len(c.encode()) for c in self.content if c)

    def at(self, token) -> "Snapshot":
        return Snapshot(self.metric, token, self.ids, self.M, self.v2,
                        self.content, self.attrs)

    def _take(self, keep) -> "Snapshot":
        return Snapshot(self.metric, self.token, self.ids[keep], self.M[keep],
                        self.v2[keep], self.content[keep], self.attrs.take(keep))

    def upsert(self, rows: list, replace: bool) -> "Snapshot":
        """The engine insert's rows (id, vector, content, metadata, tenant_id,
        ts, ttl_ms): with `replace`, rows sharing a new row's (tenant, id)
        go first, as in storage.  Vectors round through float32 exactly as
        the array<float> column stores them."""
        base = self
        if replace:
            by_tenant: dict = {}
            for r in rows:
                by_tenant.setdefault(r[4], []).append(r[0])
            hit = np.zeros(len(self), dtype=bool)
            for t, ids in by_tenant.items():
                hit |= self.attrs.tenant_is(t) & np.isin(self.ids, ids)
            base = self._take(~hit)
        V = np.asarray([r[1] for r in rows], dtype=np.float32)
        new = Snapshot.of(
            self.metric, self.token, [r[0] for r in rows],
            V.reshape(len(rows), self.M.shape[1]), [r[2] for r in rows],
            Attrs.of([r[4] for r in rows], [r[3] for r in rows],
                     [r[5] for r in rows], [r[6] for r in rows]),
        )
        return Snapshot(
            self.metric, self.token,
            np.concatenate([base.ids, new.ids]),
            np.concatenate([base.M, new.M]),
            np.concatenate([base.v2, new.v2]),
            np.concatenate([base.content, new.content]),
            base.attrs.concat(new.attrs),
        )

    def delete(self, ids: list, tenant_id=None) -> "Snapshot":
        """Drop rows whose id is in `ids` and, when `tenant_id` is given,
        whose tenant equals it."""
        hit = np.isin(self.ids, [str(i) for i in ids])
        if tenant_id is not None:
            hit &= self.attrs.tenant_is(tenant_id)
        return self._take(~hit)

    def forget(self, tenant_id) -> "Snapshot":
        """Drop every row of the tenant (None: the untenanted rows)."""
        return self._take(~self.attrs.tenant_is(tenant_id))

    def hits(self, query_vector, k: int, mask=None,
             content: bool = False) -> list[dict]:
        """The engine search's hits (id, score, distance, rank; with
        `content`, each row's text too) for one query vector, rounded
        through float32 like the exact path's array<float> probe."""
        D, R = self.topk(np.asarray(query_vector, np.float32), k, mask)
        out = []
        for rank, (d, row) in enumerate(zip(D.tolist(), R.tolist()), 1):
            h = {"id": self.ids[row], "score": 1.0 - d, "distance": d,
                 "rank": rank}
            if content:
                h["content"] = self.content[row]
            out.append(h)
        return out

    def topk(self, p, k: int, mask=None):
        """(D, R): the top-k (distance ASC, id ASC) of probe `p` over the
        rows in `mask` (all rows if None), as distances and row numbers
        sorted by rank."""
        P = np.asarray(p, dtype=np.float64).reshape(1, self.M.shape[1])
        if self._keys is None:
            # unique int64 sort keys in (id, row) order, NULL ids first as
            # in Spark's ASC: the kernel's id tie-break on them is the
            # string-id order, and a key maps back to its row via `order`
            null = np.equal(self.ids, None)
            order = np.lexsort((np.where(null, "", self.ids), ~null))
            keys = np.empty(len(order), dtype=np.int64)
            keys[order] = np.arange(len(order))
            self._keys = (keys, order)
        keys, order = self._keys
        M, v2 = self.M, self.v2
        if mask is not None and not mask.all():
            rows = np.flatnonzero(mask)
            M, keys, v2 = M[rows], keys[rows], v2[rows]
        d, i = _scored_topk(P, M, keys, k, self.metric, v2)
        o = np.lexsort((i[0], d[0]))
        return d[0][o], order[i[0][o]]


class ResidentIndex:
    """Exact-search resident block index.  Build once, search many;
    append() adds new blocks without touching existing ones (the
    incremental-insert story — the reference inserts into its in-memory
    graph one vector at a time, HNSWIndex.js:126-180).  Deletes rebuild,
    like the IVF layouts."""

    def __init__(self, spark, parts, metric, id_col, vector_col, id_sql_type,
                 attr_cols=(), decode=None):
        self.spark = spark
        self._parts = parts if isinstance(parts, list) else [parts]
        self.metric = metric
        self.id_col = id_col
        self.vector_col = vector_col
        self.id_sql_type = id_sql_type
        self.attr_cols = tuple(attr_cols)
        # (surrogate, id) mapping DataFrame for string-keyed corpora
        self._decode = decode

    @property
    def rdd(self):
        if len(self._parts) == 1:
            return self._parts[0]
        return self.spark.sparkContext.union(self._parts)

    def append(self, new_rows: DataFrame) -> "ResidentIndex":
        """Blocks for the new rows only — existing blocks are shared, not
        recomputed or re-persisted.  Ids must be disjoint from the resident
        set (an upsert is delete+rebuild, as with the parquet IVF layouts).
        Returns a NEW index; the old one stays valid (functional append,
        the manifest-table model)."""
        fresh = ResidentIndex.build(
            new_rows, id_col=self.id_col, vector_col=self.vector_col,
            metric=self.metric, attr_cols=self.attr_cols,
        )
        decode = self._decode
        if decode is not None or fresh._decode is not None:
            if decode is None or fresh._decode is None:
                raise ValueError("append() cannot mix string and integral ids")
            combined = decode.union(fresh._decode)
            stats = combined.agg(
                F.countDistinct(self.id_col).alias("n_ids"),
                F.countDistinct("__rid64").alias("n_codes"),
            ).first()
            if stats["n_ids"] != stats["n_codes"]:
                raise ValueError(
                    "xxhash64 collision between resident and appended string "
                    "ids; rebuild with integral ids"
                )
            decode = combined
        return ResidentIndex(
            self.spark, self._parts + fresh._parts, self.metric,
            self.id_col, self.vector_col, self.id_sql_type, self.attr_cols,
            decode,
        )

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
        metric: str = "cosine",
        attr_cols: tuple | list = (),
    ) -> "ResidentIndex":
        """attr_cols — metadata columns materialized into the blocks so
        searches can pre-filter server-side (see search(pre_filter=...))."""
        if metric not in _METRICS:
            raise ValueError(f"metric must be one of {_METRICS}")
        kind = _id_kind(corpus, id_col)
        from fusionspark.operators.knn import id_sql_type

        id_t = id_sql_type(corpus, id_col)
        attrs = tuple(attr_cols)
        decode = None
        block_id = id_col
        if kind == "string":
            enc, decode = _encode_string_ids(corpus, id_col)
            block_id = "__rid64"
            # original string ids ride in each block under __orig_id__ so
            # pre_filter callbacks see the REAL ids, never the int64
            # xxhash64 surrogates (which would silently match nothing)
            src = enc.select(
                block_id, vector_col, F.col(id_col).alias("__orig_id__"),
                *attrs,
            )
            block_attrs = attrs + ("__orig_id__",)
        else:
            src = corpus.select(id_col, vector_col, *attrs)
            block_attrs = attrs

        def to_blocks(it: Iterator) -> Iterator[tuple]:
            rows = list(it)
            if rows:
                yield _block_of(rows, block_id, vector_col, metric,
                                block_attrs)

        rdd = src.rdd.mapPartitions(to_blocks).persist(StorageLevel.MEMORY_ONLY)
        rdd.mapPartitions(_warm_kernel).count()  # materialize + pre-fault
        return cls(
            corpus.sparkSession, rdd, metric, id_col, vector_col, id_t, attrs,
            decode,
        )

    def search(
        self,
        probes: DataFrame,
        k: int = 10,
        probe_id_col: str = "probe_id",
        probe_vector_col: str = "probe_embedding",
        merge: str = "auto",
        probe_batch: tuple | None = None,
        pre_filter=None,
    ) -> DataFrame:
        """(probe_id, id, distance, score, rank) — same shape and tie rule
        as knn().  merge="tree" runs treeReduce partial merges (the
        1000-executor form); "driver" collects per-partition candidates and
        merges in one vectorized fold (interactive form); "auto" (default)
        picks tree when the index spans more than AUTO_TREE_PARTITIONS
        blocks and no pre_filter is set, driver otherwise.  merge="tree"
        with pre_filter raises: the filter can empty every block, which
        treeReduce cannot represent, and candidates must come to the driver
        anyway — ask for merge="driver" explicitly.  probe_batch —
        an optional pre-collected (probe_ids, P float64 matrix,
        probe_sql_type) triple so a serving loop pays the probe collect
        once, like the reference's in-process query arrays.  pre_filter —
        a callable (ids, attrs) -> bool mask applied INSIDE each block
        before scoring (V7 pre-filter semantics: excluded rows never take
        a rank slot); attrs is the dict of build(attr_cols=...) arrays.
        For string-keyed corpora `ids` is the array of ORIGINAL string
        ids (the blocks carry them under attrs["__orig_id__"]), never the
        int64 surrogates used internally for ranking."""
        from fusionspark.operators.knn import id_sql_type

        if merge == "tree" and pre_filter is not None:
            raise ValueError(
                "merge='tree' is incompatible with pre_filter (a filter can "
                "empty every block); use merge='driver'"
            )
        if merge == "auto":
            n_blocks = sum(p.getNumPartitions() for p in self._parts)
            merge = (
                "tree"
                if pre_filter is None and n_blocks > AUTO_TREE_PARTITIONS
                else "driver"
            )

        if probe_batch is not None:
            probe_ids, P, probe_t = probe_batch
            P = np.asarray(P, dtype=np.float64)
        else:
            rows = probes.select(probe_id_col, probe_vector_col).collect()
            probe_ids = [r[probe_id_col] for r in rows]
            P = np.asarray([r[probe_vector_col] for r in rows], dtype=np.float64)
            probe_t = id_sql_type(probes, probe_id_col)
        metric = self.metric

        def kernel(it: Iterator[tuple]) -> Iterator[tuple]:
            for ids, M, extra in it:
                v2 = extra["__sqnorm__"]
                if pre_filter is not None:
                    mask = np.asarray(
                        pre_filter(extra.get("__orig_id__", ids), extra),
                        dtype=bool,
                    )
                    if not mask.any():
                        continue
                    ids, M, v2 = ids[mask], M[mask], v2[mask]
                # GEMM over corpus-row STRIPS with a running exact top-k
                # merge, never the full (Q, n) distance matrix: at 1M rows
                # a single-shot kernel allocates ~750 MB of transients per
                # task, and 32 tasks first-touching ~24 GB of fresh pages
                # cost a measured 80s on a 32-core host's first search (vs
                # 1.5s warm).  Strips keep the task's transient at
                # Q×TILE_ROWS (~32 MB) — measured faster than the single
                # shot even warm, with NO cold-start spike, and the exact
                # (distance ASC, id ASC) order is preserved because a
                # global top-k element is always in its strip's top-k.
                acc = None
                for s in range(0, M.shape[0], TILE_ROWS):
                    part = _scored_topk(
                        P, M[s:s + TILE_ROWS], ids[s:s + TILE_ROWS], k,
                        metric, v2[s:s + TILE_ROWS],
                    )
                    acc = part if acc is None else _merge_candidates(
                        [acc, part], k
                    )
                yield acc

        Q = len(probe_ids)
        cands = self.rdd.mapPartitions(kernel)
        if merge == "tree":
            Dk, Ik = cands.treeReduce(
                lambda a, b: _merge_candidates([a, b], k), depth=2
            )
        else:
            parts = cands.collect()
            if not parts:  # pre_filter can empty every block
                Dk = np.full((Q, 0), np.inf)
                Ik = np.full((Q, 0), -1, dtype=np.int64)
            else:
                Dk, Ik = _merge_candidates(parts, k)
        res = _result_df(
            self.spark, probe_ids, Dk, Ik, probe_id_col, self.id_col,
            probe_t, "long" if self._decode is not None else self.id_sql_type,
        )
        if self._decode is not None:
            # restore string ids: the (Q×k) result broadcasts; the mapping
            # scans once, distributed — never collected
            res = (
                self._decode.join(
                    F.broadcast(res.withColumnRenamed(self.id_col, "__rid64")),
                    "__rid64",
                )
                .select(probe_id_col, self.id_col, "distance", "score", "rank")
            )
        return res

    def unpersist(self) -> None:
        for p in self._parts:
            p.unpersist()
