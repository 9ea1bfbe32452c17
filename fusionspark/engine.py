"""FusionSparkEngine — the user-facing API surface, mirroring the
reference's entry points (SURVEY §3):

  reference (/root/reference/src)                 here
  ─────────────────────────────────────────────   ─────────────────────────
  FusionEngine.createCollection/insert/search     create_collection / insert / search
  FusionEngine.get/delete/listCollections         get / delete / list_collections
  HybridRetriever.retrieve                        retrieve (RRF fusion)
  AgentMemory.remember/recall/forget              remember / recall / forget
  RAGPipeline.ingest/buildContext                 ingest / build_context

Storage is a directory of Parquet tables (one per collection) plus a JSON
catalog — the table format IS the serialization (SURVEY S7).  Pass
storage='manifest' for the concurrent-writer ACID layer
(storage/manifest.py: immutable files, atomic versioned manifests,
file-level copy-on-write deletes, time travel — Delta's commit protocol
without the dependency).  Every operation compiles to the DataFrame plans
in fusionspark.operators.*.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fusionspark.functions import vector as V
from fusionspark.operators import fusion as fusion_ops
from fusionspark.operators.chunking import chunk_documents
from fusionspark.operators.context import pack_rows
from fusionspark.operators.context import pack_context  # noqa: F401 — perfbench/tracing.py wraps it
from fusionspark.operators.embedder import embed_texts, mock_embed
from fusionspark.operators.keyword import keyword_rank, keyword_search
from fusionspark.operators.knn import knn
from fusionspark.operators.serving import ResidentIndex, Snapshot, block_filter, fits_driver


@dataclass
class CollectionConfig:
    dimensions: int = 64
    metric: str = "cosine"
    # HNSW params (M / efConstruction / efSearch) intentionally absent:
    # exact top-k has no index hyperparameters (BASELINE.md notes).
    metadata: dict = field(default_factory=dict)


#: native row schema, shared by collections and the JSONL interchange paths
_ROW_SCHEMA = (
    "id string, vector array<float>, content string, "
    "metadata map<string,string>, tenant_id string, ts long, ttl_ms long"
)


def _hits(rows) -> list[dict]:
    return [{k: r[k] for k in ("id", "score", "distance", "rank")} for r in rows]


def _visible(now: int, tenant_id=None, metadata_filter: dict | None = None):
    """The exact path's pre-filter: tenant ==, metadata key == value (or IN
    a list), and TTL lazy expiry (P4)."""
    pred = (F.col("ttl_ms") == 0) | (F.lit(now) - F.col("ts") < F.col("ttl_ms"))
    if tenant_id is not None:
        pred = (F.col("tenant_id") == tenant_id) & pred
    for k, v in (metadata_filter or {}).items():
        vals = [str(x) for x in v] if isinstance(v, (list, tuple)) else [str(v)]
        pred = pred & F.col("metadata").getItem(k).isin(vals)
    return pred


def _checked_vector(col, dim: int):
    """`col` where its width is `dim`, else a job-failing error (a NULL
    array lands in the error branch too): the executor-side form of
    insert()'s per-row dimension check."""
    return F.when(F.size(col) == F.lit(dim), col).otherwise(
        F.raise_error(
            F.concat(
                F.lit("embedding width "),
                F.coalesce(F.size(col).cast("string"), F.lit("NULL")),
                F.lit(f" != collection dimensions {dim}"),
            )
        )
    )


class FusionSparkEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        embedder=mock_embed,
        storage: str = "parquet",
    ):
        """storage: 'parquet' (default — one live directory per collection,
        single-writer rename-swap mutations) or 'manifest' (storage/
        manifest.py — immutable files + atomic versioned manifests, safe
        for CONCURRENT writers, file-level copy-on-write deletes, time
        travel).  Same API and results either way."""
        if storage not in ("parquet", "manifest"):
            raise ValueError(f"unknown storage {storage!r}")
        self.spark = spark
        self.root = root
        self.embedder = embedder
        self.storage = storage
        os.makedirs(root, exist_ok=True)
        self._catalog_path = os.path.join(root, "_catalog.json")
        self._catalog: dict[str, dict] = {}
        if os.path.exists(self._catalog_path):
            with open(self._catalog_path) as f:
                self._catalog = json.load(f)
        # process-local (like the reference's in-memory graph): a Snapshot,
        # or above its size limit {"idx": ResidentIndex, "at_mutation": tok};
        # _oversize holds the token at which a collection did not fit
        self._snapshots: dict[str, Snapshot] = {}
        self._oversize: dict[str, object] = {}
        self._resident: dict[str, dict] = {}
        self._resident_ivf: dict[str, dict] = {}
        self._locks: dict[str, threading.RLock] = {}  # writes, mirrors, rebuilds

    # ── collections (S1-S6) ───────────────────────────────────────────────

    def _save_catalog(self) -> None:
        with open(self._catalog_path, "w") as f:
            json.dump(self._catalog, f, indent=2)

    def _path(self, collection: str) -> str:
        return os.path.join(self.root, f"collection={collection}")

    def create_collection(self, name: str, config: CollectionConfig | None = None) -> dict:
        """S1 (FusionEngine.js:91-112)."""
        if not re.fullmatch(r"[A-Za-z0-9_.-]+", name):
            raise ValueError(
                f"invalid collection name {name!r}: names become filesystem "
                "path components, allowed chars are [A-Za-z0-9_.-]"
            )
        if name in self._catalog:
            raise ValueError(f"collection {name!r} exists")
        cfg = config or CollectionConfig()
        self._catalog[name] = {
            "dimensions": cfg.dimensions,
            "metric": cfg.metric,
            "created_at": int(time.time() * 1000),
            "metadata": cfg.metadata,
        }
        self._save_catalog()
        return {"name": name, "config": self._catalog[name]}

    def list_collections(self) -> list[dict]:
        """S6 (FusionEngine.js:118-144)."""
        out = []
        for name, cfg in self._catalog.items():
            try:
                n = self._load(name).count()
            except Exception:  # noqa: BLE001 — not yet written
                n = 0
            out.append({"name": name, "size": n, **cfg})
        return out

    def drop_collection(self, name: str) -> bool:
        self.unload_resident(name)  # a re-created name restarts its token
        cfg = self._catalog.pop(name, None)
        self._save_catalog()
        if cfg and cfg.get("external_delta"):
            # detach only — NEVER delete a user's external table files
            return True
        shutil.rmtree(self._path(name), ignore_errors=True)
        return True

    # ── external sources ──────────────────────────────────────────────────

    def attach_delta(
        self,
        name: str,
        path: str,
        version: int | None = None,
        dimensions: int = 64,
        metric: str = "cosine",
    ) -> dict:
        """Attach an existing Delta Lake table (storage/delta.py reader)
        as a READ-ONLY collection: search/retrieve/get work over it;
        insert/delete/vacuum/optimize refuse (mutations belong to the
        table's own writer).  `version` pins time travel; None follows
        the latest snapshot at each read.  drop_collection detaches
        without touching the table's files."""
        from fusionspark.storage.delta import resolve_snapshot

        if not re.fullmatch(r"[A-Za-z0-9_.-]+", name):
            raise ValueError(f"invalid collection name {name!r}")
        if name in self._catalog:
            raise ValueError(f"collection {name!r} exists")
        snap = resolve_snapshot(self.spark, path, version)  # validates log
        self._catalog[name] = {
            "external_delta": path,
            "pinned_version": version,
            "attached_version": snap.version,
            "dimensions": dimensions,
            "metric": metric,
            "created_at": int(time.time() * 1000),
            "metadata": {"source": "delta"},
        }
        self._save_catalog()
        return {"name": name, "config": self._catalog[name]}

    def _guard_writable(self, collection: str) -> None:
        cfg = self._catalog.get(collection) or {}
        if cfg.get("external_delta"):
            raise ValueError(
                f"collection {collection!r} is an attached external Delta "
                "table (read-only) — mutate it through its own writer"
            )

    def _table(self, collection: str):
        from fusionspark.storage import ManifestTable

        return ManifestTable(self.spark, self._path(collection))

    def _load(self, collection: str) -> DataFrame:
        cfg = self._catalog.get(collection) or {}
        if cfg.get("external_delta"):
            from fusionspark.storage.delta import read_delta

            return read_delta(
                self.spark, cfg["external_delta"], cfg.get("pinned_version")
            )
        if self.storage == "manifest":
            return self._table(collection).read()
        return self.spark.read.parquet(self._path(collection))

    def _lock(self, collection: str) -> threading.RLock:
        return self._locks.setdefault(collection, threading.RLock())

    def _write(self, collection: str, store, mirror) -> None:
        """Run the storage write `store()` under the collection lock; a
        snapshot fresh before it becomes `mirror(snapshot)` at the new token."""
        with self._lock(collection):
            snap = self._snapshots.get(collection)
            fresh = snap is not None and snap.token == self._mutation_token(collection)
            store()
            tok = self._mutation_token(collection)
            if fresh and self._one_write_on(snap.token, tok):
                self._snapshots[collection] = mirror(snap).at(tok)

    def _one_write_on(self, before, after) -> bool:
        """Whether token `after` is exactly this engine's one write past
        `before`: in manifest storage another engine's commit may have
        landed too, and a cache mirroring only ours must then go stale."""
        if self.storage == "manifest":
            return after == [before[0] + 1, before[1] + 1]
        return after == before + 1

    def _append(self, collection: str, df: DataFrame) -> None:
        with self._lock(collection):
            if self.storage == "manifest":
                from fusionspark.storage import ManifestTable

                t = self._table(collection)
                if not t.exists():
                    ManifestTable.create(self.spark, self._path(collection), df.schema)
                t.append(df)
            else:
                df.write.mode("append").parquet(self._path(collection))
            self._bump(collection)

    # ── mutation (S2, S4) ─────────────────────────────────────────────────

    def insert(
        self,
        collection: str,
        entries: list[dict],
        tenant_id: str | None = None,
        ttl_ms: int = 0,
        replace: bool = True,
    ) -> int:
        """S2 (FusionEngine.js:175-193): UPSERT entries, tag tenant/ttl/ts;
        dimension-checked like HNSWIndex.js:129-133.  Per-entry
        tenant_id/ts/ttl_ms keys override the batch defaults (used by the
        S7 import path to preserve provenance).

        replace=True matches the reference: `_nodes.set(id, node)`
        (HNSWIndex.js:196) overwrites an existing id, so re-inserting is an
        update, not a duplicate.  Ids are namespaced PER TENANT: the
        collision scope is each entry's effective tenant (entry override,
        else the batch default), matched null-safely — so tenant A
        re-inserting id "x" never deletes tenant B's (or the global NULL
        tenant's) row "x".  In manifest storage the upsert is ONE atomic
        commit (ManifestTable.upsert: copy-on-write removal + append in the
        same manifest version); in plain-parquet storage a colliding batch
        lands as survivors ∪ new rows through the ONE crash-safe _rewrite
        swap (a crash leaves either the old or the new table, never a
        window with the old row removed and the new one not yet appended;
        ADVICE r5).  Single-writer semantics in plain-parquet mode, as
        documented.  replace=False is the raw append (bulk loads where ids
        are known fresh)."""
        self._guard_writable(collection)
        cfg = self._catalog[collection]
        dim = cfg["dimensions"]
        now = int(time.time() * 1000)
        rows = []
        for e in entries:
            vec = e.get("vector")
            if vec is None and "content" in e:
                vec = self.embedder(e["content"], dim)
            if vec is None or len(vec) != dim:
                raise ValueError(
                    f"vector dimension {0 if vec is None else len(vec)} != {dim}"
                )
            rows.append(
                (
                    str(e["id"]),
                    [float(x) for x in vec],
                    e.get("content"),
                    {str(k): str(v) for k, v in (e.get("metadata") or {}).items()},
                    e.get("tenant_id", tenant_id),
                    int(e.get("ts", now)),
                    int(e.get("ttl_ms", ttl_ms)),
                )
            )
        # one partition: a small append writes one file, not an empty one too
        df = self.spark.createDataFrame(
            rows,
            "id: string, vector: array<float>, content: string, "
            "metadata: map<string,string>, tenant_id: string, ts: long, ttl_ms: long",
        ).coalesce(1)
        hit = None
        if replace:
            groups: dict[str | None, list[str]] = {}
            for r in rows:
                groups.setdefault(r[4], []).append(r[0])
            for t, ids in groups.items():
                p = F.col("id").isin(ids) & F.col("tenant_id").eqNullSafe(F.lit(t))
                hit = p if hit is None else hit | p

        def store() -> None:
            if hit is not None and self.storage == "manifest":
                table = self._table(collection)
                if table.exists():
                    table.upsert(df, hit)
                    return self._bump(collection)
            elif hit is not None:
                try:
                    collides = (
                        self._load(collection).filter(hit).limit(1).count()
                    ) > 0
                except Exception:  # noqa: BLE001 — collection not yet written
                    collides = False
                if collides:
                    keep = self._load(collection).filter(
                        ~F.coalesce(hit, F.lit(False))
                    )
                    return self._rewrite(collection, keep.unionByName(df))
            tok = self._mutation_token(collection)
            self._append(collection, df)
            # a raw append extends fresh ResidentIndex blocks (HNSWIndex.js:
            # 126-180); any failure leaves them stale → exact fallback
            ent = self._resident.get(collection)
            after = self._mutation_token(collection)
            if (ent is not None and ent["at_mutation"] == tok
                    and self._one_write_on(tok, after)):
                try:
                    ent["idx"] = ent["idx"].append(df)
                    ent["at_mutation"] = after
                except Exception:  # noqa: BLE001 — stale fallback is the contract
                    pass

        self._write(collection, store, lambda snap: snap.upsert(rows, replace))
        return len(rows)

    def _rewrite(self, collection: str, keep: DataFrame) -> None:
        """Rewrite a collection to `keep` with a crash-safe swap: write tmp,
        live → .old, tmp → live, drop .old (restoring .old if the second
        rename fails) — at no point is the live directory missing while the
        catalog still lists it.  In manifest mode the swap is the commit
        protocol itself: staged files + atomic versioned manifest, safe for
        concurrent writers (storage/manifest.py)."""
        with self._lock(collection):
            self._bump(collection)
            if self.storage == "manifest":
                self._table(collection).overwrite(keep)
                return
            live = self._path(collection)
            tmp, old = live + ".tmp", live + ".old"
            keep.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(old, ignore_errors=True)
            os.rename(live, old)
            try:
                os.rename(tmp, live)
            except OSError:
                os.rename(old, live)
                raise
            shutil.rmtree(old, ignore_errors=True)

    def delete(
        self, collection: str, ids: list[str], tenant_id: str | None = None
    ) -> None:
        """S4: anti-join rewrite (Delta DELETE at scale;
        FusionEngine.js:236-241).  With `tenant_id`, only that tenant's
        rows are deletable — another tenant's row with a listed id
        survives (the ownership check TenantProxy promises; the reference
        proxy lacks it, FusionEngine.js:246-271)."""
        self._guard_writable(collection)
        hit = F.col("id").isin([str(i) for i in ids])
        if tenant_id is not None:
            hit = hit & F.col("tenant_id").eqNullSafe(tenant_id)
        self._delete_where(collection, hit, lambda s: s.delete(ids, tenant_id))

    def _delete_where(self, collection: str, hit, mirror) -> None:
        def store() -> None:
            if self.storage == "manifest":
                # file-level copy-on-write: only files containing hits rewrite
                self._table(collection).delete_where(hit)
                return self._bump(collection)
            self._rewrite(collection, self._load(collection).filter(~hit))

        self._write(collection, store, mirror)

    def _bump(self, collection: str) -> None:
        """Mutation counter: an IVF index built at an older count is stale
        and approximate search falls back to exact (the reference never
        goes stale — its collection IS the index — so correctness-first
        fallback is the honest port)."""
        if collection in self._catalog:
            cfg = self._catalog[collection]
            cfg["mutations"] = cfg.get("mutations", 0) + 1
            self._save_catalog()

    # ── index lifecycle (V6 analogue) ─────────────────────────────────────

    def build_index(
        self,
        collection: str,
        n_centroids: int | None = None,
        pq: bool = False,
        pq_m: int = 4,
        pq_ksub: int = 16,
    ) -> dict:
        """Persist an IVF partition-pruned layout for the collection — the
        Spark analogue of the reference's build-once HNSW graph
        (HNSWIndex.js:245-320).  Defaults to ~√N centroids (executor-sized
        lists).  Cosine only (the reference's default metric).  The index
        carries the full row payload, so approximate search filters and
        hydrates from the pruned lists without touching the base table.

        pq=True additionally trains Lloyd-refined PQ codebooks and persists
        m-byte codes partitioned beside the lists (`codes/`), enabling the
        ADC search path in search_many(method="ivf_pq") — 32-64× less list
        IO than the float payloads at scale."""
        import math

        from fusionspark.operators.ann import persist_ivf

        cfg = self._catalog[collection]
        if cfg["metric"] != "cosine":
            raise ValueError("build_index supports the cosine metric only")
        # token BEFORE the read: if an external Delta commit lands during
        # the build, the stamp is older than the data and the index reads
        # as stale (the safe direction) — never stale-data-marked-fresh
        tok = self._mutation_token(collection)
        df = self._load(collection)
        n = df.count()
        k = n_centroids or max(2, int(math.sqrt(max(n, 4))))
        # ordinal centroid ids (collection ids are strings; the partition
        # column must stay a long) from the first k rows by id —
        # deterministic like operators/ann.py::deterministic_centroids
        head = df.orderBy(F.col("id").asc()).limit(k).select("vector").collect()
        cents = self.spark.createDataFrame(
            [(i, [float(x) for x in r["vector"]]) for i, r in enumerate(head)],
            "centroid_id: bigint, centroid: array<float>",
        )
        path = os.path.join(self.root, f"index={collection}")
        persist_ivf(
            df, path,
            n_centroids=k, id_col="id", vector_col="vector", centroids=cents,
        )
        cfg["index"] = {
            "n_centroids": k,
            "rows": n,
            "at_mutation": tok,
            "built_at": int(time.time() * 1000),
        }
        if pq:
            from fusionspark.operators.ann import pq_codebooks_lloyd, pq_encode

            cbs = pq_codebooks_lloyd(
                df, m=pq_m, ksub=pq_ksub, id_col="id", vector_col="vector"
            )
            np.save(os.path.join(self.root, f"index={collection}.pq.npy"), cbs)
            pq_encode(
                self.spark.read.parquet(f"{path}/data"),
                cbs, id_col="id", vector_col="vector",
                extra_cols=["centroid_id"],
            ).write.mode("overwrite").partitionBy("centroid_id").parquet(
                f"{path}/codes"
            )
            cfg["index"]["pq"] = {"m": pq_m, "ksub": pq_ksub}
        self._save_catalog()
        return cfg["index"]

    def _mutation_token(self, collection: str):
        """Freshness key for index/resident caches: cfg['mutations'] for
        engine-owned collections; in manifest storage [mutations, table
        version] (an os.listdir), so another engine's commit to the same
        root makes this engine's caches stale.  For attach_delta collections the
        engine never mutates (external commits can't bump the counter),
        so the key is the RESOLVED Delta version — a pinned attach is
        constant, an unpinned (follow-latest) attach re-lists the
        `_delta_log` (an os.listdir, metadata-only) so an external commit
        marks every cache stale and search falls back to exact / raises
        per the no-silent-stale contract (ADVICE r14)."""
        cfg = self._catalog.get(collection) or {}
        if cfg.get("external_delta"):
            # a LIST, not a tuple: cfg['index'] round-trips through the
            # catalog JSON and must compare equal after reload
            if cfg.get("pinned_version") is not None:
                return ["delta", int(cfg["pinned_version"])]
            from fusionspark.storage.delta import _list_log

            commits, ckpts, _files, v2 = _list_log(cfg["external_delta"])
            return ["delta", max(commits + ckpts + v2)]
        if self.storage == "manifest":
            try:
                version = self._table(collection).version()
            except FileNotFoundError:  # created, not yet written
                version = -1
            return [cfg.get("mutations", 0), version]
        return cfg.get("mutations", 0)

    def _index_fresh(self, collection: str) -> bool:
        idx = self._catalog[collection].get("index")
        return bool(idx) and idx["at_mutation"] == self._mutation_token(collection)

    # ── resident serving (build once, search many) ────────────────────────

    def load_resident(self, collection: str) -> dict:
        """Build (or rebuild) the collection's resident copy, as the reference
        holds its HNSW graph in process (HNSWIndex.js:245-320).  A collection
        that fits (`fits_driver`: its rows × dim × 8 matrix bytes plus content
        bytes, with every other loaded snapshot, within SNAPSHOT_MEM_FRACTION
        of the driver host's MemAvailable) becomes a driver `Snapshot` in one
        Arrow pass — the copy every interactive read (search with or without
        `resident`, recall, retrieve, build_context) is served from with no
        Spark job.  Reads load it on first use too, so calling this is only
        a warm-up.  Freshness: insert, upsert, delete and forget mirror into
        it under the collection lock; any other token change (ingest,
        imports, another engine's manifest commit, external Delta commits)
        makes the next read reload it, while search_many raises.  Larger
        collections get `ResidentIndex` blocks in the Python workers for
        search(resident=True) (string-id ties in hash order; stale → exact);
        their other reads run on Spark."""
        with self._lock(collection):
            if self._load_snapshot(collection) is not None:
                snap = self._snapshots[collection]
                return {"collection": collection, "mode": "snapshot",
                        "blocks": 1, "rows": len(snap), "at_mutation": snap.token}
            cfg = self._catalog[collection]
            tok = self._mutation_token(collection)  # before the read
            idx = ResidentIndex.build(
                self._load(collection), id_col="id", vector_col="vector",
                metric=cfg["metric"],
                attr_cols=("tenant_id", "ts", "ttl_ms", "metadata"),
            )
            self._unload_blocks(collection)
            self._resident[collection] = {"idx": idx, "at_mutation": tok}
            return {
                "collection": collection, "mode": "blocks",
                "blocks": sum(p.getNumPartitions() for p in idx._parts),
                "at_mutation": tok,
            }

    def _load_snapshot(self, collection: str) -> Snapshot | None:
        """(Re)load the collection's Snapshot from storage if it fits, else
        drop it and remember the token at which it did not fit."""
        cfg = self._catalog[collection]
        with self._lock(collection):
            # token BEFORE the read (see build_index): a mid-build external
            # commit must leave the cache stale, not stamp it fresh
            tok = self._mutation_token(collection)
            df = self._load(collection)
            size = df.agg(F.count(F.lit(1)).alias("n"),
                          F.sum(F.octet_length("content")).alias("b")).first()
            held = sum(s.nbytes() for c, s in list(self._snapshots.items())
                       if c != collection)
            self._snapshots.pop(collection, None)
            if not fits_driver(size["n"], cfg["dimensions"], size["b"] or 0, held):
                self._oversize[collection] = tok
                return None
            snap = Snapshot.load(df, cfg["metric"], cfg["dimensions"], tok)
            self._snapshots[collection] = snap  # readers swap over whole
            self._oversize.pop(collection, None)
            self._unload_blocks(collection)
            return snap

    def _snapshot(self, collection: str) -> Snapshot | None:
        """The collection's fresh Snapshot, loading or rebuilding it first —
        once, under the collection lock, however many reads find it missing
        or stale.  None while the collection is over the size limit (checked
        once per token)."""
        snap = self._snapshots.get(collection)
        if snap is not None and snap.token == self._mutation_token(collection):
            return snap
        with self._lock(collection):
            tok = self._mutation_token(collection)
            snap = self._snapshots.get(collection)
            if snap is not None and snap.token == tok:
                return snap
            if self._oversize.get(collection) == tok:
                return None
            return self._load_snapshot(collection)

    def unload_resident(self, collection: str) -> None:
        """Release the collection's resident copies (no-op if not loaded);
        the next read of a collection that fits loads its snapshot again."""
        self._snapshots.pop(collection, None)
        self._oversize.pop(collection, None)
        self._unload_blocks(collection)
        ivf = self._resident_ivf.pop(collection, None)
        if ivf is not None:
            ivf["idx"].unpersist()

    def _unload_blocks(self, collection: str) -> None:
        ent = self._resident.pop(collection, None)
        if ent is not None:
            ent["idx"].unpersist()

    def load_resident_ivf(
        self, collection: str, n_centroids: int | None = None
    ) -> dict:
        """Approximate resident serving: lists grouped by centroid in
        memory, searches GEMM only the routed lists (the resident sibling
        of build_index's partition-pruned parquet layout; cosine only,
        like the reference's default metric).  Same freshness contract as
        load_resident; serve through search_many(method='resident_ivf')."""
        import math

        from fusionspark.operators.serving import ResidentIVF

        cfg = self._catalog[collection]
        if cfg["metric"] != "cosine":
            raise ValueError("resident IVF supports the cosine metric only")
        tok = self._mutation_token(collection)  # before the read, see build_index
        df = self._load(collection)
        k = n_centroids or max(2, int(math.sqrt(max(df.count(), 4))))
        idx = ResidentIVF.build(
            df, n_centroids=k, id_col="id", vector_col="vector"
        )
        old = self._resident_ivf.pop(collection, None)
        if old is not None:
            old["idx"].unpersist()
        self._resident_ivf[collection] = {
            "idx": idx,
            "n_centroids": k,
            "at_mutation": tok,
        }
        return {
            "collection": collection,
            "n_centroids": k,
            "at_mutation": tok,
        }

    def _resident_fresh(self, collection: str):
        """The fresh Snapshot or ResidentIndex, else None (no reload)."""
        tok = self._mutation_token(collection)
        snap = self._snapshots.get(collection)
        if snap is not None and snap.token == tok:
            return snap
        ent = self._resident.get(collection)
        if ent is not None and ent["at_mutation"] == tok:
            return ent["idx"]
        return None

    # ── manifest-mode maintenance ─────────────────────────────────────────

    def vacuum(self, collection: str, keep_versions: int = 1) -> int:
        """Manifest mode: drop old snapshots and unreferenced data files;
        returns files removed.  No-op (0) in parquet mode, whose rewrite
        already reclaims space."""
        self._guard_writable(collection)
        if self.storage != "manifest":
            return 0
        return self._table(collection).vacuum(keep_versions)

    def optimize(
        self,
        collection: str,
        target_file_rows: int = 1_000_000,
        cluster_by: list[str] | None = None,
    ) -> dict:
        """Manifest mode: OPTIMIZE — compact the append-accumulated small
        files into right-sized ones (ManifestTable.compact), optionally
        range-clustered so parquet min/max stats prune scans
        (Z-ORDER-lite).  Returns the committed version; {'version': -1}
        no-op in parquet mode (whose rewrites already consolidate)."""
        self._guard_writable(collection)
        if self.storage != "manifest":
            return {"collection": collection, "version": -1, "compacted": False}
        v = self._table(collection).compact(
            target_file_rows=target_file_rows, cluster_by=cluster_by
        )
        return {"collection": collection, "version": v, "compacted": True}

    def history(self, collection: str) -> list[dict]:
        """Manifest mode: the collection's commit log (version/op/rows/ts).
        Empty in parquet mode."""
        if self.storage != "manifest":
            return []
        return self._table(collection).history()

    # ── search (V1-V7, §3.1) ──────────────────────────────────────────────

    def get(self, collection: str, id: str) -> dict | None:
        """S3."""
        rows = self._load(collection).filter(F.col("id") == str(id)).limit(1).collect()
        return rows[0].asDict() if rows else None

    def search(
        self,
        collection: str,
        query_vector: list[float] | None = None,
        query_text: str | None = None,
        top_k: int = 10,
        tenant_id: str | None = None,
        metadata_filter: dict | None = None,
        approximate: bool = False,
        n_probe: int = 8,
        resident: bool = False,
    ) -> list[dict]:
        """§3.1: exact top-k with PRE-filtering (better recall than the
        reference's post-filter, SURVEY V7): tenant, metadata and TTL.
        A collection that fits the driver is answered from its `Snapshot`
        with no Spark job, `resident` or not (ties by real id); a missing
        or stale snapshot is reloaded first (see load_resident).
        approximate=True (without `resident`) searches a fresh build_index()
        IVF layout instead (partition-pruned scan, same pre-filter
        semantics).  Above the size limit, resident=True searches fresh
        ResidentIndex blocks and everything else is an exact Spark scan; a
        missing copy or a stale index falls back to that scan — never a
        silent wrong answer."""
        cfg = self._catalog[collection]
        if query_vector is None:
            query_vector = self.embedder(query_text or "", cfg["dimensions"])
        now = int(time.time() * 1000)
        ivf = (approximate and not resident and cfg["metric"] == "cosine"
               and self._index_fresh(collection))
        snap = None if ivf else self._snapshot(collection)
        if snap is not None:
            return snap.hits(query_vector, top_k,
                             snap.attrs.mask(tenant_id, metadata_filter, now))
        probes = self._probe(query_vector)
        ridx = self._resident_fresh(collection) if resident else None
        if ridx is not None:
            out = ridx.search(probes, k=top_k, merge="driver", pre_filter=(
                block_filter(tenant_id, metadata_filter, now)))
            # the string-id decode join loses row order; rank carries it
            return _hits(sorted(out.collect(), key=lambda r: r["rank"]))
        if ivf:
            from fusionspark.operators.ann import ivf_search_persisted

            out = ivf_search_persisted(
                self.spark,
                os.path.join(self.root, f"index={collection}"),
                probes, k=top_k,
                n_probe=min(n_probe, cfg["index"]["n_centroids"]),
                id_col="id", vector_col="vector",
                pre_filter=_visible(now, tenant_id, metadata_filter),
            )
            return [
                {"id": r["id"], "score": r["sim"], "distance": 1.0 - r["sim"],
                 "rank": r["rnk"]}
                for r in out.collect()
            ]
        df = self._load(collection).filter(_visible(now, tenant_id, metadata_filter))
        out = knn(
            df, probes, k=top_k, metric=cfg["metric"],
            vector_col="vector", id_col="id",
        )
        return _hits(out.collect())

    def _probe(self, vec) -> DataFrame:
        """One-row probe DataFrame (array<float>, like the stored vectors)."""
        return self.spark.createDataFrame(
            [("q0", [float(x) for x in vec])],
            "probe_id: string, probe_embedding: array<float>",
        )

    def search_many(
        self,
        collection: str,
        probes: DataFrame,
        top_k: int = 10,
        approximate: bool = False,
        n_probe: int = 8,
        probe_id_col: str = "probe_id",
        probe_vector_col: str = "probe_embedding",
        method: str = "ivf",
        refine_r: int = 50,
    ) -> DataFrame:
        """Batch search: a DataFrame of probes in, a DataFrame of
        (probe_id, id, sim/score, rank) out — nothing collects to the
        driver, so a million-probe batch is one distributed job (the
        reference answers probes one loop iteration at a time).  Exact path
        = GEMM k-NN; approximate paths over a fresh build_index() layout
        (stale index raises — a silent exact fallback would surprise at
        this scale; rebuild or pass approximate=False):
        method="ivf" = distributed pruned-list exact rerank;
        method="ivf_pq" = ADC over the persisted m-byte codes with
        tie-kept exact refine of the top `refine_r` (needs
        build_index(pq=True)).
        method="resident" (with approximate=False) = exact search over a
        fresh load_resident() copy (Snapshot: numpy on the collected probes;
        ResidentIndex: one Spark stage), no per-batch table scan; a stale
        or missing copy raises for the same no-silent-fallback reason.
        method="resident_ivf" = pruned search over a fresh
        load_resident_ivf() list cache (each partition GEMMs only its
        routed lists; cosine only), same staleness contract."""
        cfg = self._catalog[collection]
        if method == "resident":
            if approximate:
                raise ValueError("method='resident' is an exact path")
            ridx = self._resident_fresh(collection)
            if ridx is None:
                raise ValueError(
                    f"resident index for {collection!r} is stale or "
                    "missing; call load_resident() first (batch search "
                    "will not silently fall back to an exact scan)"
                )
            return ridx.search(
                probes, k=top_k,
                probe_id_col=probe_id_col,
                probe_vector_col=probe_vector_col,
            )
        if method == "resident_ivf":
            ent = self._resident_ivf.get(collection)
            if ent is None or ent["at_mutation"] != self._mutation_token(collection):
                raise ValueError(
                    f"resident IVF index for {collection!r} is stale or "
                    "missing; call load_resident_ivf() first (batch search "
                    "will not silently fall back to an exact scan)"
                )
            return ent["idx"].search(
                probes, k=top_k,
                n_probe=min(n_probe, ent["n_centroids"]),
                probe_id_col=probe_id_col,
                probe_vector_col=probe_vector_col,
            )
        if approximate:
            if cfg["metric"] != "cosine":
                raise ValueError("approximate batch search is cosine-only")
            if not self._index_fresh(collection):
                raise ValueError(
                    f"index for {collection!r} is stale or missing; call "
                    "build_index() first (batch search will not silently "
                    "fall back to an exact scan)"
                )
            path = os.path.join(self.root, f"index={collection}")
            if method == "ivf_pq":
                from fusionspark.operators.ann import ivf_pq_search

                if "pq" not in cfg["index"]:
                    raise ValueError(
                        f"no PQ codes for {collection!r}; call "
                        "build_index(pq=True) first"
                    )
                cbs = np.load(f"{path}.pq.npy")
                return ivf_pq_search(
                    self.spark, path, probes, cbs,
                    codes_path=f"{path}/codes", k=top_k,
                    n_probe=min(n_probe, cfg["index"]["n_centroids"]),
                    refine_r=refine_r,
                    id_col="id", vector_col="vector",
                    probe_id_col=probe_id_col,
                    probe_vector_col=probe_vector_col,
                )
            from fusionspark.operators.ann import ivf_search_distributed

            return ivf_search_distributed(
                self.spark,
                path,
                probes, k=top_k,
                n_probe=min(n_probe, cfg["index"]["n_centroids"]),
                id_col="id", vector_col="vector",
                probe_id_col=probe_id_col, probe_vector_col=probe_vector_col,
            )
        return knn(
            self._load(collection), probes, k=top_k, metric=cfg["metric"],
            vector_col="vector", id_col="id", strategy="numpy",
            probe_id_col=probe_id_col, probe_vector_col=probe_vector_col,
        )

    # ── hybrid retrieve (§3.2) ────────────────────────────────────────────

    def retrieve(
        self,
        collection: str,
        query: str,
        top_k: int = 10,
        weights: dict[str, float] | None = None,
    ) -> list[dict]:
        """HybridRetriever.retrieve: vector + keyword branches (over-fetched
        2×k) fused with weighted RRF (HybridRetriever.js:115-219,336-362).
        Both branches read every row, with no tenant or TTL filter.  A
        collection that fits the driver runs both from its `Snapshot` (no
        Spark job); above the limit each branch is a Spark search whose
        2×k candidates are collected.  RRF always runs on the driver
        (fusion.rrf_rank)."""
        cfg = self._catalog[collection]
        qvec = self.embedder(query, cfg["dimensions"])
        n = top_k * fusion_ops.OVERFETCH
        snap = self._snapshot(collection)
        if snap is not None:
            vec = [(h["id"], h["score"]) for h in snap.hits(qvec, n)]
            kw = keyword_rank(snap.ids, snap.content, query, n)
        else:
            df = self._load(collection)
            vec = [(r["id"], r["score"]) for r in knn(
                df, self._probe(qvec), k=n, metric=cfg["metric"],
                vector_col="vector", id_col="id",
            ).collect()]
            kw = [(r["id"], r["score"]) for r in keyword_search(
                df.withColumn("text", F.coalesce("content", F.lit(""))),
                query, top_k=n, id_col="id",
            ).collect()]
        return fusion_ops.rrf_rank(
            {"vector": vec, "keyword": kw}, top_k=top_k,
            weights=weights or {"vector": 0.5, "keyword": 0.5},
        )

    # ── multi-tenancy facade (FusionEngine.js:246-271) ────────────────────

    def tenant(self, collection: str, tenant_id: str) -> "TenantProxy":
        """Tenant-scoped proxy: every operation through it is automatically
        tagged/filtered by tenant_id."""
        return TenantProxy(self, collection, tenant_id)

    # ── autosave (S8; FusionEngine.js persistence timer) ──────────────────

    def autosave(self, backup_root: str, interval_s: float = 60.0):
        """S8: periodic snapshot timer.  Parquet writes are already durable
        (unlike the reference's in-memory index), so the Spark-era analogue
        is a catalog + data snapshot for point-in-time restore.  Returns a
        handle with .stop(); snapshots land in
        `<backup_root>/snapshot=<millis>/`."""
        import threading

        stop = threading.Event()

        def snap_once() -> str:
            dest = os.path.join(backup_root, f"snapshot={int(time.time() * 1000)}")
            os.makedirs(dest, exist_ok=True)
            shutil.copy(self._catalog_path, os.path.join(dest, "_catalog.json"))
            for name in list(self._catalog):
                src = self._path(name)
                if os.path.isdir(src):
                    shutil.copytree(
                        src, os.path.join(dest, os.path.basename(src)),
                        dirs_exist_ok=True,
                    )
            return dest

        def loop() -> None:
            while not stop.wait(interval_s):
                snap_once()

        thread = threading.Thread(target=loop, daemon=True)
        thread.start()

        class _Handle:
            def stop(self) -> None:
                stop.set()
                thread.join(timeout=5)

            snapshot = staticmethod(snap_once)

        return _Handle()

    # ── agent memory (M1-M3) ──────────────────────────────────────────────

    def remember(
        self, agent_id: str, content: str, mem_type: str = "episodic",
        importance: float = 0.5,
    ) -> int:
        """M1 (AgentMemory.js:144-167): typed insert, tenant = agent."""
        coll = f"_memory_{mem_type}"
        if coll not in self._catalog:
            self.create_collection(coll, CollectionConfig())
        return self.insert(
            coll,
            [{
                "id": f"mem_{mem_type}_{int(time.time() * 1e6)}",
                "content": content,
                "metadata": {"importance": importance},
            }],
            tenant_id=agent_id,
        )

    def recall(self, agent_id: str, query: str, mem_type: str = "episodic", top_k: int = 5):
        """M2 (AgentMemory.js:379-444): per-type k-NN with tenant filter;
        a memory type never written to recalls as empty, not as an error."""
        coll = f"_memory_{mem_type}"
        if coll not in self._catalog:
            return []
        return self.search(coll, query_text=query, top_k=top_k, tenant_id=agent_id)

    def learn(self, agent_id: str, content: str, confidence: float = 0.7) -> int:
        """M1 learn → semantic memory (AgentMemory.js:185-205): knowledge
        entries land in _memory_semantic with confidence as importance."""
        return self.remember(agent_id, content, mem_type="semantic", importance=confidence)

    def share(self, agent_id: str, content: str, importance: float = 0.5) -> int:
        """M5 share → the cross-agent pool (AgentMemory.js:484-505):
        entries land in _memory_shared, visible to collaborative_recall."""
        return self.remember(agent_id, content, mem_type="shared", importance=importance)

    # ── conversations (M4; AgentMemory.js:285-335) ────────────────────────

    def add_message(
        self, agent_id: str, thread_id: str, role: str, content: str
    ) -> int:
        """M4: append a message to an (agent, thread) conversation.  Stored
        as an append-only collection — the last-N trim happens at READ time
        (a window, not an in-place mutation), the only model that works on
        immutable storage."""
        coll = "_conversations"
        if coll not in self._catalog:
            self.create_collection(coll, CollectionConfig())
        return self.insert(
            coll,
            [{
                "id": f"msg_{int(time.time() * 1e6)}",
                "content": content,
                "metadata": {"thread_id": thread_id, "role": role},
            }],
            tenant_id=agent_id,
        )

    def get_conversation(
        self, agent_id: str, thread_id: str, limit: int = 0, since: int = 0
    ) -> list[dict]:
        """M4: messages for (agent, thread) in ts order; `since` (epoch ms)
        and last-`limit` slice like the reference (AgentMemory.js:323-335).
        The slice is the SAME window plan the attested `conversation_tail`
        query runs (row_number over (ts, id) desc, then re-sort) — Spark
        does the sort and the last-N cut; the driver only materializes the
        already-bounded result (VERDICT r5 #8)."""
        from pyspark.sql import Window

        coll = "_conversations"
        if coll not in self._catalog:
            return []
        df = self._load(coll).filter(
            (F.col("tenant_id") == agent_id)
            & (F.col("metadata").getItem("thread_id") == thread_id)
        )
        if since:
            df = df.filter(F.col("ts") > since)
        df = df.select("id", "content", "metadata", "ts")
        if limit:
            w = Window.partitionBy(F.lit(1)).orderBy(
                F.col("ts").desc(), F.col("id").desc()
            )
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= limit)
                .drop("_rn")
            )
        rows = df.orderBy(F.col("ts").asc(), F.col("id").asc()).collect()
        return [
            {
                "id": r["id"],
                "role": (r["metadata"] or {}).get("role"),
                "content": r["content"],
                "timestamp": r["ts"],
            }
            for r in rows
        ]

    def forget(self, agent_id: str, mem_type: str = "episodic") -> None:
        """M3 GDPR delete (AgentMemory.js:530-565): a pure anti-filter
        rewrite — no ids ever reach the driver, so a tenant of any size
        deletes in one distributed pass (Delta `DELETE WHERE tenant_id = ?`
        at scale).  eqNullSafe keeps untenanted rows."""
        self._delete_where(
            f"_memory_{mem_type}", F.col("tenant_id").eqNullSafe(agent_id),
            lambda s: s.forget(agent_id),
        )

    # ── RAG (§3.3) ────────────────────────────────────────────────────────

    def ingest(
        self, collection: str, doc_id: str, text: str, strategy: str = "recursive"
    ) -> int:
        """RAGPipeline.ingest: chunk → embed → append, distributed END TO
        END — chunks never come back to the driver (the reference's
        sequential embed loop, RAGPipeline.js:91-137, and round-1's
        collect-and-reinsert both funnel the corpus through one process).
        Embeddings come from the engine's embed_fn via the distinct-text
        Arrow batch; the append write is the only action."""
        if collection not in self._catalog:
            self.create_collection(collection, CollectionConfig())
        docs = self.spark.createDataFrame([(doc_id, text)], "doc_id: string, text: string")
        chunks = chunk_documents(docs, strategy)
        # one document's chunks: one file per append
        self._append(collection, self._ingest_entries(chunks, collection).coalesce(1))
        return chunks.count()

    def _ingest_entries(self, chunks: DataFrame, collection: str) -> DataFrame:
        """chunk rows → engine rows: distinct-text embed + width check +
        metadata shape.  Shared by batch ingest and the streaming sink —
        identical plan either way."""
        from fusionspark.operators.embedder import embed_texts

        dim = self._catalog[collection]["dimensions"]
        now = int(time.time() * 1000)
        emb = embed_texts(chunks, "chunk_text", dim, self.embedder)
        # a provider whose dimensions differ from the collection config (or
        # a missing embedding of an unjoined chunk) fails the write job
        # instead of silently storing wrong-width vectors
        checked_vec = _checked_vector(F.col("embedding"), dim)
        return (
            chunks.join(F.broadcast(emb), chunks["chunk_text"] == emb["text"], "left")
            .select(
                F.concat(
                    F.col("doc_id"), F.lit("_chunk_"),
                    F.col("chunk_index").cast("string"),
                ).alias("id"),
                checked_vec.cast("array<float>").alias("vector"),
                F.col("chunk_text").alias("content"),
                F.create_map(
                    F.lit("_chunk_index"), F.col("chunk_index").cast("string"),
                    F.lit("_total_chunks"), F.col("total_chunks").cast("string"),
                    F.lit("_source"), F.col("doc_id"),
                ).alias("metadata"),
                F.lit(None).cast("string").alias("tenant_id"),
                F.lit(now).cast("long").alias("ts"),
                F.lit(0).cast("long").alias("ttl_ms"),
            )
        )

    def ingest_stream(
        self,
        collection: str,
        docs_stream: DataFrame,
        checkpoint_path: str,
        strategy: str = "recursive",
        trigger_available_now: bool = True,
    ):
        """Continuous RAG ingestion (S8 × streaming): a readStream of
        (doc_id, text) rows flows through the SAME chunk→embed→append plan
        as batch ingest, one micro-batch at a time, exactly-once via the
        checkpoint.  Returns the StreamingQuery.  The reference has no
        streaming ingest at all — its autosave timer
        (FusionEngine.js autoSaveIntervalMs) is the closest analogue."""
        if collection not in self._catalog:
            self.create_collection(collection, CollectionConfig())

        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            chunks = chunk_documents(batch_df, strategy)
            self._append(collection, self._ingest_entries(chunks, collection))

        writer = docs_stream.writeStream.foreachBatch(sink).option(
            "checkpointLocation", checkpoint_path
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def build_context(
        self, collection: str, query: str, max_tokens: int = 2000, top_k: int = 10
    ) -> dict:
        """RAGPipeline.buildContext: top-k → greedy token-budget pack (W3) →
        prompt assembly (RAGPipeline.js:174-241).  The top-k is search()'s
        (TTL-filtered, every tenant), each hit with its own row's content:
        from the `Snapshot` with no Spark job when the collection fits the
        driver, else one Spark search that carries the content.  The pack
        (context.pack_rows) always runs on the driver."""
        cfg = self._catalog[collection]
        qvec = self.embedder(query, cfg["dimensions"])
        now = int(time.time() * 1000)
        snap = self._snapshot(collection)
        if snap is not None:
            hits = snap.hits(qvec, top_k, snap.attrs.mask(None, None, now),
                             content=True)
        else:
            hits = knn(
                self._load(collection).filter(_visible(now)), self._probe(qvec),
                k=top_k, metric=cfg["metric"], vector_col="vector", id_col="id",
                keep_cols=("content",),
            ).collect()
        if not hits:
            return {"prompt": query, "sources": [], "chunks": []}
        packed = pack_rows(
            [(h["id"], h["score"], h["content"] or "") for h in hits], max_tokens
        )
        chunks = [r[2] for r in packed]
        context = "\n\n".join(chunks)
        return {
            "prompt": f"Context:\n{context}\n\nQuestion: {query}",
            "sources": [r[0] for r in packed],
            "chunks": chunks,
        }

    def analyze(self, collection: str, k: int = 0) -> dict:
        """Corpus-health analytics over the collection's vectors (no
        reference analogue — north-star surface over operators/spectral.py
        and operators/clustering.py): exact-moment spectral summary
        (total variance, participation-ratio effective rank — the
        embedding-collapse alarm) and, with k > 0, the exact k-means
        cluster profile (bit-reproducible assignments).  All computation
        is the same partial-aggregate shape the query registry attests;
        raises loudly (rather than silently wrapping) if the corpus
        exceeds the exact-int64 envelope — see covariance_int."""
        from fusionspark.operators import clustering, spectral

        cfg = self._catalog[collection]
        dim = cfg["dimensions"]
        df = self._load(collection)
        n = df.count()
        out: dict = {"collection": collection, "n": n, "dimensions": dim}
        if n == 0:
            return out
        s = spectral.spectrum_stats(df, vec_col="vector", dim=dim).collect()[0]
        out.update(
            totalVariance=s["total_variance"],
            frobenius=s["frobenius"],
            effectiveRank=s["effective_rank"],
        )
        if k > 0:
            prof = clustering.cluster_profile(
                clustering.lloyd(
                    df, k=k, iters=3, id_col="id", vec_col="vector", dim=dim
                )
            ).collect()
            out["clusters"] = sorted(
                (
                    {
                        "cluster": r["cluster"],
                        "nMembers": r["n_members"],
                        "avgDist2": r["avg_dist2"],
                    }
                    for r in prof
                ),
                key=lambda c: c["cluster"],
            )
        return out

    def validate(self, collection: str) -> list[dict]:
        """Data-quality gate over a collection (operators/dq.py — no
        reference analogue; the reference dim-checks each insert
        (Collection.js) but has no corpus-level audit): id/vector
        presence, the configured dimensionality on every stored vector,
        non-negative ttl, ts presence, and (tenant_id, id) uniqueness —
        exactly the invariants insert(replace=True) maintains, so a
        failing row means out-of-band writes or a bug, not drift.
        Returns the uniform (rule, n_rows, n_violations, passed) report."""
        from fusionspark.operators import dq

        cfg = self._catalog[collection]
        dim = cfg["dimensions"]
        df = self._load(collection)
        rules = dq.dq_check(
            df,
            [
                ("id_not_null", F.col("id").isNull()),
                ("vector_not_null", F.col("vector").isNull()),
                (
                    "vector_dim",
                    F.col("vector").isNotNull() & (F.size("vector") != F.lit(dim)),
                ),
                ("ttl_non_negative", F.col("ttl_ms") < 0),
                ("ts_present", F.col("ts").isNull()),
            ],
        )
        # count_distinct drops NULL keys, so null tenants get a sentinel
        keyed = df.withColumn("_t", F.coalesce(F.col("tenant_id"), F.lit("")))
        uniq = dq.dq_unique(keyed, ["_t", "id"], "tenant_id_unique")
        return [r.asDict() for r in dq.dq_suite([rules, uniq]).collect()]


class TenantProxy:
    """Tenant-scoped view of one collection (FusionEngine.js:246-271): the
    tenant tag rides every insert and the tenant filter every search — the
    filter is a pushed-down predicate, so isolation costs a parquet filter,
    not a copy."""

    def __init__(self, engine: FusionSparkEngine, collection: str, tenant_id: str):
        self.engine = engine
        self.collection = collection
        self.tenant_id = tenant_id

    def insert(self, entries: list[dict], ttl_ms: int = 0) -> int:
        return self.engine.insert(
            self.collection, entries, tenant_id=self.tenant_id, ttl_ms=ttl_ms
        )

    def search(self, query_vector=None, query_text=None, top_k: int = 10, **kw) -> list[dict]:
        return self.engine.search(
            self.collection, query_vector=query_vector, query_text=query_text,
            top_k=top_k, tenant_id=self.tenant_id, **kw,
        )

    def get(self, id: str):
        row = self.engine.get(self.collection, id)
        return row if row and row.get("tenant_id") == self.tenant_id else None

    def delete(self, ids: list[str]) -> None:
        # tenant-filtered: ids owned by other tenants are untouched
        self.engine.delete(self.collection, ids, tenant_id=self.tenant_id)


def collaborative_recall(
    self, agent_ids: list[str], query: str, mem_type: str = "episodic", top_k: int = 5
) -> dict[str, list[dict]]:
    """M7 (AgentOrchestrator.js:243-268): recall per agent + shared pool."""
    out = {a: self.recall(a, query, mem_type, top_k) for a in agent_ids}
    try:
        out["shared"] = self.search(
            "_memory_shared", query_text=query, top_k=top_k
        )
    except Exception:  # noqa: BLE001 — no shared pool yet
        out["shared"] = []
    return out


#: export_json refuses above this many rows — the one-dict interchange
#: format is inherently driver-resident; export_jsonl is the scale path.
EXPORT_JSON_ROW_CAP = 100_000


def export_json(self, collection: str, max_rows: int = EXPORT_JSON_ROW_CAP) -> dict:
    """S7: whole-collection JSON export in the reference's shape
    (FusionEngine.js:278-312 / HNSWIndex.js:390-439) — entries with id/
    vector/metadata.  For interchange with the reference; Parquet remains
    the native format.

    Driver-resident by nature (one Python dict), so it REFUSES collections
    beyond `max_rows` with an explicit error instead of OOMing the driver —
    use export_jsonl() for arbitrarily large collections."""
    n = self._load(collection).count()
    if n > max_rows:
        raise ValueError(
            f"collection {collection!r} has {n} rows > export_json cap "
            f"{max_rows}; use export_jsonl() — the distributed interchange path"
        )
    rows = self._load(collection).collect()
    return {
        "name": collection,
        "config": self._catalog[collection],
        "entries": [
            {
                "id": r["id"],
                "vector": [float(x) for x in r["vector"]],
                "metadata": {
                    **(dict(r["metadata"]) if r["metadata"] else {}),
                    "_content": r["content"],
                    "_tenant_id": r["tenant_id"],
                    "_timestamp": r["ts"],
                    "_ttl": r["ttl_ms"],
                },
            }
            for r in rows
        ],
    }


def import_json(self, payload: dict) -> int:
    """S7 inverse: load a reference-format export into a new collection."""
    name = payload["name"]
    cfg = payload.get("config", {})
    if name not in self._catalog:
        self.create_collection(
            name,
            CollectionConfig(
                dimensions=cfg.get("dimensions", 64),
                metric=cfg.get("metric", "cosine"),
            ),
        )
    entries = []
    for e in payload.get("entries", []):
        meta = e.get("metadata") or {}
        entry = {
            "id": e["id"],
            "vector": e["vector"],
            "content": meta.get("_content"),
            "metadata": {
                k: v for k, v in meta.items() if not k.startswith("_")
            },
        }
        # restore the system fields export_json tucked into metadata —
        # dropping them silently loses tenant isolation and TTL expiry
        # (an imported row with tenant NULL is invisible to tenant-scoped
        # recall but visible to untenanted queries; ttl 0 never expires)
        if meta.get("_tenant_id") is not None:
            entry["tenant_id"] = meta["_tenant_id"]
        if meta.get("_timestamp") is not None:
            entry["ts"] = meta["_timestamp"]
        if meta.get("_ttl") is not None:
            entry["ttl_ms"] = meta["_ttl"]
        entries.append(entry)
    return self.insert(name, entries) if entries else 0


def export_jsonl(self, collection: str, path: str) -> int:
    """S7 at scale: per-partition JSONL export — every executor serializes
    its own partition with to_json and writes directly (one line per entry,
    native typed row shape), so NOTHING funnels through the driver and a
    100 TB collection exports as fast as a parquet rewrite.  Returns the
    row count (a metadata-only parquet count)."""
    df = self._load(collection)
    df.select(F.to_json(F.struct(*df.columns)).alias("value")).write.mode(
        "overwrite"
    ).text(path)
    return df.count()


def import_jsonl(self, name: str, path: str, dimensions: int = 64, metric: str = "cosine") -> int:
    """S7 inverse at scale: distributed JSONL load — from_json on the
    executors, appended straight to the collection, no driver round trip."""
    if name not in self._catalog:
        self.create_collection(
            name, CollectionConfig(dimensions=dimensions, metric=metric)
        )
    # rows without ts/ttl_ms get insert()'s defaults (now, never expire); a
    # row with a missing or wrong-width vector fails the import job
    dim = self._catalog[name]["dimensions"]
    rows = (
        self.spark.read.text(path)
        .select(F.from_json(F.col("value"), _ROW_SCHEMA).alias("r"))
        .select("r.*")
        .withColumn("vector", _checked_vector(F.col("vector"), dim))
        .withColumn("ts", F.coalesce("ts", F.lit(int(time.time() * 1000))))
        .withColumn("ttl_ms", F.coalesce("ttl_ms", F.lit(0).cast("long")))
    )
    self._append(name, rows)
    return rows.count()


FusionSparkEngine.collaborative_recall = collaborative_recall
FusionSparkEngine.export_json = export_json
FusionSparkEngine.export_jsonl = export_jsonl
FusionSparkEngine.import_json = import_json
FusionSparkEngine.import_jsonl = import_jsonl
