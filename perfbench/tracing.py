"""Spans around the calls into each fusionspark layer, recorded from the
benchmark's side only: every wrapper here replaces a public function or
method of the program for the length of a traced run, and nothing inside
the program changes.

Operators return lazy DataFrames, so an operator span (knn, keyword,
fusion, context, chunking, embed_texts) covers plan construction on the
driver.  The execution of those plans shows under the action spans
(collect/count/write/createDataFrame) and in the Spark stage metrics that
`SparkCounters` reads per request.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict

ENGINE_METHODS = (
    "search", "retrieve", "build_context", "recall", "insert", "remember",
    "ingest", "load_resident", "import_jsonl",
)


class Tracer:
    """In-memory span store.  Each span: (id, parent, request, name, start,
    end), times from time.perf_counter().  A thread-local stack gives the
    parent; `request` is the trace id of the request the thread serves."""

    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap_fn(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else 0
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                rec = (sid, parent, getattr(tracer._local, "request", None),
                       name, t0, t1)
                with tracer._lock:
                    tracer.spans.append(rec)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str, wrapper=None) -> None:
        """Replace owner.attr by a traced version (restored by unpatch);
        `wrapper`, if given, goes around the traced function."""
        raw = owner.__dict__[attr] if attr in getattr(owner, "__dict__", {}) else getattr(owner, attr)
        self._patched.append((owner, attr, raw))
        fn = raw.__func__ if isinstance(raw, classmethod) else raw
        fn = self.wrap_fn(fn, name)
        if wrapper:
            fn = wrapper(fn)
        setattr(owner, attr, classmethod(fn) if isinstance(raw, classmethod) else fn)

    def unpatch(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # ── wiring: the layer entry points the benchmark traces ───────────────

    def install(self, spark) -> None:
        from pyspark import RDD
        from pyspark.sql import DataFrame, DataFrameWriter, SparkSession

        import fusionspark.engine as eng_mod
        import fusionspark.operators.embedder as emb_mod
        import fusionspark.operators.fusion as fusion_mod
        from fusionspark.operators.serving import ResidentIndex
        from fusionspark.server import Router

        self.patch(Router, "route", "server.route", wrapper=self._route_wrapper(spark))
        for m in ENGINE_METHODS:
            self.patch(eng_mod.FusionSparkEngine, m, f"engine.{m}")
        # operators the engine imported by name
        self.patch(eng_mod, "knn", "knn.knn")
        self.patch(eng_mod, "keyword_search", "keyword.keyword_search")
        self.patch(eng_mod, "pack_context", "context.pack_context")
        self.patch(eng_mod, "chunk_documents", "chunking.chunk_documents")
        self.patch(fusion_mod, "rrf_fuse", "fusion.rrf_fuse")
        # engine._ingest_entries imports embed_texts at call time; hand it
        # the unwrapped embedder so executors keep the vectorized path
        self.patch(emb_mod, "embed_texts", "embedder.embed_texts",
                   wrapper=_unwrap_embed_fn)
        self.patch(ResidentIndex, "search", "serving.search")
        self.patch(ResidentIndex, "build", "serving.build")
        self.patch(ResidentIndex, "append", "serving.append")
        self.patch(DataFrameWriter, "parquet", "storage.write_parquet")
        for m in ("collect", "count", "first", "toPandas"):
            self.patch(DataFrame, m, f"action.df_{m}")
        for m in ("collect", "count", "treeReduce"):
            self.patch(RDD, m, f"action.rdd_{m}")
        self.patch(SparkSession, "createDataFrame", "action.createDataFrame")

    def trace_embedder(self, engine) -> None:
        """Driver-side embedder calls of one engine (query and insert
        texts); `_unwrap_embed_fn` strips this again for executors."""
        engine.embedder = self.wrap_fn(engine.embedder, "embedder.embed")

    def _route_wrapper(self, spark):
        """Router.route: the request's trace id (the `traceId` body field
        the benchmark adds) names the thread's spans and its job group."""
        tracer = self
        sc = spark.sparkContext

        def wrapper(route):
            def traced_route(router, method, path, body=None):
                rid = (body or {}).get("traceId")
                if not rid:
                    return route(router, method, path, body)
                tracer._local.request = rid
                sc.setJobGroup(rid, f"{method} {path}")
                try:
                    return route(router, method, path, body)
                finally:
                    tracer._local.request = None
                    sc.setJobGroup("perfbench-idle", "")
            return traced_route

        return wrapper

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            for sid, parent, req, name, t0, t1 in spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "request": req, "name": name,
                    "start": t0, "end": t1,
                }) + "\n")


def _unwrap_embed_fn(embed_texts):
    def call(texts, text_col="text", dimensions=64, embed_fn=None):
        if embed_fn is None:
            return embed_texts(texts, text_col, dimensions)
        return embed_texts(texts, text_col, dimensions,
                           getattr(embed_fn, "__wrapped__", embed_fn))
    return call


def self_times(spans: list[tuple]) -> dict[int, float]:
    """span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        kids[s[1]].append((s[4], s[5]))
    out = {}
    for s in spans:
        covered, end = 0.0, s[4]
        for a, b in sorted(kids.get(s[0], ())):
            a, b = max(a, end), min(b, s[5])
            if b > a:
                covered += b - a
                end = b
        out[s[0]] = (s[5] - s[4]) - covered
    return out


def layer_table(spans: list[tuple], n_ops: int) -> list[tuple]:
    """Per-layer rows, by span name prefix: (layer, calls, total ms,
    self ms, self ms per op), largest self time first."""
    selfs = self_times(spans)
    agg: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        a = agg[s[3].split(".")[0]]
        a[0] += 1
        a[1] += (s[5] - s[4]) * 1e3
        a[2] += selfs[s[0]] * 1e3
    return sorted(
        ((layer, c, tot, slf, slf / max(n_ops, 1))
         for layer, (c, tot, slf) in agg.items()),
        key=lambda r: -r[3],
    )


class SparkCounters:
    """Jobs, stages and tasks per job group from the status tracker, and
    stage metrics from the status store (kept with spark.ui disabled)."""

    KEYS = ("jobs", "stages", "tasks", "executor_run_ms", "input_bytes",
            "input_records", "output_bytes", "output_records", "shuffle_bytes")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every finished job's
        events to the status store, so stage metrics are final."""
        bus = self.sc._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty()
        except Exception:  # noqa: BLE001 — older signature takes a timeout
            bus.waitUntilEmpty(30_000)

    def group_stats(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(self.KEYS, 0)
        for j in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                try:
                    d = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                out["executor_run_ms"] += d.executorRunTime()
                out["input_bytes"] += d.inputBytes()
                out["input_records"] += d.inputRecords()
                out["output_bytes"] += d.outputBytes()
                out["output_records"] += d.outputRecords()
                out["shuffle_bytes"] += d.shuffleReadBytes() + d.shuffleWriteBytes()
        return out

    def cached_mb(self) -> float:
        return sum(r.memSize() for r in self.sc._jsc.sc().getRDDStorageInfo()) / 2**20
