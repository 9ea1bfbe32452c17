"""The benchmark's workloads, their seeded inputs and their result checks.

Every workload builds its state on a fresh engine root from the workload
seed, warms up over HTTP (setup_s runs from process start to the end of
the warm-up), measures for the requested seconds, and only then checks every
answer, in the order the requests were sent, against a numpy model of
what the engine holds.  Checks never run inside a timed span.

  agent-mix       closed loop, 1 client, HTTP: exact/tenant/filter search,
                  hybrid search, RAG context, memory recall, 20% writes
  resident-serve  open loop at a fixed rate, HTTP: resident search with
                  tenant + metadata pre-filters
"""

from __future__ import annotations

import http.client
import json
import math
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

DIM = 64
#: vector components are multiples of 1/256: exact in float32 and printed
#: exactly in JSON, so the engine and the numpy model score the same values
STEP = 256
#: distance tolerance for the model comparisons (float64 re-association)
TOL = 1e-9
TS = 1_700_000_000_000  # row timestamp; ttl 0 never expires

KB_ROWS = 2_000
TENANTS = ("tenant0", "tenant1", "tenant2", "tenant3")
LANGS = ("en", "en", "en", "de", "fr")
SOURCES = ("wiki", "docs", "forum", "chat")

RESIDENT_ROWS = 10_000
RESIDENT_CLUSTERS = 64
#: requests per second offered by the resident-serve load generator, near
#: half of one client's capacity: warm single-client filtered resident
#: searches over 20k rows took 1.0-1.2 s (~0.9 req/s) on a 4-core VM,
#: timed without checks, and over these 10k rows they take no longer
RESIDENT_RATE = 0.45
#: sequential warm-up searches: latency is within ~20% of its settled
#: value after about six
RESIDENT_WARM = 6


# ── seeded inputs ─────────────────────────────────────────────────────────


def vocabulary(n: int = 3000) -> list[str]:
    """Fixed pseudo-words (5-8 letters, no stopwords) shared by all seeds."""
    rng = np.random.default_rng(12345)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen = set()
    while len(words) < n:
        w = "".join(rng.choice(letters, rng.integers(5, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Text:
    """Zipf-skewed word draws from the shared vocabulary."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.words = vocabulary()
        p = np.cumsum(1.0 / np.arange(1, len(self.words) + 1) ** 1.1)
        self.cdf = p / p[-1]

    def pick(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return [self.words[i] for i in np.minimum(idx, len(self.words) - 1)]

    def sentence(self, lo: int, hi: int) -> str:
        return " ".join(self.pick(int(self.rng.integers(lo, hi)))) + "."

    def document(self, sentences: int) -> str:
        return " ".join(self.sentence(8, 20) for _ in range(sentences))


def quantize(X: np.ndarray) -> np.ndarray:
    return (np.clip(np.round(X * STEP), -8 * STEP, 8 * STEP) / STEP).astype(np.float32)


_NUM = {k: repr(k / STEP) for k in range(-8 * STEP, 8 * STEP + 1)}


def vec_json(v: np.ndarray) -> str:
    return "[" + ",".join(_NUM[int(k)] for k in np.round(v * STEP)) + "]"


def write_jsonl(path: str, ids, vecs, contents, tenants, metas) -> int:
    """Rows in the engine's JSONL interchange shape; returns user bytes
    (content text plus float32 vector bytes)."""
    user = 0
    with open(path, "w") as f:
        for i, v, c, t, m in zip(ids, vecs, contents, tenants, metas):
            f.write(
                f'{{"id":"{i}","vector":{vec_json(v)},"content":{json.dumps(c)},'
                f'"metadata":{json.dumps(m)},"tenant_id":"{t}","ts":{TS},"ttl_ms":0}}\n'
            )
            user += 4 * DIM + (len(c.encode()) if c else 0)
    return user


def random_meta(rng: np.random.Generator, n: int) -> list[dict]:
    return [
        {"lang": LANGS[a], "source": SOURCES[b]}
        for a, b in zip(rng.integers(0, len(LANGS), n), rng.integers(0, len(SOURCES), n))
    ]


# ── numpy model of one collection ─────────────────────────────────────────


class Model:
    """What a collection holds, for exact top-k under the engine's tie rule
    (distance ASC, id ASC) and its pre-filters."""

    def __init__(self):
        self.ids: list[str] = []
        self.tenant: list[str | None] = []
        self.meta: list[dict] = []
        self._vecs: list[np.ndarray] = []
        self._pos: dict[tuple, int] = {}
        self._M = None

    def has(self, id_: str) -> bool:
        self._arrays()
        return id_ in self._id_set

    def upsert(self, id_, vec, tenant=None, meta=None) -> None:
        key = (tenant, id_)
        vec = np.asarray(vec, dtype=np.float32).astype(np.float64)
        if key in self._pos:
            i = self._pos[key]
            self._vecs[i], self.meta[i] = vec, dict(meta or {})
        else:
            self._pos[key] = len(self.ids)
            self.ids.append(id_)
            self.tenant.append(tenant)
            self.meta.append(dict(meta or {}))
            self._vecs.append(vec)
        self._M = None

    def bulk(self, ids, vecs, tenants, metas) -> None:
        for i, v, t, m in zip(ids, vecs, tenants, metas):
            self.upsert(i, v, t, m)

    def _arrays(self) -> None:
        if self._M is None:
            self._M = np.vstack(self._vecs)
            self._norm = np.linalg.norm(self._M, axis=1)
            self._id_arr = np.asarray(self.ids)
            self._id_set = set(self.ids)
            self._tenant_arr = np.asarray(self.tenant, dtype=object)
            self._meta_arr = {
                k: np.asarray([m.get(k) for m in self.meta], dtype=object)
                for k in ("lang", "source")
            }

    def distances(self, q, tenant=None, filt=None) -> np.ndarray:
        self._arrays()
        q = np.asarray(q, dtype=np.float32).astype(np.float64)
        denom = self._norm * np.linalg.norm(q)
        with np.errstate(invalid="ignore", divide="ignore"):
            sim = np.where(denom > 0, (self._M @ q) / denom, 0.0)
        d = 1.0 - sim
        mask = np.ones(len(d), dtype=bool)
        if tenant is not None:
            mask &= self._tenant_arr == tenant
        for k, v in (filt or {}).items():
            allowed = [str(x) for x in v] if isinstance(v, list) else [str(v)]
            mask &= np.isin(self._meta_arr[k], allowed)
        return np.where(mask, d, np.inf)

    def topk(self, d: np.ndarray, k: int) -> list[tuple[float, str]]:
        order = np.lexsort((self._id_arr, d))[:k]
        return [(float(d[i]), self.ids[i]) for i in order if np.isfinite(d[i])]

    def agrees(self, hits: list, q, k: int, tenant=None, filt=None,
               by_id: bool = True) -> bool:
        """hits (id, distance) in rank order equal the model's top-k, up to
        exact-distance ties; by_id=False compares distances only."""
        if not self.ids:
            return hits == []
        d = self.distances(q, tenant, filt)
        ref = self.topk(d, k)
        if len(hits) != len(ref):
            return False
        for (hid, hd), (rd, rid) in zip(hits, ref):
            if abs(hd - rd) > TOL:
                return False
            if by_id and hid != rid:
                # a different id is right only if it ties at this distance
                tied = np.flatnonzero(self._id_arr == hid)
                if not any(abs(d[j] - rd) <= TOL for j in tied):
                    return False
        return True


# ── engine / HTTP plumbing ────────────────────────────────────────────────


def start_spark():
    from fusionspark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, the caller reaps
            proc.kill()
            proc.wait(timeout=10)


class Http:
    def __init__(self, port: int):
        self.port = port

    def post(self, path: str, body: dict) -> tuple[int, object]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", path, body=json.dumps(body).encode(),
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read() or b"null")
        finally:
            conn.close()


def start_server(engine):
    from fusionspark.server import serve

    server = serve(engine, port=0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def stop_server(server, thread) -> None:
    server.shutdown()
    server.server_close()
    thread.join(timeout=30)


def tree_pids(pid: int) -> list[int]:
    """pid and all its descendants (driver, JVM, Python workers)."""
    kids: dict[int, list] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [pid], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    this process tree.  Time the host steals from the box is not in it."""
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
    return total / _TICK


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole box so far: the stolen ones
    are time the host ran something else on this box's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def disk_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root) for f in files
    )


def files_per_collection(root: str) -> float:
    counts = [
        sum(1 for _d, _s, fs in os.walk(os.path.join(root, c))
            for f in fs if f.endswith(".parquet"))
        for c in os.listdir(root) if c.startswith("collection=")
    ]
    return sum(counts) / max(len(counts), 1)


def mark(started: float, what: str) -> None:
    """Progress line on stderr: seconds since process start."""
    print(f"[{time.perf_counter() - started:6.1f} s] {what}", file=sys.stderr, flush=True)


# ── requests and results ──────────────────────────────────────────────────


@dataclass
class Req:
    route: str      # metric route: search, hybrid, rag, recall, write
    kind: str       # request variant (search_tenant, upsert, ...)
    due: float      # when it was due (open loop) or sent (closed loop)
    sent: float
    end: float      # response received; checks are not inside [due, end]
    status: int
    payload: object
    check: object   # payload -> bool, run after the measured window
    rid: str = ""   # trace id (traced runs only)
    user_bytes: int = 0  # text and vector bytes the request carries
    ok: bool = False

    @property
    def ms(self) -> float:
        return (self.end - self.due) * 1e3


@dataclass
class Result:
    workload: str
    engine: object = None
    setup_s: float = 0.0
    warm: list = field(default_factory=list)      # warm-up requests
    reqs: list = field(default_factory=list)      # measured requests
    t0: float = 0.0
    t1: float = 0.0
    cpu_s: float = 0.0  # process-tree CPU seconds over [t0, t1]
    steal: tuple = (0, 1)  # host_ticks() deltas over [t0, t1]
    user_bytes: int = 0
    disk_bytes: int = 0
    files_per_collection: float = 0.0


def send(client: Http, req, due: float | None = None, rid: str = "") -> Req:
    route, kind, path, body, check = req
    if rid:
        body = dict(body, traceId=rid)  # the router ignores unknown fields
    sent = time.perf_counter()
    try:
        status, payload = client.post(path, body)
    except Exception:  # noqa: BLE001 — any failure counts against failed_frac
        status, payload = 0, None
    end = time.perf_counter()
    text = body.get("text") or body.get("content") or ""
    user = len(text.encode()) + (4 * DIM if body.get("vector") else 0)
    return Req(route, kind, sent if due is None else due, sent, end, status,
               payload, check, rid, user)


def verify(reqs: list) -> None:
    """Run each request's check in send order (write checks advance the
    model, so later reads are checked against the state they saw)."""
    for r in reqs:
        try:
            r.ok = 200 <= r.status < 300 and bool(r.check(r.payload))
        except Exception:  # noqa: BLE001 — a malformed answer is a failure
            r.ok = False


def finish(res: Result, engine, user_bytes: int) -> Result:
    verify(res.warm + res.reqs)
    res.engine = engine
    res.user_bytes = user_bytes
    res.disk_bytes = disk_bytes(engine.root)
    res.files_per_collection = files_per_collection(engine.root)
    return res


# ── agent-mix ─────────────────────────────────────────────────────────────

#: one closed-loop cycle: four reads and one write (20% writes).  Search
#: variants and write kinds rotate across cycles.
AGENT_CYCLE = ("search", "hybrid", "write", "rag", "recall")
SEARCH_KINDS = ("search_plain", "search_tenant", "search_filter")
WRITE_KINDS = ("insert", "upsert", "remember", "ingest")
AGENT_IDS = ("agent0", "agent1")
#: warm-up: cycles of reads, and how many of them are in flight at once
AGENT_WARM_CYCLES = 2
AGENT_WARM_LANES = 4


class AgentMix:
    def __init__(self, seed: int, work: str):
        from fusionspark.operators.chunking import split_recursive
        from fusionspark.operators.embedder import mock_embed

        self.split = split_recursive
        self.embed = mock_embed
        rng = self.rng = np.random.default_rng(seed)
        self.text = Text(rng)
        n = KB_ROWS
        centers = rng.standard_normal((32, DIM))
        self.kb_vecs = quantize(
            centers[rng.integers(0, 32, n)] + 0.6 * rng.standard_normal((n, DIM))
        )
        self.kb_ids = [f"kb{i:05d}" for i in range(n)]
        self.kb_tenant = [TENANTS[i % 4] for i in range(n)]
        self.kb_meta = random_meta(rng, n)
        contents = [self.text.sentence(24, 40) for _ in range(n)]
        self.jsonl = os.path.join(work, "kb.jsonl")
        self.kb_user_bytes = write_jsonl(
            self.jsonl, self.kb_ids, self.kb_vecs, contents, self.kb_tenant, self.kb_meta
        )
        # query pool, drawn Zipf-skewed so popular queries repeat
        pool = 200
        base = self.kb_vecs[rng.integers(0, n, pool)].astype(np.float64)
        self.q_vecs = quantize(base + 0.3 * rng.standard_normal((pool, DIM)))
        self.q_texts = [" ".join(self.text.pick(3)) for _ in range(pool)]
        self.n_fresh = 0
        self.n_writes = 0
        self.kb = Model()
        self.kb.bulk(self.kb_ids, self.kb_vecs, self.kb_tenant, self.kb_meta)
        self.mem = Model()
        self.user_bytes = self.kb_user_bytes

    def draw(self) -> int:
        return int(min(self.rng.zipf(1.3), len(self.q_texts)) - 1)

    def request(self, route: str, cycle: int):
        """(route, kind, path, body, check(payload) -> bool)"""
        i = self.draw()
        qv, qt = self.q_vecs[i], self.q_texts[i]
        if route == "search":
            kind = SEARCH_KINDS[cycle % 3]
            body = {"collection": "kb", "vector": [float(x) for x in qv], "topK": 10}
            tenant = filt = None
            if kind == "search_tenant":
                tenant = body["tenantId"] = TENANTS[cycle % 4]
            elif kind == "search_filter":
                filt = body["filter"] = (
                    {"lang": "en"} if cycle % 2 else {"source": ["wiki", "docs"]}
                )
            return route, kind, "/api/search", body, lambda p: self.kb.agrees(
                [(h["id"], h["distance"]) for h in p], qv, 10, tenant, filt
            )
        if route == "hybrid":
            body = {"collection": "kb", "query": qt, "topK": 10}
            return route, route, "/api/hybrid-search", body, lambda p: (
                len(p) <= 10 and all(self.kb.has(h["doc_id"]) for h in p)
            )
        if route == "rag":
            body = {"collection": "kb", "query": qt, "maxTokens": 300, "topK": 5}
            return route, route, "/api/rag/query", body, lambda p: self._rag_ok(p, qt)
        if route == "recall":
            agent = AGENT_IDS[cycle % 2]
            body = {"agentId": agent, "query": qt, "topK": 5}
            return route, route, "/api/memory/recall", body, lambda p: self.mem.agrees(
                [(h["id"], h["distance"]) for h in p], self.embed(qt, DIM), 5,
                tenant=agent, by_id=False,
            )
        return self._write(WRITE_KINDS[cycle % 4], cycle)

    def _rag_ok(self, p: dict, qt: str) -> bool:
        """Within the token budget, and every source is one of the exact
        top-k search hits for the query (ties at the k-th distance kept)."""
        tokens = sum(math.ceil(len(c) / 4) for c in p["chunks"])
        d = self.kb.distances(self.embed(qt, DIM))
        kth = self.kb.topk(d, 5)[-1][0]
        near = set(self.kb._id_arr[d <= kth + TOL])
        return 0 < len(p["sources"]) and tokens <= 300 and set(p["sources"]) <= near

    def _write(self, kind: str, cycle: int):
        self.n_writes += 1
        if kind in ("insert", "upsert"):
            if kind == "insert":
                self.n_fresh += 1
                id_, tenant = f"new{self.n_fresh:05d}", TENANTS[self.n_fresh % 4]
            else:
                j = self.draw() * 97 % KB_ROWS
                id_, tenant = self.kb_ids[j], self.kb_tenant[j]
            vec = quantize(self.rng.standard_normal(DIM))
            meta = {"lang": "en", "source": "chat"}
            text = self.text.sentence(24, 40)
            body = {"collection": "kb", "id": id_, "vector": [float(x) for x in vec],
                    "text": text, "metadata": meta, "tenantId": tenant}

            def check(p):
                self.kb.upsert(id_, vec, tenant, meta)
                self.user_bytes += 4 * DIM + len(text.encode())
                return p == {"inserted": 1, "id": id_}
            return "write", kind, "/api/insert", body, check
        if kind == "remember":
            agent = AGENT_IDS[cycle % 2]
            text = self.text.sentence(10, 20)

            def check(p):
                self.mem.upsert(f"m{len(self.mem.ids)}", self.embed(text, DIM), agent)
                self.user_bytes += len(text.encode())
                return p == {"stored": 1}
            return ("write", kind, "/api/memory/remember",
                    {"agentId": agent, "content": text}, check)
        text = self.text.document(8)

        def check(p):
            self.user_bytes += len(text.encode())
            return p == {"chunks": len(self.split(text))}
        return ("write", kind, "/api/rag/ingest",
                {"collection": "notes", "docId": f"note{self.n_writes:05d}", "text": text},
                check)


def run_agent_mix(spark, seed: int, seconds: float, work: str, tracer,
                  started: float) -> Result:
    from fusionspark.engine import FusionSparkEngine

    res = Result("agent-mix")
    wl = AgentMix(seed, work)
    mark(started, "inputs generated")
    engine = FusionSparkEngine(spark, os.path.join(work, "root"))
    engine.import_jsonl("kb", wl.jsonl, dimensions=DIM)
    mark(started, "kb imported")
    if tracer:
        tracer.trace_embedder(engine)
    server, thread = start_server(engine)
    client = Http(server.server_address[1])
    try:
        # warm-up, checked but not measured: one memory (so recall ranks
        # something), then AGENT_WARM_CYCLES cycles' reads over
        # AGENT_WARM_LANES connections at once (reads share no mutable
        # state; overlapping them gets the JVM through its first-call and
        # JIT costs in less wall time), then the window's first write kind.
        # A traced run also sends an upsert and an ingest, for the storage
        # and chunking figures of the write kinds a short window never
        # reaches.
        reads = [(r, c) for c in range(AGENT_WARM_CYCLES) for r in AGENT_CYCLE
                 if r != "write"]
        writes = [("write", 0)] + ([("write", 1), ("write", 3)] if tracer else [])
        warm = [(f"warm-{n}" if tracer else "", wl.request(route, c))
                for n, (route, c) in enumerate([("write", 2)] + reads + writes)]
        res.warm = [send(client, warm[0][1], rid=warm[0][0])]
        with ThreadPoolExecutor(max_workers=AGENT_WARM_LANES) as pool:
            res.warm += pool.map(lambda w: send(client, w[1], rid=w[0]),
                                 warm[1:1 + len(reads)])
        mark(started, "concurrent warm-up done")
        res.warm += [send(client, req, rid=rid) for rid, req in warm[1 + len(reads):]]
        res.setup_s = time.perf_counter() - started
        mark(started, "warm-up done")
        # whole cycles only, so every run sends the same route mix; a cycle
        # starts if the previous one says it will end within the window
        # (the first always runs)
        cpu0, host0 = tree_cpu_s(), host_ticks()
        res.t0 = last = time.perf_counter()
        cycle = 0
        while cycle == 0 or 2 * last - res.t0 - prev <= seconds:
            prev = last
            for route in AGENT_CYCLE:
                rid = f"req-{cycle}-{route}" if tracer else ""
                res.reqs.append(send(client, wl.request(route, cycle), rid=rid))
            last = time.perf_counter()
            cycle += 1
        res.t1 = last
        res.cpu_s = tree_cpu_s() - cpu0
        res.steal = tuple(b - a for a, b in zip(host0, host_ticks()))
    finally:
        stop_server(server, thread)
    mark(started, "window done")
    return finish(res, engine, wl.user_bytes)


# ── resident-serve ────────────────────────────────────────────────────────


class ResidentServe:
    def __init__(self, seed: int, work: str):
        rng = self.rng = np.random.default_rng(seed)
        n = RESIDENT_ROWS
        centers = rng.standard_normal((RESIDENT_CLUSTERS, DIM))
        self.vecs = quantize(
            centers[rng.integers(0, RESIDENT_CLUSTERS, n)] + 0.5 * rng.standard_normal((n, DIM))
        )
        self.ids = [f"v{i:06d}" for i in range(n)]
        self.tenant = [TENANTS[i % 4] for i in range(n)]
        self.meta = random_meta(rng, n)
        self.jsonl = os.path.join(work, "vectors.jsonl")
        self.user_bytes = write_jsonl(
            self.jsonl, self.ids, self.vecs, [None] * n, self.tenant, self.meta
        )
        self.model = Model()
        self.model.bulk(self.ids, self.vecs, self.tenant, self.meta)

    def search(self, i: int):
        """Search i of the schedule; every query vector is fresh."""
        base = self.vecs[self.rng.integers(0, len(self.ids))].astype(np.float64)
        q = quantize(base + 0.4 * self.rng.standard_normal(DIM))
        tenant = TENANTS[(i // 2) % 4]
        filt = {"lang": "en"} if i % 2 else {"source": ["wiki", "forum"]}
        body = {"collection": "vec", "vector": [float(x) for x in q], "topK": 10,
                "tenantId": tenant, "filter": filt, "resident": True}
        return "search", "resident", "/api/search", body, lambda p: self.model.agrees(
            [(h["id"], h["distance"]) for h in p], q, 10, tenant, filt
        )


def run_resident_serve(spark, seed: int, seconds: float, work: str, tracer,
                       started: float) -> Result:
    from fusionspark.engine import FusionSparkEngine

    res = Result("resident-serve")
    wl = ResidentServe(seed, work)
    mark(started, "inputs generated")
    engine = FusionSparkEngine(spark, os.path.join(work, "root"))
    engine.import_jsonl("vec", wl.jsonl, dimensions=DIM)
    mark(started, "vectors imported")
    engine.load_resident("vec")
    mark(started, "resident index loaded")
    server, thread = start_server(engine)
    client = Http(server.server_address[1])
    inflight = len(os.sched_getaffinity(0))
    try:
        # warm-up over HTTP, one at a time, checked, not measured
        res.warm = [send(client, wl.search(i), rid=f"warm-{i}" if tracer else "")
                    for i in range(RESIDENT_WARM)]
        res.setup_s = time.perf_counter() - started
        mark(started, "warm-up done")
        lanes = threading.BoundedSemaphore(inflight)

        def one(req, due, rid):
            try:
                return send(client, req, due=due, rid=rid)
            finally:
                lanes.release()

        futures = []
        with ThreadPoolExecutor(max_workers=inflight) as pool:
            cpu0, host0 = tree_cpu_s(), host_ticks()
            res.t0 = time.perf_counter()
            for i in range(RESIDENT_WARM,
                           RESIDENT_WARM + max(1, round(seconds * RESIDENT_RATE))):
                due = res.t0 + (i - RESIDENT_WARM) / RESIDENT_RATE
                time.sleep(max(0.0, due - time.perf_counter()))
                lanes.acquire()
                rid = f"req-{i}" if tracer else ""
                futures.append(pool.submit(one, wl.search(i), due, rid))
            res.reqs = [f.result() for f in futures]
        res.t1 = time.perf_counter()
        res.cpu_s = tree_cpu_s() - cpu0
        res.steal = tuple(b - a for a, b in zip(host0, host_ticks()))
    finally:
        stop_server(server, thread)
    mark(started, "window done")
    return finish(res, engine, wl.user_bytes)


RUNNERS = {
    "agent-mix": run_agent_mix,
    "resident-serve": run_resident_serve,
}
