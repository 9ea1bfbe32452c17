"""Driver-local snapshot: every read (search with or without `resident`,
recall, retrieve, build_context) equals the Spark path across writes and
runs no Spark job; bit-identical answers after a rebuild, reads during
concurrent writes, the size-limit fallback to ResidentIndex blocks,
freshness across engines, and the import and append write paths."""

from __future__ import annotations

import gc
import itertools
import json
import math
import sys
import threading
import time
from unittest import mock

import pytest

import fusionspark.operators.serving as sv
from fusionspark.engine import CollectionConfig, FusionSparkEngine
from fusionspark.server import Router

DIM = 8
_groups = itertools.count()


@pytest.fixture()
def engine(spark, tmp_path):
    return FusionSparkEngine(spark, str(tmp_path / "store"))


def _vec(i: int) -> list[float]:
    # distinct, tie-free directions and norms
    return [math.sin(0.7 * i + 1.3 * j) + 0.05 * j for j in range(DIM)]


QUERIES = [_vec(1000 + i) for i in range(3)]
FILTERS = [
    {},
    {"tenant_id": "t1"},
    {"tenant_id": "t2", "metadata_filter": {"cat": "x"}},
    {"metadata_filter": {"cat": ["x", "y"]}},
]
# each exact search is a Spark job of about a second: one case per
# intermediate state, every filter once at the end
ALL = list(zip(itertools.cycle(QUERIES), FILTERS))
ONE = [(QUERIES[1], {"tenant_id": "t1"})]


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs it ran), via a fresh job group."""
    sc = spark.sparkContext
    group = f"snapshot-test-{next(_groups)}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _on_spark(engine, method, *args, **kw):
    """engine.<method>(...) on the Spark path: a second engine over the same
    root, with no snapshot loaded and none allowed to load."""
    other = FusionSparkEngine(engine.spark, engine.root, engine.embedder)
    with mock.patch.object(sv, "SNAPSHOT_MEM_FRACTION", 0.0):
        return getattr(other, method)(*args, **kw)


def _assert_resident_equals_exact(engine, coll, cases=ALL, k=10,
                                  zero_jobs=True):
    """search() with and without `resident` equals the Spark exact scan."""
    for q, kw in cases:
        exact = _on_spark(engine, "search", coll, query_vector=q, top_k=k, **kw)
        for resident in (True, False):
            res, jobs = _jobs(engine.spark, lambda: engine.search(
                coll, query_vector=q, top_k=k, resident=resident, **kw))
            if zero_jobs:
                assert jobs == [], kw
            _assert_same_hits(res, exact)


def _assert_same_hits(got, want):
    assert [h["id"] for h in got] == [h["id"] for h in want]
    for e, g in zip(want, got):
        assert abs(e["distance"] - g["distance"]) < 1e-9
        assert abs(e["score"] - g["score"]) < 1e-9
        assert g["rank"] == e["rank"]


def _resident_answers(engine, coll):
    return [
        [(h["id"], h["distance"]) for h in engine.search(
            coll, query_vector=q, top_k=10, resident=True, **kw)]
        for q, kw in itertools.product(QUERIES, FILTERS)
    ]


WORDS = ("alpha", "Beta", "gamma", "c++", "a.b", "Émile", "ÆTHER", "delta")


def _text(i: int, tenant: str) -> str:
    words = [WORDS[(i * 3 + j + len(tenant)) % len(WORDS)] for j in range(i % 4 + 1)]
    return " ".join(words + [f"{tenant}-doc{i}"] * (i % 3))


def _populate(engine, coll, metric):
    """r0..r29 under both tenants (different texts per tenant), an
    untenanted row and an expired row whose text holds every query word."""
    engine.create_collection(coll, CollectionConfig(dimensions=DIM, metric=metric))
    cats = ("x", "y", "z")
    engine.insert(coll, [
        {"id": f"r{i}", "vector": _vec(off + i), "tenant_id": t,
         "content": _text(i, t), "metadata": {"cat": cats[i % 3]}}
        for t, off in (("t1", 0), ("t2", 100)) for i in range(30)
    ] + [
        {"id": "u", "vector": _vec(500), "content": "alpha gamma"},
        {"id": "old", "vector": _vec(501), "tenant_id": "t1",
         "content": " ".join(WORDS) * 3,
         "ts": int(time.time() * 1000) - 10_000, "ttl_ms": 1},
    ])


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean"])
def test_writes_keep_snapshot_exact(engine, spark, metric):
    """insert, upsert and a tenant-scoped delete mirror into the snapshot:
    resident search keeps equal to exact search, runs no Spark job, and
    answers bit-for-bit like a snapshot rebuilt from storage.  The ids
    r0..r29 exist under both tenants (per-tenant id namespaces)."""
    _populate(engine, "w", metric)
    info = engine.load_resident("w")
    assert info["mode"] == "snapshot" and info["rows"] == 62
    _, jobs = _jobs(spark, lambda: _on_spark(engine, "search", "w",
                                             query_vector=QUERIES[0]))
    assert jobs, "the job counter must see the Spark path's jobs"
    _assert_resident_equals_exact(engine, "w", ONE)

    engine.insert("w", [{"id": f"n{i}", "vector": _vec(200 + i),
                         "metadata": {"cat": "x"}} for i in range(5)],
                  tenant_id="t2")
    _assert_resident_equals_exact(engine, "w", ONE)
    # upsert r3 of t1 onto a query's direction: it must move to the top
    engine.insert("w", [{"id": "r3", "vector": QUERIES[1],
                         "metadata": {"cat": "x"}}], tenant_id="t1")
    _assert_resident_equals_exact(engine, "w", ONE)
    top = engine.search("w", query_vector=QUERIES[1], top_k=1,
                        tenant_id="t1", resident=True)
    assert top[0]["id"] == "r3"
    # tenant-scoped delete: t2 loses r4, t1 keeps its r4
    engine.delete("w", ["r4", "n0"], tenant_id="t2")
    _assert_resident_equals_exact(engine, "w")

    cfg = engine._catalog["w"]
    mirrored = engine._snapshots["w"]
    assert engine._fresh_snapshot("w") is mirrored
    assert len(mirrored) == 62 + 5 - 2
    before = _resident_answers(engine, "w")
    engine.load_resident("w")
    assert engine._snapshots["w"] is not mirrored
    assert _resident_answers(engine, "w") == before  # bitwise distances


def test_router_resident_reads_during_writes(engine):
    """Resident searches over Router.route (more threads than cores) while
    two other threads insert and upsert: no request fails, no mirrored
    write is lost (the snapshot holds exactly the stored rows) and the
    final answers equal exact search."""
    r = Router(engine)
    _populate(engine, "th", "cosine")
    engine.load_resident("th")
    stop = threading.Event()
    statuses: list[int] = []
    writes: list[int] = []

    def reader(q):
        while not stop.is_set():
            status, _hits = r.route("POST", "/api/search", {
                "collection": "th", "vector": q, "topK": 5,
                "tenantId": "t1", "resident": True,
            })
            statuses.append(status)

    def writer(w):
        for i in range(3):
            for body in (
                {"id": f"c{w}-{i}", "vector": _vec(300 + 10 * w + i)},  # fresh
                {"id": f"r{3 * w + i}", "vector": _vec(400 + 10 * w + i)},  # upsert
            ):
                writes.append(r.route("POST", "/api/insert", {
                    "collection": "th", "tenantId": "t1",
                    "metadata": {"cat": "y"}, **body,
                })[0])

    readers = [threading.Thread(target=reader, args=(QUERIES[i % 3],))
               for i in range(6)]
    writers = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in readers + writers:
            t.start()
        for t in writers:
            t.join(timeout=300)
    finally:
        stop.set()
        for t in readers:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in readers + writers)
    assert writes == [201] * 12
    assert statuses and set(statuses) == {200}
    assert len(engine._snapshots["th"]) == engine._load("th").count() == 62 + 6
    _assert_resident_equals_exact(engine, "th", list(zip(QUERIES, FILTERS[:2])))


def test_above_limit_keeps_resident_blocks(engine, monkeypatch):
    """A collection over the snapshot size limit is served from
    distributed ResidentIndex blocks, still equal to exact search."""
    import fusionspark.operators.serving as sv

    monkeypatch.setattr(sv, "SNAPSHOT_MEM_FRACTION", 0.0)
    _populate(engine, "big", "cosine")
    info = engine.load_resident("big")
    assert info["mode"] == "blocks" and info["blocks"] >= 1
    assert "big" in engine._resident and "big" not in engine._snapshots
    _assert_resident_equals_exact(engine, "big", zero_jobs=False)
    engine.unload_resident("big")


def test_import_jsonl_defaults_ts_ttl_and_stale_rebuild(engine, tmp_path):
    """JSONL rows without ts/ttl_ms get insert()'s defaults, so both exact
    and resident search see them; the import (which does not mirror into
    the snapshot) leaves it stale, and the next resident search rebuilds
    it in place instead of answering from the stale copy."""
    path = tmp_path / "rows.jsonl"
    with open(path, "w") as f:
        for i in range(20):
            f.write(json.dumps({"id": f"j{i}", "vector": _vec(600 + i),
                                "tenant_id": "t1",
                                "metadata": {"cat": "x"}}) + "\n")
    assert engine.import_jsonl("imp", str(path), dimensions=DIM) == 20
    row = engine.get("imp", "j0")
    assert row["ttl_ms"] == 0 and row["ts"] > 0
    assert len(engine.search("imp", query_vector=QUERIES[0], top_k=5)) == 5
    engine.load_resident("imp")
    _assert_resident_equals_exact(engine, "imp", ONE)

    snap = engine._snapshots["imp"]
    with open(path, "w") as f:
        for i in range(20, 30):
            f.write(json.dumps({"id": f"j{i}", "vector": _vec(600 + i)}) + "\n")
    engine.import_jsonl("imp", str(path), dimensions=DIM)
    assert engine._fresh_snapshot("imp") is None
    hits = engine.search("imp", query_vector=QUERIES[0], top_k=30, resident=True)
    assert len(hits) == 30
    assert engine._snapshots["imp"] is not snap
    _assert_resident_equals_exact(engine, "imp", ALL[:2], k=30)


def test_null_ts_or_ttl_rows_never_expire(engine, tmp_path):
    """Rows of an attached Delta table with a NULL ts or ttl_ms never
    expire, like import_jsonl's default ttl_ms 0: the snapshot, the Spark
    path and ResidentIndex blocks return both and hide the expired row."""
    from fusionspark.storage.delta import write_delta_table

    now = int(time.time() * 1000)
    rows = [("no_ts", _vec(1), "a", {}, None, None, 60_000),
            ("no_ttl", _vec(2), "b", {}, None, now, None),
            ("expired", _vec(3), "c", {}, None, now - 10_000, 1)]
    table = str(tmp_path / "ext")
    write_delta_table(engine.spark, engine.spark.createDataFrame(
        rows, "id string, vector array<float>, content string, "
        "metadata map<string,string>, tenant_id string, ts long, ttl_ms long",
    ), table)
    engine.attach_delta("ext", table, dimensions=DIM)

    hits = engine.search("ext", query_vector=QUERIES[0])
    assert "ext" in engine._snapshots
    assert sorted(h["id"] for h in hits) == ["no_ts", "no_ttl"]
    _assert_same_hits(hits, _on_spark(engine, "search", "ext",
                                      query_vector=QUERIES[0]))
    with mock.patch.object(sv, "SNAPSHOT_MEM_FRACTION", 0.0):
        other = FusionSparkEngine(engine.spark, engine.root, engine.embedder)
        assert other.load_resident("ext")["mode"] == "blocks"
        _assert_same_hits(
            other.search("ext", query_vector=QUERIES[0], resident=True), hits)
        other.unload_resident("ext")


# ── every interactive read from the snapshot ─────────────────────────────

TEXT_QUERIES = ["alpha gamma", "C++ and a.b", "émile æther delta", "a an the"]


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean"])
def test_reads_equal_spark_path(engine, spark, metric):
    """search (tenant and metadata filters, an expired row), retrieve and
    build_context from the snapshot equal the Spark path: ids, order and
    ranks equal, distances within 1e-9, hybrid and RAG payloads exactly
    equal (the query "a an the" has no usable keyword terms); each read
    runs no Spark job once the snapshot is loaded."""
    _populate(engine, "rd", metric)
    engine.search("rd", query_vector=QUERIES[0])  # loads the snapshot
    assert engine._snapshots["rd"].token == engine._table("rd").version()
    _assert_resident_equals_exact(engine, "rd", ALL + [(_vec(501), {})])
    for q in TEXT_QUERIES:
        for kw, read in (({"top_k": 5}, "retrieve"),
                         ({"top_k": 6, "max_tokens": 12}, "build_context")):
            want = _on_spark(engine, read, "rd", q, **kw)
            got, jobs = _jobs(spark, lambda: getattr(engine, read)("rd", q, **kw))
            assert jobs == [], (read, q)
            assert got == want, (read, q)
    # the expired row is hybrid's best keyword match but never searchable
    hybrid = engine.retrieve("rd", "alpha gamma delta", top_k=60)
    assert "old" in [h["doc_id"] for h in hybrid]
    assert all(h["id"] != "old" for h in engine.search(
        "rd", query_vector=_vec(501), top_k=70))
    # r0..r29 exist under both tenants: a shared id fuses both rows
    assert max(h["n_strategies"] for h in hybrid) > 2


def test_recall_equals_spark_path(engine, spark):
    """Agent memory recall (tenant = agent) from the snapshot equals the
    Spark path and runs no Spark job after the first recall."""
    for i in range(6):
        engine.remember("a1" if i % 2 else "a2", f"note {i} about alpha {i * i}")
    engine.recall("a1", "alpha")  # loads the snapshot
    for agent, q in (("a1", "alpha 9"), ("a2", "note 4"), ("a3", "alpha")):
        want = _on_spark(engine, "recall", agent, q)
        got, jobs = _jobs(spark, lambda: engine.recall(agent, q))
        assert jobs == []
        _assert_same_hits(got, want)


def test_manifest_commit_by_another_engine_is_seen(spark, tmp_path):
    """Two engines on one root: B's insert moves the table version past
    A's snapshot, so A's next search reloads and returns the row."""
    root = str(tmp_path / "m")
    a = FusionSparkEngine(spark, root)
    a.create_collection("m", CollectionConfig(dimensions=DIM))
    a.insert("m", [{"id": f"m{i}", "vector": _vec(i)} for i in range(10)])
    assert a.search("m", query_vector=QUERIES[0], top_k=1)[0]["id"] != "new"
    snap = a._snapshots["m"]
    b = FusionSparkEngine(spark, root)
    b.insert("m", [{"id": "new", "vector": QUERIES[0]}])
    assert a.search("m", query_vector=QUERIES[0], top_k=1)[0]["id"] == "new"
    assert a._snapshots["m"] is not snap
    # A's own write mirrors and stays fresh at the new version
    a.insert("m", [{"id": "mine", "vector": QUERIES[1]}])
    assert a._fresh_snapshot("m") is not None
    assert a.search("m", query_vector=QUERIES[1], top_k=1)[0]["id"] == "mine"


@pytest.mark.parametrize("row", [
    {"id": "bad", "vector": [1.0, 2.0]},  # 2 wide in an 8-d collection
    {"id": "bad"},  # no vector
])
def test_import_jsonl_rejects_bad_vectors(engine, tmp_path, row):
    """A row with a missing or wrong-width vector fails the import job, as
    insert() and ingest() refuse it; the collection is left unchanged."""
    engine.create_collection("iv", CollectionConfig(dimensions=DIM))
    engine.insert("iv", [{"id": f"g{i}", "vector": _vec(i)} for i in range(5)])
    before = engine.search("iv", query_vector=QUERIES[0], top_k=10)
    before_spark = _on_spark(engine, "search", "iv", query_vector=QUERIES[0],
                             top_k=10)
    path = tmp_path / "bad.jsonl"
    with open(path, "w") as f:
        f.write(json.dumps({"id": "ok", "vector": _vec(9)}) + "\n")
        f.write(json.dumps(row) + "\n")
    with pytest.raises(Exception, match="collection dimensions 8"):
        engine.import_jsonl("iv", str(path), dimensions=DIM)
    assert engine._load("iv").count() == 5
    assert _on_spark(engine, "search", "iv", query_vector=QUERIES[0],
                     top_k=10) == before_spark
    assert engine.search("iv", query_vector=QUERIES[0], top_k=10) == before


def test_one_row_insert_writes_one_file(engine):
    """A one-row append adds exactly one parquet file (no empty part)."""
    import glob
    import os

    engine.create_collection("f", CollectionConfig(dimensions=DIM))
    engine.insert("f", [{"id": "a", "vector": _vec(1)}])
    path = engine._path("f")

    def files():
        return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)

    n = len(files())
    engine.insert("f", [{"id": "b", "vector": _vec(2)}])
    assert len(files()) == n + 1


def test_meta_codes_load_time_is_linear():
    """Snapshot.load codes each metadata key in one pass: twice the rows
    take at most 2.5× as long (best of 3 runs each), and a row missing a
    key or holding a NULL value codes as -1."""
    codes = sv._meta_codes([{"a": "x"}, None, {"a": None, "b": "y"}, {"a": "x"}])
    assert codes["a"][0].tolist() == [0, -1, -1, 0] and codes["a"][1] == {"x": 0}
    assert codes["b"][0].tolist() == [-1, -1, 0, -1] and codes["b"][1] == {"y": 0}

    def best(n: int) -> float:
        maps = [{"cat": f"c{i % 7}", "src": f"s{i % 13}"} for i in range(n)]
        runs = []
        for _ in range(3):
            t = time.perf_counter()
            sv._meta_codes(maps)
            runs.append(time.perf_counter() - t)
        return min(runs)

    gc.disable()  # a full collection of the maps would land in one run
    try:
        assert best(80_000) <= 2.5 * best(40_000)
    finally:
        gc.enable()


def test_spark_reads_pass_the_catalog_dimensions(engine, spark, monkeypatch):
    """Above the snapshot limit, search, retrieve and build_context hand
    knn the catalog's `dimensions`: each read runs one Spark job fewer
    than with knn left to read the width from the corpus (`.first()`)."""
    import fusionspark.engine as eng_mod

    monkeypatch.setattr(sv, "SNAPSHOT_MEM_FRACTION", 0.0)
    _populate(engine, "dm", "cosine")
    engine.search("dm", query_vector=QUERIES[0])  # finds it does not fit
    knn = eng_mod.knn

    def knn_without_dim(*args, dim=None, **kw):
        return knn(*args, **kw)

    reads = [
        ("search", lambda: engine.search("dm", query_vector=QUERIES[0])),
        ("retrieve", lambda: engine.retrieve("dm", "alpha gamma")),
        ("build_context", lambda: engine.build_context("dm", "alpha gamma")),
    ]
    for name, read in reads:
        with_dim, jobs = _jobs(spark, read)
        with mock.patch.object(eng_mod, "knn", knn_without_dim):
            without_dim, jobs_without = _jobs(spark, read)
        assert with_dim == without_dim, name
        assert len(jobs) == len(jobs_without) - 1, name


def test_growing_writes_keep_the_oversize_mark(engine, spark, monkeypatch):
    """Above the snapshot limit, a commit of this engine that removes no
    rows (append, upsert, ingest, remember) moves the does-not-fit mark to
    the version it links: the next read runs as many Spark jobs as a
    repeat read, with no size check first.  A delete leaves the check to
    the next read."""
    monkeypatch.setattr(sv, "SNAPSHOT_MEM_FRACTION", 0.0)
    _populate(engine, "gr", "cosine")
    engine.remember("a1", "alpha gamma")

    def search():
        return engine.search("gr", query_vector=QUERIES[0])

    def recall():
        return engine.recall("a1", "alpha")

    for read in (search, recall):
        read()  # finds it does not fit
    repeat = {read: len(_jobs(spark, read)[1]) for read in (search, recall)}
    for write, read in [
        (lambda: engine.insert("gr", [{"id": "n1", "vector": _vec(50)}]), search),
        (lambda: engine.insert("gr", [{"id": "r1", "vector": _vec(51),
                                       "tenant_id": "t1"}]), search),
        (lambda: engine.insert("gr", [{"id": "n2", "vector": _vec(52)}],
                               replace=False), search),
        (lambda: engine.ingest("gr", "doc", "alpha beta gamma"), search),
        (lambda: engine.remember("a1", "beta delta"), recall),
    ]:
        write()
        assert len(_jobs(spark, read)[1]) == repeat[read]
    engine.delete("gr", ["n1"])
    assert len(_jobs(spark, search)[1]) > repeat[search]


def test_spark_reads_during_colliding_upserts(engine, monkeypatch):
    """Above the snapshot limit, two threads run exact searches while a
    third upserts a colliding id (each upsert commit deletes the file it
    replaced): no read raises, and every answer equals the model before or
    after some write."""
    import numpy as np

    monkeypatch.setattr(sv, "SNAPSHOT_MEM_FRACTION", 0.0)
    engine.create_collection("race", CollectionConfig(dimensions=DIM))
    rows = {f"r{i}": _vec(i) for i in range(12)}
    engine.insert("race", [{"id": i, "vector": v} for i, v in rows.items()])
    versions = [_vec(300 + n) for n in range(6)]

    def model(x_vec) -> list[tuple[str, float]]:
        ids = sorted(rows) + (["x"] if x_vec is not None else [])
        V = np.asarray([rows[i] for i in sorted(rows)]
                       + ([x_vec] if x_vec is not None else []), np.float32)
        V = V.astype(np.float64)
        q = np.asarray(QUERIES[0], np.float32).astype(np.float64)
        s = V @ q / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
        return sorted(zip(ids, s.tolist()), key=lambda t: (-t[1], t[0]))

    states = [model(None)] + [model(v) for v in versions]
    done = threading.Event()
    answers: list = []
    errors: list = []

    def writer() -> None:
        try:
            for v in versions:
                engine.insert("race", [{"id": "x", "vector": v}])
        except Exception as e:  # noqa: BLE001 — reported by the assert
            errors.append(e)
        finally:
            done.set()

    def reader() -> None:
        # two readers, so that some read is mid-scan when a rewrite lands
        while not done.is_set():
            try:
                answers.append(engine.search("race", query_vector=QUERIES[0],
                                             top_k=20))
            except Exception as e:  # noqa: BLE001 — reported by the assert
                errors.append(e)

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors and not any(t.is_alive() for t in threads)
    assert len(answers) >= 2
    for got in answers:
        pairs = [(h["id"], h["score"]) for h in got]
        assert any(
            [i for i, _ in pairs] == [i for i, _ in want]
            and all(abs(a[1] - b[1]) < 1e-9 for a, b in zip(pairs, want))
            for want in states
        ), pairs
