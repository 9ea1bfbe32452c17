"""Driver-local resident snapshot: parity with exact search across writes,
zero Spark jobs per resident search, bit-identical answers after a rebuild,
reads during concurrent writes, the size-limit fallback to ResidentIndex
blocks, and import_jsonl's ts/ttl_ms defaults."""

from __future__ import annotations

import itertools
import json
import math
import sys
import threading
import time

import pytest

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


def _assert_resident_equals_exact(engine, coll, cases=ALL, k=10,
                                  zero_jobs=True):
    for q, kw in cases:
        exact = engine.search(coll, query_vector=q, top_k=k, **kw)
        res, jobs = _jobs(engine.spark, lambda: engine.search(
            coll, query_vector=q, top_k=k, resident=True, **kw))
        if zero_jobs:
            assert jobs == [], kw
        assert [h["id"] for h in res] == [h["id"] for h in exact], kw
        for e, g in zip(exact, res):
            assert abs(e["score"] - g["score"]) < 1e-9
            assert g["rank"] == e["rank"]


def _resident_answers(engine, coll):
    return [
        [(h["id"], h["distance"]) for h in engine.search(
            coll, query_vector=q, top_k=10, resident=True, **kw)]
        for q, kw in itertools.product(QUERIES, FILTERS)
    ]


def _populate(engine, coll, metric):
    engine.create_collection(coll, CollectionConfig(dimensions=DIM, metric=metric))
    cats = ("x", "y", "z")
    engine.insert(coll, [
        {"id": f"r{i}", "vector": _vec(off + i), "tenant_id": t,
         "metadata": {"cat": cats[i % 3]}}
        for t, off in (("t1", 0), ("t2", 100)) for i in range(30)
    ] + [
        {"id": "u", "vector": _vec(500)},  # untenanted
        {"id": "old", "vector": _vec(501), "tenant_id": "t1",  # expired
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
    _, jobs = _jobs(spark, lambda: engine.search("w", query_vector=QUERIES[0]))
    assert jobs, "the job counter must see the exact path's jobs"
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
    assert engine._resident_fresh("w", cfg) is mirrored
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
    it in place while search_many refuses."""
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
    assert engine._resident_fresh("imp", engine._catalog["imp"]) is None
    probes = engine.spark.createDataFrame(
        [("p", QUERIES[0])], "probe_id: string, probe_embedding: array<float>")
    with pytest.raises(ValueError, match="stale or missing"):
        engine.search_many("imp", probes, method="resident")
    hits = engine.search("imp", query_vector=QUERIES[0], top_k=30, resident=True)
    assert len(hits) == 30
    assert engine._snapshots["imp"] is not snap
    _assert_resident_equals_exact(engine, "imp", ALL[:2], k=30)
