"""End-to-end engine facade tests mirroring the reference's factory and
pipeline tests (/root/reference/test/fusionpact.test.js:85-136,318-336,
664-704): create → insert → search → retrieve → memory → RAG round trip."""

from __future__ import annotations

import pytest

from fusionspark.engine import CollectionConfig, FusionSparkEngine


@pytest.fixture()
def engine(spark, tmp_path):
    return FusionSparkEngine(spark, str(tmp_path / "store"))


def test_collection_crud_and_dimension_check(engine):
    engine.create_collection("docs", CollectionConfig(dimensions=4))
    with pytest.raises(ValueError):
        engine.create_collection("docs")
    with pytest.raises(ValueError):
        engine.insert("docs", [{"id": "a", "vector": [1.0, 2.0]}])  # wrong dim
    engine.insert("docs", [
        {"id": "a", "vector": [1.0, 0.0, 0.0, 0.0]},
        {"id": "b", "vector": [0.9, 0.1, 0.0, 0.0]},
        {"id": "c", "vector": [0.0, 0.0, 1.0, 0.0]},
    ])
    cols = {c["name"]: c for c in engine.list_collections()}
    assert cols["docs"]["size"] == 3


def test_search_orders_by_similarity_and_tenant(engine):
    engine.create_collection("v", CollectionConfig(dimensions=4))
    engine.insert("v", [{"id": "a", "vector": [1, 0, 0, 0]},
                        {"id": "b", "vector": [0.9, 0.1, 0, 0]}], tenant_id="t1")
    engine.insert("v", [{"id": "c", "vector": [1, 0, 0, 0]}], tenant_id="t2")
    hits = engine.search("v", query_vector=[1, 0, 0, 0], top_k=5, tenant_id="t1")
    assert [h["id"] for h in hits] == ["a", "b"]
    assert hits[0]["score"] > hits[1]["score"]
    # tenant isolation: c never leaks into t1
    assert all(h["id"] != "c" for h in hits)


def test_delete_and_get(engine):
    engine.create_collection("d", CollectionConfig(dimensions=4))
    engine.insert("d", [{"id": "x", "vector": [1, 0, 0, 0]},
                        {"id": "y", "vector": [0, 1, 0, 0]}])
    assert engine.get("d", "x") is not None
    engine.delete("d", ["x"])
    assert engine.get("d", "x") is None
    assert engine.get("d", "y") is not None


def test_metadata_filter(engine):
    engine.create_collection("m", CollectionConfig(dimensions=4))
    engine.insert("m", [
        {"id": "a", "vector": [1, 0, 0, 0], "metadata": {"cat": "x"}},
        {"id": "b", "vector": [1, 0, 0, 0], "metadata": {"cat": "y"}},
    ])
    hits = engine.search("m", query_vector=[1, 0, 0, 0], metadata_filter={"cat": "x"})
    assert [h["id"] for h in hits] == ["a"]


def test_rag_ingest_and_context(engine):
    text = ("Spark is a distributed engine. It runs jobs on executors. "
            "Catalyst optimizes query plans. Tungsten generates code. " * 20)
    n = engine.ingest("rag", "doc1", text)
    assert n > 1  # chunked
    ctx = engine.build_context("rag", "catalyst optimizer", max_tokens=400)
    assert ctx["chunks"]
    assert "Context:" in ctx["prompt"]
    assert all(len(c) // 4 + 1 <= 400 for c in ctx["chunks"])


def test_memory_remember_recall_forget(engine):
    engine.remember("agent-1", "prefers columnar formats", "semantic")
    engine.remember("agent-1", "ran tpch benchmark yesterday", "semantic")
    engine.remember("agent-2", "unrelated other agent fact", "semantic")
    hits = engine.recall("agent-1", "columnar formats", "semantic", top_k=2)
    assert hits
    engine.forget("agent-1", "semantic")
    assert engine.recall("agent-1", "columnar", "semantic") == []


def test_hybrid_retrieve(engine):
    engine.create_collection("h", CollectionConfig(dimensions=64))
    engine.insert("h", [
        {"id": "a", "content": "spark catalyst optimizer rewrites plans"},
        {"id": "b", "content": "tungsten codegen compiles expressions"},
        {"id": "c", "content": "catalyst pushes filters into scans"},
    ])
    out = engine.retrieve("h", "catalyst optimizer", top_k=2)
    assert len(out) == 2
    assert out[0]["fused_score"] >= out[1]["fused_score"]


def test_export_import_round_trip(engine, spark, tmp_path):
    engine.create_collection("exp", CollectionConfig(dimensions=4))
    engine.insert("exp", [
        {"id": "a", "vector": [1, 0, 0, 0], "metadata": {"k": "v"}},
        {"id": "b", "vector": [0, 1, 0, 0]},
    ], tenant_id="t9")
    dump = engine.export_json("exp")
    assert dump["name"] == "exp" and len(dump["entries"]) == 2
    meta = {e["id"]: e["metadata"] for e in dump["entries"]}
    assert meta["a"]["k"] == "v" and meta["a"]["_tenant_id"] == "t9"

    other = FusionSparkEngine(spark, str(tmp_path / "store2"))
    dump["name"] = "imported"
    n = other.import_json(dump)
    assert n == 2
    hits = other.search("imported", query_vector=[1, 0, 0, 0], top_k=1)
    assert hits[0]["id"] == "a"


def test_collaborative_recall(engine):
    engine.remember("agent-7", "shared plan for spark jobs", "episodic")
    engine.remember("agent-8", "different memory entirely", "episodic")
    out = engine.collaborative_recall(["agent-7", "agent-8"], "spark jobs plan")
    assert set(out) == {"agent-7", "agent-8", "shared"}
    assert out["agent-7"]


def test_import_restores_tenant_ttl_ts(engine, spark, tmp_path):
    """S7 round trip must preserve tenant isolation and TTL (ADVICE r1):
    imported rows stay visible to tenant-scoped search and keep expiring."""
    engine.create_collection("rt", CollectionConfig(dimensions=4))
    engine.insert(
        "rt",
        [{"id": "x", "vector": [1, 0, 0, 0]}],
        tenant_id="tenantA",
        ttl_ms=10**12,
    )
    dump = engine.export_json("rt")
    other = FusionSparkEngine(spark, str(tmp_path / "store3"))
    dump["name"] = "rt2"
    other.import_json(dump)
    row = other.get("rt2", "x")
    assert row["tenant_id"] == "tenantA"
    assert row["ttl_ms"] == 10**12
    src = engine.get("rt", "x")
    assert row["ts"] == src["ts"]  # original timestamp, not import time
    # tenant-scoped search still sees it
    hits = other.search("rt2", query_vector=[1, 0, 0, 0], tenant_id="tenantA", top_k=1)
    assert hits and hits[0]["id"] == "x"


def test_forget_is_tenant_scoped_without_collect(engine):
    """forget removes exactly one tenant's rows, keeping other tenants AND
    untenanted rows (null-safe anti-filter)."""
    engine.remember("agentA", "alpha memory")
    engine.remember("agentB", "beta memory")
    engine.insert("_memory_episodic", [{"id": "untenanted", "content": "shared note"}])
    engine.forget("agentA")
    df = engine._load("_memory_episodic")
    tenants = {r["tenant_id"] for r in df.select("tenant_id").collect()}
    assert "agentA" not in tenants
    assert "agentB" in tenants and None in tenants


def test_collection_name_validation(engine):
    import pytest as _pytest

    for bad in ("../escape", "a/b", "", "a b"):
        with _pytest.raises(ValueError):
            engine.create_collection(bad)


def test_tenant_proxy_delete_is_tenant_scoped(engine):
    """ADVICE r2: proxy.delete must not reach another tenant's rows — a
    tenant-scoped handle deleting an id it does not own is a no-op for
    that row (untenanted rows are likewise out of reach)."""
    engine.create_collection("v", CollectionConfig(dimensions=4))
    engine.insert("v", [{"id": "a", "vector": [1.0, 0, 0, 0]}], tenant_id="t1")
    engine.insert("v", [{"id": "b", "vector": [0, 1.0, 0, 0]}], tenant_id="t2")
    engine.insert("v", [{"id": "u", "vector": [0, 0, 1.0, 0]}])  # untenanted
    proxy = engine.tenant("v", "t1")
    proxy.delete(["a", "b", "u"])  # only "a" is t1's
    remaining = {r["id"] for r in engine._load("v").select("id").collect()}
    assert remaining == {"b", "u"}


def test_ingest_rejects_wrong_width_embeddings(spark, tmp_path):
    """ADVICE r2: ingest appends distributed, bypassing insert()'s per-row
    check — a provider whose dimensions differ from the collection config
    must fail the write job, not silently store wrong-width vectors."""
    from py4j.protocol import Py4JJavaError

    bad = FusionSparkEngine(
        spark, str(tmp_path / "bad"), embedder=lambda t, d: [0.0] * 7
    )
    bad.create_collection("docs", CollectionConfig(dimensions=4))
    with pytest.raises((Py4JJavaError, Exception)):
        bad.ingest("docs", "d1", "some text to chunk and embed")
    good = FusionSparkEngine(spark, str(tmp_path / "good"))
    good.create_collection("docs", CollectionConfig(dimensions=4))
    assert good.ingest("docs", "d1", "some text to chunk and embed") >= 1


def test_export_jsonl_distributed_and_json_cap(engine, spark, tmp_path):
    """VERDICT r2 #9: export_json refuses oversized collections explicitly;
    export_jsonl streams per-partition (a 1M-row collection exports without
    any driver collect) and round-trips through import_jsonl."""
    from pyspark.sql import functions as F

    engine.create_collection("big", CollectionConfig(dimensions=4))
    # append a 1M-row frame straight at the collection path — engine.insert
    # builds driver-side rows and would dominate the test runtime
    big = spark.range(1_000_000).select(
        F.concat(F.lit("r"), F.col("id")).alias("id"),
        F.array(*[(F.col("id") % 97 + i).cast("float") for i in range(4)]).alias("vector"),
        F.lit("c").alias("content"),
        F.create_map(F.lit("k"), F.lit("v")).alias("metadata"),
        F.lit(None).cast("string").alias("tenant_id"),
        F.lit(1).cast("long").alias("ts"),
        F.lit(0).cast("long").alias("ttl_ms"),
    )
    big.write.mode("append").parquet(engine._path("big"))

    with pytest.raises(ValueError, match="export_json cap"):
        engine.export_json("big")

    out = str(tmp_path / "big.jsonl")
    assert engine.export_jsonl("big", out) == 1_000_000

    n = engine.import_jsonl("big2", out, dimensions=4)
    assert n == 1_000_000
    row = engine.get("big2", "r123456")
    assert row is not None and row["metadata"]["k"] == "v"
    assert [float(x) for x in row["vector"]] == [
        float(123456 % 97 + i) for i in range(4)
    ]


def test_insert_upserts_existing_ids(engine):
    """Reference parity: HNSWIndex.js:196 `_nodes.set(id, node)` replaces
    an existing id — re-insert is an update, not a duplicate row."""
    from pyspark.sql import functions as F

    engine.create_collection("u", CollectionConfig(dimensions=4))
    engine.insert("u", [{"id": "x", "vector": [1, 0, 0, 0], "content": "v1"},
                        {"id": "y", "vector": [0, 1, 0, 0], "content": "w1"}])
    engine.insert("u", [{"id": "x", "vector": [0, 0, 1, 0], "content": "v2"}])
    rows = {r["id"]: r for r in engine._load("u").collect()}
    assert len(rows) == 2
    assert rows["x"]["content"] == "v2" and list(rows["x"]["vector"]) == [0, 0, 1, 0]
    assert rows["y"]["content"] == "w1"  # untouched id survives
    # raw append opt-out keeps both versions
    engine.insert("u", [{"id": "x", "vector": [1, 1, 0, 0], "content": "v3"}],
                  replace=False)
    assert engine._load("u").filter(F.col("id") == "x").count() == 2


def test_build_index_and_approximate_search(engine):
    """V6 analogue: build_index persists an IVF layout; approximate search
    prunes to nProbe lists with the same pre-filter semantics, and a stale
    index falls back to exact search instead of answering from old data."""
    engine.create_collection("iv", CollectionConfig(dimensions=4))
    base = {0: [1, 0, 0, 0], 1: [0, 1, 0, 0], 2: [0, 0, 1, 0], 3: [0, 0, 0, 1]}
    entries = []
    for c, v in base.items():
        for j in range(8):
            vec = [x + 0.01 * j for x in v]
            # ids sort j-first so build_index's first-k centroids take one
            # row from EACH cluster (j=0 of every c)
            entries.append({"id": f"{j}_{c}", "vector": vec,
                            "tenant_id": "t1" if j % 2 else "t2"})
    engine.insert("iv", entries)
    info = engine.build_index("iv", n_centroids=4)
    assert info["n_centroids"] == 4 and info["rows"] == 32

    q = [1.0, 0.05, 0.0, 0.0]
    exact = engine.search("iv", query_vector=q, top_k=3)
    approx = engine.search("iv", query_vector=q, top_k=3, approximate=True, n_probe=1)
    assert [h["id"] for h in approx] == [h["id"] for h in exact]
    assert abs(approx[0]["score"] - exact[0]["score"]) < 1e-9

    # pre-filter semantics survive the index path
    only_t1 = engine.search("iv", query_vector=q, top_k=5, tenant_id="t1",
                            approximate=True, n_probe=1)
    assert only_t1 and all(int(h["id"].split("_")[0]) % 2 == 1 for h in only_t1)

    # mutation staleness: the new best match only appears via exact fallback
    engine.insert("iv", [{"id": "fresh", "vector": q, "tenant_id": "t1"}])
    post = engine.search("iv", query_vector=q, top_k=1, approximate=True)
    assert post[0]["id"] == "fresh"

    # rebuilding re-freshens the index and it serves again
    engine.build_index("iv", n_centroids=4)
    again = engine.search("iv", query_vector=q, top_k=1, approximate=True, n_probe=1)
    assert again[0]["id"] == "fresh"


def test_search_many_batch_parity(engine, spark):
    """Batch search returns per-probe top-k matching single-probe search,
    exact and (index-fresh) approximate; a stale index raises instead of
    silently degrading."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    engine.create_collection("bm", CollectionConfig(dimensions=4))
    base = {0: [1, 0, 0, 0], 1: [0, 1, 0, 0], 2: [0, 0, 1, 0], 3: [0, 0, 0, 1]}
    engine.insert("bm", [
        {"id": f"{j}_{c}", "vector": [x + 0.01 * j for x in v]}
        for c, v in base.items() for j in range(6)
    ])
    probes = spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in base.items()],
        "probe_id: bigint, probe_embedding: array<float>",
    )
    batch = engine.search_many("bm", probes, top_k=3)
    got = {r["probe_id"]: [] for r in batch.collect()}
    for r in sorted(batch.collect(), key=lambda r: (r["probe_id"], r["rank"])):
        got[r["probe_id"]].append(r["id"])
    for c, v in base.items():
        single = engine.search("bm", query_vector=v, top_k=3)
        assert got[c] == [h["id"] for h in single]

    with _pytest.raises(ValueError, match="stale or missing"):
        engine.search_many("bm", probes, top_k=3, approximate=True)
    engine.build_index("bm", n_centroids=4)
    approx = engine.search_many("bm", probes, top_k=3, approximate=True, n_probe=1)
    ga = {}
    for r in sorted(approx.collect(), key=lambda r: (r["probe_id"], r["rnk"])):
        ga.setdefault(r["probe_id"], []).append(r["id"])
    assert ga == got


def test_insert_replace_is_tenant_scoped(spark, tmp_path):
    """ADVICE r3 (high): an upsert's collision delete must be scoped to the
    inserting tenant — tenant A re-inserting id 'x' must NOT delete tenant
    B's (or the NULL-tenant's) row 'x'.  Checked in both storage modes."""
    for storage in ("parquet", "manifest"):
        eng = FusionSparkEngine(
            spark, str(tmp_path / f"ts-{storage}"), storage=storage
        )
        eng.create_collection("c", CollectionConfig(dimensions=2))
        eng.insert("c", [{"id": "x", "vector": [1, 0], "content": "A1"}],
                   tenant_id="A")
        eng.insert("c", [{"id": "x", "vector": [0, 1], "content": "B1"}],
                   tenant_id="B")
        eng.insert("c", [{"id": "x", "vector": [1, 1], "content": "none1"}])

        # tenant A upserts its own x: B's and the global row survive
        eng.insert("c", [{"id": "x", "vector": [1, 0], "content": "A2"}],
                   tenant_id="A")
        rows = {(r["tenant_id"], r["id"]): r["content"]
                for r in eng._load("c").collect()}
        assert rows == {("A", "x"): "A2", ("B", "x"): "B1",
                        (None, "x"): "none1"}, storage

        # per-entry tenant override groups the delete per tenant
        eng.insert("c", [
            {"id": "x", "vector": [0, 0], "content": "A3", "tenant_id": "A"},
            {"id": "x", "vector": [0, 0], "content": "B2", "tenant_id": "B"},
        ])
        rows = {(r["tenant_id"], r["id"]): r["content"]
                for r in eng._load("c").collect()}
        assert rows == {("A", "x"): "A3", ("B", "x"): "B2",
                        (None, "x"): "none1"}, storage


def test_manifest_upsert_history_is_single_commit(spark, tmp_path):
    """In manifest storage a replacing insert lands as ONE 'upsert' version,
    not a delete commit followed by an append commit (ADVICE r3 low)."""
    eng = FusionSparkEngine(spark, str(tmp_path / "atom"), storage="manifest")
    eng.create_collection("c", CollectionConfig(dimensions=2))
    eng.insert("c", [{"id": "x", "vector": [1, 0]}])
    before = eng._table("c").version()
    eng.insert("c", [{"id": "x", "vector": [0, 1]}])
    t = eng._table("c")
    assert t.version() == before + 1
    assert t.history()[-1]["op"] == "upsert"
    assert eng._load("c").count() == 1


def test_build_index_pq_and_adc_search(engine, spark):
    """build_index(pq=True) persists codes beside the lists; the ivf_pq
    batch path answers through ADC + exact refine and matches the exact
    top-k on a well-separated corpus; missing codes raise."""
    import pytest as _pytest

    engine.create_collection("pq", CollectionConfig(dimensions=4))
    base = {0: [1, 0, 0, 0], 1: [0, 1, 0, 0], 2: [0, 0, 1, 0], 3: [0, 0, 0, 1]}
    engine.insert("pq", [
        {"id": f"{j}_{c}", "vector": [x + 0.01 * j for x in v]}
        for c, v in base.items() for j in range(6)
    ])
    probes = spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in base.items()],
        "probe_id: bigint, probe_embedding: array<float>",
    )
    engine.build_index("pq", n_centroids=4)  # no PQ codes yet
    with _pytest.raises(ValueError, match="no PQ codes"):
        engine.search_many("pq", probes, top_k=3, approximate=True,
                           method="ivf_pq")
    info = engine.build_index("pq", n_centroids=4, pq=True, pq_m=2, pq_ksub=4)
    assert info["pq"] == {"m": 2, "ksub": 4}

    exact = engine.search_many("pq", probes, top_k=3)
    out = engine.search_many("pq", probes, top_k=3, approximate=True,
                             method="ivf_pq", n_probe=2, refine_r=12)
    ge, ga = {}, {}
    for r in sorted(exact.collect(), key=lambda r: (r["probe_id"], r["rank"])):
        ge.setdefault(r["probe_id"], []).append(r["id"])
    for r in sorted(out.collect(), key=lambda r: (r["probe_id"], r["rnk"])):
        ga.setdefault(r["probe_id"], []).append(r["id"])
    assert ga == ge  # refine is exact; candidates cover the separated clusters


def test_resident_search_matches_exact(engine):
    """load_resident → search(resident=True): exact parity with the scan
    path under tenant + metadata + TTL pre-filters, and the per-tenant id
    namespace (duplicate ids across tenants) must not multiply results."""
    import time as _time

    engine.create_collection("r", CollectionConfig(dimensions=4))
    engine.insert("r", [
        {"id": "a", "vector": [1, 0, 0, 0], "metadata": {"cat": "x"}},
        {"id": "b", "vector": [0.9, 0.1, 0, 0], "metadata": {"cat": "y"}},
        {"id": "c", "vector": [0.8, 0.2, 0, 0], "metadata": {"cat": "x"}},
    ], tenant_id="t1")
    # same id "a" under ANOTHER tenant: legal namespace duplicate
    engine.insert("r", [{"id": "a", "vector": [0, 1, 0, 0]}], tenant_id="t2")
    # expired row: must be invisible on both paths
    engine.insert("r", [{"id": "z", "vector": [1, 0, 0, 0],
                         "ts": int(_time.time() * 1000) - 10_000,
                         "ttl_ms": 1}], tenant_id="t1")

    stats = engine.load_resident("r")
    assert stats["blocks"] >= 1

    for kw in (
        {"tenant_id": "t1"},
        {"tenant_id": "t1", "metadata_filter": {"cat": "x"}},
        {},
    ):
        exact = engine.search("r", query_vector=[1, 0, 0, 0], top_k=10, **kw)
        res = engine.search(
            "r", query_vector=[1, 0, 0, 0], top_k=10, resident=True, **kw
        )
        assert [h["id"] for h in res] == [h["id"] for h in exact]
        for e, g in zip(exact, res):
            assert abs(e["score"] - g["score"]) < 1e-9
    assert all(h["id"] != "z" for h in engine.search(
        "r", query_vector=[1, 0, 0, 0], top_k=10, resident=True
    ))


def test_resident_stale_falls_back_to_exact(engine):
    """A mutation after load_resident makes the resident index stale: the
    search must transparently use the exact path (new row visible), never
    the stale blocks."""
    engine.create_collection("s", CollectionConfig(dimensions=4))
    engine.insert("s", [{"id": "a", "vector": [1, 0, 0, 0]}])
    engine.load_resident("s")
    engine.insert("s", [{"id": "b", "vector": [1, 0, 0, 0]}])  # bumps mutations
    hits = engine.search("s", query_vector=[1, 0, 0, 0], top_k=5, resident=True)
    assert {h["id"] for h in hits} == {"a", "b"}
    # rebuild picks the new row up on the resident path proper
    engine.load_resident("s")
    hits2 = engine.search("s", query_vector=[1, 0, 0, 0], top_k=5, resident=True)
    assert {h["id"] for h in hits2} == {"a", "b"}
    engine.unload_resident("s")
    engine.unload_resident("s")  # idempotent


def test_search_many_resident_parity(engine, spark):
    """search_many(method='resident') == the exact batch path row-for-row
    (same ids and scores per rank), and raises on a stale/missing index."""
    import pytest as _pytest

    import math

    engine.create_collection("bm", CollectionConfig(dimensions=4))
    # tie-free vectors: boundary ties on a string-keyed resident corpus
    # legally break on surrogate order (documented deviation), so parity
    # is asserted on a corpus with distinct similarities
    engine.insert("bm", [
        {"id": f"v{i}",
         "vector": [math.sin(i + 1), math.cos(2 * i + 1), 1.0, 0.0]}
        for i in range(40)
    ])
    probes = spark.createDataFrame(
        [("p0", [1.0, 0.0, 1.0, 0.0]), ("p1", [4.0, 2.0, 1.0, 0.0])],
        "probe_id: string, probe_embedding: array<float>",
    )
    with _pytest.raises(ValueError, match="stale or missing"):
        engine.search_many("bm", probes, method="resident")
    engine.load_resident("bm")
    res = {
        (r["probe_id"], r["rank"]): (r["id"], r["score"])
        for r in engine.search_many("bm", probes, top_k=5,
                                    method="resident").collect()
    }
    exact = {
        (r["probe_id"], r["rank"]): (r["id"], r["score"])
        for r in engine.search_many("bm", probes, top_k=5).collect()
    }
    assert res.keys() == exact.keys()
    for key, (i, s) in exact.items():
        assert res[key][0] == i
        assert abs(res[key][1] - s) < 1e-9
    with _pytest.raises(ValueError, match="exact path"):
        engine.search_many("bm", probes, method="resident", approximate=True)


def test_resident_auto_append_on_insert(engine):
    """A raw append into a collection with a fresh resident snapshot
    extends it in place — the serve-many path sees new rows WITHOUT a
    rebuild and without falling back to the scan; an upsert does too."""
    engine.create_collection("ra", CollectionConfig(dimensions=4))
    engine.insert("ra", [{"id": "a", "vector": [1, 0, 0, 0]}])
    engine.load_resident("ra")
    before = engine._snapshots["ra"].token
    engine.insert("ra", [{"id": "b", "vector": [0.9, 0.1, 0, 0]}])
    # snapshot caught up with the mutation counter — still fresh
    assert engine._snapshots["ra"].token == before + 1
    assert engine._resident_fresh("ra") is not None
    hits = engine.search("ra", query_vector=[1, 0, 0, 0], top_k=5, resident=True)
    assert [h["id"] for h in hits] == ["a", "b"]
    # a replace-collision upsert mirrors into the snapshot as well: it
    # stays fresh and answers like the exact scan
    engine.insert("ra", [{"id": "a", "vector": [0, 1, 0, 0]}])
    assert engine._resident_fresh("ra") is not None
    hits2 = engine.search("ra", query_vector=[0, 1, 0, 0], top_k=5, resident=True)
    assert hits2[0]["id"] == "a"
    exact = engine.search("ra", query_vector=[0, 1, 0, 0], top_k=5)
    assert [h["id"] for h in hits2] == [h["id"] for h in exact]
    for e, g in zip(exact, hits2):
        assert abs(e["score"] - g["score"]) < 1e-9


def test_search_many_resident_ivf(engine, spark):
    """method='resident_ivf': pruned resident search matches the exact
    batch path at n_probe == n_centroids (all lists scanned), raises on a
    stale/missing index, and staleness invalidates after mutation."""
    import math

    import pytest as _pytest

    engine.create_collection("ri", CollectionConfig(dimensions=4))
    engine.insert("ri", [
        {"id": f"v{i}",
         "vector": [math.sin(i + 1), math.cos(2 * i + 1), 1.0, 0.0]}
        for i in range(30)
    ])
    probes = spark.createDataFrame(
        [("p0", [1.0, 0.0, 1.0, 0.0]), ("p1", [0.0, 1.0, 1.0, 0.0])],
        "probe_id: string, probe_embedding: array<float>",
    )
    with _pytest.raises(ValueError, match="stale or missing"):
        engine.search_many("ri", probes, method="resident_ivf")
    info = engine.load_resident_ivf("ri", n_centroids=4)
    assert info["n_centroids"] == 4
    got = {
        (r["probe_id"], r["rank"]): r["id"]
        for r in engine.search_many(
            "ri", probes, top_k=5, method="resident_ivf", n_probe=4
        ).collect()
    }
    exact = {
        (r["probe_id"], r["rank"]): r["id"]
        for r in engine.search_many("ri", probes, top_k=5).collect()
    }
    assert got == exact  # all lists scanned → exact
    engine.insert("ri", [{"id": "new", "vector": [0, 0, 0, 1.0]}])
    with _pytest.raises(ValueError, match="stale or missing"):
        engine.search_many("ri", probes, method="resident_ivf")
    engine.unload_resident("ri")  # releases both exact and IVF caches


def test_analyze_spectrum_and_clusters(engine):
    import numpy as np

    engine.create_collection("an", CollectionConfig(dimensions=4))
    rng = np.random.default_rng(9)
    # two well-separated blobs in 4-d
    rows = []
    for i in range(20):
        c = [0.5, 0.5, 0.0, 0.0] if i % 2 == 0 else [-0.5, -0.5, 0.0, 0.0]
        v = (np.array(c) + rng.normal(scale=0.01, size=4)).clip(-0.9, 0.9)
        rows.append({"id": f"v{i:02d}", "vector": [float(x) for x in v]})
    engine.insert("an", rows)
    out = engine.analyze("an", k=2)
    assert out["n"] == 20 and out["dimensions"] == 4
    # variance concentrates on the blob axis → effective rank ≈ 1
    assert out["effectiveRank"] < 2
    assert len(out["clusters"]) == 2
    assert sorted(c["nMembers"] for c in out["clusters"]) == [10, 10]
    assert all(c["avgDist2"] < 0.01 for c in out["clusters"])
    # spectrum without clustering, and k clamped to n
    out2 = engine.analyze("an")
    assert "clusters" not in out2
    assert len(engine.analyze("an", k=50)["clusters"]) <= 20
