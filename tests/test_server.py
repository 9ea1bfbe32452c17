"""S9 serving surface: router dispatch, MCP-style tools, loopback HTTP."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from fusionspark.engine import FusionSparkEngine
from fusionspark.server import Router, serve


@pytest.fixture()
def srv_engine(spark, tmp_path):
    return FusionSparkEngine(spark, str(tmp_path / "srv_store"))


def test_router_rest_surface(srv_engine):
    r = Router(srv_engine)
    status, health = r.route("GET", "/api/health")
    assert status == 200 and health["status"] == "ok"

    status, out = r.route("POST", "/api/collections", {"name": "c1", "dimensions": 8})
    assert status == 201 and out["name"] == "c1"

    status, out = r.route("POST", "/api/insert", {
        "collection": "c1", "id": "x", "text": "hello spark engine",
    })
    assert status == 201 and out["inserted"] == 1

    status, hits = r.route("POST", "/api/search", {
        "collection": "c1", "query": "hello spark", "topK": 3,
    })
    assert status == 200 and hits and hits[0]["id"] == "x"

    status, out = r.route("POST", "/api/rag/ingest", {"text": "word " * 300, "docId": "d1"})
    assert status == 201 and out["chunks"] >= 1
    status, ctx = r.route("POST", "/api/rag/query", {"query": "word"})
    assert status == 200 and ctx["chunks"]

    status, out = r.route("POST", "/api/memory/remember", {"agentId": "a1", "content": "likes brevity"})
    assert status == 201
    status, hits = r.route("POST", "/api/memory/recall", {"agentId": "a1", "query": "brevity"})
    assert status == 200 and hits
    status, out = r.route("POST", "/api/memory/forget", {"agentId": "a1"})
    assert status == 200 and out["forgotten"]

    status, out = r.route("POST", "/api/search", {})  # missing fields
    assert status == 400 and "error" in out
    status, out = r.route("GET", "/nope")
    assert status == 404


def test_router_tools(srv_engine):
    r = Router(srv_engine)
    names = {t["name"] for t in r.tool_manifest()["tools"]}
    assert {"fusionspark_search", "fusionspark_rag_ingest", "fusionspark_memory_recall"} <= names

    out = r.call_tool("fusionspark_create_collection", {"name": "t1", "dimensions": 8})
    assert "result" in out
    out = r.call_tool("fusionspark_rag_ingest", {"text": "alpha beta gamma " * 50})
    assert out["result"]["chunks"] >= 1
    out = r.call_tool("fusionspark_rag_query", {"query": "alpha"})
    assert out["result"]["chunks"]
    assert "error" in r.call_tool("nope_tool", {})


def test_http_loopback(srv_engine):
    """End-to-end over a real socket (stdlib threaded server)."""
    try:
        server = serve(srv_engine, port=0)  # ephemeral port
    except OSError:
        pytest.skip("sockets unavailable in sandbox")
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/health", timeout=10) as resp:
            assert json.loads(resp.read())["status"] == "ok"
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/collections",
            data=json.dumps({"name": "h1", "dimensions": 8}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=10) as resp:
            assert resp.status == 201
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/mcp/tools", timeout=10) as resp:
            assert json.loads(resp.read())["tools"]
    finally:
        server.shutdown()


def test_memory_learn_share_and_conversation(srv_engine):
    r = Router(srv_engine)
    status, _ = r.route("POST", "/api/memory/learn", {"agentId": "a2", "content": "OSHA 1910.106 covers flammable liquids"})
    assert status == 201
    status, _ = r.route("POST", "/api/memory/share", {"agentId": "a2", "content": "shared finding about storage"})
    assert status == 201
    # learn lands in semantic memory, share in the shared pool
    assert srv_engine.recall("a2", "OSHA flammable", mem_type="semantic")
    pools = srv_engine.collaborative_recall(["a2"], "shared finding about storage")
    assert pools["shared"]

    for i, (role, text) in enumerate([("user", "hi"), ("assistant", "hello"), ("user", "bye")]):
        status, _ = r.route("POST", "/api/conversation/add", {
            "agentId": "a2", "threadId": "t1", "role": role, "content": text,
        })
        assert status == 201
    status, msgs = r.route("POST", "/api/conversation/get", {"agentId": "a2", "threadId": "t1", "limit": 2})
    assert status == 200
    assert [m["content"] for m in msgs] == ["hello", "bye"]
    assert msgs[0]["role"] == "assistant"
    # unknown thread → empty
    status, msgs = r.route("POST", "/api/conversation/get", {"agentId": "a2", "threadId": "nope"})
    assert msgs == []


def test_cli_demo_end_to_end(spark, monkeypatch):
    """The CLI demo path must run end to end (reuses the session fixture so
    no second JVM spins up)."""
    import fusionspark.cli as cli

    monkeypatch.setattr(
        cli, "_engine",
        lambda root=None: __import__("fusionspark.engine", fromlist=["FusionSparkEngine"]).FusionSparkEngine(
            spark, root or __import__("tempfile").mkdtemp(prefix="cli-demo-test-")
        ),
    )
    cli.demo()  # raises on any failure


def test_mcp_stdio_initialize_list_call(srv_engine):
    """VERDICT r2 #3: the MCP wire protocol — newline-delimited JSON-RPC
    over stdio pipes: initialize → initialized → tools/list → tools/call,
    plus unknown-method and parse-error replies."""
    import io

    from fusionspark.server import mcp_stdio

    requests = "\n".join(
        json.dumps(m)
        for m in [
            {"jsonrpc": "2.0", "id": 1, "method": "initialize",
             "params": {"protocolVersion": "2024-11-05", "clientInfo": {"name": "t"}}},
            {"jsonrpc": "2.0", "method": "notifications/initialized"},
            {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
            {"jsonrpc": "2.0", "id": 3, "method": "tools/call",
             "params": {"name": "fusionspark_create_collection",
                        "arguments": {"name": "mcp_c", "dimensions": 8}}},
            {"jsonrpc": "2.0", "id": 4, "method": "tools/call",
             "params": {"name": "fusionspark_list_collections", "arguments": {}}},
            {"jsonrpc": "2.0", "id": 5, "method": "tools/call",
             "params": {"name": "no_such_tool", "arguments": {}}},
            {"jsonrpc": "2.0", "id": 6, "method": "bogus/method"},
        ]
    ) + "\nnot json at all\n"
    out = io.StringIO()
    mcp_stdio(srv_engine, stdin=io.StringIO(requests), stdout=out)
    replies = [json.loads(line) for line in out.getvalue().splitlines()]

    by_id = {r.get("id"): r for r in replies}
    # notification got no reply: 7 requests+1 garbage in, 7 replies out
    assert len(replies) == 7
    init = by_id[1]["result"]
    assert init["serverInfo"]["name"] == "fusionspark"
    assert init["protocolVersion"] and "tools" in init["capabilities"]
    tools = {t["name"]: t for t in by_id[2]["result"]["tools"]}
    assert "fusionspark_search" in tools
    assert tools["fusionspark_search"]["inputSchema"]["required"] == ["collection", "query"]
    assert by_id[3]["result"]["isError"] is False
    listed = json.loads(by_id[4]["result"]["content"][0]["text"])
    assert any(c["name"] == "mcp_c" for c in listed)
    assert by_id[5]["error"]["code"] == -32000  # unknown tool
    assert by_id[6]["error"]["code"] == -32601  # unknown method
    assert by_id[None]["error"]["code"] == -32700  # parse error


def test_index_build_and_approximate_search_routes(srv_engine):
    """Round 3: /api/index/build + approximate search over REST and the
    fusionspark_build_index tool."""
    r = Router(srv_engine)
    r.route("POST", "/api/collections", {"name": "ix", "dimensions": 8})
    for i in range(12):
        r.route("POST", "/api/insert", {
            "collection": "ix", "id": f"d{i}", "text": f"topic {i % 3} doc {i}",
        })
    status, info = r.route("POST", "/api/index/build", {"collection": "ix", "nCentroids": 3})
    assert status == 201 and info["n_centroids"] == 3 and info["rows"] == 12

    status, hits = r.route("POST", "/api/search", {
        "collection": "ix", "query": "topic 1 doc 4", "topK": 3,
        "approximate": True, "nProbe": 2,
    })
    assert status == 200 and len(hits) == 3

    out = r.call_tool("fusionspark_build_index", {"collection": "ix"})
    assert out["result"]["rows"] == 12
    # every tool still publishes an input schema in the manifest
    for t in r.tool_manifest()["tools"]:
        assert t["inputSchema"]["type"] == "object"


def test_resident_routes_and_tool(srv_engine):
    """Round 8: /api/index/resident (load + unload) and resident search
    over REST and the fusionspark_load_resident tool — results must match
    the exact path on the same query."""
    r = Router(srv_engine)
    r.route("POST", "/api/collections", {"name": "rs", "dimensions": 8})
    for i in range(10):
        r.route("POST", "/api/insert", {
            "collection": "rs", "id": f"d{i}", "text": f"topic {i % 3} doc {i}",
        })
    status, info = r.route("POST", "/api/index/resident", {"collection": "rs"})
    assert status == 201 and info["blocks"] >= 1

    q = {"collection": "rs", "query": "topic 1 doc 4", "topK": 3}
    s1, exact = r.route("POST", "/api/search", dict(q))
    s2, res = r.route("POST", "/api/search", dict(q, resident=True))
    assert s1 == s2 == 200
    assert [h["id"] for h in res] == [h["id"] for h in exact]

    out = r.call_tool("fusionspark_load_resident", {"collection": "rs"})
    assert out["result"]["blocks"] >= 1
    status, gone = r.route("DELETE", "/api/index/resident", {"collection": "rs"})
    assert status == 200 and gone["unloaded"] == "rs"
    # after unload the resident flag quietly uses the exact path
    s3, res2 = r.route("POST", "/api/search", dict(q, resident=True))
    assert s3 == 200 and [h["id"] for h in res2] == [h["id"] for h in exact]
    for t in r.tool_manifest()["tools"]:
        assert t["inputSchema"]["type"] == "object"


def test_analyze_route_and_tool(srv_engine):
    from fusionspark.engine import CollectionConfig

    r = Router(srv_engine)
    srv_engine.create_collection("sp", CollectionConfig(dimensions=4))
    srv_engine.insert(
        "sp",
        [
            {"id": f"v{i}", "vector": [0.4 * (i % 2), 0.2, 0.1 * i % 0.7, 0.05]}
            for i in range(12)
        ],
    )
    status, out = r.route("POST", "/api/analyze", {"collection": "sp", "k": 2})
    assert status == 200
    assert out["n"] == 12 and out["dimensions"] == 4
    assert "effectiveRank" in out and len(out["clusters"]) == 2
    # same through the tool registry (MCP surface)
    res = r.call_tool("fusionspark_analyze", {"collection": "sp"})
    assert res["result"]["n"] == 12 and "clusters" not in res["result"]
    assert any(
        t["name"] == "fusionspark_analyze" for t in r.tool_manifest()["tools"]
    )


def test_every_tool_has_input_schema(srv_engine):
    """tool_manifest must advertise a non-empty inputSchema for every
    tool whose handler requires arguments — a client following the
    manifest must never omit a required key (ADVICE r8:
    fusionspark_validate had no TOOL_SCHEMAS entry)."""
    r = Router(srv_engine)
    manifest = r.tool_manifest()["tools"]
    assert any(t["name"] == "fusionspark_validate" for t in manifest)
    for t in manifest:
        schema = t["inputSchema"]
        if t["name"] == "fusionspark_list_collections":
            continue  # genuinely arg-free
        assert schema.get("properties"), t["name"]


def test_router_status_codes(srv_engine, monkeypatch, caplog):
    """Client faults are 400; anything else is a 500 with an errorId whose
    traceback is logged once."""
    import logging

    r = Router(srv_engine)
    status, out = r.route("POST", "/api/collections", {"dimensions": 4})
    assert status == 400 and "name" in out["error"]

    r.route("POST", "/api/collections", {"name": "w", "dimensions": 4})
    status, out = r.route("POST", "/api/insert", {
        "collection": "w", "id": "x", "vector": [1.0, 0.0],
    })
    assert status == 400 and "dimension" in out["error"]

    # a top-k below 1 is a 400 on the snapshot path and on the Spark path
    import fusionspark.operators.serving as sv

    for i, vec in enumerate(([1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0])):
        r.route("POST", "/api/insert", {
            "collection": "w", "id": f"t{i}", "vector": vec, "text": "spark doc",
        })
    reads = [
        ("/api/search", {"vector": [1.0, 0.0, 0.0, 0.0]}),
        ("/api/hybrid-search", {"query": "spark"}),
        ("/api/rag/query", {"query": "spark"}),
    ]
    on_spark = Router(FusionSparkEngine(srv_engine.spark, srv_engine.root))
    for router, fraction in ((on_spark, 0.0), (r, sv.SNAPSHOT_MEM_FRACTION)):
        monkeypatch.setattr(sv, "SNAPSHOT_MEM_FRACTION", fraction)
        for path, body in reads:
            for top_k in (0, -1):
                status, out = router.route(
                    "POST", path, {"collection": "w", "topK": top_k, **body})
                assert status == 400 and "top_k" in out["error"], (path, top_k)
        status, out = router.route("POST", "/api/search", {
            "collection": "w", "topK": 1, **reads[0][1]})
        assert status == 200 and [h["id"] for h in out] == ["t0"]
    assert "w" in srv_engine._snapshots and not on_spark.engine._snapshots

    def broken(*args, **kwargs):
        raise RuntimeError("engine bug")

    monkeypatch.setattr(srv_engine, "search", broken)
    with caplog.at_level(logging.ERROR, logger="fusionspark.server"):
        status, out = r.route("POST", "/api/search", {
            "collection": "w", "vector": [1.0, 0.0, 0.0, 0.0],
        })
    assert status == 500 and out["errorId"]
    logged = [rec for rec in caplog.records if out["errorId"] in rec.getMessage()]
    assert len(logged) == 1 and "engine bug" in logged[0].exc_text


def test_tool_faults_follow_the_route_rule(srv_engine, monkeypatch, caplog):
    """A tool call answers like a route: a client fault is a 400, a server
    fault a 500 (an MCP error) with an errorId whose traceback is logged
    once, through /mcp/call and through the MCP transport."""
    import logging

    from fusionspark.server import handle_mcp_message

    r = Router(srv_engine)
    r.route("POST", "/api/collections", {"name": "w", "dimensions": 4})
    status, out = r.route("POST", "/mcp/call",
                          {"tool": "fusionspark_search", "args": {}})
    assert status == 400 and "collection" in out["error"]

    def broken(*args, **kwargs):
        raise RuntimeError("engine bug")

    monkeypatch.setattr(srv_engine, "search", broken)
    args = {"collection": "w", "query": "anything"}
    with caplog.at_level(logging.ERROR, logger="fusionspark.server"):
        status, out = r.route("POST", "/mcp/call",
                              {"tool": "fusionspark_search", "args": args})
        reply = handle_mcp_message(r, {
            "jsonrpc": "2.0", "id": 1, "method": "tools/call",
            "params": {"name": "fusionspark_search", "arguments": args},
        })
    assert status == 500 and out["error"] == "internal server error"
    assert reply["error"]["message"] == "internal server error"
    for error_id in (out["errorId"], reply["error"]["data"]["errorId"]):
        logged = [rec for rec in caplog.records if error_id in rec.getMessage()]
        assert len(logged) == 1 and "engine bug" in logged[0].exc_text


def test_default_ids_survive_a_restart():
    """/api/insert, /api/rag/ingest and the MCP ingest tool default ids
    from the text alone, so two processes with different hash seeds agree."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "from fusionspark.server import Router\n"
        "class Stub:\n"
        "    def insert(self, collection, rows, tenant_id=None):\n"
        "        return len(rows)\n"
        "    def ingest(self, collection, doc_id, text, strategy='recursive'):\n"
        "        print(doc_id)\n"
        "        return 1\n"
        "r = Router(Stub())\n"
        "print(r.route('POST', '/api/insert', {'collection': 'c', 'text': 'same text'})[1]['id'])\n"
        "r.route('POST', '/api/rag/ingest', {'text': 'same text'})\n"
        "r.call_tool('fusionspark_rag_ingest', {'text': 'same text'})\n"
    )

    def ids(seed):
        env = {**os.environ, "PYTHONHASHSEED": seed}
        out = subprocess.run(
            [sys.executable, "-c", script], env=env, cwd=repo,
            capture_output=True, text=True, timeout=120, check=True,
        )
        return out.stdout.split()

    first = ids("1")
    assert len(first) == 3 and len(set(first)) == 1
    assert ids("2") == first
