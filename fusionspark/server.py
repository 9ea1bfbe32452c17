"""S9: the serving surface — HTTP API + MCP-style tool registry over
FusionSparkEngine, mirroring the reference's front door:

  /root/reference/src/core/HTTPServer.js:88-177   (REST routes)
  /root/reference/src/mcp/MCPServer.js:50-107     (tool manifest + call)
  /root/reference/bin/cli.js:70-90                (serve wiring)

Framework-free by design: `Router.route(method, path, body)` is a pure
function of the engine (unit-testable without sockets), and `serve()` wraps
it in a stdlib ThreadingHTTPServer.  The engine executes every request as
the DataFrame plans in fusionspark.operators.* — the server is a thin
protocol adapter, exactly like the reference's (its engine is in-process,
ours is a SparkSession).
"""

from __future__ import annotations

import hashlib
import json
import logging
import uuid
from typing import Any

VERSION = "2.0.0"

log = logging.getLogger(__name__)


def _text_id(text: str) -> str:
    """Default document id: a digest of the text, so the same text gets
    the same id in every process (the built-in str hash is salted per
    process)."""
    return "doc_" + hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


def _fault(exc: Exception, what: str) -> tuple[int, dict]:
    """The one error rule of routes and tools: a KeyError or ValueError is
    the client's fault (400); anything else is a server fault (500),
    logged once with its traceback under the errorId the answer carries."""
    if isinstance(exc, KeyError):
        return 400, {"error": f"missing field {exc}"}
    if isinstance(exc, ValueError):
        return 400, {"error": str(exc)}
    error_id = uuid.uuid4().hex
    log.error("%s failed (errorId %s)", what, error_id, exc_info=exc)
    return 500, {"error": "internal server error", "errorId": error_id}


class Router:
    """Dispatch (method, path, body) → (status, payload)."""

    def __init__(self, engine):
        self.engine = engine

    # ── REST (HTTPServer.js:88-177) ───────────────────────────────────────

    def route(self, method: str, path: str, body: dict | None = None) -> tuple[int, Any]:
        body = body or {}
        path = path.split("?")[0]
        try:
            if path == "/api/health":
                return 200, {"status": "ok", "engine": "fusionspark", "version": VERSION}
            if path == "/api/collections" and method == "GET":
                return 200, self.engine.list_collections()
            if path == "/api/collections" and method == "POST":
                from fusionspark.engine import CollectionConfig

                cfg = CollectionConfig(
                    dimensions=int(body.get("dimensions", 64)),
                    metric=body.get("metric", body.get("distanceMetric", "cosine")),
                )
                return 201, self.engine.create_collection(body["name"], cfg)
            if path == "/api/insert" and method == "POST":
                entry = {
                    "id": body.get("id") or _text_id(body.get("text", "")),
                    "metadata": body.get("metadata") or {},
                }
                if body.get("vector") is not None:
                    entry["vector"] = body["vector"]
                if body.get("text") is not None:
                    entry["content"] = body["text"]
                n = self.engine.insert(
                    body["collection"], [entry], tenant_id=body.get("tenantId")
                )
                return 201, {"inserted": n, "id": entry["id"]}
            if path == "/api/search" and method == "POST":
                hits = self.engine.search(
                    body["collection"],
                    query_vector=body.get("vector"),
                    query_text=body.get("query"),
                    top_k=int(body.get("topK", 10)),
                    tenant_id=body.get("tenantId"),
                    metadata_filter=body.get("filter"),
                    approximate=bool(body.get("approximate", False)),
                    n_probe=int(body.get("nProbe", 8)),
                    resident=bool(body.get("resident", False)),
                )
                return 200, hits
            if path == "/api/index/build" and method == "POST":
                info = self.engine.build_index(
                    body["collection"],
                    n_centroids=(
                        int(body["nCentroids"]) if body.get("nCentroids") else None
                    ),
                )
                return 201, info
            if path == "/api/index/resident" and method == "POST":
                return 201, self.engine.load_resident(body["collection"])
            if path == "/api/index/resident" and method == "DELETE":
                self.engine.unload_resident(body["collection"])
                return 200, {"unloaded": body["collection"]}
            if path == "/api/analyze" and method == "POST":
                return 200, self.engine.analyze(
                    body["collection"], k=int(body.get("k", 0))
                )
            if path == "/api/validate" and method == "POST":
                return 200, {"report": self.engine.validate(body["collection"])}
            if path == "/api/optimize" and method == "POST":
                return 200, self.engine.optimize(
                    body["collection"],
                    target_file_rows=int(body.get("targetFileRows", 1_000_000)),
                    cluster_by=body.get("clusterBy"),
                )
            if path == "/api/hybrid-search" and method == "POST":
                return 200, self.engine.retrieve(
                    body["collection"], body["query"], top_k=int(body.get("topK", 10))
                )
            if path == "/api/rag/ingest" and method == "POST":
                n = self.engine.ingest(
                    body.get("collection", "rag"),
                    body.get("docId") or _text_id(body["text"]),
                    body["text"],
                    strategy=body.get("strategy", "recursive"),
                )
                return 201, {"chunks": n}
            if path == "/api/rag/query" and method == "POST":
                return 200, self.engine.build_context(
                    body.get("collection", "rag"),
                    body["query"],
                    max_tokens=int(body.get("maxTokens", 2000)),
                    top_k=int(body.get("topK", 10)),
                )
            if path == "/api/memory/remember" and method == "POST":
                n = self.engine.remember(
                    body.get("agentId", "default"),
                    body["content"],
                    mem_type=body.get("type", "episodic"),
                    importance=float(body.get("importance", 0.5)),
                )
                return 201, {"stored": n}
            if path == "/api/memory/recall" and method == "POST":
                return 200, self.engine.recall(
                    body.get("agentId", "default"),
                    body["query"],
                    mem_type=body.get("type", "episodic"),
                    top_k=int(body.get("topK", 5)),
                )
            if path == "/api/memory/learn" and method == "POST":
                n = self.engine.learn(
                    body.get("agentId", "default"),
                    body["content"],
                    confidence=float(body.get("confidence", 0.7)),
                )
                return 201, {"stored": n}
            if path == "/api/memory/share" and method == "POST":
                n = self.engine.share(
                    body.get("agentId", "default"), body["content"],
                    importance=float(body.get("importance", 0.5)),
                )
                return 201, {"stored": n}
            if path == "/api/conversation/add" and method == "POST":
                n = self.engine.add_message(
                    body.get("agentId", "default"),
                    body["threadId"],
                    body.get("role", "user"),
                    body["content"],
                )
                return 201, {"stored": n}
            if path == "/api/conversation/get" and method == "POST":
                return 200, self.engine.get_conversation(
                    body.get("agentId", "default"),
                    body["threadId"],
                    limit=int(body.get("limit", 0)),
                    since=int(body.get("since", 0)),
                )
            if path == "/api/memory/forget" and method == "POST":
                self.engine.forget(
                    body.get("agentId", "default"), body.get("type", "episodic")
                )
                return 200, {"forgotten": True}
            if path == "/mcp/tools" and method == "GET":
                return 200, self.tool_manifest()
            if path == "/mcp/call" and method == "POST":
                return self._call(body.get("tool", ""), body.get("args") or {})
            return 404, {"error": f"Not found: {method} {path}"}
        except Exception as e:  # noqa: BLE001 — protocol boundary
            return _fault(e, f"{method} {path}")

    # ── MCP-style tools (MCPServer.js:50-107) ─────────────────────────────

    def _tools(self) -> dict[str, tuple[str, Any]]:
        e = self.engine
        return {
            "fusionspark_create_collection": (
                "Create a new vector collection.",
                lambda a: self.route("POST", "/api/collections", a)[1],
            ),
            "fusionspark_list_collections": (
                "List all vector collections.",
                lambda a: e.list_collections(),
            ),
            "fusionspark_search": (
                "Semantic search within a collection.",
                lambda a: e.search(
                    a["collection"], query_text=a.get("query"),
                    query_vector=a.get("vector"), top_k=int(a.get("topK", 5)),
                    tenant_id=a.get("tenantId"), metadata_filter=a.get("filter"),
                    approximate=bool(a.get("approximate", False)),
                    n_probe=int(a.get("nProbe", 8)),
                    resident=bool(a.get("resident", False)),
                ),
            ),
            "fusionspark_analyze": (
                "Corpus-health analytics for a collection: spectral "
                "summary (total variance, effective rank) and optional "
                "exact k-means cluster profile (k > 0).",
                lambda a: e.analyze(a["collection"], k=int(a.get("k", 0))),
            ),
            "fusionspark_validate": (
                "Data-quality gate for a collection: id/vector presence, "
                "stored dimensionality, ttl/ts sanity, (tenant, id) "
                "uniqueness — a (rule, n_rows, n_violations, passed) report.",
                lambda a: {"report": e.validate(a["collection"])},
            ),
            "fusionspark_load_resident": (
                "Build the in-memory resident serving index for a "
                "collection (search with resident=true afterwards).",
                lambda a: e.load_resident(a["collection"]),
            ),
            "fusionspark_attach_delta": (
                "Attach an existing Delta Lake table as a READ-ONLY "
                "collection (optionally pinned to a version for time "
                "travel); search/retrieve work over it, mutations refuse.",
                lambda a: e.attach_delta(
                    a["name"], a["path"],
                    version=(
                        int(a["version"]) if a.get("version") is not None
                        else None
                    ),
                ),
            ),
            "fusionspark_build_index": (
                "Build/refresh the IVF index for approximate search.",
                lambda a: e.build_index(
                    a["collection"],
                    n_centroids=(
                        int(a["nCentroids"]) if a.get("nCentroids") else None
                    ),
                ),
            ),
            "fusionspark_hybrid_search": (
                "Hybrid retrieval (vector + keyword RRF fusion).",
                lambda a: e.retrieve(a["collection"], a["query"], top_k=int(a.get("topK", 10))),
            ),
            "fusionspark_rag_ingest": (
                "One-click RAG: chunk, embed, and index text.",
                lambda a: {"chunks": e.ingest(
                    a.get("collection", "rag"),
                    a.get("docId") or _text_id(a["text"]), a["text"],
                )},
            ),
            "fusionspark_rag_query": (
                "Build LLM-ready context from ingested documents.",
                lambda a: e.build_context(
                    a.get("collection", "rag"), a["query"],
                    max_tokens=int(a.get("maxTokens", 2000)),
                ),
            ),
            "fusionspark_memory_remember": (
                "Store an episodic memory for an AI agent.",
                lambda a: {"stored": e.remember(
                    a.get("agentId", "default"), a["content"],
                    importance=float(a.get("importance", 0.5)),
                )},
            ),
            "fusionspark_memory_recall": (
                "Recall relevant memories.",
                lambda a: e.recall(
                    a.get("agentId", "default"), a["query"],
                    top_k=int(a.get("topK", 5)),
                ),
            ),
            "fusionspark_memory_learn": (
                "Add knowledge to semantic memory.",
                lambda a: {"stored": e.learn(
                    a.get("agentId", "default"), a["content"],
                    confidence=float(a.get("confidence", 0.7)),
                )},
            ),
            "fusionspark_memory_share": (
                "Share knowledge with other agents.",
                lambda a: {"stored": e.share(a.get("agentId", "default"), a["content"])},
            ),
            "fusionspark_memory_forget": (
                "Delete agent memories (GDPR-style erasure).",
                lambda a: {"forgotten": e.forget(a.get("agentId", "default"),
                                                 a.get("type", "episodic")) or True},
            ),
        }

    #: JSON-Schema input shapes per tool (MCPServer.js:50-107 publishes
    #: inputSchema in its manifest; Claude-Desktop-style clients use these
    #: to construct calls).
    TOOL_SCHEMAS: dict[str, dict] = {
        "fusionspark_create_collection": {
            "type": "object",
            "properties": {
                "name": {"type": "string"},
                "dimensions": {"type": "number"},
                "metric": {"type": "string", "enum": ["cosine", "euclidean", "dot"]},
            },
            "required": ["name"],
        },
        "fusionspark_list_collections": {"type": "object", "properties": {}},
        "fusionspark_search": {
            "type": "object",
            "properties": {
                "collection": {"type": "string"},
                "query": {"type": "string"},
                "topK": {"type": "number"},
                "filter": {"type": "object"},
                "tenantId": {"type": "string"},
                "approximate": {"type": "boolean"},
                "resident": {"type": "boolean"},
                "nProbe": {"type": "number"},
            },
            "required": ["collection", "query"],
        },
        "fusionspark_build_index": {
            "type": "object",
            "properties": {
                "collection": {"type": "string"},
                "nCentroids": {"type": "number"},
            },
            "required": ["collection"],
        },
        "fusionspark_load_resident": {
            "type": "object",
            "properties": {"collection": {"type": "string"}},
            "required": ["collection"],
        },
        "fusionspark_hybrid_search": {
            "type": "object",
            "properties": {
                "collection": {"type": "string"},
                "query": {"type": "string"},
                "topK": {"type": "number"},
            },
            "required": ["collection", "query"],
        },
        "fusionspark_rag_ingest": {
            "type": "object",
            "properties": {
                "collection": {"type": "string"},
                "docId": {"type": "string"},
                "text": {"type": "string"},
            },
            "required": ["text"],
        },
        "fusionspark_rag_query": {
            "type": "object",
            "properties": {
                "collection": {"type": "string"},
                "query": {"type": "string"},
                "maxTokens": {"type": "number"},
            },
            "required": ["query"],
        },
        "fusionspark_memory_remember": {
            "type": "object",
            "properties": {
                "agentId": {"type": "string"},
                "content": {"type": "string"},
                "importance": {"type": "number"},
            },
            "required": ["agentId", "content"],
        },
        "fusionspark_memory_recall": {
            "type": "object",
            "properties": {
                "agentId": {"type": "string"},
                "query": {"type": "string"},
                "topK": {"type": "number"},
            },
            "required": ["agentId", "query"],
        },
        "fusionspark_analyze": {
            "type": "object",
            "properties": {
                "collection": {"type": "string"},
                "k": {"type": "number"},
            },
            "required": ["collection"],
        },
        "fusionspark_validate": {
            "type": "object",
            "properties": {"collection": {"type": "string"}},
            "required": ["collection"],
        },
        "fusionspark_attach_delta": {
            "type": "object",
            "properties": {
                "name": {"type": "string"},
                "path": {"type": "string"},
                "version": {"type": "number"},
            },
            "required": ["name", "path"],
        },
        "fusionspark_memory_learn": {
            "type": "object",
            "properties": {
                "agentId": {"type": "string"},
                "content": {"type": "string"},
                "confidence": {"type": "number"},
            },
            "required": ["agentId", "content"],
        },
        "fusionspark_memory_share": {
            "type": "object",
            "properties": {
                "agentId": {"type": "string"},
                "content": {"type": "string"},
            },
            "required": ["agentId", "content"],
        },
        "fusionspark_memory_forget": {
            "type": "object",
            "properties": {
                "agentId": {"type": "string"},
                "type": {"type": "string", "enum": ["episodic", "semantic", "procedural"]},
            },
            "required": ["agentId"],
        },
    }

    def tool_manifest(self) -> dict:
        return {
            "tools": [
                {
                    "name": name,
                    "description": desc,
                    "inputSchema": self.TOOL_SCHEMAS.get(
                        name, {"type": "object", "properties": {}}
                    ),
                }
                for name, (desc, _fn) in self._tools().items()
            ]
        }

    def call_tool(self, tool: str, args: dict) -> dict:
        """{"result": ...}, or {"error": ...} under the routes' error rule."""
        return self._call(tool, args)[1]

    def _call(self, tool: str, args: dict) -> tuple[int, dict]:
        tools = self._tools()
        if tool not in tools:
            return 404, {"error": f"Unknown tool: {tool}"}
        try:
            return 200, {"result": tools[tool][1](args)}
        except Exception as e:  # noqa: BLE001 — protocol boundary
            return _fault(e, f"tool {tool}")


# ── MCP stdio transport (MCPServer.js:107-127) ────────────────────────────

MCP_PROTOCOL_VERSION = "2024-11-05"


def handle_mcp_message(router: Router, msg: dict) -> dict | None:
    """One JSON-RPC 2.0 message → response dict (None for notifications).

    Methods: `initialize` (MCP handshake), `notifications/initialized`
    (no-op), `tools/list`, `tools/call` — the same dispatch as the
    reference's stdio loop (MCPServer.js:114-121) plus the initialize
    handshake an actual MCP client sends first."""
    method = msg.get("method")
    mid = msg.get("id")
    if method == "initialize":
        return {
            "jsonrpc": "2.0",
            "id": mid,
            "result": {
                "protocolVersion": MCP_PROTOCOL_VERSION,
                "serverInfo": {"name": "fusionspark", "version": VERSION},
                "capabilities": {"tools": {}},
            },
        }
    if method == "notifications/initialized":
        return None  # notification: no response on the wire
    if method == "tools/list":
        return {"jsonrpc": "2.0", "id": mid, "result": router.tool_manifest()}
    if method == "tools/call":
        params = msg.get("params") or {}
        out = router.call_tool(params.get("name", ""), params.get("arguments") or {})
        if "error" in out:
            error = {"code": -32000, "message": out["error"]}
            if "errorId" in out:
                error["data"] = {"errorId": out["errorId"]}
            return {"jsonrpc": "2.0", "id": mid, "error": error}
        return {
            "jsonrpc": "2.0",
            "id": mid,
            "result": {
                "content": [
                    {"type": "text", "text": json.dumps(out["result"], default=str)}
                ],
                "isError": False,
            },
        }
    return {
        "jsonrpc": "2.0",
        "id": mid,
        "error": {"code": -32601, "message": f"Unknown method: {method}"},
    }


def mcp_stdio(engine, stdin=None, stdout=None) -> None:
    """Newline-delimited JSON-RPC loop over stdio — the transport Claude
    Desktop/MCP clients speak when they spawn the server as a subprocess
    (`python -m fusionspark.cli mcp`; reference: bin/cli.js `mcp` +
    MCPServer.js:107-127).  `stdin`/`stdout` injectable for tests (any
    line-iterable / writer)."""
    import sys

    stdin = stdin if stdin is not None else sys.stdin
    stdout = stdout if stdout is not None else sys.stdout
    router = Router(engine)
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        try:
            resp = handle_mcp_message(router, json.loads(line))
        except Exception as e:  # noqa: BLE001 — protocol boundary (parse errors)
            resp = {
                "jsonrpc": "2.0",
                "id": None,
                "error": {"code": -32700, "message": str(e)},
            }
        if resp is not None:
            stdout.write(json.dumps(resp) + "\n")
            stdout.flush()


def serve(engine, port: int = 8080, host: str = "127.0.0.1"):
    """Start a threaded stdlib HTTP server over the router.  Returns the
    server object (call .shutdown() to stop); blocks only if you call
    .serve_forever() yourself — tests run it on a background thread."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    router = Router(engine)

    class Handler(BaseHTTPRequestHandler):
        def _respond(self, status: int, payload: Any) -> None:
            data = json.dumps(payload).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):  # noqa: N802 — stdlib naming
            self._respond(*router.route("GET", self.path))

        def do_POST(self):  # noqa: N802
            length = int(self.headers.get("Content-Length", 0) or 0)
            raw = self.rfile.read(length) if length else b"{}"
            try:
                body = json.loads(raw.decode("utf-8") or "{}")
            except json.JSONDecodeError:
                return self._respond(400, {"error": "invalid JSON body"})
            self._respond(*router.route("POST", self.path, body))

        def log_message(self, fmt, *args):  # silence request logging
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    return server
