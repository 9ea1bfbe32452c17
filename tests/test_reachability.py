"""Reachability ratchet: every module of the package is imported, directly
or transitively, from a front door, or belongs to a family still listed
for deletion (ROADMAP item 5).  AST only — no Spark, nothing imported.

Function-local imports count: the engine imports most operators inside
the method that uses them.  ``__spark_entry__.py`` is not a front door; it
reaches the registry families below only for the DuckDB-oracle contract.
"""

from __future__ import annotations

import ast
import os

PKG_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fusionspark")

FRONT_DOORS = (
    "fusionspark",
    "fusionspark.engine",
    "fusionspark.server",
    "fusionspark.cli",
    "fusionspark.integrations",
)

# Families no front door reaches yet.  Shrink this as each is deleted or
# wired to a route; a module missing from it that no front door reaches
# fails the test.
UNREACHABLE_FAMILIES = {
    # the query registry and its fixtures (DuckDB-oracle contract)
    "queries": ["fusionspark.fixtures", "fusionspark.queries"] + [
        f"fusionspark.queries.{m}_queries"
        for m in """analytics cdc clustering composition embedding eval
        extended layout mining multimodal pipeline rag relational spectral
        text tree url vector""".split()
    ],
    "media": [
        f"fusionspark.operators.{m}"
        for m in "avc avi bmp exif gif jpeg mp4 multimodal qoi warc".split()
    ],
    # training-corpus pipeline
    "corpus": ["fusionspark.corpus_pipeline"] + [
        f"fusionspark.operators.{m}" for m in "bpe dedup packing textstats".split()
    ],
    # batch analytics operators behind registry queries
    "analytics": [
        f"fusionspark.operators.{m}"
        for m in """cdc embeddings graph joins layout ranking sampling simjoin
        sketches urls""".split()
    ],
    # reference ports with no route: wire each to the engine or delete it
    "unwired_ports": [
        f"fusionspark.operators.{m}"
        for m in "learning llm memory orchestration tree".split()
    ],
}


def _modules() -> dict[str, str]:
    """Module name → source path for every .py file of the package."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(PKG_DIR):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        rel = os.path.relpath(dirpath, os.path.dirname(PKG_DIR))
        for f in filenames:
            if f.endswith(".py"):
                parts = rel.split(os.sep)
                if f != "__init__.py":
                    parts.append(f[:-3])
                out[".".join(parts)] = os.path.join(dirpath, f)
    return out


def _imports(name: str, path: str, modules: dict[str, str]) -> set[str]:
    """Package modules `name` imports anywhere in its body, with every
    parent package each import runs."""
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    targets = set()
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            targets.add(base)
            # `from pkg import sub` imports the submodule `pkg.sub`
            targets.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for t in targets:
        parts = t.split(".")
        found.update(
            m for m in (".".join(parts[:i]) for i in range(1, len(parts) + 1))
            if m in modules
        )
    return found


def _reachable(modules: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    stack = list(FRONT_DOORS)
    while stack:
        m = stack.pop()
        if m not in seen:
            seen.add(m)
            stack.extend(_imports(m, modules[m], modules) - seen)
    return seen


def test_unreachable_modules_are_listed():
    modules = _modules()
    listed = set().union(*UNREACHABLE_FAMILIES.values())
    unreachable = set(modules) - _reachable(modules)
    assert unreachable - listed == set(), (
        "modules no front door reaches; wire them to a route or delete them"
    )


def test_listed_modules_exist():
    """A deleted module leaves the list with it, so the list only shrinks."""
    modules = _modules()
    listed = set().union(*UNREACHABLE_FAMILIES.values())
    assert listed - set(modules) == set()
