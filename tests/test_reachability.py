"""Reachability ratchet: every module of the package is imported, directly
or transitively, from a front door, or belongs to a family still listed
for deletion (ROADMAP item 8); and every top-level function and class of
a reachable module is named by package code (or listed with a reason).
AST only — no Spark, nothing imported.

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
    # the query registry (DuckDB-oracle contract)
    "queries": ["fusionspark.queries"] + [
        f"fusionspark.queries.{m}_queries"
        for m in """cdc clustering eval mining pipeline rag spectral text
        vector""".split()
    ],
    "media": [
        f"fusionspark.operators.{m}"
        for m in "bmp gif jpeg qoi warc".split()
    ],
    # training-corpus pipeline
    "corpus": ["fusionspark.corpus_pipeline"] + [
        f"fusionspark.operators.{m}" for m in "bpe dedup packing textstats".split()
    ],
    # batch analytics operators behind registry queries
    "analytics": [
        f"fusionspark.operators.{m}"
        for m in "cdc embeddings joins ranking sampling simjoin sketches".split()
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


# ── function-level ratchet ────────────────────────────────────────────────

# Top-level definitions of reachable modules that no other code of the
# package names, each with the reason it stays.  Shrink it; never grow it.
UNNAMED_DEFINITIONS = {
    "fusionspark.io.write_bucketed": (
        "builds the bucketed base that tests/test_cdc.py runs the listed "
        "`cdc` family on; goes with that family"
    ),
    "fusionspark.operators.keyword.persist_keyword_index": (
        "writes the posting lists that `keyword_search_indexed` of the "
        "listed `text_queries` family reads; goes with that family"
    ),
}


def _names(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) of every identifier the code mentions: names,
    attributes and imported names with their aliases.  Strings, and so
    docstrings, do not count."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, ast.ImportFrom):
            out.extend((n, node.lineno) for a in node.names
                       for n in (a.name, a.asname) if n)
    return out


def _unnamed_definitions() -> set[str]:
    """Top-level functions and classes of the modules a front door reaches
    that no package module names outside their own body.  A front door's
    public names and decorated definitions (registered by their decorator)
    are roots.  Test-only uses do not count."""
    modules = _modules()
    trees = {}
    for m, path in modules.items():
        with open(path, encoding="utf-8") as f:
            trees[m] = ast.parse(f.read())
    named: dict[str, list[tuple[str, int]]] = {}
    for m, tree in trees.items():
        for name, line in _names(tree):
            named.setdefault(name, []).append((m, line))
    out = set()
    for m in _reachable(modules):
        for d in trees[m].body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                continue
            if d.decorator_list or (m in FRONT_DOORS
                                    and not d.name.startswith("_")):
                continue
            if not any(o != m or not d.lineno <= line <= d.end_lineno
                       for o, line in named.get(d.name, ())):
                out.add(f"{m}.{d.name}")
    return out


def test_unnamed_definitions_are_listed():
    assert _unnamed_definitions() - set(UNNAMED_DEFINITIONS) == set(), (
        "definitions no package code names; wire them in or delete them"
    )


def test_listed_definitions_are_still_unnamed():
    """A listed definition that was deleted or wired in leaves the list."""
    assert set(UNNAMED_DEFINITIONS) - _unnamed_definitions() == set()


# ── import-path guard ─────────────────────────────────────────────────────

REPO_DIR = os.path.dirname(PKG_DIR)


def _path_scripts() -> list[str]:
    """The files that put a directory on ``sys.path``: the tests, the
    tools and the driver entry."""
    out = [os.path.join(REPO_DIR, "__spark_entry__.py")]
    for top in ("tests", "tools"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(REPO_DIR, top)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return out


def test_sys_path_is_derived_from_the_file():
    """A literal directory on ``sys.path`` makes a copy of the repo import
    and test another checkout's package; derive it from ``__file__``."""
    literal = []
    for path in _path_scripts():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "insert"
                    and ast.unparse(node.func.value) == "sys.path"
                    and any(isinstance(a, ast.Constant) and isinstance(a.value, str)
                            for a in node.args)):
                literal.append(f"{os.path.relpath(path, REPO_DIR)}:{node.lineno}")
    assert literal == []
