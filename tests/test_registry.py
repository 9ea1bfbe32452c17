"""Registry consistency, without Spark: `load_all()` skips PRIORITY names
that are not registered, so a deleted query's name would outlive it
silently; the same holds for the query names `bench.py` and
`tools/plan_audit.py` look up, which fail only when someone runs them;
and `__spark_entry__.py` must keep importing."""

from __future__ import annotations

import ast
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_priority_names_registered_and_entry_imports():
    from fusionspark.queries import PRIORITY, REGISTRY, load_all
    from fusionspark.queries.text_queries import rrf_fusion

    load_all()
    assert [n for n in PRIORITY if n not in REGISTRY] == []

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py"))
    contract = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(contract)
    assert callable(contract.entry)
    assert contract.queries()["rrf_fusion"] is rrf_fusion


def _tool_query_names(path: str) -> set[str]:
    """Query names a tool looks up, read by AST: `REGISTRY["..."]` and
    `_R["..."]` subscripts, the `picks = [...]` list, and the first
    element of each `(name, ...)` tuple a `for` loop walks."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    out = set()
    for node in ast.walk(tree):
        if (isinstance(node, ast.Subscript) and isinstance(node.value, ast.Name)
                and node.value.id in ("REGISTRY", "_R")
                and isinstance(node.slice, ast.Constant)):
            out.add(node.slice.value)
        elif isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "picks" for t in node.targets):
            out.update(e.value for e in node.value.elts)
        elif isinstance(node, ast.For) and isinstance(node.iter, (ast.Tuple, ast.List)):
            out.update(e.elts[0].value for e in node.iter.elts
                       if isinstance(e, ast.Tuple) and e.elts
                       and isinstance(e.elts[0], ast.Constant)
                       and isinstance(e.elts[0].value, str))
    return out


def test_tool_query_names_registered():
    from fusionspark.queries import REGISTRY, load_all

    load_all()
    for tool in ("bench.py", os.path.join("tools", "plan_audit.py")):
        names = _tool_query_names(os.path.join(REPO, tool))
        assert names, tool
        assert sorted(names - set(REGISTRY)) == [], tool
