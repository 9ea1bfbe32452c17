"""Registry consistency, without Spark: `load_all()` skips PRIORITY names
that are not registered, so a deleted query's name would outlive it
silently; and `__spark_entry__.py` must keep importing."""

from __future__ import annotations

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
