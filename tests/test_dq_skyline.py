"""Invariant tests for the data-quality checks behind engine.validate,
and engine.optimize."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fusionspark.operators import dq

SF = "/root/testdata/sf0.001"


def test_dq_check_counts_violations(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 120.0), (4, 7.0)], "id: long, v: double"
    )
    out = {
        r["rule"]: r
        for r in dq.dq_check(
            df,
            [
                ("v_not_null", F.col("v").isNull()),
                ("v_below_100", F.col("v") > 100.0),
            ],
        ).collect()
    }
    assert out["v_not_null"]["n_violations"] == 1
    assert out["v_not_null"]["passed"] is False
    assert out["v_below_100"]["n_violations"] == 1
    assert all(r["n_rows"] == 4 for r in out.values())


def test_dq_unique_and_ref_integrity(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 1), (3, 2)], "k: long, fk: long"
    )
    uniq = dq.dq_unique(df, ["k"], "k_unique").collect()[0]
    assert uniq["n_violations"] == 1 and uniq["passed"] is False


def test_dq_check_rejects_empty_rules(spark):
    df = spark.createDataFrame([(1,)], "id: long")
    with pytest.raises(ValueError):
        dq.dq_check(df, [])


def test_engine_validate_reports_dim_violation(spark, tmp_path):
    from fusionspark.engine import FusionSparkEngine

    eng = FusionSparkEngine(spark, str(tmp_path / "store"))
    eng.create_collection("c", _cfg(4))
    eng.insert(
        "c",
        [
            {"id": "a", "vector": [1.0, 0.0, 0.0, 0.0]},
            {"id": "b", "vector": [0.0, 1.0, 0.0, 0.0]},
        ],
    )
    report = {r["rule"]: r for r in eng.validate("c")}
    assert all(r["passed"] for r in report.values()), report
    assert set(report) == {
        "id_not_null",
        "vector_not_null",
        "vector_dim",
        "ttl_non_negative",
        "ts_present",
        "tenant_id_unique",
    }
    # an out-of-band short vector must trip vector_dim and nothing else
    bad = spark.createDataFrame(
        [("z", [1.0], None, None, None, 1, 0)],
        "id: string, vector: array<float>, content: string, "
        "metadata: map<string,string>, tenant_id: string, ts: long, ttl_ms: long",
    )
    eng._append("c", bad)
    report2 = {r["rule"]: r for r in eng.validate("c")}
    assert report2["vector_dim"]["n_violations"] == 1
    assert report2["vector_dim"]["passed"] is False
    assert report2["id_not_null"]["passed"] is True


def _cfg(dim):
    from fusionspark.engine import CollectionConfig

    return CollectionConfig(dimensions=dim)


def test_server_validate_route_and_mcp_tool(spark, tmp_path):
    from fusionspark.engine import FusionSparkEngine
    from fusionspark.server import Router

    eng = FusionSparkEngine(spark, str(tmp_path / "store"))
    r = Router(eng)
    status, _ = r.route("POST", "/api/collections", {"name": "v1", "dimensions": 4})
    assert status == 201
    status, _ = r.route(
        "POST", "/api/insert",
        {"collection": "v1", "id": "a", "vector": [1.0, 0.0, 0.0, 0.0]},
    )
    assert status == 201
    status, out = r.route("POST", "/api/validate", {"collection": "v1"})
    assert status == 200
    assert all(row["passed"] for row in out["report"])
    tools = r.tool_manifest()
    names = [t["name"] for t in tools["tools"]] if isinstance(tools, dict) else tools
    assert any("fusionspark_validate" in str(n) for n in names)
    got = r.call_tool("fusionspark_validate", {"collection": "v1"})
    assert all(row["passed"] for row in got["result"]["report"])


def test_engine_optimize_compacts_manifest_collection(spark, tmp_path):
    """Three appends → 3+ small files; optimize() compacts to one file
    set in a new version with identical rows."""
    from fusionspark.engine import FusionSparkEngine

    eng = FusionSparkEngine(spark, str(tmp_path / "m"))
    eng.create_collection("c", _cfg(4))
    for i in range(3):
        eng.insert("c", [{"id": f"x{i}", "vector": [float(i), 0.0, 0.0, 0.0]}])
    before = eng._load("c").collect()
    out = eng.optimize("c", target_file_rows=10)
    assert out["compacted"] and out["version"] > 0
    after = eng._load("c").collect()
    assert sorted(r["id"] for r in after) == sorted(r["id"] for r in before)
    t = eng._table("c")
    assert t.version() == out["version"]
    assert t._manifest(t.version())["op"] == "compact"


def test_dq_check_rule_name_with_quote(spark):
    """Rule names are data, not SQL: quotes/backslashes in a name must
    flow through to the report verbatim (the selectExpr-interpolation
    form broke on a single quote)."""
    df = spark.createDataFrame([(1,), (2,), (-1,)], "v int")
    name = "o'brien's \"rule\" \\ check"
    out = dq.dq_check(df, [(name, F.col("v") < 0)]).collect()
    assert len(out) == 1
    assert out[0].rule == name
    assert out[0].n_violations == 1 and not out[0].passed


