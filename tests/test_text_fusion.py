"""Keyword search, RRF fusion, context packing, memory/learning operator
tests (mirroring /root/reference/test/fusionpact.test.js:140-223,340-554)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from fusionspark import fixtures as FX
from fusionspark.io import load_table
from fusionspark.operators import fusion, memory as mem_ops
from fusionspark.operators.keyword import extract_terms, keyword_rank, keyword_search
from fusionspark.operators.context import pack_context, pack_rows


def test_extract_terms_stopwords_and_length():
    assert extract_terms("What is the fast table scan?") == ["fast", "table", "scan?"]
    assert extract_terms("a an the is") == []


def test_keyword_search_ranked_desc(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    rows = keyword_search(d, "fast table scan", top_k=5).collect()
    assert 0 < len(rows) <= 5
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_rrf_fusion_prefers_multi_strategy(spark):
    a = spark.createDataFrame([(1, 0.9), (2, 0.8)], "doc_id: long, score: double")
    b = spark.createDataFrame([(2, 0.7), (3, 0.6)], "doc_id: long, score: double")
    out = fusion.rrf_fuse({"vector": a, "keyword": b}, top_k=3,
                          weights={"vector": 0.5, "keyword": 0.5}).collect()
    by_id = {r["doc_id"]: r for r in out}
    # doc 2 appears in both strategies → highest fused score
    assert out[0]["doc_id"] == 2
    assert by_id[2]["n_strategies"] == 2
    # RRF formula check: doc2 = 0.5/(60+2) + 0.5/(60+1)
    expected = 0.5 / 62 + 0.5 / 61
    assert abs(by_id[2]["fused_score"] - expected) < 1e-12


def test_pack_context_budget(spark):
    rows = [(i, 1.0 - i * 0.1, "x" * 400) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id: long, score: double, text: string")
    packed = pack_context(df, max_tokens=250).collect()
    # each row is ceil(400/4)=100 tokens → only 2 rows fit in 250
    assert [r["doc_id"] for r in packed] == [0, 1]
    assert packed[-1]["running_tokens"] == 200


def test_tenant_isolation_and_forget(spark, sf_dir):
    mem = FX.memory_df(spark, sf_dir)
    only2 = mem.filter(F.col("agent_id") == "agent-2")
    assert only2.count() > 0
    after = mem_ops.forget(mem, "agent-2")
    assert after.filter(F.col("agent_id") == "agent-2").count() == 0
    assert after.count() == mem.count() - only2.count()


def test_conversation_cap(spark, sf_dir):
    conv = FX.conversations_df(spark, sf_dir)
    capped = mem_ops.conversation_tail(conv, n=5)
    worst = (
        capped.groupBy("agent_id", "thread_id").count().agg(F.max("count")).first()[0]
    )
    assert worst <= 5


def test_ttl_filter_keeps_unexpired(spark, sf_dir):
    mem = FX.memory_df(spark, sf_dir)
    now = F.to_timestamp(F.lit(FX.REF_NOW))
    kept = mem_ops.ttl_filter(mem, now)
    # everything with ttl_ms=0 survives
    assert kept.filter(F.col("ttl_ms") == 0).count() == mem.filter(F.col("ttl_ms") == 0).count()
    assert kept.count() <= mem.count()


def test_keyword_index_matches_scan(spark, sf_dir, tmp_path):
    """Indexed K2 equals the scan form exactly, and a search over the
    persisted index never touches the documents table."""
    import contextlib
    import io as _io

    from fusionspark.io import load_table
    from fusionspark.operators.keyword import (
        keyword_search,
        keyword_search_indexed,
        persist_keyword_index,
    )

    d = load_table(spark, sf_dir, "documents")
    q = "fast table scan merge join"
    path = str(tmp_path / "kw_index")
    persist_keyword_index(d, path)
    idx = spark.read.parquet(path)

    scan = sorted(map(tuple, keyword_search(d, q, top_k=10).collect()))
    indexed = sorted(map(tuple, keyword_search_indexed(idx, q, top_k=10).collect()))
    assert scan == indexed and len(scan) == 10

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        keyword_search_indexed(idx, q, top_k=10).explain("formatted")
    plan = buf.getvalue()
    assert "documents" not in plan  # no corpus scan
    assert "BroadcastHashJoin" in plan  # postings pruned via broadcast semi-join


def test_keyword_terms_with_regex_metachars_both_paths(spark):
    """VERDICT r2 #7 / ADVICE r2: terms like `c++` / `3.14` must not throw
    (the reference's `new RegExp(term)` does), duplicates must not break the
    indexed pivot, and scan + indexed paths must agree exactly."""
    from fusionspark.operators.keyword import (
        build_keyword_index,
        extract_terms,
        keyword_search,
        keyword_search_indexed,
    )

    docs = spark.createDataFrame(
        [
            (1, "we ship c++ and rust here"),
            (2, "pi is 3.14 and tau is 6.28"),
            (3, "c++ c++ templates beat 3x14 macros"),
            (4, "nothing relevant at all"),
        ],
        "doc_id: long, text: string",
    )
    q = "c++ 3.14 c++"  # metachars + a duplicate term
    assert extract_terms(q) == ["c++", "3.14"]  # deduped, order kept
    scan = sorted(map(tuple, keyword_search(docs, q, top_k=10).collect()))
    idx = build_keyword_index(docs)
    indexed = sorted(map(tuple, keyword_search_indexed(idx, q, top_k=10).collect()))
    assert scan == indexed
    ids = {r[0] for r in scan}
    assert ids == {1, 2, 3}  # doc 3 matches only via literal "c++"; "3x14" not "3.14"


# ── driver twins of the Spark operators ──────────────────────────────────

_ALPHABET = "aAbBcC+.É éßÆæΩω\n"
_texts = st.text(alphabet=_ALPHABET, max_size=40)


@settings(max_examples=25, deadline=None)
@given(texts=st.lists(_texts, min_size=1, max_size=12),
       query=st.text(alphabet=_ALPHABET, max_size=20),
       words=st.lists(st.sampled_from(["c++", "a.b", "ÉÉé", "abc", "AbC"]),
                      max_size=3))
def test_keyword_rank_equals_keyword_search(spark, texts, query, words):
    """keyword_rank scores bit-identically to keyword_search (upper case,
    regex metacharacters, non-ASCII letters, texts with no match)."""
    query = " ".join([query, *words])
    rows = [(f"d{i:02d}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id: string, text: string")
    want = [(r["doc_id"], r["score"])
            for r in keyword_search(df, query, top_k=8).collect()]
    got = keyword_rank([r[0] for r in rows], [r[1] for r in rows], query, 8)
    assert got == want


def test_rrf_rank_equals_rrf_fuse(spark):
    """rrf_rank returns rrf_fuse's rows exactly, including an id listed
    twice in a branch (one row per tenant) and score ties broken by id."""
    vec = [("a", 0.9), ("b", 0.8), ("c", 0.8), ("a", 0.7), ("d", 0.1)]
    kw = [("c", 2.0), ("a", 1.5), ("e", 1.5), ("a", 0.2)]
    schema = "doc_id: string, score: double"
    for weights, k in (({"vector": 0.5, "keyword": 0.5}, 4),
                       ({"vector": 0.7}, 10), (None, 3)):
        want = [r.asDict() for r in fusion.rrf_fuse(
            {"vector": spark.createDataFrame(vec, schema),
             "keyword": spark.createDataFrame(kw, schema)},
            top_k=k, weights=weights).collect()]
        got = fusion.rrf_rank({"vector": vec, "keyword": kw}, top_k=k,
                              weights=weights)
        assert got == want


def test_pack_rows_equals_pack_context(spark):
    rows = [("b", 0.5, "x" * 40), ("a", 0.5, "y" * 3), ("c", 0.9, ""),
            ("d", 0.1, "z" * 9)]
    df = spark.createDataFrame(rows, "doc_id: string, score: double, text: string")
    for budget in (0, 1, 10, 11, 12, 100):
        want = [(r["doc_id"], r["score"], r["text"])
                for r in pack_context(df, max_tokens=budget).collect()]
        assert pack_rows(rows, budget) == want
