"""Unit + plan-shape tests for the round-6 session-4 analytics family:
the TF-IDF pair join."""

from __future__ import annotations

import contextlib
import io as _io

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_tfidf_pairs_identical_docs_cosine_one(spark):
    from fusionspark.operators.keyword import tfidf_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta"),
            (2, "alpha bravo charlie delta"),
            (3, "echo foxtrot golf hotel"),
            (4, "echo echo foxtrot golf hotel"),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r.cosine for r in
           tfidf_pairs(docs, threshold=0.1, min_df=2, max_df=10).collect()}
    assert got[(1, 2)] == 1.0
    assert (3, 4) in got and 0.8 < got[(3, 4)] < 1.0
    assert (1, 3) not in got and (2, 4) not in got


def test_tfidf_max_df_drops_boilerplate_terms(spark):
    from fusionspark.operators.keyword import tfidf_pairs

    # "common" is in every doc; with max_df=2 it cannot generate pairs
    docs = spark.createDataFrame(
        [(i, f"common unique{i} filler{i}") for i in range(1, 6)],
        "doc_id long, text string",
    )
    assert tfidf_pairs(docs, threshold=0.01, min_df=2, max_df=2).count() == 0


def test_session4_plan_shapes(spark, sf_dir):
    """Plan contract: tfidf_pairs never degenerates into a nested-loop or
    cartesian join."""
    from fusionspark.io import load_table
    from fusionspark.operators.keyword import tfidf_pairs

    d = load_table(spark, sf_dir, "documents")
    p = _plan(tfidf_pairs(d))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_ngram_novelty_dup_doc_scores_zero(spark):
    from fusionspark.operators.dedup import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ngram_novelty(docs, gram=3).collect()}
    assert got[1].novelty == 1.0 and got[1].n_grams == 2
    assert got[2].novelty == 0.0 and got[2].n_novel == 0
    assert got[3].novelty == 1.0


def test_incremental_rollup_merge_equals_direct(spark, sf_dir):
    """The maintenance invariant at the operator level: merged partials ==
    direct aggregate, row for row (the registered oracle re-checks this
    against DuckDB; here both sides are Spark so the test isolates the
    merge logic itself)."""
    from fusionspark.queries import REGISTRY, load_all
    from fusionspark.io import load_table

    load_all()
    fn, _ = REGISTRY["incremental_rollup"]
    merged = {r.user_id: r for r in fn(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * F.lit(1e6)).cast("long").alias("val_u"),
        F.unix_micros("ts").alias("ts_us"),
    )
    direct = {
        r.user_id: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("val_u").alias("sum_value_micros"),
            F.min("ts_us").alias("min_ts_us"),
            F.max("ts_us").alias("max_ts_us"),
        )
        .collect()
    }
    assert set(merged) == set(direct)
    for u, d in direct.items():
        m = merged[u]
        assert (m.n_events, m.sum_value_micros, m.min_ts_us, m.max_ts_us) == (
            d.n_events, d.sum_value_micros, d.min_ts_us, d.max_ts_us
        )


def test_containment_scores_subdocument_one(spark):
    """A doc fully contained in a longer doc: overlap coefficient 1.0
    while its Jaccard stays below 1 — the pair Jaccard dedup underrates."""
    from fusionspark.operators.dedup import containment_neardup, ngram_minhash_neardup

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " kilo lima mike november oscar")],
        "doc_id long, text string",
    )
    cont = {(r.id_a, r.id_b): r.containment
            for r in containment_neardup(docs).collect()}
    assert cont[(1, 2)] == 1.0
    jac = {(r.id_a, r.id_b): r.sim
           for r in ngram_minhash_neardup(docs, threshold=0.0).collect()}
    assert jac[(1, 2)] < 1.0


def test_token_fertility_laws(spark):
    """fertility >= 1 (the BPE-ish regex never merges across whitespace),
    bytes/token >= chars/token (UTF-8), and the sums equal token_counts'."""
    from fusionspark.queries.text_queries import token_fertility

    sf = "/root/testdata/sf0.001"
    rows = token_fertility(spark, sf).collect()
    assert rows
    total_ws = total_bpe = 0
    for r in rows:
        assert r.fertility >= 1.0
        assert r.bytes_per_token >= r.chars_per_token
        total_ws += r.ws_tokens
        total_bpe += r.bpe_tokens
    from fusionspark.queries.pipeline_queries import token_counts_q

    tc = token_counts_q(spark, sf).agg(
        F.sum("ws_tokens").alias("ws"), F.sum("bpe_tokens").alias("bpe")
    ).collect()[0]
    assert (total_ws, total_bpe) == (tc.ws, tc.bpe)
