"""Round-5 training-pipeline operators: connected-components clustering,
Gopher/C4 quality rules, deterministic sampling, sequence packing, PII
redaction.  Oracle parity is driver-attested (pipeline_queries.py); these
tests pin the operator semantics directly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fusionspark.operators.dedup import connected_components
from fusionspark.operators.packing import hash_sample, pack_sequences


def _cc(spark, pairs, n_nodes):
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    out = connected_components(edges, nodes)
    return {r["doc_id"]: r["component"] for r in out.collect()}


def test_connected_components_merges_transitively(spark):
    # 0-1, 1-2, 2-3 chain plus isolated 4 and pair 5-6
    got = _cc(spark, [(0, 1), (1, 2), (2, 3), (5, 6)], 7)
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path is the adversarial case for min-label propagation
    # (diameter = 11); the loop must still reach the fixed point
    n = 12
    got = _cc(spark, [(i, i + 1) for i in range(n - 1)], n)
    assert got == {i: 0 for i in range(n)}


def test_connected_components_edge_direction_irrelevant(spark):
    # labels must flow AGAINST the stored edge direction too
    got = _cc(spark, [(9, 3), (3, 1)], 10)
    assert got[9] == 1 and got[3] == 1 and got[1] == 1


def test_pack_sequences_respects_budget_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "en", "w " * (10 * (i % 7 + 1))) for i in range(100)],
        "doc_id long, lang string, text string",
    )
    out = pack_sequences(docs, budget=64, n_shards=4).collect()
    assert len(out) == 100
    by_pack: dict = {}
    for r in out:
        by_pack.setdefault((r["lang"], r["shard"], r["pack_id"]), []).append(r)
    for (_, _, _), rows in by_pack.items():
        total = sum(r["n_tokens"] for r in rows)
        # a pack only exceeds the budget via its LAST doc (greedy cut) or a
        # single over-budget doc
        assert total - max(r["n_tokens"] for r in rows) < 64
    # deterministic: a second run assigns identical packs
    again = pack_sequences(docs, budget=64, n_shards=4).collect()
    assert {(r["doc_id"], r["pack_id"]) for r in again} == {
        (r["doc_id"], r["pack_id"]) for r in out
    }


def test_hash_sample_deterministic_and_stratum_free(spark):
    docs = spark.createDataFrame(
        [(i, "t") for i in range(1000)], "doc_id long, text string"
    )
    a = {r["doc_id"] for r in hash_sample(docs, pct=20).collect()}
    b = {r["doc_id"] for r in hash_sample(docs, pct=20).collect()}
    assert a == b  # reproducible
    assert 100 < len(a) < 300  # ~20% of 1000
    # monotone: a larger sample contains the smaller one (incremental-safe)
    c = {r["doc_id"] for r in hash_sample(docs, pct=50).collect()}
    assert a <= c


def test_gopher_rules_pin_known_documents(spark):
    from fusionspark.operators.textstats import gopher_metrics

    good = "the data " * 30 + "and that have with be to of"  # 67 words, stops
    short = "the and tiny"
    symbols = "the of " + "# " * 40 + "word " * 50
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], "doc_id long, text string"
    )
    g = gopher_metrics("text")
    rows = {r["doc_id"]: r for r in df.select("doc_id", *[
        v.alias(k) for k, v in g.items()
    ]).collect()}
    assert rows[1]["passes"] == 1
    assert rows[2]["passes"] == 0  # word count below 50
    assert rows[3]["passes"] == 0  # symbol ratio above 0.1
    assert rows[3]["symbol_ratio"] > 0.1


def test_pii_redact_masks_and_counts(spark):
    from fusionspark.operators.textstats import pii_redact

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.org and 192.168.0.1 here"),
         (2, "clean text"),
         (3, "two a@b.io c@d.net")],
        "doc_id long, text string",
    )
    p = pii_redact("text")
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id", p["n_emails"].alias("e"), p["n_ips"].alias("i"),
        p["redacted"].alias("t")).collect()}
    assert (rows[1]["e"], rows[1]["i"]) == (1, 1)
    assert rows[1]["t"] == "mail <EMAIL> and <IP> here"
    assert (rows[2]["e"], rows[2]["i"]) == (0, 0)
    assert rows[3]["e"] == 2 and rows[3]["t"] == "two <EMAIL> <EMAIL>"


def test_dedup_clusters_keeper_is_min_id(spark, sf_dir):
    """End-to-end on the driver corpus: every component label is a member
    of its own cluster and is its minimum id (the canonical keeper)."""
    from fusionspark.queries.pipeline_queries import dedup_clusters

    rows = dedup_clusters(spark, sf_dir).collect()
    comp: dict = {}
    for r in rows:
        comp.setdefault(r["component"], []).append(r["doc_id"])
    for label, members in comp.items():
        assert label == min(members)
    assert len(rows) == len({r["doc_id"] for r in rows})  # one row per doc


def test_domain_mix_rates_and_monotonicity(spark):
    from fusionspark.operators.packing import domain_mix

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "zh") for i in range(2000)],
        "doc_id long, lang string",
    )
    kept = domain_mix(docs, {"en": 80, "zh": 20}).collect()
    by_lang: dict = {"en": 0, "zh": 0}
    for r in kept:
        by_lang[r["lang"]] += 1
    assert 650 < by_lang["en"] < 950  # ~80% of 1000
    assert 120 < by_lang["zh"] < 280  # ~20% of 1000
    # unlisted groups drop entirely
    assert not domain_mix(docs, {"en": 50}).filter("lang = 'zh'").count()
    # raising a rate only ADDS rows (the kept set never churns)
    low = {r["doc_id"] for r in domain_mix(docs, {"en": 30, "zh": 10}).collect()}
    high = {r["doc_id"] for r in kept}
    assert low <= high


def test_contamination_flags_planted_overlap(spark):
    """Every doc gets doc-unique words, then ONE holdout doc and ONE train
    doc share a planted 5-gram — only that train doc may be flagged."""
    import hashlib

    from fusionspark.operators.dedup import ngram_contamination

    def bucket(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100

    hold = next(i for i in range(100) if bucket(i) < 5)
    leak = next(i for i in range(100) if bucket(i) >= 5)
    phrase = "alpha beta gamma delta epsilon"
    rows = []
    for i in range(100):
        text = f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f"
        if i in (hold, leak):
            text += " " + phrase
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    flagged = {
        r["doc_id"]: r["n_hits"]
        for r in ngram_contamination(df, holdout_pct=5, gram=5).collect()
    }
    assert leak in flagged and flagged[leak] >= 1
    assert set(flagged) == {leak}  # no false positives from unique grams


def _plan(df) -> str:
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_sampling_and_mixing_plans_are_shuffle_free(spark, sf_dir):
    """hash_sample / domain_mix must compile to a pure filtered scan —
    zero Exchange of any kind (the 100 TB contract: the sample is a map)."""
    from fusionspark.io import load_table
    from fusionspark.operators.packing import domain_mix, hash_sample

    d = load_table(spark, sf_dir, "documents")
    for df in (hash_sample(d, 20), domain_mix(d, {"en": 50}, group_col="lang")):
        assert "Exchange" not in _plan(df)


def test_pack_sequences_single_window_exchange(spark, sf_dir):
    """One hash-partitioned exchange for the (group, shard) window and
    nothing else — no extra repartition, no broadcast."""
    from fusionspark.io import load_table
    from fusionspark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    plan = _plan(pack_sequences(d, budget=512, n_shards=8))
    # formatted output names each node twice (tree + detail section):
    # one Exchange node ⇒ exactly two mentions, and no broadcast
    assert plan.count("Exchange") == 2
    assert "BroadcastExchange" not in plan
    assert "Window" in plan


def test_contamination_holdout_broadcasts(spark, sf_dir):
    """The holdout shingle side must broadcast — the training corpus never
    shuffles on the shingle key."""
    from fusionspark.io import load_table
    from fusionspark.operators.dedup import ngram_contamination

    d = load_table(spark, sf_dir, "documents")
    plan = _plan(ngram_contamination(d, holdout_pct=5, gram=5))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_incremental_minhash_index_roundtrip(spark, tmp_path):
    """persist_minhash_index + minhash_lookup: a new doc near-identical to
    an indexed one is found with high estimated similarity; an unrelated
    new doc is not; corpus text is never read at lookup time."""
    from fusionspark.operators.dedup import minhash_lookup, persist_minhash_index

    base = "spark shuffle partition broadcast join window aggregate scan " * 5
    corpus = spark.createDataFrame(
        [(1, base), (2, "totally different words about cooking pasta dinner")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "mhidx")
    persist_minhash_index(corpus, idx)

    new = spark.createDataFrame(
        [(100, base + "extra token"), (101, "unrelated astronomy telescope")],
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["corpus_id"]): r["est_sim"]
        for r in minhash_lookup(spark, new, idx, threshold=0.5).collect()
    }
    assert (100, 1) in got and got[(100, 1)] >= 0.8
    assert all(nid != 101 for nid, _ in got)


def test_repetition_stats_is_shuffle_free_and_correct(spark, sf_dir):
    from fusionspark.io import load_table
    from fusionspark.operators.textstats import repetition_stats_docs

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in repetition_stats_docs(df).collect()}
    # doc 1 2-grams: [a b, b a, a b, b a] → 4 total, 2 unique, top 2
    assert (got[1]["n_grams"], got[1]["n_unique"], got[1]["top_count"]) == (4, 2, 2)
    assert got[1]["top_frac"] == 0.5 and got[1]["dup_frac"] == 0.5
    assert (got[2]["n_grams"], got[2]["n_unique"]) == (2, 2)
    assert got[2]["dup_frac"] == 0.0

    d = load_table(spark, sf_dir, "documents")
    assert "Exchange" not in _plan(repetition_stats_docs(d))


def test_connected_components_no_edges_terminates_fast(spark):
    """Zero edges → the propagation table is empty; the loop must exit on
    the first round (NULL label sum), not burn max_iter empty jobs."""
    import time

    edges = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    t0 = time.time()
    got = {r["doc_id"]: r["component"]
           for r in connected_components(edges, nodes).collect()}
    assert got == {i: i for i in range(5)}  # all singletons
    assert time.time() - t0 < 30  # 25 empty rounds would take far longer


def test_incremental_index_appends_new_batches(spark, tmp_path):
    """mode='append' extends the index with only the new batch signed; a
    doc matching the appended batch is then found too."""
    from fusionspark.operators.dedup import minhash_lookup, persist_minhash_index

    a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    b = "one two three four five six seven eight nine ten " * 4
    idx = str(tmp_path / "idx")
    persist_minhash_index(
        spark.createDataFrame([(1, a)], "doc_id long, text string"), idx
    )
    persist_minhash_index(
        spark.createDataFrame([(2, b)], "doc_id long, text string"),
        idx, mode="append",
    )
    got = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_lookup(
            spark,
            spark.createDataFrame([(10, a), (20, b)], "doc_id long, text string"),
            idx, threshold=0.5,
        ).collect()
    }
    assert got == {(10, 1), (20, 2)}


def test_gopher_line_rules(spark):
    """Bullet-start / ellipsis-end line fractions (Rae et al. §A1.1): known
    multi-line docs produce exact fractions, and the pass flag rejects
    bullet-walls (>90%) and ellipsis-heavy docs (>30%)."""
    from fusionspark.operators.textstats import gopher_metrics

    docs = [
        (1, "- a\n- b\n- c\n- d"),              # 100% bullets -> fail
        (2, "x...\ny...\nplain\nalso plain"),   # 50% ellipsis -> fail
        (3, "- one\ntwo\nthree...\nfour"),      # 25% each -> line rules ok
        (4, "single line no structure"),        # 0 / 0
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    g = gopher_metrics("text")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            g["bullet_line_frac"].alias("bf"),
            g["ellipsis_line_frac"].alias("ef"),
        ).collect()
    }
    assert rows[1]["bf"] == 1.0 and rows[1]["ef"] == 0.0
    assert rows[2]["bf"] == 0.0 and rows[2]["ef"] == 0.5
    assert rows[3]["bf"] == 0.25 and rows[3]["ef"] == 0.25
    assert rows[4]["bf"] == 0.0 and rows[4]["ef"] == 0.0


def test_minhash_lookup_jaccard_verify_catches_estimate_divergence(spark, tmp_path):
    """k=16 signature agreement has σ≈0.125 — a near-threshold pair can land
    on the wrong side of the cut.  verify='jaccard' must return the TRUE
    word-set Jaccard; with the threshold set between estimate and truth the
    two modes must disagree on the pair, and the jaccard mode must be the
    exact one."""
    from fusionspark.operators.dedup import minhash_lookup, persist_minhash_index

    words = [f"w{i:02d}" for i in range(40)]
    text_a = " ".join(words)                 # corpus doc: all 40 words
    text_b = " ".join(words[:38])            # new doc: 38 of them, J = 0.95
    corpus = spark.createDataFrame([(1, text_a)], "doc_id long, text string")
    idx = str(tmp_path / "jidx")
    persist_minhash_index(corpus, idx)
    new = spark.createDataFrame([(10, text_b)], "doc_id long, text string")

    est_rows = minhash_lookup(spark, new, idx, threshold=0.0).collect()
    assert est_rows, "pair must survive LSH banding to be a candidate"
    est = est_rows[0]["est_sim"]
    true_j = 38 / 40
    assert est != true_j  # est is a multiple of 1/16; 0.8 is not

    jac_rows = minhash_lookup(
        spark, new, idx, threshold=0.0, verify="jaccard", corpus_df=corpus
    ).collect()
    assert len(jac_rows) == 1 and abs(jac_rows[0]["sim"] - true_j) < 1e-12

    # a threshold between the two values: exactly one mode keeps the pair
    cut = (est + true_j) / 2
    kept_est = bool(minhash_lookup(spark, new, idx, threshold=cut).collect())
    kept_jac = bool(
        minhash_lookup(
            spark, new, idx, threshold=cut, verify="jaccard", corpus_df=corpus
        ).collect()
    )
    assert kept_est != kept_jac
    assert kept_jac == (true_j >= cut)

    with pytest.raises(ValueError, match="corpus_df"):
        minhash_lookup(spark, new, idx, verify="jaccard")


def test_cc_star_converges_on_long_path(spark):
    """Adversarial chain: a 1000-node path has diameter 999, far beyond the
    25-round budget min-label propagation gets — large-star/small-star must
    still reach the fixed point (all nodes labeled 0) in O(log² n) rounds."""
    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            edges, nodes, algorithm="star", max_iter=25
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_cc_star_matches_minlabel_on_shallow_graphs(spark):
    """On shallow graphs (the near-dup regime) both algorithms must agree:
    chains within the diameter budget, multiple components, singletons,
    direction-irrelevant edges."""
    cases = [
        ([(0, 1), (1, 2), (2, 3), (5, 6)], 8),
        ([(9, 3), (3, 1), (7, 8)], 10),
        ([], 5),
        ([(4, 0), (4, 1), (4, 2), (4, 3)], 6),  # star already
    ]
    for pairs, n in cases:
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        a = {r["doc_id"]: r["component"]
             for r in connected_components(edges, nodes).collect()}
        b = {r["doc_id"]: r["component"]
             for r in connected_components(edges, nodes, algorithm="star").collect()}
        assert a == b, (pairs, n)


def test_cc_rejects_non_integral_ids(spark):
    """String ids would silently become NULL labels under .cast('long') —
    the operator must refuse them instead (ADVICE r5)."""
    edges = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    nodes = spark.createDataFrame([("a",)], "doc_id string")
    with pytest.raises(TypeError, match="integral"):
        connected_components(edges, nodes)
    good_edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(TypeError, match="integral"):
        connected_components(good_edges, nodes)


def test_paragraph_dedup_semantics(spark):
    """Boilerplate paragraphs (df > max_df) drop; survivors keep original
    order; a doc whose every paragraph is boilerplate survives with empty
    text (row count preserved); short splits drop via min_chars."""
    from fusionspark.operators.dedup import paragraph_dedup

    rows = [
        (1, "unique alpha\n\nBOILER\n\nunique beta"),
        (2, "BOILER\n\nunique gamma"),
        (3, "BOILER\n\nOTHER"),
        (4, "OTHER\n\nBOILER"),
        (5, "BOILER\n\nOTHER"),   # all paragraphs boilerplate at max_df=2
        (6, "solo paragraph"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df, max_df=2).collect()}
    assert len(out) == 6
    # BOILER appears in 5 docs, OTHER in 3 -> both drop at max_df=2
    assert out[1]["text"] == "unique alpha\n\nunique beta"
    assert out[1]["n_kept"] == 2 and out[1]["n_dropped"] == 1
    assert out[2]["text"] == "unique gamma"
    assert out[5]["text"] == "" and out[5]["n_kept"] == 0 and out[5]["n_dropped"] == 2
    assert out[6]["text"] == "solo paragraph" and out[6]["n_dropped"] == 0

    # min_chars drops ragged empty splits
    df2 = spark.createDataFrame([(1, "a b c\n\n\n\nkeep me")], "doc_id long, text string")
    r2 = paragraph_dedup(df2, max_df=5, min_chars=1).collect()[0]
    assert r2["text"] == "a b c\n\nkeep me" and r2["n_kept"] == 2


def test_paragraph_dedup_plan_has_no_window_or_cartesian(spark):
    """The 100 TB shape: digest-keyed aggregations + semi join; no window
    over the corpus, no cartesian product, no sort-based reassembly."""
    from fusionspark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame([(1, "x\n\ny")], "doc_id long, text string")
    plan = paragraph_dedup(df, max_df=2)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Cartesian" not in plan


def test_nb_classifier_separates_crafted_classes(spark):
    """NB trained on two token distributions separates them; unlabeled docs
    score by whichever vocabulary they borrow; unseen-word default applies."""
    from fusionspark.operators.textstats import nb_quality_scores

    rows = [
        (1, "good", "clean prose clean prose clean"),
        (2, "good", "prose clean prose prose clean"),
        (3, "bad", "spam junk spam junk spam"),
        (4, "bad", "junk spam junk junk spam"),
        (5, "?", "clean prose clean"),          # borrows the good vocab
        (6, "?", "spam junk junk"),             # borrows the bad vocab
        (7, "?", "wholly novel tokens here"),   # all unseen -> default weight
    ]
    df = spark.createDataFrame(rows, "doc_id long, label string, text string")
    out = {r["doc_id"]: r for r in nb_quality_scores(
        df, F.col("label") == "good", F.col("label") == "bad"
    ).collect()}
    assert len(out) == 7
    assert out[1]["quality_pred"] == 1 and out[2]["quality_pred"] == 1
    assert out[3]["quality_pred"] == 0 and out[4]["quality_pred"] == 0
    assert out[5]["quality_pred"] == 1 and out[5]["nb_score"] > 0
    assert out[6]["quality_pred"] == 0 and out[6]["nb_score"] < 0
    # balanced classes + equal totals -> unseen default weight is 0, prior 0
    assert abs(out[7]["nb_score"]) < 1e-6


def test_nb_scoring_join_broadcasts(spark):
    """The weight table is O(vocab) and must broadcast — the token stream
    (O(corpus)) never reshuffles for the join."""
    from fusionspark.operators.textstats import nb_quality_scores

    df = spark.createDataFrame(
        [(1, "a", "x y"), (2, "b", "y z"), (3, "c", "x z")],
        "doc_id long, label string, text string",
    )
    plan = nb_quality_scores(
        df, F.col("label") == "a", F.col("label") == "b"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_warc_round_trip_and_malformed(spark):
    """WARC writer/parser round trip (plain + gzip, HTTP split, non-response
    records skipped by the source) and loud failures on corrupt streams."""
    import pytest

    from fusionspark.operators.warc import (
        split_http_response,
        warc_parse,
        warc_write,
    )

    recs = [
        {"type": "warcinfo", "record_id": "<urn:uuid:info>",
         "payload": b"software: test"},
        {"type": "response", "record_id": "<urn:uuid:r1>",
         "uri": "https://x.example/a", "date": "2026-01-01T00:00:00Z",
         "http": True, "payload": b"hello body\r\nwith lines"},
        {"type": "request", "record_id": "<urn:uuid:q1>",
         "uri": "https://x.example/a", "payload": b"GET /a HTTP/1.1"},
    ]
    for compress in (False, True):
        parsed = warc_parse(warc_write(recs, compress=compress))
        assert [r["type"] for r in parsed] == ["warcinfo", "response", "request"]
        http, body = split_http_response(parsed[1]["payload"])
        assert http["status"].startswith("HTTP/1.1 200")
        assert body == b"hello body\r\nwith lines"
        assert parsed[1]["uri"] == "https://x.example/a"

    with pytest.raises(ValueError):
        warc_parse(b"NOT A WARC\r\n\r\n")
    good = warc_write(recs)
    with pytest.raises(ValueError):
        warc_parse(good[:-30])  # truncated payload


def test_warc_documents_source(spark, tmp_path):
    """The binaryFile-backed source yields one row per response record,
    split across files, with the parse running shuffle-free."""
    from fusionspark.operators.warc import warc_documents, warc_write

    for seg in range(3):
        recs = [{"type": "warcinfo", "record_id": f"<i{seg}>", "payload": b"x"}]
        for i in range(4):
            recs.append({
                "type": "response", "record_id": f"<r{seg}-{i}>",
                "uri": f"https://t.example/{seg}/{i}", "http": True,
                "mime": "text/plain", "payload": f"doc {seg}-{i}".encode(),
            })
        (tmp_path / f"s{seg}.warc.gz").write_bytes(warc_write(recs, compress=True))

    docs = warc_documents(spark, str(tmp_path))
    rows = docs.collect()
    assert len(rows) == 12
    assert {r["warc_file"] for r in rows} == {"s0.warc.gz", "s1.warc.gz", "s2.warc.gz"}
    assert all(r["http_status"] == 200 for r in rows)
    assert {r["body"] for r in rows if r["warc_file"] == "s1.warc.gz"} == {
        f"doc 1-{i}" for i in range(4)
    }
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_curriculum_approx_matches_exact_within_sketch_error(spark, sf_dir):
    """The zero-shuffle approx-percentile sharding agrees with the exact
    ntile form up to boundary ties: shard sizes near-equal, assignment
    monotone in score, and the plan has no Exchange after the boundary
    scalar is computed."""
    from fusionspark.io import load_table
    from fusionspark.operators.packing import curriculum_assign_approx
    from fusionspark.operators.textstats import quality_score

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_score("text").alias("q")
    ).cache()
    n = d.count()
    out = curriculum_assign_approx(d, "q", n_shards=8)
    rows = out.collect()
    sizes = {}
    for r in rows:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert set(sizes) <= set(range(1, 9))
    # near-equal shards (quality scores tie heavily at the 1.0 caps, so
    # boundary shards can absorb the tied mass — just require every shard
    # nonempty and no shard over half the corpus)
    assert all(v > 0 for v in sizes.values())
    assert max(sizes.values()) <= n * 0.55
    # monotone: max score of shard i <= min score of shard i+2 can't invert
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["q"])
    ordered = sorted(by_shard)
    for a, b in zip(ordered, ordered[1:]):
        assert max(by_shard[a]) <= min(by_shard[b]) + 1e-9

    # plan: the assignment itself is expression-only (no Exchange)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_lm_perplexity_model_joins_broadcast(spark, sf_dir):
    """Both count tables and V broadcast; repeated text scores lower
    perplexity than novel text under a self-trained model."""
    from fusionspark.operators.textstats import lm_perplexity_scores

    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)]
    rows.append((100, "zyx wvu tsr qpo nml kji hgf edc"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm_perplexity_scores(df).collect()}
    common = out[0]["perplexity"]
    rare = out[100]["perplexity"]
    assert common < rare
    assert out[0]["n_bigrams"] == 8

    plan = lm_perplexity_scores(df)._jdf.queryExecution().executedPlan().toString()
    # both model joins (bigram counts, unigram counts) must broadcast; the
    # one permitted non-broadcast join is the per-doc id rejoin that keeps
    # bigram-less documents in the result
    assert plan.count("BroadcastHashJoin") >= 2


def test_webdataset_export_round_trip(spark, tmp_path):
    """Tar shards: deterministic bytes (two runs, same md5), members in
    pos order, content round-trips, manifest accounting exact."""
    import tarfile

    from fusionspark.operators.packing import write_webdataset

    rows = [(i, i % 3, i // 3 + 1, f"doc {i} text") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, shard int, pos long, text string")
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    m1 = {r["shard"]: r for r in write_webdataset(df, out1).collect()}
    m2 = {r["shard"]: r for r in write_webdataset(df, out2).collect()}
    assert {s: m["tar_md5"] for s, m in m1.items()} == {
        s: m["tar_md5"] for s, m in m2.items()
    }
    assert sum(m["n_samples"] for m in m1.values()) == 12

    with tarfile.open(f"{out1}/shard-00001.tar") as tar:
        names = tar.getnames()
        # shard 1 holds doc_ids ≡ 1 mod 3, ordered by pos = doc_id//3+1
        assert names == ["1.txt", "4.txt", "7.txt", "10.txt"]
        data = tar.extractfile("7.txt").read().decode()
        assert data == "doc 7 text"
        infos = tar.getmembers()
        assert all(i.mtime == 0 and i.uid == 0 and i.mode == 0o644 for i in infos)


def test_export_training_corpus_end_to_end(spark, tmp_path):
    """Capstone pipeline: paragraph dedup → quality ensemble → exact dedup
    → deterministic shuffle → tar shards.  Funnel counts are monotone,
    exported == sum of shard manifests, shards round-trip, and a re-run
    produces byte-identical tars (the resume/caching contract)."""
    import tarfile

    from fusionspark.corpus_pipeline import export_training_corpus
    from fusionspark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "source"
    ).limit(300).cache()
    out1 = str(tmp_path / "corpus1")
    res = export_training_corpus(
        spark, docs, out1, min_consensus=2, n_shards=4,
        token_shards_dir=str(tmp_path / "tok1"),
    )
    # token shards exist, are non-empty, and read back
    from fusionspark.operators.packing import read_token_shard
    assert res["token_manifest"]
    tm0 = sorted(res["token_manifest"], key=lambda r: r["shard"])[0]
    seqs = read_token_shard(str(tmp_path / "tok1" / f"shard-{tm0['shard']:05d}"))
    assert len(seqs) == tm0["n_seqs"] and sum(len(s) for s in seqs) == tm0["n_tokens"]
    f = res["funnel"]
    assert f["raw"] == 300
    assert f["raw"] >= f["after_quality"] >= f["after_exact_dedup"] == f["exported"]
    assert f["exported"] > 0
    assert sum(m["n_samples"] for m in res["manifest"]) == f["exported"]

    # shards parse and hold one .txt member per sample
    total = 0
    for m in res["manifest"]:
        with tarfile.open(f"{out1}/shard-{m['shard']:05d}.tar") as tar:
            names = tar.getnames()
            total += len(names)
            assert all(n.endswith(".txt") for n in names)
    assert total == f["exported"]

    # determinism: full re-run → identical shard bytes
    out2 = str(tmp_path / "corpus2")
    res2 = export_training_corpus(spark, docs, out2, min_consensus=2, n_shards=4)
    assert [m["tar_md5"] for m in res["manifest"]] == [
        m["tar_md5"] for m in res2["manifest"]
    ]

    # near-dup stage on: funnel stays monotone through the new stage and a
    # crafted near-duplicate of a surviving doc is dropped (min-id keeper)
    survivor = None
    with tarfile.open(f"{out1}/shard-{res['manifest'][0]['shard']:05d}.tar") as tar:
        name = tar.getnames()[0]
        survivor = int(name.split(".")[0])
    srow = docs.filter(F.col("doc_id") == survivor).first()
    clone = spark.createDataFrame(
        [(1_000_000 + survivor, srow["text"] + " extra", srow["source"])],
        "doc_id long, text string, source string",
    )
    res3 = export_training_corpus(
        spark, docs.union(clone), str(tmp_path / "corpus3"),
        min_consensus=2, n_shards=4, neardup_threshold=0.5,
    )
    f3 = res3["funnel"]
    assert f3["after_exact_dedup"] >= f3["after_neardup"] == f3["exported"]
    # the clone differs by one word so exact dedup keeps it; minhash
    # near-dup must drop it (it is never the min id of its cluster)
    assert f3["after_neardup"] < f3["after_exact_dedup"]


# ── unicode hygiene + entropy (round 6) ───────────────────────────────────


def test_py_unicode_clean_laws():
    from fusionspark.operators.textstats import py_unicode_clean

    # NFC composes e + U+0301 into é
    assert py_unicode_clean("café") == "café"
    # control + zero-width removed, NBSP → space, runs collapse, trim
    assert py_unicode_clean(" x\x01​y ") == "x​y".replace("​", "")
    assert py_unicode_clean("a b") == "a b"
    assert py_unicode_clean("  a    b  ") == "a b"
    # newlines/tabs survive (only C0 minus \t\n\r are stripped)
    assert py_unicode_clean("a\nb\tc") == "a\nb\tc"
    assert py_unicode_clean("") == ""


def test_char_entropy_docs(spark):
    from fusionspark.operators.textstats import char_entropy_docs

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in char_entropy_docs(df).collect()}
    assert out[1]["char_entropy"] == 0.0
    assert out[2]["char_entropy"] == 1.0
    assert out[3]["char_entropy"] == 2.0
    assert out[3]["distinct_chars"] == 4 and out[3]["n_chars"] == 4


def test_bm25_ranks_matching_docs(spark):
    from fusionspark.operators.keyword import bm25_search

    rows = [
        (1, "spark merge join fast"),
        (2, "merge merge merge merge merge"),
        (3, "nothing relevant here whatsoever"),
        (4, "fast table scan merge join fast table scan"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_search(df, "fast table scan merge join", top_k=10)
    rs = out.collect()
    ids = [r["doc_id"] for r in rs]
    assert 3 not in ids                      # no matching term -> filtered
    assert ids[0] == 4                       # matches all 5 terms
    top = {r["doc_id"]: r for r in rs}
    assert top[4]["n_terms"] == 5 and top[2]["n_terms"] == 1
    # rarity: 'join' (2 docs) out-scores nothing; scores are positive
    assert all(r["bm25"] > 0 for r in rs)


def test_hll_registers_merge_by_max(spark):
    from fusionspark.operators.sketches import hll_distinct, hll_registers

    a = spark.range(0, 2000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(1000, 3000).select(F.col("id").cast("string").alias("v"))
    both = a.union(b)
    ra = hll_registers(a, F.col("v"))
    rb = hll_registers(b, F.col("v"))
    rboth = hll_registers(both, F.col("v"))
    merged = (
        ra.union(rb).groupBy("bucket").agg(F.max("register").alias("register"))
    )
    diff = merged.join(rboth.withColumnRenamed("register", "r2"), "bucket").filter(
        F.col("register") != F.col("r2")
    )
    assert diff.count() == 0                 # sketch of union == max-merge
    est = hll_distinct(both, F.col("v")).collect()[0]
    assert est["n_exact"] == 3000
    assert est["rel_err"] < 0.2              # within ~3 sigma of 1.04/sqrt(256)


def test_assign_split_partitions_and_stability(spark):
    from fusionspark.operators.packing import assign_split

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    out = assign_split(df, weights=(80, 10, 10))
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 1000
    assert 700 < counts["train"] < 900          # ~80% within binomial noise
    # stability: repartitioning never changes an assignment
    again = {r["doc_id"]: r["split"] for r in
             assign_split(df.repartition(7), weights=(80, 10, 10)).collect()}
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again
    import pytest as _pytest
    with _pytest.raises(ValueError):
        assign_split(df, weights=(80, 10, 5))


def test_norm_outliers_flags_scaled_vector(spark):
    from fusionspark.operators.embeddings import norm_outliers

    rows = [(i, [1.0, 0.0, 0.0]) for i in range(50)] + [(99, [30.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = norm_outliers(df, dim=3, z_threshold=1.5).collect()
    assert [r["vec_id"] for r in out] == [99]
    assert out[0]["norm"] == 30.0 and out[0]["z"] > 5


def test_centroid_similarity_prototypicality(spark):
    from fusionspark.operators.embeddings import centroid_similarity

    rows = [
        (1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.0]), (3, 0, [0.0, 1.0]),
        (4, 1, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    sims = {r["vec_id"]: r["sim"] for r in centroid_similarity(df, dim=2).collect()}
    # label 0 centroid = (2/3, 1/3): aligned rows beat the off-axis row
    assert abs(sims[1] - 2 / 3) < 1e-12 and abs(sims[3] - 1 / 3) < 1e-12
    assert abs(sims[4] - 1.0) < 1e-12       # singleton group: sim with itself


def test_compression_ratio_parity_and_ordering(spark):
    import zlib

    from fusionspark.operators.textstats import compression_ratio_docs

    rows = [(1, "a" * 400), (2, "the quick brown fox jumps over the lazy dog " * 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_ratio_docs(df).collect()}
    for did, text in rows:
        raw = text.encode()
        assert out[did]["n_bytes"] == len(raw)
        assert out[did]["n_compressed"] == len(zlib.compress(raw, 6))
        assert out[did]["ratio"] == round(len(zlib.compress(raw, 6)) / len(raw), 6)
    # pure repetition compresses (much) better than mixed prose
    assert out[1]["ratio"] < out[2]["ratio"]


def test_window_dup_stats_finds_shared_span(spark):
    from fusionspark.operators.dedup import window_dup_stats

    boiler = "one two three four five six seven eight"
    rows = [
        (1, "alpha beta gamma delta " + boiler),
        (2, "epsilon zeta " + boiler + " eta theta"),
        (3, "totally unrelated words with no repeats at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in window_dup_stats(df, w=8, stride=1).collect()}
    assert out[1]["n_dup"] >= 1 and out[2]["n_dup"] >= 1   # shared 8-gram found
    assert out[3]["n_dup"] == 0
    assert 0 < out[1]["dup_frac"] <= 1.0


def test_bloom_no_false_negatives_and_merge(spark):
    from fusionspark.operators.sketches import bloom_build, bloom_probe

    a = spark.range(500).select(F.concat(F.lit("k"), F.col("id")).alias("v"))
    b = spark.range(500, 1000).select(F.concat(F.lit("k"), F.col("id")).alias("v"))
    bloom_a, bloom_b = bloom_build(a, F.col("v")), bloom_build(b, F.col("v"))
    # positional OR merge == filter of the union
    merged = (
        bloom_a.union(bloom_b).groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    both = bloom_build(a.union(b), F.col("v"))
    diff = merged.join(both.withColumnRenamed("bits", "b2"), "word_idx").filter(
        F.col("bits") != F.col("b2")
    )
    assert diff.count() == 0
    # Bloom guarantee: NO false negatives
    probes = a.union(b).select(F.col("v").alias("probe_id"), F.col("v"))
    res = bloom_probe(both, probes, F.col("v"), "probe_id")
    assert res.filter(~F.col("present")).count() == 0


def test_cms_never_undercounts(spark):
    from fusionspark.operators.sketches import cms_build, cms_estimate

    rows = [("a",)] * 100 + [("b",)] * 10 + [("c",)] * 1
    df = spark.createDataFrame(rows, "w string")
    cms = cms_build(df, F.col("w"))
    probes = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "w string")
    est = {r["w"]: r["est_count"] for r in
           cms_estimate(cms, probes, F.col("w"), "w").collect()}
    assert est["a"] >= 100 and est["b"] >= 10 and est["c"] >= 1
    assert est["zz"] >= 0       # absent key: only collision mass


def test_round6_session3_plan_shapes(spark, sf_dir):
    """Plan contracts for the session-3 operators: per-document Arrow maps
    and column-expression laws compile WITHOUT any Exchange; the sketch
    probes broadcast their state instead of shuffling the probe stream."""
    from fusionspark.io import load_table
    from fusionspark.operators.packing import assign_split
    from fusionspark.operators.sketches import bloom_build, bloom_probe
    from fusionspark.operators.textstats import (
        char_entropy_docs,
        compression_ratio_docs,
        unicode_clean_docs,
    )

    d = load_table(spark, sf_dir, "documents")
    for df in (
        unicode_clean_docs(d),
        char_entropy_docs(d),
        compression_ratio_docs(d),
        assign_split(d.select("doc_id")),
    ):
        assert "Exchange" not in _plan(df)

    bloom = bloom_build(d.select(F.md5("text").alias("v")), F.col("v"))
    probes = d.limit(10).select(F.col("doc_id").alias("pid"), F.md5("text").alias("v"))
    plan = _plan(bloom_probe(bloom, probes, F.col("v"), "pid"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_write_token_shards_roundtrip(spark, tmp_path):
    from fusionspark.operators.packing import read_token_shard, write_token_shards

    rows = [
        (0, 0, [1, 2, 3]),
        (0, 1, [4]),
        (1, 0, [5, 6]),
        (1, 1, []),
        (1, 2, [7, 8, 9, 10]),
    ]
    df = spark.createDataFrame(rows, "shard long, pos long, token_ids array<int>")
    out = str(tmp_path / "tok")
    man = {r["shard"]: r for r in write_token_shards(df, out).collect()}
    assert man[0]["n_seqs"] == 2 and man[0]["n_tokens"] == 4
    assert man[1]["n_seqs"] == 3 and man[1]["n_tokens"] == 6
    s0 = read_token_shard(f"{out}/shard-00000")
    assert [list(s) for s in s0] == [[1, 2, 3], [4]]
    s1 = read_token_shard(f"{out}/shard-00001")
    assert [list(s) for s in s1] == [[5, 6], [], [7, 8, 9, 10]]
    # reproducible bytes: second write produces identical md5s
    man2 = {r["shard"]: r["bin_md5"]
            for r in write_token_shards(df, str(tmp_path / "tok2")).collect()}
    assert man2 == {k: v["bin_md5"] for k, v in man.items()}


def test_window_dedup_rewrite_removes_shared_prefix(spark):
    from fusionspark.operators.dedup import window_dedup_rewrite

    boiler = "one two three four five six seven eight"
    rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " epsilon zeta eta theta"),
        (3, "completely different words in this lonely document here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in window_dedup_rewrite(df, w=8).collect()}
    assert out[1]["clean_text"] == "alpha beta gamma delta"
    assert out[2]["clean_text"] == "epsilon zeta eta theta"
    assert out[1]["n_removed"] == 1 and out[3]["n_removed"] == 0
    assert out[3]["clean_text"].startswith("completely different")


def test_bloom_prefilter_no_shuffle_and_superset(spark, sf_dir):
    """The prefilter must (a) keep EVERY true match (no false negatives),
    (b) compile without any non-broadcast Exchange of the big side."""
    from fusionspark.io import load_table
    from fusionspark.operators.sketches import bloom_build, bloom_prefilter

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    keys = ev.filter(F.col("user_id") % 7 == 0).select("user_id").distinct()
    bloom = bloom_build(keys, F.col("user_id").cast("string"))
    pre = bloom_prefilter(ev, bloom, F.col("user_id").cast("string"))
    plan = _plan(pre)
    # every Exchange mention must be a BroadcastExchange mention —
    # i.e. the big side never shuffles
    assert plan.count("Exchange") == plan.count("BroadcastExchange")
    true_keys = {r["user_id"] for r in keys.collect()}
    kept = {r["user_id"] for r in pre.select("user_id").distinct().collect()}
    assert true_keys <= kept        # Bloom guarantee: no false negatives


def test_fim_split_reconstructs_original(spark):
    """PSM samples must contain exactly the original characters: cutting
    at <PRE>/<SUF>/<MID> and reassembling prefix+middle+suffix gives the
    source text back; 'ar' rows pass through untouched."""
    from fusionspark.operators.packing import fim_split

    rows = [(i, f"document number {i} with some text to cut {'x' * i}")
            for i in range(40)] + [(99, "")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in fim_split(df, rate_pct=50).collect()}
    src = dict(rows)
    fmts = {r["fmt"] for r in out.values()}
    assert fmts == {"psm", "ar"}  # the 50% coin hits both classes
    for did, r in out.items():
        if r["fmt"] == "ar":
            assert r["sample"] == src[did]
            continue
        s = r["sample"]
        assert s.startswith("<PRE>")
        pre, rest = s[5:].split("<SUF>", 1)
        suf, mid = rest.split("<MID>", 1)
        assert pre + mid + suf == src[did]
    assert out[99]["fmt"] == "ar"  # empty text never flips to psm


def test_dedup_keep_best_prefers_longest(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    rows = qs["dedup_keep_best"](spark, sf_dir).collect()
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    n_chars = {r["doc_id"]: None for r in rows}
    from fusionspark.io import load_table

    nc = {r["doc_id"]: r["n_chars"]
          for r in load_table(spark, sf_dir, "documents").collect()}
    multi = [g for g in by_comp.values() if len(g) > 1]
    assert multi  # the fixture corpus has real near-dup clusters
    for grp in multi:
        keepers = {r["keeper"] for r in grp}
        assert len(keepers) == 1
        k = keepers.pop()
        best = max(grp, key=lambda r: (nc[r["doc_id"]], -r["doc_id"]))
        assert k == best["doc_id"]
        assert sum(r["is_keeper"] for r in grp) == 1


def test_lang_id_trained_learns_planted_vocabulary(spark):
    """The hashed-NB lang classifier must recover a planted per-language
    vocabulary perfectly (the gate's synthetic corpus has label-
    independent text, where majority-class is the information-theoretic
    ceiling — learnability is proven here instead), and its prediction
    must be invariant to input partitioning (the dim-ordered fold)."""
    from fusionspark.queries.pipeline_queries import nb_lang_scores

    vocab = {
        "en": "the quick brown fox jumps over lazy dogs",
        "fr": "le renard brun rapide saute par dessus chiens",
        "de": "der schnelle braune fuchs springt uber faule hunde",
        "es": "el zorro marron rapido salta sobre perros vagos",
    }
    rows = []
    i = 0
    for lang, words in vocab.items():
        ws = words.split()
        for r in range(25):
            text = " ".join(ws[(r + j) % len(ws)] for j in range(12))
            rows.append((i, lang, text))
            i += 1
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.doc_id: (r.lang, r.pred_lang, r.score) for r in
           nb_lang_scores(spark, d).collect()}
    assert len(out) == len(rows)
    acc = sum(lang == pred for lang, pred, _ in out.values()) / len(out)
    assert acc == 1.0
    # partitioning invariance: the ordered fold makes scores exact
    out2 = {r.doc_id: (r.lang, r.pred_lang, r.score) for r in
            nb_lang_scores(spark, d.repartition(7)).collect()}
    assert out == out2
    # a token-free doc falls back to the prior argmax, never errors
    d2 = spark.createDataFrame(
        rows + [(i, "fr", "")], "doc_id long, lang string, text string"
    )
    empty = [r for r in nb_lang_scores(spark, d2).collect() if r.doc_id == i]
    assert len(empty) == 1 and empty[0].pred_lang in vocab


def test_compression_profile_stored_mode_law(spark):
    """n_stored is real zlib level-0 output and obeys the RFC 1950/1951
    stored-mode closed form n + 11 for n < 65535 (header 2 + block
    header 5 + payload + adler 4) — the law the compression_ratio oracle
    attests.  Also checks the empty-doc and multi-block edges the oracle
    corpus never reaches, so the formula's domain bound is explicit."""
    import zlib

    from fusionspark.operators.textstats import compression_profile_docs

    rows = [(1, ""), (2, "x" * 500), (3, "y" * 70000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_profile_docs(df).collect()}
    for did, text in rows:
        raw = text.encode()
        assert out[did]["n_stored"] == len(zlib.compress(raw, 0))
        assert out[did]["n_compressed"] == len(zlib.compress(raw, 6))
    assert out[1]["n_stored"] == 11          # empty: header + empty block + adler
    assert out[2]["n_stored"] == 500 + 11    # single stored block
    assert out[3]["n_stored"] == 70000 + 16  # two blocks: the law's n>=65535 edge
