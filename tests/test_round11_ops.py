"""Round-11 operator tests: GRPO advantages, ROUGE eval, CDC chunking,
PRF expansion, window funnels and the other text/mining operators — each
checked against an INDEPENDENT pure-Python/textbook recomputation (the
third-implementation discipline), plus behavioral laws (planted effects,
clipped counts)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from fusionspark.queries.pipeline_queries import grpo_advantages, rouge_eval


def _coin(salt: str, key) -> int:
    return int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:8], 16)


# ---------------------------------------------------------------------------
# GRPO
# ---------------------------------------------------------------------------


def test_grpo_group_statistics(spark, sf_dir):
    """Within every non-degenerate group the advantages must sum to ~0 and
    have population variance ~1 (the definition of standardization); each
    advantage must equal the closed-form (k·r − S)/√(k·Σr² − S²)."""
    out = grpo_advantages(spark, sf_dir).collect()
    groups: dict[int, list] = {}
    for r in out:
        groups.setdefault(r.prompt_id, []).append(r)
    assert len(out) > 0
    for pid, rs in groups.items():
        k = len(rs)
        s = sum(r.reward for r in rs)
        s2 = sum(r.reward**2 for r in rs)
        rad = k * s2 - s * s
        for r in rs:
            expect = 0.0 if rad == 0 else (k * r.reward - s) / math.sqrt(rad)
            assert r.advantage == round(expect, 6), (pid, r.doc_id)
        if rad != 0:
            advs = [r.advantage for r in rs]
            # standardized scores: zero sum, unit population variance
            assert abs(sum(advs)) < 1e-4 * k
            assert abs(sum(a * a for a in advs) / k - 1.0) < 0.01


# ---------------------------------------------------------------------------
# ROUGE
# ---------------------------------------------------------------------------


def test_rouge_clipped_counts_replay(spark, sf_dir):
    """Pure-Python clipped-count replay on a sample of docs — ROUGE-1/-2
    F1 must match exactly, including repeated-gram clipping."""
    from collections import Counter

    from fusionspark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expect = {}
    for r in docs:
        words = [w for w in r.text.lower().split(" ") if w != ""]
        if len(words) < 40:
            continue
        cand, ref = words[:25], words[25:]
        ov1 = sum((Counter(cand) & Counter(ref)).values())
        cb = Counter(zip(cand, cand[1:]))
        rb = Counter(zip(ref, ref[1:]))
        ov2 = sum((cb & rb).values())
        expect[r.doc_id] = (
            len(ref),
            ov1,
            ov2,
            round(2.0 * ov1 / (25 + len(ref)), 6),
            round(2.0 * ov2 / (24 + len(ref) - 1), 6),
        )
    out = rouge_eval(spark, sf_dir).collect()
    assert len(out) == len(expect)
    for r in out:
        assert (
            r.n_ref_words,
            r.ov1,
            r.ov2,
            r.rouge1_f,
            r.rouge2_f,
        ) == expect[r.doc_id], r.doc_id


def test_rouge_full_overlap_is_one(spark):
    """A doc whose body repeats its lead verbatim scores ROUGE-1 F1 = 1
    when |cand| == |ref| (the duplicated-lead degenerate case)."""
    lead = " ".join(f"w{i}" for i in range(25))
    text = lead + " " + lead  # 50 words, ref == cand
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/documents.parquet")
        out = rouge_eval(spark, tmp).collect()
    assert len(out) == 1
    assert out[0].rouge1_f == 1.0
    assert out[0].ov1 == 25 and out[0].ov2 == 24


# ---------------------------------------------------------------------------
# CDC chunking
# ---------------------------------------------------------------------------


def _py_cdc_chunks(text: str, window: int = 4, mask: int = 16) -> list[str]:
    words = [w for w in text.lower().split(" ") if w != ""]
    cuts = [0]
    for i in range(window, len(words) + 1):
        win = " ".join(words[i - window : i])
        if int(hashlib.md5(win.encode()).hexdigest()[:8], 16) % mask == 0:
            cuts.append(i)
    if cuts[-1] != len(words):
        cuts.append(len(words))
    return [" ".join(words[cuts[j] : cuts[j + 1]]) for j in range(len(cuts) - 1)]


def test_cdc_shift_robustness(spark):
    """THE content-defined-chunking property: prepending one word to a
    long doc re-synchronizes the boundaries within a window, so most
    chunk hashes are shared with the original — while fixed-width
    chunking of the shifted doc shares (almost) none."""
    import random

    rng = random.Random(11)
    words = [f"w{rng.randrange(5000)}" for _ in range(400)]
    a = " ".join(words)
    b = "inserted " + a
    ca, cb = _py_cdc_chunks(a), _py_cdc_chunks(b)
    shared = len(set(ca) & set(cb))
    assert shared / len(ca) > 0.5, (shared, len(ca))
    # fixed-width (16-word) chunking of the shifted doc shares nothing
    fa = [" ".join(words[i : i + 16]) for i in range(0, 400, 16)]
    wb = ["inserted"] + words
    fb = [" ".join(wb[i : i + 16]) for i in range(0, 401, 16)]
    assert len(set(fa) & set(fb)) == 0


def test_cdc_operator_matches_python_replay(spark):
    """The Arrow kernel's (idx, h) stream equals the pure-Python chunker
    on a planted corpus with a known duplicate (the dup doc's chunks all
    count as duplicated under the first-occurrence rule)."""
    import hashlib as _h

    from fusionspark.operators.dedup import cdc_chunk_hashes
    from fusionspark.queries.pipeline_queries import cdc_chunking

    base = " ".join(f"t{i}" for i in range(300))  # unique words: no
    # within-doc duplicate chunks, so doc 1's dup count is purely cross-doc
    rows = [(1, base), (2, base), (3, "short doc only"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.idx, r.h)
        for r in cdc_chunk_hashes(df).collect()
    )
    expect = []
    for did, text in rows:
        for j, chunk in enumerate(_py_cdc_chunks(text)):
            expect.append((did, j, _h.md5(chunk.encode()).hexdigest()))
    assert got == sorted(expect)
    # empty doc emits nothing
    assert not any(d == 4 for d, _, _ in got)

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/documents.parquet")
        out = {r.doc_id: r for r in cdc_chunking(spark, tmp).collect()}
    # doc 2 duplicates doc 1: every chunk is a dup; doc 1 has none
    assert out[1].n_dup_chunks == 0
    assert out[2].n_dup_chunks == out[2].n_chunks
    assert out[2].dup_frac == 1.0


# ---------------------------------------------------------------------------
# PRF expansion
# ---------------------------------------------------------------------------


def test_prf_expansion_finds_planted_term(spark):
    """Docs matching the fixed query share a distinctive rare co-term;
    the expansion must rank it first, exclude the query terms themselves,
    and down-rank a ubiquitous word (negative RSV)."""
    import tempfile

    from fusionspark.queries.text_queries import prf_expansion_q

    rows = []
    # 20 relevant docs: query terms + the planted co-term 'zephyr'; their
    # OTHER words ('common', 'body') also appear in every background doc,
    # so zephyr is the only rare feedback co-term (no alphabetical ties)
    for i in range(20):
        rows.append((i, "fast table scan merge join zephyr common body"))
    # 180 background docs: no query terms, no zephyr
    for i in range(20, 200):
        rows.append((i, f"background text common body b{i % 13} c{i % 7}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/documents.parquet")
        out = prf_expansion_q(spark, tmp).collect()
    terms = [r.term for r in out]
    assert terms[0] == "zephyr"
    assert not set(terms) & {"fast", "table", "scan", "merge", "join"}
    byname = {r.term: r for r in out}
    assert byname["zephyr"].rsv > 0
    # 'common' appears in every doc: if present at all, its RSV is negative
    if "common" in byname:
        assert byname["common"].rsv < 0


# ---------------------------------------------------------------------------
# window_funnel
# ---------------------------------------------------------------------------


def test_window_funnel_ordered_within_window_semantics(spark):
    """Hand-built sequences pin the semantics: ordered steps count,
    out-of-order don't, a chain whose later step falls outside the
    7-day window doesn't extend, and a second 'view' restarts a chain
    that then completes."""
    import datetime
    import tempfile

    from fusionspark.queries.mining_queries import window_funnel

    t0 = datetime.datetime(2025, 1, 1)

    def ev(eid, user, minutes, typ, days=0):
        return (
            eid,
            t0 + datetime.timedelta(days=days, minutes=minutes),
            user,
            typ,
            1.0,
            "{}",
        )

    rows = [
        # user 1: clean view->click->purchase within a day -> level 3
        ev(1, 1, 0, "view"), ev(2, 1, 10, "click"), ev(3, 1, 20, "purchase"),
        # user 2: purchase BEFORE view/click -> ordered prefix stops at 2
        ev(4, 2, 0, "purchase"), ev(5, 2, 10, "view"), ev(6, 2, 20, "click"),
        # user 3: click 8 days after the only view -> window expired, level 1
        ev(7, 3, 0, "view"), ev(8, 3, 0, "click", days=8),
        # user 4: first chain expires, second view restarts and completes
        ev(9, 4, 0, "view"), ev(10, 4, 0, "view", days=9),
        ev(11, 4, 30, "click", days=9), ev(12, 4, 60, "purchase", days=9),
        # user 5: funnel-step event but nothing orderable past level 1
        ev(13, 5, 0, "signup"), ev(14, 5, 5, "error"),
        # (signup/error are filtered out: user 5 has NO funnel events and
        # therefore no row — windowFunnel is over funnel-active users)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/events.parquet")
        out = {r.level: r.n_users for r in window_funnel(spark, tmp).collect()}
    assert out == {3: 2, 2: 1, 1: 1}, out


# ---------------------------------------------------------------------------
# Mann-Whitney U
# ---------------------------------------------------------------------------


def test_mann_whitney_scipy_style_replay(spark, sf_dir):
    """Textbook replay with average ranks and tie correction must match
    the operator exactly (U1, and z to 6 digits)."""
    from collections import Counter

    from fusionspark.io import load_table
    from fusionspark.queries.mining_queries import mann_whitney_u

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).collect()
    per_user: dict[int, int] = {}
    for r in e:
        per_user[r.user_id] = per_user.get(r.user_id, 0) + math.floor(
            r.value * 100.0 + 0.5
        )
    xs = sorted(per_user.items())
    values = sorted(v for _, v in xs)
    cnt = Counter(values)
    # average rank per value (1-based): less + (eq + 1) / 2
    less = {}
    run = 0
    for v in sorted(cnt):
        less[v] = run
        run += cnt[v]
    n = len(values)
    n1 = sum(1 for u, _ in xs if u % 2 == 1)
    n2 = n - n1
    r1 = sum(less[v] + (cnt[v] + 1) / 2 for u, v in xs if u % 2 == 1)
    u1 = r1 - n1 * (n1 + 1) / 2
    ties = sum(t**3 - t for t in cnt.values())
    var = n1 * n2 * ((n + 1) * n * (n - 1) - ties) / (12 * n * (n - 1))
    z = (u1 - n1 * n2 / 2) / math.sqrt(var)
    row = mann_whitney_u(spark, sf_dir).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    assert row.u1_x2 == round(2 * u1)
    assert row.z == round(z, 6)


def test_mann_whitney_detects_planted_shift(spark):
    """Group 1's spend is uniformly shifted up: z must be large positive
    (U counts group-1 wins); identical groups give z ~ 0."""
    import tempfile

    from fusionspark.queries.mining_queries import mann_whitney_u

    rows = []
    eid = 0
    for u in range(200):
        eid += 1
        base = 10.0 + (u // 2 % 50)  # same base distribution per parity
        lift = 100.0 if u % 2 == 1 else 0.0  # planted group-1 shift
        rows.append((eid, u, "purchase", base + lift))
    df = spark.createDataFrame(
        [(e, __import__("datetime").datetime(2025, 1, 1), u, t, v, "{}")
         for e, u, t, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/events.parquet")
        row = mann_whitney_u(spark, tmp).collect()[0]
    # every group-1 value beats every group-0 value: U1 = n1*n2 (maximal)
    assert row.u1_x2 == 2 * row.n1 * row.n2
    assert row.z > 10


# ---------------------------------------------------------------------------
# skip-gram pairs
# ---------------------------------------------------------------------------


def test_skipgram_compaction_and_subsampling(spark):
    """Pure-Python replay of the whole pipeline on a planted corpus:
    the ubiquitous word is thinned (its threshold is the binding one),
    surviving sequences COMPACT before windowing (pairs span deleted
    positions), and the operator's top pairs equal the replay's."""
    import tempfile
    from collections import Counter

    from fusionspark.queries.pipeline_queries import skipgram_pairs

    rows = [(d, " ".join(
        "filler" if i % 2 == 0 else f"w{(d * 31 + i) % 11}"
        for i in range(60)
    )) for d in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # replay
    toks = []
    for d, text in rows:
        for i, w in enumerate([x for x in text.lower().split(" ") if x]):
            toks.append((d, i, w))
    f = Counter(w for _, _, w in toks)
    n_tok = len(toks)
    kept: dict[int, list[str]] = {}
    for d, i, w in toks:
        thr = (n_tok * 4294967296) // (1000 * f[w])
        if _coin("sg:", f"{d}:{i}") < thr:
            kept.setdefault(d, []).append(w)
    pairs = Counter()
    for d, ws in kept.items():
        for i, c in enumerate(ws):
            for j in range(max(0, i - 2), min(len(ws), i + 3)):
                if j != i:
                    pairs[(c, ws[j])] += 1
    expect = sorted(
        ((cnt, a, b) for (a, b), cnt in pairs.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:50]

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/documents.parquet")
        got = [
            (r.n_pairs, r.center, r.context)
            for r in skipgram_pairs(spark, tmp).collect()
        ]
    assert got == expect
    # the ubiquitous word really was thinned: it makes up half the raw
    # tokens but its surviving share must be well below that
    kept_flat = [w for ws in kept.values() for w in ws]
    assert kept_flat.count("filler") / len(kept_flat) < 0.25


# ---------------------------------------------------------------------------
# DP quantile
# ---------------------------------------------------------------------------


def test_dp_quantile_mechanism_replay(spark, sf_dir):
    """Pure-Python replay of the full exponential mechanism (quantized
    weights, integer inverse CDF) must match; the released value is a
    real data value whose rank score sits inside the weight support
    (s <= 55 — anything further has quantized weight 0)."""
    from collections import Counter

    from fusionspark.io import load_table
    from fusionspark.queries.pipeline_queries import _DPQ_W, dp_quantile

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).collect()
    per_user: dict[int, int] = {}
    for r in e:
        per_user[r.user_id] = per_user.get(r.user_id, 0) + math.floor(
            r.value * 100.0 + 0.5
        )
    cnt = Counter(per_user.values())
    n = sum(cnt.values())
    wtab = dict(_DPQ_W)
    cum = 0
    rows = []
    for x in sorted(cnt):
        cum += cnt[x]
        rows.append((x, cum, wtab.get(abs(2 * cum - n), 0)))
    total = sum(w for _, _, w in rows)
    coin = int(hashlib.md5(b"dpq:v1").hexdigest()[:8], 16)
    t = (total * coin) // 4294967296
    cw = 0
    dp_median = None
    for x, _, w in rows:
        cw += w
        if cw > t:
            dp_median = x
            break
    true_median = None
    for x, c, _ in rows:
        if c >= (n + 1) // 2:
            true_median = x
            break
    row = dp_quantile(spark, sf_dir).collect()[0]
    assert (row.n_users, row.true_median, row.dp_median) == (
        n, true_median, dp_median,
    )
    # released value is a real data value with positive quantized weight
    ranks = {x: c for x, c, _ in rows}
    assert row.dp_median in ranks
    assert abs(2 * ranks[row.dp_median] - n) <= 55


# ---------------------------------------------------------------------------
# greedy LM decoding
# ---------------------------------------------------------------------------


def test_lm_greedy_decode_replay_and_dead_end(spark):
    """Pure-Python greedy replay on a planted corpus, including a
    dead-end chain that truncates early and a tie broken by word ASC."""
    import tempfile
    from collections import Counter

    from fusionspark.queries.pipeline_queries import lm_greedy_decode

    # corpus engineered so: 'a' is the most frequent seed; 'a b' and
    # 'a c' tie (broken toward 'b'); 'end' has no continuation
    rows = [
        (1, "a b a c end"),
        (2, "a b x end"),
        (3, "a c x end"),
        (4, "a a a a a end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    toks = [( [w for w in t.lower().split(" ") if w] ) for _, t in rows]
    big = Counter()
    uni = Counter()
    for ws in toks:
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    seeds = sorted(uni, key=lambda w: (-uni[w], w))[:3]
    expect = []
    for s in seeds:
        cur = s
        for step in range(1, 6):
            cand = [(c, w2) for (w1, w2), c in big.items() if w1 == cur]
            if not cand:
                break
            cur = sorted(cand, key=lambda t: (-t[0], t[1]))[0][1]
            expect.append((s, step, cur))

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/documents.parquet")
        got = sorted(
            (r.seed, r.step, r.word)
            for r in lm_greedy_decode(spark, tmp).collect()
        )
    assert got == sorted(expect)
    # 'end' seed (if among top-3) must have truncated at step 0
    if "end" in seeds:
        assert not [g for g in got if g[0] == "end"]


# ---------------------------------------------------------------------------
# Chao1 / Good-Turing
# ---------------------------------------------------------------------------


def test_vocab_chao1_planted_spectrum(spark):
    """A corpus with a KNOWN 4-gram frequency spectrum: the spectrum
    counts, Chao1's bias-corrected estimate, and Good-Turing unseen mass
    must all match the closed forms exactly."""
    import tempfile
    from collections import Counter

    from fusionspark.queries.pipeline_queries import vocab_chao1

    rows = [
        (1, "a b c d e f g h"),        # 5 distinct 4-grams, all singletons
        (2, "a b c d x y z w"),        # repeats 'a b c d', adds 4 more
        (3, "p q r s p q r s p q r"),  # 'p q r s' repeated patterns
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = Counter()
    for _, t in rows:
        ws = t.split(" ")
        for i in range(len(ws) - 3):
            grams[" ".join(ws[i : i + 4])] += 1
    n = sum(grams.values())
    d = len(grams)
    f1 = sum(1 for c in grams.values() if c == 1)
    f2 = sum(1 for c in grams.values() if c == 2)
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/documents.parquet")
        row = vocab_chao1(spark, tmp).collect()[0]
    assert (row.n_tokens, row.n_distinct, row.f1, row.f2) == (n, d, f1, f2)
    assert row.chao1 == round(d + f1 * (f1 - 1) / (2 * (f2 + 1)), 6)
    assert row.p_unseen == round(f1 / n, 6)
    assert f1 > 0 and f2 > 0  # the planted spectrum is non-degenerate


# ---------------------------------------------------------------------------
# WOE / IV
# ---------------------------------------------------------------------------


def test_woe_iv_pure_python_replay(spark, sf_dir):
    """WOE and IV recomputed in pure Python from the same binned counts."""
    from fusionspark.io import load_table
    from fusionspark.queries.pipeline_queries import woe_iv

    rows = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_discount", "l_quantity"
    ).collect()
    feats: dict[str, dict[int, list[int]]] = {"discount": {}, "quantity": {}}
    for r in rows:
        y = 1 if r.l_returnflag == "R" else 0
        db = math.floor(r.l_discount * 100.0 + 0.5)
        qb = math.floor((r.l_quantity - 1.0) / 10.0)
        for f, b in (("discount", db), ("quantity", qb)):
            pn = feats[f].setdefault(b, [0, 0])
            pn[y] += 1
    got = {(r.feature, r.bin): r for r in woe_iv(spark, sf_dir).collect()}
    for f, bins in feats.items():
        pos_t = sum(p for _, p in bins.values())
        neg_t = sum(n for n, _ in bins.values())
        b = len(bins)
        iv = 0.0
        for bn in sorted(bins):
            neg_b, pos_b = bins[bn]
            woe = math.log(
                ((pos_b + 1) * (neg_t + b)) / ((neg_b + 1) * (pos_t + b))
            )
            dp = ((pos_b + 1) * (neg_t + b) - (neg_b + 1) * (pos_t + b)) / (
                (pos_t + b) * (neg_t + b)
            )
            iv += dp * woe
            r = got[(f, bn)]
            assert (r.pos_b, r.neg_b) == (pos_b, neg_b)
            assert r.woe == pytest.approx(woe, abs=5.1e-7)
        for bn in sorted(bins):
            assert got[(f, bn)].iv == pytest.approx(iv, abs=5.1e-7)


def test_woe_planted_separation(spark):
    """A feature bin holding ALL positives must get a large positive WOE
    and the feature a large IV; an uninformative feature IV ≈ 0."""
    import tempfile

    from fusionspark.queries.pipeline_queries import woe_iv

    rows = []
    for i in range(400):
        y = 1 if i % 4 == 0 else 0
        # discount bin 9 ⟺ positive (perfectly separating);
        # quantity cycles independently of y (uninformative)
        disc = 0.09 if y else 0.01
        qty = float(1 + (i % 50))
        rows.append((i, 1, 1, 1, qty, 100.0, disc, 0.0, "R" if y else "N",
                     "O", None))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string, l_shipdate timestamp",
        ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        out = woe_iv(spark, d).collect()
    disc_ivs = {r.iv for r in out if r.feature == "discount"}
    qty_ivs = {r.iv for r in out if r.feature == "quantity"}
    assert min(disc_ivs) > 1.0           # perfect separation → huge IV
    assert max(qty_ivs) < 0.1            # independent feature → tiny IV
    woe9 = [r.woe for r in out if r.feature == "discount" and r.bin == 9][0]
    assert woe9 > 3.0


# ---------------------------------------------------------------------------
# classifier_eval
# ---------------------------------------------------------------------------


def test_classifier_eval_sklearn_style_replay(spark, sf_dir):
    """AUC (trapezoid over tie-grouped ROC == rank form), Brier and ECE
    recomputed in pure Python from the engine's own (score, label) pairs."""
    from fusionspark.io import load_table
    from fusionspark.operators import textstats
    from fusionspark.queries.pipeline_queries import classifier_eval

    d = load_table(spark, sf_dir, "documents")
    pos = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    neg = F.col("source").isin("src15", "src16", "src17", "src18", "src19")
    nb = textstats.nb_quality_scores(d, pos, neg)
    lab = nb.join(d.select("doc_id", pos.cast("int").alias("y")), "doc_id")
    pairs = [(r.nb_score, r.y, r.quality_pred) for r in lab.collect()]

    # rank-form AUC with average ranks over ties
    srt = sorted(pairs, key=lambda t: t[0])
    n = len(srt)
    npos = sum(y for _, y, _ in srt)
    i, rsum = 0, 0.0
    while i < n:
        j = i
        while j < n and srt[j][0] == srt[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0  # ranks i+1..j
        rsum += avg * sum(y for _, y, _ in srt[i:j])
        i = j
    auc = (rsum - npos * (npos + 1) / 2.0) / (npos * (n - npos))

    pu = [math.floor(1e6 / (1.0 + math.exp(-s)) + 0.5) for s, _, _ in srt]
    brier = sum((u - 1e6 * y) ** 2 for u, (_, y, _) in zip(pu, srt)) / (n * 1e12)
    bins: dict[int, list[int]] = {}
    for u, (_, y, _) in zip(pu, srt):
        b = min(u // 100000, 9)
        t = bins.setdefault(b, [0, 0])
        t[0] += u
        t[1] += y
    ece = sum(abs(su - 1000000 * sy) for su, sy in bins.values()) / (n * 1e6)
    acc = sum(1 for _, y, p in srt if p == y) / n

    got = classifier_eval(spark, sf_dir).collect()[0]
    assert got.n == n and got.n_pos == npos
    assert got.auc == pytest.approx(auc, abs=5.1e-7)
    assert got.brier == pytest.approx(brier, abs=5.1e-7)
    assert got.ece == pytest.approx(ece, abs=5.1e-7)
    assert got.accuracy == pytest.approx(acc, abs=5.1e-7)
    assert 0.5 < got.auc < 1.0  # the classifier must beat chance on its own strata


# ---------------------------------------------------------------------------
# BLEU
# ---------------------------------------------------------------------------


def _py_bleu(pairs):
    """Reference corpus BLEU-4 with BLEU+1 smoothing on n≥2."""
    from collections import Counter

    m = {n: 0 for n in (1, 2, 3, 4)}
    t = {n: 0 for n in (1, 2, 3, 4)}
    c = r = 0
    for cand, ref in pairs:
        c += len(cand)
        r += len(ref)
        for n in (1, 2, 3, 4):
            cg = Counter(tuple(cand[i:i + n]) for i in range(len(cand) - n + 1))
            rg = Counter(tuple(ref[i:i + n]) for i in range(len(ref) - n + 1))
            m[n] += sum(min(v, rg[g]) for g, v in cg.items())
            t[n] += max(len(cand) - n + 1, 0)
    if m[1] == 0:
        return 0.0, m, t, c, r
    bp = 1.0 if c >= r else math.exp(1.0 - r / c)
    s = 0.25 * math.log(m[1] / t[1])
    for n in (2, 3, 4):
        s += 0.25 * math.log((m[n] + 1) / (t[n] + 1))
    return bp * math.exp(s), m, t, c, r


def test_bleu_pure_python_replay(spark, sf_dir):
    from fusionspark.io import load_table
    from fusionspark.queries.pipeline_queries import bleu_eval

    docs = sorted(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .collect(),
        key=lambda x: x.doc_id,
    )
    by_src: dict[str, list] = {}
    for d in docs:
        by_src.setdefault(d.source, []).append(
            [w for w in d.text.lower().split(" ") if w]
        )
    pairs = []
    for ws in by_src.values():
        pairs += list(zip(ws, ws[1:]))
    bleu, m, t, c, r = _py_bleu(pairs)
    got = bleu_eval(spark, sf_dir).collect()[0]
    assert got.n_pairs == len(pairs)
    assert (got.cand_tokens, got.ref_tokens) == (c, r)
    assert [got.m1, got.m2, got.m3, got.m4] == [m[1], m[2], m[3], m[4]]
    assert [got.t1, got.t2, got.t3, got.t4] == [t[1], t[2], t[3], t[4]]
    assert got.bleu == pytest.approx(bleu, abs=5.1e-7)
    assert 0.0 < got.bleu < 1.0


def test_bleu_identical_pairs_is_one(spark):
    """Each source holds two identical docs → every clipped precision is
    1, BP = 1, BLEU = 1 exactly (the metric's fixed point)."""
    import tempfile

    from fusionspark.queries.pipeline_queries import bleu_eval

    text = "the cat sat on the mat and the dog barked at the cat"
    rows = [
        (2 * s + i, text, "en", f"s{s}", len(text))
        for s in range(4)
        for i in range(2)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = bleu_eval(spark, d).collect()[0]
    assert got.n_pairs == 4
    assert got.bp == 1.0
    assert (got.p1, got.bleu) == (1.0, 1.0)


# ---------------------------------------------------------------------------
# perceptron
# ---------------------------------------------------------------------------


def _py_perceptron(rows, K=16, prefix=256):
    """rows: (doc_id, y, words) sorted by doc_id.  Returns (weights,
    margins-by-doc) replaying the exact integer trajectory."""
    def h(w):
        return _coin("", w) % K

    feats = {}
    train = []
    for did, y, ws in rows:
        c = [0] * K
        for w in ws:
            c[h(w)] += 1
        x = [1] + c
        feats[did] = (y, x)
        if y != 0 and len(train) < prefix:
            train.append((did, y, x))
    wv = [0] * (K + 1)
    for _, y, x in train:
        m = sum(a * b for a, b in zip(wv, x))
        if y * m <= 0:
            wv = [a + y * b for a, b in zip(wv, x)]
    return wv, {
        did: sum(a * b for a, b in zip(wv, x)) for did, (y, x) in feats.items()
    }


def test_perceptron_trajectory_replay(spark, sf_dir):
    """The engine margins must equal the pure-Python integer replay of the
    identical mistake-driven trajectory — bit-for-bit, every doc."""
    from fusionspark.io import load_table
    from fusionspark.queries.pipeline_queries import perceptron_quality

    POS = {"src0", "src1", "src2", "src3", "src4"}
    NEG = {"src15", "src16", "src17", "src18", "src19"}
    docs = sorted(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .collect(),
        key=lambda r: r.doc_id,
    )
    rows = [
        (
            r.doc_id,
            1 if r.source in POS else (-1 if r.source in NEG else 0),
            [w for w in r.text.lower().split(" ") if w],
        )
        for r in docs
    ]
    _, margins = _py_perceptron(rows)
    got = perceptron_quality(spark, sf_dir).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.margin == margins[r.doc_id], r.doc_id
        assert r.pred == (1 if margins[r.doc_id] > 0 else 0)


def test_perceptron_converges_on_separable_corpus(spark):
    """Perceptron convergence law: when the positive class carries a
    marker word the classes are linearly separable in hashed space, and
    the trained model must classify every labeled doc correctly."""
    import tempfile

    from fusionspark.queries.pipeline_queries import perceptron_quality

    rows = []
    for i in range(120):
        pos = i % 2 == 0
        base = f"alpha beta gamma delta token{i % 5}"
        text = base + (" curatedmarker curatedmarker" if pos else " noisy junk")
        rows.append(
            (i, text, "en", "src0" if pos else "src15", len(text))
        )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = perceptron_quality(spark, d).collect()
    assert all((r.pred == 1) == (r.label == 1) for r in out)
