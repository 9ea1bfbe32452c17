"""Round-12 operator tests: ROUGE-L LCS and MOSS winnowing fingerprints,
each checked against an INDEPENDENT pure-Python recomputation from the
raw parquet (the third-implementation discipline), plus behavioral laws
(LCS 3-way-max == branch-on-eq, winnowing's shared-run guarantee, Cochran
constant-row invariance, W = 1 under perfect agreement, Page L maximal on
monotone tables, KMV exactness below k)."""

from __future__ import annotations

import collections
import hashlib
import math
import random

import pyarrow.parquet as pq

from fusionspark.queries.pipeline_queries import (
    rouge_l_eval,
    winnowing_fingerprints,
)


def _docs(sf_dir):
    return pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _r6(x: float) -> float:
    """6-decimal HALF-AWAY rounding — python's round() is half-even and
    diverges from Spark F.round / DuckDB ROUND at exactly-representable
    halfway ratios (e.g. 1/128 = 0.0078125 -> 0.007813 in both engines,
    0.007812 from round()); the test_round12_ops._round_away discipline."""
    s = x * 1e6
    return (math.floor(s + 0.5) if s >= 0 else math.ceil(s - 0.5)) / 1e6


def _words(text: str) -> list[str]:
    return [w for w in text.lower().split(" ") if w]


# ---------------------------------------------------------------------------
# rouge_l_eval
# ---------------------------------------------------------------------------


def _lcs(xs, ys) -> int:
    """Textbook branch-on-eq LCS."""
    prev = [0] * (len(ys) + 1)
    for x in xs:
        cur = [0]
        for j, y in enumerate(ys, start=1):
            cur.append(prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1]))
        prev = cur
    return prev[-1]


def test_rouge_l_python_replay(spark, sf_dir):
    got = {r["doc_id"]: r for r in rouge_l_eval(spark, sf_dir).collect()}
    rows = [r for r in _docs(sf_dir) if len(_words(r["text"])) >= 40]
    assert sorted(got) == sorted(r["doc_id"] for r in rows)
    for r in rows[:60]:
        ws = _words(r["text"])
        cand, ref = ws[:25], ws[25:85]
        lcs = _lcs(cand, ref)
        g = got[r["doc_id"]]
        assert (g["n_cand"], g["n_ref"], g["lcs_len"]) == (
            len(cand), len(ref), lcs,
        )
        assert math.isclose(
            g["rouge_l_f"], _r6(2.0 * lcs / (len(cand) + len(ref))),
            abs_tol=1e-9,
        )


def test_lcs_three_way_max_equals_branch_form():
    """The query's max(prev[j-1]+eq, prev[j], new[j-1]) recurrence equals
    the textbook branch-on-eq LCS on random sequences (the adjacent-cell
    |diff| <= 1 property makes the unconditional 3-way max safe)."""
    rng = random.Random(7)
    for _ in range(200):
        xs = [rng.randrange(4) for _ in range(rng.randrange(12))]
        ys = [rng.randrange(4) for _ in range(rng.randrange(12))]
        prev = [0] * (len(ys) + 1)
        for x in xs:
            cur = [0]
            for j, y in enumerate(ys, start=1):
                cur.append(
                    max(prev[j - 1] + (1 if x == y else 0), prev[j], cur[j - 1])
                )
            prev = cur
        assert prev[-1] == _lcs(xs, ys)


def test_rouge_l_identity_and_order_sensitivity():
    """LCS of a sequence with itself is its length; reversing loses order
    credit that clipped unigram overlap (rouge1) cannot see."""
    xs = list("abcdefgh")
    assert _lcs(xs, xs) == 8
    assert _lcs(xs, xs[::-1]) == 1  # distinct symbols: only 1 in-order char
    # clipped unigram overlap is 8 either way — ROUGE-L separates them.


# ---------------------------------------------------------------------------
# winnowing_fingerprints
# ---------------------------------------------------------------------------

_K, _W = 3, 4


def _fingerprints(ws: list[str]) -> set[int]:
    hs = [
        _md5_32("wf:" + " ".join(ws[i:i + _K]))
        for i in range(len(ws) - _K + 1)
    ]
    return {
        min(hs[i:i + _W]) for i in range(len(hs) - _W + 1)
    }


def test_winnowing_python_replay(spark, sf_dir):
    rows = [r for r in _docs(sf_dir) if len(_words(r["text"])) >= _K + _W]
    fps = {r["doc_id"]: _fingerprints(_words(r["text"])) for r in rows}
    df = collections.Counter()
    for s in fps.values():
        for f in s:
            df[f] += 1
    rare = {f for f, c in df.items() if c <= 50}
    pair = collections.Counter()
    by_fp = collections.defaultdict(list)
    for d, s in fps.items():
        for f in s:
            if f in rare:
                by_fp[f].append(d)
    for f, ds in by_fp.items():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pair[(ds[i], ds[j])] += 1
    expect = sorted(
        ((c, a, b) for (a, b), c in pair.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    got = winnowing_fingerprints(spark, sf_dir).collect()
    assert [(r["shared"], r["a_id"], r["b_id"]) for r in got] == [
        (c, a, b) for c, a, b in expect
    ]
    for r in got:
        assert r["nfp_a"] == len(fps[r["a_id"]])
        assert r["nfp_b"] == len(fps[r["b_id"]])
        assert math.isclose(
            r["containment"],
            _r6(r["shared"] / min(r["nfp_a"], r["nfp_b"])),
            abs_tol=1e-9,
        )


def test_winnowing_shared_run_guarantee():
    """Schleimer et al. Theorem: two docs sharing a run of >= k+w-1 words
    share at least one fingerprint — for ANY surrounding context."""
    rng = random.Random(11)
    shared_run = [f"run{i}" for i in range(_K + _W - 1 + 3)]
    for trial in range(50):
        pre_a = [f"a{rng.randrange(1000)}" for _ in range(rng.randrange(20))]
        post_a = [f"a{rng.randrange(1000)}" for _ in range(rng.randrange(20))]
        pre_b = [f"b{rng.randrange(1000)}" for _ in range(rng.randrange(20))]
        post_b = [f"b{rng.randrange(1000)}" for _ in range(rng.randrange(20))]
        fa = _fingerprints(pre_a + shared_run + post_a)
        fb = _fingerprints(pre_b + shared_run + post_b)
        assert fa & fb, f"trial {trial}: guarantee violated"


def test_winnowing_density():
    """Fingerprint count per doc is ~2/(w+1) of the k-gram count — the
    paper's expected density — and never exceeds the window count."""
    rng = random.Random(13)
    ws = [f"w{rng.randrange(10_000)}" for _ in range(500)]
    n_kgrams = len(ws) - _K + 1
    n_windows = n_kgrams - _W + 1
    nf = len(_fingerprints(ws))
    assert nf <= n_windows
    assert 0.5 * 2 / (_W + 1) <= nf / n_kgrams <= 2.0 * 2 / (_W + 1)


# ---------------------------------------------------------------------------
# cochran_q
# ---------------------------------------------------------------------------


def _cochran(table: list[tuple[int, int, int]]):
    k = 3
    t = [sum(row[j] for row in table) for j in range(k)]
    num = (k - 1) * (k * sum(x * x for x in t) - sum(t) ** 2)
    den = sum(k * sum(row) - sum(row) ** 2 for row in table)
    return None if den == 0 else num / den


def test_cochran_constant_rows_cancel():
    """Adding all-0 or all-1 users leaves Q unchanged — the invariance the
    query relies on to skip row filtering."""
    rng = random.Random(3)
    base = [
        tuple(rng.randrange(2) for _ in range(3)) for _ in range(40)
    ]
    q0 = _cochran(base)
    padded = base + [(0, 0, 0)] * 17 + [(1, 1, 1)] * 9
    assert math.isclose(_cochran(padded), q0, rel_tol=1e-12)


# ---------------------------------------------------------------------------
# kendall_w
# ---------------------------------------------------------------------------


def test_kendall_w_perfect_agreement_is_one():
    """Identical untied rankings on every block give W == 1 exactly."""
    n, k = 10, 5
    # doubled ranks of untied ranking 1..k are 2,4,..,2k
    rsum = [n * 2 * (j + 1) for j in range(k)]
    sr2 = sum(v * v for v in rsum)
    w = (3 * sr2 - 3 * k * n * n * (k + 1) ** 2) / (n * n * k * (k * k - 1))
    assert w == 1.0


# ---------------------------------------------------------------------------
# page_trend
# ---------------------------------------------------------------------------


def test_page_l_maximal_on_monotone_table():
    """A table whose values strictly increase in the hypothesized order on
    every block maximizes L (= n * sum j*j with untied ranks) and fires
    direction +1."""
    n, k = 8, 5
    l_doubled = n * sum(j * 2 * j for j in range(1, k + 1))
    dev = 6 * l_doubled - 3 * n * k * (k + 1) ** 2
    assert dev > 0
    # any permuted (non-monotone) assignment scores strictly less
    ranks = list(range(1, k + 1))
    best = sum(j * r for j, r in zip(ranks, ranks))
    for perm in [(2, 1, 3, 4, 5), (5, 4, 3, 2, 1), (1, 3, 2, 5, 4)]:
        assert sum(j * r for j, r in zip(ranks, perm)) <= best
        if perm != tuple(ranks):
            assert sum(j * r for j, r in zip(ranks, perm)) < best


# ---------------------------------------------------------------------------
# kmv_intersect
# ---------------------------------------------------------------------------


def test_kmv_exact_below_k():
    """When |A u B| <= k the union sketch IS the union, so the estimate is
    exactly Jaccard — the small-set degenerate case the CASE-free
    min(k, |union|) denominator handles."""
    K = 64
    rng = random.Random(5)
    a = {rng.randrange(10_000) for _ in range(30)}
    b = {rng.randrange(10_000) for _ in range(30)}
    ha = sorted({_md5_32(f"kmv:{u}") for u in a})[:K]
    hb = sorted({_md5_32(f"kmv:{u}") for u in b})[:K]
    union_k = sorted(set(ha) | set(hb))[:K]
    inter = sum(1 for h in union_k if h in set(ha) and h in set(hb))
    assert len(union_k) == len(a | b)  # no md5 collision in this draw
    assert inter / len(union_k) == len(a & b) / len(a | b)


def test_kmv_estimator_envelope():
    """On sets far above k the estimate stays within a loose CLT envelope
    of the true Jaccard (sigma ~ sqrt(J(1-J)/k); allow 4 sigma)."""
    K = 64
    a = {f"a{i}" for i in range(3000)} | {f"s{i}" for i in range(1000)}
    b = {f"b{i}" for i in range(3000)} | {f"s{i}" for i in range(1000)}
    true_j = len(a & b) / len(a | b)
    ha = sorted({_md5_32(f"kmv:{u}") for u in a})[:K]
    hb = sorted({_md5_32(f"kmv:{u}") for u in b})[:K]
    union_k = sorted(set(ha) | set(hb))[:K]
    est = sum(1 for h in union_k if h in set(ha) and h in set(hb)) / len(union_k)
    sigma = math.sqrt(true_j * (1 - true_j) / K)
    assert abs(est - true_j) <= 4 * sigma
