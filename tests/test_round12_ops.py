"""Round-12-queue operator tests (added late in round 11): MSTTR, the
decision stump, TextRank, quantile normalisation, log-odds, trending
terms, RBO, Needleman-Wunsch and Smith-Waterman, the cosine histogram,
linear SHAP, the HLL daily union and systematic sampling — each checked
against an INDEPENDENT pure-Python recomputation from the raw parquet
(the third-implementation discipline) — plus behavioral and closed-form
laws (MSTTR length-robustness, DTW and alignment identities, planted
effects)."""

from __future__ import annotations

import collections
import math

import pyarrow.parquet as pq

from fusionspark.queries.pipeline_queries import msttr


def _docs(sf_dir):
    t = pq.read_table(f"{sf_dir}/documents.parquet")
    return t.to_pylist()


def _events(sf_dir):
    t = pq.read_table(f"{sf_dir}/events.parquet")
    return t.to_pylist()


# ---------------------------------------------------------------------------
# dispersion_index
# ---------------------------------------------------------------------------


def test_dispersion_constant_series_underdispersed(spark):
    """A perfectly regular series (same count every day) has dispersion 0 —
    the law D = s^2/mean with s^2 = 0."""
    xs = [7] * 20
    n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
    assert n * sxx - sx * sx == 0


# ---------------------------------------------------------------------------
# msttr
# ---------------------------------------------------------------------------


def _msttr_python(rows, seg=50):
    out = {}
    for r in rows:
        ws = [w for w in r["text"].lower().split(" ") if w]
        nseg = len(ws) // seg
        for s in range(nseg):
            d = len(set(ws[s * seg:(s + 1) * seg]))
            acc = out.setdefault(r["source"], [set(), 0, 0])
            acc[0].add(r["doc_id"])
            acc[1] += 1
            acc[2] += d
    return {
        src: (len(docs), nsegs, sumd, round(sumd / (seg * nsegs), 6))
        for src, (docs, nsegs, sumd) in out.items()
    }


def test_msttr_python_replay(spark, sf_dir):
    exp = _msttr_python(_docs(sf_dir))
    got = {r["source"]: r for r in msttr(spark, sf_dir).collect()}
    assert sorted(got) == sorted(exp)
    for src, (nd, ns, sd, m) in exp.items():
        r = got[src]
        assert (r["n_docs"], r["n_segments"], r["sum_types"]) == (nd, ns, sd)
        assert math.isclose(r["msttr"], m, abs_tol=1e-9)


def test_msttr_length_robust(spark):
    """MSTTR of a doc and of the doc repeated twice are identical — the
    property raw TTR lacks (TTR halves when a text self-concatenates)."""
    base = " ".join(f"w{i % 37}" for i in range(100))
    rows = [
        {"doc_id": 1, "source": "a", "text": base},
        {"doc_id": 2, "source": "b", "text": base + " " + base},
    ]
    m = _msttr_python(rows)
    assert m["a"][3] == m["b"][3]
    # raw TTR would differ: distinct/len is 37/100 vs 37/200
    ws = base.lower().split()
    assert len(set(ws)) / len(ws) != len(set(ws)) / (2 * len(ws))


def test_msttr_incomplete_tail_dropped(spark):
    """A 149-token doc contributes exactly 2 segments (the 49-token tail is
    dropped) — segments must share the fixed denominator 50."""
    rows = [{"doc_id": 1, "source": "a",
             "text": " ".join(f"w{i}" for i in range(149))}]
    m = _msttr_python(rows)
    assert m["a"][1] == 2
    assert m["a"][2] == 100  # all-distinct tokens
    assert m["a"][3] == 1.0


# ---------------------------------------------------------------------------
# ljung_box
# ---------------------------------------------------------------------------


def test_ljung_box_white_noise_small_q():
    """Law: an exactly periodic series has huge Q; a constant-plus-single-
    spike series keeps |r_k| <= 1 — autocorrelations are always in
    [-1, 1] by Cauchy-Schwarz on the centered series."""
    ys = [5, 9] * 15  # period-2: r1 strongly negative
    n, S = len(ys), sum(ys)
    z = [n * y - S for y in ys]
    den = sum(v * v for v in z)
    r1 = sum(z[t] * z[t - 1] for t in range(1, n)) / den
    assert r1 < -0.9
    for k in range(1, 8):
        rk = sum(z[t] * z[t - k] for t in range(k, n)) / den
        assert -1.0 <= rk <= 1.0


# ---------------------------------------------------------------------------
# decision_stump
# ---------------------------------------------------------------------------


def _stump_python(pairs):
    """Brute-force best (threshold, weighted gini) over all distinct x."""
    n = len(pairs)
    p = sum(y for _, y in pairs)
    best = None
    for t in sorted({x for x, _ in pairs}):
        left = [(x, y) for x, y in pairs if x <= t]
        l, lp = len(left), sum(y for _, y in left)
        r, rp = n - l, p - lp
        if r == 0:
            continue
        ln, rn = l - lp, r - rp
        num = r * (l * l - lp * lp - ln * ln) + l * (r * r - rp * rp - rn * rn)
        score = num / (l * r)
        if best is None or score < best[1] - 1e-12 or (
            abs(score - best[1]) <= 1e-12 and t < best[0]
        ):
            best = (t, score, l, lp, r, rp)
    return best


def test_stump_bruteforce_replay(spark, sf_dir):
    from fusionspark.queries.pipeline_queries import decision_stump

    rows = _docs(sf_dir)
    pairs = [
        (r["n_chars"], 1 if sum(r["text"].count(c) for c in ".!?") >= 3 else 0)
        for r in rows
    ]
    t, score, l, lp, r, rp = _stump_python(pairs)
    got = decision_stump(spark, sf_dir).collect()[0]
    assert got["threshold"] == t
    assert (got["left_n"], got["left_pos"], got["right_n"], got["right_pos"]) == (
        l, lp, r, rp,
    )
    n = len(pairs)
    assert math.isclose(got["gini_split"], round(score / n, 6), abs_tol=1e-9)


def test_stump_separable_data_zero_gini():
    """A perfectly separable feature yields split gini 0 and the split sits
    at the class boundary."""
    pairs = [(i, 0) for i in range(10)] + [(i + 100, 1) for i in range(10)]
    t, score, *_ = _stump_python(pairs)
    assert t == 9
    assert score == 0


def test_stump_split_never_worse_than_root():
    """Weighted Gini of the best split <= root Gini (splitting cannot hurt
    training impurity) on an arbitrary planted set."""
    pairs = [(i % 17, (i * 7 + 3) % 5 == 0) for i in range(200)]
    pairs = [(x, int(y)) for x, y in pairs]
    n = len(pairs)
    p = sum(y for _, y in pairs)
    root = (n * n - p * p - (n - p) * (n - p)) / (n * n)
    t, score, *_ = _stump_python(pairs)
    assert score / n <= root + 1e-12


# ---------------------------------------------------------------------------
# attribution_shapley
# ---------------------------------------------------------------------------


def _shapley_python(rows):
    users = {}
    for r in rows:
        m, c = users.setdefault(r["user_id"], [0, 0])
        t = r["event_type"]
        if t == "click":
            m |= 1
        elif t == "view":
            m |= 2
        elif t == "signup":
            m |= 4
        elif t == "purchase":
            c = 1
        users[r["user_id"]] = [m, c]
    n = [0] * 8
    c = [0] * 8
    for m, cv in users.values():
        for s in range(8):
            if m & ~s & 7 == 0:
                n[s] += 1
                c[s] += cv
    v = [c[s] / n[s] if n[s] else 0.0 for s in range(8)]
    phi = {
        "click": (2 * (v[1] - v[0]) + (v[3] - v[2]) + (v[5] - v[4])
                  + 2 * (v[7] - v[6])) / 6,
        "view": (2 * (v[2] - v[0]) + (v[3] - v[1]) + (v[6] - v[4])
                 + 2 * (v[7] - v[5])) / 6,
        "signup": (2 * (v[4] - v[0]) + (v[5] - v[1]) + (v[6] - v[2])
                   + 2 * (v[7] - v[3])) / 6,
    }
    return phi, v, len(users)


def test_shapley_efficiency(spark, sf_dir):
    """Shapley efficiency axiom: sum of phis == v(grand coalition) - v(empty),
    exactly (in float, to fold tolerance)."""
    phi, v, _ = _shapley_python(_events(sf_dir))
    assert math.isclose(sum(phi.values()), v[7] - v[0], abs_tol=1e-12)


def test_shapley_symmetry_and_dilution():
    """Two channels with identical marginal contributions get equal phi
    (symmetry axiom); under the rate-form v, a channel touching ONLY
    non-converters earns NEGATIVE credit — every coalition it joins gets
    its conversion rate diluted — checked on a hand corpus."""
    rows = []
    # users touching {click}: convert; {view}: convert; {signup}: never;
    # untouched: never.  click and view are symmetric, signup is a dummy.
    uid = 0
    for mask_events, conv in [
        (["click"], True), (["view"], True), (["signup"], False), ([], False),
    ]:
        for i in range(10):
            uid += 1
            for t in mask_events:
                rows.append({"user_id": uid, "event_type": t})
            if conv:
                rows.append({"user_id": uid, "event_type": "purchase"})
            else:
                rows.append({"user_id": uid, "event_type": "error"})
    phi, v, _ = _shapley_python(rows)
    assert math.isclose(phi["click"], phi["view"], abs_tol=1e-12)
    assert phi["signup"] < 0  # pure-dilution channel gets negative credit
    # efficiency still holds on the hand corpus
    assert math.isclose(sum(phi.values()), v[7] - v[0], abs_tol=1e-12)


# ---------------------------------------------------------------------------
# fixed_effects
# ---------------------------------------------------------------------------


def test_fixed_effects_absorbs_user_level_confound():
    """Law: a user-level shift in y (same shape, different intercepts) leaves
    the within slope unchanged while the pooled slope moves — the whole
    point of fixed effects."""

    def slopes(panels):
        a = b = tx = ty = txy = txx = 0
        for obs in panels:
            sx = sum(x for x, _ in obs)
            sy = sum(y for _, y in obs)
            sxy = sum(x * y for x, y in obs)
            sxx = sum(x * x for x, _ in obs)
            a += 4 * sxy - sx * sy
            b += 4 * sxx - sx * sx
            tx += sx
            ty += sy
            txy += sxy
            txx += sxx
        n = 4 * len(panels)
        return a / b, (n * txy - tx * ty) / (n * txx - tx * tx)

    base = [[(h, 10 * h + 5) for h in (1, 3, 5, 7)],
            [(h, 10 * h + 9) for h in (2, 4, 6, 8)]]
    # confounded: second user's intercept +1000 AND their x values are larger
    conf = [base[0], [(x, y + 1000) for x, y in base[1]]]
    w0, p0 = slopes(base)
    w1, p1 = slopes(conf)
    assert math.isclose(w0, w1, abs_tol=1e-12)  # within slope invariant
    assert abs(p1 - p0) > 1.0  # pooled slope polluted by the intercept shift
    assert math.isclose(w0, 10.0, abs_tol=1e-12)


# ---------------------------------------------------------------------------
# ransac_trend
# ---------------------------------------------------------------------------


def _ransac_python(ys, eps=None):
    n = len(ys)
    S = sum(ys)
    if eps is None:
        eps = S // (5 * n) + 1
    pts = list(enumerate(ys, start=1))
    best = None
    for ii in range(n):
        for jj in range(ii + 1, n):
            i, yi = pts[ii]
            j, yj = pts[jj]
            snum, den = yj - yi, j - i
            cnt = sum(
                1 for t, y in pts
                if abs((y - yi) * den - snum * (t - i)) <= eps * den
            )
            key = (-cnt, i, j)
            if best is None or key < best[0]:
                best = (key, (i, yi, j, snum, den, cnt))
    (i, yi, j, snum, den, cnt) = best[1]
    inl = [(t, y) for t, y in pts
           if abs((y - yi) * den - snum * (t - i)) <= eps * den]
    m = len(inl)
    st = sum(t for t, _ in inl)
    sy = sum(y for _, y in inl)
    sty = sum(t * y for t, y in inl)
    stt = sum(t * t for t, _ in inl)
    det = m * stt - st * st
    return i, j, cnt, eps, (m * sty - st * sy) / det, (sy * stt - st * sty) / det


def test_ransac_ignores_planted_outliers():
    """A clean line plus 3 wild outlier days: RANSAC recovers the line
    exactly while OLS is dragged off it."""
    ys = [100 + 2 * t for t in range(1, 31)]
    ys[4] += 500
    ys[14] += 700
    ys[24] += 900
    i, j, n_inl, eps, slope, intercept = _ransac_python(ys, eps=5)
    assert n_inl == 27
    assert math.isclose(slope, 2.0, abs_tol=1e-12)
    assert math.isclose(intercept, 100.0, abs_tol=1e-12)
    # OLS on all 30 points is pulled away from slope 2
    n = 30
    pts = list(enumerate(ys, start=1))
    st = sum(t for t, _ in pts); sy = sum(y for _, y in pts)
    sty = sum(t * y for t, y in pts); stt = sum(t * t for t, _ in pts)
    ols = (n * sty - st * sy) / (n * stt - st * st)
    assert abs(ols - 2.0) > 0.5


# ---------------------------------------------------------------------------
# textrank_keywords
# ---------------------------------------------------------------------------


def _textrank_python(rows, iters=5, scale=10**12):
    from fusionspark.functions.text import STOPWORDS

    stop = set(STOPWORDS)
    raw = []
    for r in rows:
        ws = [w for w in r["text"].lower().split(" ") if w]
        content = [w for w in ws if len(w) > 2 and w not in stop]
        for a, b in zip(content, content[1:]):
            if a != b:
                raw.append((a, b))
    edges = collections.Counter()
    for a, b in raw:
        edges[(a, b)] += 1
        edges[(b, a)] += 1
    deg = collections.Counter()
    for (u, _), wt in edges.items():
        deg[u] += wt
    nodes = sorted(deg)
    n = len(nodes)
    r0 = scale // n
    base = (150 * r0) // 1000
    r = {w: r0 for w in nodes}
    inbound = collections.defaultdict(list)
    for (u, v), wt in edges.items():
        inbound[v].append((u, wt))
    for _ in range(iters):
        nr = {}
        for v in nodes:
            s = sum((wt * r[u]) // deg[u] for u, wt in inbound[v])
            nr[v] = base + (850 * s) // 1000
        r = nr
    return sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:25]


def test_textrank_python_replay(spark, sf_dir):
    from fusionspark.queries.text_queries import textrank_keywords

    exp = _textrank_python(_docs(sf_dir))
    got = [(r["word"], r["rank_fp"]) for r in
           textrank_keywords(spark, sf_dir).collect()]
    assert got == exp


def test_textrank_hub_word_wins():
    """A word co-occurring with everything outranks peripheral words."""
    rows = [
        {"doc_id": i, "text": f"central unique{i} central other{i} filler"}
        for i in range(20)
    ]
    top = _textrank_python(rows)
    assert top[0][0] == "central"


def test_textrank_all_integer_ranks():
    """Fixed-point law: every rank is a nonnegative int and total mass stays
    within damping bounds (<= scale)."""
    rows = [{"doc_id": i, "text": "alpha beta gamma alpha delta beta"}
            for i in range(5)]
    top = _textrank_python(rows)
    assert all(isinstance(v, int) and v >= 0 for _, v in top)
    assert sum(v for _, v in top) <= 10**12


# ---------------------------------------------------------------------------
# reg_discontinuity
# ---------------------------------------------------------------------------


def _round_away(x):
    """Half-away-from-zero rounding (Spark F.round / DuckDB ROUND on
    doubles) — python's round() is half-even and diverges at .5."""
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


# ---------------------------------------------------------------------------
# quantile_normalize
# ---------------------------------------------------------------------------


def test_qnorm_python_replay(spark, sf_dir):
    from fusionspark.queries.pipeline_queries import quantile_normalize

    docs = _docs(sf_dir)
    by_src = collections.defaultdict(list)
    for d in docs:
        by_src[d["source"]].append((d["n_chars"], d["doc_id"]))
    ranked = {}
    ref = collections.defaultdict(lambda: [0, 0])
    for src, vals in by_src.items():
        for rk, (nc, did) in enumerate(sorted(vals), start=1):
            ranked[did] = (src, nc, rk)
            ref[rk][0] += 1
            ref[rk][1] += nc
    got = quantile_normalize(spark, sf_dir).collect()
    assert len(got) == len(docs)
    for row in got:
        src, nc, rk = ranked[row["doc_id"]]
        assert (row["source"], row["n_chars"], row["rank"]) == (src, nc, rk)
        k, s = ref[rk]
        assert math.isclose(row["normalized"], round(s / k, 6), abs_tol=1e-9)


def test_qnorm_identical_distributions(spark, sf_dir):
    """After normalization every source carries the SAME multiset of
    normalized values — the defining property of quantile normalization."""
    from fusionspark.queries.pipeline_queries import quantile_normalize

    rows = quantile_normalize(spark, sf_dir).collect()
    by_src = collections.defaultdict(list)
    for r in rows:
        by_src[r["source"]].append(r["normalized"])
    dists = {s: sorted(v) for s, v in by_src.items()}
    base = next(iter(dists.values()))
    assert all(v == base for v in dists.values())
    # and the within-source order is preserved: rank increases with value
    one = sorted(
        ((r["rank"], r["n_chars"]) for r in rows
         if r["source"] == rows[0]["source"])
    )
    ncs = [nc for _, nc in one]
    assert ncs == sorted(ncs)


# ---------------------------------------------------------------------------
# capture_recapture
# ---------------------------------------------------------------------------


def test_capture_recapture_exact_on_uniform_population():
    """Law: if both occasions sample the SAME full population, LP == N
    exactly (m == n1 == n2 == N)."""
    n = 500
    lp = (n * n) / n
    assert lp == n


# ---------------------------------------------------------------------------
# extreme_value_fit
# ---------------------------------------------------------------------------


def test_evt_return_level_exceeds_observed_quantile():
    """Law: for Gumbel MoM on any non-degenerate sample, RL(100) > mu
    (since -ln(-ln(0.99)) > 0) and mu < mean."""
    lnrl = -4600149226776579 / 10**15
    assert lnrl < 0  # so mu - beta*lnrl > mu for beta > 0
    gamma = 5772156649015329 / 10**16
    assert gamma > 0  # so mu < mean


# ---------------------------------------------------------------------------
# durbin_watson
# ---------------------------------------------------------------------------


def _dw_python(ys):
    n = len(ys)
    st = n * (n + 1) // 2
    stt = sum((t + 1) ** 2 for t in range(n))
    sy = sum(ys)
    sty = sum((t + 1) * y for t, y in enumerate(ys))
    det = n * stt - st * st
    bnum = n * sty - st * sy
    anum = sy * stt - st * sty
    e = [det * y - anum - bnum * (t + 1) for t, y in enumerate(ys)]
    see = sum(v * v for v in e)
    sdd = sum((a - b) ** 2 for a, b in zip(e[1:], e))
    return n, sdd / see


def test_dw_detects_planted_autocorrelation():
    """Laws: an alternating residual pattern drives DW toward 4 (negative
    autocorrelation); a slow sine-like drift drives DW toward 0; pure
    trend lines have zero residuals (DW undefined — excluded)."""
    alt = [100 + (10 if t % 2 == 0 else -10) for t in range(40)]
    _, dw_alt = _dw_python(alt)
    assert dw_alt > 3.0
    drift = [100 + (t % 20 < 10) * 30 for t in range(40)]
    _, dw_drift = _dw_python(drift)
    assert dw_drift < 1.0


# ---------------------------------------------------------------------------
# kruskal_wallis
# ---------------------------------------------------------------------------


def test_kruskal_wallis_reduces_to_mwu_for_two_groups():
    """Law: for 2 tie-free groups, H == z^2-ish monotone in |U - n1n2/2|;
    check the textbook identity H = 12/(N(N+1)) * sum R_i^2/n_i - 3(N+1)
    against direct rank sums on a hand sample."""
    a = [1, 3, 5, 7]
    b = [2, 4, 6, 8]
    allv = sorted(a + b)
    rank = {v: i + 1 for i, v in enumerate(allv)}
    ra = sum(rank[v] for v in a)
    rb = sum(rank[v] for v in b)
    n = 8
    h = 12.0 / (n * (n + 1)) * (ra * ra / 4 + rb * rb / 4) - 3 * (n + 1)
    # near-identical distributions -> H near 0
    assert h < 0.5


# ---------------------------------------------------------------------------
# mcnemar_test
# ---------------------------------------------------------------------------


def test_mcnemar_concordant_pairs_carry_no_information():
    """Law: chi2 depends only on (b, c) — adding concordant pairs leaves
    it unchanged."""
    b, c = 30, 18
    chi = (b - c) ** 2 / (b + c)
    assert chi == (b - c) ** 2 / (b + c)  # independent of a, d by form


# ---------------------------------------------------------------------------
# cronbach_alpha
# ---------------------------------------------------------------------------


def test_cronbach_perfectly_correlated_items_alpha_one():
    """Law: k identical items give alpha exactly 1 (vt = k^2 * v,
    vi = k * v)."""
    k, v = 5, 7.3
    vt = k * k * v
    vi = k * v
    alpha = (k * (vt - vi)) / ((k - 1) * vt)
    assert math.isclose(alpha, 1.0, abs_tol=1e-12)


def test_cronbach_independent_items_alpha_near_zero():
    """Law: independent equal-variance items give alpha ~ 0 (vt ~ vi)."""
    k, v = 5, 2.0
    vt = k * v  # independence: total variance is the sum
    vi = k * v
    alpha = (k * (vt - vi)) / ((k - 1) * vt)
    assert alpha == 0.0


# ---------------------------------------------------------------------------
# friedman_test
# ---------------------------------------------------------------------------


def test_friedman_identical_columns_zero():
    """Law: if every treatment has the same value in every block, all
    doubled ranks equal k+1 and chi2_F == 0 exactly."""
    n, k = 10, 5
    dr = k + 1  # 2*less + eq + 1 with less=0, eq=k
    ss = k * (n * dr) ** 2
    chi2 = 3.0 * ss / (n * k * (k + 1)) - 3.0 * n * (k + 1)
    assert chi2 == 0.0


def test_friedman_perfect_ordering_maximal():
    """Law: a treatment that wins every block attains the maximal rank sum
    n*(2k-1) doubled; chi2_F is then strictly positive."""
    n, k = 12, 5
    # one treatment always ranked top (doubled rank 2(k-1)+1+1 = 2k),
    # others permute; just check the top treatment's doubled rank
    top_dr = 2 * (k - 1) + 1 + 1
    assert top_dr == 2 * k


# ---------------------------------------------------------------------------
# tost_equivalence
# ---------------------------------------------------------------------------


    # (whether equivalence is ESTABLISHED is sample-size dependent: the
    # sf0.001 arms are too small for the 5% margin; sf0.01+ passes — the
    # verdict parity above is the engine-contract check)


def test_tost_rejects_when_difference_exceeds_margin():
    """Law: a true difference larger than the margin cannot pass TOST."""
    diff, delta, se = 12.0, 5.0, 1.0
    z95 = 1.644853626951473
    assert not ((diff + delta) / se > z95 and (diff - delta) / se < -z95)


# ---------------------------------------------------------------------------
# log_odds_monroe
# ---------------------------------------------------------------------------


def test_log_odds_python_replay(spark, sf_dir):
    from fusionspark.queries.pipeline_queries import log_odds_monroe

    docs = _docs(sf_dir)
    toks = []
    for d in docs:
        for w in d["text"].lower().split(" "):
            if w:
                toks.append((d["source"], w))
    N = len(toks)
    freq = collections.Counter(w for _, w in toks)
    yi = collections.Counter(w for s, w in toks if s == "src0")
    yall = freq
    ni = sum(1 for s, _ in toks if s == "src0")
    nj = N - ni
    prior = 1000
    scored = []
    for w, f in freq.items():
        aw = prior * f / N
        a = yi.get(w, 0)
        b = yall[w] - a
        delta = math.log((a + aw) / (ni + prior - a - aw)) - math.log(
            (b + aw) / (nj + prior - b - aw)
        )
        var = 1.0 / (a + aw) + 1.0 / (b + aw)
        scored.append((round(delta / math.sqrt(var), 6), w, a, b,
                       round(delta, 6)))
    top = sorted(scored, key=lambda t: (-t[0], t[1]))[:20]
    got = log_odds_monroe(spark, sf_dir).collect()
    assert len(got) == 20
    for row, (z, w, a, b, delta) in zip(got, top):
        assert row["word"] == w
        assert (row["y_src"], row["y_rest"]) == (a, b)
        assert math.isclose(row["z"], z, abs_tol=1e-9)
        assert math.isclose(row["log_odds"], delta, abs_tol=1e-9)


def test_log_odds_prior_shrinks_rare_words():
    """Law: a word seen once in src0 and never elsewhere has a SMALLER |z|
    than a word seen 50/10 — the informative prior's whole point over raw
    log-odds (which would rank the singleton infinite)."""
    prior, N = 1000, 10000
    ni = nj = 5000

    def z(a, b, f):
        aw = prior * f / N
        delta = math.log((a + aw) / (ni + prior - a - aw)) - math.log(
            (b + aw) / (nj + prior - b - aw)
        )
        return delta / math.sqrt(1 / (a + aw) + 1 / (b + aw))

    assert abs(z(1, 0, 1)) < abs(z(50, 10, 60))


# ---------------------------------------------------------------------------
# negative_binomial_fit
# ---------------------------------------------------------------------------


def test_nb_moments_roundtrip():
    """Law: MoM inverts — an NB(r, p) has mean r(1-p)/p and var mean/p;
    plugging those back recovers (r, p) exactly."""
    r, p = 7.0, 0.35
    m = r * (1 - p) / p
    v = m / p
    assert math.isclose(m * m / (v - m), r, rel_tol=1e-12)
    assert math.isclose(m / v, p, rel_tol=1e-12)


# ---------------------------------------------------------------------------
# uplift_stump
# ---------------------------------------------------------------------------


def test_uplift_differs_from_conversion_split():
    """Law: uplift targets the treatment-effect DIFFERENCE — a segment can
    have the highest conversion yet zero uplift (conversion equal in both
    arms)."""
    # left: 90% conversion both arms (uplift 0); right: T 40% vs C 10%
    ul = 0.9 - 0.9
    ur = 0.4 - 0.1
    assert abs(ul) < abs(ur)  # the uplift split prefers the right segment


# ---------------------------------------------------------------------------
# salt_plan
# ---------------------------------------------------------------------------


def test_salt_plan_bounds_partition_size():
    """Law: after salting, every sub-key's expected rows ceil(n/s) is at
    most the target (the plan's purpose)."""
    total, n_keys = 100000, 100
    half_mean = total // (n_keys * 2)
    target = half_mean + 1
    for n in (target + 1, 3 * target, 10 * target + 7):
        s = max(1, (n + half_mean) // target)
        assert -(-n // s) <= target + half_mean  # within one mean of target


# ---------------------------------------------------------------------------
# dtw_distance
# ---------------------------------------------------------------------------


def _dtw_python(xs, ys, inf=10**12):
    prev = [0] + [inf] * len(ys)
    for x in xs:
        new = [inf]
        for j, y in enumerate(ys, start=1):
            new.append(abs(x - y) + min(prev[j], prev[j - 1], new[j - 1]))
        prev = new
    return prev[-1]


def test_dtw_laws():
    """DTW laws: identity gives 0; DTW <= lockstep L1 always; a shifted
    copy has small DTW but large lockstep (the reason DTW exists)."""
    xs = [3, 1, 4, 1, 5, 9, 2, 6]
    assert _dtw_python(xs, xs) == 0
    ys = [9, 2, 7, 1, 8, 2, 8, 1]
    assert _dtw_python(xs, ys) <= sum(abs(a - b) for a, b in zip(xs, ys))
    base = [0, 0, 10, 0, 0, 0, 0, 0]
    shift = [0, 0, 0, 10, 0, 0, 0, 0]
    assert _dtw_python(base, shift) < sum(
        abs(a - b) for a, b in zip(base, shift)
    )


# ---------------------------------------------------------------------------
# sax_words
# ---------------------------------------------------------------------------


def test_sax_symbol_monotone_in_level():
    """Law: raising a segment's level never decreases its letter."""
    bp, sd, order = 0.6744897501960817, 2.0, "abcd"

    def letter(dev):
        if dev < -bp * sd:
            return "a"
        if dev < 0.0:
            return "b"
        if dev < bp * sd:
            return "c"
        return "d"

    prev = "a"
    for dev in (-5.0, -1.0, -0.1, 0.0, 0.5, 1.5, 9.0):
        cur = letter(dev)
        assert order.index(cur) >= order.index(prev)
        prev = cur


# ---------------------------------------------------------------------------
# odds_ratio_ci
# ---------------------------------------------------------------------------


def test_odds_ratio_laws():
    """OR laws: independence gives OR == 1; the CI is symmetric in log
    space; swapping exposure labels inverts the OR."""
    a, b, c, d = 30, 60, 10, 20  # a/b == c/d -> OR 1
    assert a * d == b * c
    a, b, c, d = 40, 10, 20, 30
    orr = a * d / (b * c)
    inv = c * b / (d * a)
    assert math.isclose(orr, 1 / inv, rel_tol=1e-12)


# ---------------------------------------------------------------------------
# hurst_exponent
# ---------------------------------------------------------------------------


def _hurst_python(xs):
    sizes = [(5, 1609437912434100), (6, 1791759469228055),
             (10, 2302585092994046), (15, 2708050201102210),
             (30, 3401197381662156)]
    n = len(xs)
    pts = []
    rss = {}
    for m, unum in sizes:
        vals = []
        for b in range(n // m):
            blk = xs[b * m:(b + 1) * m]
            S = sum(blk)
            SS = sum(v * v for v in blk)
            if m * SS - S * S <= 0:
                continue
            cum = 0
            mx, mn = -10**15, 10**15
            for i, v in enumerate(blk, start=1):
                cum += v
                z = m * cum - i * S
                mx, mn = max(mx, z), min(mn, z)
            vals.append((mx - mn) / math.sqrt(m * SS - S * S))
        avg = sum(vals) / len(vals)
        rss[m] = avg
        pts.append((unum / 10**15, math.log(avg)))
    k = len(pts)
    su = sum(u for u, _ in pts)
    sv = sum(v for _, v in pts)
    suv = sum(u * v for u, v in pts)
    suu = sum(u * u for u, _ in pts)
    return rss, (k * suv - su * sv) / (k * suu - su * su)


def test_hurst_detects_persistence():
    """Law: a trending (persistent) series scores higher H than an
    alternating (anti-persistent) one."""
    trend = [100 + 3 * t for t in range(30)]
    alt = [100 + (7 if t % 2 == 0 else -7) for t in range(30)]
    _, h_trend = _hurst_python(trend)
    _, h_alt = _hurst_python(alt)
    assert h_trend > h_alt
    assert h_trend > 0.8  # strong persistence
    assert h_alt < 0.4  # anti-persistent


# ---------------------------------------------------------------------------
# trending_terms
# ---------------------------------------------------------------------------


def test_trending_python_replay(spark, sf_dir):
    from fusionspark.queries.pipeline_queries import trending_terms

    docs = _docs(sf_dir)
    c0, c1 = collections.Counter(), collections.Counter()
    n0 = n1 = 0
    for d in docs:
        ws = [w for w in d["text"].lower().split(" ") if w]
        if d["doc_id"] % 2 == 0:
            c0.update(ws)
            n0 += len(ws)
        else:
            c1.update(ws)
            n1 += len(ws)
    a = 5
    scored = []
    for w in set(c0) | set(c1):
        g = round(
            (c1.get(w, 0) + a) * (n0 + 2 * a)
            / ((c0.get(w, 0) + a) * (n1 + 2 * a)),
            6,
        )
        scored.append((-g, w, c0.get(w, 0), c1.get(w, 0), g))
    top = sorted(scored)[:20]
    got = trending_terms(spark, sf_dir).collect()
    assert len(got) == 20
    for row, (_, w, b, af, g) in zip(got, top):
        assert row["term"] == w
        assert (row["count_before"], row["count_after"]) == (b, af)
        assert math.isclose(row["growth"], g, abs_tol=1e-9)


def test_trending_smoothing_shrinks_singletons():
    """Law: a term going 0 -> 1 grows less than one going 10 -> 30 under
    Laplace smoothing (raw ratio would rank the singleton infinite)."""
    a, n0, n1 = 5, 10000, 10000

    def growth(c0, c1):
        return (c1 + a) * (n0 + 2 * a) / ((c0 + a) * (n1 + 2 * a))

    assert growth(0, 1) < growth(10, 30)


# ---------------------------------------------------------------------------
# rbo_rankings
# ---------------------------------------------------------------------------


def test_rbo_python_replay(spark, sf_dir):
    from fusionspark.functions.text import STOPWORDS
    from fusionspark.queries.text_queries import _RBO_WEIGHTS, rbo_rankings

    docs = _docs(sf_dir)
    stop = set(STOPWORDS)
    tf, df = collections.Counter(), collections.Counter()
    for d in docs:
        ws = [w for w in d["text"].lower().split(" ")
              if w and len(w) > 2 and w not in stop]
        tf.update(ws)
        df.update(set(ws))
    k = 25
    ra = {w: i + 1 for i, (w, _) in enumerate(
        sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:k])}
    rb = {w: i + 1 for i, (w, _) in enumerate(
        sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:k])}
    ms = [max(ra[w], rb[w]) for w in set(ra) & set(rb)]
    rbo = 0.0
    for d_, wgt in _RBO_WEIGHTS:
        x = sum(1 for m in ms if m <= d_)
        rbo += wgt * x / d_
    overlap = sum(1 for m in ms if m <= k)
    got = rbo_rankings(spark, sf_dir).collect()[0]
    assert got["k"] == k
    assert got["overlap_at_k"] == overlap
    assert math.isclose(got["rbo"], round(rbo, 6), abs_tol=1e-9)


def test_rbo_laws():
    """RBO laws: identical rankings give the truncated maximum (sum of
    weights); disjoint rankings give 0; weights sum below 1 (truncation)."""
    from fusionspark.queries.text_queries import _RBO_WEIGHTS

    wsum = sum(w for _, w in _RBO_WEIGHTS)
    assert 0.9 < wsum < 1.0  # truncated geometric mass
    # identical lists: X_d = d at every depth -> rbo == wsum
    rbo_same = sum(w * d / d for d, w in _RBO_WEIGHTS)
    assert math.isclose(rbo_same, wsum, abs_tol=1e-12)
    # disjoint lists: X_d = 0 -> rbo == 0
    assert sum(w * 0 / d for d, w in _RBO_WEIGHTS) == 0.0


# ---------------------------------------------------------------------------
# needleman_wunsch
# ---------------------------------------------------------------------------


def _nw_python(xs, ys, match=2, miss=-1, gap=-1):
    prev = [gap * j for j in range(len(ys) + 1)]
    for x in xs:
        new = [prev[0] + gap]
        for j, y in enumerate(ys, start=1):
            s = match if x == y else miss
            new.append(max(prev[j - 1] + s, prev[j] + gap, new[j - 1] + gap))
        prev = new
    return prev[-1]


def test_nw_python_replay(spark, sf_dir):
    from fusionspark.queries.pipeline_queries import needleman_wunsch

    docs = {d["doc_id"]: d for d in _docs(sf_dir)}
    n = len(docs)
    got = needleman_wunsch(spark, sf_dir).collect()
    assert len(got) == min(20, n - n // 2)
    for row in got:
        a = [w for w in docs[row["a_id"]]["text"].lower().split(" ") if w][:40]
        b = [w for w in docs[row["b_id"]]["text"].lower().split(" ") if w][:40]
        assert row["b_id"] == row["a_id"] + n // 2
        assert (row["len_a"], row["len_b"]) == (len(a), len(b))
        score = _nw_python(a, b)
        assert row["nw_score"] == score
        assert math.isclose(
            row["similarity"],
            round(score / (2 * max(len(a), len(b))), 6), abs_tol=1e-9,
        )


def test_nw_textbook_laws():
    """NW laws: identical sequences score 2n (similarity 1); fully
    disjoint sequences of equal length score -n (all mismatches beat
    double gaps); one insertion costs exactly one gap."""
    a = ["the", "cat", "sat", "on", "the", "mat"]
    assert _nw_python(a, a) == 2 * len(a)
    b = ["x1", "x2", "x3", "x4", "x5", "x6"]
    assert _nw_python(a, b) == -len(a)
    ins = a[:3] + ["INSERTED"] + a[3:]
    assert _nw_python(a, ins) == 2 * len(a) - 1


# ---------------------------------------------------------------------------
# range_bounds_plan
# ---------------------------------------------------------------------------


def test_range_bounds_balance_law():
    """Law: consecutive marks differ by n//32 or n//32 + 1 rows — every
    partition lands within one row of the target."""
    n = 100003
    marks = [(i * n) // 32 for i in range(33)]
    gaps = {b - a for a, b in zip(marks, marks[1:])}
    assert gaps <= {n // 32, n // 32 + 1}


# ---------------------------------------------------------------------------
# krippendorff_alpha
# ---------------------------------------------------------------------------


def test_krippendorff_perfect_and_chance():
    """Laws: unanimous units (do_sum 0) give alpha 1; the binary 2-rater
    special case collapses toward Scott's pi behavior (sanity: alpha
    decreases as disagreement increases, all else fixed)."""
    def alpha(n_units, p1, p0, do_sum, m=3):
        return 1 - (m * n_units - 1) * do_sum / (2 * p1 * p0)

    assert alpha(100, 150, 150, 0) == 1.0
    assert alpha(100, 150, 150, 50) > alpha(100, 150, 150, 100)


# ---------------------------------------------------------------------------
# k_truss
# ---------------------------------------------------------------------------


def test_ktruss_peels_pendant_edges():
    """Law: a triangle with a pendant edge peels to the triangle (every
    triangle edge has support 1 >= k-2 only for k=3; for k=4 a LONE
    triangle dies too, but two triangles sharing an edge survive)."""
    # two triangles sharing edge (0,1): 0-1-2 and 0-1-3 plus the shared edge
    edges = {(0, 1), (0, 2), (1, 2), (0, 3), (1, 3), (4, 0)}
    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    support = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
    assert support[(4, 0)] == 0  # pendant dies first
    assert support[(0, 1)] == 2  # shared edge meets the 4-truss bar


# ---------------------------------------------------------------------------
# cosine_histogram
# ---------------------------------------------------------------------------


def test_cosine_histogram_python_replay(spark, sf_dir):
    from fusionspark.queries.vector_queries import cosine_histogram

    embs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in pq.read_table(f"{sf_dir}/embeddings.parquet").to_pylist()}
    n = len(embs)
    bins = collections.Counter()
    for i in range(n // 2):
        va, vb = embs[i], embs[i + n // 2]
        dot = na = nb = 0.0
        for x, y in zip(va, vb):
            dot += x * y
        for x in va:
            na += x * x
        for y in vb:
            nb += y * y
        sim = dot / (math.sqrt(na) * math.sqrt(nb))
        b = min(19, (_round_away(sim * 1000000) + 1000000) // 100000)
        bins[b] += 1
    got = {r["bin"]: r for r in cosine_histogram(spark, sf_dir).collect()}
    assert sorted(got) == sorted(bins)
    for b, cnt in bins.items():
        assert got[b]["n_pairs"] == cnt
        assert math.isclose(got[b]["bin_lo"], round((b - 10) / 10, 6),
                            abs_tol=1e-9)
    assert sum(bins.values()) == n // 2


def test_cosine_histogram_bins_cover_unit_interval():
    """Law: sim -1 maps to bin 0, sim 0 to bin 10, sim 1 clamps to 19."""
    def bin_of(sim):
        return min(19, (_round_away(sim * 1000000) + 1000000) // 100000)

    assert bin_of(-1.0) == 0
    assert bin_of(0.0) == 10
    assert bin_of(1.0) == 19
    assert bin_of(0.999999) == 19


# ---------------------------------------------------------------------------
# join_order_plan
# ---------------------------------------------------------------------------


def test_join_cardinality_identity():
    """Law: |A join B| on k == sum_k cnt_A * cnt_B — checked against a
    brute-force join on a hand example with duplicate keys."""
    A = [1, 1, 2, 3]
    B = [1, 2, 2, 2, 4]
    brute = sum(1 for a in A for b in B if a == b)
    ca, cb = collections.Counter(A), collections.Counter(B)
    assert brute == sum(ca[k] * cb[k] for k in ca.keys() & cb.keys())


# ---------------------------------------------------------------------------
# ab_srm_check
# ---------------------------------------------------------------------------


def test_srm_detects_broken_split():
    """Law: a 55/45 split at n=20000 fails SRM decisively."""
    n0, n1 = 11000, 9000
    chi2 = (n0 - n1) ** 2 / (n0 + n1)
    assert chi2 > 3.841458820694124


# ---------------------------------------------------------------------------
# gamma_fit
# ---------------------------------------------------------------------------


def test_gamma_moments_roundtrip():
    """Law: Gamma(k, theta) has mean k*theta and var k*theta^2 — MoM
    inverts exactly."""
    k, theta = 2.5, 40.0
    m, v = k * theta, k * theta * theta
    assert math.isclose(m * m / v, k, rel_tol=1e-12)
    assert math.isclose(v / m, theta, rel_tol=1e-12)


# ---------------------------------------------------------------------------
# tukey_hsd
# ---------------------------------------------------------------------------


def test_tukey_familywise_stricter_than_pairwise():
    """Law: the Tukey critical value q/sqrt(2) = 2.728 exceeds the
    pairwise z critical 1.96 — HSD is stricter than naive t tests."""
    assert 3.858 / math.sqrt(2) > 1.959963984540054


# ---------------------------------------------------------------------------
# smith_waterman
# ---------------------------------------------------------------------------


def _sw_python(xs, ys, match=3, miss=-2, gap=-2):
    best = 0
    prev = [0] * (len(ys) + 1)
    for x in xs:
        new = [0]
        for j, y in enumerate(ys, start=1):
            s = match if x == y else miss
            new.append(max(0, prev[j - 1] + s, prev[j] + gap, new[j - 1] + gap))
        best = max(best, max(new))
        prev = new
    return best


def test_sw_python_replay(spark, sf_dir):
    from fusionspark.queries.pipeline_queries import smith_waterman

    docs = {d["doc_id"]: d for d in _docs(sf_dir)}
    n = len(docs)
    got = smith_waterman(spark, sf_dir).collect()
    for row in got:
        a = [w for w in docs[row["a_id"]]["text"].lower().split(" ") if w][:40]
        b = [w for w in docs[row["b_id"]]["text"].lower().split(" ") if w][:40]
        assert row["sw_score"] == _sw_python(a, b)


def test_sw_finds_embedded_quote_where_nw_fails():
    """Law: a verbatim 8-token quote inside otherwise-disjoint docs scores
    8*match locally while the NW global score stays negative."""
    quote = [f"q{i}" for i in range(8)]
    a = [f"a{i}" for i in range(16)] + quote + [f"A{i}" for i in range(16)]
    b = [f"b{i}" for i in range(16)] + quote + [f"B{i}" for i in range(16)]
    assert _sw_python(a, b) == 8 * 3
    assert _nw_python(a, b) < 0


def test_sw_nonnegative_and_bounded():
    """Laws: SW >= 0 always; SW <= match * min(len)."""
    import random

    rng = random.Random(3)
    for _ in range(20):
        xs = [rng.randint(0, 5) for _ in range(rng.randint(1, 15))]
        ys = [rng.randint(0, 5) for _ in range(rng.randint(1, 15))]
        sw = _sw_python(xs, ys)
        assert 0 <= sw <= 3 * min(len(xs), len(ys))


# ---------------------------------------------------------------------------
# seasonality_power
# ---------------------------------------------------------------------------


def test_seasonality_detects_planted_weekly_cycle():
    """Law: a pure period-7 cosine series puts (almost) all its energy in
    the period-7 bin and none in period-15."""
    n = 28  # multiple of 7 so the bin is exact
    xs = [1000 + round(100 * math.cos(2 * math.pi * t / 7)) for t in range(n)]
    S = sum(xs)
    z = [n * x - S for x in xs]

    def power(p):
        zc = [0] * p
        for i, v in enumerate(z):
            zc[i % p] += v
        c = sum(zc[d] * math.cos(2 * math.pi * d / p) for d in range(p))
        s_ = sum(zc[d] * math.sin(2 * math.pi * d / p) for d in range(p))
        return (c * c + s_ * s_) / (n * n)

    assert power(7) > 100 * power(15)


# ---------------------------------------------------------------------------
# chow_test
# ---------------------------------------------------------------------------


def _rss_python(pts):
    n = len(pts)
    st = sum(t for t, _ in pts)
    sy = sum(y for _, y in pts)
    sty = sum(t * y for t, y in pts)
    stt = sum(t * t for t, _ in pts)
    syy = sum(y * y for _, y in pts)
    num = n * sty - st * sy
    return ((n * syy - sy * sy) - num * num / (n * stt - st * st)) / n


def test_chow_detects_planted_break():
    """Law: a slope flip at the midpoint produces a huge F; an unbroken
    line produces F ~ 0."""
    clean = [(t, 100 + 2 * t) for t in range(1, 31)]
    assert abs(_rss_python(clean)) < 1e-6
    broken = [(t, 100 + 2 * t if t <= 15 else 160 - 2 * (t - 15))
              for t in range(1, 31)]
    rf = _rss_python(broken)
    r1 = _rss_python(broken[:15])
    r2 = _rss_python(broken[15:])
    assert r1 < 1e-6 and r2 < 1e-6 and rf > 100  # break absorbed by halves


# ---------------------------------------------------------------------------
# cooks_distance
# ---------------------------------------------------------------------------


def test_cooks_laws():
    """Laws: leverage is maximal at the series endpoints and minimal at
    the center; Cook's D of a point ON the fitted line is 0."""
    n = 30
    st = n * (n + 1) // 2
    stt = sum(t * t for t in range(1, n + 1))
    det = n * stt - st * st
    hs = [1 / n + ((n * t - st) ** 2) / (n * det) for t in range(1, n + 1)]
    assert hs[0] == max(hs) or hs[-1] == max(hs)
    assert min(hs) == min(hs[n // 2 - 1], hs[n // 2])


# ---------------------------------------------------------------------------
# linear_shap
# ---------------------------------------------------------------------------


def test_linear_shap_python_replay(spark, sf_dir):
    import hashlib

    from fusionspark.queries.pipeline_queries import _SHAP_W, linear_shap

    docs = _docs(sf_dir)
    n = len(docs)
    counts = []
    for d in docs:
        c = [0] * 16
        for w in d["text"].lower().split(" "):
            if w:
                c[int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 16] += 1
        counts.append(c)
    S = [sum(c[j] for c in counts) for j in range(16)]
    A = [
        sum(abs(_SHAP_W[j] * (n * c[j] - S[j])) for c in counts)
        for j in range(16)
    ]
    exp = sorted(range(16), key=lambda j: (-A[j], j))
    got = linear_shap(spark, sf_dir).collect()
    assert [r["feature"] for r in got] == exp
    for r in got:
        j = r["feature"]
        assert r["weight"] == _SHAP_W[j]
        assert r["total_count"] == S[j]
        assert math.isclose(r["mean_abs_attribution"],
                            round(A[j] / (n * n), 6), abs_tol=1e-9)


def test_linear_shap_efficiency_identity():
    """Law: for a linear model, per-doc attributions sum to score minus
    expected score EXACTLY — the SHAP efficiency axiom with no
    approximation."""
    W = [3, -2, 5]
    xs = [[1, 0, 2], [0, 4, 1], [2, 2, 2]]
    n = len(xs)
    S = [sum(x[j] for x in xs) for j in range(3)]
    for x in xs:
        score = sum(W[j] * x[j] for j in range(3))
        escore = sum(W[j] * S[j] for j in range(3)) / n
        phis = [W[j] * (x[j] - S[j] / n) for j in range(3)]
        assert math.isclose(sum(phis), score - escore, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# qini_curve
# ---------------------------------------------------------------------------


def test_qini_endpoints():
    """Laws: the random baseline meets the curve exactly at decile 10
    (qini_minus_random == 0 there), and a perfect uplift ranking has a
    nonnegative area (synthetic check)."""
    # at d=10 the subtraction is qv - qtot * 1 == 0 by construction
    qtot = 42.0
    assert qtot - qtot * 10 / 10 == 0.0


# ---------------------------------------------------------------------------
# bloom_sizing_plan
# ---------------------------------------------------------------------------


def test_bloom_sizing_textbook_ratio():
    """Law: at fpp=1% the optimal filter needs ~9.59 bits/key and ~7
    hashes — the textbook numbers."""
    ln2 = math.log(2)
    bits_per_key = -math.log(0.01) / (ln2 * ln2)
    assert 9.5 < bits_per_key < 9.7
    assert round(bits_per_key * ln2) == 7


# ---------------------------------------------------------------------------
# label_model_3lf
# ---------------------------------------------------------------------------


def test_label_model_triangulation_recovers_planted_accuracies():
    """Law: simulate 3 conditionally-independent LFs with known
    accuracies on balanced labels — the closed form recovers them."""
    import random

    rng = random.Random(11)
    accs = (0.9, 0.75, 0.65)
    n = 200000
    a = [[0] * 3 for _ in range(3)]
    for _ in range(n):
        y = rng.random() < 0.5
        ls = [
            (y if rng.random() < p else (not y)) for p in accs
        ]
        for i in range(3):
            for j in range(i + 1, 3):
                a[i][j] += ls[i] == ls[j]
    c = {}
    for i in range(3):
        for j in range(i + 1, 3):
            c[(i, j)] = 2 * a[i][j] / n - 1
    est1 = (1 + math.sqrt(c[(0, 1)] * c[(0, 2)] / c[(1, 2)])) / 2
    est2 = (1 + math.sqrt(c[(0, 1)] * c[(1, 2)] / c[(0, 2)])) / 2
    est3 = (1 + math.sqrt(c[(0, 2)] * c[(1, 2)] / c[(0, 1)])) / 2
    assert abs(est1 - 0.9) < 0.02
    assert abs(est2 - 0.75) < 0.02
    assert abs(est3 - 0.65) < 0.02


# ---------------------------------------------------------------------------
# hll_daily_union
# ---------------------------------------------------------------------------


def test_hll_union_python_replay(spark, sf_dir):
    import hashlib

    from fusionspark.queries.pipeline_queries import hll_daily_union

    evs = _events(sf_dir)
    users = {str(r["user_id"]) for r in evs}
    regs = [0] * 256
    for v in users:
        h = int(hashlib.md5(v.encode()).hexdigest()[:8], 16)
        bucket = h // 16777216
        tail = h % 16777216
        rho = 24 - tail.bit_length() + 1 if tail else 25
        regs[bucket] = max(regs[bucket], rho)
    z = sum(2.0 ** -r for r in regs)
    vz = sum(1 for r in regs if r == 0)
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    raw = alpha * 256.0 * 256.0 / z
    est = 256.0 * math.log(256.0 / vz) if (raw <= 2.5 * 256 and vz > 0) else raw
    checksum = sum((b + 1) * r for b, r in enumerate(regs))
    got = hll_daily_union(spark, sf_dir).collect()[0]
    assert got["exact_distinct"] == len(users)
    assert got["register_checksum"] == checksum
    assert math.isclose(got["merged_estimate"], round(est, 6), abs_tol=1e-6)
    # estimate within ~10% of truth at 256 registers
    assert abs(got["merged_estimate"] - len(users)) < 0.15 * len(users) + 20


def test_hll_merge_associativity():
    """Law: register-wise max of per-slice sketches == whole-set sketch,
    for ANY slicing — max is associative/commutative/idempotent."""
    import hashlib

    vals = [f"u{i}" for i in range(500)]

    def regs_of(vs):
        regs = [0] * 256
        for v in vs:
            h = int(hashlib.md5(v.encode()).hexdigest()[:8], 16)
            b, tail = h // 16777216, h % 16777216
            rho = 24 - tail.bit_length() + 1 if tail else 25
            regs[b] = max(regs[b], rho)
        return regs

    whole = regs_of(vals)
    merged = [0] * 256
    for lo in range(0, 500, 77):
        part = regs_of(vals[lo:lo + 77])
        merged = [max(a, b) for a, b in zip(merged, part)]
    assert merged == whole


# ---------------------------------------------------------------------------
# systematic_sample
# ---------------------------------------------------------------------------


def test_systematic_python_replay(spark, sf_dir):
    from fusionspark.queries.pipeline_queries import systematic_sample

    docs = sorted(_docs(sf_dir), key=lambda d: d["doc_id"])
    tw = sum(d["n_chars"] for d in docs)
    k = max(tw // 100, 1)
    exp = []
    c = 0
    for d in docs:
        lo = c
        c += d["n_chars"]
        hits = c // k - lo // k
        if hits > 0:
            exp.append((d["doc_id"], d["n_chars"], c, hits))
    got = [(r["doc_id"], r["weight"], r["cum_weight"], r["n_hits"])
           for r in systematic_sample(spark, sf_dir).collect()]
    assert got == exp


def test_systematic_pps_laws():
    """Laws: total hits == floor(total/k) (grid points covered exactly
    once); a unit with weight >= k is ALWAYS selected."""
    ws = [30, 500, 12, 80, 250, 45, 90, 700, 5, 110]
    tw = sum(ws)
    k = max(tw // 5, 1)
    c = 0
    hits = []
    for w in ws:
        lo = c
        c += w
        hits.append(c // k - lo // k)
    assert sum(hits) == tw // k
    for w, h in zip(ws, hits):
        if w >= k:
            assert h >= 1


# ---------------------------------------------------------------------------
# entropy_rate
# ---------------------------------------------------------------------------


def test_entropy_rate_deterministic_chain_zero():
    """Law: a deterministic cycle (A->B->C->A...) has entropy rate 0; a
    uniform chain over 5 states has ln(5)."""
    # deterministic: every row has one outgoing type, P=1, ln(1)=0
    assert math.log(1) == 0.0
    # uniform: H = ln(5)
    k = 5
    h = sum((1 / k) * (1 / k) * math.log(k) for _ in range(k) for _ in range(k))
    assert math.isclose(h, math.log(k), rel_tol=1e-12)


# ---------------------------------------------------------------------------
# coin_uniformity
# ---------------------------------------------------------------------------


def test_coin_uniformity_rejects_skewed_coin():
    """Law: a coin squeezed into the lower half of the range fails KS
    decisively at n=1000."""
    n = 1000
    coins = sorted((i * 2147483648) // n for i in range(n))  # only [0, 2^31)
    dplus = max((i + 1) * 4294967296 - n * c for i, c in enumerate(coins))
    dminus = max(n * c - i * 4294967296 for i, c in enumerate(coins))
    ks = max(dplus, dminus) / (n * 4294967296)
    assert ks * math.sqrt(n) > 1.358
    assert abs(ks - 0.5) < 0.01  # half the mass is missing


# ---------------------------------------------------------------------------
# levene_test
# ---------------------------------------------------------------------------


def test_levene_detects_planted_heteroskedasticity():
    """Law: two groups with equal medians but 10x different spreads
    produce a huge Brown-Forsythe F; identical groups produce F == 0."""

    def bf(groups):
        stats = []
        for vs in groups:
            vs = sorted(vs)
            n = len(vs)
            med2 = vs[(n + 1) // 2 - 1] + vs[n // 2]
            ds = [abs(2 * v - med2) for v in vs]
            stats.append((n, sum(ds), sum(d * d for d in ds)))
        k = len(groups)
        sb = sum(s * s / n for n, s, _ in stats)
        nn = sum(n for n, _, _ in stats)
        stot = sum(s for _, s, _ in stats)
        sstot = sum(ss for _, _, ss in stats)
        return ((sb - stot * stot / nn) / (k - 1)) / (
            (sstot - sb) / (nn - k)
        )

    tight = [100 + (i % 3) for i in range(60)]
    wide = [100 + 30 * (i % 3) - 30 for i in range(60)]
    assert bf([tight, wide]) > 10
    assert abs(bf([tight, list(tight)])) < 1e-9
