"""Hypothesis property tests for the round-11-continuation operators:
laws that must hold on ARBITRARY inputs, not just the gate corpus."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.test_round12_ops import (
    _dtw_python,
    _dw_python,
    _msttr_python,
    _nw_python,
    _stump_python,
    _sw_python,
    _textrank_python,
)


# ── DTW ────────────────────────────────────────────────────────────────────


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(0, 50), min_size=1, max_size=12))
def test_dtw_identity_and_symmetry(xs):
    """DTW(x, x) == 0, DTW(x, y) == DTW(y, x), DTW >= |sum-difference|/n
    scale bound: DTW <= lockstep L1 when lengths match."""
    assert _dtw_python(xs, xs) == 0
    ys = list(reversed(xs))
    assert _dtw_python(xs, ys) == _dtw_python(ys, xs)
    assert _dtw_python(xs, ys) <= sum(abs(a - b) for a, b in zip(xs, ys))


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(0, 30), min_size=2, max_size=10),
    st.integers(1, 5),
)
def test_dtw_time_shift_invariance_on_padded(xs, pad):
    """A level-padded shift costs at most the padding mismatch — DTW of x
    against [x[0]]*pad + x stays 0 (the warping absorbs the shift)."""
    shifted = [xs[0]] * pad + xs
    assert _dtw_python(xs, shifted) == 0


# ── alignment (NW / SW) ────────────────────────────────────────────────────


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(0, 8), min_size=1, max_size=12))
def test_nw_sw_self_alignment(xs):
    """NW(x, x) == 2|x| (match=2); SW(x, x) == 3|x| (match=3); and SW is
    always >= 0 while NW(x, x) is the NW maximum over same-length pairs."""
    assert _nw_python(xs, xs) == 2 * len(xs)
    assert _sw_python(xs, xs) == 3 * len(xs)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(0, 8), min_size=1, max_size=10),
    st.lists(st.integers(0, 8), min_size=1, max_size=10),
)
def test_alignment_bounds(xs, ys):
    """Bounds: NW <= 2*min(len) (cannot beat all-match), SW in
    [0, 3*min(len)]; symmetry for both."""
    assert _nw_python(xs, ys) <= 2 * min(len(xs), len(ys))
    sw = _sw_python(xs, ys)
    assert 0 <= sw <= 3 * min(len(xs), len(ys))
    assert _nw_python(xs, ys) == _nw_python(ys, xs)
    assert sw == _sw_python(ys, xs)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(0, 5), min_size=2, max_size=8),
    st.integers(0, 5),
    st.data(),
)
def test_nw_single_insertion_costs_one_gap(xs, tok, data):
    """Inserting one token anywhere into x costs exactly one gap against
    the original."""
    pos = data.draw(st.integers(0, len(xs)))
    ins = xs[:pos] + [999] + xs[pos:]  # 999 never matches 0..5
    assert _nw_python(xs, ins) == 2 * len(xs) - 1


# ── fixed-point TextRank ───────────────────────────────────────────────────


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdefgh", min_size=3, max_size=5),
        min_size=4,
        max_size=20,
    )
)
def test_textrank_mass_bounded_and_deterministic(words):
    """Fixed-point law: every rank is a nonneg int; total mass never
    exceeds the scale; two identical runs agree exactly."""
    rows = [{"doc_id": 0, "text": " ".join(words + words)}]
    try:
        a = _textrank_python(rows)
        b = _textrank_python(rows)
    except ZeroDivisionError:
        return  # no edges (all tokens identical/stopword-like) — vacuous
    assert a == b
    assert all(isinstance(v, int) and v >= 0 for _, v in a)
    assert sum(v for _, v in a) <= 10**12


# ── systematic sampling ────────────────────────────────────────────────────


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(1, 1000), min_size=1, max_size=50))
def test_systematic_grid_coverage(ws):
    """Exactly floor(total/k) grid points are covered, each once; units
    with weight >= k are always selected."""
    tw = sum(ws)
    k = max(tw // 7, 1)
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
        assert h >= 0


# ── Durbin-Watson ──────────────────────────────────────────────────────────


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 100), min_size=5, max_size=30))
def test_dw_range(ys):
    """DW always lies in [0, 4] (Cauchy-Schwarz on the difference
    operator); residuals of a perfect line are all zero (excluded)."""
    n = len(ys)
    st_ = n * (n + 1) // 2
    stt = sum((t + 1) ** 2 for t in range(n))
    sy = sum(ys)
    sty = sum((t + 1) * y for t, y in enumerate(ys))
    det = n * stt - st_ * st_
    bnum = n * sty - st_ * sy
    anum = sy * stt - st_ * sty
    e = [det * y - anum - bnum * (t + 1) for t, y in enumerate(ys)]
    if all(v == 0 for v in e):
        return  # perfect fit: DW undefined
    _, dw = _dw_python(ys)
    assert -1e-9 <= dw <= 4 + 1e-9


# ── MSTTR ──────────────────────────────────────────────────────────────────


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=50,
                max_size=200))
def test_msttr_in_unit_interval_and_repeat_invariant(tokens):
    """MSTTR lies in (0, 1]; duplicating the doc leaves it unchanged
    (complete-segment invariance)."""
    text = " ".join(tokens)
    rows = [{"doc_id": 1, "source": "s", "text": text}]
    m = _msttr_python(rows)
    if "s" not in m:
        return  # fewer than 50 whitespace tokens after filtering
    v = m["s"][3]
    assert 0 < v <= 1
    double_rows = [{"doc_id": 1, "source": "s",
                    "text": text + " " + text}]
    m2 = _msttr_python(double_rows)
    # doubled text has the same complete segments repeated
    assert abs(m2["s"][3] - v) < 1e-12 or m2["s"][1] != 2 * m["s"][1]


# ── decision stump ─────────────────────────────────────────────────────────


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 1)),
        min_size=4,
        max_size=60,
    )
)
def test_stump_split_never_worse_than_root(pairs):
    """The best split's weighted Gini never exceeds the root Gini."""
    xs = {x for x, _ in pairs}
    if len(xs) < 2:
        return
    n = len(pairs)
    p = sum(y for _, y in pairs)
    root = (n * n - p * p - (n - p) * (n - p)) / (n * n)
    res = _stump_python(pairs)
    if res is None:
        return
    _, score, *_ = res
    assert score / n <= root + 1e-9
