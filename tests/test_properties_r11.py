"""Hypothesis property tests for round-11 operators: laws that must hold
on ARBITRARY inputs, not just the gate corpus."""

from __future__ import annotations

import hashlib
import math

from hypothesis import given, settings
from hypothesis import strategies as st


# ── GRPO ───────────────────────────────────────────────────────────────────


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 100), min_size=1, max_size=16))
def test_grpo_integer_form_equals_standardization(rewards):
    """(k·r − S)/√(k·Σr² − S²) == (r − mean)/pop_std for EVERY integer
    reward group — the all-BIGINT reduction loses nothing."""
    k = len(rewards)
    s = sum(rewards)
    s2 = sum(r * r for r in rewards)
    rad = k * s2 - s * s
    mean = s / k
    var = s2 / k - mean * mean
    for r in rewards:
        ours = 0.0 if rad == 0 else (k * r - s) / math.sqrt(rad)
        if rad == 0:
            assert abs(var) < 1e-9
        else:
            # ours standardizes by the population std: (r-mean)/sqrt(var)
            textbook = (r - mean) / math.sqrt(var)
            assert abs(ours - textbook) < 1e-9 * max(1.0, abs(textbook))


# ── Mann-Whitney ────────────────────────────────────────────────────────────


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(0, 20), min_size=1, max_size=30),
    st.lists(st.integers(0, 20), min_size=1, max_size=30),
)
def test_mann_whitney_doubled_ranks_equal_pair_counting(g0, g1):
    """The doubled-average-rank U (the query's integer form) equals the
    definitional pair count 2·(#{x1 > x0} + ½·#{x1 == x0}), and
    U1 + U2 == n1·n2 (the complementarity law), for ALL integer samples."""
    from collections import Counter

    values = sorted(g0 + g1)
    cnt = Counter(values)
    less = {}
    run = 0
    for v in sorted(cnt):
        less[v] = run
        run += cnt[v]
    # query form: doubled rank-sum of group 1 minus n1(n1+1)
    r1_x2 = sum(2 * less[v] + cnt[v] + 1 for v in g1)
    n1, n0 = len(g1), len(g0)
    u1_x2 = r1_x2 - n1 * (n1 + 1)
    # definitional pair counting
    wins = sum(1 for a in g1 for b in g0 if a > b)
    ties = sum(1 for a in g1 for b in g0 if a == b)
    assert u1_x2 == 2 * wins + ties
    # complementarity
    r0_x2 = sum(2 * less[v] + cnt[v] + 1 for v in g0)
    u0_x2 = r0_x2 - n0 * (n0 + 1)
    assert u1_x2 + u0_x2 == 2 * n0 * n1


# ── windowFunnel ────────────────────────────────────────────────────────────


def _funnel_fold(events, window):
    """The query's greedy latest-chain-start fold."""
    UNSET = -(1 << 62)
    s = [UNSET, UNSET, UNSET]
    for t, step in events:
        if step == 1:
            s[0] = max(s[0], t)
        elif step == 2 and s[0] > UNSET and t - s[0] <= window:
            s[1] = max(s[1], s[0])
        elif step == 3 and s[1] > UNSET and t - s[1] <= window:
            s[2] = max(s[2], s[1])
    return 3 if s[2] > UNSET else 2 if s[1] > UNSET else 1 if s[0] > UNSET else 0


def _funnel_brute(events, window):
    """Ground truth: max k such that an in-order chain e1<…<ek exists
    with every step inside `window` of the chain's first step."""
    n = len(events)
    best = 0
    # chains are subsequences with steps 1..k in order
    for i in range(n):
        if events[i][1] != 1:
            continue
        best = max(best, 1)
        for j in range(i + 1, n):
            if events[j][1] != 2 or events[j][0] - events[i][0] > window:
                continue
            best = max(best, 2)
            for k in range(j + 1, n):
                if events[k][1] == 3 and events[k][0] - events[i][0] <= window:
                    best = max(best, 3)
    return best


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 3)),
        min_size=0,
        max_size=12,
    ),
    st.integers(1, 25),
)
def test_window_funnel_greedy_equals_bruteforce(events, window):
    """The greedy latest-chain-start fold computes EXACTLY the maximal
    reachable level over all valid chains — for every event sequence and
    window.  (This is the law the earliest-start draft violated.)"""
    events = sorted(events)
    assert _funnel_fold(events, window) == _funnel_brute(events, window)


# ── CDC chunking ────────────────────────────────────────────────────────────


def _cdc_cuts(words, window=4, mask=16):
    cuts = [0]
    for i in range(window, len(words) + 1):
        win = " ".join(words[i - window : i])
        if int(hashlib.md5(win.encode()).hexdigest()[:8], 16) % mask == 0:
            cuts.append(i)
    if cuts[-1] != len(words):
        cuts.append(len(words))
    return cuts


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 9), min_size=1, max_size=120))
def test_cdc_chunks_partition_the_sequence(word_ids):
    """Chunks always partition the word sequence exactly (concatenation
    reconstructs it), and every boundary decision is content-local:
    editing one word can only move boundaries within `window` positions
    of the edit."""
    words = [f"w{i}" for i in word_ids]
    cuts = _cdc_cuts(words)
    assert cuts[0] == 0 and cuts[-1] == len(words)
    assert cuts == sorted(set(cuts))
    chunks = [words[cuts[j] : cuts[j + 1]] for j in range(len(cuts) - 1)]
    assert [w for c in chunks for w in c] == words
    # content-locality: flip the middle word, boundaries outside the
    # window neighbourhood of the edit are unchanged
    if len(words) > 10:
        edit = len(words) // 2
        mutated = list(words)
        mutated[edit] = "zz"
        a = {c for c in _cdc_cuts(words) if abs(c - edit) > 4}
        b = {c for c in _cdc_cuts(mutated) if abs(c - edit) > 4}
        assert a == b


# ── GIF interlace ───────────────────────────────────────────────────────────


@settings(max_examples=100, deadline=None)
@given(st.integers(1, 64))
def test_gif_interlace_rows_is_a_permutation(h):
    from fusionspark.operators.gif import _interlace_rows

    rows = _interlace_rows(h)
    assert sorted(rows) == list(range(h))


# ── conformal rank law ──────────────────────────────────────────────────────


@settings(max_examples=200, deadline=None)
@given(st.integers(1, 10_000))
def test_conformal_integer_rank_equals_ceil(n):
    """(19(n+1)+19) div 20 == ceil(0.95(n+1)) for every n — the integer
    form used in both engines."""
    assert (19 * (n + 1) + 19) // 20 == math.ceil(0.95 * (n + 1)) or (
        # float ceil can differ where 0.95(n+1) is exactly integral in
        # RATIONAL arithmetic but not in binary: the integer form is the
        # correct one, so check against the exact rational instead
        (19 * (n + 1) + 19) // 20 == -((-19 * (n + 1)) // 20)
    )
