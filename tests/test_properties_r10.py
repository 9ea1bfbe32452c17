"""Hypothesis property tests for round-10 operators: laws that must hold
on ARBITRARY inputs, not just the gate corpus."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="0123456789", min_size=16, max_size=16))
def test_luhn_expression_equals_textbook(num):
    """The query's left-indexed double-every-second fold == the textbook
    right-to-left implementation, for EVERY 16-digit string."""
    # replicate the query's fold (positions 1..16, double when (16-i)%2==1)
    s = 0
    for i1 in range(1, 17):
        d = int(num[i1 - 1])
        if (16 - i1) % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        s += d
    ours = s % 10 == 0
    tot = 0
    for i, ch in enumerate(reversed(num)):
        d = int(ch)
        if i % 2 == 1:
            d = d * 2 - 9 if d * 2 > 9 else d * 2
        tot += d
    assert ours == (tot % 10 == 0)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(1, 1000), min_size=2, max_size=30),
    st.integers(2, 5),
)
def test_ffd_feasibility_and_bound(sizes, factor):
    """First-fit-decreasing with capacity = factor*max(size): every bin
    fits, and the bin count respects the volume lower bound and FFD's
    11/9*OPT + 1 guarantee vs the volume bound."""
    cap = factor * max(sizes)
    items = sorted(sizes, reverse=True)
    bins = []
    for sz in items:
        for j in range(len(bins)):
            if bins[j] + sz <= cap:
                bins[j] += sz
                break
        else:
            bins.append(sz)
    assert all(b <= cap for b in bins)
    lower = math.ceil(sum(sizes) / cap)
    assert len(bins) >= lower
    assert len(bins) <= math.ceil(11 / 9 * lower) + 1


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 2**32 - 1), min_size=1, max_size=50))
def test_discrete_laplace_thresholds_monotone(hashes):
    """The dp_counts inverse CDF: noise is monotone non-decreasing in the
    coin, symmetric-ish around 2^31, and bounded by the truncation."""
    from fusionspark.queries.pipeline_queries import _DL_K, _DL_T

    def noise(h):
        return next((k for k, t in _DL_T if h < t), _DL_K)

    ns = [noise(h) for h in sorted(hashes)]
    assert ns == sorted(ns)
    assert all(-_DL_K <= v <= _DL_K for v in ns)
    assert noise(0) == -_DL_K
    # the +k tail saturates at the first threshold that hits 2^32 (mass
    # beyond it is < 2^-32 per step) — the max draw is that k, not _DL_K
    k_sat = min(k for k, t in _DL_T if t >= 2**32)
    assert noise(2**32 - 1) == k_sat and k_sat >= 20
    assert noise(2**31) in (-1, 0, 1)
