"""Round-14 tooling tests: the rounding-divergence classifier and the
keyword keep_cols rewrite that closed the window whitelist."""

from __future__ import annotations

from pyspark.sql import functions as F

from fusionspark.io import load_table
from fusionspark.operators.keyword import keyword_search


def test_boundary_risk_matches_the_divergence_class():
    """boundary_risk flags exactly doubles whose shortest repr has 7
    fractional digits ending in 5 — the r13 text_quality class — and
    nothing else (large money sums, short reprs, 17-digit irrationals)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from round6_audit import boundary_risk

    # genuine class members (dyadic ratios, observed flags)
    for x in (0.5040625, 0.4540625, 0.0078125, 119.8359375, 0.8984375,
              130417.6169345, -0.2765625):
        assert boundary_risk(x), x
    # non-members: short reprs, money magnitudes, irrational-looking
    for x in (0.5, 0.504062, 0.5040626, 283281291.43, 1704067200.0,
              0.3333333333333333, 1.0 / 3.0, 16524973.255322492,
              float("nan"), float("inf"), 0.0, 5e-7):
        assert not boundary_risk(x), x


def test_keep_cols_equals_join_back(spark, sf_dir):
    """keyword_search(keep_cols=("text",)) must return exactly the old
    top-k ∘ join-back frame (same rows, same text) — the r14 rewrite
    that made the context_pack/quality_estimate windows audit-bounded."""
    d = load_table(spark, sf_dir, "documents")
    q = "fast table scan merge join"
    new = keyword_search(d, q, top_k=10, keep_cols=("text",))
    old = keyword_search(d, q, top_k=10).join(
        d.select("doc_id", "text"), "doc_id"
    )
    a = {(r["doc_id"], r["score"], r["text"]) for r in new.collect()}
    b = {(r["doc_id"], r["score"], r["text"]) for r in old.collect()}
    assert a == b and len(a) == 10
