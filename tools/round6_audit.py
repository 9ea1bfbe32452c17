"""ROUND(x, 6) divergence-class audit (VERDICT r13 #3).

The r13 full strict gate at sf0.1 proved ROUND(x, 6) itself diverges
across engines on doubles whose SHORTEST decimal repr is an exact
7-decimal halfway (Spark HALF_UP-rounds the shortest string via
BigDecimal.valueOf; DuckDB rounds the binary value).  Migrating all ~360
ROUND(,6) sites to textstats.round6_stable would invalidate every
attestation for a class that almost no site can hit — a double only
lands in the class when its binary value sits within ~half an ulp of a
k+0.5 multiple of 1e-6, which for sums/ratios of many doubles is
vanishingly rare but for RATIOS OF SMALL INTEGERS (dyadic denominators)
is a real population.

This tool replaces per-site static annotation with a DATA-DRIVEN
inventory: it MONKEYPATCHES `F.round(col, 6)` and
`textstats.round6_stable` to identity (the danger lives in the
PRE-rounding double — a rounded output is always near a grid point,
never near a halfway), runs every registry query's Spark side at the
given SF, and flags any raw float64 output value whose distance to the
nearest 6-decimal halfway boundary is within `--ulps` ulps (default 8)
of x*1e6.  Any such value is fragile three ways: (a) the
Spark-vs-DuckDB shortest-string class, (b) one ulp of
cross-partitioning fold drift flips the rounded digit even under
round6_stable, (c) repeat runs of a parallel fold can disagree with
themselves.  A query with NO flagged value cannot hit the class at
this SF — the empirical analogue of "annotated why it can't".
(Queries that GROUP on a rounded value see different grouping under
the patch; values still audit correctly, counts may differ — this is
an audit, not a gate.)

Flagged queries are the migration worklist: move them to exact integer
arithmetic (the `_rev_e4` money-fold pattern) or `round6_stable` with a
pre-quantized input.

Usage:
    python tools/round6_audit.py [sf_dir] [query ...]   # default all
"""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fusionspark.session import get_spark  # noqa: E402


# Values rounded to 6 decimals sit on a 1e-6 grid; the dangerous inputs
# are those whose x*1e6 is within EPS_ULPS ulps of a k+0.5 boundary.
DEFAULT_ULPS = 8


def boundary_risk(x: float, ulps: int = DEFAULT_ULPS) -> bool:
    """True when ROUND(x, 6) can diverge across engines: x's SHORTEST
    round-trip repr has exactly 7 fractional digits ending in 5.  Spark
    HALF_UP-rounds that string (…5 → up); DuckDB rounds the binary value,
    which sits on whichever side of the true halfway the double landed —
    the two agree only by luck.  (An earlier ulp-distance heuristic
    false-positived on large-magnitude money sums where ulp(x·1e6) > 1;
    the repr form is exact: it is literally the condition of the r13
    text_quality strict-fail.)  `ulps` retained for CLI compat, unused."""
    if not math.isfinite(x):
        return False
    r = repr(abs(float(x)))
    if "e" in r or "E" in r or "." not in r:
        return False  # very large/small magnitudes — no 7-digit fraction
    frac = r.split(".")[1]
    return len(frac) == 7 and frac.endswith("5")


def audit_frame(df: pd.DataFrame, ulps: int) -> list[tuple[str, float]]:
    hits: list[tuple[str, float]] = []
    for c in df.columns:
        col = df[c]
        if not pd.api.types.is_float_dtype(col):
            continue
        vals = col.to_numpy(dtype=np.float64, na_value=np.nan)
        for v in vals[np.isfinite(vals)]:
            if boundary_risk(float(v), ulps):
                hits.append((c, float(v)))
    return hits


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    ulps = DEFAULT_ULPS
    for a in sys.argv[1:]:
        if a.startswith("--ulps="):
            ulps = int(a.split("=", 1)[1])
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:]

    from pyspark.sql import functions as SF

    from fusionspark.operators import textstats
    from fusionspark import queries as Q

    # Patch BEFORE load_all: query modules reference F.round /
    # textstats.round6_stable as module attributes at call time, so the
    # patch reaches every site (including the function-local
    # `from ... import round6_stable`, which re-fetches on each call).
    _orig_round = SF.round

    def _unround(col, scale=0):
        if scale == 6:
            return SF.col(col).cast("double") if isinstance(col, str) else (
                col.cast("double")
            )
        return _orig_round(col, scale)

    SF.round = _unround
    textstats.round6_stable = lambda col: col * 1.0

    Q.load_all()
    todo = names or list(Q.REGISTRY)
    spark = get_spark()

    flagged: dict[str, list[tuple[str, float]]] = {}
    errors: dict[str, str] = {}
    for name in todo:
        fn, _ = Q.REGISTRY[name]
        t0 = time.time()
        try:
            pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            errors[name] = str(e)[:200]
            print(f"ERR  {name}: {str(e)[:120]}", file=sys.stderr)
            continue
        hits = audit_frame(pdf, ulps)
        dt = time.time() - t0
        if hits:
            flagged[name] = hits[:5]
            print(
                f"FLAG {name}: {len(hits)} boundary-risk values, e.g. "
                f"{hits[:3]} [{dt:.1f}s]",
                file=sys.stderr,
            )
        else:
            print(f"ok   {name} [{dt:.1f}s]", file=sys.stderr)

    print(
        f"\n{len(todo) - len(flagged) - len(errors)} clean, "
        f"{len(flagged)} flagged, {len(errors)} error "
        f"(ulps={ulps}, sf={sf_dir})"
    )
    for name, hits in flagged.items():
        print(f"  FLAG {name}: {hits}")
    for name, msg in errors.items():
        print(f"  ERR {name}: {msg}")


if __name__ == "__main__":
    main()
