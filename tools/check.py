"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB (same parquet views), then compares row count, column names,
and order-insensitive values.  Usage:

    python tools/check.py [--strict] [sf_dir] [query ...]

Two tiers, both AT LEAST as strict as the driver's hash on the class of
diffs we have shipped red (r9 raw-double boundary, r10 signed zero):

- default: float columns round(6) with atol=1e-9 (legacy tolerance for
  attested rows) BUT signed zeros are never collapsed — a +0.0 vs -0.0
  split between engines is a hard FAIL (the r10 weighted_sample red; the
  old ``+ 0.0`` normalization here masked exactly the diff the driver's
  value hash sees).
- --strict: no rounding at all — NaN-aware bitwise float compare (uint64
  view).  Run this on every never-attested entry before it fronts a
  PRIORITY board; anything that passes strict is bit-identical on both
  engines and cannot hash-mismatch on the driver.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from fusionspark.session import get_spark  # noqa: E402
from fusionspark.io import TABLES  # noqa: E402

def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _float_bits(arr: np.ndarray) -> np.ndarray:
    """uint64 bit view with NaN payloads canonicalized (NaN==NaN, any
    payload) — everything else, including -0.0 vs +0.0, compares bitwise."""
    a = np.asarray(arr, dtype=np.float64).copy()
    a[np.isnan(a)] = np.nan
    return a.view(np.uint64)


def normalize(df: pd.DataFrame, strict: bool = False) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            if strict:
                col = col.apply(
                    lambda v: tuple(_float_bits(v).tolist())
                    if isinstance(v, (list, np.ndarray))
                    else v
                )
            else:
                col = col.apply(
                    lambda v: tuple(np.round(np.asarray(v, dtype=float), 6))
                    if isinstance(v, (list, np.ndarray))
                    else v
                )
        elif np.issubdtype(col.dtype, np.floating):
            # NOTE: no `+ 0.0` — signed zeros must stay visible so the
            # signed-zero check in compare() can fail them (r10 lesson).
            if not strict:
                col = col.round(6)
        elif np.issubdtype(col.dtype, np.datetime64):
            col = col.astype("datetime64[us]")
        out[c] = col
    ndf = pd.DataFrame(out)
    return ndf.sort_values(by=list(ndf.columns), ignore_index=True)


def compare(
    name: str,
    spark_pdf: pd.DataFrame,
    duck_pdf: pd.DataFrame,
    strict: bool = False,
) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns {sc} vs {dc}")
        return problems
    for c in sc:
        a, b = spark_pdf[c].dtype, duck_pdf[c].dtype
        if str(a) != str(b):
            problems.append(f"dtype {c}: {a} vs {b}")
    a, b = normalize(spark_pdf, strict), normalize(duck_pdf, strict)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if np.issubdtype(a[c].dtype, np.floating):
                af, bf = av.astype(float), bv.astype(float)
                if strict:
                    bad = _float_bits(af) != _float_bits(bf)
                else:
                    bad = ~(np.isclose(af, bf, atol=1e-9, equal_nan=True))
                    # Signed-zero tier: numerically equal zeros with split
                    # signs are driver-hash-visible (r10 weighted_sample).
                    sz = (af == 0.0) & (bf == 0.0) & (np.signbit(af) != np.signbit(bf))
                    if sz.any():
                        i = int(np.argmax(sz))
                        problems.append(
                            f"col {c}: SIGNED-ZERO mismatch at {int(sz.sum())} rows, "
                            f"first at sorted row {i}: spark {af[i]!r} vs duck {bf[i]!r}"
                        )
            else:
                bad = ~(pd.Series(av).eq(pd.Series(bv)) | (pd.isna(av) & pd.isna(bv)))
                bad = np.asarray(bad)
            if bad.any():
                i = int(np.argmax(bad))
                problems.append(f"col {c}: {int(bad.sum())} mismatches, first at sorted row {i}: {av[i]!r} vs {bv[i]!r}")
    return problems


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    strict = "--strict" in argv
    argv = [a for a in argv if a != "--strict"]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    only = [a for a in argv if "/" not in a]
    spark = get_spark("fusionspark-check")
    con = duck_connection(sf_dir)
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf, strict)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            tag = "PASS*" if strict else "PASS "
            print(f"{tag} {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail" + (" [strict]" if strict else ""))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
