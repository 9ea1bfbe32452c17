"""-0.0 oracle lint: run every oracle_sql() on DuckDB and flag any float
column that contains an IEEE signed zero.

A -0.0 emitted by an oracle is a driver-hash landmine: Spark's round()
canonicalizes tiny negatives to +0.0 (BigDecimal HALF_UP) while DuckDB's
ROUND() keeps the sign bit (round(x*1e6)/1e6 in binary), so a numerically
equal result hash-mismatches (the r10 `weighted_sample` red).  Repo
discipline: any ROUND() output that can be a tiny negative gets `+ 0.0`
in the oracle, or is emitted as exact integer micro-units.

Usage: python tools/zerolint.py [sf_dir ...]   (default sf0.01 + sf0.1)
Exit 1 if any oracle emits a signed zero anywhere.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from fusionspark.io import TABLES  # noqa: E402


def scan(sf_dir: str) -> list[str]:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    flagged = []
    for name, sql in entry_mod.oracle_sql().items():
        try:
            pdf = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001
            flagged.append(f"{name}: oracle error: {e}")
            continue
        for c in pdf.columns:
            col = pdf[c]
            if np.issubdtype(col.dtype, np.floating):
                v = col.to_numpy(dtype=float)
                sz = (v == 0.0) & np.signbit(v)
                if sz.any():
                    flagged.append(f"{name}.{c}: {int(sz.sum())} signed zero(s)")
            elif col.dtype == object:
                for v in col:
                    if isinstance(v, (list, np.ndarray)):
                        a = np.asarray(v, dtype=float)
                        if ((a == 0.0) & np.signbit(a)).any():
                            flagged.append(f"{name}.{c}: signed zero inside array value")
                            break
    return flagged


def main() -> int:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    bad = 0
    for d in dirs:
        flagged = scan(d)
        for f in flagged:
            print(f"FLAG  [{d}] {f}")
        bad += len(flagged)
        print(f"{d}: {len(flagged)} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
