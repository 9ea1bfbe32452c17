"""Isolation timing + plan capture for the r15 optimization round.

Usage:
    python tools/opt_bench.py [--plans DIR] [--suffix before|after]
                              [--runs N] [--sf SF_DIR] query [query ...]

For each named registry query: runs it RUNS times (collect(), the bench
methodology), prints per-run seconds + min/median, and (with --plans)
writes `.explain("formatted")` to DIR/<query>_<suffix>.txt.

Bench-only fixtures (knn_1m_* etc.) are not reachable here; this tool
covers REGISTRY entries, which is every driver-declared query.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fusionspark.session import get_spark  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--plans", default=None)
    p.add_argument("--suffix", default="before")
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("queries", nargs="+")
    args = p.parse_args()

    from fusionspark.queries import REGISTRY, load_all

    load_all()
    spark = get_spark("fusionspark-opt-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py so the first entry doesn't absorb worker forks
    from fusionspark.io import load_table

    load_table(spark, args.sf, "region").count()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, schema="id long").count()

    for name in args.queries:
        fn, _sql = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"opt_bench:{name}")
        samples = []
        nrows = 0
        for _ in range(args.runs):
            t0 = time.time()
            df = fn(spark, args.sf)
            nrows = len(df.collect())
            samples.append(time.time() - t0)
        samples.sort()
        med = samples[len(samples) // 2]
        print(
            f"{name}: min {samples[0]:.3f}s median {med:.3f}s "
            f"all {[round(s, 3) for s in samples]} ({nrows} rows)",
            flush=True,
        )
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
