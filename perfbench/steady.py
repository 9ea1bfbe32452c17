"""Steadiness tool: run one workload N times and summarise, or compare two
saved sets of runs against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py run --workload agent-mix --runs 10 --first-seed 1 \\
        --trace 0 --out .bench_work/set1.json
    python3 perfbench/steady.py compare .bench_work/set1.json .bench_work/set2.json

`run` prints, per metric, the median, the quartiles (statistics.quantiles,
n=4) and the spread (Q3 - Q1) / median, and saves every run's result line.
`compare` checks, per workload and end-to-end metric, that each set's spread
is within the metric's bound (setup_s exempt) and that the second set's
median is not worse than the first's by more than the bound.  Given a
traced and an untraced set of the same workload it also prints the tracing
overhead: traced median p50_ms minus untraced median p50_ms.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summary(values: list) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, spread as a share of the median)."""
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def cmd_run(args) -> int:
    bench = load_bench()
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        lines = proc.stdout.strip().splitlines()
        line = json.loads(lines[-1])
        # every printed metric line (name value unit ...), so a traced set
        # has p50_ms too and unguarded metrics can be compared
        printed = {}
        for x in lines[:-1]:
            f = x.split()
            if len(f) >= 3 and not x.startswith("#"):
                try:
                    printed[f[0]] = float(f[1])
                except ValueError:
                    pass
        runs.append({"seed": seed, "p50_ms": printed["p50_ms"], "printed": printed, **line})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items())
        print(f"seed {seed}: correct={line['correct']} failed={line['failed']}/"
              f"{line['attempted']} {vals}", flush=True)
    out = {"workload": args.workload, "trace": args.trace, "runs": runs}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    print_summary(out)
    return 0


def print_summary(data: dict) -> None:
    names = data["runs"][0]["metrics"].keys()
    print(f"# {data['workload']} trace={data['trace']} runs={len(data['runs'])}")
    print(f"# {'metric':<36} {'median':>12} {'Q1':>12} {'Q3':>12} {'spread':>8}")
    for name in names:
        med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in data["runs"]])
        print(f"  {name:<36} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>8.3f}")
    printed = data["runs"][0].get("printed", {})
    extra = [n for n in printed if n not in names]
    if extra:
        print("# printed, not in the result line")
    for name in extra:
        med, q1, q3, spread = summary([r["printed"][name] for r in data["runs"]])
        print(f"  {name:<36} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>8.3f}")


def cmd_compare(args) -> int:
    bench = load_bench()
    sets = []
    for path in args.sets:
        with open(path) as f:
            sets.append(json.load(f))
    ok = True
    plain = [s for s in sets if not s["trace"]]
    if len(plain) == 2:
        a, b = plain
        if a["workload"] != b["workload"]:
            print("the two untraced sets are of different workloads")
            return 2
        print(f"# {a['workload']}: set 1 vs set 2")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            ma, _, _, sa = summary([r["metrics"][name]["value"] for r in a["runs"]])
            mb, _, _, sb = summary([r["metrics"][name]["value"] for r in b["runs"]])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            good = worse <= bound and (name == "setup_s" or max(sa, sb) <= bound)
            ok &= good
            print(f"  {name:<28} bound {bound:.3f}  spread {sa:.3f} / {sb:.3f}  "
                  f"median {ma:.4g} -> {mb:.4g} ({worse:+.3f})  {'ok' if good else 'FAIL'}")
    traced = [s for s in sets if s["trace"]]
    if plain and traced:
        untr = statistics.median(r["p50_ms"] for r in plain[0]["runs"])
        tr = statistics.median(r["p50_ms"] for r in traced[0]["runs"])
        print(f"# {traced[0]['workload']} tracing overhead: traced p50_ms {tr:.1f} - "
              f"untraced {untr:.1f} = {tr - untr:+.1f} ms")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("sets", nargs="+", help="files written by `run --out`")
    args = ap.parse_args()
    return cmd_run(args) if args.cmd == "run" else cmd_compare(args)


if __name__ == "__main__":
    sys.exit(main())
