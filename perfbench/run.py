"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload agent-mix --seed 1 --seconds 20 --trace 0

Run from the root of a fusionspark checkout.  Every file the run writes
(inputs, engine roots, Spark scratch, spans) lives under `.bench_work/`
there and is removed at the end, except the spans file of a traced run.

stdout carries only metrics: one line per metric (name, value, unit and,
for a percentile, its sample count), and as the last line one JSON object
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the JSON
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics, taken from spans recorded around the calls into
each layer (see tracing.py) over the measured window.  Tracing overhead is
the traced runs' median p50_ms minus the untraced runs' (see steady.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time

STARTED = time.perf_counter()

from workloads import mark, tree_pids  # noqa: E402 — numpy only, no Spark yet
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

#: the end-to-end metrics of BENCHMARK.json (name -> unit); the run also
#: prints p50_ms, p90_ms, ops_per_s, peak_rss_mb, host_steal_frac, the
#: per-route p50s and failed_frac
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "disk_bytes_per_user_byte": "ratio",
}
ENGINE_MS = ("search", "retrieve", "build_context", "recall", "insert",
             "remember", "ingest", "load_resident", "import_jsonl")
PER_LAYER = {
    "server.route_ms": "ms", "server.http_ms": "ms",
    **{f"engine.{m}_ms": "ms" for m in ENGINE_MS},
    "engine.self_ms": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.executor_run_ms_per_op": "ms",
    "spark.input_bytes_per_op": "bytes", "spark.shuffle_bytes_per_op": "bytes",
    "spark.action_ms": "ms",
    "knn.ms": "ms", "knn.rows_scanned_per_result": "ratio",
    "keyword.ms": "ms", "fusion.ms": "ms", "context.ms": "ms",
    "embedder.calls_per_op": "count", "embedder.ms": "ms",
    "chunking.ms": "ms", "chunking.chunks_per_doc": "ratio",
    "serving.search_ms": "ms", "serving.build_ms": "ms",
    "serving.blocks": "count", "serving.cached_mb": "MB",
    "serving.hit_ratio": "ratio",
    "storage.files_per_collection": "count", "storage.write_ms": "ms",
    "storage.rows_rewritten_per_upsert": "count",
    "storage.bytes_written_per_user_byte": "ratio",
    "loadgen.late_p90_ms": "ms",
    "process.peak_rss_mb": "MB",
}


def setup_env() -> None:
    """Everything the engine needs from a clean shell, kept inside the
    checkout: Spark cores for half the CPUs (the other half runs the JVM's
    own threads, the Python driver, the server and the client; with a core
    per CPU, agent-mix ran slower and set-up took longer), the package
    importable by Python workers, Spark and temp scratch under .bench_work,
    no progress bars."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell",
    ])
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


# ── process tree ──────────────────────────────────────────────────────────


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak summed RSS of this process and all its descendants (driver,
    JVM, Python workers), sampled every 0.2 s."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.2):
            total = sum(rss_kb(p) for p in tree_pids(me))
            self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024


def reap_children(timeout: float = 30.0) -> None:
    """Wait until every process this run started has exited (the Python
    workers leave after the JVM); kill what is left at the timeout."""
    deadline = time.monotonic() + timeout
    while (left := tree_pids(os.getpid())[1:]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


# ── metrics ───────────────────────────────────────────────────────────────


def pct(values: list, q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def end_to_end(res, rss_mb: float) -> tuple[dict, dict]:
    """(metrics, sample counts) over the measured requests."""
    ms = [r.ms for r in res.reqs]
    m = {
        "setup_s": res.setup_s,
        "p50_ms": pct(ms, 50),
        "p90_ms": pct(ms, 90),
        "ops_per_s": sum(r.ok for r in res.reqs) / (res.t1 - res.t0),
        "cpu_ms_per_op": res.cpu_s * 1e3 / len(ms),
        "disk_bytes_per_user_byte": res.disk_bytes / res.user_bytes,
        "peak_rss_mb": rss_mb,
        "host_steal_frac": res.steal[0] / max(res.steal[1], 1),
    }
    n = {"p50_ms": len(ms), "p90_ms": len(ms), "cpu_ms_per_op": len(ms)}
    for route in ("search", "hybrid", "rag", "recall", "write"):
        rms = [r.ms for r in res.reqs if r.route == route]
        if rms:
            m[f"{route}_p50_ms"] = pct(rms, 50)
            n[f"{route}_p50_ms"] = len(rms)
    return m, n


def per_layer(res, tracer, counters) -> dict:
    from tracing import self_times

    spans = tracer.spans
    selfs = self_times(spans)
    by_id = {s[0]: s for s in spans}
    rids = {r.rid for r in res.reqs}
    op_spans = [s for s in spans if s[2] in rids]
    n_ops = max(len(res.reqs), 1)

    def dur(s):
        return (s[5] - s[4]) * 1e3

    def total(prefix):
        return sum(dur(s) for s in op_spans if s[3].startswith(prefix)) / n_ops

    def mean_dur(name, pool=spans):
        d = [dur(s) for s in pool if s[3] == name]
        return statistics.mean(d) if d else 0.0

    route_span = {s[2]: s for s in op_spans if s[3] == "server.route"}
    m = {
        "server.route_ms": sum(selfs[s[0]] for s in route_span.values()) * 1e3 / n_ops,
        "server.http_ms": statistics.mean(
            (r.end - r.sent) * 1e3 - dur(route_span[r.rid])
            for r in res.reqs if r.rid in route_span
        ) if route_span else 0.0,
    }
    # set-up and warm-up calls for the methods only they make (a one-cycle
    # agent-mix window writes with an insert), else calls serving measured
    # requests
    for meth in ENGINE_MS:
        pool = spans if meth in ("load_resident", "import_jsonl", "remember",
                                 "ingest") else op_spans
        m[f"engine.{meth}_ms"] = mean_dur(f"engine.{meth}", pool)
    m["engine.self_ms"] = sum(
        selfs[s[0]] for s in op_spans if s[3].startswith("engine.")) * 1e3 / n_ops

    # Spark work per request, by job group (one group per traced request)
    counters.drain()
    stats = {r.rid: counters.group_stats(r.rid) for r in res.warm + res.reqs if r.rid}
    op_stats = [stats[r.rid] for r in res.reqs]

    def per_op(key):
        return sum(s[key] for s in op_stats) / n_ops

    m.update({
        "spark.jobs_per_op": per_op("jobs"),
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.executor_run_ms_per_op": per_op("executor_run_ms"),
        "spark.input_bytes_per_op": per_op("input_bytes"),
        "spark.shuffle_bytes_per_op": per_op("shuffle_bytes"),
    })

    def is_action(s):
        return s[3].startswith("action.") or s[3] == "storage.write_parquet"

    m["spark.action_ms"] = sum(
        dur(s) for s in op_spans
        if is_action(s) and not (s[1] in by_id and is_action(by_id[s[1]]))
    ) / n_ops

    searches = [r for r in res.reqs if r.route == "search" and r.ok]
    hits = sum(len(r.payload) for r in searches)
    m["knn.ms"] = total("knn.")
    m["knn.rows_scanned_per_result"] = (
        sum(stats[r.rid]["input_records"] for r in searches) / hits if hits else 0.0
    )
    m["keyword.ms"] = total("keyword.")
    m["fusion.ms"] = total("fusion.")
    m["context.ms"] = total("context.")
    m["embedder.calls_per_op"] = sum(
        1 for s in op_spans if s[3].startswith("embedder.")) / n_ops
    m["embedder.ms"] = total("embedder.")
    ingests = [r for r in res.warm + res.reqs if r.kind == "ingest" and r.ok]
    m["chunking.ms"] = sum(
        dur(s) for s in spans
        if s[3].startswith("chunking.") and s[2] in {r.rid for r in ingests}
    ) / max(len(ingests), 1)
    m["chunking.chunks_per_doc"] = (
        statistics.mean(r.payload["chunks"] for r in ingests) if ingests else 0.0
    )

    m["serving.search_ms"] = mean_dur("serving.search", op_spans)
    m["serving.build_ms"] = mean_dur("serving.build")
    ent = res.engine._resident.get("vec")
    m["serving.blocks"] = (
        sum(p.getNumPartitions() for p in ent["idx"]._parts) if ent else 0
    )
    m["serving.cached_mb"] = counters.cached_mb()
    resident = [r for r in res.reqs if r.kind == "resident"]
    served = {s[2] for s in op_spans if s[3] == "serving.search"}
    m["serving.hit_ratio"] = (
        sum(r.rid in served for r in resident) / len(resident) if resident else 0.0
    )

    m["storage.files_per_collection"] = res.files_per_collection
    m["storage.write_ms"] = total("storage.write")
    writes = [r for r in res.warm + res.reqs if r.route == "write" and r.ok and r.rid]
    upserts = [r for r in writes if r.kind == "upsert"]
    m["storage.rows_rewritten_per_upsert"] = (
        statistics.mean(stats[r.rid]["output_records"] for r in upserts) if upserts else 0.0
    )
    wrote = sum(r.user_bytes for r in writes)
    m["storage.bytes_written_per_user_byte"] = (
        sum(stats[r.rid]["output_bytes"] for r in writes) / wrote if wrote else 0.0
    )
    late = [(r.sent - r.due) * 1e3 for r in res.reqs]
    m["loadgen.late_p90_ms"] = pct(late, 90)
    return m


def show(name: str, value: float, unit: str, n: int | None = None) -> None:
    extra = f"  (n={n})" if n is not None else ""
    print(f"{name:<40} {value:>14.4f} {unit}{extra}")


# ── main ──────────────────────────────────────────────────────────────────


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "fusionspark", "engine.py")):
        print(f"no fusionspark package under {ROOT}", file=sys.stderr)
        return 2
    setup_env()
    from workloads import RUNNERS, start_spark, stop_spark

    if args.workload not in RUNNERS:
        print(f"unknown workload {args.workload!r}; one of {sorted(RUNNERS)}",
              file=sys.stderr)
        return 2

    rss = PeakRss()
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    t = time.perf_counter()
    spark = start_spark()
    spark_start_s = time.perf_counter() - t
    mark(STARTED, "spark started")
    tracer = counters = None
    try:
        if args.trace:
            from tracing import SparkCounters, Tracer, layer_table

            tracer, counters = Tracer(), SparkCounters(spark)
            tracer.install(spark)
        res = RUNNERS[args.workload](spark, args.seed, args.seconds, work, tracer,
                                     STARTED)
        if tracer:
            layer = per_layer(res, tracer, counters)
            tracer.unpatch()
            spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(spans_path)
            rids = {r.rid for r in res.reqs}
            table = layer_table([s for s in tracer.spans if s[2] in rids],
                                len(res.reqs))
        mark(STARTED, "answers checked")
    finally:
        stop_spark(spark)
        reap_children()
        mark(STARTED, "spark stopped")
        rss_mb = rss.stop()
        for d in (work, os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")):
            shutil.rmtree(d, ignore_errors=True)

    for phase, reqs in (("warm", res.warm), ("measured", res.reqs)):
        for r in reqs:
            print(f"{phase} {r.kind} {r.ms:.0f} ms ok={r.ok}", file=sys.stderr)
    metrics, counts = end_to_end(res, rss_mb)
    if tracer:
        layer["process.peak_rss_mb"] = rss_mb
    attempted = len(res.warm) + len(res.reqs)
    failed = sum(not r.ok for r in res.warm + res.reqs)
    units = dict(END_TO_END, p50_ms="ms", p90_ms="ms", ops_per_s="1/s",
                 peak_rss_mb="MB", host_steal_frac="ratio",
                 **{f"{r}_p50_ms": "ms" for r in
                    ("search", "hybrid", "rag", "recall", "write")})
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} spark_start_s={spark_start_s:.2f}")
    for name, value in metrics.items():
        show(name, value, units[name], counts.get(name))
    show("failed_frac", failed / attempted, "ratio", attempted)
    if tracer:
        print(f"# layer self time over {len(res.reqs)} traced requests "
              f"(spans: {os.path.relpath(spans_path, ROOT)})")
        print(f"# {'layer':<12} {'calls':>7} {'total_ms':>11} {'self_ms':>11} {'self_ms/op':>11}")
        for name, calls, tot, slf, per in table:
            print(f"# {name:<12} {calls:>7} {tot:>11.1f} {slf:>11.1f} {per:>11.1f}")
        for name, value in layer.items():
            show(name, value, PER_LAYER[name])
        out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
