#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload tick-serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root.  One workload per process: it generates its
inputs from the seed, opens one Spark session at local[<cores>], loads,
measures for --seconds of operation time, checks every answer, and prints
as its last stdout line

    {"correct": ..., "attempted": N, "failed": F, "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1).  The line before it, prefixed "report ", carries the
workload's own named metrics with units and sample counts, the failure
causes and the host-load reading.  ``--workload all`` runs every
workload in turn and prints one table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "low_latency_time_series_database_tsdb_for_market_data_spark"
WORKLOADS = ("tick-serve", "ingest-mix", "analytics-mix")
DRIVER_MEM = "8g"  # session.py pins -Xms8g; any smaller -Xmx stops the JVM at start
SPIN_ITERS = 500_000


def process_start() -> float:
    """Wall-clock time this process started (Linux /proc), else now."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = process_start()


def cpu_spin_s() -> float:
    """Host-load reading: best of 3 single-thread integer spins.  Recorded
    with every run so a contended run shows; never used to discard one."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for _i in range(SPIN_ITERS):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far (Linux /proc/stat), else
    (0, 0).  Steal is time a virtual CPU waited for the hypervisor: other
    guests on the machine, not this run."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7], sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return 0, 0


def pin_env(work: str) -> dict:
    """Run environment, set before the JVM starts; recorded in the report."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import the package (q62 fails without it)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def run_all(args) -> int:
    rows = []
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        report = next((json.loads(x[7:]) for x in lines if x.startswith("report ")), {})
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        rows.append((w, p.returncode, report, result))
    for w, rc, report, result in rows:
        print(f"== {w} (exit {rc})")
        if result is None:
            continue
        print(f"  correct={result['correct']} attempted={result['attempted']} failed={result['failed']}"
              f" error_rate={report.get('error_rate', {}).get('value')}")
        for name, m in {**report.get("metrics", {}), **result["metrics"]}.items():
            n = f" (n={m['samples']})" if "samples" in m else ""
            print(f"  {name:40s} {m['value']:>14.4f} {m['unit']}{n}")
        for cause in report.get("failures", []):
            print(f"  FAILED {cause}")
    return 0 if all(rc == 0 for _, rc, _, _ in rows) else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    env = pin_env(work)
    os.chdir(work)
    sys.path[:0] = [ROOT, HERE]
    steal0 = cpu_ticks()
    s0 = time.time()
    spin0 = cpu_spin_s()
    spin_wall = time.time() - s0

    import workloads
    from spans import WINDOW_TOL_MS, Tracer

    g0 = time.time()
    w = workloads.BY_NAME[args.workload](
        None, Tracer(None, False), args.seed, args.seconds, bool(args.trace), work
    )
    w.setup()  # input generation: excluded from setup_s
    gen_s = time.time() - g0

    from low_latency_time_series_database_tsdb_for_market_data_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    open_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    session.warm_start(spark)
    warm_s = time.perf_counter() - t0
    setup_once_s = time.time() - T_START - gen_s - spin_wall

    tracer = Tracer(spark, bool(args.trace))
    w.spark, w.tracer = spark, tracer
    steps = {"generate_s": gen_s, "open_s": open_s, "warm_s": warm_s}
    try:
        for step in ("load", "warmup", "run", "verify"):
            t0 = time.perf_counter()
            getattr(w, step, lambda: None)()
            steps[f"{step}_s"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        steps["stop_s"] = time.perf_counter() - t0
    spin1 = cpu_spin_s()
    steal1 = cpu_ticks()

    e2e = w.end_to_end(setup_once_s)
    layer = w.per_layer()
    layer.update({
        "session.open_s": open_s,
        "session.warm_s": warm_s,
        "sources.initial_load_s": workloads.median(w.load_s),
        "host.spin_s": max(spin0, spin1),
    })
    window_ok = layer["trace.window_err_ms"] <= WINDOW_TOL_MS if args.trace else True
    failed = len(w.failures)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "host_spin_s": [spin0, spin1], "steps": steps,
        "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "error_rate": {"value": failed / max(1, w.attempted), "unit": "ratio"},
        "wrong_answers": w.wrong,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in w.report().items()},
        "samples": {k: len(v) for k, v in w.lat.items()},
        "op_ms": [[k, round(dt * 1000.0, 1)] for k, dt in w.timeline],
        "failures": w.failures,
        "unchecked": getattr(w, "unchecked", []),
        "query_s": getattr(w, "query_s", {}),
        "trace_window_ok": window_ok,
    }
    if args.trace:
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        path = os.path.join(work_root, "traces", os.path.basename(work) + ".json")
        tracer.dump(path, {"report": report, "per_layer": layer})
        report["trace_file"] = path
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        metrics = {k: {"value": float(v), "unit": workloads.LAYER_UNITS[k]} for k, v in layer.items()}
    print("report " + json.dumps(report))
    print(json.dumps({
        # correct: no operation returned a wrong answer; operations that
        # raised are counted in failed (and in the report, with causes)
        "correct": w.wrong == 0 and window_ok,
        "attempted": w.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            except OSError:
                pass
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
