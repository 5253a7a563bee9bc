#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the clinical analytics engine.

    python3 perfbench/run.py --workload cohort_interactive --seed 1 --seconds 15 --trace 0

Runs one workload in this (fresh) process: set-up (Spark session, one warm
job, the workload's untimed warm-up operations), then operations in a
closed loop with one client until ``--seconds`` of operation time have
been measured. Every operation's output is checked outside the timed
region. Prints each metric by name and unit, then, as the last line, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.probe import cpu_ticks, steal_frac  # noqa: E402

# End-to-end metrics the result line carries (BENCHMARK.json), and those
# printed only (perfbench/README.md says why).
E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "input_rows_per_s": "rows/s",
}
PRINTED = {
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "latency_tail_s": "s",
    "out_bytes_per_in_byte": "ratio",
    "failed_frac": "ratio",
}
MAX_CONSECUTIVE_FAILURES = 3


def _environment(work: str) -> int:
    """Process environment set before Spark starts: all cores, and every
    scratch file inside the work directory. The driver heap is the
    package's own default (recorded in the host line)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "TZ": "UTC",
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options {shlex.quote('-XX:-UsePerfData -Djava.io.tmpdir=' + tmp)} pyspark-shell",
        }
    )
    time.tzset()
    return cpus


def _git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def _error(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import LAYER_METRICS, WORKLOADS, median_layers

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, help="users or documents (default per workload)")
    args = ap.parse_args(argv)

    try:
        import datamodel_clinicaldata_spark  # noqa: F401
        import duckdb
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot run without the engine and its toolchain: {e}", file=sys.stderr)
        return 2

    cls, default_size = WORKLOADS[args.workload]
    size = args.size or default_size
    work = inputs.WORK_DIR
    cpus = _environment(work)
    load_before = os.getloadavg()
    ticks_before = cpu_ticks()

    t = time.perf_counter()
    man = inputs.cached(args.workload, args.seed, size)
    gen_s = time.perf_counter() - t

    from perfbench.probe import ProcStats, SparkCounters, Tracer, process_elapsed_s, tail_percentile

    tracer = Tracer() if args.trace else None
    setup_span = (lambda name: tracer.span(name, -1)) if tracer else (lambda name: nullcontext())
    t = time.perf_counter()
    from datamodel_clinicaldata_spark.session import get_spark

    with setup_span("session.get_spark"):
        spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t
    with setup_span("setup.warm_job"):
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    jvm = spark.sparkContext._jvm
    stats = ProcStats(jvm.java.lang.ProcessHandle.current().pid())
    counters = SparkCounters(spark) if tracer else None
    out_root = os.path.join(work, "out", f"{args.workload}-{os.getpid()}")
    con = duckdb.connect()
    wl = cls(spark, man, con, tracer, counters, out_root)

    attempted = failed = 0

    def finish(state, err):
        """Check one operation's output; returns the error, if any."""
        nonlocal attempted, failed
        if err is None:
            try:
                err = wl.check(state)
            except Exception as e:  # noqa: BLE001 — a crashing check is a failed operation
                err = _error(e)
        attempted += 1
        if err:
            failed += 1
            print(f"perfbench: operation failed: {err}", file=sys.stderr)
        return err

    # Set-up ends when the workload's untimed warm-up operations have
    # returned. Input generation (before Spark started) and the operations'
    # output checks are not part of it.
    check_s = 0.0
    with setup_span("setup.untimed_ops"):
        for op_id in range(-wl.warmup_ops, 0):
            state = wl.op(op_id)
            t = time.perf_counter()
            finish(state, None)
            check_s += time.perf_counter() - t
            shutil.rmtree(out_root, ignore_errors=True)
    setup_s = process_elapsed_s() - gen_s - check_s

    walls, cpus_used, rows_in, out_bytes, per_op, accounting = [], [], 0, 0, [], []
    spent, op_id, streak = 0.0, 0, 0
    while spent < args.seconds and streak < MAX_CONSECUTIVE_FAILURES:
        mark = counters.mark() if tracer else None
        cpu0, t0 = stats.cpu(), time.perf_counter()
        state, err = None, None
        try:
            with wl.span("op", op_id):
                state = wl.op(op_id)
        except Exception as e:  # noqa: BLE001 — an operation that raises is counted as failed
            err = _error(e)
        wall = time.perf_counter() - t0
        cpu = stats.cpu() - cpu0
        spent += wall
        err = finish(state, err)
        streak = streak + 1 if err else 0
        if state is not None:
            walls.append(wall)
            cpus_used.append(cpu)
            rows_in += state["rows_in"]
            out_bytes += state.get("out_bytes", 0)
            if tracer and not err:
                t1 = time.perf_counter()
                spark_m = counters.since(mark)
                lm, sink_rows = wl.layers(state)
                lm.update({f"spark.{k}": v for k, v in spark_m.items()})
                lm["spark.idle_core_frac"] = 1 - spark_m["executor_run_s"] / (wall * cpus)
                per_op.append(lm)
                accounting.append(_accounting(tracer, op_id, wall, sink_rows))
                spent += time.perf_counter() - t1
        shutil.rmtree(wl.out_path(op_id), ignore_errors=True)
        op_id += 1

    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(walls) if walls else float("nan"),
        "input_rows_per_s": rows_in / sum(walls) if walls else 0.0,
    }
    tail = tail_percentile(walls)
    printed = {
        "cpu_s_per_op": statistics.median(cpus_used) if cpus_used else float("nan"),
        "peak_rss_mb": stats.peak_rss_mb(),
        "latency_tail_s": tail[0] if tail else None,
        "out_bytes_per_in_byte": out_bytes / (len(walls) * man["input_bytes"]) if wl.sink == "write" and walls else None,
        "failed_frac": failed / attempted,
    }
    host = {
        "workload": args.workload,
        "seed": args.seed,
        "size": size,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "host_steal_frac": steal_frac(ticks_before, cpu_ticks()),
        "git_sha": _git_sha(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "python": sys.version.split()[0],
        "input_rows": man["rows"],
        "input_bytes": man["bytes"],
        "generation_s": gen_s,
    }
    gateway = spark.sparkContext._gateway
    spark.stop()
    con.close()
    # The JVM exits when its stdin closes; wait for it so no process
    # outlives the run.
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    shutil.rmtree(out_root, ignore_errors=True)

    print("host " + json.dumps(host))
    print(f"operations: {len(walls)} timed in {sum(walls):.3f} s; {attempted} attempted, {failed} failed")
    for name, unit in {**E2E, **PRINTED}.items():
        v = {**e2e, **printed}[name]
        note = ""
        if name == "latency_tail_s":
            note = f"  (p{tail[1]:.1f} of n={tail[2]})" if tail else f"  (n/a: n={len(walls)} ≤ 10 operations)"
        elif name == "out_bytes_per_in_byte" and v is None:
            note = "  (n/a: collect sink)"
        print(f"  {name} = {v} {unit}{note}")

    result = {"host": host, "end_to_end": {**e2e, **printed}, "walls": walls}
    if tracer:
        layers = median_layers(per_op)
        layers["session.get_spark_s"] = get_spark_s
        result.update(layers=layers, accounting=accounting)
        _print_trace(layers, LAYER_METRICS, accounting, walls, args)
        tracer.dump(os.path.join(work, "trace", f"{args.workload}-seed{args.seed}.spans.jsonl"))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _accounting(tracer, op_id: int, wall: float, sink_rows: list) -> dict:
    """Self time of every span of one operation (they sum to its wall
    time; the root's self time is the residual), with the sink span split
    into its layers by the prefix actions."""
    spans = [s for s in tracer.spans if s["op"] == op_id]
    rows = [(s["name"], tracer.self_time(s)) for s in spans]
    return {
        "op": op_id,
        "wall_s": wall,
        "self_s": rows,
        "sink_split_s": sink_rows,
        "residual_s": wall - sum(v for _, v in rows[1:]),
    }


def _print_trace(layers, units, accounting, walls, args) -> None:
    print("per-layer metrics (median over traced operations):")
    for k, u in units.items():
        print(f"  {k} = {layers[k]} {u}")
    for acc in accounting:
        print(f"operation {acc['op']}: wall {acc['wall_s']:.4f} s")
        for name, v in acc["self_s"][1:]:
            print(f"  self {name:<52} {v:9.4f} s")
        print(f"  residual (root self time){'':<27} {acc['residual_s']:9.4f} s")
        for name, v in acc["sink_split_s"]:
            print(f"    sink split: {name:<42} {v:9.4f} s")
    untraced = os.path.join(inputs.WORK_DIR, "results", f"{args.workload}-seed{args.seed}-trace0.json")
    if walls and os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["end_to_end"]["latency_p50_s"]
        traced = statistics.median(walls)
        print(
            f"tracing overhead: latency_p50_s traced {traced:.4f} s vs untraced {base:.4f} s "
            f"(same seed) = {traced - base:+.4f} s ({100 * (traced / base - 1):+.1f} %)"
        )
    else:
        print("tracing overhead: run the same workload and seed with --trace 0 first to compare")


if __name__ == "__main__":
    sys.exit(main())
