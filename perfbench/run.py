"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``.perfbench_work/``, measures for ``--seconds``, checks every
output, and prints one JSON object as the last line of stdout: untraced
end-to-end metrics with ``--trace 0``, per-layer metrics from a traced run
with ``--trace 1``. The line before it is a detail record: the workload's
own figures by name and unit, machine diagnostics and any failures. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time


def _process_start() -> float:
    """Epoch seconds at which this process started: its start time since
    boot (clock ticks, /proc/self/stat) subtracted from the uptime now,
    both monotonic, so neither whole-second truncation nor a stepped wall
    clock shifts it."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LAYERS = [
    "sources.reader",
    "operators.restructure",
    "operators.mapping",
    "operators.snapshot",
    "sinks.singer",
    "sinks.export",
    "llm.dedup",
    "llm.text",
    "llm.spans",
    "llm.cluster.build",
    "llm.cluster.single",
    "llm.cluster.batch",
]
LAYER_FIELDS = [("self_s", "s"), ("jobs", "count"), ("stages", "count"), ("task_s", "s"),
                ("cpu_s", "s"), ("stage_s", "s"), ("driver_s", "s"),
                ("shuffle_write_mb", "MiB"), ("spill_mb", "MiB"), ("bytes_written_mb", "MiB")]


def _cpu_jiffies() -> list[int]:
    """user nice system idle iowait irq softirq steal, summed over CPUs."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _code_sha() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "gluestick_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, n), pkg).encode())
                with open(os.path.join(d, n), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _diagnostics(spark) -> dict:
    """Machine state read next to every run (not gating): the per-job
    floor and bench.py's fixed calibration job."""
    from pyspark.sql import functions as F

    floor = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(10).count()
        floor = min(floor, time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).select(
        (F.col("id") % 97).alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("h"),
    ).groupBy("k").agg(F.sum("h")).collect()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "code_sha": _code_sha(),
        "job_floor_ms": floor * 1e3,
        "calibration_s": time.perf_counter() - t0,
    }


def _layer_metrics(tr, sm) -> dict:
    """Per-layer metrics of a traced run: the session span, every layer's
    summed counters, the ratios where work can be wasted, and the time the
    tracer itself spent reading counters."""
    totals = tr.layer_totals()
    out = {}
    sess = totals["session"]
    out["session.self_s"] = (sess["self_s"], "s")
    out["session.jobs"] = (sess["jobs"], "count")
    out["session.driver_s"] = (sess["driver_s"], "s")
    for layer in LAYERS:
        agg = totals.get(layer, {})
        for name, unit in LAYER_FIELDS:
            out[f"{layer}.{name}"] = (agg.get(name, 0), unit)
    r = sm.ratios
    inc_snap_mb = sum(
        s.counters["bytes_written_mb"] for s in tr.spans
        if s.layer == "operators.snapshot" and s.name.endswith("@incr")
    )
    out["operators.snapshot.write_amp"] = (
        inc_snap_mb * 1024 * 1024 / r["inc_bytes"] if r.get("inc_bytes") else 0.0, "ratio")
    out["operators.snapshot.rows_kept_ratio"] = (
        r["rows_out"] / r["rows_in"] if r.get("rows_in") else 0.0, "ratio")
    singer = totals.get("sinks.singer", {})
    out["sinks.singer.rows_per_s"] = (
        r.get("singer_rows", 0) / singer["self_s"] if singer.get("self_s") else 0.0, "1/s")
    out["trace.overhead_s"] = (tr.overhead_s, "s")
    return out


def _check_self_sums(tr) -> float:
    """Largest |sum of self times in a tree - root wall| over root spans."""
    from perfbench.tracing import self_times

    selfs = self_times(tr.spans)
    by_root: dict[int, float] = {}
    parent = {s.id: s.parent for s in tr.spans}
    for s in tr.spans:
        r = s.id
        while parent[r] is not None:
            r = parent[r]
        by_root[r] = by_root.get(r, 0.0) + selfs[s.id]
    return max(abs(total - tr.spans[r].wall) for r, total in by_root.items())


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = _process_start()
    cpu0 = _cpu_jiffies()

    if not os.path.isfile(os.path.join(ROOT, "gluestick_spark", "__init__.py")):
        print(f"gluestick_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # not perfbench/, whose module names would shadow others
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM ignores TMPDIR: keep its temp files (native libraries Netty
    # unpacks) and its perf-data file inside the checkout too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["ROOT_DIR"] = work

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from pyspark import SparkContext

    from gluestick_spark import get_spark
    from perfbench.tracing import Tracer

    spark = get_spark()
    tr = Tracer(spark, enabled=bool(args.trace))
    with tr.span("get_spark+first job", "session", start=t_start):
        spark.range(10).count()
    setup_s = time.time() - t_start
    spark.sparkContext.setLogLevel("ERROR")
    proc = SparkContext._gateway.proc
    marks = [time.time()]
    try:
        sm = WORKLOADS[args.workload](spark, tr, work, args.seed, args.seconds)
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(proc.pid)
        marks.append(time.time())
        diag = _diagnostics(spark)
        marks.append(time.time())
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
    marks.append(time.time())
    cpu1 = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
    # share of CPU time the host took from this VM: a run with a high
    # share measured a contended machine, not the code
    diag["cpu_steal_share"] = cpu1[7] / max(1, sum(cpu1))
    # where the run's wall time went, to budget a full evaluation's runs
    diag["phase_s"] = dict(zip(("setup", "workload", "diagnostics", "shutdown"),
                               [setup_s] + [b - a for a, b in zip(marks, marks[1:])]))

    figures = {
        "setup_s": (setup_s, "s"),
        **sm.figures,
        "peak_rss_mb": (rss, "MiB"),
        "ops_failed_ratio": (sm.failed / sm.attempted, "ratio"),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "input_sha256": sm.input_checksum,
        "samples": {"bulk": sm.bulk, "step": sm.step, "rate": sm.rate},
        "figures": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
        "ratios": sm.ratios,
        "failures": sm.failures[:10],
        **diag,
    }
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "bulk_s": (statistics.median(sm.bulk), "s"),
        "step_s": (statistics.median(sm.step), "s"),
        "items_per_s": (statistics.median(sm.rate), "1/s"),
    }
    if args.trace:
        # compare with the untraced runs' medians to read the tracing overhead
        detail["traced_end_to_end"] = {k: v for k, (v, _) in end_to_end.items()}
        detail["self_sum_error_s"] = _check_self_sums(tr)
        detail["spans"] = tr.to_json()
        metrics = _layer_metrics(tr, sm)
    else:
        metrics = end_to_end
    print(json.dumps(detail))
    print(json.dumps({
        "correct": sm.failed == 0,
        "attempted": sm.attempted,
        "failed": sm.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
