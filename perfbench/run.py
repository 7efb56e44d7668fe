#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload kv_point --seed 1 --seconds 12 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` records spans and Spark's event log and prints the per-layer
metrics instead.  Everything the run writes goes under ``.bench_run/`` in
the current directory and is removed at exit.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Untimed speed probes run before set-up, so that the timed ones run
#: compiled code.
PROBE_WARMUP = 30


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_record(start: list[int]) -> dict:
    """nproc, the share of CPU time stolen by the hypervisor since
    ``start`` (from ``/proc/stat``) and the load average: recorded next to
    the result so that a noisy run can be explained, not reported as a
    metric."""
    delta = [b - a for a, b in zip(start, cpu_times())]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "steal_pct": round(100.0 * delta[7] / max(sum(delta), 1), 3),
        "loadavg": os.getloadavg(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hadrodb_spark", "sources", "collection.py")):
        print("perfbench: hadrodb_spark sources not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import procs
    import workloads
    from tracing import NullTracer, Tracer, per_layer_units, read_event_log, reduce_trace

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(os.getcwd(), ".bench_run", f"{args.workload}-{os.getpid()}")
    events = os.path.join(run_dir, "events")
    for d in ("scratch", "local", "tmp", "warehouse", "work", events):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # per-run isolation: every cache or scratch file the program writes
    # lives in this run's directory, so nothing carries over between runs
    os.environ.update({
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(run_dir, "scratch"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(run_dir, "warehouse"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "TZ": "UTC",
        # a fixed 2 GiB driver heap (with -Xms below) instead of one that
        # grows toward the 8 GiB default: the host's memory is shared, and
        # a heap that grows when the GC decides makes peak RSS unsteady
        "SPARK_DRIVER_MEMORY": "2g",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # both JVMs (spark-submit's launcher and the driver) keep temp files
        # in the run directory and write no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    })
    time.tzset()
    conf = [
        "spark.ui.showConsoleProgress=false",
        # compiler threads that outlive their work keep their CPU counters
        # readable, so JIT time can be told apart (procs.CpuClock)
        "spark.driver.extraJavaOptions=-Xms2g -XX:-UseDynamicNumberOfCompilerThreads",
    ]
    if args.trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"

    cpu_start = cpu_times()
    spark = None
    try:
        from hadrodb_spark.session import get_spark

        # the one session set-up a user pays: it launches the JVM
        t0, c0 = time.perf_counter(), procs.tree_cpu_s()
        spark = get_spark(cpus=len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
        session_cpu_s = procs.tree_cpu_s() - c0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        probe = procs.SpeedProbe(spark)
        for _ in range(PROBE_WARMUP):  # let the JIT compile the probe's work
            probe.sample()
        run = workloads.Run(spark, os.path.join(run_dir, "work"), args.seed, args.seconds, tracer,
                            procs.CpuClock.for_jvm(jvm), probe)
        workloads.WORKLOADS[args.workload](run)
        rss_mb = (procs.vm_hwm_kb(os.getpid()) + procs.vm_hwm_kb(jvm)) / 1024.0
        procs.stop_spark(spark)
        spark = None

        tally = run.tally
        if args.trace:
            jobs, tasks = read_event_log(events)
            metrics = reduce_trace(
                tracer, jobs, tasks,
                window=run.window,
                get_spark_s=session_s,
                get_spark_cpu_s=session_cpu_s,
                input_bytes=run.input_bytes,
                tally=tally,
            )
            units = per_layer_units()
        else:
            metrics = {
                "setup_s": session_cpu_s + run.fixture_cpu_s,
                "peak_rss_mb": rss_mb,
                "read_cpu_ms": tally.unit_ms("read", cpu=True),
                "write_cpu_ms": tally.unit_ms("write", cpu=True),
                "stored_bytes_per_input_byte": statistics.median(run.stored_ratio),
            }
            units = {
                "setup_s": "s", "peak_rss_mb": "MB", "read_cpu_ms": "ms",
                "write_cpu_ms": "ms", "stored_bytes_per_input_byte": "ratio",
            }
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "host": host_record(cpu_start),
            "session_s": session_s, "fixture_s": run.fixture_s,
            "session_cpu_s": session_cpu_s, "fixture_cpu_s": run.fixture_cpu_s,
            "wall_read_ms": tally.unit_ms("read"), "wall_write_ms": tally.unit_ms("write"),
            "raw_read_cpu_ms": tally.unit_ms("read", cpu=True, scaled=False),
            "raw_write_cpu_ms": tally.unit_ms("write", cpu=True, scaled=False),
            "probe_ms": 1e3 * statistics.median(tally.probe_s),
            "reads": tally.count("read"), "writes": tally.count("write"), "notes": run.notes,
            "call_s": {k: [round(x, 4) for x in v] for k, v in tally.calls.items()},
            "call_cpu_s": {k: [round(x, 3) for x in v] for k, v in tally.cpu.items()},
            "jit_s": tally.jit_s,
        }))
        print(json.dumps({
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        if spark is not None:
            procs.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
