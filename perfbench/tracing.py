"""Spans recorded around calls into the program, and the reducer that turns
them, the Spark event log and on-disk store walks into per-layer metrics.

A span is ``(name, start, end, parent, op)``: ``op`` is the id of the
benchmark operation that caused it, and every Spark job the operation
runs carries that id as its job group, so the event log ties jobs and
tasks back to the operation.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class NullTracer:
    """Untraced runs: spans record nothing."""

    @contextmanager
    def span(self, name: str, op: str | None = None):
        yield

    def store_sample(self, kind: str, path: str) -> None:
        pass


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    store: dict[str, "StoreWalk"] = field(default_factory=dict)  # by path
    bookkeeping_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record a span; a span opened with ``op`` starts a new operation
        and sets the Spark job group to its id."""
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        new_op = op is not None
        if new_op:
            self.sc.setJobGroup(op, name)
        else:
            op = self.spans[parent].op if parent is not None else "-"
        idx = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, parent, op))
        self._stack.append(idx)
        self.bookkeeping_s += time.perf_counter() - t0
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            t1 = time.perf_counter()
            s = self.spans[idx]
            s.start, s.end = start, end
            self._stack.pop()
            if new_op:
                self.sc.setJobGroup("-", "untimed")
            self.bookkeeping_s += time.perf_counter() - t1

    def store_sample(self, kind: str, path: str) -> None:
        """Walk a store directory (``kind`` is ``collection`` or
        ``hadrolog``) after a write and fold it into that store's running
        figures (bytes written, peak size)."""
        t0 = time.perf_counter()
        self.store.setdefault(path, StoreWalk(kind)).sample(path)
        self.bookkeeping_s += time.perf_counter() - t0


@dataclass
class StoreWalk:
    kind: str
    seen: dict[str, int] = field(default_factory=dict)
    peak_bytes: int = 0
    last: dict[str, int] = field(default_factory=dict)

    def sample(self, path: str) -> None:
        self.last = walk_store(path)
        for f, size in self.last.pop("_files").items():
            self.seen[f] = size
        self.peak_bytes = max(self.peak_bytes, self.last["bytes"])

    @property
    def bytes_written(self) -> int:
        return sum(self.seen.values())


def walk_store(path: str) -> dict:
    """Files, bytes, commit dirs and manifest versions of a collection (or
    any directory) as they are on disk now."""
    files: dict[str, int] = {}
    commits = manifests = 0
    for root, dirs, names in os.walk(path):
        commits += sum(1 for d in dirs if d.startswith("_seq="))
        for n in names:
            if n.startswith("_hadro_manifest.v"):
                manifests += 1
            if n.startswith(".") or n.endswith(".crc"):
                continue
            p = os.path.join(root, n)
            files[p] = os.path.getsize(p)
    return {
        "files": len(files),
        "bytes": sum(files.values()),
        "commits": commits,
        "manifest_versions": manifests,
        "_files": files,
    }


# ------------------------------------------------------------- event log
@dataclass
class Job:
    group: str
    start: float
    end: float
    stages: list[int]


def read_event_log(log_dir: str) -> tuple[dict[int, Job], list[dict]]:
    """Jobs (with group and span) and task-end records from the Spark event
    log of the last application that wrote to ``log_dir``; times are epoch
    seconds.  Earlier applications are the session set-ups, which run no
    jobs, and job ids restart with every application."""
    apps = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not apps:
        return {}, []
    app = apps[-1]
    paths = sorted(
        p for p in ([app] if os.path.isfile(app) else glob.glob(os.path.join(app, "*")))
        if not os.path.basename(p).startswith("appstatus")
    )
    jobs: dict[int, Job] = {}
    tasks: list[dict] = []
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        props.get("spark.jobGroup.id") or "-",
                        ev["Submission Time"] / 1000.0,
                        ev["Submission Time"] / 1000.0,
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_s": m.get("Executor Run Time", 0) / 1e3,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1e3,
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return jobs, tasks


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, []))
        for i, s in enumerate(spans)
    ]


# ------------------------------------------------------------- reducer
#: Span names whose time, call count and Spark job count are reported.
CALL_METRICS = ("collection.get", "collection.contains", "collection.flush")
#: Span names whose total time is reported.
TIME_METRICS = (
    "collection.append_df",
    "collection.merge_df",
    "collection.delete_where",
    "collection.scan_lww",
    "collection.scan_clean",
    "collection.compact_range",
    "collection.compact_full",
    "hadrolog.write",
    "hadrolog.read",
)
STORE_METRICS = (
    "store.manifest_versions",
    "store.commits",
    "store.files",
    "store.bytes",
    "store.bytes_written",
    "store.write_amp",
    "store.space_amp_peak",
)
SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.driver_s",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    u: dict[str, str] = {"session.get_spark.s": "s", "session.get_spark.cpu_s": "s"}
    for n in CALL_METRICS:
        u.update({f"{n}.s": "s", f"{n}.calls": "count", f"{n}.spark_jobs": "count"})
    u.update({
        "collection.get.driver_s": "s",
        "collection.get.job_s": "s",
        "collection.stage.s": "s",
    })
    for n in TIME_METRICS:
        u[f"{n}.s"] = "s"
    u.update({"hadrolog.write.tasks": "count", "hadrolog.read.tasks": "count"})
    u.update({"hadrolog.bytes": "bytes", "hadrolog.files": "count"})
    for n in STORE_METRICS:
        u[n] = "ratio" if n.endswith("_amp") or n.endswith("_peak") else (
            "bytes" if "bytes" in n else "count")
    for n in SPARK_METRICS:
        u[n] = "s" if n.endswith("_s") else ("bytes" if n.endswith("bytes") else "count")
    u.update({
        "trace.read_ms": "ms",
        "trace.write_ms": "ms",
        "trace.read_cpu_ms": "ms",
        "trace.write_cpu_ms": "ms",
        "trace.jit_s": "s",
        "trace.bookkeeping_ms_per_op": "ms",
    })
    return u


def reduce_trace(
    tracer: Tracer,
    jobs: dict[int, Job],
    tasks: list[dict],
    *,
    window: tuple[float, float],
    get_spark_s: float,
    get_spark_cpu_s: float,
    input_bytes: int,
    tally,
) -> dict[str, float]:
    """One per-layer metric dict for a traced run.  Spark totals cover the
    jobs of timed operations only (not the benchmark's own checks)."""
    in_window = [window[0] <= s.start and s.end <= window[1] for s in tracer.spans]
    spans = [s for s, keep in zip(tracer.spans, in_window) if keep]
    self_s = [t for t, keep in zip(self_times(tracer.spans), in_window) if keep]
    timed_ops = {s.op for s in spans}
    job_by_group: dict[str, list[Job]] = {}
    stage_op: dict[int, str] = {}
    for j in jobs.values():
        if j.group in timed_ops:
            job_by_group.setdefault(j.group, []).append(j)
            for st in j.stages:
                stage_op[st] = j.group
    m: dict[str, float] = {k: 0 for k in per_layer_units()}
    m["session.get_spark.s"] = get_spark_s
    m["session.get_spark.cpu_s"] = get_spark_cpu_s

    for s, own in zip(spans, self_s):
        key = s.name
        if key == "collection.write_batch":
            m["collection.stage.s"] += own
        if key in CALL_METRICS or key in TIME_METRICS:
            m[f"{key}.s"] += s.end - s.start
        if key in CALL_METRICS:
            m[f"{key}.calls"] += 1
            m[f"{key}.spark_jobs"] += len(_jobs_in(job_by_group, s))
        if key == "collection.get":
            job_s = union_length(
                [(max(j.start, s.start), min(j.end, s.end)) for j in _jobs_in(job_by_group, s)]
            )
            m["collection.get.job_s"] += job_s
            m["collection.get.driver_s"] += (s.end - s.start) - job_s
        if key in ("hadrolog.write", "hadrolog.read"):
            stages = {st for j in _jobs_in(job_by_group, s) for st in j.stages}
            m[f"{key}.tasks"] += sum(1 for t in tasks if t["stage"] in stages)

    # store figures are per store (one per storage_cycle cycle): medians
    colls = [w for w in tracer.store.values() if w.kind == "collection"]
    if colls:
        for k in ("manifest_versions", "commits", "files", "bytes"):
            m[f"store.{k}"] = statistics.median(w.last[k] for w in colls)
        m["store.bytes_written"] = statistics.median(w.bytes_written for w in colls)
        m["store.write_amp"] = m["store.bytes_written"] / input_bytes
        m["store.space_amp_peak"] = statistics.median(w.peak_bytes for w in colls) / input_bytes
    logs = [w for w in tracer.store.values() if w.kind == "hadrolog"]
    if logs:
        m["hadrolog.bytes"] = statistics.median(w.last["bytes"] for w in logs)
        m["hadrolog.files"] = statistics.median(w.last["files"] for w in logs)

    timed_jobs = [j for js in job_by_group.values() for j in js]
    timed_tasks = [t for t in tasks if t["stage"] in stage_op]
    m["spark.jobs"] = len(timed_jobs)
    m["spark.stages"] = len({t["stage"] for t in timed_tasks})
    m["spark.tasks"] = len(timed_tasks)
    for k, src in (
        ("executor_run_s", "run_s"),
        ("executor_cpu_s", "cpu_s"),
        ("gc_s", "gc_s"),
        ("shuffle_read_bytes", "shuffle_read"),
        ("shuffle_write_bytes", "shuffle_write"),
        ("spill_bytes", "spill"),
    ):
        m[f"spark.{k}"] = sum(t[src] for t in timed_tasks)
    roots = [(s.start, s.end) for s in spans if s.parent is None]
    m["spark.driver_s"] = union_length(roots) - union_length(
        [(j.start, j.end) for j in timed_jobs]
    )
    m["trace.read_ms"] = tally.unit_ms("read")
    m["trace.write_ms"] = tally.unit_ms("write")
    m["trace.read_cpu_ms"] = tally.unit_ms("read", cpu=True)
    m["trace.write_cpu_ms"] = tally.unit_ms("write", cpu=True)
    m["trace.jit_s"] = tally.jit_s
    m["trace.bookkeeping_ms_per_op"] = tracer.bookkeeping_s * 1e3 / tally.attempted
    return m


def _jobs_in(job_by_group: dict[str, list[Job]], s: Span) -> list[Job]:
    """Jobs of the span's operation that started inside the span."""
    return [j for j in job_by_group.get(s.op, ()) if s.start - 0.005 <= j.start <= s.end]
