"""The benchmark's workloads: closed loops with one client, each call waiting
for the one before it, against the public ``HadroCollection`` and
``hadrolog`` surfaces.  Every output is checked against an in-memory model
built from the same seeded inputs.

Both workloads report the same end-to-end metrics (see ``README.md``): a
*read* is a call that returns stored records, a *write* is a call that
commits records, and the timed calls' CPU times (JIT compilation left
out, scaled by the speed probe run after each call) feed the figures.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import inputs
from procs import CpuClock, SpeedProbe, tree_cpu_s
from tracing import walk_store

#: Base collection size: the row count of the sf0.1 ``lineitem`` fixture.
N_ROWS = 600_000
#: Rows in each ``kv_point`` write batch (one ``flush`` commits them).
BATCH = 16
#: Every WRITE_EVERY-th ``kv_point`` call is a write batch (1 in 7):
#: a fixed schedule, so every run adds the same number of commits per
#: call and the read path sees the same growth.
WRITE_EVERY = 7
#: Untimed rounds of one write batch, one ``get`` and one ``contains`` that
#: end the ``kv_point`` set-up.
WARMUP_ROUNDS = 3
#: Untimed reads, ``get`` and ``contains`` in turn, after those rounds: the
#: JVM keeps compiling the read path for 30-40 calls, and reads made before
#: it settles cost up to 1.5 times as much CPU.
WARMUP_READS = 30
#: Rows in each measured ``storage_cycle`` lifecycle.
N_CYCLE = 20_000
#: Rows ``storage_cycle`` appends and decodes through ``hadrolog``; its
#: codec is row-at-a-time Python, so 600k rows alone would take ~20 s.
N_NATIVE = 10_000
#: Cycles ``storage_cycle`` measures even when they outlast the run.  The
#: first measured cycle's steps still cost up to twice the later ones'
#: CPU; a median over three cycles leaves it out, a mean of two would not.
MIN_CYCLES = 3
#: CPU seconds of one speed probe (``procs.SpeedProbe``) that the CPU
#: figures are scaled to: its median on the host used here while the
#: neighbours were quiet.
PROBE_REF_S = 0.018

_EPOCH = dt.datetime(1970, 1, 1)
_NATIVE_DDL = "id bigint, l_orderkey bigint, l_partkey bigint, l_quantity double"


@dataclass
class Tally:
    """Wall and CPU seconds of the timed calls by call site, plus the
    failure count.

    A workload's read (write) figure is the cost of its read (write) unit:
    with ``per_cycle`` the sum over the cycle's read (write) calls of each
    call's median across cycles, otherwise the median over all read (write)
    calls."""

    per_cycle: bool = False
    calls: dict[str, list[float]] = field(default_factory=dict)
    cpu: dict[str, list[float]] = field(default_factory=dict)
    kinds: dict[str, str] = field(default_factory=dict)
    probe_s: list[float] = field(default_factory=list)
    jit_s: float = 0.0
    attempted: int = 0
    failed: int = 0

    def add(self, key: str, kind: str, seconds: float, cpu_s: float, jit_s: float) -> None:
        self.calls.setdefault(key, []).append(seconds)
        self.cpu.setdefault(key, []).append(cpu_s)
        self.jit_s += jit_s
        self.kinds[key] = kind
        self.attempted += 1

    def unit_ms(self, kind: str, cpu: bool = False, scaled: bool = True) -> float:
        """The read or write figure in ms: wall time, or with ``cpu`` the
        CPU time of the benchmark's process tree less JIT compilation,
        times ``PROBE_REF_S`` over the median speed probe unless not
        ``scaled``."""
        src = self.cpu if cpu else self.calls
        keys = [k for k, v in self.kinds.items() if v == kind]
        if self.per_cycle:
            ms = 1e3 * sum(statistics.median(src[k]) for k in keys)
        else:
            ms = 1e3 * statistics.median([x for k in keys for x in src[k]])
        if cpu and scaled:
            ms *= PROBE_REF_S / statistics.median(self.probe_s)
        return ms

    def count(self, kind: str) -> int:
        return sum(len(v) for k, v in self.calls.items() if self.kinds[k] == kind)


@dataclass
class Run:
    spark: object
    work_dir: str
    seed: int
    seconds: float
    tracer: object
    clock: CpuClock
    probe: SpeedProbe
    tally: Tally = field(default_factory=Tally)
    fixture_s: float = 0.0
    fixture_cpu_s: float = 0.0
    stored_ratio: list[float] = field(default_factory=list)
    input_bytes: int = 0
    window: tuple[float, float] = (0.0, 0.0)
    notes: list[str] = field(default_factory=list)

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    @contextmanager
    def guard(self, what: str):
        """Count a call that raises as one failed attempt and keep going:
        the run must still report how many calls failed."""
        try:
            yield
        except Exception:
            self.tally.attempted += 1
            self.tally.failed += 1
            self.notes.append(f"{what} raised: {traceback.format_exc(limit=3)}")

    @contextmanager
    def timed(self, key: str, kind: str):
        """Time one call, wall and CPU, into the tally, then run the speed
        probe once."""
        c0, j0 = self.clock.read()
        t0 = time.perf_counter()
        yield
        t1 = time.perf_counter()
        c1, j1 = self.clock.read()
        self.tally.add(key, kind, t1 - t0, c1 - c0, j1 - j0)
        self.tally.probe_s.append(self.probe.sample())


def _micros(v: dt.datetime) -> int:
    return (v.replace(tzinfo=None) - _EPOCH) // dt.timedelta(microseconds=1)


# ----------------------------------------------------------------- kv_point
class KvModel:
    """Expected state of the ``kv_point`` collection: the seeded base rows
    with the fixture's shadow commits applied, plus acknowledged writes."""

    def __init__(self, base: dict[str, np.ndarray]) -> None:
        self.base = base
        self.n = len(base["id"])
        self.over: dict[int, tuple | None] = {}

    def row(self, key: int) -> tuple | None:
        if key in self.over:
            return self.over[key]
        if 0 <= key < self.n:
            return tuple(self.base[c][key].item() for c in inputs.COLUMNS)
        return None


def _as_tuple(rec: dict) -> tuple:
    return tuple(
        _micros(rec[c]) if c == "l_shipdate" else rec[c] for c in inputs.COLUMNS
    )


def _as_record(row: tuple) -> dict:
    rec = dict(zip(inputs.COLUMNS, row))
    rec["l_shipdate"] = _EPOCH + dt.timedelta(microseconds=rec["l_shipdate"])
    return rec


def kv_point(run: Run) -> None:
    """Point reads (6 calls in 7: ``get`` and ``contains``) with 16-record
    ``set``/``delete`` batches committed by ``flush`` (1 call in 7), on a 600k-row,
    3-commit, non-compacted collection with uniform string keys."""
    from hadrodb_spark.sources.collection import HadroCollection

    spark, rng = run.spark, np.random.default_rng(run.seed)
    base = inputs.lineitem(N_ROWS, run.seed)
    shadows = []
    for bump_col in ("l_quantity", "l_tax"):
        idx = np.sort(rng.choice(N_ROWS, N_ROWS // 20, replace=False))
        sh = inputs.take(base, idx)
        sh[bump_col] = sh[bump_col] + 1.0
        shadows.append(sh)
    files = [run.path("base.parquet"), run.path("shadow1.parquet"), run.path("shadow2.parquet")]
    run.input_bytes = sum(
        inputs.write_parquet(cols, f) for cols, f in zip([base, *shadows], files)
    )
    model_cols = {k: v.copy() for k, v in base.items()}
    for sh in shadows:
        for c in inputs.COLUMNS:
            model_cols[c][sh["id"]] = sh[c]
    model = KvModel(model_cols)
    dfs = [spark.read.parquet(f) for f in files]

    tracer, tally = run.tracer, run.tally
    written: list[int] = []
    next_new = N_ROWS
    gen_seed = run.seed * 1_000_003

    def timed(key: str, kind: str, measure: bool):
        return run.timed(key, kind) if measure else nullcontext()

    def write_batch(op: str, measure: bool) -> None:
        nonlocal next_new
        fresh = inputs.lineitem(BATCH, gen_seed + len(written))
        batch: list[tuple[int, tuple | None]] = []
        for j in range(BATCH):
            if rng.random() < 0.25:
                batch.append((int(rng.integers(N_ROWS)), None))
                continue
            if rng.random() < 0.5:
                key, next_new = next_new, next_new + 1
            else:
                key = int(rng.integers(N_ROWS))
            fresh["id"][j] = key
            batch.append((key, tuple(fresh[c][j].item() for c in inputs.COLUMNS)))
        with timed("write_batch", "write", measure), tracer.span("collection.write_batch", op):
            for key, row in batch:
                if row is None:
                    coll.delete(str(key))
                else:
                    coll.set(str(key), _as_record(row))
            with tracer.span("collection.flush"):
                coll.flush()
        for key, row in batch:
            model.over[key] = row
            written.append(key)
        tracer.store_sample("collection", path)

    def read(op: str, measure: bool, use_get: bool) -> None:
        u = rng.random()
        if u < 0.10 and written:
            key = written[int(rng.integers(len(written)))]
        elif u < 0.15:
            key = int(rng.integers(2 * N_ROWS, 3 * N_ROWS))
        else:
            key = int(rng.integers(N_ROWS))
        want = model.row(key)
        if use_get:
            with timed("get", "read", measure), tracer.span("collection.get", op):
                try:
                    got = _as_tuple(coll.get(str(key)))
                except KeyError:
                    got = None
        else:
            with timed("contains", "read", measure), tracer.span("collection.contains", op):
                got = str(key) in coll
            want = want is not None
        if got != want:
            tally.failed += 1

    # set-up: build the 3-commit collection, reopen it, and warm both call
    # paths (the first flush and the first reads compile and cache a lot)
    path = run.path("kv")
    t0, c0 = time.perf_counter(), tree_cpu_s()
    coll = HadroCollection(spark, path, dfs[0].schema)
    for df in dfs:
        coll.append_df(df, key_col="id")
    run.stored_ratio.append(walk_store(path)["bytes"] / run.input_bytes)
    coll = HadroCollection(spark, path)
    for w in range(WARMUP_ROUNDS):
        write_batch(f"kv_point:warmup{w}", False)
        read(f"kv_point:warmup{w}g", False, True)
        read(f"kv_point:warmup{w}c", False, False)
    for w in range(WARMUP_READS):
        read(f"kv_point:warmup-read{w}", False, w % 2 == 0)
    run.fixture_s = time.perf_counter() - t0
    run.fixture_cpu_s = tree_cpu_s() - c0

    t_start = time.perf_counter()
    run.window = (time.time(), 0.0)
    i = 0
    while time.perf_counter() - t_start < run.seconds:
        i += 1
        with run.guard(f"kv_point call {i}"):
            if i % WRITE_EVERY == 0:
                write_batch(f"kv_point:{i}", True)
            else:
                read(f"kv_point:{i}", True, rng.random() < 0.5)
    run.window = (run.window[0], time.time())

    # every acknowledged write must be readable from a freshly opened handle
    keys = sorted(set(written))
    if keys:
        reopened = HadroCollection(spark, path)
        rows = (
            reopened.scan()
            .filter(F.col("_key").isin([str(k) for k in keys]))
            .collect()
        )
        got = {int(r["_key"]): _as_tuple(r.asDict()) for r in rows}
        bad = sum(1 for k in keys if got.get(k) != model.row(k))
        run.notes.append(f"reopen check: {len(keys)} written keys, {bad} wrong")
        tally.failed += bad


# ------------------------------------------------------------ storage_cycle
def _live_hash(df) -> tuple[int, int]:
    """(row count, content hash) of a relation with the generated columns."""
    r = df.agg(F.count(F.lit(1)), F.sum(F.expr(inputs.ROW_HASH_SQL))).first()
    return int(r[0]), int(r[1] or 0)


def _cycle(run: Run, base: dict[str, np.ndarray], c: int, src_path: str, checked: bool) -> None:
    """One log lifecycle on a fresh collection of the rows in ``base``
    (stored at ``src_path``): bulk append, 10% shadow append, LWW scan, 1%
    merge, 0.5% delete, range and full compaction, clean scan, then a
    ``hadrolog`` append and typed decode.  With ``checked``, the calls are
    timed and each step's live count and content hash (and the decode's
    count and sums) are compared to the numpy model."""
    from hadrodb_spark.sources.collection import HadroCollection

    spark, tracer, tally = run.spark, run.tracer, run.tally
    rng = np.random.default_rng([run.seed, c + 1])
    r_shadow, r_merge, r_del = (int(rng.integers(m)) for m in (10, 100, 200))
    n = len(base["id"])
    src = spark.read.parquet(src_path)
    path, native = run.path(f"cycle{c}"), run.path(f"native{c}")
    coll = HadroCollection(spark, path, src.schema)

    steps = iter(range(100))

    def step(name: str, kind: str, fn):
        i = next(steps)
        if not checked:
            return fn()
        with run.timed(f"{i}:{name}", kind), tracer.span(name, f"storage_cycle:{c}:{i}"):
            out = fn()
        if name == "hadrolog.write":
            tracer.store_sample("hadrolog", native)
        elif kind == "write":
            tracer.store_sample("collection", path)
        return out

    def check(ok: bool, what: str) -> None:
        if checked and not ok:
            tally.failed += 1
            run.notes.append(f"cycle {c}: wrong result {what}")

    def check_live(got: tuple[int, int] | None, what: str) -> None:
        if checked:
            want = (int(live.sum()), int(inputs.row_hash(cols)[live].sum()))
            check((got or _live_hash(coll.scan())) == want, what)

    # the model: expected column values by position, and which rows are live
    cols = {k: v.copy() for k, v in base.items()}
    ids = cols["id"]
    live = np.ones(n, dtype=bool)
    step("collection.append_df", "write", lambda: coll.append_df(src, key_col="id"))
    sh = ids % 10 == r_shadow
    cols["l_quantity"] = np.where(sh, cols["l_quantity"] + 1.0, cols["l_quantity"])
    step("collection.append_df", "write", lambda: coll.append_df(
        src.filter(F.col("id") % 10 == r_shadow)
        .withColumn("l_quantity", F.col("l_quantity") + 1.0), key_col="id"))
    check_live(step("collection.scan_lww", "read",
                    lambda: _live_hash(coll.scan())), "after shadow append")

    # merge 1% of the file's rows with l_tax + 0.01: every other hundred-id
    # block moves to fresh keys (insert), the rest update live keys
    m = ids % 100 == r_merge
    ins = m & (ids // 100 % 2 == 1)
    upd = m & ~ins
    extra = inputs.take(base, ins)
    extra["id"] = extra["id"] + n
    extra["l_tax"] = extra["l_tax"] + 0.01
    for k in inputs.COLUMNS[1:]:
        cols[k] = np.where(upd, base[k], cols[k])
    cols["l_tax"] = np.where(upd, base["l_tax"] + 0.01, cols["l_tax"])
    merge_src = (
        src.filter(F.col("id") % 100 == r_merge)
        .withColumn("l_tax", F.col("l_tax") + 0.01)
        .withColumn("id", F.when(F.expr("id div 100 % 2 = 1"), F.col("id") + n)
                    .otherwise(F.col("id")))
    )
    step("collection.merge_df", "write",
         lambda: coll.merge_df(merge_src, key_col="id"))
    cols = inputs.concat([cols, extra])
    live = np.concatenate([live, np.ones(int(ins.sum()), dtype=bool)])
    check_live(None, "after merge_df")

    dead = live & (cols["l_suppkey"] % 200 == r_del)
    step("collection.delete_where", "write",
         lambda: coll.delete_where(f"l_suppkey % 200 = {r_del}"))
    live &= ~dead
    check_live(None, "after delete_where")

    seqs = sorted(int(d.split("=", 1)[1])
                  for d in os.listdir(os.path.join(path, "segments")) if d.startswith("_seq="))
    step("collection.compact_range", "write",
         lambda: coll.compact(upto=seqs[-1], since=seqs[1]))
    check_live(None, "after compact_range")
    step("collection.compact_full", "write", coll.compact)
    check_live(step("collection.scan_clean", "read",
                    lambda: _live_hash(coll.scan())), "after compact")
    if checked:
        run.stored_ratio.append(walk_store(path)["bytes"] / run.input_bytes)

    k = min(n, N_NATIVE)
    step("hadrolog.write", "write", lambda: src.filter(F.col("id") < k)
         .select("id", "l_orderkey", "l_partkey", "l_quantity")
         .write.format("hadrolog").option("path", native).mode("append").save())
    got = step("hadrolog.read", "read", lambda: tuple(
        spark.read.format("hadrolog").option("path", native).option("ddl", _NATIVE_DDL).load()
        .agg(F.count(F.lit(1)), F.sum("id"), F.sum("l_partkey"), F.sum("l_quantity")).first()))
    want = (k, int(base["id"][:k].sum()), int(base["l_partkey"][:k].sum()))
    q = float(base["l_quantity"][:k].sum())
    check(got[:3] == want and abs(got[3] - q) <= 1e-9 * q, "from hadrolog decode")
    shutil.rmtree(path)
    shutil.rmtree(native)


def storage_cycle(run: Run) -> None:
    """Repeated bulk log lifecycles (see :func:`_cycle`) with no point
    reads.  Set-up ends with one untimed, unchecked cycle of the same
    size."""
    from hadrodb_spark.sources import hadrolog

    spark = run.spark
    base = inputs.lineitem(N_CYCLE, run.seed)
    src_path = run.path("lineitem.parquet")
    run.input_bytes = inputs.write_parquet(base, src_path)
    run.tally.per_cycle = True

    t0, c0 = time.perf_counter(), tree_cpu_s()
    hadrolog.register(spark)
    _cycle(run, base, -1, src_path, checked=False)
    run.fixture_s = time.perf_counter() - t0
    run.fixture_cpu_s = tree_cpu_s() - c0

    t_start = time.perf_counter()
    run.window = (time.time(), 0.0)
    c = 0
    while c < MIN_CYCLES or time.perf_counter() - t_start < run.seconds:
        with run.guard(f"storage_cycle cycle {c}"):
            _cycle(run, base, c, src_path, checked=True)
        c += 1
    run.window = (run.window[0], time.time())
    run.notes.append(f"{c} cycles")


WORKLOADS = {"kv_point": kv_point, "storage_cycle": storage_cycle}
