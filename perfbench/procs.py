"""Process bookkeeping from ``/proc``: the benchmark's process tree, its peak
resident memory, and stopping Spark with every process under it; and a
probe of how fast the host runs the JVM at the moment."""

from __future__ import annotations

import os
import signal
import subprocess
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a ``/proc`` stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _stat(pid: int) -> list[str] | None:
    st = _read_stat(f"/proc/{pid}/stat")
    return None if st is None else st[1]


def _table() -> dict[int, list[str]]:
    """Every live process's stat fields (after the command name), by pid."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _below(pid: int, table: dict[int, list[str]]) -> list[int]:
    out, frontier = [], {pid}
    while frontier:
        kids = [p for p, st in table.items() if int(st[1]) in frontier]
        out += kids
        frontier = set(kids)
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children of any of its threads)."""
    return _below(pid, _table())


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``pid`` (default: this
    process) and every process under it: here the JVM and its Python
    workers.  Children that have exited and been reaped count through their
    parent's ``cutime``/``cstime``, so the figure never goes back."""
    pid = os.getpid() if pid is None else pid
    table = _table()
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    return sum(
        sum(int(x) for x in table[p][11:15]) for p in [pid, *_below(pid, table)] if p in table
    ) / _TICK


@dataclass
class CpuClock:
    """CPU seconds of the benchmark's process tree, split into JIT
    compilation by the JVM's compiler threads and everything else.

    The JVM must run with ``-XX:-UseDynamicNumberOfCompilerThreads``, so
    that its compiler threads live as long as it does and their counters
    never vanish."""

    jit_stats: list[str]

    @classmethod
    def for_jvm(cls, jvm: int) -> "CpuClock":
        paths = [f"/proc/{jvm}/task/{t}/stat" for t in os.listdir(f"/proc/{jvm}/task")]
        return cls([p for p in paths if "CompilerThre" in (_read_stat(p) or ("",))[0]])

    def jit_s(self) -> float:
        ticks = 0
        for p in self.jit_stats:
            st = _read_stat(p)
            if st is not None:
                ticks += int(st[1][11]) + int(st[1][12])  # utime, stime
        return ticks / _TICK

    def read(self) -> tuple[float, float]:
        """(CPU seconds other than JIT compilation, JIT seconds) so far."""
        jit = self.jit_s()
        return tree_cpu_s() - jit, jit


#: The probe's fixed work: raise 3 to this power, then sort a copy of this
#: many random longs.  About 18-21 ms of CPU on the 4-vCPU host used here.
PROBE_EXPONENT = 200_000
PROBE_LONGS = 100_000


class SpeedProbe:
    """A fixed piece of single-threaded JVM work, timed in CPU seconds of
    the JVM thread that runs it (``ThreadMXBean``, nanosecond resolution).

    The host is a VM on a shared machine.  When the neighbours are busy,
    every instruction takes longer, so the same call costs more CPU time;
    the probe's CPU time follows the same slowdown.  Dividing a call's CPU
    time by the probe's, measured beside it in the same run, takes much of
    the host's speed out of the figure.  The work is JDK code only
    (``BigInteger``, ``Arrays.sort``): a change to the program's code does
    not move it, though a change to its JVM options could."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._bean = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        self._base = jvm.java.math.BigInteger("3")
        self._arrays = jvm.java.util.Arrays
        self._longs = jvm.java.util.Random(7).longs(PROBE_LONGS).toArray()

    def sample(self) -> float:
        """Run the work once; its CPU seconds."""
        t0 = self._bean.getCurrentThreadCpuTime()
        self._base.pow(PROBE_EXPONENT).bitLength()
        self._arrays.sort(self._arrays.copyOf(self._longs, PROBE_LONGS))
        return (self._bean.getCurrentThreadCpuTime() - t0) / 1e9


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    end = time.monotonic() + timeout
    alive = pids
    while alive and time.monotonic() < end:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM and every process under it, and wait for
    each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in _wait_gone(kids, 15):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(kids, 15)
