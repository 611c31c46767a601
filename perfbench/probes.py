"""Measurements taken from outside the program: the process tree in
/proc, the host's steal time, and Spark's own status stores.

Nothing here imports metacrafter_spark; the status-store readers take
a live SparkSession.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_uptime_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def _stat_all() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed
            continue
        # rest[0] is the state field (stat field 3)
        cpu = sum(int(v) for v in rest[11:15]) / _TICK
        out[int(name)] = (int(rest[1]), cpu, int(rest[21]) * _PAGE)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(children.get(pid, ()))
    return [p for p in seen if p in stats]


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, each with its
    reaped children (cutime/cstime), so a Python worker that exits
    mid-run still counts once its parent has waited for it."""
    stats = _stat_all()
    return sum(stats[p][1] for p in _tree(stats, root))


def tree_rss_bytes(root: int) -> int:
    stats = _stat_all()
    return sum(stats[p][2] for p in _tree(stats, root))


class PeakRss:
    """Samples the process tree's summed RSS on a thread until stopped."""

    # one sample reads /proc for every process (~1.5 ms of the driver's
    # CPU and interpreter lock); at 10 Hz that stays near 1 % of a core
    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s = root, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


def host_ref_s() -> float:
    """Seconds a fixed pure-Python loop takes: how fast this host runs
    one thread right now.  On a shared host the same loop took up to 1.7
    times as long with no steal in /proc/stat, so it is logged beside
    each call.  One sample is short and noisy; a stretch of slow ones
    marks a slow host."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the host-wide line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# --------------------------------------------------------------------------
# Spark status stores (both work with spark.ui.enabled=false)
# --------------------------------------------------------------------------

@dataclass
class Execution:
    description: str
    duration_s: float
    plan: str


@dataclass
class Stage:
    description: str
    run_s: float
    cpu_s: float
    shuffle_write_b: int
    spill_b: int


def _opt(o, default=""):
    return o.get() if o.isDefined() else default


class StatusStores:
    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.gw = spark.sparkContext._gateway
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        """High-water marks: (executions, max job id, max stage id)."""
        return (self.sql.executionsCount(),
                max((j.jobId() for j in self._jobs()), default=-1),
                max((s.stageId() for s in self._stages()), default=-1))

    def codegen_compiles(self) -> int:
        """Generated classes compiled so far (Spark's codegen metrics).
        A query whose code is in the codegen cache compiles nothing."""
        metrics = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def _seq(self, seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    def _jobs(self) -> list:
        return self._seq(self.app.jobsList(self.jvm.java.util.ArrayList()))

    def executions_after(self, n0: int) -> list[Execution]:
        n = self.sql.executionsCount()
        out = []
        for e in self._seq(self.sql.executionsList(n0, max(n - n0, 0))):
            end = e.completionTime()
            dur = ((end.get().getTime() - e.submissionTime()) / 1000.0
                   if end.isDefined() else 0.0)
            out.append(Execution(e.description() or "",
                                 dur, e.physicalPlanDescription() or ""))
        return out

    def jobs_after(self, job0: int) -> int:
        return sum(1 for j in self._jobs() if j.jobId() > job0)

    def _stages(self) -> list:
        empty = self.gw.new_array(self.jvm.double, 0)
        return self._seq(self.app.stageList(
            self.jvm.java.util.ArrayList(), False, False, empty,
            self.jvm.java.util.ArrayList()))

    def stages_after(self, stage0: int) -> list[Stage]:
        out = []
        for s in self._stages():
            if s.stageId() <= stage0:
                continue
            out.append(Stage(_opt(s.description()),
                             s.executorRunTime() / 1e3,
                             s.executorCpuTime() / 1e9,
                             int(s.shuffleWriteBytes()),
                             int(s.memoryBytesSpilled())))
        return out
