"""Host and process probes: steal, memory bandwidth, the Spark process
tree's RSS and Python-worker CPU, and Spark counts by job group.

Everything here reads `/proc` or Spark's in-process AppStatusStore;
nothing changes what the program under test does.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------- host
def cpu_ms() -> tuple[float, float]:
    """Cumulative (busy, steal) CPU time of the host, in ms: busy is
    user, nice, system, irq and softirq; steal is the time the
    hypervisor gave a runnable vCPU to another guest."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    busy = f[0] + f[1] + f[2] + f[5] + f[6]
    return busy * 1000.0 / _CLK, f[7] * 1000.0 / _CLK


def steal_ms() -> float:
    """Cumulative hypervisor steal time of the host, in ms."""
    return cpu_ms()[1]


def membw_gbps(mb: int = 64, reps: int = 5) -> float:
    """Best-of-`reps` NumPy copy bandwidth (read + write bytes) in GB/s.
    A host under a memory-bandwidth burst from a neighbour reads low."""
    src = np.ones(mb << 17, dtype=np.float64)     # mb MiB
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return 2 * src.nbytes / best / 1e9


# ------------------------------------------------------ process tree
def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the comm field may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcessTree:
    """The benchmark's own process and its descendants, minus the
    subtrees rooted at `exclude` (the Postgres server)."""

    def __init__(self):
        self.exclude: set[int] = set()

    def pids(self) -> list[int]:
        kids = _children()
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            if p in self.exclude:
                continue
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def rss_mb(self) -> float:
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1])
            except OSError:
                pass           # exited between listing and reading
        return total * _PAGE / 1e6

    def cpu_s(self) -> tuple[float, float]:
        """(tree, PySpark workers) CPU seconds so far: utime+stime of
        every live process plus cutime+cstime, the time of children it
        has already reaped. PySpark workers forked by the daemon land in
        the daemon's cutime when they exit; directly launched ones (data
        source planning) in the JVM's."""
        tree = workers = 0
        for p in self.pids():
            st = _stat(p)
            if st is None:
                continue
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            own, reaped = int(st[11]) + int(st[12]), int(st[13]) + int(st[14])
            tree += own + reaped
            if p == os.getpid():
                continue
            cmd = _cmdline(p)
            python = os.path.basename(cmd.split(" ", 1)[0]).startswith("python")
            if python and "pyspark" in cmd:
                workers += own
            if (python and "pyspark.daemon" in cmd) or "SparkSubmit" in cmd:
                workers += reaped
        return tree / _CLK, workers / _CLK


class PeakRss:
    """Samples the tree's summed RSS every `period` s on a thread."""

    def __init__(self, tree: ProcessTree, period: float = 0.25):
        self.tree, self.period = tree, period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> float:
        self.peak = max(self.peak, self.tree.rss_mb())
        return self.peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------- Spark counters
class JobGroupStats:
    """Per-job-group sums from the AppStatusStore (the store behind
    the REST status API, filled even with the UI off). Each operation
    runs under its own `sc.setJobGroup`, so attribution holds however
    stages interleave."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._darr = sc._gateway.new_array(sc._jvm.double, 0)

    def collect(self, group: str) -> dict:
        # the listener bus is asynchronous: let it deliver the last
        # task-end events before reading
        self._sc.listenerBus().waitUntilEmpty(10_000)
        stage_ids, jobs = set(), 0
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                jobs += 1
                s = j.stageIds().iterator()
                while s.hasNext():
                    stage_ids.add(int(s.next()))
        out = {"jobs": jobs, "stages": 0, "tasks": 0, "task_run_s": 0.0,
               "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0,
               "spill_mb": 0.0}
        it = self._store.stageList(self._empty, False, False, self._darr,
                                   self._empty).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
                continue          # skipped stages ran no tasks
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_mb"] += (s.shuffleReadBytes()
                                  + s.shuffleWriteBytes()) / 1e6
            out["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / 1e6
        return out
