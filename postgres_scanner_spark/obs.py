"""The one place that measures a Spark run, shared by bench.py and
tools/:

- `measure(spark, label)`: the stages and totals of a block of work.
- `steal_ms()` and `membw_gbps()`: the host probes.
- `bench_session(...)`: bench.py's session profile.
- `run_query(df, name)`: bench.py's count-or-collect rule.

Stage metrics come from the in-process AppStatusStore, the store
behind the REST status API, which is filled even with
spark.ui.enabled=false. A block's work is found by its jobs, not by
stage ids: concurrent threads interleave stage ids, but each job
carries the tags of the thread that submitted it.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_ms() -> int:
    """Hypervisor steal on this host since boot, in ms (field 8 of the
    /proc/stat cpu line). The host runs in a VM whose CPU allotment
    varies by epoch: 20.8 % steal was measured in 5 s windows under a
    full 32-thread load on a slow day, against ~0 when the band
    artifacts were taken. Both engines drift together, so their ratio
    holds, but a wall-clock claim is reproducible only with its steal
    term."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) * 1000 // _CLK_TCK
    except (OSError, IndexError, ValueError):
        return 0


_MEMBW_MIB = 64
_MEMBW_TRIES = 5


def membw_gbps() -> float:
    """The host's memory bandwidth now: the best of `_MEMBW_TRIES`
    NumPy copies of `_MEMBW_MIB` MiB, counting bytes read plus bytes
    written. A neighbour's memory-bandwidth burst slows a run without
    any steal, so steal alone misses it."""
    import numpy as np
    src = np.ones(_MEMBW_MIB << 17)     # float64: 8 bytes each
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(_MEMBW_TRIES):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return round(2 * src.nbytes / best / 1e9, 2)


@dataclass
class Measurement:
    """What `measure` yields; filled in when the block exits. `stages`
    has one row per stage attempt, ordered by stage id; `totals` sums
    them under bench.py's `diag` keys, plus `jobs`."""
    stages: list[dict] = field(default_factory=list)
    totals: dict = field(default_factory=dict)


@contextmanager
def measure(spark, label: str):
    """Measure the Spark work the block submits. Its jobs carry a job
    tag made of `label` and a unique suffix, which attributes them:
    a tag, unlike a job group, reaches the jobs of a stream the block
    starts, and it leaves the caller's job group and nested blocks
    alone. `label` must not contain a comma."""
    sc = spark.sparkContext
    tag = f"{label}-{uuid.uuid4().hex}"
    m = Measurement()
    steal0 = steal_ms()
    sc.addJobTag(tag)
    try:
        yield m
    finally:
        sc.removeJobTag(tag)
    jobs, m.stages = _stages_of(sc, tag)
    m.totals = _totals(m.stages)
    m.totals["host_steal_ms"] = steal_ms() - steal0
    m.totals["jobs"] = jobs


def _stages_of(sc, tag: str) -> tuple[int, list[dict]]:
    """The number of jobs tagged `tag` and one row per stage of them."""
    jsc = sc._jsc.sc()
    # the listener bus is asynchronous: let it deliver the block's
    # last task-end and job-end events before the store is read
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs, ids = 0, set()
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobTags().contains(tag):
            jobs += 1
            s = j.stageIds().iterator()
            while s.hasNext():
                ids.add(int(s.next()))
    empty = sc._jvm.java.util.ArrayList()
    it = store.stageList(empty, False, False,
                         sc._gateway.new_array(sc._jvm.double, 0),
                         empty).iterator()
    rows = []
    while it.hasNext():
        s = it.next()
        if s.stageId() not in ids:
            continue
        rows.append({
            "id": s.stageId(),
            "name": s.name(),
            "tasks": s.numCompleteTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ms": s.executorCpuTime() // 1_000_000,
            "gc_ms": s.jvmGcTime(),
            "in_mb": s.inputBytes() / 1e6,
            "shuf_r_mb": s.shuffleReadBytes() / 1e6,
            "shuf_w_mb": s.shuffleWriteBytes() / 1e6,
            "spill_mb": (s.memoryBytesSpilled()
                         + s.diskBytesSpilled()) / 1e6,
            "fetch_wait_ms": s.shuffleFetchWaitTime(),
        })
    return jobs, sorted(rows, key=lambda r: r["id"])


# bench.py's `diag` sums, in its order; `stages`, `max_stage_run_ms`
# and `host_steal_ms` follow
_SUMS = ("gc_ms", "spill_mb", "fetch_wait_ms", "run_ms", "cpu_ms",
         "shuf_r_mb", "shuf_w_mb", "in_mb", "tasks")


def _totals(stages: list[dict]) -> dict:
    out = {k: sum(s[k] for s in stages) for k in _SUMS}
    out.update({k: round(v, 1) for k, v in out.items()
                if isinstance(v, float)})
    out["stages"] = len(stages)
    out["max_stage_run_ms"] = max((s["run_ms"] for s in stages), default=0)
    return out


def bench_partitions(sf_dir: str, cpus) -> str:
    """bench.py's shuffle-partition count for the parquet under
    `sf_dir`: 8 below 500 MB, `cpus` at or above it. rglob: a nested
    or partitioned layout must not read as 0 bytes and pick the
    small-data profile."""
    data_bytes = sum(p.stat().st_size
                     for p in Path(sf_dir).rglob("*.parquet"))
    if data_bytes <= 0:
        raise SystemExit(f"bench: no parquet found under {sf_dir!r} — "
                         "wrong SPARK_GRAFT_SF_DIR?")
    return "8" if data_bytes < (500 << 20) else str(cpus)


def bench_session(spark, sf_dir: str, cpus, queries: dict) -> None:
    """Put `spark` in bench.py's profile over `sf_dir`: table cache on
    (unless SPARK_GRAFT_CACHE says otherwise), AQE off, shuffle
    partitions from the data size, tables warmed, and one q6 pass to
    warm the JVM and the parquet footer caches, so that timings
    measure the query and not session start-up.

    Two regimes, split on on-disk data size:

    SMALL (< ~500 MB parquet, i.e. sf ≤ 1): AQE off + 8 shuffle
    partitions — measured at sf0.1 (see PLANS.md): AQE's
    stage-by-stage materialization costs 0.5-1.3 s per sub-second
    query and buys nothing (every plan is already broadcast +
    single-shuffle, no skew), and 32-task shuffle stages over
    kilobytes are pure scheduling overhead.

    BIG (≥ 500 MB, sf ≥ ~2): the 8-partition profile leaves 24 of
    32 cores idle on every corpus-sized exchange AND is a q9
    variance source (8 straggler-prone tasks: 8.5-29 s across runs).
    Measured A/B at sf10 (q9 / d2, min-of-2, idle, data_key
    752d9d59b41d14a9):
      AQE off, parts=8   : 8.53 / 15.68
      AQE on,  parts=64  : 4.20 / 25.85
      AQE on,  parts=32  : 3.55 / 28.27
      AQE off, parts=32  : 3.77 / 17.67   <- chosen
    Cores-wide shuffles cut q9 2.3x and tighten its band; AQE's
    per-stage materialization costs d2 ~10 s in its iterative LSH
    plan, so it stays off in bench mode at every SF (the gate and all
    non-bench entry points keep the AQE-on default, which is the
    right 1000-executor posture).
    """
    from . import tables
    # setdefault so an explicit SPARK_GRAFT_CACHE=0 run measures the
    # raw-scan path
    os.environ.setdefault("SPARK_GRAFT_CACHE", "1")
    parts = bench_partitions(sf_dir, cpus)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    tables.warm(spark, sf_dir)
    queries["q6_forecast_revenue"](spark, sf_dir).collect()


def run_query(df, name: str) -> int:
    """bench.py's timed action: a query whose name starts with d, a, e
    or t is counted, any other is collected. Returns the row count."""
    if name.startswith(("d", "a", "e", "t")):
        return df.count()
    return len(df.collect())
