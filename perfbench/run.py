#!/usr/bin/env python3
"""The repo's benchmark: one closed-loop client, seeded workloads.

    python3 perfbench/run.py --workload pg --seed 1 --seconds 3 --trace 0

Workloads (see perfbench/README.md): `pg`, `headline`, or `all` to
run both in one process. Each run reads the sf0.1 test data that
bench.py reads, sets up (Spark at local[min(nproc, 4)], a scratch
Postgres cluster for the PG workloads, warm-up operations), then sends
operations one at a time in a seeded order, in whole rounds for
`--seconds` (one round at least), and checks every output against
DuckDB over the same parquet. Gated times are net of hypervisor steal
(`net_of_steal`).

Standard output ends with a report line per workload (every metric,
sample counts, host probes, configuration) and then one JSON line:
`{"correct", "attempted", "failed", "metrics"}` holding the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). A traced
run traces every other round (spans, and Spark counts by job group),
runs the per-layer probes after the window, and writes
its spans to `.perfbench/`. The exit code is 0 only when every
operation succeeded and matched its check.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

SF_NAME = {"full": "sf0.1", "tiny": "sf0.001"}   # test data set per --scale
PG_SHARE = 0.25   # of the order-key range, loaded into Postgres
# metric name -> unit, as BENCHMARK.json lists them
_SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
HOST_CPUS = os.cpu_count() or 1
CPUS = min(HOST_CPUS, 4)  # Spark runs at local[CPUS]
_SPARK_SUMS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
               "shuffle_mb", "spill_mb")


class Context:
    """What a workload needs from the run: the session, the server,
    the data directory, and a place to record layer numbers."""

    def __init__(self, spark, cpus: int, work: Path, sf_dir: str):
        self.spark, self.cpus, self.work = spark, cpus, str(work)
        self.sf_dir = sf_dir                   # the test data set, read-only
        self.pg_dir = str(work / "pgdata")     # its Postgres-side tables
        self.pg_rows: dict[str, int] = {}
        self.server = None
        self.layer: dict[str, float] = {}
        self.checks: list[dict] = []            # the layer probes' checks
        self.off_clock_s = 0.0

    @contextmanager
    def off_clock(self):
        """Time the benchmark's own work (table subsets, DuckDB
        expectations), which `setup_s` leaves out."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.off_clock_s += time.perf_counter() - t0


def data_dir(scale: str) -> Path:
    """The test data set that bench.py reads, at the scale's size."""
    import bench
    return Path(bench.SF_DIR).parent / SF_NAME[scale]


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count as set-up)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_spark(cpus: int, work: Path):
    """The program's own session (`get_spark`), with every scratch
    directory inside the run directory and the console progress bar
    off."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "pyspark-shell")
    from postgres_scanner_spark import get_spark
    from postgres_scanner_spark.pg_datasource import ensure_registered
    spark = get_spark(cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_registered(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it
    started, and wait for each to exit."""
    from pyspark import SparkContext
    from probes import ProcessTree, _cmdline
    workers = [p for p in ProcessTree().pids() if "pyspark" in _cmdline(p)
               and p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()          # the JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


_SESSION_CONF = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def reset_session(spark, conf: dict, cache_env) -> None:
    """Drop what a workload left in the shared session (the table
    cache and its blocks, conf, the cache switch), so that the next
    workload of `--workload all` starts as it would alone, Spark
    start aside."""
    from postgres_scanner_spark import tables
    for df in tables._CACHE.values():
        df.unpersist()
    tables._CACHE.clear()
    spark.catalog.clearCache()
    for k, v in conf.items():
        spark.conf.set(k, v)
    if cache_env is None:
        os.environ.pop("SPARK_GRAFT_CACHE", None)
    else:
        os.environ["SPARK_GRAFT_CACHE"] = cache_env


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def net_of_steal(wall_s: float, busy_ms: float, steal_ms: float) -> float:
    """`wall_s` net of hypervisor steal: scaled by the share of the
    CPU time the host's busy vCPUs wanted meanwhile that they got
    (busy ÷ (busy + steal)), which is what the interval would have
    taken on an unshared host if steal slowed all its work alike. A
    shared host loses a varying share of its CPU to neighbours, and the
    share drifts from minute to minute; every gated time is net of it."""
    return wall_s * busy_ms / max(busy_ms + steal_ms, 1e-9) if steal_ms \
        else wall_s


def _of(ops: list[dict], kind: str, key: str) -> list[float]:
    return [o[key] for o in ops if o["kind"] == kind]


class Runner:
    """Runs one workload: set-up, warm-up, the timed closed loop, and
    (traced) the layer probes."""

    def __init__(self, name: str, args, tree):
        from spans import Tracer
        from workloads import WORKLOADS
        self.name, self.args, self.tree = name, args, tree
        self.cls = WORKLOADS[name]
        self.needs_server = self.cls.uses_server or bool(args.trace)
        self.work = WORK / f"{name}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        self.sf_dir = str(data_dir(args.scale))
        self.pg_dir = str(self.work / "pgdata")
        self.pg_rows: dict[str, int] = {}
        self.server = None
        self.tracer = Tracer(False)
        self.ctx = self.wl = None
        self.ops: list[dict] = []
        self.setup_checks: list[dict] = []
        self.n_op = 0
        self.inject_pending = False
        self.phases: dict[str, float] = {}     # set-up, for the report

    def start_server(self) -> None:
        """The Postgres side, which needs no Spark and so runs beside
        Spark start: the table subsets, a scratch cluster, and lineitem
        loaded and vacuumed."""
        import pyarrow.parquet as pq
        import pgserver
        from workloads import load_lineitem, pg_tables
        self.pg_rows = pg_tables(self.sf_dir, self.pg_dir, PG_SHARE)
        self.server = pgserver.Server(str(self.work / "pg"))
        self.tree.exclude.add(self.server.proc.pid)
        load_lineitem(self.server.dsn, "lineitem",
                      pq.read_table(f"{self.pg_dir}/lineitem.parquet"))

    def setup(self, spark, begin: tuple[float, float],
              server_job=None) -> None:
        """Server (`server_job`, a Future of `start_server`, when it was
        started beside Spark), workload set-up and warm-up; `setup_s`
        runs from `begin` (perf_counter and cpu_ms then) to the end of
        the warm-up, less the benchmark's own work on this thread
        (`Context.off_clock`), net of steal."""
        import probes
        import bench
        t0 = time.perf_counter()
        if server_job is not None:
            server_job.result()
        elif self.needs_server:
            self.start_server()
        self.phases["server_wait_s"] = time.perf_counter() - t0
        self.ctx = ctx = Context(spark, CPUS, self.work, self.sf_dir)
        ctx.pg_rows, ctx.server = self.pg_rows, self.server
        self.config = {"workload": self.name, "seed": self.args.seed,
                       "data": ctx.sf_dir,
                       "data_key": bench._data_key(ctx.sf_dir),
                       "pg_rows": ctx.pg_rows, "nproc": HOST_CPUS,
                       "spark_master": f"local[{CPUS}]",
                       "server": (ctx.server.settings() if ctx.server
                                  else None)}
        self.wl = self.cls(self.ctx)
        if self.args.trace:
            from probes import JobGroupStats
            self.stats = JobGroupStats(spark)
        t0 = time.perf_counter()
        self.wl.setup()
        self.phases["workload_setup_s"] = time.perf_counter() - t0
        if self.wl.warmup_checks is not None:
            for kind, ok, detail in self.wl.warmup_checks:
                self.setup_checks.append(
                    {"kind": kind, "ok": ok,
                     "error": None if ok else str(detail)})
        else:
            t0 = time.perf_counter()
            for kind in self.wl.kinds:
                params = self.wl.draw(kind, random.Random(-1))
                self.setup_checks.append(
                    self.execute(kind, params, traced=False))
            self.phases["warmup_s"] = time.perf_counter() - t0
        self.phases.update(ctx.layer, off_clock_s=ctx.off_clock_s)
        self.setup_wall_s = time.perf_counter() - begin[0] - ctx.off_clock_s
        busy, steal = (b - a for a, b in zip(begin[1], probes.cpu_ms()))
        self.setup_s = net_of_steal(self.setup_wall_s, busy, steal)

    def execute(self, kind: str, params: dict, traced: bool) -> dict:
        import probes
        from workloads import Phases
        sc = self.ctx.spark.sparkContext
        self.n_op += 1
        group = f"op-{self.n_op}"
        self.tracer.enabled = traced
        self.tracer.op_id = self.n_op
        ph = Phases(self.tracer, traced)
        cpu0, host0 = self.tree.cpu_s(), probes.cpu_ms()
        rec = {"kind": kind, "traced": traced, "ok": False, "error": None}
        sc.setJobGroup(group, kind)
        span = None
        try:
            with self.tracer.span(f"op.{kind}") as span:
                out, rec["rows"] = self.wl.run(kind, params, ph)
        except Exception as exc:   # noqa: BLE001 - counted as a failed op
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        sc.setJobGroup("between-ops", "")
        cpu1 = self.tree.cpu_s()
        rec["cpu_s"], rec["py_cpu_s"] = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
        rec["wall_s"] = sum(ph.seconds.values())
        busy, steal = (b - a for a, b in zip(host0, probes.cpu_ms()))
        rec["steal_ms"] = steal
        rec["latency_s"] = net_of_steal(rec["wall_s"], busy, steal)
        rec["phases"] = dict(ph.seconds)
        if rec["error"] is None:
            if self.inject_pending:
                out, self.inject_pending = ("injected wrong result",), False
            with self.ctx.off_clock():
                want = self.wl.expect(kind, params)
            rec["ok"] = out == want
            if not rec["ok"]:
                rec["error"] = f"output {str(out)[:200]} != expected {str(want)[:200]}"
        self.wl.after()
        if traced:
            rec["spark"] = self.stats.collect(group)
            span["counts"] = {**rec["spark"], "cpu_s": rec["cpu_s"],
                              "py_cpu_s": rec["py_cpu_s"]}
        self.tracer.enabled = False
        return rec

    def loop(self) -> None:
        """The timed closed loop: whole shuffled rounds of the
        workload's deck, one at least, until --seconds have passed, so
        every kind has the same sample count. A traced run traces every
        other round and runs two rounds at least."""
        import probes
        rng = random.Random(self.args.seed)
        self.inject_pending = self.args.inject_wrong_result
        self.steal0, self.membw = probes.steal_ms(), [probes.membw_gbps()]
        t0 = time.monotonic()
        rounds = 0
        min_rounds = 2 if self.args.trace else 1
        while rounds < min_rounds or time.monotonic() - t0 < self.args.seconds:
            deck = list(self.wl.deck)
            rng.shuffle(deck)
            params = [self.wl.draw(kind, rng) for kind in deck]
            if rounds == 0:
                self.first_round = [list(x) for x in zip(deck, params)]
            for kind, p in zip(deck, params):
                # every other round is traced
                traced = bool(self.args.trace) and rounds % 2 == 1
                self.ops.append(self.execute(kind, p, traced))
            rounds += 1
        self.window_s = time.monotonic() - t0
        self.steal_ms = probes.steal_ms() - self.steal0
        self.membw.append(probes.membw_gbps())

    def result(self, peak_rss_mb: float) -> tuple[dict, dict]:
        """(report, final-line metrics)."""
        plain = [o for o in self.ops if not o["traced"]]
        kinds = self.wl.kinds
        p50 = {k: _median(_of(plain, k, "latency_s")) for k in kinds}
        p50_wall = {k: _median(_of(plain, k, "wall_s")) for k in kinds}
        layer = self.layer_metrics(p50) if self.args.trace else None
        checked = self.setup_checks + self.ops + self.ctx.checks
        failed = [o for o in checked if not o["ok"]]
        cpu50 = {k: _median(_of(plain, k, "cpu_s")) for k in kinds}
        e2e = {"setup_s": self.setup_s, "round_s": sum(p50.values())}
        reported = {**{k: (v, END_TO_END[k]) for k, v in e2e.items()},
                    "round_cpu_s": (sum(cpu50.values()), "s"),
                    "peak_rss_mb": (peak_rss_mb, "MB"),
                    "error_rate": (len(failed) / len(checked), "fraction"),
                    **self.wl.summary(p50)}
        report = {
            "workload": self.name, "config": self.config,
            "setup_phases": self.phases,
            "window_s": self.window_s,
            "first_round": self.first_round,
            "samples": {k: len(_of(plain, k, "kind")) for k in kinds},
            "setup_wall_s": self.setup_wall_s,
            "round_wall_s": sum(p50_wall.values()),
            "p50_s": p50,
            "warmup_ops": [[o["kind"], round(o["wall_s"], 4)]
                           for o in self.setup_checks if "wall_s" in o],
            "ops": [[o["kind"], round(o["wall_s"], 4), o["steal_ms"]]
                    for o in plain],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in reported.items()},
            "host": {"steal_ms": self.steal_ms,
                     "membw_gbps": statistics.mean(self.membw)},
            "failures": failed[:5],
            "attempted": len(checked), "failed": len(failed),
        }
        if not self.args.trace:
            return report, {k: {"value": v, "unit": END_TO_END[k]}
                            for k, v in e2e.items()}
        report["layer"] = layer
        return report, {k: {"value": layer[k], "unit": u}
                        for k, u in PER_LAYER.items()}

    def layer_metrics(self, p50_plain: dict) -> dict:
        import layers
        traced = [o for o in self.ops if o["traced"] and o["ok"]]
        n = max(len(traced), 1)
        out = {f"spark.{k}": sum(o["spark"][k] for o in traced) / n
               for k in _SPARK_SUMS}
        wall = sum(o["wall_s"] for o in traced)
        out["spark.executor_busy_frac"] = (
            sum(o["spark"]["task_run_s"] for o in traced)
            / max(wall * CPUS, 1e-9))
        out["spark.python_worker_cpu_s"] = sum(o["py_cpu_s"] for o in traced) / n
        for ph in ("driver.plan_build", "driver.catalyst_plan", "driver.exec"):
            out[f"{ph}_s"] = sum(o["phases"].get(ph, 0.0) for o in traced) / n
        p50_traced = {k: _median([o["latency_s"] for o in traced
                                  if o["kind"] == k]) for k in p50_plain}
        common = [k for k in p50_plain
                  if not math.isnan(p50_traced[k] + p50_plain[k])]
        out["trace.overhead_frac"] = (
            sum(p50_traced[k] for k in common)
            / max(sum(p50_plain[k] for k in common), 1e-9) - 1.0)
        out["host.membw_gbps"] = statistics.mean(self.membw)
        out["host.steal_ms"] = self.steal_ms
        steady = {f"query.{k}_s": v for k, v in p50_plain.items()
                  if f"query.{k}_s" in PER_LAYER}
        probed = [m[len("query."):-len("_s")] for m in PER_LAYER
                  if m.startswith("query.") and m not in steady]
        self.tracer.enabled = True
        out.update(layers.run_all(self.ctx, self.tracer,
                                  random.Random(self.args.seed), probed))
        out.update(steady)
        self.tracer.enabled = False
        self.tracer.dump(str(WORK / f"trace-{self.name}-{self.args.seed}.json"))
        return out

    def close(self) -> None:
        if self.wl is not None:
            self.wl.close()
        if self.server is not None:
            self.server.close()
        self.wl = self.server = None
        shutil.rmtree(self.work, ignore_errors=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pg", "headline", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SF_NAME), default="full",
                    help="test data size; 'tiny' is for the self-test")
    ap.add_argument("--inject-wrong-result", action="store_true",
                    help="corrupt the first timed output (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "tests"))
    sys.path.insert(0, str(HERE))
    try:
        import postgres_scanner_spark  # noqa: F401
        import oracle_harness  # noqa: F401
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    missing = [t for t in ("lineitem", "orders", "documents")
               if not (data_dir(args.scale) / f"{t}.parquet").exists()]
    if missing:
        print(f"perfbench: no test data at {data_dir(args.scale)} "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    import probes
    from concurrent.futures import ThreadPoolExecutor
    names = (["pg", "headline"] if args.workload == "all"
             else [args.workload])
    WORK.mkdir(exist_ok=True)
    tree = probes.ProcessTree()
    begin = (time.perf_counter() - process_age_s(), probes.cpu_ms())
    # a terminated run still stops its server, JVM and workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    totals = {"attempted": 0, "failed": 0}
    final = {}
    runners, spark = [], None
    try:
        with ThreadPoolExecutor(1) as pool:
            runners.append(Runner(names[0], args, tree))
            server_job = (pool.submit(runners[0].start_server)
                          if runners[0].needs_server else None)
            try:
                t0 = time.perf_counter()
                spark = start_spark(CPUS, WORK)
                runners[0].phases["spark_start_s"] = time.perf_counter() - t0
            finally:
                if server_job is not None:
                    server_job.exception()     # wait for it either way
        conf = {k: spark.conf.get(k) for k in _SESSION_CONF}
        cache_env = os.environ.get("SPARK_GRAFT_CACHE")
        for i, name in enumerate(names):
            if i == len(runners):
                runners.append(Runner(name, args, tree))
            runner = runners[i]
            with probes.PeakRss(tree) as rss:
                try:
                    runner.setup(spark, begin, server_job)
                    runner.loop()
                    report, metrics = runner.result(rss.sample())
                finally:
                    runner.close()
                    reset_session(spark, conf, cache_env)
            server_job = None
            print(json.dumps({"report": report}, default=str), flush=True)
            totals["attempted"] += report["attempted"]
            totals["failed"] += report["failed"]
            final.update({(f"{name}.{k}" if len(names) > 1 else k): v
                          for k, v in metrics.items()})
            # a later workload's `setup_s` starts here: Spark is up
            begin = (time.perf_counter(), probes.cpu_ms())
    finally:
        for runner in runners:
            runner.close()
        if spark is not None:
            stop_spark(spark)
        for scratch in ("spark-local", "tmp"):
            shutil.rmtree(WORK / scratch, ignore_errors=True)
    print(json.dumps({"correct": totals["failed"] == 0,
                      "attempted": totals["attempted"],
                      "failed": totals["failed"], "metrics": final}))
    return 0 if totals["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
