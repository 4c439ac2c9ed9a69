#!/usr/bin/env python3
"""Fast self-test of the benchmark, at tiny table sizes.

    python3 perfbench/selftest.py

Checks that
1. every workload reports every end-to-end metric, with its unit, and
   the final line holds exactly the end-to-end metrics;
2. a traced run reports every per-layer metric, with its unit;
3. an injected wrong result counts as a failed operation and makes the
   command exit non-zero;
4. a different seed changes the drawn predicates and merge deltas but
   not the metric names.
Takes about two minutes (two Spark start-ups).
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

from run import END_TO_END, PER_LAYER  # noqa: E402

NAMED = {"pg": {"scan_rows_per_s", "scan_selective_p50_s",
                "query_passthrough_p50_s", "write_rows_per_s"},
         "headline": {"headline_total_s"}}


def bench(*args: str) -> tuple[int, list[dict], dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--scale", "tiny",
         "--seconds", "1", *args],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600)
    lines = [json.loads(x) for x in proc.stdout.splitlines()
             if x.startswith("{")]
    if not lines:
        raise SystemExit(f"no output from {args}:\n{proc.stderr[-2000:]}")
    return proc.returncode, [x["report"] for x in lines[:-1]], lines[-1]


def check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what)
    if not cond:
        check.failed = True


check.failed = False


def main() -> int:
    code, reports, final = bench("--workload", "all", "--seed", "1",
                                 "--trace", "0")
    check(code == 0 and final["correct"] and final["failed"] == 0,
          "untraced run of all workloads succeeds")
    by_name = {r["workload"]: r for r in reports}
    check(set(by_name) == set(NAMED), "one report per workload")
    for name, rep in by_name.items():
        m = rep["metrics"]
        want = (set(END_TO_END) | NAMED[name]
                | {"error_rate", "round_cpu_s", "peak_rss_mb"})
        check(set(m) == want and all(m[k]["unit"] for k in m),
              f"{name}: every end-to-end metric with a unit")
        check(all(m[k]["value"] > 0 for k in END_TO_END),
              f"{name}: end-to-end metrics are non-zero")
    check(set(final["metrics"]) == {f"{w}.{k}" for w in NAMED
                                    for k in END_TO_END},
          "final line holds exactly the end-to-end metrics")

    code, reports, final = bench("--workload", "pg", "--seed", "2",
                                 "--trace", "1", "--inject-wrong-result")
    rep = reports[0]
    check(code != 0 and not final["correct"] and final["failed"] >= 1,
          "an injected wrong result is a failure and a non-zero exit")
    check(set(final["metrics"]) == set(PER_LAYER)
          and all(final["metrics"][k]["unit"] == u
                  for k, u in PER_LAYER.items()),
          "traced run reports every per-layer metric with its unit")
    check(set(rep["metrics"]) == set(by_name["pg"]["metrics"]),
          "another seed keeps the metric names")
    drawn = {s: {k: p for k, p in r["first_round"]}
             for s, r in (("1", by_name["pg"]), ("2", rep))}
    for kind in ("selective_scan", "passthrough"):
        check(drawn["1"][kind] != drawn["2"][kind],
              f"another seed draws another {kind} predicate")
    # the storage probe's merge delta, drawn as a traced run draws it,
    # into the run directory the runs above made
    from workloads import make_delta
    with tempfile.TemporaryDirectory(dir=HERE.parent / ".perfbench") as tmp:
        deltas = [make_delta(f"{tmp}/d{seed}.parquet", 1000,
                             random.Random(seed)) for seed in (1, 2)]
    check(deltas[0] != deltas[1], "another seed draws another merge delta")
    return 1 if check.failed else 0


if __name__ == "__main__":
    sys.exit(main())
