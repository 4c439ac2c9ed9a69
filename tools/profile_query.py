#!/usr/bin/env python3
"""Per-stage profile of one (or more) bench queries, in bench.py's
session profile (obs.bench_session: cache mode, AQE off, SF-dependent
shuffle partitions). For each named query: runs N passes (default 2),
prints per-stage rows (stage id, name-ish, tasks, summed run/cpu ms,
gc, input/shuffle bytes) for the LAST pass plus the wall per pass,
and optionally writes .explain("formatted") to a file.

Usage:
  python tools/profile_query.py q1_pricing_summary [more...] \
      [--sf /root/testdata/sf0.1] [--passes 2] [--explain-dir plans/r12]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before",
                    help="explain file suffix (before/after)")
    ap.add_argument("--no-cache", action="store_true",
                    help="raw scans (plan audit: PushedFilters visible)")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CACHE",
                          "0" if args.no_cache else "1")
    from postgres_scanner_spark import get_spark, obs
    from postgres_scanner_spark.runtime import release_scratch
    import __spark_entry__ as entrymod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(cpus=cpus)
    qs = entrymod.queries()
    obs.bench_session(spark, args.sf, cpus, qs)
    for name in args.names:
        walls = []
        for p in range(args.passes):
            release_scratch()
            with obs.measure(spark, name) as m:
                t0 = time.perf_counter()
                n = obs.run_query(qs[name](spark, args.sf), name)
                walls.append(round(time.perf_counter() - t0, 3))
        release_scratch()
        print(f"\n=== {name} rows={n} walls={walls}")
        for s in m.stages:
            print(f"  st{s['id']:4d} tasks={s['tasks']:3d} "
                  f"run={s['run_ms']:6d} cpu={s['cpu_ms']:6d} "
                  f"gc={s['gc_ms']:4d} in={s['in_mb']:7.1f} "
                  f"sr={s['shuf_r_mb']:7.2f} sw={s['shuf_w_mb']:7.2f}  "
                  f"{s['name'][:70]}")
        print(f"  last-pass stages={m.totals['stages']} "
              f"sum_run_ms={m.totals['run_ms']} wall={walls[-1]}")
        if args.explain_dir:
            d = _REPO / args.explain_dir
            d.mkdir(parents=True, exist_ok=True)
            df = qs[name](spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            (d / f"{name}_{args.suffix}.txt").write_text(txt)
            release_scratch()
    spark.stop()


if __name__ == "__main__":
    main()
