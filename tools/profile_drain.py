#!/usr/bin/env python3
"""Wall + Spark-job-count profile of streaming drain ops (e17/e18/
e20/e22/e24/e25...). Each op runs solo in a fresh-session profile
(AQE-on gate defaults — drains run inside the gate, not the bench),
with /tmp state wiped first so every run pays the same cold path
(other live processes' run dirs are spared).
Prints per-op wall seconds and the number of Spark jobs the drain
submitted — the 'actions per batch' the r12 verdict asks to cut.

Usage: python tools/profile_drain.py e20_streaming_neardup_ingest \
         [more...] [--sf /root/testdata/sf0.01] [--passes 2]
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def _wipe_state() -> None:
    """Remove the engine's /tmp state so every pass pays the cold path,
    sparing the run dirs of other live processes."""
    from postgres_scanner_spark.streaming.events import run_dir_in_use
    for d in glob.glob("/tmp/pg_spark_*"):
        if not run_dir_in_use(d):
            shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()

    from postgres_scanner_spark import get_spark, obs
    from postgres_scanner_spark.runtime import release_scratch
    import __spark_entry__ as entrymod

    spark = get_spark(cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    qs = entrymod.queries()
    # warm JVM once so pass walls measure the op, not session startup
    qs["q6_forecast_revenue"](spark, args.sf).collect()
    for name in args.names:
        for p in range(args.passes):
            _wipe_state()
            release_scratch()
            with obs.measure(spark, name) as m:
                t0 = time.perf_counter()
                nrows = qs[name](spark, args.sf).count()
                dt = time.perf_counter() - t0
            print(f"{name} pass{p}: wall={dt:.2f}s jobs={m.totals['jobs']} "
                  f"rows={nrows} steal_ms={m.totals['host_steal_ms']}",
                  flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
