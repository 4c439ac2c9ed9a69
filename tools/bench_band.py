#!/usr/bin/env python3
"""Run bench.py N times back-to-back and append each headline JSON
line (now carrying steal_total_ms / gc_total_ms / duckdb_steal_ms)
to an output file, with the host's steal and memory bandwidth
(obs.steal_ms, obs.membw_gbps) probed before and after each run.
The band + per-run steal is the only honest wall-clock evidence on
this hypervisor-steal-prone host (VARIANCE.md); the bandwidth probe
catches a neighbour's memory-bandwidth burst, which steals no CPU.

Usage: python tools/bench_band.py out.jsonl [N] [sf_dir] [cpus]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def main() -> None:
    out = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    cpus = sys.argv[4] if len(sys.argv) > 4 else "32"
    from postgres_scanner_spark.obs import membw_gbps, steal_ms
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=cpus)
    for i in range(n):
        bw0 = membw_gbps()
        s0, t0 = steal_ms(), time.time()
        p = subprocess.run([sys.executable, str(_REPO / "bench.py")],
                           env=env, capture_output=True, text=True)
        dt, ds = time.time() - t0, steal_ms() - s0
        bw = [bw0, membw_gbps()]
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            j = json.loads(line)
        except Exception:
            print(f"run {i}: rc={p.returncode} "
                  f"no JSON; stderr tail: {p.stderr[-500:]}", flush=True)
            continue
        j["_run_wall_s"] = round(dt, 1)
        j["_run_host_steal_ms"] = ds
        j["_run_membw_gbps"] = bw
        with open(out, "a") as fh:
            fh.write(json.dumps(j) + "\n")
        print(f"run {i}: total={j['value']} duck={j.get('duckdb_total')} "
              f"steal_in_queries_ms={j.get('steal_total_ms')} "
              f"run_steal_ms={ds} membw_gbps={bw} wall={dt:.0f}s",
              flush=True)


if __name__ == "__main__":
    main()
