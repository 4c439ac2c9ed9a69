#!/usr/bin/env python3
"""Run the headline queries' ORACLE SQL in DuckDB on the same parquet
— the single-node baseline bench.py is graded against. Prints one
JSON line in the same shape as bench.py, timed by bench.py's own
DuckDB loop (min of two passes).

Usage: python tools/baseline_duckdb.py [sf_dir] [threads]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

sys.path.insert(0, str(_REPO / "tests"))

from bench import HEADLINE, _bench_duckdb  # noqa: E402 — single source


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    threads = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    import __spark_entry__ as entry
    timings = _bench_duckdb(entry.oracle_sql(), HEADLINE, sf_dir, threads)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "duckdb_baseline_total",
        "value": round(sum(timings.values()), 3), "unit": "sec",
        "queries": timings, "sf": float(sf), "threads": threads,
    }))


if __name__ == "__main__":
    main()
