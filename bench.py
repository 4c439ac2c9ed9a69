#!/usr/bin/env python3
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line.

Besides the Spark timings ("queries"), every run also measures the
DuckDB oracle on the SAME parquet files in the SAME process
("duckdb") and stamps a data-generation key ("data_key", a hash of
the parquet file names + sizes + row counts). Rationale: the r7
verdict found a silent testdata regeneration had halved the DuckDB
side between rounds, making cross-round Spark/DuckDB ratios
incomparable — with both engines and the data key recorded per run,
any BENCH_rN/BENCH_rM comparison can first check the data actually
matches (same data_key) and always has a same-run baseline.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(_REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q9_product_profit", "q13_customer_distribution",
    "q18_large_volume_customer", "q21_suppliers_waiting",
    "d2_minhash_lsh_dedup", "a1_cosine_topk", "e1_hourly_event_rollup",
    "t3_token_count",
]


def _data_key(sf_dir: str) -> str:
    """Hash of (name, size, n_rows) for every parquet table — changes
    iff the generated data changes, cheap to compute (footer-only)."""
    import pyarrow.parquet as pq
    parts = []
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        try:
            n = pq.ParquetFile(p).metadata.num_rows
        except Exception:
            n = -1
        parts.append(f"{p.name}:{p.stat().st_size}:{n}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


def _bench_duckdb(oracles: dict[str, str], names: list[str],
                  sf_dir: str, threads) -> dict:
    """Time each oracle SQL on the same parquet with the same CPU
    budget; two passes, per-query min (same protocol as Spark)."""
    import duckdb
    from oracle_harness import TABLES
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in names:
            t0 = time.perf_counter()
            con.execute(oracles[name]).fetchall()
            dt = round(time.perf_counter() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    con.close()
    return timings


def main() -> None:
    sys.path.insert(0, str(_REPO / "tests"))
    from postgres_scanner_spark import get_spark, obs
    from postgres_scanner_spark.runtime import release_scratch
    import __spark_entry__ as entrymod

    spark = get_spark(cpus=CPUS)
    qs = entrymod.queries()
    # SF-aware profile (see obs.bench_session): table cache on, AQE
    # off, shuffle partitions from the data size, JVM warmed
    obs.bench_session(spark, SF_DIR, CPUS, qs)
    headline = [n for n in HEADLINE if n in qs]
    # two passes, report the per-query minimum: first execution pays
    # codegen JIT + shuffle-file creation; the min is the steady-state
    # throughput a long-running cluster actually sustains. Every pass's
    # wall AND its stage metrics are recorded ("passes"/"diag") so a
    # slow draw is diagnosable from the artifact alone.
    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {n: [] for n in headline}
    diag: dict[str, list[dict]] = {n: [] for n in headline}
    for _pass in range(2):
        for name in headline:
            with obs.measure(spark, name) as m:
                t0 = time.perf_counter()
                obs.run_query(qs[name](spark, SF_DIR), name)
                dt = round(time.perf_counter() - t0, 3)
            passes[name].append(dt)
            diag[name].append(m.totals)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            # Release per-query scratch persists, exactly like the
            # driver (__spark_entry__) and the gate do. Without this
            # the r11 slow-draw mode appears: 24 executions' worth of
            # scratch accumulates, the storage pool fills, blocks
            # evict, branches RECOMPUTE (diag showed 2.4x task CPU on
            # d2's slow pass) and GC churns — with the eviction victim
            # varying run to run (q9 one run, d2 the next).
            release_scratch()
    spark.stop()
    duck_steal0 = obs.steal_ms()
    duck = _bench_duckdb(entrymod.oracle_sql(), headline, SF_DIR, CPUS)
    duck_steal_ms = obs.steal_ms() - duck_steal0
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 3)
    # r12 verdict ask #3: the per-pass steal/GC live in "diag", but the
    # headline line had no per-run total, so a steal-corrupted epoch
    # (122 s in the r12 driver run) scored as "12 regressions". Summing
    # them to top-level fields makes every BENCH_rN/BENCH_rM comparison
    # self-adjudicating: discount or re-run when steal_total_ms is
    # large. Contract-additive only (queries/metric/format unchanged).
    print(json.dumps({
        "metric": "headline_queries_total", "value": total, "unit": "sec",
        "queries": timings, "sf": float(sf), "cpus": int(CPUS),
        "duckdb": duck,
        "duckdb_total": round(sum(duck.values()), 3),
        "data_key": _data_key(SF_DIR),
        "steal_total_ms": sum(d["host_steal_ms"]
                              for ds in diag.values() for d in ds),
        "gc_total_ms": sum(d["gc_ms"] for ds in diag.values() for d in ds),
        "duckdb_steal_ms": duck_steal_ms,
        "passes": passes,
        "diag": diag,
    }))


if __name__ == "__main__":
    main()
