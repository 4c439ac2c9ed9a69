"""Per-layer probes, run once at the end of a traced run.

Each probe times one layer on its own: the wire client (`pgclient`),
the scalar PGCOPY decoder (`pgwire`), the vectorized encoder
(`pgwire_vec`), the DataSource's bind and plan (`pg_datasource`,
`scan`, `pushdown`), the versioned store (`storage`) and the table
cache (`tables`), the headline queries (`query_probe`, for a workload
whose loop does not run them), plus a DuckDB run of the headline
oracles as a host yardstick. Every workload's traced run runs the same probes, so every
per-layer metric is defined on every workload.
"""

from __future__ import annotations

import io
import os
import statistics
import time

import pyarrow.parquet as pq

from postgres_scanner_spark import pgclient
from postgres_scanner_spark.pgwire import BinaryCopyReader, ChunkStream
from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

from probes import JobGroupStats
from workloads import (HEADLINE, LINEITEM_OIDS, PROBE_ONLY, Headline, Phases,
                       _ints, expected_upsert, load_lineitem, make_delta,
                       scan_lineitem, spark_order_sums)

DECODE_ROWS = 40_000       # the scalar decoder runs ~0.1 Mrow/s


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _settled(cur, sql: str, timeout: float = 5.0) -> int:
    """Read a cumulative pg_stat counter once it stops moving: backends
    flush their counters when they exit, after the client has left."""
    last, stable_since = None, time.monotonic()
    deadline = time.monotonic() + timeout
    while True:
        cur.execute("SELECT pg_stat_clear_snapshot()")
        cur.execute(sql)
        val = int(cur.fetchone()[0] or 0)
        now = time.monotonic()
        if val != last:
            last, stable_since = val, now
        elif now - stable_since >= 0.5 or now > deadline:
            return val
        time.sleep(0.1)


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def pg_probes(ctx, tracer) -> dict[str, float]:
    dsn, out = ctx.server.dsn, {}
    lineitem = pq.read_table(f"{ctx.pg_dir}/lineitem.parquet")
    spool = io.BytesIO()

    def encode():
        spool.seek(0)
        spool.truncate()
        VectorBinaryCopyWriter(LINEITEM_OIDS).write_batches(
            spool, lineitem.to_batches())
    with tracer.span("pgwire_vec.encode"):
        out["pgwire_vec.encode_rows_per_s"] = (
            lineitem.num_rows / _median_time(encode))
    data = spool.getvalue()
    load_lineitem(dsn, "probe_copy_in", lineitem.slice(0, 0))

    def copy_in():
        with pgclient.connect(dsn, autocommit=True) as con:
            cur = con.cursor()
            cur.execute("TRUNCATE probe_copy_in")
            with cur.copy("COPY probe_copy_in FROM STDIN "
                          "(FORMAT binary)") as cp:
                for i in range(0, len(data), 1 << 20):
                    cp.write(data[i:i + (1 << 20)])
    with tracer.span("pgclient.copy_in"):
        out["pgclient.copy_in_mb_per_s"] = (
            len(data) / 1e6 / _median_time(copy_in))
    with tracer.span("pgclient.connect"):
        def connect():
            pgclient.connect(dsn, autocommit=True).close()
        out["pgclient.connect_ms"] = 1e3 * _median_time(connect, reps=21)

    def drain(sql: str) -> list[bytes]:
        with pgclient.connect(dsn, autocommit=True) as con:
            with con.cursor().copy(f"COPY ({sql}) TO STDOUT "
                                   "(FORMAT binary)") as cp:
                return list(cp)
    with tracer.span("pgclient.copy_out"):
        t0 = time.perf_counter()
        chunks = drain("SELECT * FROM lineitem")
        out["pgclient.copy_out_mb_per_s"] = (
            sum(map(len, chunks)) / 1e6 / (time.perf_counter() - t0))
    with tracer.span("pgwire.decode"):
        chunks = drain(f"SELECT * FROM lineitem LIMIT {DECODE_ROWS}")
        rows = 0

        def decode():
            nonlocal rows
            rows = sum(1 for _ in BinaryCopyReader(LINEITEM_OIDS).read(
                ChunkStream(chunks)))
        secs = _median_time(decode)
        out["pgwire.decode_rows_per_s"] = rows / secs
        out["pgwire.decode_mb_per_s"] = sum(map(len, chunks)) / 1e6 / secs

    def load():
        return scan_lineitem(ctx)
    with tracer.span("pg_datasource.schema_probe"):
        out["pg_datasource.schema_probe_s"] = _median_time(load)
    with tracer.span("pg_datasource.plan"):
        out["pg_datasource.plan_s"] = _median_time(
            lambda: load().groupBy().count()._jdf.queryExecution()
            .executedPlan())
        out["pg_datasource.tasks_per_full_scan"] = load().rdd.getNumPartitions()
    with tracer.span("pushdown.selective_scan"), \
            pgclient.connect(dsn, autocommit=True) as con:
        cur = con.cursor()
        tup_sql = ("SELECT seq_tup_read FROM pg_stat_user_tables "
                   "WHERE relname = 'lineitem'")
        ses_sql = ("SELECT sessions FROM pg_stat_database "
                   "WHERE datname = current_database()")
        tup0, ses0 = _settled(cur, tup_sql), _settled(cur, ses_sql)
        from pyspark.sql import functions as F
        n_orders = ctx.pg_rows["orders"]
        width = max(n_orders // 100, 1)
        key = F.col("l_orderkey")
        got = load().filter((key >= 0) & (key < width)).count()
        tup1, ses1 = _settled(cur, tup_sql), _settled(cur, ses_sql)
        out["pushdown.rows_examined_per_row_returned"] = (
            (tup1 - tup0) / max(got, 1))
        out["pgclient.sessions_per_scan"] = ses1 - ses0
    return out


def storage_probe(ctx, tracer, rng) -> dict[str, float]:
    """One `ManagedStore.merge` of a seeded delta into orders, checked
    against the expected upsert; the check lands in `ctx.checks`."""
    from postgres_scanner_spark import ManagedStore
    spark = ctx.spark
    orders = f"{ctx.pg_dir}/orders.parquet"
    store = ManagedStore(spark, os.path.join(ctx.work, "probe_store"))
    store.create_table("orders", spark.read.parquet(orders))
    path = os.path.join(ctx.work, "probe_delta.parquet")
    make_delta(path, ctx.pg_rows["orders"], rng)
    stats = JobGroupStats(spark)
    group = f"probe-merge-{os.path.basename(ctx.work)}"
    store.begin()
    try:
        spark.sparkContext.setJobGroup(group, "storage probe")
        with tracer.span("storage.merge"):
            store.merge("orders", spark.read.parquet(path), on=["o_orderkey"])
        spark.sparkContext.setJobGroup("between-ops", "")
        staged = store._vdir("orders", store._visible_version("orders"))
        written = _tree_bytes(staged)
        got = _ints(store.scan("orders").agg(*spark_order_sums()).collect()[0])
    finally:
        store.rollback()
    want = expected_upsert(orders, path)
    ctx.checks.append({"kind": "storage.merge", "ok": got == want,
                       "error": None if got == want
                       else f"merge {got} != expected upsert {want}"})
    s = stats.collect(group)
    return {"storage.merge_jobs": s["jobs"],
            "storage.merge_shuffle_mb": s["shuffle_mb"],
            "storage.merge_bytes_written_per_delta_byte":
                written / os.path.getsize(path)}


def tables_probe(ctx, tracer) -> dict[str, float]:
    from postgres_scanner_spark import tables
    out = {}
    if "tables.warm_s" not in ctx.layer:
        os.environ["SPARK_GRAFT_CACHE"] = "1"
        with tracer.span("tables.warm"):
            t0 = time.perf_counter()
            tables.warm(ctx.spark, ctx.sf_dir)
            ctx.layer["tables.warm_s"] = time.perf_counter() - t0
    out["tables.warm_s"] = ctx.layer["tables.warm_s"]
    infos = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    out["tables.cached_mb"] = sum(i.memSize() + i.diskSize()
                                  for i in infos) / 1e6
    return out


def query_probe(ctx, tracer, names: list[str]) -> dict[str, float]:
    """The wall of each query in `names` on one run, in bench.py's
    session profile with the table cache warm: the queries a workload's
    loop does not run. It is a first run, so JIT is included. Each
    result's row count is checked against the DuckDB oracle's; the
    checks land in `ctx.checks`."""
    import __spark_entry__ as entry
    from oracle_harness import duckdb_run
    from workloads import headline_profile
    headline_profile(ctx.spark)
    hl, out, oracles = Headline(ctx), {}, entry.oracle_sql()
    for name in names:
        with tracer.span(f"query.{name}"):
            t0 = time.perf_counter()
            got, _ = hl.run(name, {}, Phases(tracer, False))
            out[f"query.{name}_s"] = time.perf_counter() - t0
        hl.after()
        want = len(duckdb_run(oracles[name], ctx.sf_dir)[1])
        ctx.checks.append({"kind": f"query.{name}", "ok": got == want,
                           "error": None if got == want
                           else f"{got} rows != oracle's {want}"})
    return out


def duckdb_headline_s(ctx) -> float:
    """Wall of the 12 headline oracle SQLs in DuckDB on the same
    parquet with the same thread budget."""
    import duckdb
    import __spark_entry__ as entry
    from oracle_harness import TABLES
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={ctx.cpus}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{ctx.sf_dir}/{t}.parquet'")
        t0 = time.perf_counter()
        for name in HEADLINE + PROBE_ONLY:
            con.execute(oracles[name]).fetchall()
        return time.perf_counter() - t0
    finally:
        con.close()


def run_all(ctx, tracer, rng, queries: list[str]) -> dict[str, float]:
    """Every probe; `query_probe` times `queries`."""
    out = {}
    out.update(pg_probes(ctx, tracer))
    out.update(storage_probe(ctx, tracer, rng))
    out.update(tables_probe(ctx, tracer))
    out.update(query_probe(ctx, tracer, queries))
    with tracer.span("host.duckdb_headline"):
        out["host.duckdb_headline_s"] = duckdb_headline_s(ctx)
    return out
