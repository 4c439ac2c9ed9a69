"""The benchmark's workloads.

Each workload sets up its data, draws seeded operation parameters,
runs one operation through the program's public API, and checks the
operation's output against DuckDB over the same parquet.

- `Pg`: scans of a live Postgres table through the `postgres_scan`
  DataSource (full parallel ctid scan, pushed-down key window,
  `query` passthrough), and Spark -> Postgres loads through the
  DataSource writer.
- `Headline`: five of bench.py's headline queries over parquet
  (`HEADLINE`), in `bench.py`'s session profile.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import time
from contextlib import contextmanager

import duckdb

from pyspark.sql import functions as F

from postgres_scanner_spark import pgclient
from postgres_scanner_spark import types as pgt
from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter
from spans import Tracer

LINEITEM_COLS = [
    ("l_orderkey", "int8", pgt.INT8OID), ("l_partkey", "int8", pgt.INT8OID),
    ("l_suppkey", "int8", pgt.INT8OID), ("l_linenumber", "int4", pgt.INT4OID),
    ("l_quantity", "float8", pgt.FLOAT8OID),
    ("l_extendedprice", "float8", pgt.FLOAT8OID),
    ("l_discount", "float8", pgt.FLOAT8OID), ("l_tax", "float8", pgt.FLOAT8OID),
    ("l_returnflag", "text", pgt.TEXTOID), ("l_linestatus", "text", pgt.TEXTOID),
    ("l_shipdate", "timestamp", pgt.TIMESTAMPOID),
]
LINEITEM_OIDS = [oid for _, _, oid in LINEITEM_COLS]

# Queries of bench.py's HEADLINE list, copied so that the workload
# stays fixed if bench.py's list changes: the headline workload's deck.
# One query or two per module but operators/dedup, q5 among them for
# plan shape, within a run's time budget; q3, q6, q9, q13, q18 and q21
# are left out.
HEADLINE = [
    "q1_pricing_summary", "q5_local_supplier_volume", "a1_cosine_topk",
    "e1_hourly_event_rollup", "t3_token_count",
]
# Timed by the traced run's query probe only (one run, JIT included):
# d2 (operators/dedup) costs ~10 s cold and ~5 s warm, more than an
# untraced run can spend on one query.
PROBE_ONLY = ["d2_minhash_lsh_dedup"]


# Exact integer checksums of every lineitem column, in Spark and in
# DuckDB. Money and rates are 2-decimal doubles, so x*100 rounds to an
# exact integer in both engines; timestamps are whole days. (Spark
# columns are built on call: they need a running session.)
def spark_line_sums() -> list:
    return [
        F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_partkey"),
        F.sum("l_suppkey"), F.sum("l_linenumber"),
        F.sum(F.round("l_quantity").cast("long")),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
        F.sum(F.round(F.col("l_discount") * 100).cast("long")),
        F.sum(F.round(F.col("l_tax") * 100).cast("long")),
        F.sum(F.ascii("l_returnflag")), F.sum(F.ascii("l_linestatus")),
        F.sum(F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))),
    ]


_DUCK_LINE_SUMS = (
    "count(*), sum(l_orderkey), sum(l_partkey), sum(l_suppkey), "
    "sum(l_linenumber), sum(round(l_quantity)::BIGINT), "
    "sum(round(l_extendedprice * 100)::BIGINT), "
    "sum(round(l_discount * 100)::BIGINT), sum(round(l_tax * 100)::BIGINT), "
    "sum(ascii(l_returnflag)), sum(ascii(l_linestatus)), "
    "sum(date_diff('day', DATE '1970-01-01', l_shipdate::DATE))")
_ORDER_SUMS_SQL = ("count(*), sum(o_orderkey), sum(o_custkey), "
                   "sum(round(o_totalprice * 100)::BIGINT), "
                   "sum(ascii(o_orderstatus))")


def spark_order_sums() -> list:
    return [
        F.count(F.lit(1)), F.sum("o_orderkey"), F.sum("o_custkey"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
        F.sum(F.ascii("o_orderstatus")),
    ]


def expected_upsert(orders: str, delta: str) -> tuple:
    """DuckDB's order sums of `orders` upserted with `delta` on
    o_orderkey (both parquet paths)."""
    con = duckdb.connect()
    try:
        return _ints(con.execute(
            f"WITH d AS (SELECT * FROM '{delta}') "
            f"SELECT {_ORDER_SUMS_SQL} FROM (SELECT * FROM '{orders}' WHERE "
            "o_orderkey NOT IN (SELECT o_orderkey FROM d) "
            "UNION ALL SELECT * FROM d)").fetchone())
    finally:
        con.close()


def _ints(row) -> tuple:
    return tuple(int(v) for v in row)


class Phases:
    """Driver-side phase timer for one operation: plan build (the
    DataFrame-building call), Catalyst planning (forcing
    `executedPlan`, traced runs only) and execution (the action)."""

    def __init__(self, tracer, traced: bool):
        self.tracer, self.traced = tracer, traced
        self.seconds: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.seconds[name] = (self.seconds.get(name, 0.0)
                              + time.perf_counter() - t0)

    def plan(self, df) -> None:
        if self.traced:
            with self("driver.catalyst_plan"):
                df._jdf.queryExecution().executedPlan()


def load_lineitem(dsn: str, table: str, arrow_table) -> bytes:
    """Create `table` and fill it with one binary COPY of
    `arrow_table`; return the PGCOPY stream that was sent."""
    buf = io.BytesIO()
    VectorBinaryCopyWriter(LINEITEM_OIDS).write_batches(
        buf, arrow_table.to_batches())
    data = buf.getvalue()
    cols = ", ".join(f"{n} {t}" for n, t, _ in LINEITEM_COLS)
    with pgclient.connect(dsn, autocommit=True) as con:
        cur = con.cursor()
        cur.execute(f"DROP TABLE IF EXISTS {table}")
        cur.execute(f"CREATE TABLE {table} ({cols})")
        with cur.copy(f"COPY {table} FROM STDIN (FORMAT binary)") as cp:
            for i in range(0, len(data), 1 << 20):
                cp.write(data[i:i + (1 << 20)])
        cur.execute(f"VACUUM (FREEZE, ANALYZE) {table}")
    return data


def scan_lineitem(ctx):
    """The lineitem scan of every pg operation and probe."""
    return (ctx.spark.read.format("postgres_scan")
            .option("dsn", ctx.server.dsn).option("table", "lineitem")
            .load())


def pg_tables(sf_dir: str, out_dir: str, share: float) -> dict[str, int]:
    """Write the Postgres-side tables to `out_dir`: orders and lineitem
    of the first `share` of the test data's order-key range, rows in
    file order, so their value skew is the test data's. Returns the row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        cut = con.execute("SELECT ceil((max(o_orderkey) + 1) * ?)::BIGINT "
                          f"FROM '{sf_dir}/orders.parquet'",
                          [share]).fetchone()[0]
        rows = {}
        for table, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            out = f"{out_dir}/{table}.parquet"
            con.execute(f"COPY (SELECT * FROM '{sf_dir}/{table}.parquet' "
                        f"WHERE {key} < {cut}) TO '{out}' "
                        "(FORMAT parquet, ROW_GROUP_SIZE 1000000)")
            rows[table] = con.execute(
                f"SELECT count(*) FROM '{out}'").fetchone()[0]
        return rows
    finally:
        con.close()


def headline_profile(spark) -> None:
    """bench.py's session profile: table cache on, AQE off, 8 shuffle
    partitions."""
    os.environ["SPARK_GRAFT_CACHE"] = "1"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")


def make_delta(path: str, n_orders: int, rng) -> list[int]:
    """Write a seeded orders delta of 10 % of `n_orders` rows to `path`:
    half updates of existing keys, half inserts of new keys. Returns
    the delta's keys."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    half = max(n_orders // 20, 1)
    keys = (rng.sample(range(n_orders), half)
            + [n_orders + k for k in rng.sample(range(10 * half), half)])
    g = np.random.default_rng(rng.getrandbits(32))
    n = len(keys)
    days = g.integers(9131, 11535, n)          # 1995-01-01 .. 2001-08-01
    pq.write_table(pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(g.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": pa.array(g.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(g.uniform(1000, 500_000, n), 2)),
        "o_orderdate": pa.array((days * 86_400_000_000)
                                .astype("datetime64[us]")),
        "o_orderpriority": pa.array(g.choice(["1-URGENT", "5-LOW"], n)),
    }), path)
    return keys


class Workload:
    name = ""
    deck: tuple[str, ...] = ()     # one closed-loop round, shuffled per round
    uses_server = True
    # (kind, ok, detail) per warm-up operation the set-up ran and
    # checked itself; None: run.py warms up with one op of each kind
    warmup_checks: list[tuple] | None = None

    def __init__(self, ctx):
        self.ctx = ctx

    @property
    def kinds(self) -> list[str]:
        return list(dict.fromkeys(self.deck))

    def setup(self) -> None:
        pass

    def draw(self, kind: str, rng) -> dict:
        return {}

    def summary(self, p50: dict[str, float]) -> dict[str, tuple]:
        return {}

    def after(self) -> None:
        """Untimed clean-up after each operation."""

    def close(self) -> None:
        pass


class Pg(Workload):
    """The connector both ways: scans of a vacuumed lineitem heap on the
    scratch server (full parallel ctid scan, pushed-down key window,
    `query` passthrough) and Spark -> Postgres loads of lineitem into a
    second table."""
    name = "pg"
    deck = ("full_scan", "selective_scan", "passthrough", "load")

    def __init__(self, ctx):
        super().__init__(ctx)
        self.duck = duckdb.connect()     # the oracle, over ctx.pg_dir

    def setup(self) -> None:
        spark, pg_dir = self.ctx.spark, self.ctx.pg_dir
        self.rows = self.ctx.pg_rows["lineitem"]
        self.n_orders = self.ctx.pg_rows["orders"]
        with self.ctx.off_clock():
            self.duck.execute(f"SET threads={self.ctx.cpus}")
            for t in ("lineitem", "orders"):
                self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                  f"'{pg_dir}/{t}.parquet'")
            self.full_expect = _ints(self.duck.execute(
                f"SELECT {_DUCK_LINE_SUMS} FROM lineitem").fetchone())
        self.source = spark.read.parquet(f"{pg_dir}/lineitem.parquet")
        self.load_expect = self.full_expect[:2] + self.full_expect[6:7]

    def draw(self, kind: str, rng) -> dict:
        if kind == "selective_scan":
            width = max(self.n_orders // 100, 1)
            return {"lo": rng.randrange(0, self.n_orders - width + 1),
                    "width": width}
        if kind == "passthrough":
            day = dt.date(1995, 6, 1) + dt.timedelta(days=rng.randrange(2200))
            return {"before": day.isoformat()}
        return {}

    def run(self, kind: str, p: dict, ph: Phases):
        return getattr(self, f"_{kind}")(p, ph)

    def _full_scan(self, p: dict, ph: Phases):
        with ph("driver.plan_build"):
            df = scan_lineitem(self.ctx).agg(*spark_line_sums())
        ph.plan(df)
        with ph("driver.exec"):
            return _ints(df.collect()[0]), self.rows

    def _selective_scan(self, p: dict, ph: Phases):
        with ph("driver.plan_build"):
            key = F.col("l_orderkey")
            df = (scan_lineitem(self.ctx)
                  .filter((key >= p["lo"]) & (key < p["lo"] + p["width"]))
                  .agg(*spark_line_sums()[:3]))
        ph.plan(df)
        with ph("driver.exec"):
            out = _ints(df.collect()[0])
        return out, out[0]

    def _passthrough(self, p: dict, ph: Phases):
        with ph("driver.plan_build"):
            df = (self.ctx.spark.read.format("postgres_scan")
                  .option("dsn", self.ctx.server.dsn)
                  .option("query", self._passthrough_sql(p)).load())
        ph.plan(df)
        with ph("driver.exec"):
            rows = sorted(_ints(r[2:]) + (r[0], r[1]) for r in df.collect())
        return rows, len(rows)

    @staticmethod
    def _passthrough_sql(p: dict, ts: str = "") -> str:
        """The server-side GROUP BY; `ts` types the literal for DuckDB."""
        return ("SELECT l_returnflag, l_linestatus, count(*)::int8 AS n, "
                "sum(l_quantity)::int8 AS qty, "
                "sum(round(l_extendedprice * 100))::int8 AS cents "
                f"FROM lineitem WHERE l_shipdate < {ts}'{p['before']}' "
                "GROUP BY 1, 2")

    def _load(self, p: dict, ph: Phases):
        with ph("driver.plan_build"):
            w = (self.source.write.format("postgres_scan")
                 .option("dsn", self.ctx.server.dsn)
                 .option("table", "lineitem_load").mode("overwrite"))
        ph.plan(self.source)
        with ph("driver.exec"):
            w.save()
        with pgclient.connect(self.ctx.server.dsn, autocommit=True) as con:
            cur = con.cursor()
            cur.execute("SELECT count(*), sum(l_orderkey), "
                        "sum(round(l_extendedprice * 100))::int8 "
                        "FROM lineitem_load")
            return _ints(cur.fetchone()), self.rows

    def expect(self, kind: str, p: dict):
        if kind == "full_scan":
            return self.full_expect
        if kind == "load":
            return self.load_expect
        if kind == "selective_scan":
            return _ints(self.duck.execute(
                "SELECT count(*), sum(l_orderkey), sum(l_partkey) "
                "FROM lineitem WHERE l_orderkey >= ? AND l_orderkey < ?",
                [p["lo"], p["lo"] + p["width"]]).fetchone())
        rows = self.duck.execute(
            self._passthrough_sql(p, "TIMESTAMP ")).fetchall()
        return sorted(_ints(r[2:]) + (r[0], r[1]) for r in rows)

    def summary(self, p50):
        return {
            "scan_rows_per_s": (self.rows / p50["full_scan"], "rows/s"),
            "scan_selective_p50_s": (p50["selective_scan"], "s"),
            "query_passthrough_p50_s": (p50["passthrough"], "s"),
            "write_rows_per_s": (self.rows / p50["load"], "rows/s"),
        }

    def close(self) -> None:
        self.duck.close()


def _counted(query: str) -> bool:
    """bench.py times these queries with `count()`, the others with
    `collect()`."""
    return query.startswith(("d", "a", "e", "t"))


class Headline(Workload):
    """The HEADLINE queries over parquet."""
    name = "headline"
    # each query thrice a round: the JVM goes on compiling after the
    # warm-up passes, so one sample a query spread by 0.3 between runs
    deck = tuple(HEADLINE) * 3
    uses_server = False

    def __init__(self, ctx):
        super().__init__(ctx)
        import __spark_entry__ as entry
        self.queries = entry.queries()

    def setup(self) -> None:
        import __spark_entry__ as entry
        import oracle_harness
        from postgres_scanner_spark import tables
        spark = self.ctx.spark
        headline_profile(spark)
        t0 = time.perf_counter()
        tables.warm(spark, self.ctx.sf_dir)
        self.ctx.layer["tables.warm_s"] = time.perf_counter() - t0
        # the warm-up pass: each query once, checked through the
        # oracle harness; the oracle's row count then checks every
        # timed run of the query. The oracle runs off the set-up clock.
        oracles, oracle_run = entry.oracle_sql(), oracle_harness.duckdb_run
        self.expected, self.warmup_checks = {}, []

        def timed_oracle(sql, sf_dir):
            with self.ctx.off_clock():
                cols, rows = oracle_run(sql, sf_dir)
            self.expected[name] = len(rows)
            return cols, rows
        oracle_harness.duckdb_run = timed_oracle
        try:
            for name in HEADLINE:
                ok, diffs = oracle_harness.compare(
                    name, self.queries[name](spark, self.ctx.sf_dir),
                    oracles[name], self.ctx.sf_dir, verbose=False)
                self.warmup_checks.append((name, ok, diffs[:3]))
                self.after()
        finally:
            oracle_harness.duckdb_run = oracle_run
        # then a pass of the timed forms (a counted query's plan is
        # another one), since one pass leaves the JVM still compiling
        for name in HEADLINE:
            self.run(name, {}, Phases(Tracer(False), False))
            self.after()

    def run(self, kind: str, p: dict, ph: Phases):
        with ph("driver.plan_build"):
            df = self.queries[kind](self.ctx.spark, self.ctx.sf_dir)
            if _counted(kind):
                df = df.groupBy().count()      # what DataFrame.count() runs
        ph.plan(df)
        with ph("driver.exec"):
            rows = df.collect()
        n = rows[0][0] if _counted(kind) else len(rows)
        return n, n

    def after(self) -> None:
        from postgres_scanner_spark.runtime import release_scratch
        release_scratch()

    def expect(self, kind: str, p: dict):
        return self.expected[kind]

    def summary(self, p50):
        return {"headline_total_s": (sum(p50[k] for k in HEADLINE), "s")}


WORKLOADS = {w.name: w for w in (Pg, Headline)}
