"""`postgres_scan` as a first-class Spark data source.

The reference exposes `postgres_scan(dsn, schema, table)` as a DuckDB
table function (reference: src/postgres_scanner.cpp
PostgresScanFunction). The Spark-native shape of the same thing is a
Python DataSource (Spark 4 DataSource API):

    spark.dataSource.register(PostgresScanDataSource)
    df = (spark.read.format("postgres_scan")
          .option("dsn", "host=... dbname=...")
          .option("table", "lineitem")
          .option("approx_pages", 40000)
          .load())

Parity with the reference's execution strategy:
- partitions(): ctid page-range tasks from scan.plan_scan_tasks —
  each Spark partition reads a disjoint page range, exactly the
  reference's per-thread task decomposition (postgres_scanner.cpp:238).
- pushFilters(): Catalyst comparison/null/IN filters are accepted and
  rendered into the remote WHERE via pushdown.py — the others are
  returned to Spark to evaluate (same contract as
  postgres_scan_pushdown).
- read(): yields Arrow record batches typed to the declared schema.
  Live PG reads `COPY (...) TO STDOUT (FORMAT binary)` in socket
  blocks and decodes it column-wise (pgwire_vec
  .VectorBinaryCopyReader — the reference's postgres_binary_reader
  .hpp decodes into DuckDB vectors the same way); Python touches a
  value only in the columns whose wire type has no numpy kernel
  (numeric, interval, arrays, geometry…). duckdb:// yields DuckDB's
  own Arrow batches.

Backends:
- `duckdb:///path/file.db` — a local DuckDB file standing in for the
  Postgres server. Page ranges are emulated over rowid so task
  decomposition is exercised for real.
- libpq DSNs (`host=... dbname=...`) — a real PostgreSQL server over
  psycopg when installed, else the vendored pure-Python wire client
  (pgclient.py). Exercised end-to-end against a live server in
  tests/test_live_pg.py.
"""

from __future__ import annotations

import itertools
import logging
from functools import partial
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource, DataSourceArrowWriter, DataSourceReader,
    DataSourceWriter, EqualTo, Filter, GreaterThan, GreaterThanOrEqual,
    In, InputPartition, IsNotNull, IsNull, LessThan, LessThanOrEqual,
    WriterCommitMessage,
)

from .pushdown import transform_filters
from .scan import plan_scan_tasks
from .settings import SETTINGS

_ROWS_PER_PAGE = 128  # rowid-page emulation for the duckdb backend
_log = logging.getLogger(__name__)

_DUCK_TO_SPARK = {
    "BOOLEAN": T.BooleanType(), "TINYINT": T.ByteType(),
    "SMALLINT": T.ShortType(), "INTEGER": T.IntegerType(),
    "BIGINT": T.LongType(), "HUGEINT": T.DecimalType(38, 0),
    "FLOAT": T.FloatType(), "DOUBLE": T.DoubleType(),
    "VARCHAR": T.StringType(), "BLOB": T.BinaryType(),
    "DATE": T.DateType(), "TIMESTAMP": T.TimestampNTZType(),
    "TIMESTAMP WITH TIME ZONE": T.TimestampType(),
    "INTERVAL": T.DayTimeIntervalType(),
    # unsigned family: widen to the next signed type that holds the
    # full range (ubigint → decimal(20,0), PG's own numeric mapping —
    # reference: attach_ubigint.test); the reader normalizes the
    # arrow batches, whose unsigned ints Spark's ingest rejects
    "UTINYINT": T.ShortType(), "USMALLINT": T.IntegerType(),
    "UINTEGER": T.LongType(), "UBIGINT": T.DecimalType(20, 0),
    # time-of-day: Spark has no TIME type — text form, the same
    # fallback types.py uses for PG time/timetz (attach_types_time
    # .test); the reader casts the arrow time64 batches to utf8
    "TIME": T.StringType(), "TIME WITH TIME ZONE": T.StringType(),
}


def _arrow_norm_type(t):
    """Target arrow type for Spark's ingest, recursively: Spark
    rejects dictionary (duckdb enums), month_day_nano interval,
    unsigned ints, and time64 — map them to the types the declared
    Spark schema promises (varchar / duration / widened signed /
    text), through lists and structs."""
    import pyarrow as pa
    if pa.types.is_dictionary(t):
        return _arrow_norm_type(t.value_type)
    if pa.types.is_interval(t):
        return pa.duration("us")
    if pa.types.is_unsigned_integer(t):
        return {pa.uint8(): pa.int16(), pa.uint16(): pa.int32(),
                pa.uint32(): pa.int64(),
                pa.uint64(): pa.decimal128(20, 0)}[t]
    if pa.types.is_time(t):
        return pa.string()
    if pa.types.is_list(t):
        return pa.list_(_arrow_norm_type(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(_arrow_norm_type(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([(f.name, _arrow_norm_type(f.type))
                          for f in t])
    return t


def _contains_interval(t) -> bool:
    import pyarrow as pa
    if pa.types.is_interval(t):
        return True
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _contains_interval(t.value_type)
    if pa.types.is_struct(t):
        return any(_contains_interval(f.type) for f in t)
    return False


def _iv_us(v) -> int:
    # months at PG's 30-day justify convention (interval.test)
    return ((v.months * 30 + v.days) * 86_400_000_000
            + v.nanoseconds // 1000)


def _py_norm(v, t):
    """Python-level conversion for interval-bearing values (arrow has
    no month_day_nano→duration cast kernel); other leaves pass
    through for pa.array to coerce to the target type."""
    import pyarrow as pa
    if v is None:
        return None
    if pa.types.is_interval(t):
        return _iv_us(v)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return [_py_norm(x, t.value_type) for x in v]
    if pa.types.is_struct(t):
        return {f.name: _py_norm(v.get(f.name), f.type) for f in t}
    if pa.types.is_time(t):
        # match arrow's time64→utf8 cast format (micros always shown)
        return v.strftime("%H:%M:%S.%f")
    return v


def _normalize_batch(batch):
    """Rewrite an arrow batch so every column type is one Spark's
    Arrow ingest accepts (enum dictionaries decoded, intervals →
    duration, unsigned widened, time → text — recursively through
    lists/structs)."""
    import pyarrow as pa
    if all(_arrow_norm_type(f.type) == f.type for f in batch.schema):
        return batch
    cols = []
    for c in batch.columns:
        if pa.types.is_dictionary(c.type):
            c = c.dictionary_decode()
        nt = _arrow_norm_type(c.type)
        if nt != c.type:
            if _contains_interval(c.type):
                # no cast kernel for month_day_nano: python rebuild
                c = pa.array([_py_norm(v, c.type)
                              for v in c.to_pylist()], nt)
            else:
                c = c.cast(nt)
        cols.append(c)
    return pa.RecordBatch.from_arrays(cols, names=batch.schema.names)


def _split_top(s: str) -> list[str]:
    """Split on top-level commas, respecting parens and double quotes."""
    parts, depth, cur, inq = [], 0, [], False
    for ch in s:
        if ch == '"':
            inq = not inq
        elif not inq:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
                continue
        cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def _duck_type(name: str) -> T.DataType:
    """DuckDB type string → Spark DataType, recursively: scalars,
    DECIMAL(p,s), N-dim arrays (`INTEGER[][]` → nested lists), STRUCT
    (PG composite types surface as DuckDB STRUCTs — reference:
    postgres_utils.cpp TypeToLogicalType composite/array handling,
    attach_types_struct.test, attach_existing_multidimensional_array
    .test), and MAP."""
    s = name.strip()
    up = s.upper()
    if up.endswith("[]"):
        return T.ArrayType(_duck_type(s[:-2]))
    if up.startswith("DECIMAL"):
        p, sc = s[s.index("(") + 1:s.index(")")].split(",")
        return T.DecimalType(int(p), int(sc))
    if up.startswith("STRUCT(") and s.endswith(")"):
        fields = []
        for part in _split_top(s[len("STRUCT("):-1]):
            if part.startswith('"'):
                i = 1
                while i < len(part):
                    if part[i] == '"':
                        if i + 1 < len(part) and part[i + 1] == '"':
                            i += 2
                            continue
                        break
                    i += 1
                fname = part[1:i].replace('""', '"')
                ftype = part[i + 1:].strip()
            else:
                fname, _, ftype = part.partition(" ")
            fields.append(T.StructField(fname, _duck_type(ftype), True))
        return T.StructType(fields)
    if up.startswith("MAP(") and s.endswith(")"):
        k, v = _split_top(s[len("MAP("):-1])
        return T.MapType(_duck_type(k), _duck_type(v))
    return _DUCK_TO_SPARK.get(up, T.StringType())


class _Task(InputPartition):
    """Carries the COMPLETE generated SQL for one page range. The SQL
    is frozen at planning time (partitions()) — read() must not depend
    on mutable reader state, because Spark reuses the same reader
    instance across queries built from one load()/view, and a filtered
    query's pushdown must never leak into the next query's scan."""

    def __init__(self, sql: str):
        self.sql = sql


def _spark_filter_to_tuple(f: Filter):
    """Map Catalyst's pushed filter to pushdown.py's tuple form.
    Returns None for filters we don't push (reference pushes the same
    subset: comparisons, null checks, IN)."""
    col = ".".join(f.attribute)
    if isinstance(f, EqualTo):
        return (col, "=", f.value)
    if isinstance(f, GreaterThan):
        return (col, ">", f.value)
    if isinstance(f, GreaterThanOrEqual):
        return (col, ">=", f.value)
    if isinstance(f, LessThan):
        return (col, "<", f.value)
    if isinstance(f, LessThanOrEqual):
        return (col, "<=", f.value)
    if isinstance(f, In):
        return (col, "in", list(f.value))
    if isinstance(f, IsNull):
        return (col, "isnull")
    if isinstance(f, IsNotNull):
        return (col, "isnotnull")
    return None


class PostgresScanReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options):
        self.schema_ = schema
        self.dsn = options.get("dsn", "")
        self.table = options.get("table", "")
        # ad-hoc passthrough (postgres_query): the remote engine runs
        # this SQL; a query result has no ctid/rowid, so it reads as a
        # single stream (same as the reference's postgres_query)
        self.query = options.get("query", "")
        self.pg_schema = options.get("schema", "public")
        self.schema_explicit = "schema" in options
        self.approx_pages = int(options.get("approx_pages", "0"))
        # settings are process-global on the driver; the reader plans in a
        # separate Python worker, so per-scan overrides travel as options
        self.pages_per_task = int(options.get(
            "pages_per_task", SETTINGS.pg_pages_per_task))
        # Spark persists the reader's post-pushFilters pickle on the
        # relation and reuses it for later queries WITHOUT re-calling
        # pushFilters — so pushed filters are relation-scoped, not
        # query-scoped. Safe for the typical one-query-per-load()
        # pattern; for long-lived relations (catalog temp views) set
        # option("pushdown", "false") and let Spark filter post-scan.
        self.enable_pushdown = options.get("pushdown", "true") == "true"
        self.pushed: list[tuple] = []
        # PG-declared type names from the schema probe (JSON col→udt):
        # geometry columns (point/box/...) surface as Struct/Array
        # Spark types, which spark_field_oid cannot disambiguate from
        # real composites/float8[] — the udt picks the wire OID and
        # suppresses the server-side cast so the native send format
        # arrives (reference: postgres_binary_reader.hpp ReadGeometry)
        import json as _json
        self.pg_udts: dict[str, str] = _json.loads(
            options.get("pg_udts", "{}"))

    # -- filter pushdown (reference: postgres_filter_pushdown.cpp)
    def pushFilters(self, filters: list[Filter]):
        self.pushed = []           # fresh per planning pass — no carryover
        if self.query:
            # ad-hoc query mode has no table to rewrite a WHERE into —
            # decline pushdown so Spark evaluates every filter itself
            # (accepting them here would silently drop them)
            yield from filters
            return
        if not self.enable_pushdown or \
                not SETTINGS.pg_experimental_filter_pushdown:
            yield from filters
            return
        for f in filters:
            t = _spark_filter_to_tuple(f)
            if t is None:
                yield f          # Spark evaluates what we can't push
            else:
                self.pushed.append(t)

    # -- task decomposition (reference: postgres_scanner.cpp PrepareBind)
    def partitions(self):
        if self.query:
            if self.dsn.startswith("duckdb://"):
                return [_Task(self.query)]
            # live PG: wrap so every output column is cast to the wire
            # format the decoder expects (same as the table path)
            cols = ", ".join(
                f'"{f.name}"{self._col_cast(f)} AS "{f.name}"'
                for f in self.schema_.fields)
            return [_Task(f"SELECT {cols} FROM ({self.query}) AS q")]
        if self.approx_pages <= 0 and \
                not self.dsn.startswith("duckdb://"):
            self.approx_pages = self._probe_pages()
        tasks = plan_scan_tasks(self.approx_pages,
                                pages_per_task=self.pages_per_task,
                                max_tasks=SETTINGS.pg_connection_limit)
        if self.dsn.startswith("duckdb://"):
            task_wheres = [""] if len(tasks) == 1 else [
                f"rowid >= {t.page_min * _ROWS_PER_PAGE} AND "
                f"rowid < {t.page_max * _ROWS_PER_PAGE}"
                for t in tasks
            ]
        else:
            task_wheres = [
                t.predicate if len(tasks) > 1 else "" for t in tasks]
        return [_Task(self._sql(w)) for w in task_wheres]

    def _probe_pages(self) -> int:
        """Live PG: exact heap page count via pg_relation_size — the
        reference sizes its parallel scan from the same catalog
        number (postgres_scanner.cpp PostgresBindData approx_num_pages
        from the pg_class probe). One cheap driver-side catalog
        query; a database or socket error degrades to a single-task
        scan and logs why. Anything else is a bug and propagates."""
        from .pgclient import pg_driver
        dbapi = pg_driver()
        try:
            with dbapi.connect(self.dsn) as con, \
                    con.cursor() as cur:
                cur.execute(
                    "SELECT (pg_relation_size(c.oid) / "
                    "current_setting('block_size')::int)::int "
                    "FROM pg_class c JOIN pg_namespace n "
                    "ON n.oid = c.relnamespace "
                    "WHERE n.nspname = %s AND c.relname = %s",
                    (self.pg_schema, self.table))
                row = cur.fetchone()
                return int(row[0]) if row else 0
        except (dbapi.Error, OSError) as exc:
            _log.warning("page probe of %s.%s failed, planning a "
                         "single-task scan: %s",
                         self.pg_schema, self.table, exc)
            return 0

    def _col_cast(self, f: T.StructField) -> str:
        """Per-column server-side cast; geometry columns (known from
        the probe's udt) ship their NATIVE send format — the decoder
        has dedicated branches — instead of an invalid ::float8[]/
        struct cast derived from the Spark type."""
        from .types import GEOMETRY_OIDS
        if self.pg_udts.get(f.name) in GEOMETRY_OIDS:
            return ""
        return self._pg_cast(f.dataType)

    @staticmethod
    def _pg_cast(dt: T.DataType) -> str:
        """Server-side cast so every column arrives over COPY binary
        in EXACTLY the wire format the Spark-type→OID decode expects
        (a uuid/json/inet column probed as StringType must ship as
        text, not its native 16-byte/uvarlena send format)."""
        if isinstance(dt, T.ArrayType):
            inner = dt
            depth = 0
            while isinstance(inner, T.ArrayType):
                inner = inner.elementType
                depth += 1
            base = PostgresScanReader._pg_cast(inner)
            return (base or "::text") + "[]" * depth
        if isinstance(dt, T.StringType):
            return "::text"
        if isinstance(dt, T.DoubleType):
            return "::float8"
        if isinstance(dt, T.FloatType):
            return "::float4"
        if isinstance(dt, T.LongType):
            return "::int8"
        if isinstance(dt, T.IntegerType):
            return "::int4"
        if isinstance(dt, (T.ShortType, T.ByteType)):
            return "::int2"
        if isinstance(dt, T.BooleanType):
            return "::bool"
        if isinstance(dt, T.BinaryType):
            return "::bytea"
        if isinstance(dt, T.DateType):
            return "::date"
        if isinstance(dt, T.TimestampType):
            return "::timestamptz"
        if isinstance(dt, T.TimestampNTZType):
            return "::timestamp"
        if isinstance(dt, T.DecimalType):
            return f"::numeric({dt.precision},{dt.scale})"
        return ""

    def _sql(self, task_where: str) -> str:
        if self.dsn.startswith("duckdb://"):
            cols = ", ".join(f'"{f.name}"' for f in self.schema_.fields)
        else:
            cols = ", ".join(
                f'"{f.name}"{self._col_cast(f)} AS "{f.name}"'
                for f in self.schema_.fields)
        where = transform_filters(self.pushed)
        preds = []
        if task_where:
            preds.append(task_where)
        if where:
            preds.append(where[len("WHERE "):])
        if not self.dsn.startswith("duckdb://"):
            sql = f'SELECT {cols} FROM "{self.pg_schema}"."{self.table}"'
        elif self.schema_explicit:
            # duckdb stand-in with an EXPLICIT schema (source_schema
            # attaches, bug63.test); the default stays unqualified
            # because duckdb's default schema is main, not public
            sql = (f'SELECT {cols} FROM '
                   f'"{self.pg_schema}"."{self.table}"')
        else:
            sql = f'SELECT {cols} FROM "{self.table}"'
        if preds:
            sql += " WHERE " + " AND ".join(preds)
        if SETTINGS.pg_debug_show_queries:
            _log.info("pg scan %s", sql)
        return sql

    # -- execution: Arrow batches (the COPY-binary analog)
    def read(self, partition: _Task) -> Iterator:
        sql = partition.sql
        if self.dsn.startswith("duckdb://"):
            import duckdb
            import pyarrow as pa
            path = self.dsn[len("duckdb://"):]
            con = duckdb.connect(path, read_only=True)
            try:
                reader = con.execute(sql).fetch_record_batch(8192)
                while True:
                    try:
                        batch = reader.read_next_batch()
                    except StopIteration:
                        break
                    # arrow-normalize types Spark's ingest rejects —
                    # enum dictionaries (→ declared varchar, the
                    # reference's enum mapping: postgres_utils.cpp /
                    # bug71.test), month_day_nano intervals
                    # (→ duration, interval.test), unsigned ints
                    # (→ widened signed, attach_ubigint.test), time64
                    # (→ text, attach_types_time.test) — recursively
                    # through lists and structs
                    yield _normalize_batch(batch)
            finally:
                # close even when the query errors or Spark abandons
                # the generator (limit/take) — an open read_only handle
                # blocks later writers to the same file
                con.close()
            return
        yield from self._read_live_pg(sql)

    def _wire_layout(self):
        """(wire OID per column, array columns) of the COPY the scan
        issues: geometry columns by their probed udt, the rest by the
        Spark type their server-side cast produces."""
        from .pgwire import spark_field_oid
        from .types import GEOMETRY_OIDS
        oids = [
            GEOMETRY_OIDS.get(self.pg_udts.get(f.name),
                              spark_field_oid(f.dataType))
            for f in self.schema_.fields]
        array_cols = {
            i for i, f in enumerate(self.schema_.fields)
            if isinstance(f.dataType, T.ArrayType)
            and self.pg_udts.get(f.name) not in GEOMETRY_OIDS}
        return oids, array_cols

    def _read_live_pg(self, sql: str):
        """Live Postgres: stream `COPY (sql) TO STDOUT (FORMAT binary)`
        and decode the PGCOPY frames column-wise into Arrow record
        batches typed to the declared schema — the same wire path as
        the reference (postgres_connection.cpp BeginCopyTo +
        postgres_binary_reader.hpp, which decodes into vectors). The
        vendored pgclient hands the COPY over in socket blocks with
        the row offsets taken from the CopyData framing; psycopg's
        chunk iterator is walked for them. Batches hold at
        most VectorBinaryCopyReader._CHUNK rows and only one socket
        block is held at a time. Tested end-to-end against a mocked
        psycopg feeding ragged PGCOPY chunks (tests/test_datasource
        .py), fixture-level decoder tests (tests/test_pgwire.py) and
        a live server (tests/test_live_pg.py)."""
        from .pgclient import pg_driver
        from .pgwire_vec import VectorBinaryCopyReader
        reader = VectorBinaryCopyReader(*self._wire_layout(), self.schema_)
        with pg_driver().connect(self.dsn) as con, con.cursor() as cur:
            with cur.copy(
                    f"COPY ({sql}) TO STDOUT (FORMAT binary)") as cp:
                yield from reader.read(cp)


from pyspark.sql.datasource import (
    DataSourceStreamReader, SimpleDataSourceStreamReader,
)


def _stream_exec(dsn: str, sql: str):
    """Run one streaming key-range SQL against the source and return
    all rows. Shared by the driver-side Simple reader and the
    executor-side partitioned reader (where it runs inside the task
    that owns the key slice). duckdb:// opens read-only so concurrent
    executor tasks can share the file; libpq DSNs open one short
    connection per call — the per-task connection model the
    reference's scan also uses (postgres_scanner.cpp: one connection
    per parallel scan task)."""
    with _ProbeConn(dsn) as pc:
        return pc.exec(sql)


class _ProbeConn:
    """ONE connection reused across a sequence of scalar probes — the
    keyset boundary walk issues O(backlog/max_rows) probes on a fresh
    stream's initial backlog, and a connect/auth/close per probe
    (what _stream_exec does) would make connection setup dominate the
    walk. Steady state is still one probe; this only changes the
    cold-start cost from O(slices) handshakes to one."""

    def __init__(self, dsn: str):
        if dsn.startswith("duckdb://"):
            import duckdb
            self._con = duckdb.connect(dsn[len("duckdb://"):],
                                       read_only=True)
            self._duck = True
            self._errors = (duckdb.Error, OSError)
        else:
            from .pgclient import pg_driver
            dbapi = pg_driver()
            self._con = dbapi.connect(dsn)
            self._duck = False
            self._errors = (dbapi.Error, OSError)

    def exec(self, sql: str):
        if self._duck:
            return self._con.execute(sql).fetchall()
        with self._con.cursor() as cur:
            cur.execute(sql)
            return cur.fetchall()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        try:
            self._con.close()
        except self._errors as err:  # the probes' results are already in hand
            _log.warning("closing probe connection failed: %s", err)
        return False


def _stream_exec_iter(dsn: str, sql: str, arraysize: int = 10_000):
    """Streaming variant of _stream_exec for row-bearing scans: yields
    rows in fetchmany chunks so a task never builds its whole slice
    as one Python list. duckdb:// drains incrementally from the
    relation; live PG uses a SERVER-SIDE (named) cursor so the
    server, not the client, holds the un-fetched tail. Scalar probes
    keep using _stream_exec (1-row results)."""
    if dsn.startswith("duckdb://"):
        import duckdb
        con = duckdb.connect(dsn[len("duckdb://"):], read_only=True)
        try:
            cur = con.execute(sql)
            while chunk := cur.fetchmany(arraysize):
                yield from chunk
        finally:
            con.close()
        return
    from .pgclient import pg_driver
    psycopg = pg_driver()
    with psycopg.connect(dsn) as con:
        with con.cursor(name="pg_spark_slice") as cur:
            cur.itersize = arraysize
            cur.execute(sql)
            yield from cur


def _validate_stream_key(schema: T.StructType, options):
    """Common option validation for both stream readers: stream_key
    must name an integer column of the declared schema (offsets must
    JSON-serialize into the checkpoint and splice into SQL without
    quoting/injection concerns — a bigserial/identity column, the
    usual CDC key)."""
    key = options.get("stream_key", "")
    if not key:
        raise ValueError(
            "streaming postgres_scan needs .option('stream_key', "
            "'<monotonic column>')")
    kf = {f.name: f for f in schema.fields}.get(key)
    if kf is None or not isinstance(
            kf.dataType, (T.LongType, T.IntegerType, T.ShortType)):
        raise ValueError(
            f"stream_key {key!r} must be an integer column "
            f"of the declared schema (got "
            f"{kf.dataType.simpleString() if kf else 'missing'})")
    return key


class PostgresScanStreamReader(SimpleDataSourceStreamReader):
    """STREAMING read path — `spark.readStream.format("postgres_scan")`
    — the CDC-style polling source the reference cannot express (its
    scan surface is batch-only): each micro-batch reads only the rows
    whose monotonic key (`stream_key` option, e.g. a bigserial id)
    exceeds the last committed offset. Offsets live in the stream's
    checkpoint, so restarts resume exactly where the last run
    committed (same guarantee e13 pins for the file source).

    Built on Spark 4's SimpleDataSourceStreamReader: read(start)
    returns the new rows plus the advanced offset;
    readBetweenOffsets(start, end) re-reads a committed range
    deterministically for recovery — both are key-range scans a
    clustered/indexed source serves without a full table pass."""

    def __init__(self, schema: T.StructType, options):
        self.schema_ = schema
        self.dsn = options.get("dsn", "")
        self.table = options.get("table", "")
        self.key = _validate_stream_key(schema, options)
        # bound each SOURCE FETCH during catch-up: read() drains the
        # backlog present at poll time (so Trigger.AvailableNow
        # honors its process-everything-available contract in one
        # run), but pulls it from the database in max_rows-sized
        # key-range scans, so no single FETCH materializes an
        # unbounded resultset on the driver
        self.max_rows = int(options.get("max_rows_per_poll", "0"))
        # bound the TOTAL rows one read() call assembles: the Simple
        # reader API holds the whole batch in driver memory, so a
        # huge initial backlog with only the fetch cap set would
        # still OOM the driver. When set, a batch stops at the first
        # fetch that crosses this count (whole key groups kept) and
        # the next micro-batch resumes from its offset — availableNow
        # then drains the backlog across SEVERAL bounded batches
        # instead of one unbounded one. The partitioned reader
        # (default) never holds rows on the driver at all.
        self.max_batch = int(options.get("max_rows_per_batch", "0"))
        if self.max_batch and not self.max_rows:
            self.max_rows = self.max_batch
        self.cols = ", ".join(f'"{f.name}"' for f in schema.fields)
        self.key_idx = [f.name for f in schema.fields].index(self.key)

    def initialOffset(self) -> dict:
        return {"last_key": None}

    def _scan(self, lo, hi=None, limit=0):
        where = []
        if lo is not None:
            where.append(f'"{self.key}" > {int(lo)}')
        if hi is not None:
            where.append(f'"{self.key}" <= {int(hi)}')
        sql = (f'SELECT {self.cols} FROM "{self.table}"'
               + (" WHERE " + " AND ".join(where) if where else "")
               + f' ORDER BY "{self.key}"'
               + (f" LIMIT {int(limit)}" if limit else ""))
        return _stream_exec(self.dsn, sql)

    def _scan_capped_whole_keys(self, lo):
        """One capped fetch that never SPLITS a key group: offsets are
        key values and the next scan starts strictly above the last
        key, so a run of EQUAL keys straddling the LIMIT boundary
        would silently lose its tail. When a fetch fills the limit,
        drop the boundary key's rows and re-fetch that key's WHOLE
        group (keys are integers, so (k-1, k] selects exactly k)."""
        rows = self._scan(lo, limit=self.max_rows)
        if rows and len(rows) == self.max_rows:
            k = int(rows[-1][self.key_idx])
            rows = [r for r in rows if int(r[self.key_idx]) != k]
            rows += self._scan(k - 1, k)
        return rows

    def read(self, start: dict):
        if not self.max_rows:
            rows = self._scan(start.get("last_key"))
            if not rows:
                return iter([]), start
            return iter(rows), {"last_key": int(rows[-1][self.key_idx])}
        # capped fetch loop: drain the backlog available NOW in
        # max_rows-sized scans, so each DATABASE FETCH stays bounded
        # while availableNow still covers the whole backlog in one
        # run. The ASSEMBLED batch is held on the driver — inherent
        # to SimpleDataSourceStreamReader, which prefetches and
        # caches read()'s result — so max_rows_per_batch additionally
        # caps the total; a backlog too large for driver memory
        # belongs on the partitioned reader (the default), which
        # reads every slice executor-side
        chunks, total, last = [], 0, start.get("last_key")
        while True:
            rows = self._scan_capped_whole_keys(last)
            if not rows:
                break
            chunks.append(rows)
            total += len(rows)
            last = int(rows[-1][self.key_idx])
            if self.max_batch and total >= self.max_batch:
                break
        if not chunks:
            return iter([]), start
        return itertools.chain.from_iterable(chunks), {"last_key": last}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._scan(start.get("last_key"),
                               end.get("last_key")))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint


class _KeySlice(InputPartition):
    """One (lo, hi] stream-key range — the unit of executor-side
    streaming work. Slices are VALUE ranges, so a run of equal keys
    can never straddle two slices (every row with key <= hi and
    key > lo belongs to exactly one slice regardless of how many
    rows share a key)."""

    def __init__(self, lo, hi):
        self.lo, self.hi = lo, hi


class PostgresScanPartitionedStreamReader(DataSourceStreamReader):
    """Default STREAMING read path — the partition-based evolution of
    the Simple reader above, mirroring the reference's
    split-per-task scan design (reference: src/postgres_scanner.cpp:
    238 PostgresInitGlobalState carves the table into per-task
    ranges; here the carve is by stream key instead of ctid pages).

    Why this exists: SimpleDataSourceStreamReader executes read() on
    the DRIVER and ships every CDC row through that one process —
    fine at sandbox scale, a funnel at 100x. This reader keeps the
    driver's work to two scalar-ish probes per micro-batch and moves
    ALL row traffic to executors:

    - latestOffset(): one `SELECT max(key)` scalar on the driver.
    - partitions(start, end): KEYSET-STEPPED boundary probes — one
      `ORDER BY key OFFSET max_rows-1 LIMIT 1` index walk per slice,
      so slices are ~max_rows rows each, EXACT under sparse or
      duplicate keys (a numeric stride would misbalance both) and
      probe cost tracks SLICE COUNT, not backlog size: in steady
      state (small new range) it is a single short index probe,
      where a row_number() window over (lo, hi] would re-sort the
      whole backlog on the driver connection every trigger. max_rows
      comes from max_rows_per_poll, else max_rows_per_batch, else a
      bounded default — a fresh stream's initial backlog always
      splits.
    - read(partition): runs ON THE EXECUTOR that owns the slice,
      scanning `key > lo AND key <= hi` — an index range scan the
      source serves without a full table pass. No row ever transits
      the driver.

    Offsets are max-key watermarks ({"last_key": k}), identical in
    shape to the Simple reader's, so a checkpoint written by one
    reader restarts cleanly under the other. Assumes an append-only
    monotonic key (the CDC contract): rows inserted BELOW the
    committed watermark are never re-observed.
    """

    def __init__(self, schema: T.StructType, options):
        self.schema_ = schema
        self.dsn = options.get("dsn", "")
        self.table = options.get("table", "")
        self.key = _validate_stream_key(schema, options)
        # slice size: max_rows_per_poll if given, else the Simple
        # reader's max_rows_per_batch (same memory-cap intent), else
        # a bounded default — the INITIAL BACKLOG of a new stream on
        # a large table must never plan as one whole-range slice
        self.max_rows = (int(options.get("max_rows_per_poll", "0"))
                         or int(options.get("max_rows_per_batch", "0"))
                         or 1_000_000)
        self.cols = ", ".join(f'"{f.name}"' for f in schema.fields)

    def initialOffset(self) -> dict:
        return {"last_key": None}

    def _range_sql(self, lo, hi):
        where = []
        if lo is not None:
            where.append(f'"{self.key}" > {int(lo)}')
        if hi is not None:
            where.append(f'"{self.key}" <= {int(hi)}')
        return (f'SELECT {self.cols} FROM "{self.table}"'
                + (" WHERE " + " AND ".join(where) if where else "")
                + f' ORDER BY "{self.key}"')

    def latestOffset(self) -> dict:
        rows = _stream_exec(
            self.dsn, f'SELECT max("{self.key}") FROM "{self.table}"')
        mx = rows[0][0] if rows else None
        return {"last_key": None if mx is None else int(mx)}

    def partitions(self, start: dict, end: dict):
        lo, hi = start.get("last_key"), end.get("last_key")
        if hi is None or (lo is not None and hi <= lo):
            return []           # empty range: no work this batch
        # keyset stepping: each probe walks max_rows index entries
        # forward from the previous boundary and returns ONE key —
        # no sort, no backlog-sized materialization, and the loop
        # stops as soon as the remainder fits one slice. A slice can
        # exceed max_rows only when a duplicate-key group straddles
        # its boundary (same collapse the old DISTINCT applied).
        hi = int(hi)
        slices, prev = [], lo
        with _ProbeConn(self.dsn) as pc:   # one conn for the whole walk
            while True:
                cond = f'"{self.key}" <= {hi}'
                if prev is not None:
                    cond += f' AND "{self.key}" > {int(prev)}'
                rows = pc.exec(
                    f'SELECT "{self.key}" FROM "{self.table}" '
                    f'WHERE {cond} ORDER BY "{self.key}" '
                    f'OFFSET {self.max_rows - 1} LIMIT 1')
                b = int(rows[0][0]) if rows and rows[0][0] is not None \
                    else None
                if b is None or b >= hi:
                    slices.append(_KeySlice(prev, hi))
                    return slices
                slices.append(_KeySlice(prev, b))
                prev = b

    def read(self, partition):
        # executor-side: this is the only place rows move — streamed
        # in fetchmany chunks (server-side cursor on live PG), never
        # materialized as one list in the task
        return _stream_exec_iter(
            self.dsn, self._range_sql(partition.lo, partition.hi))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint


# udts whose typmod is a sub-second datetime precision — the
# overwrite definition-match probe compares it via
# information_schema.datetime_precision (date is excluded: it
# reports 0 there but carries no typmod)
_DT_UDTS = frozenset(
    {"timestamp", "timestamptz", "time", "timetz", "interval"})


class _SpoolMsg(WriterCommitMessage):
    """Commit message: one partition's PGCOPY spool file."""

    def __init__(self, path: str, n_rows: int):
        self.path, self.n_rows = path, n_rows


def _row_batches(rows, schema: T.StructType):
    """Rows → Arrow batches of `schema`, by PySpark's converters."""
    from pyspark.sql.conversion import LocalDataToArrowConversion as L
    while chunk := list(itertools.islice(rows, 65_536)):
        yield from L.convert(chunk, schema, False).to_batches()


class PostgresScanWriter(DataSourceArrowWriter):
    """The WRITE half of the connector —
    `df.write.format("postgres_scan")` — mirroring the reference's
    COPY-based load path (reference: src/postgres_copy_to.cpp,
    postgres_binary_copy.cpp: inserts become COPY .. FROM STDIN
    (FORMAT binary) streams).

    Two-phase for Spark's exactly-once contract: each partition
    ENCODES its rows as a real PGCOPY binary stream into a spool file
    (executor-side, parallel — the expensive half), and commit()
    loads every spool inside ONE transaction on ONE connection
    (driver-side), so a failed job publishes nothing. Spools live on
    the driver-shared filesystem here (local mode); on a cluster the
    spool dir would be an object store — or, where per-partition
    atomicity is acceptable, partitions would stream their COPY
    directly, which is the reference's own (single-connection)
    behavior.

    Backends match the reader: `duckdb://` loads the decoded batches
    through an Arrow registration; libpq DSNs replay each spool as a
    `COPY "t" FROM STDIN (FORMAT binary)` via psycopg.
    """

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        import uuid
        self.schema_ = schema
        self.options = dict(options)
        self.overwrite = overwrite
        self.dsn = self.options.get("dsn", "")
        self.table = self.options.get("table", "")
        if not self.table:
            raise ValueError("postgres_scan write needs .option('table')")
        # captured at plan time on the driver: SETTINGS is process-
        # global there, but write() runs in executor Python workers
        self.null_byte_replacement = self.options.get(
            "null_byte_replacement",
            SETTINGS.pg_null_byte_replacement)
        self.spool = f"/tmp/pg_spark_write_{uuid.uuid4().hex[:12]}"

    def write(self, it: Iterator) -> _SpoolMsg:
        """Spool one partition as a PGCOPY binary stream. As a
        DataSourceArrowWriter, Spark hands an iterator of Arrow
        record batches — encoded by the vectorized column-wise codec
        (pgwire_vec, byte-identical to the scalar contract, measured
        7-8x its throughput on a 1M-row spool; the reference's
        analogous bulk path is the vectorized C++ writer in
        src/postgres_binary_copy.cpp). Rows from direct callers become
        Arrow batches of the write schema first."""
        import os
        import uuid
        from .copyio import _pg_binary_layout
        from .pgwire_vec import VectorBinaryCopyWriter
        oids, array_elem, array_ndims, _ = _pg_binary_layout(self.schema_)
        os.makedirs(self.spool, exist_ok=True)
        path = os.path.join(self.spool, f"{uuid.uuid4().hex}.pgcopy")
        it = iter(it)
        first = next(it, None)
        batches = it if first is None else itertools.chain([first], it)
        if first is not None and not hasattr(first, "num_rows"):
            batches = _row_batches(batches, self.schema_)
        with open(path, "wb") as fh:
            n = VectorBinaryCopyWriter(
                oids, array_elem, array_ndims,
                self.null_byte_replacement).write_batches(fh, batches)
        return _SpoolMsg(path, n)

    # -- driver-side transaction
    def _decode_spool(self, message):
        """One spool as an Arrow RecordBatchReader of the write
        schema, decoded column-wise as it is consumed."""
        import pyarrow as pa
        from .copyio import _pg_binary_layout
        from .pgwire_vec import VectorBinaryCopyReader
        oids, _, _, array_cols = _pg_binary_layout(self.schema_)
        reader = VectorBinaryCopyReader(oids, array_cols, self.schema_)

        def batches():
            with open(message.path, "rb") as fh:
                yield from reader.read(iter(partial(fh.read, 1 << 20),
                                            b""))
        return pa.RecordBatchReader.from_batches(reader.schema, batches())

    def commit(self, messages) -> None:
        import shutil
        messages = [m for m in messages if m is not None]
        try:
            if self.dsn.startswith("duckdb://"):
                self._commit_duckdb(messages)
            else:
                self._commit_live_pg(messages)
        finally:
            shutil.rmtree(self.spool, ignore_errors=True)

    @staticmethod
    def _duck_sql_type(dt: T.DataType) -> str:
        if isinstance(dt, T.ArrayType):
            return PostgresScanWriter._duck_sql_type(dt.elementType) + "[]"
        if isinstance(dt, T.DecimalType):
            return f"DECIMAL({dt.precision},{dt.scale})"
        return {
            T.LongType(): "BIGINT", T.IntegerType(): "INTEGER",
            T.ShortType(): "SMALLINT", T.ByteType(): "TINYINT",
            T.DoubleType(): "DOUBLE", T.FloatType(): "FLOAT",
            T.StringType(): "VARCHAR", T.BooleanType(): "BOOLEAN",
            T.DateType(): "DATE", T.TimestampNTZType(): "TIMESTAMP",
            T.TimestampType(): "TIMESTAMP WITH TIME ZONE",
            T.BinaryType(): "BLOB",
        }.get(dt, "VARCHAR")

    def _commit_duckdb(self, messages) -> None:
        import duckdb
        fields = self.schema_.fields
        # explicit column types + casted insert: the registered Arrow
        # types (utc timestamps, nested lists) must not decide the
        # table's declared types for every later reader
        cols = ", ".join(
            f'"{f.name}" {self._duck_sql_type(f.dataType)}'
            for f in fields)
        names = ", ".join(f'"{f.name}"' for f in fields)
        casts = ", ".join(
            f'CAST("{f.name}" AS {self._duck_sql_type(f.dataType)})'
            for f in fields)
        con = duckdb.connect(self.dsn[len("duckdb://"):])
        try:
            con.execute("BEGIN")
            # overwrite REPLACES the table definition — a stale table
            # with different column order/types must not survive and
            # receive positionally-mismapped rows
            if self.overwrite:
                con.execute(f'DROP TABLE IF EXISTS "{self.table}"')
            con.execute(
                f'CREATE TABLE IF NOT EXISTS "{self.table}" ({cols})')
            # one spool at a time inside the SAME transaction, streamed
            # batch by batch: peak memory is one decoded batch
            for m in messages:
                con.register("_pg_spark_load", self._decode_spool(m))
                # insert BY NAME so an existing table with a different
                # column order maps correctly in append mode
                con.execute(f'INSERT INTO "{self.table}" ({names}) '
                            f"SELECT {casts} FROM _pg_spark_load")
                con.unregister("_pg_spark_load")
            con.execute("COMMIT")
        except Exception:
            con.execute("ROLLBACK")
            raise
        finally:
            con.close()

    @staticmethod
    def _pg_sql_type(dt: T.DataType) -> str:
        if isinstance(dt, T.ArrayType):
            return PostgresScanWriter._pg_sql_type(dt.elementType) + "[]"
        if isinstance(dt, T.DecimalType):
            return f"NUMERIC({dt.precision},{dt.scale})"
        return {
            T.LongType(): "BIGINT", T.IntegerType(): "INTEGER",
            T.ShortType(): "SMALLINT", T.ByteType(): "SMALLINT",
            T.DoubleType(): "DOUBLE PRECISION", T.FloatType(): "REAL",
            T.StringType(): "TEXT", T.BooleanType(): "BOOLEAN",
            T.DateType(): "DATE", T.TimestampNTZType(): "TIMESTAMP",
            T.TimestampType(): "TIMESTAMPTZ",
            T.BinaryType(): "BYTEA",
        }.get(dt, "TEXT")

    @staticmethod
    def _typmod(sql_type: str, udt: str
                ) -> tuple[int | None, int | None, int | None,
                           int | None]:
        """DDL type modifiers → the (character_maximum_length,
        numeric_precision, numeric_scale, datetime_precision) tuple
        information_schema reports, for the overwrite
        definition-match probe. Datetime/time/interval sub-second
        precision and bit lengths are modeled too — a surviving
        timestamp(0) column must NOT 'match' an unconstrained
        incoming TIMESTAMP, or the TRUNCATE path would silently
        round sub-second values on COPY (same silent-coercion class
        the numeric check prevents). Defaults mirror PG: bare
        datetime types report precision 6, bare bpchar/bit report
        length 1, unconstrained varchar/varbit/numeric report NULL."""
        import re
        m = re.search(r"\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
                      sql_type.strip().lower())
        a = int(m.group(1)) if m else None
        b = int(m.group(2)) if m and m.group(2) is not None else None
        if udt == "numeric":
            if a is None:
                return (None, None, None, None)
            # numeric(p) means scale 0 in PG
            return (None, a, b if b is not None else 0, None)
        if udt in ("varchar", "varbit"):
            return (a, None, None, None)
        if udt in ("bpchar", "bit"):
            return (a if a is not None else 1, None, None, None)
        if udt in _DT_UDTS:
            return (None, None, None, a if a is not None else 6)
        return (None, None, None, None)

    @staticmethod
    def _udt_name(sql_type: str) -> str:
        """DDL type name → the udt_name information_schema reports for
        it, for the overwrite definition-match probe. Arrays report
        '_elem' (any dimensionality); enums/domains report their own
        name, which the identity fallback covers."""
        import re
        base = sql_type.strip().lower()
        dims = 0
        while base.endswith("[]"):
            base = base[:-2].strip()
            dims += 1
        base = re.sub(r"\(.*\)$", "", base).strip()
        udt = {
            "smallint": "int2", "integer": "int4", "int": "int4",
            "bigint": "int8", "real": "float4",
            "double precision": "float8", "boolean": "bool",
            "timestamp": "timestamp",
            "timestamp without time zone": "timestamp",
            "timestamptz": "timestamptz",
            "timestamp with time zone": "timestamptz",
            "decimal": "numeric", "character varying": "varchar",
            "char": "bpchar", "character": "bpchar",
            "time": "time", "time without time zone": "time",
            "time with time zone": "timetz",
            "bit varying": "varbit",
        }.get(base, base)
        if udt.startswith("interval"):
            udt = "interval"    # interval day to second → udt interval
        return ("_" + udt) if dims else udt

    def _commit_live_pg(self, messages) -> None:
        from .pgclient import pg_driver
        psycopg = pg_driver()
        pg_schema = self.options.get("schema", "public")
        target = f'"{pg_schema}"."{self.table}"'
        # column_types option: JSON {column: pg_type} overriding the
        # default Spark→PG DDL map, so a varchar-in-Spark column can
        # CREATE as its server-side UDT (enum/domain) — closing the
        # enum-writes-back-as-VARCHAR gap (reference: bug71.test reads
        # a UDT column; the scan side already types it via _pg_udts)
        import json
        import re
        overrides = json.loads(self.options.get("column_types", "{}"))
        # a type name: word chars/spaces (TIMESTAMP WITH TIME ZONE),
        # optional schema qualifier, optional (p[,s]) with NUMBERS
        # only, optional [] suffixes — no quotes, no free commas, so
        # a value cannot smuggle extra column definitions into the
        # CREATE TABLE it is spliced into
        type_re = (r"[A-Za-z_][\w ]*(?:\.[A-Za-z_][\w ]*)?"
                   r"(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\[\])*")
        for cname, ctype in overrides.items():
            if not re.fullmatch(type_re, ctype.strip()):
                raise ValueError(
                    f"column_types[{cname!r}] = {ctype!r} is not a "
                    f"plain type name")
        cols = ", ".join(
            f'"{f.name}" '
            f'{overrides.get(f.name, self._pg_sql_type(f.dataType))}'
            for f in self.schema_.fields)
        with psycopg.connect(self.dsn) as con, con.cursor() as cur:
            # overwrite: TRUNCATE when the existing definition already
            # matches the incoming one COLUMN-FOR-COLUMN (names, order,
            # and wire type) — preserving the table's indexes,
            # constraints, grants, defaults, and dependent views.
            # Otherwise DROP + CREATE: binary COPY maps columns
            # POSITIONALLY, so a surviving table with a different
            # column order or types would load mis-mapped rows or fail
            # mid-COPY. The DROP path is DESTRUCTIVE to dependent
            # objects by design — redefine-on-overwrite is the only
            # way to honor Spark's mode("overwrite") contract when the
            # shapes diverge.
            if self.overwrite:
                # typmods matter too: numeric(10,2) surviving a
                # TRUNCATE would silently round values an incoming
                # numeric(12,6) write expects to keep, and a shorter
                # varchar(n) would abort the COPY mid-write — so the
                # match covers length/precision/scale, not just the
                # base udt. Non-numeric udts normalize prec/scale to
                # None (information_schema reports intrinsic widths
                # like int4→32 that are not typmods).
                cur.execute(
                    "SELECT column_name, udt_name, "
                    "character_maximum_length, numeric_precision, "
                    "numeric_scale, datetime_precision "
                    "FROM information_schema.columns "
                    "WHERE table_schema = %s AND table_name = %s "
                    "ORDER BY ordinal_position",
                    (pg_schema, self.table))
                existing = [
                    (n, u, cl,
                     p if u == "numeric" else None,
                     s if u == "numeric" else None,
                     # date reports datetime_precision 0 yet has no
                     # typmod — only the sub-second family compares
                     dtp if u in _DT_UDTS else None)
                    for n, u, cl, p, s, dtp in cur.fetchall()]
                want = []
                for f in self.schema_.fields:
                    ddl = overrides.get(f.name,
                                        self._pg_sql_type(f.dataType))
                    u = self._udt_name(ddl)
                    cl, p, s, dtp = self._typmod(ddl, u)
                    want.append((f.name, u, cl, p, s, dtp))
                if existing and existing == want:
                    cur.execute(f"TRUNCATE TABLE {target}")
                else:
                    cur.execute(f"DROP TABLE IF EXISTS {target}")
            cur.execute(f"CREATE TABLE IF NOT EXISTS {target} ({cols})")
            for m in messages:
                with cur.copy(f"COPY {target} FROM STDIN "
                              "(FORMAT binary)") as cp:
                    with open(m.path, "rb") as fh:
                        while chunk := fh.read(1 << 20):
                            cp.write(chunk)
            con.commit()

    def abort(self, messages) -> None:
        import shutil
        shutil.rmtree(self.spool, ignore_errors=True)


from pyspark.sql.datasource import DataSourceStreamArrowWriter


class PostgresScanStreamWriter(DataSourceStreamArrowWriter):
    """STREAMING write path — `df.writeStream.format("postgres_scan")`
    — each micro-batch lands through the same spool-then-commit
    PGCOPY protocol as the batch writer, one transaction per batch
    (exactly-once per micro-batch; the checkpoint makes batch replays
    idempotent upstream). Pure delegation: ONE driver-minted spool
    dir is shared by every task attempt (like the batch writer), so
    commit/abort's cleanup also sweeps spools from failed attempts,
    and `overwrite` (complete/truncate output modes pass True per
    micro-batch) reaches the backend's drop-and-recreate path."""

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        self._writer = PostgresScanWriter(schema, dict(options),
                                          overwrite)

    def write(self, iterator):
        return self._writer.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        self._writer.commit([m for m in messages if m is not None])

    def abort(self, messages, batchId: int) -> None:
        self._writer.abort(messages)


def ensure_registered(spark) -> None:
    """Register the DataSource, tolerating ONLY the already-registered
    case — any other failure (import error on a worker, bad session)
    must surface, not turn into a later DATA_SOURCE_NOT_FOUND."""
    try:
        spark.dataSource.register(PostgresScanDataSource)
    except Exception as exc:  # noqa: BLE001
        # Spark raises DATA_SOURCE_ALREADY_EXISTS for a duplicate
        # register; match that condition specifically — a bare
        # "exist" substring would also swallow "... does not exist"
        cond = ""
        get_cond = getattr(exc, "getCondition", None) or \
            getattr(exc, "getErrorClass", None)
        if callable(get_cond):
            try:
                cond = get_cond() or ""
            except Exception:  # noqa: BLE001
                cond = ""
        msg = str(exc).lower()
        if ("ALREADY_EXISTS" not in cond
                and "already exists" not in msg
                and "already registered" not in msg):
            raise


class PostgresScanDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "postgres_scan"

    _pg_udts: dict  # probed col → PG udt name (live-PG table scans only)

    def schema(self):
        self._pg_udts = {}
        dsn = self.options.get("dsn", "")
        table = self.options.get("table", "")
        query = self.options.get("query", "")
        if dsn.startswith("duckdb://"):
            import duckdb
            con = duckdb.connect(dsn[len("duckdb://"):], read_only=True)
            try:
                if query:
                    probe = query
                elif "schema" in self.options:
                    probe = (f'SELECT * FROM '
                             f'"{self.options["schema"]}"."{table}"')
                else:
                    probe = f'SELECT * FROM "{table}"'
                desc = con.execute(f'DESCRIBE {probe}').fetchall()
            finally:
                con.close()
            return T.StructType([
                T.StructField(n, _duck_type(t), True)
                for n, t, *_ in desc
            ])
        from .pgclient import pg_driver
        psycopg = pg_driver()
        from .types import pg_type_to_spark
        if query:
            # result-set probe: run the query LIMIT 0 server-side and
            # read the cursor's result descriptor — the reference does
            # exactly this for postgres_query (src/postgres_query.cpp
            # PostgresQueryBind executes the user SQL and derives the
            # bind schema from the result set, not the table catalog),
            # so computed/expression columns type correctly
            probe = (f"SELECT * FROM ("
                     f"{query.rstrip().rstrip(';')}) _pg_spark_probe "
                     f"LIMIT 0")
            from .types import spark_type_from_oid
            with psycopg.connect(dsn) as con, con.cursor() as cur:
                cur.execute(probe)
                if not cur.description:
                    raise ValueError(
                        "postgres_scan query returned no result "
                        "descriptor — not a SELECT?")
                return T.StructType([
                    T.StructField(
                        col.name,
                        spark_type_from_oid(col.type_code,
                                            precision=col.precision,
                                            scale=col.scale),
                        True)
                    for col in cur.description
                ])
        pg_schema = self.options.get("schema", "public")
        with psycopg.connect(dsn) as con, con.cursor() as cur:
            # information_schema probe — the reference reads the same
            # catalog via PGQuery (postgres_scanner.cpp GetColumnInfo)
            # attndims gives the DECLARED dimensionality so the probe
            # types int[][] as array<array<int>> — decode_array emits
            # nested lists for ndim>1 frames and the declared schema
            # must match (reference: postgres_utils.cpp
            # TypeToLogicalType walks the same catalog dims;
            # attach_existing_multidimensional_array.test)
            cur.execute(
                "SELECT c.column_name, c.data_type, c.udt_name, "
                "c.numeric_precision, c.numeric_scale, "
                "COALESCE(a.attndims, 1) "
                "FROM information_schema.columns c "
                "JOIN pg_catalog.pg_class pc ON pc.relname = c.table_name "
                "JOIN pg_catalog.pg_namespace pn "
                "  ON pn.oid = pc.relnamespace "
                " AND pn.nspname = c.table_schema "
                "JOIN pg_catalog.pg_attribute a "
                "  ON a.attrelid = pc.oid "
                " AND a.attname = c.column_name "
                "WHERE c.table_schema = %s AND c.table_name = %s "
                "ORDER BY c.ordinal_position", (pg_schema, table))
            fields = []
            for name, dtyp, udt, prec, scale, ndims in cur.fetchall():
                if dtyp == "ARRAY":
                    dt = pg_type_to_spark(udt.lstrip("_"),
                                          array_dims=max(ndims, 1))
                else:
                    dt = pg_type_to_spark(
                        udt or dtyp, precision=prec, scale=scale)
                self._pg_udts[name] = (udt or dtyp or "").lower()
                fields.append(T.StructField(name, dt, True))
        if not fields:
            raise ValueError(
                f"table {pg_schema}.{table} not found on remote server")
        return T.StructType(fields)

    def reader(self, schema: T.StructType) -> PostgresScanReader:
        import json
        opts = dict(self.options)
        udts = getattr(self, "_pg_udts", {})
        if udts:
            opts["pg_udts"] = json.dumps(udts)
        return PostgresScanReader(schema, opts)

    def writer(self, schema: T.StructType,
               overwrite: bool) -> PostgresScanWriter:
        return PostgresScanWriter(schema, self.options, overwrite)

    def streamReader(
            self, schema: T.StructType
    ) -> PostgresScanPartitionedStreamReader:
        """Spark prefers streamReader() over simpleStreamReader();
        the partitioned (executor-side) reader is the default.
        .option('stream_reader', 'simple') opts back into the
        driver-side Simple reader (raising NOT_IMPLEMENTED here is
        the documented fallback trigger in pyspark's
        datasource_internal._streamReader)."""
        if self.options.get("stream_reader", "") == "simple":
            from pyspark.errors import PySparkNotImplementedError
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader"})
        return PostgresScanPartitionedStreamReader(schema, self.options)

    def simpleStreamReader(
            self, schema: T.StructType) -> PostgresScanStreamReader:
        return PostgresScanStreamReader(schema, self.options)

    def streamWriter(self, schema: T.StructType,
                     overwrite: bool) -> PostgresScanStreamWriter:
        return PostgresScanStreamWriter(schema, self.options, overwrite)
