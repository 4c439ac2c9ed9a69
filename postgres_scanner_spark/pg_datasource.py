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
  value only in the columns whose wire type has no numpy kernel:
  numeric, interval, arrays, the geometry types, a ByteType column's
  int2 and a struct or map column's text (VectorBinaryCopyReader's
  docstring has the list).
- query mode (`.option("query", sql)`, what `pg_query` sends): the
  server runs the statement in one task. The schema probe and the
  task wrap the statement's body (`pushdown.sql_body`: the text
  without the whitespace, comments and `;` around it), so
  `SELECT 1; -- done` runs as `(SELECT 1)`.
- streaming (`spark.readStream.format("postgres_scan")`): the same
  read() serves each micro-batch's stream-key slices
  (PostgresScanPartitionedStreamReader), so every row, batch or
  streamed, takes the one COPY-binary → Arrow path.

Backends:
- libpq DSNs (`host=... dbname=...`) — a real PostgreSQL server over
  the vendored pure-Python wire client (pgclient.py). Every Postgres
  behaviour (types, ctid tasks, pushdown, writes) is tested against a
  live server the test suite starts (tests/conftest.py `pg_server`).
- `duckdb:///path/file.db` — a local DuckDB file standing in for the
  server in one place only: the registry's e16 stream, a
  `readStream` with a declared schema. Its key probes run on
  `_ProbeConn` and its slices run the live task SQL (DuckDB takes
  the `::int8`/`::text`/`::float8` read casts) in DuckDB, which
  yields its own Arrow batches. Every other use of a `duckdb://`
  DSN — a schema probe, a batch read, a write, an attach — raises
  at its first call (`refuse_standin`).
"""

from __future__ import annotations

import itertools
import logging
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource, DataSourceArrowWriter, DataSourceReader,
    DataSourceStreamReader, EqualTo, Filter,
    GreaterThan, GreaterThanOrEqual, In, InputPartition, IsNotNull,
    IsNull, LessThan, LessThanOrEqual, WriterCommitMessage,
)

from .pushdown import sql_body, transform_filters
from .scan import plan_scan_tasks
from .settings import Settings

_log = logging.getLogger(__name__)


def refuse_standin(dsn: str, use: str) -> None:
    """Raise for `use` of a duckdb:// DSN: the stand-in serves e16's
    stream and nothing else."""
    if dsn.startswith("duckdb://"):
        raise ValueError(
            f"{use}: the duckdb:// stand-in is read-only and serves one "
            f"use, e16's stream (a readStream postgres_scan with a "
            f"declared schema); use a Postgres server")


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
        # this SQL; a query result has no ctid, so it reads as a
        # single stream (same as the reference's postgres_query)
        self.query = sql_body(options.get("query", ""))
        self.pg_schema = options.get("schema", "public")
        self.approx_pages = int(options.get("approx_pages", "0"))
        # the reader plans and reads in Python workers, which never see
        # the driver's settings: a scan's settings are its pg_* options
        self.settings = Settings.from_options(options)
        # Known bug (ROADMAP item 10): pushed filters leak into later
        # queries on the same DataFrame. PythonScanBuilder.pushFilters
        # stores the pushed read plan on the relation's shared
        # PythonDataSourceV2 (setReadInfo); a later query that pushes
        # nothing gets no Python pushdown call, and planInputPartitions
        # reads that plan back through getOrCreateReadInfo. After
        # df.filter("x < 10").count() == 9, df.count() also returns 9
        # (test_live_pushed_filter_stays_in_its_query). A fresh load() per
        # query, or pg_experimental_filter_pushdown=false, reads correctly.
        self.pushed: list[tuple] = []
        # PG-declared type names from the schema probe (JSON col→udt):
        # geometry columns (point/box/...) surface as Struct/Array
        # Spark types, the same as real composites/float8[] — the
        # udt picks the wire OID and suppresses the server-side cast
        # so the native send format arrives (reference:
        # postgres_binary_reader.hpp ReadGeometry)
        import json as _json
        self.udts: dict[str, str] = _json.loads(options.get("udts", "{}"))

    # -- filter pushdown (reference: postgres_filter_pushdown.cpp)
    def pushFilters(self, filters: list[Filter]):
        self.pushed = []           # fresh per planning pass — no carryover
        if self.query:
            # ad-hoc query mode has no table to rewrite a WHERE into —
            # decline pushdown so Spark evaluates every filter itself
            # (accepting them here would silently drop them)
            yield from filters
            return
        if not self.settings.pg_experimental_filter_pushdown:
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
            # wrap so every output column is cast to the wire format
            # the decoder expects (same as the table path)
            cols = ", ".join(
                f'"{f.name}"{self._col_cast(f)} AS "{f.name}"'
                for f in self.schema_.fields)
            return [self._task(f"SELECT {cols} FROM ({self.query}) AS q")]
        if self.approx_pages <= 0:
            self.approx_pages = self._probe_pages()
        s = self.settings
        tasks = plan_scan_tasks(self.approx_pages,
                                pages_per_task=s.pg_pages_per_task,
                                use_ctid_scan=s.pg_use_ctid_scan,
                                max_tasks=s.pg_connection_limit)
        return [self._task(self._sql(t.predicate if len(tasks) > 1 else ""))
                for t in tasks]

    def _task(self, sql: str) -> _Task:
        """Every task's SQL, table, query and stream slice alike,
        passes here once: `pg_debug_show_queries` logs it."""
        if self.settings.pg_debug_show_queries:
            # WARNING: a PySpark worker drops INFO records; Python's
            # last-resort handler prints this to the driver's stderr
            _log.warning("pg scan %s", sql)
        return _Task(sql)

    def _probe_pages(self) -> int:
        """Live PG: exact heap page count via pg_relation_size — the
        reference sizes its parallel scan from the same catalog
        number (postgres_scanner.cpp PostgresBindData approx_num_pages
        from the pg_class probe). One cheap driver-side catalog
        query; a database or socket error degrades to a single-task
        scan and logs why. Anything else is a bug and propagates."""
        from . import pgclient
        try:
            with pgclient.connect(self.dsn) as con, \
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
        except (pgclient.Error, OSError) as exc:
            _log.warning("page probe of %s.%s failed, planning a "
                         "single-task scan: %s",
                         self.pg_schema, self.table, exc)
            return 0

    def _col_cast(self, f: T.StructField) -> str:
        """Per-column server-side cast, so every column arrives over
        COPY binary in EXACTLY the wire format `wire_layout` decodes
        (a uuid/json/inet column probed as StringType must ship as
        text, not its native 16-byte/uvarlena send format). Geometry
        columns (known from the probe's udt) ship their NATIVE send
        format — the decoder has dedicated branches — and a type
        outside the Spark→Postgres table (struct, map) gets no cast."""
        from .types import GEOMETRY_OIDS, SPARK_TO_OID, spark_type_to_pg
        dt = f.dataType
        if self.udts.get(f.name) in GEOMETRY_OIDS or (
                type(dt) not in SPARK_TO_OID
                and not isinstance(dt, T.ArrayType)):
            return ""
        return "::" + spark_type_to_pg(dt)

    def _relation(self) -> str:
        """The scanned table as it appears in every query's FROM."""
        return f'"{self.pg_schema}"."{self.table}"'

    def _sql(self, task_where: str) -> str:
        cols = ", ".join(f'"{f.name}"{self._col_cast(f)} AS "{f.name}"'
                         for f in self.schema_.fields)
        where = transform_filters(
            self.pushed, self.settings.pg_null_byte_replacement)
        preds = []
        if task_where:
            preds.append(task_where)
        if where:
            preds.append(where[len("WHERE "):])
        sql = f"SELECT {cols} FROM {self._relation()}"
        if preds:
            sql += " WHERE " + " AND ".join(preds)
        return sql

    # -- execution: Arrow batches (the COPY-binary analog)
    def read(self, partition: _Task) -> Iterator:
        sql = partition.sql
        if self.dsn.startswith("duckdb://"):
            # e16's stream slice (the only reader a stand-in DSN gets)
            import duckdb
            con = duckdb.connect(self.dsn[len("duckdb://"):],
                                 read_only=True)
            try:
                yield from con.execute(sql).fetch_record_batch(8192)
            finally:
                # close even when the query errors or Spark abandons
                # the generator (limit/take) — an open read_only handle
                # blocks later writers to the same file
                con.close()
            return
        yield from self._read_live_pg(sql)

    def _read_live_pg(self, sql: str):
        """Live Postgres: stream `COPY (sql) TO STDOUT (FORMAT binary)`
        and decode the PGCOPY frames column-wise into Arrow record
        batches typed to the declared schema — the same wire path as
        the reference (postgres_connection.cpp BeginCopyTo +
        postgres_binary_reader.hpp, which decodes into vectors).
        pgclient hands the COPY over in socket blocks with the row
        offsets taken from the CopyData framing. Batches hold at
        most VectorBinaryCopyReader._CHUNK rows and only one socket
        block is held at a time. Tested by fixture-level decoder
        tests (tests/test_pgwire.py) and against a live server
        (tests/test_live_pg.py, tests/test_datasource.py)."""
        from . import pgclient
        from .pgwire_vec import VectorBinaryCopyReader
        from .types import wire_layout
        oids, _, _, array_cols = wire_layout(self.schema_, self.udts)
        reader = VectorBinaryCopyReader(oids, array_cols, self.schema_)
        with pgclient.connect(self.dsn) as con, con.cursor() as cur:
            with cur.copy(
                    f"COPY ({sql}) TO STDOUT (FORMAT binary)") as cp:
                yield from reader.read(cp)


class _ProbeConn:
    """ONE connection reused across a sequence of scalar probes — the
    keyset boundary walk issues O(backlog/max_rows) probes on a fresh
    stream's initial backlog, and a connect/auth/close per probe
    would make connection setup dominate the walk. Steady state is
    still one probe; this only changes the cold-start cost from
    O(slices) handshakes to one."""

    def __init__(self, dsn: str):
        if dsn.startswith("duckdb://"):
            import duckdb
            self._con = duckdb.connect(dsn[len("duckdb://"):],
                                       read_only=True)
            self._duck = True
            self._errors = (duckdb.Error, OSError)
        else:
            from . import pgclient
            self._con = pgclient.connect(dsn)
            self._duck = False
            self._errors = (pgclient.Error, OSError)

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


def _validate_stream_key(schema: T.StructType, options):
    """stream_key must name an integer column of the declared schema
    (offsets must JSON-serialize into the checkpoint and splice into
    SQL without quoting/injection concerns — a bigserial/identity
    column, the usual CDC key)."""
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


class _KeySlice(InputPartition):
    """One (lo, hi] stream-key range — the unit of executor-side
    streaming work. Slices are VALUE ranges, so a run of equal keys
    can never straddle two slices (every row with key <= hi and
    key > lo belongs to exactly one slice regardless of how many
    rows share a key)."""

    def __init__(self, lo, hi):
        self.lo, self.hi = lo, hi


class PostgresScanPartitionedStreamReader(DataSourceStreamReader):
    """STREAMING read path — `spark.readStream.format("postgres_scan")`
    — the CDC-style polling source the reference cannot express (its
    scan surface is batch-only): each micro-batch reads only the rows
    whose monotonic key (`stream_key` option, e.g. a bigserial id)
    exceeds the last committed offset. Offsets are max-key watermarks
    ({"last_key": k}) kept in the stream's checkpoint, so restarts
    resume exactly where the last run committed. Assumes an
    append-only monotonic key (the CDC contract): rows inserted BELOW
    the committed watermark are never re-observed.

    The work splits like the reference's scan (reference:
    src/postgres_scanner.cpp:238 PostgresInitGlobalState carves the
    table into per-task ranges; here the carve is by stream key
    instead of ctid pages), and no row ever transits the driver:

    - latestOffset(): one `SELECT max(key)` scalar on the driver.
    - partitions(start, end): KEYSET-STEPPED boundary probes on one
      connection — one `ORDER BY key OFFSET max_rows-1 LIMIT 1` index
      walk per slice, so slices are ~max_rows rows each, EXACT under
      sparse or duplicate keys (a numeric stride would misbalance
      both), and probe cost tracks SLICE COUNT, not backlog size: in
      steady state (small new range) it is a single short index
      probe. max_rows is max_rows_per_poll, else a bounded default —
      a fresh stream's initial backlog always splits.
    - read(partition): runs ON THE EXECUTOR that owns the slice, as a
      batch scan task whose WHERE is `key > lo AND key <= hi` — the
      same COPY binary → Arrow read as a ctid task
      (PostgresScanReader.read: server-side casts, geometry udts and
      pg_debug_show_queries included), an index range scan the source
      serves without a full table pass.

    Every query names the table through the batch reader's
    _relation(), so the `schema` option qualifies it the same way.
    """

    def __init__(self, schema: T.StructType, options):
        self.key = _validate_stream_key(schema, options)
        self._scan = PostgresScanReader(schema, options)
        self.max_rows = int(options.get("max_rows_per_poll", "0")) \
            or 1_000_000

    def initialOffset(self) -> dict:
        return {"last_key": None}

    def latestOffset(self) -> dict:
        with _ProbeConn(self._scan.dsn) as pc:
            rows = pc.exec(f'SELECT max("{self.key}") '
                           f'FROM {self._scan._relation()}')
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
        # its boundary.
        hi = int(hi)
        slices, prev = [], lo
        with _ProbeConn(self._scan.dsn) as pc:  # one conn for the walk
            while True:
                cond = f'"{self.key}" <= {hi}'
                if prev is not None:
                    cond += f' AND "{self.key}" > {int(prev)}'
                rows = pc.exec(
                    f'SELECT "{self.key}" FROM {self._scan._relation()} '
                    f'WHERE {cond} ORDER BY "{self.key}" '
                    f'OFFSET {self.max_rows - 1} LIMIT 1')
                b = int(rows[0][0]) if rows and rows[0][0] is not None \
                    else None
                if b is None or b >= hi:
                    slices.append(_KeySlice(prev, hi))
                    return slices
                slices.append(_KeySlice(prev, b))
                prev = b

    def read(self, partition: _KeySlice) -> Iterator:
        where = f'"{self.key}" <= {int(partition.hi)}'
        if partition.lo is not None:
            where = f'"{self.key}" > {int(partition.lo)} AND {where}'
        return self._scan.read(self._scan._task(self._scan._sql(where)))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint


# Overwrite definition match: two relations' (name, type) per live
# column, in order, with the types spelled by Postgres (format_type
# keeps every typmod, array element typmods included); NULL — no
# match — when the target does not exist. _WANT holds the wanted
# definition, parsed by the server as a temp table.
_WANT = "pg_temp._pg_spark_want"
_COLUMNS = ("(SELECT array_agg((attname, format_type(atttypid, atttypmod))"
            " ORDER BY attnum) FROM pg_attribute WHERE attrelid = "
            "to_regclass(%s) AND attnum > 0 AND NOT attisdropped)")
_SAME_COLUMNS = f"SELECT {_COLUMNS} = {_COLUMNS}"


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
    replays every spool as `COPY "t" FROM STDIN (FORMAT binary)`
    inside ONE transaction on ONE connection (driver-side), so a
    failed job publishes nothing. Spools live on the driver-shared
    filesystem here (local mode); on a cluster the spool dir would be
    an object store — or, where per-partition atomicity is
    acceptable, partitions would stream their COPY directly, which is
    the reference's own (single-connection) behavior.

    The spool directory is made here, where Spark builds the writer,
    and never by a task: once commit() or abort() has removed it, a
    task still running fails to open its spool instead of leaving one
    behind.
    """

    def __init__(self, schema: T.StructType, options, overwrite: bool,
                 spool: str | None = None):
        import json
        import re
        import tempfile
        self.schema_ = schema
        self.options = dict(options)
        self.overwrite = overwrite
        self.dsn = self.options.get("dsn", "")
        self.table = self.options.get("table", "")
        refuse_standin(self.dsn, "postgres_scan write")
        if not self.table:
            raise ValueError("postgres_scan write needs .option('table')")
        self.null_byte_replacement = Settings.from_options(
            self.options).pg_null_byte_replacement
        # column_types option: JSON {column: pg_type} overriding the
        # default Spark→PG DDL type, so a varchar-in-Spark column can
        # CREATE as its server-side UDT (enum/domain) — closing the
        # enum-writes-back-as-VARCHAR gap (reference: bug71.test reads
        # a UDT column; the scan side already types it via _udts)
        self.overrides = json.loads(self.options.get("column_types", "{}"))
        # a type name: word chars/spaces (TIMESTAMP WITH TIME ZONE),
        # optional schema qualifier, optional (p[,s]) with NUMBERS
        # only and words after it (timestamp(3) with time zone),
        # optional [] suffixes — no quotes, no free commas, so a value
        # cannot smuggle extra column definitions into the CREATE
        # TABLE it is spliced into
        type_re = (r"[A-Za-z_][\w ]*(?:\.[A-Za-z_][\w ]*)?"
                   r"(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\)"
                   r"(?:\s+[A-Za-z_][\w ]*)?)?(?:\[\])*")
        for cname, ctype in self.overrides.items():
            if not re.fullmatch(type_re, ctype.strip()):
                raise ValueError(
                    f"column_types[{cname!r}] = {ctype!r} is not a "
                    f"plain type name")
        self.spool = spool or tempfile.mkdtemp(prefix="pg_spark_write_")

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
        from .pgwire_vec import VectorBinaryCopyWriter
        from .types import wire_layout
        oids, array_elem, array_ndims, _ = wire_layout(self.schema_)
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
    def commit(self, messages) -> None:
        messages = [m for m in messages if m is not None]
        try:
            self._commit_live_pg(messages)
        finally:
            self._drop_spools(messages)

    def _commit_live_pg(self, messages) -> None:
        from . import pgclient
        from .types import spark_type_to_pg
        pg_schema = self.options.get("schema", "public")
        target = f'"{pg_schema}"."{self.table}"'
        cols = ", ".join(
            f'"{f.name}" '
            f'{self.overrides.get(f.name, spark_type_to_pg(f.dataType))}'
            for f in self.schema_.fields)
        with pgclient.connect(self.dsn) as con, con.cursor() as cur:
            # overwrite: TRUNCATE when the existing definition already
            # matches the incoming one COLUMN-FOR-COLUMN (names, order,
            # types and typmods) — preserving the table's indexes,
            # constraints, grants, defaults, and dependent views.
            # Otherwise DROP + CREATE: binary COPY maps columns
            # POSITIONALLY, so a surviving table with a different
            # column order or types would load mis-mapped rows or fail
            # mid-COPY, and a surviving numeric(10,2) or timestamp(0)
            # would silently round what the write means to keep. The
            # DROP path is DESTRUCTIVE to dependent objects by design —
            # redefine-on-overwrite is the only way to honor Spark's
            # mode("overwrite") contract when the shapes diverge.
            # Postgres itself parses the wanted definition (a temp
            # table) and spells both sides with format_type, so
            # synonyms, schema-qualified UDTs and array typmods
            # compare as the server sees them.
            if self.overwrite:
                cur.execute(f"CREATE TEMP TABLE {_WANT} ({cols}) "
                            "ON COMMIT DROP")
                cur.execute(_SAME_COLUMNS, (target, _WANT))
                if cur.fetchone()[0]:
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
        self._drop_spools(messages)

    def _drop_spools(self, messages) -> None:
        """Remove this writer's spool directory and every directory
        holding one of `messages`' spools."""
        import os
        import shutil
        for d in {self.spool} | {os.path.dirname(m.path)
                                 for m in messages if m is not None}:
            shutil.rmtree(d, ignore_errors=True)


from pyspark.sql.datasource import DataSourceStreamArrowWriter


class PostgresScanStreamWriter(DataSourceStreamArrowWriter):
    """STREAMING write path — `df.writeStream.format("postgres_scan")`
    — each micro-batch lands through the same spool-then-commit
    PGCOPY protocol as the batch writer, one transaction per batch
    (exactly-once per micro-batch; the checkpoint makes batch replays
    idempotent upstream), and `overwrite` (complete/truncate output
    modes pass True per micro-batch) reaches the drop-and-recreate
    path.

    Spark builds this writer once for the query's tasks and again for
    each micro-batch's commit or abort, so the tasks' spool directory
    is known to a commit only through the spools it names. Each
    micro-batch's tasks make the directory and its commit or abort
    removes it; a task that outlives an aborted micro-batch can still
    leave its spool behind."""

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        import os
        import tempfile
        import uuid
        spool = os.path.join(tempfile.gettempdir(),
                             f"pg_spark_write_{uuid.uuid4().hex[:12]}")
        self._writer = PostgresScanWriter(schema, dict(options),
                                          overwrite, spool)

    def write(self, iterator):
        import os
        os.makedirs(self._writer.spool, exist_ok=True)
        return self._writer.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        self._writer.commit(messages)

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
        get_cond = getattr(exc, "getCondition", None) or \
            getattr(exc, "getErrorClass", None)
        cond = (get_cond() or "") if callable(get_cond) else ""
        msg = str(exc).lower()
        if ("ALREADY_EXISTS" not in cond
                and "already exists" not in msg
                and "already registered" not in msg):
            raise


class PostgresScanDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "postgres_scan"

    _udts: dict  # probed col → PG udt name (live-PG table scans only)

    def schema(self):
        self._udts = {}
        as_varchar = Settings.from_options(self.options).pg_array_as_varchar
        dsn = self.options.get("dsn", "")
        table = self.options.get("table", "")
        query = sql_body(self.options.get("query", ""))
        refuse_standin(dsn, "postgres_scan schema probe")
        from . import pgclient
        from .types import numeric_typmod, pg_type_to_spark
        if query:
            # result-set probe: run the query LIMIT 0 server-side and
            # read the cursor's result descriptor — the reference does
            # exactly this for postgres_query (src/postgres_query.cpp
            # PostgresQueryBind executes the user SQL and derives the
            # bind schema from the result set, not the table catalog),
            # so computed/expression columns type correctly
            probe = f"SELECT * FROM ({query}) _pg_spark_probe LIMIT 0"
            from .types import spark_type_from_oid
            with pgclient.connect(dsn) as con, con.cursor() as cur:
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
                                            scale=col.scale,
                                            array_as_varchar=as_varchar),
                        True)
                    for col in cur.description
                ])
        pg_schema = self.options.get("schema", "public")
        with pgclient.connect(dsn) as con, con.cursor() as cur:
            # information_schema probe — the reference reads the same
            # catalog via PGQuery (postgres_scanner.cpp GetColumnInfo)
            # attndims gives the DECLARED dimensionality so the probe
            # types int[][] as array<array<int>> — decode_array emits
            # nested lists for ndim>1 frames and the declared schema
            # must match (reference: postgres_utils.cpp
            # TypeToLogicalType walks the same catalog dims;
            # attach_existing_multidimensional_array.test). The typmod
            # is the column's, its element's for an array and its
            # base type's for a domain: it gives numeric(p,s)[] its
            # precision, which information_schema reports only for
            # scalars.
            cur.execute(
                "SELECT c.column_name, c.data_type, c.udt_name, "
                "CASE WHEN t.typtype = 'd' THEN t.typtypmod "
                "ELSE a.atttypmod END, COALESCE(a.attndims, 1) "
                "FROM information_schema.columns c "
                "JOIN pg_catalog.pg_class pc ON pc.relname = c.table_name "
                "JOIN pg_catalog.pg_namespace pn "
                "  ON pn.oid = pc.relnamespace "
                " AND pn.nspname = c.table_schema "
                "JOIN pg_catalog.pg_attribute a "
                "  ON a.attrelid = pc.oid "
                " AND a.attname = c.column_name "
                "JOIN pg_catalog.pg_type t ON t.oid = a.atttypid "
                "WHERE c.table_schema = %s AND c.table_name = %s "
                "ORDER BY c.ordinal_position", (pg_schema, table))
            fields = []
            for name, dtyp, udt, typmod, ndims in cur.fetchall():
                prec, scale = numeric_typmod(typmod)
                if dtyp == "ARRAY":
                    dt = pg_type_to_spark(udt.lstrip("_"),
                                          precision=prec, scale=scale,
                                          array_dims=max(ndims, 1),
                                          array_as_varchar=as_varchar)
                else:
                    dt = pg_type_to_spark(
                        udt or dtyp, precision=prec, scale=scale)
                self._udts[name] = (udt or dtyp or "").lower()
                fields.append(T.StructField(name, dt, True))
        if not fields:
            raise ValueError(
                f"table {pg_schema}.{table} not found on remote server")
        return T.StructType(fields)

    def _reader_options(self) -> dict:
        """The options with the schema probe's udts (udts JSON)."""
        import json
        opts = dict(self.options)
        udts = getattr(self, "_udts", {})
        if udts:
            opts["udts"] = json.dumps(udts)
        return opts

    def reader(self, schema: T.StructType) -> PostgresScanReader:
        refuse_standin(self.options.get("dsn", ""),
                       "postgres_scan batch read")
        return PostgresScanReader(schema, self._reader_options())

    def writer(self, schema: T.StructType,
               overwrite: bool) -> PostgresScanWriter:
        return PostgresScanWriter(schema, self.options, overwrite)

    def streamReader(
            self, schema: T.StructType
    ) -> PostgresScanPartitionedStreamReader:
        return PostgresScanPartitionedStreamReader(
            schema, self._reader_options())

    def streamWriter(self, schema: T.StructType,
                     overwrite: bool) -> PostgresScanStreamWriter:
        return PostgresScanStreamWriter(schema, self.options, overwrite)
