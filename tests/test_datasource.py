"""End-to-end tests of the postgres_scan Python DataSource.

The Postgres behaviours — partition decomposition over ctid ranges,
pushdown, null semantics, nested arrays and every write — run against
the live scratch server (tests/conftest.py `pg_server`), as the
reference runs test/sql/scanner/* against a live PG; so do the
catalog's attach and `pg_query`. The `duckdb://` stand-in keeps the
tests of its one use, the stream the registry's e16 query reads
through, and of its refusal of every other use. A few tests swap
`pgclient.connect` for a stub to pin what the package does without
a server: a failing page probe, probe-connection close errors."""

import duckdb
import pytest

from pyspark.sql import functions as F

from postgres_scanner_spark.settings import SETTINGS


def _items(pg, table="ds_items"):
    """A live table of 10,000 rows."""
    pg.cursor().execute(f"""
        CREATE TABLE IF NOT EXISTS {table} AS
        SELECT i::int8 AS id, 'name_' || (i % 100) AS name,
               (i % 7) * 1.5 AS price,
               CASE WHEN i % 10 = 0 THEN NULL ELSE i % 50 END AS bucket
        FROM generate_series(0, 9999) i
    """)


def _scan(spark, dsn, table="ds_items", **opts):
    r = (spark.read.format("postgres_scan")
         .option("dsn", dsn).option("table", table))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_full_scan_schema_and_count(registered, pg, pg_server):
    _items(pg)
    df = _scan(registered, pg_server)
    assert df.count() == 10000
    assert [f.name for f in df.schema.fields] == ["id", "name", "price", "bucket"]


def test_partitioned_scan_matches(registered, pg, pg_server):
    # 79 approx pages at pages_per_task=10 → 7 ctid-range tasks
    _items(pg)
    df = _scan(registered, pg_server, approx_pages="79")
    assert df.count() == 10000
    df2 = _scan(registered, pg_server, approx_pages="79",
                pg_pages_per_task="10")
    assert df2.rdd.getNumPartitions() > 1
    assert df2.count() == 10000            # disjoint page ranges, no loss
    assert df2.agg(F.sum("id")).collect()[0][0] == sum(range(10000))


def test_filter_pushdown_results(registered, pg, pg_server):
    _items(pg)
    df = _scan(registered, pg_server).filter(
        (F.col("id") >= 100) & (F.col("id") < 200)
        & F.col("bucket").isNotNull())
    rows = df.collect()
    expect = [i for i in range(100, 200) if i % 10 != 0]
    assert sorted(r.id for r in rows) == expect


def test_null_semantics_through_source(registered, pg, pg_server):
    _items(pg)
    df = _scan(registered, pg_server)
    n_null = df.filter(F.col("bucket").isNull()).count()
    assert n_null == 1000


def test_attach_live_backend(registered, pg, pg_server, tmp_path):
    """ATTACH a live Postgres: the attach is lazy and registers no
    views; the attached schema's table lists, scans through the
    postgres_scan connector, answers SQL through pg_query, and
    copy_database snapshots it into a store (reference:
    attach_simple.test + attach_copy_from_database.test)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_query
    from postgres_scanner_spark.storage import ManagedStore
    pg.cursor().execute("CREATE SCHEMA IF NOT EXISTS ds_attach")
    _items(pg, "ds_attach.items")
    cat = Catalog(registered)
    db = cat.attach(pg_server, alias="pgdb", schema="ds_attach")
    assert db.views == []
    assert cat.list_tables("pgdb") == ["items"]
    items = cat.table("pgdb", "items")
    assert items.count() == 10000
    assert items.filter(F.col("bucket").isNull()).count() == 1000
    n = pg_query(cat, "pgdb", "SELECT COUNT(*) AS n FROM ds_attach.items "
                 "WHERE bucket IS NULL").collect()[0].n
    assert n == 1000
    store = ManagedStore(registered, str(tmp_path / "migrated"))
    copied = cat.copy_database("pgdb", store)
    assert copied == ["items"]
    assert store.scan("items").count() == 10000
    cat.detach("pgdb")


def test_database_size_on_live_attach(registered, pg, pg_server):
    """postgres_database_size parity: a live attach reports the
    server's pg_database_size of the attached database."""
    from postgres_scanner_spark.catalog import Catalog
    cat = Catalog(registered)
    cat.attach(pg_server, alias="sz")
    cur = pg.cursor()

    def server_size():
        cur.execute("SELECT pg_database_size('postgres')")
        return cur.fetchone()[0]
    before = server_size()
    got = cat.database_size("sz")
    after = server_size()
    assert min(before, after) <= got <= max(before, after)
    assert got > 0
    cat.detach("sz")


def test_relation_reuse_no_filter_leak(registered, pg, pg_server):
    """A filtered query must not poison later full scans of the same
    load() relation (catalog path: pushdown disabled ⇒ Spark filters
    post-scan; results stay correct under reuse)."""
    _items(pg)
    df = _scan(registered, pg_server,
               pg_experimental_filter_pushdown="false")
    assert df.count() == 10000
    assert df.filter(F.col("bucket").isNull()).count() == 1000
    assert df.count() == 10000    # unchanged after the filtered query


def test_bare_scan_takes_settings_as_options(registered, pg, pg_server):
    """A direct read takes each setting as an option of its own name,
    parsed in the worker that plans the scan: 1,024 approx pages at
    pg_pages_per_task=100 plan 10 tasks, pg_connection_limit=2 caps
    them at 2, pg_use_ctid_scan=false plans 1, and an unknown pg_*
    option fails the load, naming it."""
    _items(pg)

    def n_parts(**opts):
        return _scan(registered, pg_server, approx_pages="1024",
                     pg_pages_per_task="100",
                     **opts).rdd.getNumPartitions()
    assert n_parts() == 10
    assert n_parts(pg_connection_limit="2") == 2
    assert n_parts(pg_use_ctid_scan="false") == 1
    with pytest.raises(Exception, match="pg_pages_per_tsk"):
        _scan(registered, pg_server, pg_pages_per_tsk="5")


def test_binary_copy_option_fails_the_load(registered, pg, pg_server):
    """A scan always reads COPY binary, so pg_use_binary_copy is not a
    scan option: the load fails and says why."""
    _items(pg)
    with pytest.raises(Exception, match="always reads and writes COPY"):
        _scan(registered, pg_server, pg_use_binary_copy="false")


def test_session_binary_copy_setting_keeps_catalog_reads(registered, pg,
                                                         pg_server):
    """The driver-only setting stays on the driver: after a session SET,
    Catalog.table passes no pg_use_binary_copy option and still
    reads."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.settings import SETTINGS
    _items(pg)
    cat = Catalog(registered)
    cat.attach(pg_server, alias="bincopy")
    SETTINGS.set("pg_use_binary_copy", False)
    try:
        assert SETTINGS.scan_options() == {}
        assert cat.table("bincopy", "ds_items").count() == 10000
    finally:
        SETTINGS.reset()
        cat.detach("bincopy")


def test_duckdb_standin_refuses_all_but_the_stream(registered, tmp_path):
    """The duckdb:// stand-in serves e16's stream only: a schema probe,
    a batch read with a declared schema, a write, ATTACH and CALL
    postgres_attach each raise one ValueError at their first call,
    naming the stand-in and its one use. CALL postgres_attach raises
    before it replaces the attach that holds the alias it derives."""
    from pyspark.sql import types as T
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.pg_datasource import PostgresScanDataSource
    from postgres_scanner_spark.queryfn import execute_statement
    db = str(tmp_path / "ev.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT 1::BIGINT AS id")
    con.close()
    dsn = f"duckdb://{db}"
    refusal = ("the duckdb:// stand-in is read-only and serves one use, "
               "e16's stream")
    schema = T.StructType([T.StructField("id", T.LongType())])
    ds = PostgresScanDataSource({"dsn": dsn, "schema": "main",
                                 "table": "t"})
    for call in (ds.schema, lambda: ds.reader(schema),
                 lambda: ds.writer(schema, False),
                 lambda: ds.streamWriter(schema, False)):
        with pytest.raises(ValueError, match=refusal):
            call()
    load = (registered.read.format("postgres_scan").option("dsn", dsn)
            .option("schema", "main").option("table", "t"))
    with pytest.raises(Exception, match=refusal):
        load.load()
    with pytest.raises(Exception, match=refusal):
        load.schema(schema).load().collect()
    cat = Catalog(registered)
    with pytest.raises(ValueError, match=refusal):
        cat.attach(dsn, alias="d")
    assert cat.attached == {}
    held = cat.attach("host=h dbname=x", alias="pg")   # lazy: no connect
    with pytest.raises(ValueError, match=refusal):
        execute_statement(
            cat, f"CALL postgres_attach('{dsn}', overwrite=true)")
    assert cat.attached == {"pg": held}


def test_array_as_varchar_rejected_by_duckdb_standin(registered, tmp_path):
    """The duckdb:// stand-in has no Postgres array text form and no
    schema probe: under pg_array_as_varchar a batch load of a table,
    with or without an array column, raises the stand-in's refusal.
    A stream with a declared schema reads the array-free table as
    before."""
    from pyspark.sql import types as T
    db = str(tmp_path / "arr.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE a AS SELECT 1::BIGINT AS id, [1, 2] AS xs")
    con.execute("CREATE TABLE b AS SELECT 1::BIGINT AS id, 'x' AS s")
    con.close()
    dsn = f"duckdb://{db}"

    def reader(table, stream=False):
        r = registered.readStream if stream else registered.read
        return (r.format("postgres_scan").option("dsn", dsn)
                .option("schema", "main").option("table", table)
                .option("pg_array_as_varchar", "true"))

    for table in ("a", "b"):
        with pytest.raises(Exception,
                           match="schema probe: the duckdb:// stand-in"):
            reader(table).load()
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("s", T.StringType())])
    q = (reader("b", stream=True).schema(schema)
         .option("stream_key", "id").load()
         .writeStream.format("memory").queryName("standin_arr_b")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert [tuple(r) for r in
            registered.table("standin_arr_b").collect()] == [(1, "x")]


def test_duckdb_standin_rejects_non_plain_types(tmp_path):
    """The stand-in types no column: a table with an ENUM, UBIGINT,
    TIME, INTERVAL, STRUCT or MAP column fails its schema probe with
    the stand-in's refusal, before any column is read."""
    from postgres_scanner_spark.pg_datasource import PostgresScanDataSource
    db = str(tmp_path / "exotic.db")
    con = duckdb.connect(db)
    con.execute("CREATE TYPE mood AS ENUM ('sad', 'ok')")
    cols = {"e": "mood", "u": "UBIGINT", "tm": "TIME", "iv": "INTERVAL",
            "st": "STRUCT(a INTEGER)", "mp": "MAP(VARCHAR, INTEGER)",
            "ua": "UBIGINT[]"}
    for name, typ in cols.items():
        con.execute(f"CREATE TABLE t_{name} (id BIGINT, {name} {typ})")
    con.close()
    for name in cols:
        ds = PostgresScanDataSource({"dsn": f"duckdb://{db}",
                                     "table": f"t_{name}"})
        with pytest.raises(ValueError,
                           match="schema probe: the duckdb:// stand-in "
                                 "is read-only"):
            ds.schema()


def test_duckdb_standin_write_raises(registered, tmp_path):
    """The stand-in is read-only: a batch or stream write to a
    duckdb:// DSN raises when Spark builds the writer, naming the
    stand-in, and makes no spool directory."""
    from pyspark.sql import types as T
    from postgres_scanner_spark.pg_datasource import PostgresScanDataSource
    dsn = f"duckdb://{tmp_path / 'w.db'}"
    before = _spool_dirs()
    with pytest.raises(Exception, match="duckdb:// stand-in is read-only"):
        (registered.range(3).write.format("postgres_scan")
         .option("dsn", dsn).option("table", "t").mode("append").save())
    ds = PostgresScanDataSource({"dsn": dsn, "table": "t"})
    schema = T.StructType([T.StructField("id", T.LongType())])
    for build in (ds.writer, ds.streamWriter):
        with pytest.raises(ValueError, match="duckdb:// stand-in"):
            build(schema, False)
    assert _spool_dirs() - before == set()


def test_duckdb_standin_reads_e16_shape(registered, tmp_path):
    """The registry's e16 reads a bigint/varchar/double table through
    the stand-in as a stream with a declared schema."""
    from pyspark.sql import types as T
    db = str(tmp_path / "ev.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE events AS SELECT range AS event_id, "
                "'t' || (range % 3) AS event_type, "
                "CAST(range * 0.5 AS DOUBLE) AS value "
                "FROM range(30)")
    con.close()
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType())])
    q = (registered.readStream.format("postgres_scan").schema(schema)
         .option("dsn", f"duckdb://{db}").option("schema", "main")
         .option("table", "events")
         .option("stream_key", "event_id").load()
         .writeStream.format("memory").queryName("standin_e16")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = sorted(tuple(r) for r in
                 registered.table("standin_e16").collect())
    assert got == [(i, f"t{i % 3}", i * 0.5) for i in range(30)]


def test_pushdown_option_leaves_filter_to_spark(registered, pg, pg_server):
    """pg_experimental_filter_pushdown=false keeps a Filter above the
    BatchScan; by default the DataSource takes the filter and Spark
    drops it."""
    _items(pg)

    def plan(**opts):
        df = _scan(registered, pg_server, **opts).filter(F.col("id") < 10)
        assert df.count() == 10
        return df._jdf.queryExecution().executedPlan().toString()
    off = plan(pg_experimental_filter_pushdown="false")
    assert "Filter (" in off
    assert off.index("Filter (") < off.index("BatchScan")
    assert "Filter (" not in plan()


def test_debug_show_queries_reach_driver_stderr(pg, pg_server):
    """pg_debug_show_queries logs each task's SQL in the Python worker
    that plans the scan. A child process runs a two-task scan with
    pushdown off under a filter: both task SQLs, with no pushed WHERE,
    reach its stderr."""
    import subprocess
    import sys
    from pathlib import Path
    from postgres_scanner_spark.pg_datasource import PostgresScanDataSource
    _items(pg)
    opts = {"dsn": pg_server, "table": "ds_items",
            "approx_pages": "2", "pg_pages_per_task": "1",
            "pg_experimental_filter_pushdown": "false",
            "pg_debug_show_queries": "true"}
    ds = PostgresScanDataSource(opts)
    want = [t.sql for t in ds.reader(ds.schema()).partitions()]
    assert len(want) == 2 and all("ctid" in w for w in want)
    script = (
        "from postgres_scanner_spark import get_spark\n"
        "from postgres_scanner_spark.pg_datasource import "
        "ensure_registered\n"
        "spark = get_spark(cpus=2)\n"
        "ensure_registered(spark)\n"
        f"df = spark.read.format('postgres_scan').options(**{opts!r})"
        ".load()\n"
        "print('ROWS', df.filter('id < 10').count())\n"
        "spark.stop()\n")
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, timeout=600,
                         cwd=Path(__file__).resolve().parents[1])
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ROWS 10" in out.stdout
    lines = [ln for ln in out.stderr.splitlines() if "pg scan " in ln]
    for sql in want:
        assert any(ln.endswith(f"pg scan {sql}") for ln in lines), lines
    assert not any('"id" < 10' in ln for ln in lines), lines


def test_write_takes_null_byte_replacement_option(registered, pg_server):
    """The writer runs in a Python worker: pg_null_byte_replacement
    reaches it as an option, not through the driver's SETTINGS. The
    failed write leaves no spool behind."""
    df = registered.createDataFrame([(1, "a\x00b")], "id BIGINT, s STRING")
    before = _spool_dirs()

    def write(**opts):
        w = (df.write.format("postgres_scan")
             .option("dsn", pg_server).option("table", "ds_nul"))
        w.options(**opts).mode("overwrite").save()
    with pytest.raises(Exception, match="pg_null_byte_replacement"):
        write()
    write(pg_null_byte_replacement="X")
    assert _scan(registered, pg_server, table="ds_nul").collect()[0].s \
        == "aXb"
    assert _spool_dirs() - before == set()


def test_pg_query_passthrough_live(registered, pg, pg_server):
    """postgres_query parity: the attached server executes the SQL
    text; Spark scans the result (reference: postgres_query.cpp)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_query
    _items(pg)
    cat = Catalog(registered)
    cat.attach(pg_server, alias="q", register_views=False)
    df = pg_query(cat, "q",
                  "SELECT bucket, COUNT(*) AS n FROM ds_items "
                  "WHERE bucket IS NOT NULL GROUP BY bucket ORDER BY bucket")
    rows = df.collect()
    # i%50 for i not divisible by 10 → 0..49 minus {0,10,20,30,40} = 45
    assert len(rows) == 45
    assert all(r.n > 0 for r in rows)
    cat.detach("q")


def test_query_mode_runs_the_statement_body(registered, pg, pg_server):
    """A `query` scan wraps the statement without the `;` and comments
    around it, in its schema probe and its task alike, and pg_query
    decides SELECT-ness on that body (reference: postgres_query.cpp
    hands the text to Postgres's lexer)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_query
    for query in ("SELECT 1 AS a;", "SELECT 1 AS a -- note",
                  "/* it's; */ SELECT 1 AS a; -- done"):
        df = (registered.read.format("postgres_scan")
              .option("dsn", pg_server).option("query", query).load())
        assert [tuple(r) for r in df.collect()] == [(1,)], query
    cat = Catalog(registered)
    cat.attach(pg_server, alias="qb", register_views=False)
    for query in ("-- header\nSELECT 1 AS a", "SELECT 1 AS a; -- done"):
        assert [r.a for r in pg_query(cat, "qb", query).collect()] == [1]
    with pytest.raises(ValueError, match="must be a SELECT"):
        pg_query(cat, "qb", "-- SELECT\nDROP TABLE ds_items")
    cat.detach("qb")


def test_pg_query_streams_on_executors(registered, pg, pg_server):
    """pg_query must route through the postgres_scan DataSource (no
    driver-side to_pandas materialization) and survive results larger
    than one Arrow batch."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyReader
    from postgres_scanner_spark.queryfn import pg_query
    n = VectorBinaryCopyReader._CHUNK + 10_000   # > one Arrow batch
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS ds_wide")
    cur.execute("CREATE TABLE ds_wide AS SELECT i::int8 AS id "
                f"FROM generate_series(0, {n - 1}) i")
    cat = Catalog(registered)
    cat.attach(pg_server, alias="qs", register_views=False)
    df = pg_query(cat, "qs", "SELECT id, id * 2 AS dbl FROM ds_wide")
    # must be a DataSource relation — a regression back to driver-side
    # to_pandas materialization would plan as LocalRelation/LogicalRDD
    plan = df._jdf.queryExecution().logical().toString()
    assert "DataSource" in plan or "postgres_scan" in plan, plan[:500]
    assert "LocalRelation" not in plan and "LogicalRDD" not in plan, \
        plan[:500]
    assert df.count() == n
    assert df.agg(F.sum("dbl")).collect()[0][0] == 2 * sum(range(n))
    cat.detach("qs")


def _compound(spark, pg, dsn):
    """A live table with a composite column and a 2-D array column."""
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS ds_compound")
    cur.execute("DROP TYPE IF EXISTS ds_info")
    cur.execute("CREATE TYPE ds_info AS "
                "(name text, score numeric, tags int8[])")
    cur.execute("CREATE TABLE ds_compound "
                "(id int8, info ds_info, grid int8[][])")
    cur.execute("INSERT INTO ds_compound SELECT i, "
                "ROW('n' || i, i * 1.5, ARRAY[i, i + 1])::ds_info, "
                "ARRAY[[i, i + 1], [i + 2, i + 3]] "
                "FROM generate_series(0, 99) i")
    return _scan(spark, dsn, table="ds_compound")


def test_struct_and_nested_array_through_connector(registered, pg,
                                                   pg_server):
    """N-dim array → nested list through the scan connector
    (reference: postgres_utils.cpp TypeToLogicalType;
    attach_existing_multidimensional_array.test). The composite half
    is test_composite_column_reads_as_struct."""
    df = _compound(registered, pg, pg_server)
    from pyspark.sql import types as T
    grid_t = df.schema["grid"].dataType
    assert isinstance(grid_t, T.ArrayType)
    assert isinstance(grid_t.elementType, T.ArrayType)
    rows = df.filter(F.col("id") == 3).collect()
    assert rows[0].grid == [[3, 4], [5, 6]]


@pytest.mark.xfail(strict=True, reason=(
    "live Postgres reads a composite column as its text form, "
    "'(n3,4.5,\"{3,4}\")', not as the STRUCT the reference reads "
    "(attach_types_struct.test)"))
def test_composite_column_reads_as_struct(registered, pg, pg_server):
    """PG composite → struct through the scan connector (reference:
    postgres_utils.cpp TypeToLogicalType; attach_types_struct.test)."""
    df = _compound(registered, pg, pg_server)
    from pyspark.sql import types as T
    info_t = df.schema["info"].dataType
    assert isinstance(info_t, T.StructType)
    assert [f.name for f in info_t.fields] == ["name", "score", "tags"]
    assert isinstance(info_t["tags"].dataType, T.ArrayType)
    rows = df.filter(F.col("id") == 3).collect()
    assert rows[0].info.name == "n3"
    # struct field access + filter through Spark SQL
    assert df.filter(F.col("info.score") > 100).count() == \
        sum(1 for i in range(100) if i * 1.5 > 100)


def test_geometry_columns_decode_by_udt_not_spark_type():
    """Geometry columns surface as Struct/Array(Double) Spark types,
    which are ambiguous (composite? float8[]?). The probed PG udt
    must drive BOTH the wire OID and the cast suppression so the
    native send format arrives and decodes (regression: point columns
    crashed utf-8 decode; box columns generated invalid ::float8[]
    server casts)."""
    import json
    import struct
    from pyspark.sql import types as T
    from postgres_scanner_spark import types as pgt
    from postgres_scanner_spark.pg_datasource import PostgresScanReader
    from postgres_scanner_spark.pgwire import BinaryCopyReader
    from postgres_scanner_spark.types import wire_layout

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("p", T.StructType([
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType())])),
        T.StructField("b", T.ArrayType(T.DoubleType())),
        T.StructField("fs", T.ArrayType(T.DoubleType())),  # real float8[]
    ])
    udts = {"p": "point", "b": "box"}
    r = PostgresScanReader(schema, {
        "dsn": "host=h dbname=d", "table": "t",
        "udts": json.dumps(udts)})
    # cast: geometry ships native; the true array still casts
    assert r._col_cast(schema["p"]) == ""
    assert r._col_cast(schema["b"]) == ""
    assert r._col_cast(schema["fs"]) == "::float8[]"
    # the OID/array-col derivation _read_live_pg performs
    oids, _, _, array_cols = wire_layout(schema, udts)
    assert oids == [pgt.INT8OID, pgt.POINTOID, pgt.BOXOID, 0]
    assert array_cols == {3}
    # and the wire decode of a full row in those native formats
    from tests.test_pgwire import _field, _header, TRAILER
    row = (struct.pack("!h", 4)
           + _field(struct.pack("!q", 7))
           + _field(struct.pack("!dd", 1.0, 2.0))
           + _field(struct.pack("!4d", 2.0, 2.0, 0.0, 0.0))
           + _field(struct.pack("!iii", 1, 0, pgt.FLOAT8OID)
                    + struct.pack("!ii", 2, 1)
                    + struct.pack("!i", 8) + struct.pack("!d", 0.5)
                    + struct.pack("!i", 8) + struct.pack("!d", 1.5)))
    stream = _header() + row + TRAILER
    import io
    reader = BinaryCopyReader(oids, array_cols)
    rows = list(reader.read(io.BytesIO(stream)))
    assert rows == [(7, {"x": 1.0, "y": 2.0},
                     [2.0, 2.0, 0.0, 0.0], [0.5, 1.5])]


def _spy(monkeypatch, cls, name, log):
    """Record the SQL passed to pgclient `cls.name`, then run it."""
    real = getattr(cls, name)

    def spy(self, sql, *args):
        log.append(sql)
        return real(self, sql, *args)
    monkeypatch.setattr(cls, name, spy)


def test_live_read_issues_binary_copy(monkeypatch, pg, pg_server):
    """The live-scan method against the server: it issues
    `COPY (task SQL) TO STDOUT (FORMAT binary)`, and the frames
    decode into Arrow batches typed to the declared schema, NULLs
    included (reference: postgres_connection.cpp BeginCopyTo +
    postgres_binary_reader.hpp). The decoder's walk over ragged
    chunks is pinned by test_pgwire's `_check_vector`."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema
    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.pg_datasource import PostgresScanReader

    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS rd_t")
    cur.execute("CREATE TABLE rd_t (id int4, name text, v float8)")
    cur.execute("INSERT INTO rd_t VALUES (1, 'alice', 1.5), "
                "(2, NULL, -2.25)")
    issued = []
    _spy(monkeypatch, pgclient.Cursor, "copy", issued)
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ])
    r = PostgresScanReader(schema, {"dsn": pg_server, "table": "rd_t"})
    sql = 'SELECT "id", "name", "v" FROM "public"."rd_t" ORDER BY "id"'
    out = list(r._read_live_pg(sql))
    assert all(b.schema == to_arrow_schema(schema) for b in out)
    assert [tuple(row.values()) for b in out for row in b.to_pylist()] \
        == [(1, "alice", 1.5), (2, None, -2.25)]
    assert issued == [f"COPY ({sql}) TO STDOUT (FORMAT binary)"]


def test_write_datasource_roundtrip(registered, pg, pg_server):
    """df.write.format('postgres_scan') → live Postgres → read back
    through the same DataSource: append/overwrite modes, values and
    types preserved across the PGCOPY spool (reference:
    postgres_copy_to.cpp — inserts travel as binary COPY)."""
    spark = registered
    df = (spark.range(50)
          .select(F.col("id"),
                  (F.col("id") * 1.5).alias("v"),
                  F.concat(F.lit("r"), F.col("id")).alias("s"),
                  F.lit("2024-03-01").cast("date").alias("d"),
                  F.lit("2024-03-01 12:30:45").cast("timestamp_ntz")
                  .alias("ts")))

    def write(frame, mode):
        (frame.write.format("postgres_scan").option("dsn", pg_server)
         .option("table", "ds_tgt").mode(mode).save())
    pg.cursor().execute("DROP TABLE IF EXISTS ds_tgt")
    write(df, "append")
    back = _scan(spark, pg_server, table="ds_tgt")
    assert back.count() == 50
    got = {tuple(r) for r in back.collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want
    # overwrite replaces, append accumulates — transactionally
    write(df.filter("id < 10"), "overwrite")
    assert _scan(spark, pg_server, table="ds_tgt").count() == 10
    write(df.filter("id >= 45"), "append")
    assert _scan(spark, pg_server, table="ds_tgt").count() == 15


def test_live_query_schema_probe_types_result(monkeypatch, pg,
                                              pg_server):
    """query mode over a live libpq DSN derives its schema from a
    server-side `SELECT * FROM (sql) q LIMIT 0` result descriptor —
    the reference's PostgresQueryBind approach (src/postgres_query.cpp
    binds from the executed query's result set, not the table
    catalog) — so computed/aggregate columns type correctly with no
    explicit .schema(), and a trailing `;` does not break the
    wrap."""
    from pyspark.sql import types as T
    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.pg_datasource import (
        PostgresScanDataSource,
    )

    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS qp_t")
    cur.execute("DROP TYPE IF EXISTS qp_mood")
    cur.execute("CREATE TYPE qp_mood AS ENUM ('ok', 'sad')")
    cur.execute("CREATE TABLE qp_t (id int8, x numeric(10,2), "
                "y float8, tags text[], mood qp_mood)")
    executed = []
    _spy(monkeypatch, pgclient.Cursor, "execute", executed)
    ds = PostgresScanDataSource(options={
        "dsn": pg_server,
        "query": "SELECT id, SUM(x)::numeric(12,2) AS total, "
                 "AVG(y) AS ratio, tags, mood FROM qp_t "
                 "GROUP BY id, tags, mood;  ",
    })
    schema = ds.schema()
    assert executed == [
        "SELECT * FROM (SELECT id, SUM(x)::numeric(12,2) AS total, "
        "AVG(y) AS ratio, tags, mood FROM qp_t GROUP BY id, tags, mood) "
        "_pg_spark_probe LIMIT 0"]
    assert schema == T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("total", T.DecimalType(12, 2), True),
        T.StructField("ratio", T.DoubleType(), True),
        T.StructField("tags", T.ArrayType(T.StringType(), True), True),
        T.StructField("mood", T.StringType(), True),  # enum→varchar
    ])


def test_live_write_commit_replaces_or_truncates(monkeypatch, pg,
                                                pg_server):
    """The live-PG commit path: partitions spool PGCOPY binary
    (executor half, run directly), then commit() replays each spool
    as COPY .. FROM STDIN (FORMAT binary) on one connection, and the
    rows read back exactly. Overwrite first asks the server whether
    the existing definition matches the wanted one (a temp table,
    compared by format_type): an absent or different table is dropped
    and re-created from the write schema before any COPY — binary
    COPY maps columns positionally, so a surviving table with a
    different column order, type or typmod would load mis-mapped or
    silently rounded rows — and a matching one is truncated, keeping
    its indexes, grants and views."""
    import os
    from decimal import Decimal
    from pyspark.sql import types as T
    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.pg_datasource import PostgresScanWriter

    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS wc_t")
    executed, copied = [], []
    _spy(monkeypatch, pgclient.Cursor, "execute", executed)
    _spy(monkeypatch, pgclient.Cursor, "copy", copied)
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("price", T.DecimalType(10, 2)),
        T.StructField("tags", T.ArrayType(T.IntegerType())),
    ])
    writers = []

    def writer():
        # a committed writer's spool directory is gone, as after a job
        writers.append(PostgresScanWriter(
            schema, {"dsn": pg_server, "table": "wc_t"}, overwrite=True))
        return writers[-1]

    def rows():
        cur.execute("SELECT id, price, tags FROM wc_t ORDER BY id")
        return cur.fetchall()
    w = writer()
    msgs = [w.write(iter([(1, Decimal("10.25"), [1, 2]),
                          (2, Decimal("-3.50"), [])])),
            w.write(iter([(3, None, None)]))]
    assert [m.n_rows for m in msgs] == [2, 1]
    w.commit(msgs)
    cols = '("id" int4, "price" numeric(10,2), "tags" int4[])'
    create_sql = f'CREATE TABLE IF NOT EXISTS "public"."wc_t" {cols}'
    # the wanted definition goes to the server as a temp table, which
    # the probe compares with the target
    assert executed[0] == ("CREATE TEMP TABLE pg_temp._pg_spark_want "
                           f"{cols} ON COMMIT DROP")
    assert executed[1].startswith("SELECT (SELECT array_agg((attname, "
                                  "format_type(atttypid, atttypmod))")
    assert executed[2:] == ['DROP TABLE IF EXISTS "public"."wc_t"',
                            create_sql]
    assert copied == ['COPY "public"."wc_t" FROM STDIN (FORMAT binary)'] * 2
    assert rows() == [(1, Decimal("10.25"), [1, 2]),
                      (2, Decimal("-3.50"), []), (3, None, None)]
    # overwrite onto a MATCHING existing definition TRUNCATEs
    executed.clear()
    w = writer()
    w.commit([w.write(iter([(9, None, None)]))])
    assert executed[2:] == ['TRUNCATE TABLE "public"."wc_t"', create_sql]
    assert rows() == [(9, None, None)]
    # same base types but a DIFFERENT typmod (numeric scale) must
    # NOT truncate: the surviving column would silently round values
    cur.execute("ALTER TABLE wc_t ALTER price TYPE numeric(10,3)")
    executed.clear()
    w = writer()
    w.commit([w.write(iter([(7, Decimal("1.25"), None)]))])
    assert executed[2] == 'DROP TABLE IF EXISTS "public"."wc_t"'
    assert rows() == [(7, Decimal("1.25"), None)]
    assert not any(os.path.exists(w.spool) for w in writers)


def test_writer_row_iterator_matches_scalar_codec():
    """Rows handed to PostgresScanWriter.write go through Arrow and the
    vectorized encoder; the spool is byte-identical to the scalar
    pgwire.BinaryCopyWriter oracle over the same rows."""
    import io
    import shutil
    from datetime import date, datetime, timezone
    from decimal import Decimal
    from pyspark.sql import types as T
    from postgres_scanner_spark.pg_datasource import PostgresScanWriter
    from postgres_scanner_spark.pgwire import BinaryCopyWriter
    from postgres_scanner_spark.types import wire_layout

    schema = T.StructType([T.StructField(n, t) for n, t in [
        ("b", T.BooleanType()), ("s", T.ShortType()),
        ("i", T.IntegerType()), ("l", T.LongType()),
        ("f", T.FloatType()), ("d", T.DoubleType()),
        ("m", T.DecimalType(12, 3)), ("t", T.StringType()),
        ("y", T.BinaryType()), ("dt", T.DateType()),
        ("ts", T.TimestampType()), ("ntz", T.TimestampNTZType()),
        ("a", T.ArrayType(T.IntegerType())),
        ("aa", T.ArrayType(T.ArrayType(T.StringType())))]])
    rows = [(True, -3, 7, 1 << 40, 1.5, -2.25, Decimal("-12.345"),
             "x\u00e9y", b"\x00\xff", date(1999, 12, 31),
             datetime(2024, 5, 6, 7, 8, 9, 123456, tzinfo=timezone.utc),
             datetime(1970, 1, 1, 0, 0, 1), [1, None, 3],
             [["a", "b"], ["c", None]]),
            (None,) * 14,
            (False, 0, 0, 0, 0.0, 0.0, Decimal("0.000"), "", b"",
             date(2000, 1, 1),
             datetime(2000, 1, 1, tzinfo=timezone.utc),
             datetime(2000, 1, 1), [], [])]
    w = PostgresScanWriter(schema, {"dsn": "host=x dbname=x", "table": "t"},
                           overwrite=False)
    msg = w.write(iter(rows))
    oids, array_elem, array_ndims, _ = wire_layout(schema)
    want = io.BytesIO()
    BinaryCopyWriter(oids, array_elem, array_ndims).write(want, rows)
    with open(msg.path, "rb") as fh:
        assert fh.read() == want.getvalue()
    assert msg.n_rows == 3
    assert w.write(iter([])).n_rows == 0
    shutil.rmtree(w.spool)

def test_write_overwrite_replaces_schema(registered, pg_server):
    """Overwrite must REPLACE the table definition: a pre-existing
    table with different column order/types must not survive and
    receive positionally mis-mapped rows."""
    spark = registered
    (spark.range(3).select(F.concat(F.lit("n"), F.col("id")).alias("a"),
                           F.col("id").alias("b"))
     .write.format("postgres_scan").option("dsn", pg_server)
     .option("table", "ds_ow").mode("overwrite").save())
    # overwrite with swapped column order and different types
    (spark.range(2).select(F.col("id").alias("b"),
                           F.concat(F.lit("x"), F.col("id")).alias("a"))
     .write.format("postgres_scan").option("dsn", pg_server)
     .option("table", "ds_ow").mode("overwrite").save())
    back = _scan(spark, pg_server, table="ds_ow")
    assert back.columns == ["b", "a"]
    assert {(r.b, r.a) for r in back.collect()} == {(0, "x0"), (1, "x1")}


def test_abort_then_write_raises_and_leaves_no_spool():
    """The spool directory is made when the writer is built, never by
    a task: a task that opens its spool after abort() removed the
    directory fails instead of leaving a file behind."""
    import os
    from pyspark.sql import types as T
    from postgres_scanner_spark.pg_datasource import PostgresScanWriter
    w = PostgresScanWriter(
        T.StructType([T.StructField("id", T.LongType())]),
        {"dsn": "host=x dbname=x", "table": "t"}, overwrite=False)
    assert os.path.isdir(w.spool)
    w.abort([None])
    with pytest.raises(FileNotFoundError):
        w.write(iter([(1,)]))
    assert not os.path.exists(w.spool)


def test_stream_reader_incremental_offsets(registered, tmp_path):
    """spark.readStream.format('postgres_scan'): run 1 drains the
    table, rows land in the source, run 2 resumes from the stream
    checkpoint and must read ONLY the new keys (CDC-style polling by
    monotonic key)."""
    import duckdb
    from pyspark.sql import types as T
    spark = registered
    db = str(tmp_path / "s.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev(id BIGINT, v VARCHAR)")
    con.execute("INSERT INTO ev SELECT range, 'a' || range FROM range(10)")
    con.close()
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run():
        q = (spark.readStream.format("postgres_scan").schema(schema)
             .option("dsn", f"duckdb://{db}").option("schema", "main")
             .option("table", "ev")
             .option("stream_key", "id").load()
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    run()
    assert spark.read.parquet(sink).count() == 10
    con = duckdb.connect(db)
    con.execute("INSERT INTO ev SELECT range + 10, 'b' || range FROM range(5)")
    con.close()
    run()
    out = spark.read.parquet(sink)
    assert out.count() == 15                      # nothing re-read
    assert out.filter("id >= 10").count() == 5    # new keys arrived


def _spool_dirs():
    import glob
    import tempfile
    return set(glob.glob(f"{tempfile.gettempdir()}/pg_spark_write_*"))


def test_stream_writer_end_to_end(registered, pg, pg_server, tmp_path):
    """The full streaming quadrant: postgres_scan streaming SOURCE →
    postgres_scan streaming SINK — rows poll out of one table by
    monotonic key and land in another via the per-batch PGCOPY
    spool-then-commit transaction."""
    from pyspark.sql import types as T
    spark = registered
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS ds_ev_src")
    cur.execute("DROP TABLE IF EXISTS ds_ev_dst")
    cur.execute("CREATE TABLE ds_ev_src AS "
                "SELECT g::int8 AS id FROM generate_series(0, 19) g")
    schema = T.StructType([T.StructField("id", T.LongType())])
    q = (spark.readStream.format("postgres_scan").schema(schema)
         .option("dsn", pg_server).option("table", "ds_ev_src")
         .option("stream_key", "id").load()
         .writeStream.format("postgres_scan")
         .option("dsn", pg_server).option("table", "ds_ev_dst")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    cur.execute("SELECT COUNT(*), SUM(id) FROM ds_ev_dst")
    assert tuple(cur.fetchone()) == (20, 190)


def test_stream_writer_spans_micro_batches(registered, pg, pg_server,
                                           tmp_path):
    """One streaming write of three micro-batches: every batch lands,
    and each batch's commit removes the spools its tasks wrote, so the
    query leaves no spool directory behind."""
    spark = registered
    src = tmp_path / "src"
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(
            str(src / f"part{i}"))
    before = _spool_dirs()
    q = (spark.readStream.schema("id BIGINT").option("maxFilesPerTrigger", 1)
         .parquet(str(src / "part*"))
         .writeStream.format("postgres_scan")
         .option("dsn", pg_server).option("table", "ds_ev_batches")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 3
    cur = pg.cursor()
    cur.execute("SELECT COUNT(*), SUM(id) FROM ds_ev_batches")
    assert tuple(cur.fetchone()) == (30, sum(range(30)))
    assert _spool_dirs() - before == set()


def test_stream_reader_rejects_non_integer_key(registered, tmp_path):
    """Offsets must JSON-serialize and splice into SQL safely — only
    integer stream keys are accepted."""
    import duckdb
    from pyspark.sql import types as T
    spark = registered
    db = str(tmp_path / "k.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev(name VARCHAR)")
    con.close()
    schema = T.StructType([T.StructField("name", T.StringType())])
    with pytest.raises(Exception, match="integer column"):
        (spark.readStream.format("postgres_scan").schema(schema)
         .option("dsn", f"duckdb://{db}").option("table", "ev")
         .option("stream_key", "name").load()
         .writeStream.format("memory").queryName("nk")
         .trigger(availableNow=True).start().awaitTermination(60))


def test_stream_reader_poll_cap(registered, tmp_path):
    """max_rows_per_poll bounds each database FETCH, not run
    coverage: a single availableNow run drains the whole backlog
    present at query start (the trigger's contract), pulling it in
    capped key-range scans — no rows lost or re-read."""
    import duckdb
    from pyspark.sql import types as T
    spark = registered
    db = str(tmp_path / "cap.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev AS SELECT range AS id FROM range(25)")
    con.close()
    schema = T.StructType([T.StructField("id", T.LongType())])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")

    q = (spark.readStream.format("postgres_scan").schema(schema)
         .option("dsn", f"duckdb://{db}").option("schema", "main")
         .option("table", "ev")
         .option("stream_key", "id")
         .option("max_rows_per_poll", "10").load()
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 25
    assert out.select("id").distinct().count() == 25


def test_call_postgres_attach_rejects_malformed_and_collision(
        registered, pg_server):
    """Malformed/positional CALL arguments raise instead of silently
    attaching the wrong surface, and a second CALL deriving the SAME
    alias (the DSN's dbname) for a DIFFERENT source errors without
    overwrite=true."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import execute_statement
    a = pg_server
    b = f"{pg_server} application_name=second"   # same dbname
    cat = Catalog(registered)
    with pytest.raises(ValueError, match="malformed postgres_attach"):
        execute_statement(cat, f"CALL postgres_attach('{a}', 'public')")
    execute_statement(cat, f"CALL postgres_attach('{a}')")
    # same source again: IF NOT EXISTS no-op
    execute_statement(cat, f"CALL postgres_attach('{a}')")
    with pytest.raises(ValueError, match="DIFFERENT source"):
        execute_statement(cat, f"CALL postgres_attach('{b}')")
    assert cat.attached["postgres"].source == a
    execute_statement(cat, f"CALL postgres_attach('{b}', overwrite=true)")
    assert cat.attached["postgres"].source == b
    cat.detach("postgres")


# ---------------------------------------------------------------------------
# Partitioned (executor-side) stream reader — S29's 100x path
# ---------------------------------------------------------------------------

def test_partitioned_stream_reader_slices():
    """partitions(start, end) must split a capped backlog into >1
    value-range slice (the property that moves row traffic off the
    driver), with exact coverage: slices tile (lo, hi] with no gap,
    no overlap, and duplicate-key groups never straddle a boundary."""
    from pyspark.sql import types as T
    from postgres_scanner_spark import pg_datasource as pgd

    schema = T.StructType([T.StructField("id", T.LongType())])
    r = pgd.PostgresScanPartitionedStreamReader(
        schema, {"dsn": "duckdb://ignored", "table": "ev",
                 "stream_key": "id", "max_rows_per_poll": "10"})
    # sparse keys + one duplicate run: 0..9, 1000..1004 (x2 each)
    keys = list(range(10)) + [k for k in range(1000, 1005) for _ in (0, 1)]

    probe_conns = []

    class FakeProbeConn:
        # the boundary walk must reuse ONE connection for all its
        # probes (ADVICE r7: per-probe connect/auth dominates a fresh
        # stream's initial backlog walk)
        def __init__(self, dsn):
            probe_conns.append(self)

        def exec(self, sql):
            # keyset boundary probe: one ORDER BY ... OFFSET n LIMIT 1
            # index walk per slice (cost ∝ slice count, not backlog)
            import re
            assert "OFFSET" in sql and "LIMIT 1" in sql
            m = re.search(r'> (\d+)', sql)
            lo = int(m.group(1)) if m else None
            off = int(re.search(r'OFFSET (\d+)', sql).group(1))
            ks = sorted(k for k in keys
                        if (lo is None or k > lo) and k <= 1004)
            return [(ks[off],)] if off < len(ks) else []

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    orig = pgd._ProbeConn
    pgd._ProbeConn = FakeProbeConn
    try:
        slices = r.partitions({"last_key": None}, {"last_key": 1004})
    finally:
        pgd._ProbeConn = orig
    assert len(probe_conns) == 1          # whole walk on one connection
    assert len(slices) > 1                       # >1 input partition
    assert slices[0].lo is None
    for a, b in zip(slices, slices[1:]):
        assert a.hi == b.lo                      # no gap, no overlap
    assert slices[-1].hi == 1004
    # every key lands in exactly one (lo, hi] slice
    for k in keys:
        owners = [s for s in slices
                  if (s.lo is None or k > s.lo) and k <= s.hi]
        assert len(owners) == 1


def test_partitioned_stream_reader_empty_and_uncapped(tmp_path):
    """start == end (or a stale max) plans zero partitions WITHOUT
    touching the source; with no explicit cap the default still
    SLICES (boundary probe against the source — a fresh stream's
    backlog must never plan as one unbounded slice), and
    max_rows_per_poll is the slice size."""
    import duckdb
    from pyspark.sql import types as T
    from postgres_scanner_spark import pg_datasource as pgd

    schema = T.StructType([T.StructField("id", T.LongType())])
    # empty-range cases never open a connection: a bogus dsn proves it
    r = pgd.PostgresScanPartitionedStreamReader(
        schema, {"dsn": "duckdb://ignored", "table": "ev",
                 "stream_key": "id"})
    assert r.max_rows == 1_000_000          # bounded default, never 0
    assert r.partitions({"last_key": 5}, {"last_key": 5}) == []
    assert r.partitions({"last_key": 9}, {"last_key": 7}) == []
    assert r.partitions({"last_key": None}, {"last_key": None}) == []
    db = str(tmp_path / "slice.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev AS SELECT range AS id FROM range(10)")
    con.close()
    r2 = pgd.PostgresScanPartitionedStreamReader(
        schema, {"dsn": f"duckdb://{db}", "schema": "main",
                 "table": "ev", "stream_key": "id"})
    (s1,) = r2.partitions({"last_key": 3}, {"last_key": 9})
    assert (s1.lo, s1.hi) == (3, 9)          # under the cap: one slice
    r3 = pgd.PostgresScanPartitionedStreamReader(
        schema, {"dsn": f"duckdb://{db}", "schema": "main",
                 "table": "ev",
                 "stream_key": "id", "max_rows_per_poll": "2"})
    assert r3.max_rows == 2
    parts = r3.partitions({"last_key": None}, {"last_key": 9})
    assert len(parts) == 5                   # 10 rows / 2 per slice
    # each slice reads as the batch scan's Arrow record batches
    got = [v for p_ in parts for b in r3.read(p_)
           for v in b.column("id").to_pylist()]
    assert got == list(range(10))


def test_partitioned_stream_reader_end_to_end(registered, tmp_path):
    """Streaming path e2e: a capped run drains the backlog via
    executor-side slices (no driver row funnel), and a second run
    resumes from the checkpoint with only the new keys."""
    import duckdb
    from pyspark.sql import types as T
    spark = registered
    db = str(tmp_path / "p.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev AS SELECT range AS id, "
                "'v' || range AS v FROM range(37)")
    con.close()
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")

    def run():
        q = (spark.readStream.format("postgres_scan").schema(schema)
             .option("dsn", f"duckdb://{db}").option("schema", "main")
             .option("table", "ev")
             .option("stream_key", "id")
             .option("max_rows_per_poll", "10")
             .load()
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    run()
    out = spark.read.parquet(sink)
    assert out.count() == 37
    assert out.select("id").distinct().count() == 37
    con = duckdb.connect(db)
    con.execute("INSERT INTO ev SELECT range + 37, 'n' || range "
                "FROM range(8)")
    con.close()
    run()                                    # resume from the checkpoint
    out = spark.read.parquet(sink)
    assert out.count() == 45                 # nothing re-read or lost
    assert out.filter("id >= 37").count() == 8


def _probe_reader(monkeypatch, connect):
    """A live-PG reader whose pgclient.connect() is `connect`."""
    from pyspark.sql import types as T
    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.pg_datasource import PostgresScanReader
    monkeypatch.setattr(pgclient, "connect", connect)
    return PostgresScanReader(
        T.StructType([T.StructField("id", T.IntegerType())]),
        {**SETTINGS.scan_options(), "dsn": "host=fake dbname=db",
         "table": "t"})


def test_page_probe_db_error_plans_one_task_and_logs(monkeypatch, caplog):
    """A database error in the pg_relation_size probe degrades to a
    single-task scan — and says so in the log, not silently."""
    from postgres_scanner_spark import pgclient

    def refuse(dsn):
        raise pgclient.Error({"M": "permission denied for table t"})
    r = _probe_reader(monkeypatch, refuse)
    with caplog.at_level("WARNING",
                         logger="postgres_scanner_spark.pg_datasource"):
        tasks = r.partitions()
    assert len(tasks) == 1 and "ctid" not in tasks[0].sql
    assert any("permission denied" in rec.getMessage()
               and "single-task" in rec.getMessage()
               for rec in caplog.records)


def test_page_probe_bug_propagates(monkeypatch):
    """Anything but a database or socket error is a bug: it propagates
    instead of quietly serializing the scan."""
    def broken(dsn):
        raise TypeError("unexpected keyword")
    r = _probe_reader(monkeypatch, broken)
    with pytest.raises(TypeError, match="unexpected keyword"):
        r.partitions()


def test_debug_show_queries_logs_reader_sql(monkeypatch, caplog):
    """A task's SQL is logged once, when it becomes a task (a stream
    slice's read builds its task the same way), not when rendered."""
    SETTINGS.set("pg_debug_show_queries", True)
    try:
        r = _probe_reader(monkeypatch, None)
        with caplog.at_level("WARNING",
                             logger="postgres_scanner_spark.pg_datasource"):
            sql = r._sql("id > 3")
            assert caplog.records == []
            assert r._task(sql).sql == sql
    finally:
        SETTINGS.set("pg_debug_show_queries", False)
    assert [rec.getMessage() for rec in caplog.records] == [f"pg scan {sql}"]
    assert sql.endswith("WHERE id > 3")


def test_debug_show_queries_logs_passthrough_sql(pg, pg_server, caplog):
    """A `query`-mode scan's one task logs its wrapped SQL, the same
    way a table scan's tasks do."""
    from postgres_scanner_spark.pg_datasource import PostgresScanDataSource
    _items(pg)
    query = "SELECT id, name FROM ds_items WHERE id < 5"
    ds = PostgresScanDataSource({"dsn": pg_server, "query": query,
                                 "pg_debug_show_queries": "true"})
    with caplog.at_level("WARNING",
                         logger="postgres_scanner_spark.pg_datasource"):
        (task,) = ds.reader(ds.schema()).partitions()
    assert task.sql.startswith("SELECT ")
    assert task.sql.endswith(f" FROM ({query}) AS q")
    assert [rec.getMessage() for rec in caplog.records] == [
        f"pg scan {task.sql}"]


def _probe_conn(monkeypatch, close):
    import types as pytypes
    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.pg_datasource import _ProbeConn
    con = pytypes.SimpleNamespace(close=close)
    monkeypatch.setattr(pgclient, "connect", lambda dsn: con)
    return _ProbeConn("host=fake dbname=db")


def test_probe_conn_close_db_error_is_logged(monkeypatch, caplog):
    from postgres_scanner_spark import pgclient

    def close():
        raise pgclient.Error({"M": "terminating connection"})
    with caplog.at_level("WARNING",
                         logger="postgres_scanner_spark.pg_datasource"):
        with _probe_conn(monkeypatch, close):
            pass
    assert any("terminating connection" in rec.getMessage()
               for rec in caplog.records)


def test_probe_conn_close_bug_propagates(monkeypatch):
    def close():
        raise TypeError("close() takes no arguments")
    with pytest.raises(TypeError, match="takes no arguments"):
        with _probe_conn(monkeypatch, close):
            pass
