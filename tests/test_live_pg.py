"""End-to-end tests against a REAL PostgreSQL server.

This container ships the server binaries (initdb/pg_ctl/postgres)
but no Python driver; the engine's live paths run over the vendored
pure-Python wire client (postgres_scanner_spark/pgclient.py). The
session-scoped `pg_server` fixture (tests/conftest.py) initdb's a
scratch cluster as the `postgres` system user, serves it on a private
unix socket, and tears it down.

Reference parity targets (the suites the reference runs against its
live server):
- test/sql/storage/attach_types.test — typed round-trip through the
  binary COPY scan
- test/sql/scanner/filter_pushdown.test — pushed WHERE evaluated
  remotely
- test/sql/misc/postgres_binary.test — binary COPY write + read-back
- src/postgres_scanner.cpp PrepareBind — parallel ctid-range scan
- src/postgres_query.cpp PostgresQueryBind — LIMIT-0 result-descriptor
  schema probe

Skips (never fails) when the server binaries or the postgres system
user are unavailable.
"""

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T


# The scan-path tests (typed scan, parallel ctid scan, pushdown,
# query-mode probe, stream reads, COPY OUT wire interop, mid-scan
# backend kill) run in the default tier: they pin the live
# Arrow-native read path. The rest of the connector surface is
# marked `slow` test by test. The server fixtures (`pg_server`, `pg`,
# `registered`) live in tests/conftest.py.


def _scan(spark, dsn, table, **opts):
    r = (spark.read.format("postgres_scan")
         .option("dsn", dsn).option("table", table))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


# ------------------------------------------------------- wire client
@pytest.mark.slow
def test_pgclient_roundtrip(pg):
    """The vendored client against a real backend: typed decode,
    parameters, transactions, errors."""
    cur = pg.cursor()
    cur.execute("SELECT 1::int2, 2::int4, 3::int8, 1.5::float4, "
                "2.5::float8, 'x'::text, true, NULL::text, "
                "'2024-06-01'::date, '12:30:00'::time, "
                "'2024-06-01 12:30:00'::timestamp, "
                "3.14::numeric(10,4), '\\xcafe'::bytea")
    row = cur.fetchone()
    from datetime import date, datetime, time
    from decimal import Decimal
    assert row == (1, 2, 3, 1.5, 2.5, "x", True, None,
                   date(2024, 6, 1), time(12, 30),
                   datetime(2024, 6, 1, 12, 30),
                   Decimal("3.1400"), b"\xca\xfe")
    # description carries OIDs + numeric typmod
    assert [c.type_code for c in cur.description][:3] == [21, 23, 20]
    assert (cur.description[11].precision,
            cur.description[11].scale) == (10, 4)
    # parameters are escaped as literals
    cur.execute("SELECT %s::text, %s::int, %s", ("it''s", 7, None))
    assert cur.fetchone() == ("it''s", 7, None)
    # server errors raise with the server's message text
    from postgres_scanner_spark.pgclient import Error
    with pytest.raises(Error, match="does_not_exist"):
        cur.execute("SELECT * FROM does_not_exist")
    # and the connection recovers
    cur.execute("SELECT 42")
    assert cur.fetchone() == (42,)


@pytest.mark.slow
def test_pgclient_transactions(pg_server):
    from postgres_scanner_spark import pgclient
    with pgclient.connect(pg_server) as con:
        con.cursor().execute("CREATE TABLE txt1 (v int)")
        con.cursor().execute("INSERT INTO txt1 VALUES (1)")
        # commit via context-manager exit
    con = pgclient.connect(pg_server)
    cur = con.cursor()
    cur.execute("INSERT INTO txt1 VALUES (2)")
    con.rollback()                      # explicit rollback discards
    cur.execute("SELECT count(*) FROM txt1")
    assert cur.fetchone() == (1,)
    con.close()


def test_live_dsn_options_and_application_name(registered, pg, pg_server):
    """The DSN's `options` and `application_name` reach the server in
    the startup packet, as libpq sends them: the session's search_path
    is the DSN's, so an unqualified name in a scan's query resolves
    where libpq would resolve it."""
    from postgres_scanner_spark import pgclient
    cur = pg.cursor()
    cur.execute("CREATE SCHEMA IF NOT EXISTS s1")
    cur.execute("DROP TABLE IF EXISTS s1.sp_t")
    cur.execute("CREATE TABLE s1.sp_t AS SELECT 7 AS x")
    dsn = pg_server + " options='-c search_path=s1' application_name=mine"
    with pgclient.connect(dsn) as con, con.cursor() as c:
        c.execute("SHOW search_path")
        assert c.fetchone() == ("s1",)
        c.execute("SELECT current_setting('application_name')")
        assert c.fetchone() == ("mine",)
    with pgclient.connect(pg_server) as con, con.cursor() as c:
        c.execute("SELECT current_setting('application_name')")
        assert c.fetchone() == ("postgres_scanner_spark",)
    df = (registered.read.format("postgres_scan").option("dsn", dsn)
          .option("query", "SELECT x FROM sp_t").load())
    assert [r.x for r in df.collect()] == [7]


def test_live_dsn_unknown_key_raises(pg_server):
    """A DSN key pgclient does not implement raises and names the key,
    instead of connecting and ignoring it."""
    from postgres_scanner_spark import pgclient
    for key in ("bogus_key=1", "target_session_attrs=read-only"):
        with pytest.raises(ValueError, match=key.split("=")[0]):
            pgclient.connect(f"{pg_server} {key}")


# ----------------------------------------------- typed scan (S2/S8)
def test_live_attach_types_scan(registered, pg, pg_server):
    """reference: test/sql/storage/attach_types.test — one column per
    wire family, scanned through the binary COPY DataSource path."""
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS all_types")
    cur.execute("""
        CREATE TABLE all_types (
          id int4, b bool, i2 int2, i8 int8, f4 float4, f8 float8,
          n numeric(12,3), vc varchar(20), tx text, d date,
          ts timestamp, tstz timestamptz, by bytea, u uuid,
          js json, ia int4[], ta text[])
    """)
    cur.execute("""
        INSERT INTO all_types VALUES
        (1, true, 7, 123456789012, 1.5, 2.25, 987.654, 'var', 'text',
         '2024-03-04', '2024-03-04 05:06:07',
         '2024-03-04 05:06:07+00', '\\x0102',
         'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11',
         '{"k": 1}', '{1,2,3}', '{"x","y"}'),
        (2, false, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
         NULL, NULL, NULL, NULL, NULL, NULL, NULL)
    """)
    df = _scan(registered, pg_server, "all_types")
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 2
    r1 = rows[1]
    assert (r1.b, r1.i2, r1.i8, r1.f4, r1.f8) == \
        (True, 7, 123456789012, 1.5, 2.25)
    from decimal import Decimal
    assert r1.n == Decimal("987.654")
    assert (r1.vc, r1.tx) == ("var", "text")
    assert str(r1.d) == "2024-03-04"
    assert str(r1.ts) == "2024-03-04 05:06:07"
    assert r1.by == b"\x01\x02"
    assert r1.u == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"
    assert "1" in r1.js
    assert list(r1.ia) == [1, 2, 3]
    assert list(r1.ta) == ["x", "y"]
    r2 = rows[2]
    assert r2.b is False and r2.i2 is None and r2.ia is None
    # the scan's column-wise decode of this very COPY, framed by the
    # server's CopyData messages, is Arrow-identical to the scalar
    # reader + PySpark's converters on every type family above
    from postgres_scanner_spark.pg_datasource import PostgresScanReader
    from postgres_scanner_spark.types import wire_layout
    from tests.test_pgwire import _oracle, assert_arrow_identical
    reader = PostgresScanReader(df.schema, {"dsn": pg_server,
                                            "table": "all_types"})
    sql = reader._sql("")
    with cur.copy(f"COPY ({sql}) TO STDOUT (FORMAT binary)") as cp:
        data = b"".join(cp)
    oids, _, _, array_cols = wire_layout(df.schema)
    assert_arrow_identical(reader._read_live_pg(sql), _oracle(
        oids, array_cols, df.schema, data))


@pytest.mark.slow
def test_live_schema_probe_catalog(registered, pg, pg_server):
    """The information_schema/pg_attribute probe types the scan
    without an explicit .schema() (reference: postgres_scanner.cpp
    GetColumnInfo)."""
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS probe_t")
    cur.execute("CREATE TABLE probe_t (a int4, b numeric(10,2), "
                "c text, d timestamptz, e float8[])")
    df = _scan(registered, pg_server, "probe_t")
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got == {"a": "int", "b": "decimal(10,2)", "c": "string",
                   "d": "timestamp", "e": "array<double>"}


def test_live_query_mode_limit0_probe(registered, pg, pg_server):
    """reference: src/postgres_query.cpp PostgresQueryBind — ad-hoc
    SQL typed from the LIMIT-0 result descriptor, computed columns
    included."""
    df = (registered.read.format("postgres_scan")
          .option("dsn", pg_server)
          .option("query",
                  "SELECT g AS id, g * 2.5 AS x, 'v' || g AS s "
                  "FROM generate_series(1, 100) g")
          .load())
    assert df.schema["id"].dataType.simpleString() == "int"
    # g * 2.5 is typmod-less numeric → double (same default as the
    # reference's TypeToLogicalType for unconstrained NUMERIC)
    assert df.schema["x"].dataType.simpleString() == "double"
    got = df.orderBy("id").limit(3).collect()
    assert [r.id for r in got] == [1, 2, 3]
    assert [r.s for r in got] == ["v1", "v2", "v3"]
    assert df.count() == 100


# ------------------------------------------ parallel ctid scan (S2)
def test_live_parallel_ctid_scan(registered, pg, pg_server):
    """reference: postgres_scanner.cpp PrepareBind — the scan
    self-sizes from pg_relation_size and decomposes into ctid-range
    tasks; every row arrives exactly once across partitions."""
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS big_t")
    cur.execute("CREATE TABLE big_t AS SELECT g AS id, "
                "repeat('x', 200) AS pad "
                "FROM generate_series(1, 20000) g")
    cur.execute("SELECT pg_relation_size('big_t') / "
                "current_setting('block_size')::int")
    pages = cur.fetchone()[0]
    assert pages > 10          # enough pages for multi-task split
    df = _scan(registered, pg_server, "big_t", pg_pages_per_task="100")
    assert df.rdd.getNumPartitions() > 1
    agg = df.agg(F.count("*").alias("n"),
                 F.sum("id").alias("s")).collect()[0]
    assert agg.n == 20000
    assert agg.s == 20000 * 20001 // 2


# -------------------------------------------- filter pushdown (S3)
def test_live_filter_pushdown(registered, pg, pg_server):
    """reference: filter_pushdown.test — the pushed predicate is
    evaluated by the SERVER (verified via pg_stat_statements-free
    proxy: the result is correct AND the scan's rendered SQL carries
    the WHERE — checked through the debug hook)."""
    from postgres_scanner_spark.settings import SETTINGS
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS push_t")
    cur.execute("CREATE TABLE push_t AS SELECT g AS id, g % 10 AS m, "
                "'n' || g AS name FROM generate_series(1, 1000) g")
    old = SETTINGS.pg_experimental_filter_pushdown
    SETTINGS.pg_experimental_filter_pushdown = True
    try:
        df = (_scan(registered, pg_server, "push_t")
              .filter((F.col("m") == 3) & (F.col("id") <= 500)))
        ids = sorted(r.id for r in df.collect())
        assert ids == [i for i in range(1, 501) if i % 10 == 3]
    finally:
        SETTINGS.pg_experimental_filter_pushdown = old


@pytest.mark.xfail(strict=True, reason=(
    "known bug: PythonScanBuilder.pushFilters stores the pushed read "
    "plan on the relation's shared PythonDataSourceV2 (setReadInfo), "
    "and every later query on the same DataFrame that pushes nothing "
    "reads it back through getOrCreateReadInfo (ROADMAP item 10)"))
def test_live_pushed_filter_stays_in_its_query(registered, pg, pg_server):
    """A filter pushed by one query must not narrow the next query on
    the same DataFrame. Today it does: after `filter("x < 10")`, a
    plain count() and select() return the 9 filtered rows, not 5000."""
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS leak_t")
    cur.execute("CREATE TABLE leak_t AS "
                "SELECT g AS x FROM generate_series(1, 5000) g")
    df = _scan(registered, pg_server, "leak_t")
    assert df.filter("x < 10").count() == 9
    assert df.count() == 5000
    assert len(df.select("x").collect()) == 5000


# ------------------------------------------- ATTACH (S1/S5/S10)
def test_live_attach_end_to_end(registered, pg, pg_server, tmp_path):
    """reference: attach_*.test, postgres_query.cpp, postgres_execute
    .cpp against a live server — ATTACH by libpq DSN and by secret,
    listing, table scans, remote pg_query, pg_execute DDL/DML, the
    READ_ONLY gate, and COPY FROM DATABASE of a schema-scoped attach."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.connection import (
        create_secret, drop_secret, parse_dsn)
    from postgres_scanner_spark.queryfn import (
        execute_statement, pg_execute, pg_query)
    from postgres_scanner_spark.storage import ManagedStore
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS att_items")
    cur.execute("CREATE TABLE att_items AS SELECT g AS id, g % 3 AS grp, "
                "'v' || g AS name FROM generate_series(1, 300) g")
    cur.execute("DROP SCHEMA IF EXISTS att_s CASCADE")
    cur.execute("CREATE SCHEMA att_s")
    cur.execute("CREATE TABLE att_s.a AS SELECT 1 AS i")
    cur.execute("CREATE TABLE att_s.b AS SELECT 'x'::text AS s")
    info = parse_dsn(pg_server)
    create_secret("att_live", host=info.host, port=info.port,
                  database=info.dbname, user=info.user, replace=True)
    direct = sorted(_scan(registered, pg_server, "att_items").collect())
    cat = Catalog(registered)
    try:
        for src, alias in ((pg_server, "live"),
                           ("secret:att_live", "live_sec")):
            execute_statement(cat, f"ATTACH '{src}' AS {alias}")
            assert "att_items" in cat.list_tables(alias)
            assert sorted(cat.table(alias, "att_items").collect()) == direct
            q = pg_query(cat, alias, "SELECT grp, count(*) AS n "
                                     "FROM att_items GROUP BY grp")
            # the GROUP BY ran on the server: no aggregate in Spark's plan
            plan = q._jdf.queryExecution().executedPlan().toString()
            assert "Aggregate" not in plan, plan
            assert sorted(tuple(r) for r in q.collect()) == \
                [(0, 100), (1, 100), (2, 100)]
            pg_execute(cat, alias, "CREATE TABLE att_tmp (i int)")
            pg_execute(cat, alias, "INSERT INTO att_tmp VALUES (1), (2)")
            assert "att_tmp" in cat.list_tables(alias)
            assert sorted(r.i for r in
                          cat.table(alias, "att_tmp").collect()) == [1, 2]
            pg_execute(cat, alias, "DROP TABLE att_tmp")
            assert "att_tmp" not in cat.list_tables(alias)
            execute_statement(cat, f"DETACH {alias}")
        execute_statement(
            cat, f"ATTACH '{pg_server}' AS live_ro (TYPE POSTGRES, READ_ONLY)")
        with pytest.raises(PermissionError, match="READ_ONLY"):
            pg_execute(cat, "live_ro", "DROP TABLE att_items")
        cat.attach("secret:att_live", alias="live_s", schema="att_s")
        assert cat.list_tables("live_s") == ["a", "b"]
        store = ManagedStore(registered, str(tmp_path / "copy"))
        assert cat.copy_database("live_s", store) == ["a", "b"]
        assert store.scan("b").collect()[0].s == "x"
    finally:
        drop_secret("att_live")
    cur.execute("SELECT count(*) FROM att_items")
    assert cur.fetchone() == (300,)


def test_live_session_settings_reach_attached_scans(registered, pg,
                                                    pg_server):
    """SETTINGS set on the driver reach a Catalog.table scan of a live
    attach, whose schema probe and planner run in Python workers: the
    catalog passes them as options. The table has >= 1,000 heap
    pages."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.settings import SETTINGS
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS set_t")
    cur.execute("CREATE TABLE set_t AS SELECT g AS id, "
                "ARRAY[g, g + 1] AS ia, repeat('s', 200) AS pad "
                "FROM generate_series(1, 40000) g")
    cur.execute("SELECT pg_relation_size('set_t') / "
                "current_setting('block_size')::int")
    assert cur.fetchone()[0] >= 1000
    cat = Catalog(registered)
    cat.attach(pg_server, alias="live_set")

    def table():
        return cat.table("live_set", "set_t")
    try:
        SETTINGS.set("pg_pages_per_task", 100)
        assert table().rdd.getNumPartitions() >= 10
        SETTINGS.set("pg_connection_limit", 2)
        assert table().rdd.getNumPartitions() <= 2
        SETTINGS.reset()
        SETTINGS.set("pg_use_ctid_scan", False)
        assert table().rdd.getNumPartitions() == 1
        SETTINGS.set("pg_array_as_varchar", True)
        df = table()
        assert df.schema["ia"].dataType == T.StringType()
        assert df.filter("id = 1").collect()[0].ia == "{1,2}"
    finally:
        SETTINGS.reset()
        cat.detach("live_set")


# -------------------------------------- binary COPY write (S7/S26)
def test_live_binary_copy_write_roundtrip(registered, pg, pg_server):
    """reference: test/sql/misc/postgres_binary.test — Spark DF →
    COPY FROM STDIN (FORMAT binary) → read back through the scan."""
    spark = registered
    from datetime import date, datetime
    from decimal import Decimal
    rows = [
        (1, "alpha", Decimal("12.340"), 1.5, True,
         date(2024, 1, 2), datetime(2024, 1, 2, 3, 4, 5), b"\x01"),
        (2, "beta", None, None, None, None, None, None),
    ]
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("amt", T.DecimalType(12, 3)),
        T.StructField("x", T.DoubleType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("raw", T.BinaryType()),
    ])
    df = spark.createDataFrame(rows, schema)
    (df.write.format("postgres_scan").option("dsn", pg_server)
       .option("table", "bin_rt").mode("overwrite").save())
    back = _scan(spark, pg_server, "bin_rt").orderBy("id").collect()
    assert len(back) == 2
    assert back[0].name == "alpha" and back[0].amt == Decimal("12.340")
    assert back[0].ok is True and back[0].raw == b"\x01"
    assert str(back[0].ts) == "2024-01-02 03:04:05"
    assert back[1].name == "beta" and back[1].amt is None
    # append adds without clobbering
    (spark.createDataFrame([(3, "gamma", Decimal("1.000"), 0.5, False,
                             date(2024, 2, 2),
                             datetime(2024, 2, 2, 0, 0, 0), b"\x02")],
                           schema)
     .write.format("postgres_scan").option("dsn", pg_server)
     .option("table", "bin_rt").mode("append").save())
    assert _scan(spark, pg_server, "bin_rt").count() == 3


def test_live_overwrite_truncate_preserves_index(registered, pg,
                                                 pg_server):
    """Overwrite with an identical column layout TRUNCATEs (indexes
    survive); a changed layout DROP+CREATEs (S26 semantics)."""
    spark = registered
    schema = T.StructType([T.StructField("id", T.IntegerType()),
                           T.StructField("v", T.StringType())])
    df = spark.createDataFrame([(1, "a")], schema)
    (df.write.format("postgres_scan").option("dsn", pg_server)
       .option("table", "ovw_t").mode("overwrite").save())
    cur = pg.cursor()
    cur.execute("CREATE INDEX ovw_idx ON ovw_t (id)")
    (df.write.format("postgres_scan").option("dsn", pg_server)
       .option("table", "ovw_t").mode("overwrite").save())
    cur.execute("SELECT indexname FROM pg_indexes "
                "WHERE tablename = 'ovw_t'")
    assert [r[0] for r in cur.fetchall()] == ["ovw_idx"]   # TRUNCATE path
    df2 = spark.createDataFrame([(1, "a", 2.0)], T.StructType(
        schema.fields + [T.StructField("z", T.DoubleType())]))
    (df2.write.format("postgres_scan").option("dsn", pg_server)
        .option("table", "ovw_t").mode("overwrite").save())
    cur.execute("SELECT indexname FROM pg_indexes "
                "WHERE tablename = 'ovw_t'")
    assert cur.fetchall() == []                            # DROP path


def test_live_overwrite_datetime_typmod_drops(registered, pg,
                                              pg_server):
    """A surviving timestamp(0) column must NOT 'match' an incoming
    unconstrained TIMESTAMP on overwrite — TRUNCATE would silently
    round sub-second values on COPY. The probe compares
    information_schema.datetime_precision, so this layout takes the
    DROP path (index gone); a true same-precision overwrite still
    TRUNCATEs (index survives)."""
    spark = registered
    from datetime import datetime
    schema = T.StructType([T.StructField("id", T.IntegerType()),
                           T.StructField("ts", T.TimestampNTZType())])
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0, 0, 123456))], schema)
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS dt_t")
    cur.execute('CREATE TABLE dt_t ("id" int4, "ts" timestamp(0))')
    cur.execute("CREATE INDEX dt_idx ON dt_t (id)")
    (df.write.format("postgres_scan").option("dsn", pg_server)
       .option("table", "dt_t").mode("overwrite").save())
    cur.execute(
        "SELECT indexname FROM pg_indexes WHERE tablename = 'dt_t'")
    assert cur.fetchall() == []          # DROP path: precision differed
    cur.execute("SELECT ts FROM dt_t")
    assert cur.fetchone()[0].microsecond == 123456   # nothing rounded
    cur.execute("CREATE INDEX dt_idx2 ON dt_t (id)")
    (df.write.format("postgres_scan").option("dsn", pg_server)
       .option("table", "dt_t").mode("overwrite").save())
    cur.execute(
        "SELECT indexname FROM pg_indexes WHERE tablename = 'dt_t'")
    assert [r[0] for r in cur.fetchall()] == ["dt_idx2"]  # TRUNCATE


def _write(df, dsn, table, mode="overwrite", **opts):
    w = (df.write.format("postgres_scan").option("dsn", dsn)
         .option("table", table).mode(mode))
    for k, v in opts.items():
        w = w.option(k, v)
    w.save()


def _indexes(cur, table):
    cur.execute("SELECT indexname FROM pg_indexes WHERE tablename = %s",
                (table,))
    return [r[0] for r in cur.fetchall()]


def _column_type(cur, table, column):
    cur.execute("SELECT format_type(atttypid, atttypmod) FROM pg_attribute "
                "WHERE attrelid = %s::regclass AND attname = %s",
                (table, column))
    return cur.fetchone()[0]


def test_live_interval_write_roundtrip(registered, pg, pg_server):
    """A DayTimeIntervalType column is written as interval — the type
    its wire bytes are — and reads back unchanged, arrays included."""
    from datetime import timedelta
    spark = registered
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("iv", T.DayTimeIntervalType()),
        T.StructField("ivs", T.ArrayType(T.DayTimeIntervalType()))])
    rows = [(1, timedelta(days=2, seconds=3, microseconds=4),
             [timedelta(hours=-5), None]),
            (2, timedelta(microseconds=-1), []),
            (3, None, None)]
    _write(spark.createDataFrame(rows, schema), pg_server, "iv_t")
    cur = pg.cursor()
    assert _column_type(cur, "iv_t", "iv") == "interval"
    assert _column_type(cur, "iv_t", "ivs") == "interval[]"
    back = _scan(spark, pg_server, "iv_t")
    assert back.schema == schema
    assert [tuple(r) for r in back.orderBy("id").collect()] == rows


def test_live_overwrite_qualified_udt_override_truncates(registered, pg,
                                                         pg_server):
    """column_types={"m": "public.mood"} onto a table whose m column is
    that enum matches it: the overwrite TRUNCATEs and the index
    survives."""
    spark = registered
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS mood_t")
    cur.execute("DROP TYPE IF EXISTS mood")
    cur.execute("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    cur.execute('CREATE TABLE mood_t ("id" int4, "m" mood)')
    cur.execute("CREATE INDEX mood_idx ON mood_t (id)")
    schema = T.StructType([T.StructField("id", T.IntegerType()),
                           T.StructField("m", T.StringType())])
    _write(spark.createDataFrame([(1, "happy"), (2, None)], schema),
           pg_server, "mood_t", column_types='{"m": "public.mood"}')
    assert _indexes(cur, "mood_t") == ["mood_idx"]
    cur.execute("SELECT id, m::text FROM mood_t ORDER BY id")
    assert cur.fetchall() == [(1, "happy"), (2, None)]


def test_live_overwrite_numeric_array_typmod_drops(registered, pg,
                                                   pg_server):
    """A numeric(4,2)[] column does not match a numeric(12,6)[]
    override, although information_schema shows neither typmod: the
    overwrite DROPs and re-CREATEs, and values that would overflow
    (or round in) the old column load intact."""
    from decimal import Decimal
    spark = registered
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS na_t")
    cur.execute('CREATE TABLE na_t ("id" int4, "v" numeric(4,2)[])')
    cur.execute("CREATE INDEX na_idx ON na_t (id)")
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("v", T.ArrayType(T.DecimalType(12, 6)))])
    vals = [Decimal("123456.123456"), Decimal("0.000001")]
    _write(spark.createDataFrame([(1, vals)], schema), pg_server, "na_t",
           column_types='{"v": "numeric(12,6)[]"}')
    assert _indexes(cur, "na_t") == []              # DROP path
    assert _column_type(cur, "na_t", "v") == "numeric(12,6)[]"
    cur.execute("SELECT v FROM na_t")
    assert cur.fetchone()[0] == vals


def test_live_overwrite_numeric_scale_drops(registered, pg, pg_server):
    """Same base types with a different numeric scale do not match
    (the server-side twin of the mocked writer test's case): the
    overwrite DROPs; the same write again TRUNCATEs."""
    from decimal import Decimal
    spark = registered
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS ns_t")
    cur.execute('CREATE TABLE ns_t ("id" int4, "price" numeric(12,6), '
                '"tags" int4[])')
    cur.execute("CREATE INDEX ns_idx ON ns_t (id)")
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("price", T.DecimalType(10, 2)),
        T.StructField("tags", T.ArrayType(T.IntegerType()))])
    df = spark.createDataFrame([(1, Decimal("10.25"), [1, 2])], schema)
    _write(df, pg_server, "ns_t")
    assert _indexes(cur, "ns_t") == []
    assert _column_type(cur, "ns_t", "price") == "numeric(10,2)"
    cur.execute("CREATE INDEX ns_idx2 ON ns_t (id)")
    _write(df, pg_server, "ns_t")
    assert _indexes(cur, "ns_t") == ["ns_idx2"]
    assert _scan(spark, pg_server, "ns_t").collect()[0].price == \
        Decimal("10.25")


def test_live_numeric_array_probe_keeps_typmod(registered, pg, pg_server):
    """The table probe reads precision and scale from the column's
    typmod, which an array column carries for its element and a domain
    for its base type: numeric(5,1)[][] is array<array<decimal(5,1)>>
    (cast ::numeric(5,1)[][], not ::float8[][]) and a domain over
    numeric(8,3) is decimal(8,3)."""
    from decimal import Decimal
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS nad_t")
    cur.execute("DROP DOMAIN IF EXISTS nad_money")
    cur.execute("CREATE DOMAIN nad_money AS numeric(8,3)")
    cur.execute('CREATE TABLE nad_t ("m" numeric(5,1)[][], '
                '"d" nad_money, "u" numeric[])')
    cur.execute("INSERT INTO nad_t VALUES "
                "('{{1.5,2.5},{3.5,NULL}}', 12.345, '{1.25}')")
    df = _scan(registered, pg_server, "nad_t")
    assert [f.dataType for f in df.schema.fields] == [
        T.ArrayType(T.ArrayType(T.DecimalType(5, 1))),
        T.DecimalType(8, 3), T.ArrayType(T.DoubleType())]
    (row,) = df.collect()
    assert row.m == [[Decimal("1.5"), Decimal("2.5")],
                     [Decimal("3.5"), None]]
    assert row.d == Decimal("12.345") and row.u == [1.25]


def test_live_decimal_array_write_reads_back_decimals(registered, pg,
                                                      pg_server):
    """A written array<decimal(12,6)> creates numeric(12,6)[] and
    reads back as Decimals, not doubles."""
    from decimal import Decimal
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("v", T.ArrayType(T.DecimalType(12, 6)))])
    vals = [Decimal("123456.123456"), Decimal("0.000001"), None]
    _write(registered.createDataFrame([(1, vals)], schema), pg_server,
           "dawr_t")
    back = _scan(registered, pg_server, "dawr_t")
    assert back.schema == schema
    assert back.collect()[0].v == vals


def test_live_query_probe_types_numeric_array(registered, pg, pg_server):
    """The query-mode probe unpacks a numeric[] column's typmod as it
    does a numeric's: numeric(12,6)[] is array<decimal(12,6)>."""
    from decimal import Decimal
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS qna_t")
    cur.execute('CREATE TABLE qna_t ("v" numeric(12,6)[])')
    cur.execute("INSERT INTO qna_t VALUES ('{1.5,-2.000001}')")
    df = (registered.read.format("postgres_scan")
          .option("dsn", pg_server)
          .option("query", "SELECT v FROM qna_t").load())
    assert df.schema["v"].dataType == T.ArrayType(T.DecimalType(12, 6))
    assert df.collect()[0].v == [Decimal("1.500000"),
                                 Decimal("-2.000001")]


@pytest.mark.parametrize("probe", ["table", "query"])
def test_live_numeric_scale_outside_precision(registered, pg, pg_server,
                                              probe):
    """Postgres 15 allows a numeric scale below zero or above the
    precision; Spark's decimal does not. numeric(5,-2) (whole
    hundreds, up to 9999900) reads as decimal(7,0) and numeric(2,4)
    (below 0.01) as decimal(4,4) — from the table probe's typmod and
    the query probe's result descriptor alike — and every value reads
    back exactly."""
    from decimal import Decimal
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS nsc_t")
    cur.execute("CREATE TABLE nsc_t (id int4, a numeric(5,-2), "
                "b numeric(2,4))")
    cur.execute("INSERT INTO nsc_t VALUES (1, 12345, 0.00123), "
                "(2, -9999949, -0.0099), (3, NULL, NULL)")
    if probe == "table":
        df = _scan(registered, pg_server, "nsc_t")
    else:
        df = (registered.read.format("postgres_scan")
              .option("dsn", pg_server)
              .option("query", "SELECT id, a, b FROM nsc_t").load())
    assert [f.dataType for f in df.schema.fields] == [
        T.IntegerType(), T.DecimalType(7, 0), T.DecimalType(4, 4)]
    assert [tuple(r) for r in df.orderBy("id").collect()] == [
        (1, Decimal("12300"), Decimal("0.0012")),
        (2, Decimal("-9999900"), Decimal("-0.0099")), (3, None, None)]


def test_live_column_types_typmod_then_words(registered, pg, pg_server):
    """An override spelled with words after its typmod creates that
    type, and a second overwrite with it matches (TRUNCATE)."""
    from datetime import datetime, timezone
    spark = registered
    schema = T.StructType([T.StructField("id", T.IntegerType()),
                           T.StructField("ts", T.TimestampType())])
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0, 0, 123456, tzinfo=timezone.utc))],
        schema)
    opts = {"column_types": '{"ts": "timestamp(3) with time zone"}'}
    _write(df, pg_server, "tw_t", **opts)
    cur = pg.cursor()
    assert _column_type(cur, "tw_t", "ts") == "timestamp(3) with time zone"
    cur.execute("CREATE INDEX tw_idx ON tw_t (id)")
    _write(df, pg_server, "tw_t", **opts)
    assert _indexes(cur, "tw_t") == ["tw_idx"]


def test_live_spark_type_table_matches_server(registered, pg, pg_server):
    """Every entry of the Spark→Postgres table names, on the server,
    the type whose OID it sends; and a table created from the derived
    DDL types back to the same Spark types through the schema probe
    (ByteType widens to smallint's ShortType)."""
    from postgres_scanner_spark.types import (
        SPARK_TO_OID, spark_field_oid, spark_type_to_pg,
    )
    cur = pg.cursor()
    spark_types = [T.DecimalType(10, 2) if cls is T.DecimalType else cls()
                   for cls in SPARK_TO_OID]
    for dt in spark_types:
        cur.execute("SELECT %s::regtype::oid", (spark_type_to_pg(dt),))
        assert cur.fetchone()[0] == spark_field_oid(dt), dt
        arr = T.ArrayType(dt)
        cur.execute("SELECT typelem FROM pg_type WHERE oid = %s::regtype",
                    (spark_type_to_pg(arr),))
        assert cur.fetchone()[0] == spark_field_oid(dt), arr
    spark_types += [T.ArrayType(T.StringType()),
                    T.ArrayType(T.ArrayType(T.IntegerType()))]
    cur.execute("DROP TABLE IF EXISTS types_t")
    cur.execute("CREATE TABLE types_t (" + ", ".join(
        f'"c{i}" {spark_type_to_pg(dt)}'
        for i, dt in enumerate(spark_types)) + ")")
    got = _scan(registered, pg_server, "types_t").schema
    widened = {T.ByteType(): T.ShortType()}
    assert [f.dataType for f in got.fields] == \
        [widened.get(dt, dt) for dt in spark_types]


# --------------------------------------- streaming source (S29/S30)
def test_live_partitioned_stream_read(registered, pg, pg_server,
                                      tmp_path):
    """S29 against a real server: the partitioned executor-side
    stream reader polls by monotonic key; a second trigger reads ONLY
    the new keys from the live backlog."""
    spark = registered
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS sev")
    cur.execute("CREATE TABLE sev (id int8, v text)")
    cur.execute("INSERT INTO sev SELECT g, 'a' || g "
                "FROM generate_series(1, 10) g")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run():
        q = (spark.readStream.format("postgres_scan").schema(schema)
             .option("dsn", pg_server).option("table", "sev")
             .option("stream_key", "id").load()
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    run()
    assert spark.read.parquet(sink).count() == 10
    cur.execute("INSERT INTO sev SELECT g + 10, 'b' || g "
                "FROM generate_series(1, 5) g")
    run()
    out = spark.read.parquet(sink)
    assert out.count() == 15
    assert out.filter("id > 10").count() == 5


def test_live_stream_honors_schema_option(registered, pg, pg_server,
                                          tmp_path):
    """The stream source reads the table of the `schema` option: the
    max-key probe, the keyset walk and the slice reads all name
    s.sev, never the same-named public.sev (which holds other
    rows)."""
    spark = registered
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS public.sev")
    cur.execute("CREATE TABLE public.sev (id int8, v text)")
    cur.execute("INSERT INTO public.sev SELECT g, 'public' || g "
                "FROM generate_series(1, 50) g")
    cur.execute("DROP SCHEMA IF EXISTS s CASCADE")
    cur.execute("CREATE SCHEMA s")
    cur.execute("CREATE TABLE s.sev (id int8, v text)")
    cur.execute("INSERT INTO s.sev SELECT g, 's' || g "
                "FROM generate_series(1, 7) g")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    q = (spark.readStream.format("postgres_scan").schema(schema)
         .option("dsn", pg_server).option("schema", "s")
         .option("table", "sev").option("stream_key", "id")
         .option("max_rows_per_poll", "3").load()
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "sink"))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(r.id, r.v)
           for r in spark.read.parquet(str(tmp_path / "sink")).collect()}
    assert got == {(i, f"s{i}") for i in range(1, 8)}


def test_live_typed_stream_matches_batch_scan(registered, pg, pg_server):
    """Stream slices read through the batch scan's COPY binary →
    Arrow path: a stream over typed columns, cut into 3-row slices,
    returns exactly what a batch postgres_scan of the table does,
    NULLs included."""
    spark = registered
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS styped")
    cur.execute("CREATE TABLE styped (id int4, n numeric(12,2), "
                "ts timestamptz, u uuid, ta text[], js jsonb)")
    cur.execute("""
        INSERT INTO styped
        SELECT g, g * 1.25, '2024-03-04 05:06:07+00'::timestamptz
                             + g * interval '1 hour',
               ('a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a' || lpad(g::text, 2,
                                                             '0'))::uuid,
               ARRAY['x' || g, NULL, 'y'],
               jsonb_build_object('k', g, 'tags', jsonb_build_array(g))
        FROM generate_series(1, 8) g
    """)
    cur.execute("INSERT INTO styped (id) VALUES (9)")
    batch = sorted(_scan(spark, pg_server, "styped").collect())
    assert len(batch) == 9 and batch[-1].n is None
    (spark.readStream.format("postgres_scan")
     .option("dsn", pg_server).option("table", "styped")
     .option("stream_key", "id").option("max_rows_per_poll", "3")
     .load()
     .writeStream.format("memory").queryName("styped_stream")
     .trigger(availableNow=True).start().awaitTermination(120))
    assert sorted(spark.table("styped_stream").collect()) == batch


@pytest.mark.slow
def test_live_stream_write_quadrant(registered, pg, pg_server,
                                    tmp_path):
    """S30 against a real server — the full live quadrant: the
    partitioned stream reader polls a live table by monotonic key
    and the stream writer lands each micro-batch in ANOTHER live
    table via one COPY FROM STDIN (FORMAT binary) transaction."""
    spark = registered
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS sq_src")
    cur.execute("DROP TABLE IF EXISTS sq_tgt")
    cur.execute("CREATE TABLE sq_src (id int8, v text)")
    cur.execute("INSERT INTO sq_src SELECT g, 'x' || g "
                "FROM generate_series(1, 20) g")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    ckpt = str(tmp_path / "ck")

    def run():
        q = (spark.readStream.format("postgres_scan").schema(schema)
             .option("dsn", pg_server).option("table", "sq_src")
             .option("stream_key", "id").load()
             .writeStream.format("postgres_scan")
             .option("dsn", pg_server).option("table", "sq_tgt")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    run()
    cur.execute("SELECT COUNT(*), SUM(id) FROM sq_tgt")
    assert cur.fetchone() == (20, 210)
    # a second backlog lands exactly once (checkpointed offsets)
    cur.execute("INSERT INTO sq_src SELECT g + 20, 'y' || g "
                "FROM generate_series(1, 5) g")
    run()
    cur.execute("SELECT COUNT(*), SUM(id) FROM sq_tgt")
    assert cur.fetchone() == (25, 325)
    cur.execute("SELECT COUNT(*) FROM sq_tgt WHERE id > 20")
    assert cur.fetchone() == (5,)


def test_live_copy_out_wire_interop(pg):
    """pgwire's PGCOPY decoder reads a REAL server's COPY BINARY
    stream (the exact bytes libpq-based scanners consume)."""
    from postgres_scanner_spark import types as pgt
    from postgres_scanner_spark.pgwire import (
        BinaryCopyReader, ChunkStream,
    )
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS wire_t")
    cur.execute("CREATE TABLE wire_t AS SELECT g AS id, "
                "g * 1.5 AS x, 'r' || g AS s "
                "FROM generate_series(1, 50) g")
    with cur.copy("COPY (SELECT id::int4, x::float8, s::text "
                  "FROM wire_t ORDER BY id) TO STDOUT "
                  "(FORMAT binary)") as cp:
        rows = list(BinaryCopyReader(
            [pgt.INT4OID, pgt.FLOAT8OID, pgt.TEXTOID]
        ).read(ChunkStream(cp)))
    assert len(rows) == 50
    assert rows[0] == (1, 1.5, "r1")
    assert rows[-1] == (50, 75.0, "r50")
    # and the column-wise reader, framed by the server's messages
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyReader
    schema = T.StructType([T.StructField("id", T.IntegerType()),
                           T.StructField("x", T.DoubleType()),
                           T.StructField("s", T.StringType())])
    with cur.copy("COPY (SELECT id::int4, x::float8, s::text "
                  "FROM wire_t ORDER BY id) TO STDOUT "
                  "(FORMAT binary)") as cp:
        got = [tuple(r.values()) for b in VectorBinaryCopyReader(
            [pgt.INT4OID, pgt.FLOAT8OID, pgt.TEXTOID], set(), schema
        ).read(cp) for r in b.to_pylist()]
    assert got == rows


@pytest.mark.slow
def test_pgclient_literal_fuzz(pg):
    """Property test on the client's literal escaping + text-protocol
    decode against a REAL backend: arbitrary (NUL/surrogate-free)
    text, int8, float8, and bytea values round-trip exactly through
    %s interpolation → simple-query → typed decode. This is the
    classic corruption/injection surface of a wire client — quotes,
    backslashes, control chars, multilingual text, shortest-repr
    floats."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    chars = st.characters(blacklist_characters="\x00",
                          blacklist_categories=("Cs",))

    @settings(max_examples=25, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(s=st.text(chars, max_size=60),
           i=st.integers(-(2 ** 62), 2 ** 62),
           f=st.floats(allow_nan=False, allow_infinity=False, width=64),
           b=st.binary(max_size=40))
    def roundtrip(s, i, f, b):
        cur = pg.cursor()
        cur.execute("SELECT %s::text, %s::int8, %s::float8, %s::bytea",
                    (s, i, f, b))
        assert cur.fetchone() == (s, i, f, b)

    roundtrip()


# ------------------------------- failure-mode matrix under load (r10)
@pytest.mark.slow
def test_live_concurrent_partitioned_scans(registered, pg, pg_server):
    """4 threads each run a multi-partition ctid scan of the same
    table concurrently (the gate's threaded-worker shape): every
    scan must see every row exactly once — connection-per-task
    isolation may not bleed state across threads."""
    import threading
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS conc_t")
    cur.execute("CREATE TABLE conc_t AS SELECT g AS id, "
                "repeat('y', 150) AS pad "
                "FROM generate_series(1, 30000) g")
    want = (30000, 30000 * 30001 // 2)
    results, errors = [], []

    def run():
        try:
            df = _scan(registered, pg_server, "conc_t",
                       pg_pages_per_task="80")
            row = df.agg(F.count("*").alias("n"),
                         F.sum("id").alias("s")).collect()[0]
            results.append((row.n, row.s))
        except Exception as e:       # noqa: BLE001 - recorded, asserted
            errors.append(repr(e))

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert not errors, errors
    assert results == [want] * 4


@pytest.mark.slow
def test_live_mid_copy_backend_kill_error_surface(pg_server):
    """pg_terminate_backend mid-COPY: the wire client must surface
    the server's 57P01 ErrorResponse (or the ensuing close) as the
    module's Error/ConnectionClosed with an informative message —
    never a hang, a protocol desync, or a raw struct error. The
    reference inherits this surface from libpq
    (postgres_scanner.cpp's connection handling); pgclient owns it
    here."""
    import re
    from postgres_scanner_spark import pgclient
    victim = pgclient.connect(pg_server, autocommit=True)
    killer = pgclient.connect(pg_server, autocommit=True)
    try:
        vcur = victim.cursor()
        vcur.execute("SELECT pg_backend_pid()")
        vpid = vcur.fetchone()[0]
        got = 0
        with pytest.raises((pgclient.Error,
                            pgclient.ConnectionClosed)) as ei:
            with vcur.copy(
                "COPY (SELECT g, repeat('z', 300) FROM "
                "generate_series(1, 2000000) g) TO STDOUT") as cp:
                for chunk in cp:
                    got += len(chunk)
                    if got > 1 << 16:
                        killer.cursor().execute(
                            f"SELECT pg_terminate_backend({vpid})")
        msg = str(ei.value)
        assert re.search(r"57P01|terminat|closed|connection",
                         msg, re.I), msg
    finally:
        killer.close()
        try:
            victim.close()
        except Exception:
            pass


def test_live_mid_scan_backend_kill(registered, pg, pg_server):
    """Kill backends serving a partitioned DataSource scan while it
    runs. Acceptable outcomes: the scan fails fast with the
    connection-termination message propagated through the task
    error, OR (kills landing between tasks) completes with the
    EXACT result. Never a hang, never silently-wrong rows."""
    import re
    import threading
    import time
    cur = pg.cursor()
    cur.execute("DROP TABLE IF EXISTS kill_t")
    cur.execute("CREATE TABLE kill_t AS SELECT g AS id, "
                "repeat('k', 400) AS pad "
                "FROM generate_series(1, 120000) g")
    outcome = {}

    def run():
        try:
            df = _scan(registered, pg_server, "kill_t",
                       pg_pages_per_task="40")
            row = df.agg(F.count("*").alias("n"),
                         F.sum("id").alias("s")).collect()[0]
            outcome["result"] = (row.n, row.s)
        except Exception as e:       # noqa: BLE001 - asserted below
            outcome["error"] = str(e)

    t = threading.Thread(target=run)
    t.start()
    kcur = pg.cursor()
    killed = 0
    deadline = time.time() + 120
    while t.is_alive() and time.time() < deadline:
        kcur.execute(
            "SELECT pg_terminate_backend(pid) FROM pg_stat_activity "
            "WHERE state = 'active' AND pid <> pg_backend_pid() "
            "AND query LIKE '%ctid BETWEEN%' "
            "AND query NOT LIKE '%pg_stat_activity%'")
        killed += len(kcur.fetchall())
        time.sleep(0.05)
    t.join(timeout=60)
    assert not t.is_alive(), "scan hung after backend kill"
    if "result" in outcome:
        assert outcome["result"] == (120000, 120000 * 120001 // 2)
    else:
        assert re.search(r"57P01|terminat|closed|connection|copy",
                         outcome["error"], re.I), outcome["error"][:500]
    # the matrix is only exercised if the killer actually fired
    assert killed >= 1 or "error" in outcome
