"""Managed-store DML + transactions (reference: test/sql/storage/
attach_delete.test, attach_update.test, attach_transactions.test)."""

import pytest

from postgres_scanner_spark.storage import ManagedStore
from postgres_scanner_spark.copyio import copy_from, copy_to


@pytest.fixture()
def store(spark, tmp_path):
    return ManagedStore(spark, str(tmp_path / "store"))


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id BIGINT, name STRING, v DOUBLE")


def test_create_insert_scan(spark, store):
    store.create_table("t", _mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    assert store.scan("t").count() == 2
    store.insert("t", _mk(spark, [(3, "c", 3.0)]))
    assert sorted(r.id for r in store.scan("t").collect()) == [1, 2, 3]
    assert store.tables() == ["t"]


def test_create_if_exists(spark, store):
    store.create_table("t", _mk(spark, [(1, "a", 1.0)]))
    with pytest.raises(ValueError):
        store.create_table("t", _mk(spark, [(9, "z", 0.0)]))
    store.create_table("t", _mk(spark, [(9, "z", 0.0)]), if_not_exists=True)
    assert store.scan("t").count() == 1


def test_delete(spark, store):
    store.create_table("t", _mk(spark, [(i, "x", float(i)) for i in range(10)]))
    n = store.delete("t", "id >= 7")
    assert n == 3
    assert store.scan("t").count() == 7


def test_update(spark, store):
    store.create_table("t", _mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    n = store.update("t", "id = 2", {"v": "v * 10", "name": "'bb'"})
    assert n == 1
    row = {r.id: r for r in store.scan("t").collect()}
    assert row[2].v == 20.0 and row[2].name == "bb"
    assert row[1].v == 1.0 and row[1].name == "a"


def test_transaction_commit_rollback(spark, store):
    store.create_table("t", _mk(spark, [(1, "a", 1.0)]))
    store.begin()
    store.insert("t", _mk(spark, [(2, "b", 2.0)]))
    assert store.scan("t").count() == 2       # visible inside txn
    store.rollback()
    assert store.scan("t").count() == 1       # rolled back
    store.begin()
    store.insert("t", _mk(spark, [(3, "c", 3.0)]))
    store.commit()
    assert store.scan("t").count() == 2       # committed


def test_drop(spark, store):
    store.create_table("t", _mk(spark, [(1, "a", 1.0)]))
    store.drop_table("t")
    assert store.tables() == []
    with pytest.raises(ValueError):
        store.drop_table("t")
    store.drop_table("t", if_exists=True)


def test_copy_roundtrip(spark, tmp_path):
    df = _mk(spark, [(1, "a", 1.5), (2, "b", 2.5)])
    p = str(tmp_path / "unload")
    copy_to(df, p, format="binary")
    back = copy_from(spark, p, format="binary")
    assert sorted((r.id, r.name, r.v) for r in back.collect()) == \
        [(1, "a", 1.5), (2, "b", 2.5)]
    p2 = str(tmp_path / "unload_text")
    copy_to(df, p2, format="text")
    back2 = copy_from(spark, p2, format="text", schema=df.schema)
    assert back2.count() == 2


def test_catalog_attach(spark, sf_dir):
    from postgres_scanner_spark.catalog import Catalog
    cat = Catalog(spark)
    cat.attach(sf_dir, alias="tpch")
    assert "lineitem" in cat.list_tables("tpch")
    assert cat.table("tpch", "region").count() == 5
    assert cat.database_size("tpch") > 0
    # postgres_query passthrough on the attached alias
    from postgres_scanner_spark.queryfn import pg_query
    n = pg_query(cat, "tpch", "SELECT COUNT(*) AS n FROM tpch_orders").collect()[0].n
    assert n > 0
    cat.clear_cache()
    cat.detach("tpch")


def test_null_byte_replacement(spark, tmp_path):
    from postgres_scanner_spark.settings import SETTINGS
    df = spark.createDataFrame([(1, "a\x00b")], "id BIGINT, s STRING")
    SETTINGS.set("pg_null_byte_replacement", "?")
    try:
        p = str(tmp_path / "nul")
        copy_to(df, p, format="binary")
        back = copy_from(spark, p, format="binary")
        assert back.collect()[0].s == "a?b"
    finally:
        SETTINGS.pg_null_byte_replacement = None


def test_attach_store_sql_dml(spark, tmp_path):
    """SQL-driven DML on an attached writable store (reference:
    attach_delete.test / attach_update.test / attach_insert semantics
    driven through postgres_execute)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute, pg_query
    root = str(tmp_path / "storedb")
    seed = ManagedStore(spark, root)
    seed.create_table("accounts", _mk(spark, [
        (1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="db")
    assert cat.attached["db"].backend == "store"
    assert cat.list_tables("db") == ["accounts"]

    pg_execute(cat, "db", "DELETE FROM accounts WHERE id = 2")
    assert cat.table("db", "accounts").count() == 2

    pg_execute(cat, "db", "UPDATE accounts SET v = v + 5 WHERE id = 1")
    vals = {r.id: r.v for r in cat.table("db", "accounts").collect()}
    assert vals[1] == 15.0 and vals[3] == 30.0

    pg_execute(cat, "db",
               "INSERT INTO accounts VALUES (4, 'dan', 40.0)")
    assert cat.table("db", "accounts").count() == 3

    pg_execute(cat, "db",
               "CREATE TABLE rich AS SELECT * FROM db_accounts WHERE v > 20")
    assert sorted(r.id for r in cat.table("db", "rich").collect()) == [3, 4]

    # view refresh: SQL sees the new snapshot
    n = pg_query(cat, "db", "SELECT COUNT(*) AS n FROM db_accounts").collect()[0].n
    assert n == 3

    pg_execute(cat, "db", "DROP TABLE IF EXISTS rich")
    assert cat.list_tables("db") == ["accounts"]

    # read-only attach refuses writes
    cat2 = Catalog(spark)
    cat2.attach(root, alias="ro", read_only=True, register_views=False)
    with pytest.raises(PermissionError):
        pg_execute(cat2, "ro", "DELETE FROM accounts WHERE id = 1")


def test_alter_and_index(spark, store):
    """ALTER TABLE add/rename/drop column + CREATE INDEX clustering
    (reference: attach_alter.test, attach_create_index.test)."""
    store.create_table("t", _mk(spark, [(i, "x", float(i)) for i in range(20)]))
    store.add_column("t", "doubled", "v * 2", "double")
    assert store.scan("t").filter("doubled = v * 2").count() == 20
    store.rename_column("t", "doubled", "v2")
    assert "v2" in store.scan("t").columns
    store.drop_column("t", "v2")
    assert "v2" not in store.scan("t").columns
    store.create_index("t", "id")
    assert store.scan("t").count() == 20  # clustering preserves data


def test_sql_dml_quoted_identifiers(spark, tmp_path):
    """Quoted / mixed-case / keyword table names through the SQL-DML
    router (reference: attach_keywords.test,
    attach_case_sensitive_tables.test)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute
    root = str(tmp_path / "quoted")
    seed = ManagedStore(spark, root)
    seed.create_table("MyTable", _mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    seed.create_table("select", _mk(spark, [(9, "kw", 9.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="qdb")

    pg_execute(cat, "qdb", 'DELETE FROM "MyTable" WHERE id = 1')
    assert cat.table("qdb", "MyTable").count() == 1

    pg_execute(cat, "qdb", "INSERT INTO \"MyTable\" VALUES (7, 'x', 7.0)")
    assert cat.table("qdb", "MyTable").count() == 2

    pg_execute(cat, "qdb", 'UPDATE "select" SET v = 10.0 WHERE id = 9')
    assert cat.table("qdb", "select").collect()[0].v == 10.0

    pg_execute(cat, "qdb", 'DROP TABLE "select"')
    assert cat.list_tables("qdb") == ["MyTable"]
    cat.detach("qdb")


def _fake_connect(monkeypatch, log, fail_on=None):
    """Swap pgclient.connect for a stub that logs connect, execute and
    how each connection ends (commit / rollback)."""
    from postgres_scanner_spark import pgclient

    class Cur:
        def execute(self, sql):
            log.append(("execute", sql))
            if sql == fail_on:
                raise pgclient.Error({"M": "syntax error"})

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    class Conn:
        def cursor(self):
            return Cur()

        def __enter__(self):
            return self

        def __exit__(self, exc_type, *exc):
            log.append("rollback" if exc_type else "commit")
            return False

    def connect(dsn):
        log.append(("connect", dsn))
        return Conn()
    monkeypatch.setattr(pgclient, "connect", connect)


def test_pg_execute_postgres_routing(monkeypatch):
    """pg_execute on a live Postgres attach runs the raw statement on
    one pgclient connection that commits on success and rolls back
    on error (reference: src/postgres_execute.cpp), connects with the
    libpq DSN rendered from the attach (the `postgres:` prefix gone,
    quoting kept), and drops the attach's cached tables. No server:
    a stub connection records the calls."""
    import types as pytypes

    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute
    log = []
    _fake_connect(monkeypatch, log, fail_on="BAD")
    cat = Catalog(pytypes.SimpleNamespace(dataSource=pytypes.SimpleNamespace(
        register=lambda ds: None)))
    db = cat.attach("postgres:host=h dbname=d user=u password='p w'",
                    alias="live")
    assert log == []                    # attach opens no connection
    dsn = "host=h port=5432 dbname=d user=u password='p w'"
    assert db.dsn == dsn
    db._table_cache["t"] = object()
    pg_execute(cat, "live", "CREATE TABLE t (i INT)")
    assert log == [("connect", dsn),
                   ("execute", "CREATE TABLE t (i INT)"), "commit"]
    assert db._table_cache == {}
    log.clear()
    with pytest.raises(pgclient.Error, match="syntax error"):
        pg_execute(cat, "live", "BAD")
    assert log == [("connect", dsn), ("execute", "BAD"), "rollback"]
    cat.detach("live")
    cat.attach("postgres:host=h dbname=d", alias="ro", read_only=True)
    with pytest.raises(PermissionError, match="READ_ONLY"):
        pg_execute(cat, "ro", "DROP TABLE t")


def test_attach_datasource_register_error_propagates():
    """Only DATA_SOURCE_ALREADY_EXISTS is tolerated when a DataSource
    attach registers postgres_scan; any other error surfaces and the
    alias is not left half-attached."""
    import types as pytypes

    from postgres_scanner_spark.catalog import Catalog

    def register(ds):
        raise TypeError("bad DataSource class")
    spark = pytypes.SimpleNamespace(
        dataSource=pytypes.SimpleNamespace(register=register))
    cat = Catalog(spark)
    for source in ("postgres:host=h dbname=d", "host=h dbname=d"):
        with pytest.raises(TypeError, match="bad DataSource"):
            cat.attach(source, alias="d")
        assert "d" not in cat.attached


def test_release_view_rebind_failure_is_logged(caplog):
    """Detaching one of two attaches that share a bare view name
    re-binds it to the other; a lookup error there is logged and the
    view dropped, any other error propagates."""
    import types as pytypes

    from postgres_scanner_spark.catalog import AttachedDatabase, Catalog
    dropped = []
    spark = pytypes.SimpleNamespace(catalog=pytypes.SimpleNamespace(
        dropTempView=dropped.append))
    cat = Catalog(spark)
    a = AttachedDatabase("a", "/x", "parquet", views=["t"])
    b = AttachedDatabase("b", "/y", "parquet", views=["t"])
    cat.attached = {"a": a, "b": b}

    def gone(alias, name):
        raise FileNotFoundError(f"{alias}/{name}.parquet")
    cat.table = gone
    with caplog.at_level("WARNING", logger="postgres_scanner_spark.catalog"):
        cat._release_view(a, "t")
    assert dropped == ["t"]
    assert "cannot rebind" in caplog.text and "b/t.parquet" in caplog.text

    def bug(alias, name):
        raise TypeError("bug")
    cat.table = bug
    with pytest.raises(TypeError):
        cat._release_view(a, "t")


def test_detach_drops_bare_views(spark, tmp_path):
    """detach() must remove BOTH the alias-prefixed and the bare temp
    views — stale bare views clobber later attaches."""
    root = str(tmp_path / "dstore")
    seed = ManagedStore(spark, root)
    seed.create_table("dtab", _mk(spark, [(1, "a", 1.0)]))
    from postgres_scanner_spark.catalog import Catalog
    cat = Catalog(spark)
    cat.attach(root, alias="dd")
    assert spark.catalog.tableExists("dtab")
    assert spark.catalog.tableExists("dd_dtab")
    cat.detach("dd")
    assert not spark.catalog.tableExists("dtab")
    assert not spark.catalog.tableExists("dd_dtab")


def test_txn_create_table_rollback(spark, tmp_path):
    """CREATE TABLE inside a transaction must vanish on rollback and
    survive commit (reference: postgres_transaction.cpp DDL-in-txn)."""
    store = ManagedStore(spark, str(tmp_path / "txnc"))
    store.begin()
    store.create_table("ghost", _mk(spark, [(1, "g", 1.0)]))
    assert store.scan("ghost").count() == 1   # visible inside the txn
    store.rollback()
    assert "ghost" not in store.tables()
    import os
    assert not os.path.exists(os.path.join(store.root, "ghost"))

    store.begin()
    store.create_table("kept", _mk(spark, [(1, "k", 1.0)]))
    store.insert("kept", _mk(spark, [(2, "k2", 2.0)]))  # stack on staged v0
    store.commit()
    assert store.scan("kept").count() == 2


def test_insert_casts_to_table_schema(spark, tmp_path):
    """INSERT with narrower literal types (INT32/float) must append
    files cast to the table schema — mixed-type footers made reads
    order-dependent (reference: postgres_insert.cpp AddCast)."""
    from pyspark.sql import types as T
    store = ManagedStore(spark, str(tmp_path / "caststore"))
    store.create_table("w", _mk(spark, [(1, "a", 1.0)]))
    narrow = spark.createDataFrame([(4, "dan", 40.0)], "id INT, name STRING, v FLOAT")
    store.insert("w", narrow)
    df = store.scan("w")
    assert df.schema["id"].dataType == T.LongType()
    assert df.schema["v"].dataType == T.DoubleType()
    assert df.count() == 2
    assert {r.id for r in df.collect()} == {1, 4}


def test_schema_namespaces(spark, tmp_path):
    """Schema sub-namespaces in the store (reference:
    storage/postgres_schema_set.cpp, attach_schemas.test)."""
    store = ManagedStore(spark, str(tmp_path / "schemadb"))
    store.create_schema("sales")
    store.create_schema("sales", if_not_exists=True)
    with pytest.raises(ValueError, match="already exists"):
        store.create_schema("sales")
    store.create_table("sales.orders", _mk(spark, [(1, "a", 1.0)]))
    store.create_table("toplevel", _mk(spark, [(2, "b", 2.0)]))
    assert store.schemas() == ["sales"]
    assert store.tables() == ["sales.orders", "toplevel"]
    assert store.scan("sales.orders").count() == 1
    with pytest.raises(ValueError, match="no such schema"):
        store.create_table("ghost.t", _mk(spark, [(1, "x", 1.0)]))
    with pytest.raises(ValueError, match="not empty"):
        store.drop_schema("sales")
    store.drop_schema("sales", cascade=True)
    assert store.tables() == ["toplevel"]


def test_store_views(spark, tmp_path):
    """Stored SQL views (reference: attach_views.test) — resolve
    against the current snapshot, refresh on DML, and register/drop
    through the SQL router."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute, pg_query
    root = str(tmp_path / "viewdb")
    seed = ManagedStore(spark, root)
    seed.create_table("nums", _mk(spark, [(1, "a", 10.0), (2, "b", 20.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="vdb")
    pg_execute(cat, "vdb",
               "CREATE VIEW big AS SELECT id, v FROM nums WHERE v > 15")
    assert cat.attached["vdb"].store.views() == ["big"]
    assert [r.id for r in spark.sql("SELECT * FROM vdb_big").collect()] == [2]
    # view follows DML on the base table
    pg_execute(cat, "vdb", "INSERT INTO nums VALUES (3, 'c', 30.0)")
    assert cat.attached["vdb"].store.scan_view("big").count() == 2
    pg_execute(cat, "vdb", "DROP VIEW big")
    assert cat.attached["vdb"].store.views() == []
    assert not spark.catalog.tableExists("vdb_big")
    cat.detach("vdb")


def test_store_views_survive_reattach(spark, tmp_path):
    """Views persist on disk: a fresh attach re-registers them."""
    from postgres_scanner_spark.catalog import Catalog
    root = str(tmp_path / "viewdb2")
    seed = ManagedStore(spark, root)
    seed.create_table("base", _mk(spark, [(1, "a", 5.0)]))
    seed.create_view("v5", "SELECT id FROM base WHERE v = 5.0")
    cat = Catalog(spark)
    cat.attach(root, alias="re")
    assert spark.sql("SELECT * FROM re_v5").count() == 1
    cat.detach("re")
    assert not spark.catalog.tableExists("re_v5")


def test_secret_attach(spark):
    """Credential-free attach via the secret registry (reference:
    attach_secret.test)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.connection import (
        create_secret, drop_secret, list_secrets)
    create_secret("corp", host="db.internal", port=5433,
                  database="prod", user="svc", password="pw",
                  sslmode="require")
    try:
        assert "corp" in list_secrets()
        cat = Catalog(spark)
        db = cat.attach("secret:corp", alias="sec")
        assert db.backend == "postgres"
        assert db.dsn == ("host=db.internal port=5433 dbname=prod "
                          "user=svc password=pw sslmode=require")
        with pytest.raises(KeyError):
            cat.attach("secret:nope", alias="x")
    finally:
        drop_secret("corp")


def test_sql_dml_schema_qualified(spark, tmp_path):
    """DML against schema-qualified tables through the router."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute
    root = str(tmp_path / "qualdb")
    seed = ManagedStore(spark, root)
    seed.create_schema("s1")
    seed.create_table("s1.t", _mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="qq")
    assert spark.sql("SELECT COUNT(*) AS n FROM qq_s1_t").collect()[0].n == 2
    pg_execute(cat, "qq", "DELETE FROM s1.t WHERE id = 1")
    assert cat.attached["qq"].store.scan("s1.t").count() == 1
    pg_execute(cat, "qq", "CREATE SCHEMA s2")
    pg_execute(cat, "qq",
               "CREATE TABLE s2.copy AS SELECT * FROM qq_s1_t")
    assert cat.attached["qq"].store.scan("s2.copy").count() == 1
    pg_execute(cat, "qq", "DROP TABLE s2.copy")
    pg_execute(cat, "qq", "DROP SCHEMA s2")
    assert cat.attached["qq"].store.schemas() == ["s1"]
    cat.detach("qq")


def test_sql_ddl_create_alter_index(spark, tmp_path):
    """Plain CREATE TABLE (column list), ALTER TABLE ADD/RENAME/DROP
    COLUMN, and CREATE INDEX through the SQL router (reference:
    attach_alter.test, attach_create_index.test, CreateTable DDL in
    postgres_table_set.cpp)."""
    from pyspark.sql import types as T
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute
    root = str(tmp_path / "ddldb")
    seed = ManagedStore(spark, root)
    seed.create_table("seedtab", _mk(spark, [(1, "a", 1.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="dl")

    pg_execute(cat, "dl",
               "CREATE TABLE typed (id BIGINT, name VARCHAR(30), "
               "price NUMERIC(10,2), created DATE, PRIMARY KEY (id))")
    st = cat.attached["dl"].store
    sch = st.scan("typed").schema
    assert sch["id"].dataType == T.LongType()
    assert sch["name"].dataType == T.StringType()
    assert sch["price"].dataType == T.DecimalType(10, 2)
    assert sch["created"].dataType == T.DateType()
    assert st.scan("typed").count() == 0

    pg_execute(cat, "dl", "INSERT INTO typed VALUES "
               "(1, 'x', 9.99, DATE '2024-01-01')")
    assert st.scan("typed").count() == 1

    pg_execute(cat, "dl", "ALTER TABLE typed ADD COLUMN qty INTEGER")
    assert st.scan("typed").schema["qty"].dataType == T.IntegerType()
    pg_execute(cat, "dl", "ALTER TABLE typed RENAME COLUMN qty TO amount")
    assert "amount" in st.scan("typed").columns
    pg_execute(cat, "dl", "ALTER TABLE typed DROP COLUMN amount")
    assert "amount" not in st.scan("typed").columns
    pg_execute(cat, "dl", "CREATE INDEX idx_id ON typed (id)")
    assert st.scan("typed").count() == 1
    cat.detach("dl")


def test_copy_to_partitioned(spark, tmp_path):
    """COPY TO with hive-style partitioning: downstream scans prune
    on the partition column (the 100 TB export layout)."""
    import os as _os
    df = spark.createDataFrame(
        [(i, "s%d" % (i % 3), float(i)) for i in range(30)],
        "id BIGINT, src STRING, v DOUBLE")
    out = str(tmp_path / "part_out")
    copy_to(df, out, format="binary", partition_by=["src"])
    assert sorted(d for d in _os.listdir(out) if d.startswith("src=")) == \
        ["src=s0", "src=s1", "src=s2"]
    back = copy_from(spark, out, format="binary")
    assert back.count() == 30
    assert back.filter(back.src == "s1").count() == 10


def test_temporary_tables(spark, tmp_path):
    """Session temp tables in the lazily-created pg_temp namespace
    (reference: test/sql/storage/attach_temporary_table.test:
    CREATE TABLE s.pg_temp.my_datasets → INSERT → SELECT; temp tables
    die with the session, here modeled by detach)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute, pg_query
    root = str(tmp_path / "tempdb")
    ManagedStore(spark, root).create_table(
        "base", _mk(spark, [(1, "a", 1.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="s")

    # CREATE TEMP TABLE rewrites into pg_temp; the schema materializes
    pg_execute(cat, "s", "CREATE TEMPORARY TABLE my_datasets(val VARCHAR)")
    store = cat.attached["s"].store
    assert "pg_temp" in store.schemas()
    assert "pg_temp.my_datasets" in store.tables()
    assert store.scan("pg_temp.my_datasets").count() == 0

    pg_execute(cat, "s",
               "INSERT INTO pg_temp.my_datasets VALUES ('hello world')")
    rows = pg_query(cat, "s", "SELECT * FROM s_pg_temp_my_datasets").collect()
    assert [r.val for r in rows] == ["hello world"]

    # TEMP spelling + IF NOT EXISTS + CTAS all route through the rewrite
    pg_execute(cat, "s", "CREATE TEMP TABLE IF NOT EXISTS my_datasets"
                         "(val VARCHAR)")
    pg_execute(cat, "s", "CREATE TEMP TABLE scratch AS "
                         "SELECT * FROM s_base")
    assert store.scan("pg_temp.scratch").count() == 1

    # qualified names never double-prefix
    pg_execute(cat, "s", "DROP TABLE pg_temp.scratch")
    assert "pg_temp.scratch" not in store.tables()

    # explicit qualifier WITH the TEMP keyword (valid PG): the
    # rewrite strips TEMP instead of skipping the statement
    pg_execute(cat, "s", "CREATE TEMP TABLE pg_temp.q2(val VARCHAR)")
    assert "pg_temp.q2" in store.tables()

    # detach = session end: the whole temp namespace is gone, base stays
    cat.detach("s")
    store2 = ManagedStore(spark, root)
    assert "pg_temp" not in store2.schemas()
    assert store2.tables() == ["base"]


def test_alter_rollback(spark, store):
    """ALTER TABLE inside a transaction is undone by ROLLBACK
    (reference: test/sql/storage/attach_alter_rollback.test)."""
    store.create_table("test", _mk(spark, [(42, "x", 1.0)]))
    store.begin()
    store.add_column("test", "j", "NULL", "int")
    assert "j" in store.scan("test").columns      # visible inside txn
    assert store.scan("test").collect()[0].j is None
    store.rollback()
    assert "j" not in store.scan("test").columns  # gone after rollback
    assert store.scan("test").count() == 1


def test_sql_attach_use_detach(spark, tmp_path):
    """Pure-SQL session driving, the reference's own surface:
    ATTACH 'src' AS s (TYPE POSTGRES) / USE s / DML / DETACH s
    (reference: postgres_attach.cpp; attach_simple.test,
    attach_read_only.test)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import execute_statement
    root = str(tmp_path / "sqldb")
    ManagedStore(spark, root).create_table(
        "t", _mk(spark, [(1, "a", 1.0)]))
    cat = Catalog(spark)
    execute_statement(cat, f"ATTACH '{root}' AS s (TYPE POSTGRES)")
    assert "s" in cat.attached
    execute_statement(cat, "USE s")
    execute_statement(cat, "INSERT INTO t VALUES (2, 'b', 2.0)")
    assert cat.attached["s"].store.scan("t").count() == 2
    # read-only second attach rejects writes
    root2 = str(tmp_path / "rodb")
    ManagedStore(spark, root2).create_table(
        "r", _mk(spark, [(9, "z", 0.0)]))
    execute_statement(cat, f"ATTACH '{root2}' AS ro "
                           f"(TYPE POSTGRES, READ_ONLY)")
    execute_statement(cat, "USE ro")
    with pytest.raises(PermissionError):
        execute_statement(cat, "DELETE FROM r")
    execute_statement(cat, "DETACH ro")
    assert "ro" not in cat.attached
    # current fell back to None; USE s restores
    execute_statement(cat, "USE s")
    execute_statement(cat, "DELETE FROM t WHERE id = 1")
    assert cat.attached["s"].store.scan("t").count() == 1
    with pytest.raises(ValueError):
        execute_statement(cat, "ATTACH 'x' AS bad (TYPE MYSQL)")
    # SELECT routes to pg_query and returns a DataFrame
    rows = execute_statement(cat, "SELECT * FROM s_t").collect()
    assert [r.id for r in rows] == [2]
    desc = execute_statement(cat, "DESCRIBE t")
    assert "column_name" in desc.columns
    # review regressions: detach clears current; a later ATTACH must
    # not hijack routing; read statements work on READ_ONLY attaches
    execute_statement(cat, "DETACH s")
    assert cat.current is None
    root3 = str(tmp_path / "db3")
    ManagedStore(spark, root3).create_table("t3", _mk(spark, [(7, "q", 7.0)]))
    execute_statement(cat, f"ATTACH '{root3}' AS s3 "
                           f"(TYPE POSTGRES, READ_ONLY)")
    assert cat.current == "s3"      # first attach with no current
    n = execute_statement(cat, "EXPLAIN SELECT * FROM s3_t3").count()
    assert n >= 1                    # read stmt allowed on READ_ONLY
    with pytest.raises(ValueError, match="needs a value"):
        execute_statement(cat, "ATTACH 'x' AS b2 (TYPE)")
    with pytest.raises(ValueError, match="SELECT statement"):
        from postgres_scanner_spark.queryfn import pg_query
        pg_query(cat, "s3", "DROP VIEW s3_t3")


def test_pg_query_semicolons_and_errors(spark, tmp_path):
    """pg_query parity with reference postgres_query.test tail: runs
    of trailing semicolons are stripped, empty statements and unknown
    aliases error with the reference's messages."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_query
    root = str(tmp_path / "qdb")
    ManagedStore(spark, root).create_table(
        "cars", _mk(spark, [(1, "red", 1.0), (2, "blue", 2.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="s1")
    n = pg_query(cat, "s1", "SELECT * FROM s1_cars; ;   ").count()
    assert n == 2
    with pytest.raises(ValueError, match="SELECT statement"):
        pg_query(cat, "s1", ";;")
    with pytest.raises(ValueError, match="SELECT statement"):
        pg_query(cat, "s1", "")
    with pytest.raises(KeyError, match="Failed to find attached"):
        pg_query(cat, "xx", "SELECT 1")


def test_merge_upsert(spark, store):
    """MERGE semantics: matched rows replaced, unmatched inserted,
    duplicate source keys rejected (SQL MERGE cardinality rule)."""
    store.create_table("t", _mk(spark, [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]))
    src = _mk(spark, [(2, "B2", 20.0), (4, "d", 4.0)])
    n_upd, n_ins = store.merge("t", src, ["id"])
    assert (n_upd, n_ins) == (1, 1)
    rows = {r.id: (r.name, r.v) for r in store.scan("t").collect()}
    assert rows == {1: ("a", 1.0), 2: ("B2", 20.0),
                    3: ("c", 3.0), 4: ("d", 4.0)}
    # update-only: unmatched source rows are ignored
    n_upd, n_ins = store.merge(
        "t", _mk(spark, [(1, "A9", 9.0), (99, "zz", 0.0)]), ["id"],
        insert_all=False)
    assert (n_upd, n_ins) == (1, 0)
    rows = {r.id: r.name for r in store.scan("t").collect()}
    assert rows[1] == "A9" and 99 not in rows
    # insert-only: matched rows untouched
    n_upd, n_ins = store.merge(
        "t", _mk(spark, [(2, "IGNORED", 0.0), (5, "e", 5.0)]), ["id"],
        update_all=False)
    assert (n_upd, n_ins) == (0, 1)
    rows = {r.id: r.name for r in store.scan("t").collect()}
    assert rows[2] == "B2" and rows[5] == "e"
    with pytest.raises(ValueError, match="duplicate join keys"):
        store.merge("t", _mk(spark, [(7, "x", 0.0), (7, "y", 0.0)]),
                    ["id"])


def test_merge_updates_every_duplicate_target_row(spark, store):
    """SQL MERGE's cardinality rule binds the SOURCE only: a target
    holding k rows for a key gets ALL k rows updated to the source
    version — never collapsed to one. Row count is preserved."""
    store.create_table("t", _mk(spark, [
        (1, "a", 1.0), (1, "a2", 1.5), (1, "a3", 1.7),
        (2, "b", 2.0)]))
    n_upd, n_ins = store.merge(
        "t", _mk(spark, [(1, "NEW", 9.0), (3, "c", 3.0)]), ["id"])
    assert (n_upd, n_ins) == (3, 1)
    rows = sorted((r.id, r.name, r.v) for r in store.scan("t").collect())
    assert rows == [(1, "NEW", 9.0), (1, "NEW", 9.0), (1, "NEW", 9.0),
                    (2, "b", 2.0), (3, "c", 3.0)]
    # insert-only leaves the duplicate group untouched
    n_upd, n_ins = store.merge(
        "t", _mk(spark, [(1, "IGN", 0.0), (4, "d", 4.0)]), ["id"],
        update_all=False)
    assert (n_upd, n_ins) == (0, 1)
    assert store.scan("t").filter("id = 1").count() == 3
    assert [r.name for r in
            store.scan("t").filter("id = 1").collect()] == ["NEW"] * 3


def test_merge_sql_routed(spark, tmp_path):
    """MERGE INTO through pg_execute: upsert form with a subquery
    source."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute
    root = str(tmp_path / "mergedb")
    seed = ManagedStore(spark, root)
    seed.create_table("accounts", _mk(spark, [
        (1, "alice", 10.0), (2, "bob", 20.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="db")
    _mk(spark, [(2, "bob2", 25.0), (3, "carol", 30.0)]) \
        .createOrReplaceTempView("updates_src")
    pg_execute(cat, "db",
               "MERGE INTO accounts USING "
               "(SELECT * FROM updates_src) AS s "
               "ON accounts.id = s.id "
               "WHEN MATCHED THEN UPDATE SET * "
               "WHEN NOT MATCHED THEN INSERT *")
    rows = {r.id: (r.name, r.v)
            for r in cat.table("db", "accounts").collect()}
    assert rows == {1: ("alice", 10.0), 2: ("bob2", 25.0),
                    3: ("carol", 30.0)}
    cat.detach("db")


def test_merge_null_keys_insert(spark, store):
    """NULL-keyed source rows never match (ON equality is not true for
    NULL), so they insert — even several of them — and do not trip
    the duplicate-key cardinality check."""
    store.create_table("t", _mk(spark, [(1, "a", 1.0)]))
    src = spark.createDataFrame(
        [(None, "n1", 0.1), (None, "n2", 0.2), (1, "A", 9.0)],
        "id BIGINT, name STRING, v DOUBLE")
    n_upd, n_ins = store.merge("t", src, ["id"])
    assert (n_upd, n_ins) == (1, 2)
    rows = sorted((r.name, r.id) for r in store.scan("t").collect())
    assert rows == [("A", 1), ("n1", None), ("n2", None)]


def test_merge_sql_rejects_or_and_literals(spark, tmp_path):
    """OR connectives and non-equality predicates in MERGE ON must
    raise, never silently degrade to a different condition."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute
    root = str(tmp_path / "mergeguard")
    ManagedStore(spark, root).create_table(
        "t", _mk(spark, [(1, "a", 1.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="db")
    _mk(spark, [(1, "x", 2.0)]).createOrReplaceTempView("g_src")
    for bad_on in ["t.id = s.id OR t.v = s.v",
                   "t.id = s.id AND t.name = 'EU'",
                   "t.id < s.id"]:
        with pytest.raises(ValueError, match="MERGE ON"):
            pg_execute(cat, "db",
                       f"MERGE INTO t USING (SELECT * FROM g_src) AS s "
                       f"ON {bad_on} "
                       f"WHEN MATCHED THEN UPDATE SET *")
    cat.detach("db")


def test_merge_sql_using_subquery_with_join_on(spark, tmp_path):
    """A USING subquery containing JOIN .. ON must parse (balanced-
    paren scan, not first-' ON '-wins)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute
    root = str(tmp_path / "mergejoin")
    ManagedStore(spark, root).create_table(
        "t", _mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="db")
    spark.createDataFrame([(2,), (3,)], "id BIGINT") \
        .createOrReplaceTempView("j_ids")
    _mk(spark, [(2, "b2", 22.0), (3, "c", 3.0), (9, "zz", 0.0)]) \
        .createOrReplaceTempView("j_rows")
    pg_execute(cat, "db",
               "MERGE INTO t USING "
               "(SELECT r.id, r.name, r.v FROM j_rows r "
               "JOIN j_ids i ON r.id = i.id) AS s "
               "ON t.id = s.id "
               "WHEN MATCHED THEN UPDATE SET * "
               "WHEN NOT MATCHED THEN INSERT *")
    rows = {r.id: r.name for r in cat.table("db", "t").collect()}
    assert rows == {1: "a", 2: "b2", 3: "c"}
    cat.detach("db")


def test_copy_sql_routed_binary_roundtrip(spark, tmp_path):
    """SQL-routed COPY ... TO / FROM with the PG binary wire format
    (reference: test/sql/misc/postgres_binary.test): unload a
    subquery to a PGCOPY file set, load it into a store table, and
    check the aggregate — plus the self-referential INSERT-from-scan
    (attach_insert_from_scan_large shape)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute, pg_query
    root = str(tmp_path / "copydb")
    seed = ManagedStore(spark, root)
    seed.create_table(
        "binary_copy_test",
        spark.createDataFrame([], "i INT"))
    cat = Catalog(spark)
    cat.attach(root, alias="db")
    out = str(tmp_path / "pg_binary.bin")
    spark.range(100).selectExpr("CAST(id AS INT) AS i") \
        .createOrReplaceTempView("r100")
    pg_execute(cat, "db",
               f"COPY (SELECT i FROM r100) TO '{out}' (FORMAT binary)")
    pg_execute(cat, "db",
               f"COPY binary_copy_test FROM '{out}' (FORMAT binary)")
    row = pg_query(cat, "db",
                   "SELECT COUNT(*) AS n, MIN(i) AS mn, MAX(i) AS mx, "
                   "SUM(i) AS s FROM binary_copy_test").collect()[0]
    assert (row.n, row.mn, row.mx, row.s) == (100, 0, 99, 4950)
    # table → file → same store, different table (text format)
    out2 = str(tmp_path / "copy.txt")
    pg_execute(cat, "db",
               f"COPY binary_copy_test TO '{out2}' (FORMAT text)")
    assert len(list((tmp_path / "copy.txt").glob("*.csv"))) >= 1
    # self-referential INSERT-from-scan doubles the table
    # (attach_insert_from_scan_large: INSERT INTO s.tbl FROM s.tbl)
    pg_execute(cat, "db",
               "INSERT INTO binary_copy_test "
               "SELECT * FROM binary_copy_test")
    assert cat.table("db", "binary_copy_test").count() == 200
    cat.detach("db")


def test_rename_table_sql_routed(spark, tmp_path):
    """ALTER TABLE .. RENAME TO through pg_execute (reference:
    attach_alter.test): data and constraints move, old views drop,
    new views resolve."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute, pg_query
    root = str(tmp_path / "renamedb")
    seed = ManagedStore(spark, root)
    seed.create_table("old_name", _mk(spark, [(1, "a", 1.0)]))
    cat = Catalog(spark)
    cat.attach(root, alias="db")
    pg_execute(cat, "db", "ALTER TABLE old_name RENAME TO new_name")
    assert cat.list_tables("db") == ["new_name"]
    assert pg_query(cat, "db",
                    "SELECT COUNT(*) AS n FROM new_name").collect()[0].n == 1
    with pytest.raises(Exception):
        pg_query(cat, "db", "SELECT * FROM old_name").collect()
    # rename onto an existing table must refuse
    seed2 = cat.attached["db"].store
    seed2.create_table("other", _mk(spark, [(2, "b", 2.0)]))
    with pytest.raises(ValueError, match="already exists"):
        seed2.rename_table("new_name", "other")
    cat.detach("db")


def test_truncate_and_uppercase_names(spark, tmp_path):
    """TRUNCATE TABLE empties without dropping; bare mixed-case names
    resolve case-insensitively through the session catalog
    (reference: attach_create_uppercase_names.test)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_execute, pg_query
    root = str(tmp_path / "updb")
    ManagedStore(spark, root)
    cat = Catalog(spark)
    cat.attach(root, alias="db")
    pg_execute(cat, "db",
               "CREATE TABLE MyTable AS SELECT 42 AS MyColumn, "
               "84 AS MySecondColumn")
    row = pg_query(cat, "db",
                   "SELECT MyColumn, MySecondColumn FROM MyTable"
                   ).collect()[0]
    assert (row.MyColumn, row.MySecondColumn) == (42, 84)
    pg_execute(cat, "db", "TRUNCATE TABLE MyTable")
    assert pg_query(cat, "db",
                    "SELECT COUNT(*) AS n FROM MyTable").collect()[0].n == 0
    assert "MyTable" in cat.list_tables("db")
    cat.detach("db")
