"""Attach/detach catalog — the ATTACH (TYPE postgres) surface.

Parity with reference src/postgres_attach.cpp + src/storage/
postgres_catalog.cpp: an attached database exposes its tables as
queryable relations, supports listing, size introspection, a schema
cache with pg_clear_cache, and (through storage.py) writable DML.

Spark-first: an attached directory registers each table as a temp
view `{alias}_{table}` and in `spark.sql` via those names. Backends:
  - "parquet": a directory of {table}.parquet (a database stand-in).
  - "store": a ManagedStore directory (storage.py), writable.
  - "postgres" (a libpq DSN, a `postgres:` prefix or a `secret:`
    name): a live server, read through the `postgres_scan`
    DataSource (pg_datasource.py). The attach is lazy: it opens no
    connection and registers no views; a table is read through
    `Catalog.table`, and SQL reaches the server through `pg_query`.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .connection import ConnectionInfo, parse_dsn, resolve_secret
from .scan import parquet_scan
from .settings import SETTINGS, register_cache_clearer

_log = logging.getLogger(__name__)

# what reading another attach's table can raise when that table is
# gone or unreadable: a missing attach or store entry, a missing file,
# or Spark's analysis error for a missing path or remote table
_LOOKUP_ERRORS = (KeyError, ValueError, OSError, AnalysisException)


def _is_store_dir(path: str) -> bool:
    """A ManagedStore root: the _managed_store marker (written by
    ManagedStore.__init__ so even an empty store attaches writable),
    or legacy layout markers — subdirectories with a _current pointer,
    a _schema namespace marker, or stored view SQL."""
    try:
        if os.path.isfile(os.path.join(path, "_managed_store")):
            return True
        return any(
            os.path.isfile(os.path.join(path, d, "_current"))
            or os.path.isfile(os.path.join(path, d, "_schema"))
            or d.endswith(".view.sql")
            for d in os.listdir(path))
    except OSError:
        return False


def _bind_view(df: DataFrame, name: str) -> None:
    """Register `df` as the temp view `name`, quoted so that a table
    name which is no bare identifier (a Postgres "a;b") binds as
    written."""
    df.createOrReplaceTempView("`" + name.replace("`", "``") + "`")


@dataclass
class AttachedDatabase:
    alias: str
    source: str                   # dsn or directory path
    backend: str                  # "parquet" | "store" | "postgres"
    read_only: bool = False
    conn: ConnectionInfo | None = None   # backend == "postgres"
    store: object = None          # ManagedStore when backend == "store"
    schema: str | None = None     # attach restricted to one schema
    _table_cache: dict[str, DataFrame] = field(default_factory=dict)
    views: list[str] = field(default_factory=list)  # every temp view we own

    def table_names(self) -> list[str]:
        if self.backend == "store":
            tables = self.store.tables()
            if self.schema is not None:
                # SCHEMA attach param (attach_schema_param.test):
                # expose only that schema's tables
                tables = [t for t in tables
                          if t.partition(".")[0] == self.schema
                          and "." in t]
            return tables
        if self.backend == "parquet":
            return sorted(
                f[: -len(".parquet")]
                for f in os.listdir(self.source)
                if f.endswith(".parquet")
            )
        # live Postgres: the tables of the attached schema (reference:
        # postgres_table_set.cpp LoadEntries), restricted to `schema`
        # when given (bug63.test source_schema)
        from .pushdown import quote_literal
        rows = self._probe(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_catalog = current_database() AND "
            f"table_schema = {quote_literal(self.schema or 'public')}")
        return sorted(r[0] for r in rows)

    def _probe(self, sql: str) -> list:
        """The rows of one catalog query on the live server."""
        from .pg_datasource import _ProbeConn
        with _ProbeConn(self.dsn) as pc:
            return pc.exec(sql)

    @property
    def dsn(self) -> str:
        """What the `postgres_scan` DataSource connects with: the libpq
        DSN rendered from `conn` (so a secret or `postgres:` prefix
        never leaks)."""
        return self.conn.dsn


class Catalog:
    """Session-level registry of attached databases
    (reference: storage/postgres_catalog.cpp)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.attached: dict[str, AttachedDatabase] = {}
        # session's current database (SQL USE); owned here so the
        # direct API and the SQL router stay consistent
        self.current: str | None = None
        # a changed setting invalidates cached tables, which carry the
        # settings as options (reference: postgres_extension.cpp:171-173)
        register_cache_clearer(self.clear_cache)

    # -- reference: postgres_attach.cpp AttachFunction
    def attach(self, source: str, alias: str = "pg", *,
               read_only: bool = False, register_views: bool = True,
               schema: str | None = None) -> AttachedDatabase:
        """`schema` restricts the attach to one namespace (reference:
        ATTACH ... (TYPE POSTGRES, SCHEMA 'x'), attach_schema_param
        .test): only that schema's tables register, addressable both
        qualified and by bare table name."""
        if alias in self.attached:
            raise ValueError(f"database {alias!r} already attached")
        return self.add(self.resolve(source, alias, read_only=read_only,
                                     schema=schema),
                        register_views=register_views)

    def resolve(self, source: str, alias: str, *, read_only: bool = False,
                schema: str | None = None) -> AttachedDatabase:
        """The database `source` names, checked but not yet attached:
        a source that cannot attach raises here, before anything in
        the session changes."""
        if source.startswith("secret:"):
            # credential-free attach (reference: attach_secret.test):
            # the DSN comes from the secret registry, never the string
            db = AttachedDatabase(
                alias, source, "postgres", read_only,
                conn=resolve_secret(source[len("secret:"):]))
        elif os.path.isdir(source) and _is_store_dir(source):
            # a ManagedStore directory: writable attached database
            from .storage import ManagedStore
            db = AttachedDatabase(alias, source, "store", read_only)
            db.store = ManagedStore(self.spark, source)
        elif os.path.isdir(source):
            db = AttachedDatabase(alias, source, "parquet", read_only)
        else:
            from .pg_datasource import refuse_standin
            refuse_standin(source, "ATTACH")
            if os.path.sep in source and "=" not in source \
                    and "://" not in source:
                # a filesystem path that is NOT a directory — failing
                # here beats silently treating it as a libpq DSN
                # (reference: attach_non_existent.test errors cleanly)
                if os.path.exists(source):
                    raise ValueError(
                        f"database path {source!r} is not a database "
                        f"directory")
                raise ValueError(
                    f"database path {source!r} does not exist")
            db = AttachedDatabase(alias, source, "postgres", read_only,
                                  conn=parse_dsn(source))
        db.schema = schema
        return db

    def add(self, db: AttachedDatabase, *,
            register_views: bool = True) -> AttachedDatabase:
        """Attach a resolved database under its alias."""
        if db.backend == "postgres":
            from .pg_datasource import ensure_registered
            ensure_registered(self.spark)
        self.attached[db.alias] = db
        try:
            if register_views and db.backend in ("parquet", "store"):
                self.refresh_views(db)
        except Exception:
            # a failed attach must not leak a half-registered alias
            # (the next attempt would die on 'already attached')
            self.attached.pop(db.alias, None)
            raise
        return db

    def refresh_views(self, db: AttachedDatabase) -> None:
        """(Re)bind the temp views of every table of `db` and, for a
        store, of every stored view to the current snapshot. The
        names are tracked on `db` so detach() drops them all;
        db.table_names() honours a SCHEMA-scoped attach."""
        for t in db.table_names():
            self.register_table_views(db, t)
        if db.backend == "store":
            # stored views resolve AFTER their base tables exist
            # (reference: attach_views.test)
            for v in db.store.views():
                df = db.store.scan_view(v, register=False)
                for name in (f"{db.alias}_{v}", v):
                    _bind_view(df, name)
                    if name not in db.views:
                        db.views.append(name)

    def register_table_views(self, db: AttachedDatabase, t: str) -> None:
        safe = t.replace(".", "_")   # schema-qualified → underscore form
        names = [f"{db.alias}_{safe}", safe]
        if db.schema is not None and t.startswith(db.schema + "."):
            # schema-scoped attach: the bare table name resolves too
            # (attach_schema_param.test: SELECT * FROM s.some_table)
            names.append(t.partition(".")[2])
        df = self.table(db.alias, t)
        for v in names:
            _bind_view(df, v)
            if v not in db.views:
                db.views.append(v)

    def drop_table_views(self, db: AttachedDatabase, t: str) -> None:
        """Called when a table disappears (pg_execute DROP TABLE) —
        must drop EVERY name register_table_views created, including
        the bare short name a schema-scoped attach registers."""
        safe = t.replace(".", "_")
        names = [f"{db.alias}_{safe}", safe]
        if db.schema is not None and t.startswith(db.schema + "."):
            names.append(t.partition(".")[2])
        for v in names:
            if v in db.views:
                self._release_view(db, v)
                db.views.remove(v)

    def _release_view(self, db: AttachedDatabase, name: str) -> None:
        """Drop a temp view this attach owns — unless another attached
        database also registered the same (bare) name, in which case
        that database's binding is restored instead of destroyed."""
        for other in self.attached.values():
            if other is db or name not in other.views:
                continue
            try:
                if other.backend == "store":
                    if name in other.store.tables():
                        src = other.store.scan(name)
                    elif name in other.store.views():
                        src = other.store.scan_view(name, register=False)
                    else:
                        continue
                else:
                    src = self.table(other.alias, name)
                _bind_view(src, name)
                return
            except _LOOKUP_ERRORS as exc:
                _log.warning("view %r: cannot rebind it to attached "
                             "database %r, trying the next: %s",
                             name, other.alias, exc)
        self.spark.catalog.dropTempView(name)

    def detach(self, alias: str) -> None:
        db = self.attached.pop(alias)
        if self.current == alias:
            self.current = None
        # drop every view this attach registered — both the prefixed and
        # the bare names, tracked at registration time so tables dropped
        # or created since attach are handled too; bare names shared
        # with another attached database re-bind to that database
        for v in db.views:
            self._release_view(db, v)
        db.views.clear()
        if db.backend == "store":
            # session temp tables die with the session (reference:
            # attach_temporary_table.test — pg_temp is per-connection)
            db.store.drop_schema("pg_temp", if_exists=True, cascade=True)

    def table(self, alias: str, name: str) -> DataFrame:
        db = self.attached[alias]
        if name in db._table_cache:
            return db._table_cache[name]
        if db.backend == "store":
            return db.store.scan(name)   # never cache: DML moves the pointer
        if db.backend == "parquet":
            df = parquet_scan(self.spark, os.path.join(db.source, f"{name}.parquet"))
        else:
            # postgres: the postgres_scan DataSource, with the
            # session's settings as options. Pushdown off: attached
            # relations are long-lived (temp views, repeated queries)
            # and the Python DS API scopes pushed filters to the
            # relation, not the query (see pg_datasource)
            r = (self.spark.read.format("postgres_scan")
                 .options(**SETTINGS.scan_options())
                 .option("dsn", db.dsn).option("table", name)
                 .option("pg_experimental_filter_pushdown", "false"))
            if db.schema is not None:
                r = r.option("schema", db.schema)
            df = r.load()
        db._table_cache[name] = df
        return df

    def list_tables(self, alias: str) -> list[str]:
        """reference: storage/postgres_table_set.cpp LoadEntries"""
        return self.attached[alias].table_names()

    def database_size(self, alias: str) -> int:
        """reference: postgres_database_size → pg_database_size(); a
        directory attach: bytes on disk of the attached dataset."""
        db = self.attached[alias]
        if db.backend == "postgres":
            return int(db._probe(
                "SELECT pg_database_size(current_database())")[0][0])
        total = 0
        for root, _, files in os.walk(db.source):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def clear_cache(self, alias: str | None = None) -> None:
        """reference: pg_clear_cache table function
        (postgres_extension.cpp:133-136)."""
        targets = [self.attached[alias]] if alias else self.attached.values()
        for db in targets:
            db._table_cache.clear()

    def copy_database(self, alias: str, store) -> list[str]:
        """COPY FROM DATABASE — snapshot every table of an attached
        database into a ManagedStore (reference:
        test/sql/storage/attach_copy_from_database.test). Each table
        copies as one distributed write; at scale this is the
        bulk-migration path (per-table parallel scans → parquet)."""
        copied = []
        for t in self.list_tables(alias):
            if "." in t:
                # schema-qualified source tables need their namespace
                # created in the target first
                store.create_schema(t.partition(".")[0],
                                    if_not_exists=True)
            store.create_table(t, self.table(alias, t), if_not_exists=False)
            copied.append(t)
        return copied
