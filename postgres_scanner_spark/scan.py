"""Parallel scan planning — the ctid-range task decomposition.

Parity with reference src/postgres_scanner.cpp:
- PrepareBind (lines 102-133): max_threads = approx_pages /
  pages_per_task; honors pg_use_ctid_scan / pg_pages_per_task.
- PostgresInitScanTask (line ~238): each task scans
  `ctid BETWEEN '(lo,0)' AND '(hi,0)'`.

Spark-first: each task becomes one JDBC partition predicate, so a
1000-executor cluster pulls disjoint page ranges concurrently — the
same parallelism strategy the reference uses for its own threads.
For the local parquet backend Spark's own file-split parallelism
replaces ctid ranges (parquet row groups are the moral equivalent).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from .connection import ConnectionInfo, parse_dsn
from .pushdown import render_select, transform_filters
from .settings import SETTINGS

_log = logging.getLogger(__name__)


@dataclass
class ScanTask:
    """One unit of parallel work: a half-open page range."""
    page_min: int
    page_max: int

    @property
    def predicate(self) -> str:
        # reference: postgres_scanner.cpp:238
        return f"ctid BETWEEN '({self.page_min},0)'::tid AND '({self.page_max},0)'::tid"


def plan_scan_tasks(approx_pages: int, *, pages_per_task: int | None = None,
                    use_ctid_scan: bool | None = None,
                    max_tasks: int | None = None) -> list[ScanTask]:
    """Split a table of ~approx_pages heap pages into scan tasks.

    Mirrors PrepareBind: task count = max(pages/pages_per_task, 1);
    disabled ctid scan (or views/huge task sizes) degrades to one task.
    `max_tasks` caps fan-out the way pg_connection_limit bounds the
    reference's concurrent connections.
    """
    ppt = pages_per_task if pages_per_task is not None else SETTINGS.pg_pages_per_task
    use_ctid = use_ctid_scan if use_ctid_scan is not None else SETTINGS.pg_use_ctid_scan
    if ppt <= 0:
        ppt = SETTINGS.pg_pages_per_task
    if not use_ctid or approx_pages <= 0:
        return [ScanTask(0, 2**31 - 1)]
    n_tasks = max(approx_pages // ppt, 1)
    if max_tasks is not None:
        n_tasks = max(1, min(n_tasks, max_tasks))
    step = max(approx_pages // n_tasks, 1)
    tasks = []
    lo = 0
    for i in range(n_tasks):
        hi = approx_pages if i == n_tasks - 1 else lo + step
        tasks.append(ScanTask(lo, 2**31 - 1 if i == n_tasks - 1 else hi))
        lo = hi
    return tasks


def jdbc_scan(
    spark: SparkSession,
    dsn: str | ConnectionInfo,
    table: str,
    *,
    schema: str = "public",
    columns: Sequence[str] | None = None,
    filters: Sequence[Sequence] | None = None,
    approx_pages: int | None = None,
) -> DataFrame:
    """Scan a live Postgres table through Spark's JDBC source with
    ctid-range partition predicates — the distributed analog of the
    reference's threaded COPY scan. Untestable without a server in
    this container; the option-construction is what the tests cover
    (build_jdbc_options)."""
    url, props, predicates = build_jdbc_options(
        dsn, table, schema=schema, columns=columns, filters=filters,
        approx_pages=approx_pages)
    dbtable = props.pop("dbtable")
    if predicates:
        # partitioned read: dbtable is the BASE table (ctid is a system
        # column — it cannot resolve against a subquery), and the pushed
        # WHERE filters ride inside each per-partition predicate.
        # Projection happens via .select — Spark's JDBC relation compiles
        # the required-column list into its generated SELECT.
        df = spark.read.jdbc(url, dbtable, predicates=predicates,
                             properties=props)
        return df.select(*columns) if columns else df
    reader = spark.read.format("jdbc").option("url", url) \
        .option("dbtable", dbtable)
    for k, v in props.items():
        reader = reader.option(k, v)
    return reader.load()


def build_jdbc_options(
    dsn: str | ConnectionInfo,
    table: str,
    *,
    schema: str = "public",
    columns: Sequence[str] | None = None,
    filters: Sequence[Sequence] | None = None,
    approx_pages: int | None = None,
) -> tuple[str, dict, list[str]]:
    """Pure planner: (jdbc_url, properties, partition_predicates).

    Projection+filter pushdown land in a subquery dbtable (the JDBC
    source's pushdown vehicle); ctid tasks become the `predicates`
    list so each Spark partition reads a disjoint page range.
    """
    info = parse_dsn(dsn) if isinstance(dsn, str) else dsn
    props = dict(info.jdbc_properties())
    props["fetchsize"] = "10000"
    if not SETTINGS.pg_experimental_filter_pushdown:
        # reference: pg_experimental_filter_pushdown=false keeps filters
        # local (Spark still applies them post-scan; semantics identical)
        filters = None
    predicates: list[str] = []
    if approx_pages and SETTINGS.pg_use_ctid_scan:
        tasks = plan_scan_tasks(approx_pages,
                                max_tasks=SETTINGS.pg_connection_limit)
        if len(tasks) > 1:
            predicates = [t.predicate for t in tasks]
    if predicates:
        # ctid partitioning: dbtable must stay the base table so the
        # system column resolves; fold pushed filters into each
        # per-partition predicate instead of a subquery
        where = transform_filters(filters or [])
        if where:
            cond = where[len("WHERE "):]
            predicates = [f"{p} AND ({cond})" for p in predicates]
        props["dbtable"] = f'"{schema}"."{table}"'
        if SETTINGS.pg_debug_show_queries:
            _log.info("pg scan %s WHERE %s (+%d more tasks)",
                      props["dbtable"], predicates[0], len(predicates) - 1)
        return info.jdbc_url, props, predicates
    inner = render_select(table, columns, filters, schema=schema)
    props["dbtable"] = f"({inner}) AS scan_subq"
    if SETTINGS.pg_debug_show_queries:
        _log.info("pg scan %s", inner)
    return info.jdbc_url, props, predicates


def parquet_scan(spark: SparkSession, path: str, *, columns=None,
                 filters_expr: str | None = None) -> DataFrame:
    """Local/test backend: the parquet file IS the heap table; Spark's
    file splits give the ctid-range parallelism and Catalyst pushes
    filters/projections into the scan (check .explain PushedFilters)."""
    df = spark.read.parquet(path)
    if filters_expr:
        df = df.filter(filters_expr)
    if columns:
        df = df.select(*columns)
    return df
