"""Parallel scan planning — the ctid-range task decomposition.

Parity with reference src/postgres_scanner.cpp:
- PrepareBind (lines 102-133): max_threads = approx_pages /
  pages_per_task; honors pg_use_ctid_scan / pg_pages_per_task.
- PostgresInitScanTask (line ~238): each task scans
  `ctid BETWEEN '(lo,0)' AND '(hi,0)'`.

Spark-first: each task becomes one `postgres_scan` DataSource
partition (pg_datasource.PostgresScanReader.partitions), so a
1000-executor cluster pulls disjoint page ranges concurrently — the
same parallelism strategy the reference uses for its own threads.
For the local parquet backend Spark's own file-split parallelism
replaces ctid ranges (parquet row groups are the moral equivalent).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .settings import DEFAULT_PAGES_PER_TASK


@dataclass
class ScanTask:
    """One unit of parallel work: a half-open page range."""
    page_min: int
    page_max: int

    @property
    def predicate(self) -> str:
        # reference: postgres_scanner.cpp:238
        return f"ctid BETWEEN '({self.page_min},0)'::tid AND '({self.page_max},0)'::tid"


def plan_scan_tasks(approx_pages: int, *,
                    pages_per_task: int = DEFAULT_PAGES_PER_TASK,
                    use_ctid_scan: bool = True,
                    max_tasks: int | None = None) -> list[ScanTask]:
    """Split a table of ~approx_pages heap pages into scan tasks.

    Mirrors PrepareBind: task count = max(pages/pages_per_task, 1);
    disabled ctid scan (or views/huge task sizes) degrades to one task.
    `max_tasks` caps fan-out the way pg_connection_limit bounds the
    reference's concurrent connections.
    """
    ppt = pages_per_task if pages_per_task > 0 else DEFAULT_PAGES_PER_TASK
    if not use_ctid_scan or approx_pages <= 0:
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
