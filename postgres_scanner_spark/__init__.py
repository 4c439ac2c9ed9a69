"""postgres_scanner_spark — a PySpark-native engine with the query and
data-processing capabilities of duckdb/postgres_scanner (reference at
/root/reference), plus large-scale training-data pipeline operators.

Public API mirrors the reference's function surface:
  attach / detach            (ATTACH ... TYPE postgres)
  PostgresScanDataSource     (postgres_scan: format("postgres_scan"))
  plan_scan_tasks            (ctid page-range task planning)
  pg_query / pg_execute      (postgres_query / postgres_execute)
  execute_statement          (session SQL: ATTACH / USE / DETACH / DML)
  copy_to / copy_from        (COPY ... incl. binary format)
  SETTINGS                   (pg_* options)
  ManagedStore               (writable attached storage: DML + txns)
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .catalog import AttachedDatabase, Catalog
from .connection import ConnectionInfo, parse_dsn
from .copyio import copy_from, copy_to
from .queryfn import execute_statement, pg_execute, pg_query
from .scan import parquet_scan, plan_scan_tasks
from .settings import SETTINGS, Settings
from .pg_datasource import PostgresScanDataSource
from .storage import ManagedStore

__all__ = [
    "AttachedDatabase", "Catalog", "ConnectionInfo", "ManagedStore",
    "PostgresScanDataSource", "SETTINGS", "Settings",
    "copy_from", "copy_to", "execute_statement",
    "get_spark", "parse_dsn", "parquet_scan", "pg_execute",
    "pg_query", "plan_scan_tasks",
]


def get_spark(app: str = "postgres_scanner_spark", *, cpus: str | int = "*",
              shuffle_partitions: int = 32) -> SparkSession:
    """Session tuned for the engine: UTC (timestamp determinism vs the
    DuckDB oracle), AQE on (runtime skew/shuffle re-planning — the
    100 TB safety net), Arrow on (pandas-UDF fast path)."""
    # Python workers must import this package regardless of the
    # driver's cwd (the external driver loads __spark_entry__ by path
    # from elsewhere): export the package parent on PYTHONPATH before
    # the JVM launches so every spawned worker inherits it. The worker
    # site hook goes first: its sitecustomize shadows any other, and
    # runs it; see _worker_site/sitecustomize.py
    import os
    from pathlib import Path
    here = Path(__file__).resolve().parent
    site, parent = str(here / "_worker_site"), str(here.parent)
    pp = os.environ.get("PYTHONPATH", "")
    pp = pp.split(os.pathsep) if pp else []
    if parent not in pp:
        pp.append(parent)
    if site not in pp:
        pp.insert(0, site)
    os.environ["PYTHONPATH"] = os.pathsep.join(pp)
    sess = (
        SparkSession.builder.master(f"local[{cpus}]").appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # 8g matches the driver's gate profile; big-SF local runs (the
        # sf10 blanket cert) override via env — on a real cluster this
        # is executor memory sized to the workload, and local[32] with
        # several concurrent heavy queries needs the same sizing call
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    _quiet_bounded_window_warns(sess)
    return sess


def _quiet_bounded_window_warns(spark: SparkSession) -> None:
    """Raise WindowExec's log level to ERROR: its "No Partition
    Defined" WARN fires even for the engine's adjudicated-bounded
    global windows (≤256-row bucket totals, post-limit ranks — see
    tests/test_scale_patterns.py window_ok), and the noise lets a
    REAL unbounded window hide. The machine-checked guard is the
    plan lint there, which fails any query whose physical plan
    carries an unpartitioned Window node outside that allowlist."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:
        pass  # log4j2 API absent (custom logging backend) — cosmetic
