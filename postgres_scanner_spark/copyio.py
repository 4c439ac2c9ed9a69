"""COPY TO / COPY FROM — bulk load & unload.

Parity with reference src/postgres_copy_to.cpp,
src/postgres_copy_from.cpp, src/postgres_binary_copy.cpp: the
reference streams PG's COPY wire format (text or binary). Spark's
native "binary wire" between engines is Arrow/Parquet — columnar,
typed, splittable — so:
  format="binary"    → parquet  (the scalable path; Arrow-backed)
  format="text"      → csv      (COPY text-format parity, incl. NULL marker)
  format="pg_binary" → actual PGCOPY binary streams —
        byte-compatible with `COPY ... (FORMAT binary)`, one
        self-delimiting stream per Spark partition, exactly the
        reference's one-COPY-per-task parallel unload
        (postgres_binary_copy.cpp). Both directions run Arrow batches
        through the column-wise codec (pgwire_vec) inside mapInArrow.
        Use for interchange with a real Postgres; parquet remains the
        intra-Spark bulk format.
`pg_use_binary_copy` picks the default, same as the reference
(postgres_extension.cpp:162).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .settings import SETTINGS
from .types import wire_layout

_TEXT_OPTS = {"header": "false", "nullValue": "\\N", "delimiter": "\t",
              "timestampFormat": "yyyy-MM-dd HH:mm:ss[.SSSSSS]"}


def copy_to(df: DataFrame, path: str, *, format: str | None = None,
            mode: str = "overwrite",
            partition_by: list[str] | None = None) -> None:
    """COPY (SELECT ...) TO 'path' — distributed unload; every Spark
    partition writes its own file, which is exactly how the reference
    parallelizes COPY (one stream per task).

    `partition_by`: hive-style directory partitioning on the listed
    columns (COPY ... (PARTITION_BY ...) in engines that support it) —
    the layout a 100 TB export needs so downstream scans prune
    partitions instead of listing every file."""
    fmt = format or ("binary" if SETTINGS.pg_use_binary_copy else "text")
    if SETTINGS.pg_null_byte_replacement is not None:
        # reference: pg_null_byte_replacement (postgres_extension.cpp:179)
        # — NUL bytes are illegal in PG text values; scrub string cols
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        repl = SETTINGS.pg_null_byte_replacement
        df = df.select(*[
            F.regexp_replace(F.col(f.name), "\x00", repl).alias(f.name)
            if isinstance(f.dataType, T.StringType) else F.col(f.name)
            for f in df.schema.fields
        ])
    if fmt == "binary":
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
    elif fmt == "pg_binary":
        if partition_by:
            raise ValueError("partition_by requires format='binary'")
        _write_pg_binary(df, path, mode)
    elif fmt == "text":
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        for k, v in _TEXT_OPTS.items():
            w = w.option(k, v)
        w.csv(path)
    else:
        raise ValueError(f"unknown COPY format {fmt!r}")


def copy_from(spark: SparkSession, path: str, *, format: str | None = None,
              schema=None) -> DataFrame:
    """COPY table FROM 'path' — distributed load."""
    fmt = format or ("binary" if SETTINGS.pg_use_binary_copy else "text")
    if fmt == "binary":
        return spark.read.parquet(path)
    if fmt == "pg_binary":
        return _read_pg_binary(spark, path, schema)
    if fmt == "text":
        r = spark.read
        for k, v in _TEXT_OPTS.items():
            r = r.option(k, v)
        if schema is not None:
            r = r.schema(schema)
        else:
            r = r.option("inferSchema", "true")
        return r.csv(path)
    raise ValueError(f"unknown COPY format {fmt!r}")


def _write_pg_binary(df: DataFrame, path: str, mode: str) -> None:
    """Each partition emits one PGCOPY stream file (part-N.pgcopy) —
    a per-partition imperative sink for a wire format Spark has no
    writer for. Arrow-batched end to end: mapInArrow hands each
    partition's record batches straight to the vectorized column-wise
    encoder (pgwire_vec — byte-identical to the scalar pgwire
    contract, ~7x its throughput), so rows never materialize as
    Python objects on the hot path (the reference's writer is the
    vectorized C++ src/postgres_binary_copy.cpp)."""
    oids, array_elem, array_ndims, _ = wire_layout(df.schema)
    if mode == "overwrite":
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path) and mode == "error":
        raise FileExistsError(path)
    os.makedirs(path, exist_ok=True)

    # captured on the driver: SETTINGS is not propagated to workers
    null_repl = SETTINGS.pg_null_byte_replacement

    def write_part(batches):
        import pyarrow as pa
        from pyspark import TaskContext
        from postgres_scanner_spark.pgwire_vec import (
            VectorBinaryCopyWriter,
        )
        idx = TaskContext.get().partitionId()
        fn = os.path.join(path, f"part-{idx:05d}.pgcopy")
        with open(fn, "wb") as fh:
            n = VectorBinaryCopyWriter(
                oids, array_elem, array_ndims,
                null_repl).write_batches(fh, batches)
        yield pa.record_batch([pa.array([idx], pa.int64()),
                               pa.array([n], pa.int64())],
                              names=["idx", "n"])

    counts = df.mapInArrow(write_part, "idx long, n long").collect()
    if not counts:  # zero-partition frame still yields a valid stream
        from .pgwire_vec import VectorBinaryCopyWriter
        with open(os.path.join(path, "part-00000.pgcopy"), "wb") as fh:
            VectorBinaryCopyWriter(oids).write_batches(fh, [])


def _read_pg_binary(spark: SparkSession, path: str, schema) -> DataFrame:
    """Decode a directory of PGCOPY streams in parallel (one task per
    file): mapInArrow hands each file's bytes to the column-wise
    decoder (pgwire_vec.VectorBinaryCopyReader), which yields Arrow
    batches of the target schema — no Python row objects, no RDD.
    Like Postgres COPY FROM, the binary frame carries no type
    metadata — the target schema is required."""
    if schema is None:
        raise ValueError(
            "format='pg_binary' needs an explicit schema: the PGCOPY "
            "frame carries field bytes, not types (same contract as "
            "COPY table FROM ... (FORMAT binary))")
    oids, _, _, array_cols = wire_layout(schema)
    files = spark.read.format("binaryFile").load(
        os.path.join(path, "*.pgcopy")).select("content")

    def decode_part(batches):
        from postgres_scanner_spark.pgwire_vec import (
            VectorBinaryCopyReader,
        )
        reader = VectorBinaryCopyReader(oids, array_cols, schema)
        for b in batches:
            for content in b.column(0):
                yield from reader.read([content.as_buffer()])

    return files.mapInArrow(decode_part, schema)
