"""Event-stream operators (SURVEY.md §2 E1-E16).

The reference's scan surface is batch-only; this module extends the
engine to Spark's native streaming model. E1/E2/E4/E5 are
batch-on-events plans with DuckDB oracles; E3 is a genuine Structured
Streaming pipeline (file source → watermark → windowed agg →
availableNow drain into a memory sink) checked rows-only by the
driver.

Scale: windowed aggs shuffle on (window, key) — bounded state via
watermark; sessionization uses session_window so state is
per-active-session, not per-event.
"""

from __future__ import annotations

import uuid

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..runtime import money_u as _money_u, sum_money as _sum_money

_GAP_MIN = 30

# State-store instances scale with shuffle partitions; size them to
# the stateful KEY cardinality, not the CPU count (150 users here —
# 32 stores per stateful op would be 4× instantiation overhead for
# no parallelism gain; at production cardinalities raise this).
_STREAM_STATE_PARTITIONS = 8


class _stream_shuffle:
    """Temporarily pin shuffle partitions while a streaming query is
    planned+drained (the stream captures the setting at start)."""

    def __init__(self, spark: SparkSession,
                 n: int = _STREAM_STATE_PARTITIONS):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def _drain(q, timeout_s: int | None = None) -> None:
    """Await an availableNow drain; fail LOUDLY on timeout instead of
    letting callers read a partially-filled memory sink from a query
    that is still running (a truncated result would surface as a
    baffling oracle mismatch far from the cause). 300 s covers every
    op at gate SF with 10× headroom; big-SF certification runs under
    concurrent load override via SPARK_GRAFT_DRAIN_TIMEOUT."""
    if timeout_s is None:
        import os
        timeout_s = int(os.environ.get("SPARK_GRAFT_DRAIN_TIMEOUT", "300"))
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming drain exceeded {timeout_s}s; partial results "
            "discarded")
    _lint_stream_plan(q)


def _lint_stream_plan(q) -> None:
    """Drain-time scale lint for streaming plans. The batch plan lint
    (tests/test_scale_patterns.py) skips streaming queries because
    their plans only materialize per micro-batch, and get_spark()
    silences WindowExec's "No Partition Defined" WARN session-wide —
    so an unpartitioned window (or cartesian product) introduced in a
    streaming op would otherwise be neither warned nor linted (r10
    advice). Inspect the last executed micro-batch plan here, on
    every drain, and fail loudly."""
    try:
        plan = q._jsq.explainInternal(False)
    except Py4JError:
        return          # no batch executed (empty source) — nothing to lint
    if "CartesianProduct" in plan:
        raise AssertionError(
            f"streaming plan contains CartesianProduct:\n{plan}")
    # Unpartitioned-window check reads partitionSpec() off the executed
    # plan OBJECTS rather than counting "], [" groups in the text form:
    # Spark elides empty arg lists when printing, so a partitioned
    # window with an empty ORDER BY prints the same two bracket groups
    # as a global window and the text heuristic false-positives (r11
    # advice). The object walk is exact for every *Window*Exec variant.
    try:
        last = q._jsq.streamingQuery().lastExecution()
    except Py4JError:
        return          # wrapper/plan shape changed — text lint above ran
    if last is None:
        return          # no batch executed (empty source) — nothing to lint
    stack = [last.executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if "Window" in name:
            try:
                unpartitioned = node.partitionSpec().isEmpty()
            except Py4JError:
                unpartitioned = False   # variant without a partitionSpec
            if unpartitioned:
                raise AssertionError(
                    f"streaming plan contains an UNPARTITIONED window "
                    f"(all rows to one task): {name}: "
                    f"{node.simpleString(160)}")
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


def _stage_symlink(src: str) -> str:
    """Spark's file-stream source needs a DIRECTORY; stage the single
    source parquet behind a /tmp symlink dir (testdata is read-only).
    One implementation for every streaming op: lexists handles a
    dangling symlink left by a deleted-and-recreated source, and the
    FileExistsError guard tolerates two sessions staging concurrently.
    A symlink always resolves to the CURRENT source content, so no
    content keying is needed (unlike e10's materialized batches)."""
    import hashlib
    import os
    # a RELATIVE src would become a symlink target resolved against
    # /tmp (dangling -> the stream source reads an empty dir and
    # every drain returns 0 rows — caught by the r10 sf1 blanket run
    # invoked with a relative sf_dir); absolutize before keying too,
    # so ".benchdata/sf1" and its absolute spelling share a spool
    src = os.path.abspath(src)
    stage = os.path.join(
        "/tmp", "pg_spark_stream_" + hashlib.md5(src.encode()).hexdigest()[:8])
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if os.path.lexists(link) and not os.path.exists(link):
        os.unlink(link)                   # dangling: retarget
    if not os.path.lexists(link):
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass                          # concurrent stager won
    return stage


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import tables
    return tables.load(spark, sf_dir, "events")


# ---------------------------------------------- E1 tumbling-window agg
def e1_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _ev(spark, sf_dir)
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")),
                          "yyyy-MM-dd HH:00").alias("hour"),
            "event_type")
        .agg(F.count("*").alias("n"),
             _sum_money(_money_u("value"), 2)
             .alias("sum_value"))
        .orderBy("hour", "event_type")
    )


_E1_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events GROUP BY hour, event_type ORDER BY hour, event_type
"""


# ------------------------------------------------- E2 sessionization
def e2_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min) via Spark's native session_window;
    per-user session stats. The oracle replicates the same semantics
    with lag + cumulative sum."""
    e = _ev(spark, sf_dir)
    sess = (
        e.groupBy(F.session_window("ts", f"{_GAP_MIN} minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return (
        sess.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"),
             F.max("n_events").alias("max_session_events"),
             F.sum("n_events").alias("total_events"))
        .orderBy("user_id")
    )


_E2_SQL = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked),
per_sess AS (
  SELECT user_id, sess_id, COUNT(*) AS n_events
  FROM sess GROUP BY user_id, sess_id)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
       CAST(SUM(n_events) AS BIGINT) AS total_events
FROM per_sess GROUP BY user_id ORDER BY user_id
"""


# ------------------------------------- E3 Structured Streaming pipeline
def e3_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream(parquet) → watermark(1h) → tumbling window agg →
    availableNow drain to a memory sink. Complete output mode keeps
    every window in state, so a full drain equals the batch hourly
    rollup — full DuckDB oracle (the watermark only bounds state in
    append mode)."""
    import hashlib
    import os
    # Spark's file stream source requires a directory; stage the
    # single events.parquet behind a symlink dir (testdata is read-only)
    src = f"{sf_dir}/events.parquet"
    stage = _stage_symlink(src)
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.date_format("window.start", "yyyy-MM-dd HH:00").alias("hour"),
                "event_type", "n")
    )
    with _stream_shuffle(spark):
        q = (stream.writeStream.format("memory")
             .queryName("e3_hourly")
             .outputMode("complete")
             .trigger(availableNow=True)
             .start())
        _drain(q)
    return spark.table("e3_hourly").orderBy("hour", "event_type")


# ------------------------------------------------- E4 top-k by value
def e4_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _ev(spark, sf_dir)
    return (
        e.groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             _sum_money(_money_u("value"), 2)
             .alias("total_value"))
        .orderBy(F.desc("total_value"), "user_id")
        .limit(10)
    )


_E4_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
ORDER BY total_value DESC, user_id LIMIT 10
"""


# --------------------------------------------------- E5 event funnel
def e5_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel on first-occurrence
    ordering per user."""
    e = _ev(spark, sf_dir)
    firsts = (
        e.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(F.min("ts"))
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count(F.col("view")).alias("n_view"),
        F.count(F.when(F.col("view") < F.col("click"), 1)).alias("n_view_click"),
        F.count(F.when((F.col("view") < F.col("click"))
                       & (F.col("click") < F.col("purchase")), 1))
        .alias("n_full_funnel"))


_E5_SQL = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS v,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS c,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
  FROM events
  WHERE event_type IN ('view','click','purchase')
  GROUP BY user_id)
SELECT COUNT(*) AS n_users,
       COUNT(v) AS n_view,
       COUNT(CASE WHEN v < c THEN 1 END) AS n_view_click,
       COUNT(CASE WHEN v < c AND c < p THEN 1 END) AS n_full_funnel
FROM firsts
"""


# -------------------- E6 custom stateful operator (applyInPandasWithState)
def e6_stateful_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running high-value
    counter via applyInPandasWithState — the Spark-native mechanism
    for operators the built-in windowed aggs can't express (reference
    parity: this is the extension point the engine offers where the
    reference offers none; streams are beyond postgres_scanner's
    surface).

    State per user: (n_events, n_high, max_value). Each micro-batch
    emits the updated running state; the returned result keeps each
    user's FINAL state, which after a full drain equals the batch
    aggregate — so even the custom stateful operator gets a full
    cross-engine oracle (the per-batch emissions still exercise the
    incremental state machinery).
    """
    import hashlib
    import os

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = f"{sf_dir}/events.parquet"
    stage = _stage_symlink(src)

    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    schema = spark.read.parquet(src).schema
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_high", T.LongType()),
        T.StructField("max_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n_events", T.LongType()),
        T.StructField("n_high", T.LongType()),
        T.StructField("max_value", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n_events, n_high, max_value = (
            state.get if state.exists else (0, 0, 0.0))
        for pdf in pdfs:
            n_events += len(pdf)
            n_high += int((pdf["value"] > 400.0).sum())
            if len(pdf):
                max_value = max(max_value, float(pdf["value"].max()))
        state.update((n_events, n_high, max_value))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n_events],
                            "n_high": [n_high], "max_value": [max_value]})

    stream = (
        spark.readStream.schema(schema).parquet(stage)
        # the counter reads only (user_id, value): project before the
        # stateful operator so the keyed exchange and per-key Arrow
        # transfer don't carry ts/event_type/props (e23's finding)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)
    )
    with _stream_shuffle(spark):
        q = (stream.writeStream.format("memory").queryName("e6_state")
             .outputMode("update").trigger(availableNow=True).start())
        _drain(q)
    # final state per user (n_events is monotone across emissions)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (spark.table("e6_state")
            .withColumn("rk", F.row_number().over(w)).filter("rk = 1")
            .select("user_id", "n_events", "n_high", "max_value")
            .orderBy("user_id"))


_E6_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN value > 400.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high,
       MAX(value) AS max_value
FROM events GROUP BY user_id ORDER BY user_id
"""


# --------------------------- E7 streaming dedup (dropDuplicates)
def e7_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: readStream → dropDuplicates on
    (user_id, event_type) → per-type distinct-user counts, drained
    with availableNow into a complete-mode memory sink.

    This is the training-pipeline "dedup on ingest" shape: the
    streaming state keeps one entry per distinct key (at 100 TB the
    key set, not the event volume, bounds memory; add a watermark +
    dropDuplicatesWithinWatermark to bound it in event time). After a
    full drain the result equals the batch distinct count, so unlike
    most streaming ops it has a full DuckDB oracle."""
    import hashlib
    import os
    src = f"{sf_dir}/events.parquet"
    stage = _stage_symlink(src)
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).parquet(stage)
        # only the dedup key matters downstream: project first so the
        # dedup-state exchange carries two columns, not the event row
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique_users"))
    )
    with _stream_shuffle(spark):
        q = (stream.writeStream.format("memory").queryName("e7_dedup")
             .outputMode("complete").trigger(availableNow=True).start())
        _drain(q)
    return spark.table("e7_dedup").orderBy("event_type")


_E7_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_unique_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def e8_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: every view joined to the same
    user's clicks landing within the next hour, both sides genuine
    readStream sources with watermarks.

    The watermark + interval condition bound the join state to one
    hour of events per side (reference has no streaming surface; this
    is the Spark-native extension of the scan API). Inner interval
    joins emit matches immediately, so a full availableNow drain
    equals the batch join — full DuckDB oracle."""
    import hashlib
    import os
    src = f"{sf_dir}/events.parquet"
    stage = _stage_symlink(src)
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    schema = spark.read.parquet(src).schema

    def side(evt: str, pfx: str):
        return (
            spark.readStream.schema(schema).parquet(stage)
            .filter(F.col("event_type") == evt)
            .select(F.col("user_id").alias(f"{pfx}_user"),
                    # watermark needs TIMESTAMP (session is pinned
                    # UTC, so NTZ→TZ is a no-op relabel)
                    F.col("ts").cast("timestamp").alias(f"{pfx}_ts"),
                    F.col("event_id").alias(f"{pfx}_id"))
            .withWatermark(f"{pfx}_ts", "2 hours"))

    joined = side("view", "v").join(
        side("click", "c"),
        F.expr("v_user = c_user AND c_ts > v_ts "
               "AND c_ts <= v_ts + interval 1 hour"))
    out = joined.select(
        F.col("v_id").alias("view_id"), F.col("c_id").alias("click_id"),
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("gap_us"))
    with _stream_shuffle(spark):
        q = (out.writeStream.format("memory").queryName("e8_join")
             .outputMode("append").trigger(availableNow=True).start())
        _drain(q)
    return spark.table("e8_join").orderBy("view_id", "click_id")


_E8_SQL = """
SELECT v.event_id AS view_id, c.event_id AS click_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY view_id, click_id
"""


def e9_stream_ingest_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the managed store: readStream →
    foreachBatch → ManagedStore.insert, then query the stored table.

    This wires the streaming surface to the storage surface — the
    shape of a production bronze-layer ingest: each micro-batch lands
    as an atomic snapshot append (writers never block readers), and
    after the availableNow drain the stored table equals the batch
    source, so the aggregate has a full DuckDB oracle."""
    import hashlib
    import os
    import shutil
    from ..storage import ManagedStore
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    stage = _stage_symlink(src)
    # deterministic per-source root, wiped on entry: repeated runs
    # reuse ONE directory instead of leaking a fresh mkdtemp each call
    root = os.path.join(
        "/tmp", "pg_spark_ingest_" + hashlib.md5(src.encode()).hexdigest()[:8])
    shutil.rmtree(root, ignore_errors=True)
    store = ManagedStore(spark, root)
    schema = spark.read.parquet(src).schema
    store.create_table(
        "events_bronze", spark.createDataFrame([], schema))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        store.insert("events_bronze", batch_df)

    with _stream_shuffle(spark):
        q = (spark.readStream.schema(schema).parquet(stage)
             .writeStream.foreachBatch(sink)
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(root, "_ckpt"))
             .start())
        _drain(q)
    return (
        store.scan("events_bronze")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             _sum_money(_money_u("value"), 2)
             .alias("sum_value"))
        .orderBy("event_type")
    )


_E9_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


# --------------------------- E10 watermark late-data drop accounting
_E10_SPLIT = "2024-01-16 00:00:00"   # batch boundary (events span Jan)
_E10_LATE_N = 200                    # planted late copies (earliest events)


def e10_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode hourly counts under a 1-hour watermark with LATE
    DATA INJECTED — pins the exact drop/finalize semantics:

    Three micro-batches (maxFilesPerTrigger=1, mtime-ordered):
    batch 1 = events before Jan 16; batch 2 = the rest; batch 3 =
    copies of the 200 earliest events — by then the watermark stands
    at max(ts) − 1 h ≈ Jan 30 and their windows are already finalized
    and emitted, so every planted copy is LATE and must be dropped
    (measured: the watermark's late-row filter takes effect only once
    the target window's state has been EVICTED, which lags the
    watermark update by a batch — hence the dedicated third batch).
    availableNow's trailing no-data batch advances the watermark and
    emits every finalized window (end ≤ final watermark).

    Oracle: hourly counts over the ORIGINAL events (plants dropped ⇒
    they never inflate the early windows, which DO get emitted — the
    discriminating check), restricted to finalized windows. All
    boundaries fall mid-hour in this dataset, so <= vs < ties cannot
    occur. Deterministic end-to-end."""
    import hashlib
    import os
    import shutil
    import time as _time
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    # stage key covers the source CONTENT (mtime+size) and the batch
    # tunables: regenerated testdata or retuned constants must never
    # replay stale batches against a fresh oracle
    st = os.stat(src)
    key = f"v3:{src}:{st.st_mtime_ns}:{st.st_size}:{_E10_SPLIT}:{_E10_LATE_N}"
    stage = os.path.join(
        "/tmp", "pg_spark_late_" + hashlib.md5(key.encode()).hexdigest()[:8])
    if not os.path.isdir(stage):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        # build in a private tmp dir, then rename into place — the
        # file-stream source must never list half-written parquet,
        # and concurrent stagers race harmlessly (loser discards)
        tmp = f"{stage}.tmp.{uuid.uuid4().hex}"
        os.makedirs(tmp, exist_ok=True)
        t = pq.read_table(src)
        import datetime as _dt
        split = pa.scalar(_dt.datetime.fromisoformat(_E10_SPLIT),
                          type=t["ts"].type)
        first = t.filter(pc.less(t["ts"], split))
        rest = t.filter(pc.greater_equal(t["ts"], split))
        early = t.sort_by("ts").slice(0, _E10_LATE_N)
        late = early.set_column(
            early.schema.get_field_index("event_id"), "event_id",
            pc.add(early["event_id"], 10_000_000))
        pq.write_table(first, os.path.join(tmp, "b1.parquet"))
        pq.write_table(rest, os.path.join(tmp, "b2.parquet"))
        pq.write_table(late, os.path.join(tmp, "b3.parquet"))
        now = _time.time()
        for i, f in enumerate(("b1.parquet", "b2.parquet", "b3.parquet")):
            os.utime(os.path.join(tmp, f),
                     (now - 60 + 30 * i, now - 60 + 30 * i))
        try:
            os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("window.start", "yyyy-MM-dd HH:00")
                .alias("hour"), "n")
    )
    with _stream_shuffle(spark):
        q = (stream.writeStream.format("memory")
             .queryName("e10_late")
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        _drain(q)
    return spark.table("e10_late").orderBy("hour")


_E10_SQL = f"""
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
agg AS (SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
        FROM events GROUP BY h)
SELECT strftime(h, '%Y-%m-%d %H:00') AS hour, n
FROM agg, wm WHERE h + INTERVAL 1 HOUR <= w ORDER BY hour
"""


# --------------------------- E11 streaming sessionization (genuine)
def e11_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE streaming sessionization: readStream → watermark →
    `session_window` (gap-merging stateful op) → complete-mode drain;
    per-user session stats computed from the drained session table.
    Oracle = the batch sessionization SQL (e2): a complete drain of
    the session-window state over the full input must equal the batch
    computation — the strongest cross-check a stateful streaming op
    can have. At scale the watermark evicts closed sessions in append
    mode; state is per ACTIVE session, not per event."""
    import hashlib
    import os
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    stage = _stage_symlink(src)
    schema = spark.read.parquet(src).schema
    sess = (
        spark.readStream.schema(schema).parquet(stage)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", f"{_GAP_MIN} minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    with _stream_shuffle(spark):
        q = (sess.writeStream.format("memory")
             .queryName("e11_sessions")
             .outputMode("complete")
             .trigger(availableNow=True)
             .start())
        _drain(q)
    return (
        spark.table("e11_sessions")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"),
             F.max("n_events").alias("max_session_events"),
             F.sum("n_events").alias("total_events"))
        .orderBy("user_id")
    )


# ------------------------- E12 stream-static enrichment join
def e12_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event STREAM enriches against a static
    dimension (per-user segment) — the canonical lookup-join shape in
    every production pipeline (stream joins a slowly-changing dim
    snapshot). Spark plans the static side as a broadcast into each
    micro-batch; no stream state is held for the join itself. A full
    drain equals the batch join — full DuckDB oracle."""
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    stage = _stage_symlink(src)
    schema = spark.read.parquet(src).schema
    dim = (spark.read.parquet(src).select("user_id").distinct()
           .withColumn("segment", (F.col("user_id") % 4).cast("int")))
    stream = (
        spark.readStream.schema(schema).parquet(stage)
        .join(dim, "user_id")                    # stream ⋈ static
        .groupBy("segment", "event_type")
        .agg(F.count("*").alias("n"),
             _sum_money(_money_u("value"), 2).alias("sv"))
    )
    with _stream_shuffle(spark):
        q = (stream.writeStream.format("memory")
             .queryName("e12_enriched")
             .outputMode("complete")
             .trigger(availableNow=True)
             .start())
        _drain(q)
    return (
        spark.table("e12_enriched")
        .select("segment", "event_type", "n",
                F.col("sv").alias("sum_value"))
        .orderBy("segment", "event_type")
    )


_E12_SQL = """
WITH dim AS (SELECT DISTINCT user_id,
                    CAST(user_id % 4 AS INT) AS segment FROM events)
SELECT segment, event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events JOIN dim USING (user_id)
GROUP BY segment, event_type ORDER BY segment, event_type
"""


# --------------------------- E13 checkpoint resume (incremental runs)
_E13_SPLIT = "2024-01-16 00:00:00"


def _split_events_by_ts(src: str):
    """(first, rest) pyarrow tables, split at _E13_SPLIT — the one
    implementation of the two-batch protocol e13 and e14 share."""
    import datetime as _dt
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(src)
    split = pa.scalar(_dt.datetime.fromisoformat(_E13_SPLIT),
                      type=t["ts"].type)
    return (t.filter(pc.less(t["ts"], split)),
            t.filter(pc.greater_equal(t["ts"], split)))


def _content_keyed_dir(src: str, tag: str) -> str:
    """/tmp dir name keyed on the source CONTENT (mtime+size) and the
    split constant: regenerated testdata must never replay stale
    staged batches."""
    import hashlib
    import os
    st = os.stat(src)
    key = f"v1:{src}:{st.st_mtime_ns}:{st.st_size}:{_E13_SPLIT}"
    return os.path.join(
        "/tmp",
        f"pg_spark_{tag}_" + hashlib.md5(key.encode()).hexdigest()[:8])


def e13_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental pipeline re-run with CHECKPOINT RESUME — the
    production cadence for file-based ingest: run 1 drains the files
    present today (availableNow), the job exits; new files land; run 2
    starts from the SAME checkpoint and must process ONLY the new
    files, exactly once. The file-source's processed-file log in the
    checkpoint is what makes re-runs incremental instead of
    re-scanning the lake — at 100 TB that is the difference between
    O(new data) and O(everything) per run.

    Protocol here: the source splits at {split}; run 1 sees the first
    half, then the second half lands and run 2 resumes. The sink
    accumulates parquet appends; `run2_rows` records how many rows
    run 2 actually processed. Oracle: the sink must equal the FULL
    batch aggregate (nothing lost, nothing doubled) and run2_rows
    must equal the second half's row count (nothing re-read).
    """
    import os
    import shutil
    import pyarrow.parquet as pq
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    base = _content_keyed_dir(src, "resume")
    # the two-run protocol must start from an EMPTY checkpoint every
    # call — a stale checkpoint would make run 1 a no-op
    shutil.rmtree(base, ignore_errors=True)
    stage = os.path.join(base, "in")
    sink_dir = os.path.join(base, "sink")
    ckpt = os.path.join(base, "_ckpt")
    os.makedirs(stage)
    first, rest = _split_events_by_ts(src)
    pq.write_table(first, os.path.join(stage, "b1.parquet"))
    schema = spark.read.parquet(src).schema
    counts = {1: 0, 2: 0}

    def run(run_no: int) -> None:
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # persist: the count and the write share one materialization
            # (foreachBatch batches re-compute per action otherwise)
            batch_df.persist()
            try:
                counts[run_no] += batch_df.count()
                batch_df.write.mode("append").parquet(sink_dir)
            finally:
                batch_df.unpersist()

        with _stream_shuffle(spark):
            q = (spark.readStream.schema(schema).parquet(stage)
                 .writeStream.foreachBatch(sink)
                 .trigger(availableNow=True)
                 .option("checkpointLocation", ckpt)
                 .start())
            _drain(q)

    run(1)
    pq.write_table(rest, os.path.join(stage, "b2.parquet"))
    run(2)
    return (
        spark.read.parquet(sink_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             _sum_money(_money_u("value"), 2)
             .alias("sum_value"))
        .withColumn("run2_rows", F.lit(counts[2]).cast("long"))
        .orderBy("event_type")
    )


_E13_SQL = f"""
SELECT event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        WHERE ts >= TIMESTAMP '{_E13_SPLIT}') AS run2_rows
FROM events GROUP BY event_type ORDER BY event_type
"""


# --------------------------- E14 streaming upsert (CDC-style merge)
def e14_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT into the managed store — the CDC/silver-layer
    merge pattern: each micro-batch reduces to the latest row per key
    (user), then foreachBatch calls ManagedStore.merge — ONE snapshot
    rewrite per batch, so readers only ever see a pre- or post-merge
    version, never the half-applied intermediate. Two mtime-ordered
    batches prove the cross-batch semantics: users updated in batch 2
    must overwrite their batch-1 row, users absent from batch 2 must
    survive.

    Oracle: after the drain the table equals 'latest event per user'
    over the WHOLE source — a pure batch window query.

    Scale: the per-batch reduce is a window over the batch only
    (micro-batch-sized); merge cost follows the batch's key spread
    (see ManagedStore.merge).
    """
    import os
    import shutil
    import time as _time
    import pyarrow.parquet as pq
    from ..storage import ManagedStore
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    stage = _content_keyed_dir(src, "upsert")
    if not os.path.isdir(stage):
        tmp = f"{stage}.tmp.{uuid.uuid4().hex}"
        os.makedirs(tmp, exist_ok=True)
        first, rest = _split_events_by_ts(src)
        pq.write_table(first, os.path.join(tmp, "b1.parquet"))
        pq.write_table(rest, os.path.join(tmp, "b2.parquet"))
        now = _time.time()
        for i, f in enumerate(("b1.parquet", "b2.parquet")):
            os.utime(os.path.join(tmp, f), (now - 60 + 30 * i,) * 2)
        try:
            os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    root = _content_keyed_dir(src, "upsert_store")
    shutil.rmtree(root, ignore_errors=True)
    store = ManagedStore(spark, root)
    schema = spark.read.parquet(src).schema
    store.create_table("user_latest", spark.createDataFrame([], schema))

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id"))
        latest = (batch_df.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") == 1).drop("rk"))
        store.merge("user_latest", latest, ["user_id"])

    with _stream_shuffle(spark):
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")
             .parquet(stage)
             .writeStream.foreachBatch(merge)
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(root, "_ckpt"))
             .start())
        _drain(q)
    return (
        store.scan("user_latest")
        .select("user_id", F.col("event_id").alias("last_event_id"),
                F.col("value").cast("double").alias("last_value"))
        .orderBy("user_id")
    )


_E14_SQL = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events)
SELECT user_id, event_id AS last_event_id,
       CAST(value AS DOUBLE) AS last_value
FROM ranked WHERE rk = 1 ORDER BY user_id
"""


# --------------------- E15 stream-stream LEFT OUTER (expiry nulls)
def e15_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics inner
    joins (e8) cannot express: a view with NO click within its hour
    must still emit, null-padded, but only once its join state
    EXPIRES (the engine can't know a match won't arrive until the
    watermark passes the interval's end). availableNow's trailing
    no-data batch advances the watermark past max(ts), expiring all
    state, so the drain emits every unmatched view exactly once —
    making the full run equal the batch LEFT JOIN (full oracle).

    State bound: watermark + interval condition keep at most ~1 h of
    rows per side, identical to e8 — outer-ness adds no state, only
    the deferred null emission."""
    src = f"{sf_dir}/events.parquet"
    stage = _stage_symlink(src)
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    schema = spark.read.parquet(src).schema

    def side(evt: str, pfx: str):
        return (
            spark.readStream.schema(schema).parquet(stage)
            .filter(F.col("event_type") == evt)
            .select(F.col("user_id").alias(f"{pfx}_user"),
                    F.col("ts").cast("timestamp").alias(f"{pfx}_ts"),
                    F.col("event_id").alias(f"{pfx}_id"))
            .withWatermark(f"{pfx}_ts", "2 hours"))

    joined = side("view", "v").join(
        side("click", "c"),
        F.expr("v_user = c_user AND c_ts > v_ts "
               "AND c_ts <= v_ts + interval 1 hour"),
        "leftOuter")
    out = joined.select(
        F.col("v_id").alias("view_id"),
        F.col("c_id").alias("click_id"),
        F.col("c_id").isNull().alias("unmatched"))
    with _stream_shuffle(spark):
        q = (out.writeStream.format("memory").queryName("e15_louter")
             .outputMode("append").trigger(availableNow=True).start())
        _drain(q)
    return (spark.table("e15_louter")
            .orderBy("view_id", "click_id"))


# the drop rule is part of the pinned semantics (same approach as
# e10): a null row emits only once the final GLOBAL watermark passes
# the view's join window end (ts + 1 h). With two watermarked inputs
# the global watermark is the MIN of the per-side watermarks — each
# side's max seen ts minus the 2 h delay — so the oracle computes
# exactly that; unmatched views younger than it stay in (discarded)
# state
_E15_SQL = """
WITH wm AS (
  SELECT least(
      (SELECT max(ts) FROM events WHERE event_type = 'view'),
      (SELECT max(ts) FROM events WHERE event_type = 'click'))
    - INTERVAL 2 HOUR AS w)
SELECT v.event_id AS view_id, c.event_id AS click_id,
       c.event_id IS NULL AS unmatched
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
WHERE c.event_id IS NOT NULL
   OR v.ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
ORDER BY view_id, click_id
"""


# ------------------- E16 streaming THROUGH the connector (S29 graded)
def e16_connector_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The postgres_scan STREAMING source on the graded surface:
    events load into a duckdb database (the live-PG stand-in), the
    connector polls them out by monotonic event_id
    (readStream.format("postgres_scan")), and a complete-mode rollup
    drains — the result must equal the batch aggregate over the
    source table, proving the offset-tracked CDC read loses and
    duplicates nothing. This grades S29's read path the same way e3
    grades the file source."""
    import os
    import shutil
    import duckdb
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    base = _content_keyed_dir(src, "connstream")
    db = os.path.join(base, "ev.db")
    if not os.path.isdir(base):
        tmp = f"{base}.tmp.{uuid.uuid4().hex}"
        os.makedirs(tmp, exist_ok=True)
        con = duckdb.connect(os.path.join(tmp, "ev.db"))
        con.execute(
            "CREATE TABLE events AS "
            f"SELECT event_id, event_type, value FROM '{src}'")
        con.close()
        try:
            os.rename(tmp, base)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    from ..pg_datasource import ensure_registered
    ensure_registered(spark)
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = (
        spark.readStream.format("postgres_scan").schema(schema)
        .option("dsn", f"duckdb://{db}").option("table", "events")
        .option("stream_key", "event_id").load()
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             _sum_money(_money_u("value"), 2)
             .alias("sum_value"))
    )
    with _stream_shuffle(spark):
        q = (stream.writeStream.format("memory")
             .queryName("e16_conn")
             .outputMode("complete")
             .trigger(availableNow=True)
             .start())
        _drain(q)
    return spark.table("e16_conn").orderBy("event_type")


_E16_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def _stage_doc_batches(src: str, prefix: str) -> tuple[str, str]:
    """Stage documents.parquet as THREE mtime-ordered micro-batch
    files with planted cross/same-batch duplicates (layout documented
    in e17's docstring); returns (stage_dir, cache_key). Shared by
    e17 (exact-hash ingest) and e20 (LSH near-dup ingest) so both
    drain the identical stream."""
    import hashlib
    import os
    import shutil
    import time as _time
    st = os.stat(src)
    # v3: re-delivery offsets derived from MAX(doc_id)+1 (v1 used
    # flat constants, v2 row counts — stale stages must not be reused)
    key = f"v3:{src}:{st.st_mtime_ns}:{st.st_size}"
    stage = os.path.join(
        "/tmp", prefix + hashlib.md5(key.encode()).hexdigest()[:8])
    if not os.path.isdir(stage):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        tmp = f"{stage}.tmp.{uuid.uuid4().hex}"
        os.makedirs(tmp, exist_ok=True)
        t = pq.read_table(src)
        n = t.num_rows
        idx = t.schema.get_field_index("doc_id")

        def shifted(tbl, delta):
            return tbl.set_column(idx, "doc_id",
                                  pc.add(tbl["doc_id"], delta))

        # re-delivery offsets derive from MAX(doc_id)+1 — not the row
        # count: ids can be sparse (the sf1 benchdata tiles copies at
        # ~1M offsets, 50k rows but max id 9M), and an offset inside
        # the id range makes shifted copies collide with real docs,
        # where the oracle's per-doc_id algebra diverges from the
        # per-row sink; max() keeps every driver-SF id byte-identical
        # to the original +500000/600000/700000 constants
        mx1 = pc.max(t["doc_id"]).as_py() + 1
        d1, d2, d3 = (max(500000, 10 * mx1), max(600000, 20 * mx1),
                      max(700000, 30 * mx1))
        b1 = t.filter(pc.less(t["doc_id"], n // 3))
        b2 = pa.concat_tables([
            t.filter(pc.and_(pc.greater_equal(t["doc_id"], n // 3),
                             pc.less(t["doc_id"], 2 * n // 3))),
            shifted(t.filter(pc.less(t["doc_id"], 10)), d1)])
        last = t.filter(pc.equal(t["doc_id"], n - 1))
        b3 = pa.concat_tables([
            t.filter(pc.greater_equal(t["doc_id"], 2 * n // 3)),
            shifted(t.filter(pc.and_(pc.greater_equal(t["doc_id"], 10),
                                     pc.less(t["doc_id"], 20))), d2),
            shifted(last, d3), shifted(last, d3 + 1)])
        for i, part in enumerate((b1, b2, b3)):
            pq.write_table(part, os.path.join(tmp, f"b{i + 1}.parquet"))
        now = _time.time()
        for i in range(3):
            p = os.path.join(tmp, f"b{i + 1}.parquet")
            os.utime(p, (now - 60 + 30 * i, now - 60 + 30 * i))
        try:
            os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner
    return stage, key


# ----------------- E17 streaming dedup ingest (D8's probe, stateful)
def e17_streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest WITH inline dedup — the steady-state loop a
    training-data pipeline actually runs: documents arrive in
    micro-batches; each batch dedups within itself (min doc_id per
    content hash) and against everything already ingested (D8's
    hash-probe anatomy: the store side contributes only its 32-hex
    hashes, stored text never moves), and only survivors land in the
    managed store as an atomic snapshot append.

    Three mtime-ordered micro-batches by doc_id range (so a
    first-seen winner is always the min doc_id — making the drained
    store equal to the batch-global D1 dedup, the full oracle):
    batch 2 carries copies of docs 0-9 (id-shifted by a
    corpus-derived, collision-free offset — cross-batch dups vs
    batch 1), batch 3 copies of docs 10-19 plus TWO copies of the
    last doc (same-batch dups, and their original is in batch 3
    itself).

    Scale: per batch the anti-join keys on the content hash with the
    batch side bounded (AQE picks the probe build side); the store
    grows by survivors only; state lives in the store, not in
    executor memory — restartable from the checkpoint + store alone.
    """
    import hashlib
    import os
    import shutil
    from ..storage import ManagedStore
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/documents.parquet"
    stage, key = _stage_doc_batches(src, "pg_spark_dedupin_")
    root = os.path.join(
        "/tmp", "pg_spark_dedupst_" + hashlib.md5(key.encode()).hexdigest()[:8])
    shutil.rmtree(root, ignore_errors=True)
    store = ManagedStore(spark, root)
    store.create_table("docs_dedup", spark.createDataFrame(
        [], "doc_id BIGINT, h STRING, lang STRING"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # read twice (the min-id group and the join back) — persist
        # so the md5 over text computes once per batch. Batch-local
        # persist with an explicit unpersist: foreachBatch runs on a
        # py4j callback thread, so thread-local scratch tracking
        # (runtime.py) would orphan the cache entry for the session.
        b = batch_df.select(
            "doc_id", "lang",
            F.md5(F.lower(F.col("text"))).alias("h")).persist()
        try:
            firsts = (b.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
                      .join(b, ["h", "doc_id"]))
            existing = store.scan("docs_dedup").select("h")
            surv = firsts.join(existing, "h", "left_anti")
            store.insert("docs_dedup", surv.select("doc_id", "h", "lang"))
        finally:
            b.unpersist()

    schema = spark.read.parquet(src).schema
    with _stream_shuffle(spark):
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")
             .parquet(stage)
             .writeStream.foreachBatch(sink)
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(root, "_ckpt"))
             .start())
        _drain(q)
    return (store.scan("docs_dedup")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_kept"),
                 F.sum("doc_id").cast("long").alias("id_sum"))
            .orderBy("lang"))


_E17_SQL = """
WITH p AS (SELECT COUNT(*) AS nn, MAX(doc_id) + 1 AS mx1
           FROM documents),
streamed AS (
  SELECT doc_id, lower(text) AS lt, lang FROM documents
  UNION ALL
  SELECT doc_id + GREATEST(500000, 10 * mx1), lower(text), lang
  FROM documents, p WHERE doc_id < 10
  UNION ALL
  SELECT doc_id + GREATEST(600000, 20 * mx1), lower(text), lang
  FROM documents, p WHERE doc_id >= 10 AND doc_id < 20
  UNION ALL
  SELECT doc_id + GREATEST(700000, 30 * mx1) + g.i, lower(text), lang
  FROM documents, (SELECT unnest(range(2)) AS i) g, p
  WHERE doc_id = nn - 1),
kept AS (
  SELECT MIN(doc_id) AS doc_id FROM streamed GROUP BY md5(lt))
SELECT s.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(s.doc_id) AS BIGINT) AS id_sum
FROM kept k JOIN streamed s ON k.doc_id = s.doc_id
GROUP BY s.lang ORDER BY s.lang
"""


# ----------------- E18 streaming quality router (multi-sink split)
_E18_MIN_CHARS = 50
_E18_MAX_CHARS = 5000
_E18_MIN_DIVERSITY = 0.5


def e18_streaming_quality_router(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Streaming quality ROUTING: documents arrive in micro-batches
    and each batch splits into a kept table and a rejected table
    (with the first failing rule as the reject reason) — the fan-out
    every ingestion pipeline runs between raw crawl and training
    corpus. Rules are T2's cheap lexical signals: a length band and
    a unique-token-ratio floor.

    Both routes land in ONE ManagedStore as atomic snapshot appends.
    foreachBatch gives at-least-once semantics per sink; a batch that
    fails between the two inserts would replay both, so each row
    carries its batch_id — the store-side dedup key a production
    resume would anti-join on (E17 implements that probe; here the
    availableNow drain is single-pass).

    Scale: the split predicate is per-row codegen (no shuffle, no
    UDF); each micro-batch writes two partitioned appends; the
    router itself holds NO state — restart replays only the
    unconsumed source tail."""
    import hashlib
    import os
    import shutil
    from ..storage import ManagedStore
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/documents.parquet"
    stage = _stage_symlink(src)
    root = os.path.join(
        "/tmp", "pg_spark_router_" + hashlib.md5(src.encode()).hexdigest()[:8])
    shutil.rmtree(root, ignore_errors=True)
    store = ManagedStore(spark, root)
    out_schema = "doc_id BIGINT, lang STRING, batch_id BIGINT, reason STRING"
    store.create_table("docs_kept", spark.createDataFrame([], out_schema))
    store.create_table("docs_rejected", spark.createDataFrame([], out_schema))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        toks = F.split(F.lower(F.col("text")), " ")
        diversity = F.size(F.array_distinct(toks)) / F.size(toks)
        reason = (
            F.when((F.col("n_chars") < _E18_MIN_CHARS)
                   | (F.col("n_chars") > _E18_MAX_CHARS), "length")
            .when(diversity < _E18_MIN_DIVERSITY, "diversity"))
        routed = batch_df.select(
            "doc_id", "lang", F.lit(batch_id).cast("long").alias("batch_id"),
            reason.alias("reason"))
        store.insert("docs_kept", routed.filter(F.col("reason").isNull()))
        store.insert("docs_rejected",
                     routed.filter(F.col("reason").isNotNull()))

    schema = spark.read.parquet(src).schema
    with _stream_shuffle(spark):
        q = (spark.readStream.schema(schema).parquet(stage)
             .writeStream.foreachBatch(sink)
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(root, "_ckpt"))
             .start())
        _drain(q)
    kept = store.scan("docs_kept").select(
        F.lit("kept").alias("route"), F.lit(None).cast("string")
        .alias("reason"), "lang", "doc_id")
    rej = store.scan("docs_rejected").select(
        F.lit("rejected").alias("route"), "reason", "lang", "doc_id")
    return (kept.unionByName(rej)
            .groupBy("route", "reason", "lang")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("doc_id").cast("long").alias("id_sum"))
            .orderBy("route", "reason", "lang"))


_E18_SQL = f"""
WITH routed AS (
  SELECT doc_id, lang,
         CASE WHEN n_chars < {_E18_MIN_CHARS}
                   OR n_chars > {_E18_MAX_CHARS} THEN 'length'
              WHEN len(list_distinct(string_split(lower(text), ' ')))
                   * 1.0 / len(string_split(lower(text), ' '))
                   < {_E18_MIN_DIVERSITY} THEN 'diversity'
         END AS reason
  FROM documents)
SELECT CASE WHEN reason IS NULL THEN 'kept' ELSE 'rejected' END AS route,
       reason, lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM routed GROUP BY 1, 2, 3 ORDER BY route, reason, lang
"""


# ------------- E20 streaming NEAR-dup ingest (LSH band index, stateful)
def e20_streaming_neardup_ingest(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """E17's steady-state ingest loop upgraded from exact-hash to
    NEAR-dup: each micro-batch computes MinHash-LSH band hashes
    (D2/D9's shared `minhash_bands` machinery), drops docs that
    band-collide with an earlier-id doc in the SAME batch, then
    drops docs that band-collide with the store's materialized band
    index (D9's incremental probe — only kept docs' bands are ever
    indexed, so the state is the index a production near-dup ingest
    maintains); survivors and their band rows land as atomic
    appends. Same 3-batch staged stream as e17 — the planted copies
    collide in every band and must all drop.

    Policy note: the within-batch rule drops X iff ANY smaller-id
    batch doc shares a band (order-free, so it is SQL-expressible —
    the oracle unrolls the 3 batches as staged CTE generations);
    docs too short to shingle (<3 words) carry no bands and always
    pass, in both engines.

    Scale: per batch only the batch shingles; the probe semi-joins
    the (band_id, band_hash) index — 32-hex tuples, never text; the
    index grows by survivors only. State = store, restartable."""
    import hashlib
    import os
    import shutil
    from ..operators.dedup import minhash_bands, shingle_index
    from ..storage import ManagedStore
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/documents.parquet"
    stage, key = _stage_doc_batches(src, "pg_spark_lshin_")
    root = os.path.join(
        "/tmp", "pg_spark_lshst_" + hashlib.md5(key.encode()).hexdigest()[:8])
    shutil.rmtree(root, ignore_errors=True)
    store = ManagedStore(spark, root)
    store.create_table("docs_lsh", spark.createDataFrame(
        [], "doc_id BIGINT, lang STRING"))
    store.create_table("band_index", spark.createDataFrame(
        [], "band_id INT, band_hash STRING, doc_id BIGINT"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # the band set feeds the within-batch self-join (2 reads),
        # the store-index probe, and the index append — without the
        # persist Catalyst re-runs shingling+minhash per consumer.
        # Batch-local persist/unpersist (callback thread — see e17)
        bands = (minhash_bands(shingle_index(
            batch_df.select("doc_id", "text"), 3))
            .select("doc_id", F.col("band_id").cast("int").alias("band_id"),
                    "band_hash")).persist()
        try:
            a, b = bands.alias("a"), bands.alias("b")
            drop_in = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                              & (F.col("a.band_hash") == F.col("b.band_hash"))
                              & (F.col("b.doc_id") < F.col("a.doc_id")))
                       .select(F.col("a.doc_id").alias("doc_id")).distinct())
            within = batch_df.select("doc_id", "lang") \
                .join(drop_in, "doc_id", "left_anti")
            idx = store.scan("band_index").select("band_id", "band_hash")
            coll = (bands.join(within.select("doc_id"), "doc_id", "left_semi")
                    .join(idx, ["band_id", "band_hash"], "left_semi")
                    .select("doc_id").distinct())
            # persist the survivors too: the band_index insert's plan
            # re-reads kept via the left_semi below, and without this
            # the whole within-batch self-join + store-index probe
            # recomputes per insert (2 actions share one computation —
            # r13, guide §2.6)
            kept = within.join(coll, "doc_id", "left_anti").persist()
            try:
                store.insert("docs_lsh", kept)
                store.insert("band_index",
                             bands.join(kept.select("doc_id"), "doc_id",
                                        "left_semi")
                             .select("band_id", "band_hash", "doc_id"))
            finally:
                kept.unpersist()
        finally:
            bands.unpersist()

    schema = spark.read.parquet(src).schema
    with _stream_shuffle(spark):
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")
             .parquet(stage)
             .writeStream.foreachBatch(sink)
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(root, "_ckpt"))
             .start())
        _drain(q)
    return (store.scan("docs_lsh")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_kept"),
                 F.sum("doc_id").cast("long").alias("id_sum"))
            .orderBy("lang"))


def _e20_sql() -> str:
    from ..operators.dedup import (
        N_BANDS, _sql_shingles, _sql_sig_clause,
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, batch, {b} AS band_id, "
        f"md5(mh{2*b}||mh{2*b+1}) AS band_hash FROM sig"
        for b in range(N_BANDS))
    return f"""
WITH params AS (SELECT COUNT(*) AS nn, MAX(doc_id) + 1 AS mx1
               FROM documents),
streamed AS MATERIALIZED (
  SELECT doc_id, text, lang, 1 AS batch FROM documents, params
  WHERE doc_id < nn // 3
  UNION ALL
  SELECT doc_id, text, lang, 2 FROM documents, params
  WHERE doc_id >= nn // 3 AND doc_id < 2 * nn // 3
  UNION ALL
  SELECT doc_id + GREATEST(500000, 10 * mx1), text, lang, 2
  FROM documents, params WHERE doc_id < 10
  UNION ALL
  SELECT doc_id, text, lang, 3 FROM documents, params
  WHERE doc_id >= 2 * nn // 3
  UNION ALL
  SELECT doc_id + GREATEST(600000, 20 * mx1), text, lang, 3
  FROM documents, params WHERE doc_id >= 10 AND doc_id < 20
  UNION ALL
  SELECT doc_id + GREATEST(700000, 30 * mx1) + g.i, text, lang, 3
  FROM documents, (SELECT unnest(range(2)) AS i) g, params
  WHERE doc_id = nn - 1),
tok AS (SELECT doc_id, batch, string_split(lower(text), ' ') AS t
        FROM streamed),
sh AS MATERIALIZED (SELECT doc_id, batch, {_sql_shingles(3)} AS shingles
       FROM tok WHERE len(t) >= 3),
sig AS MATERIALIZED (SELECT doc_id, batch, shingles, {_sql_sig_clause()} FROM sh),
bands AS MATERIALIZED ({band_rows}),
drop_in AS (
  SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
    ON a.batch = b.batch AND a.band_id = b.band_id
   AND a.band_hash = b.band_hash AND b.doc_id < a.doc_id),
w AS MATERIALIZED (
  SELECT s.doc_id, s.lang, s.batch FROM streamed s
  LEFT JOIN drop_in d ON s.doc_id = d.doc_id WHERE d.doc_id IS NULL),
k1 AS MATERIALIZED (SELECT doc_id, lang FROM w WHERE batch = 1),
k2 AS MATERIALIZED (
  SELECT w.doc_id, w.lang FROM w WHERE batch = 2 AND NOT EXISTS (
    SELECT 1 FROM bands mb JOIN bands kb
      ON mb.band_id = kb.band_id AND mb.band_hash = kb.band_hash
    WHERE mb.doc_id = w.doc_id
      AND kb.doc_id IN (SELECT doc_id FROM k1))),
k3 AS (
  SELECT w.doc_id, w.lang FROM w WHERE batch = 3 AND NOT EXISTS (
    SELECT 1 FROM bands mb JOIN bands kb
      ON mb.band_id = kb.band_id AND mb.band_hash = kb.band_hash
    WHERE mb.doc_id = w.doc_id
      AND kb.doc_id IN (SELECT doc_id FROM k1
                        UNION ALL SELECT doc_id FROM k2))),
kept AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2
         UNION ALL SELECT * FROM k3)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM kept GROUP BY lang ORDER BY lang
"""


# --------- E21 watermarked streaming dedup (event-time-bounded state)
def e21_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refinement e7's docstring names: `dropDuplicatesWithin
    Watermark` — dedup state bounded in EVENT TIME instead of
    growing one entry per key forever. The staged stream delivers
    every event once, then RE-delivers the last half-hour's events
    in a second micro-batch (the at-least-once re-delivery window a
    real source produces); the re-deliveries land inside the 2-hour
    watermark, hit live dedup state, and drop — the drained rollup
    equals the batch distinct-event aggregate exactly.

    Scale: state is keyed on event_id but EXPIRES at the watermark
    horizon — memory ∝ events-per-2-hours, not corpus size, which is
    the property that makes ingest dedup survivable at 100 TB/day
    (e7's unbounded dropDuplicates is the correctness baseline)."""
    import hashlib
    import os
    import shutil
    import time as _time
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    key = f"v1:{src}:{st.st_mtime_ns}:{st.st_size}"
    stage = os.path.join(
        "/tmp", "pg_spark_wmdedup_" + hashlib.md5(key.encode()).hexdigest()[:8])
    if not os.path.isdir(stage):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        tmp = f"{stage}.tmp.{uuid.uuid4().hex}"
        os.makedirs(tmp, exist_ok=True)
        t = pq.read_table(src)
        mx = pc.max(t["ts"]).as_py()
        import datetime as _dt
        cut = mx - _dt.timedelta(minutes=30)
        redeliver = t.filter(pc.greater_equal(t["ts"], cut))
        pq.write_table(t, os.path.join(tmp, "b1.parquet"))
        pq.write_table(redeliver, os.path.join(tmp, "b2.parquet"))
        now = _time.time()
        os.utime(os.path.join(tmp, "b1.parquet"), (now - 60, now - 60))
        os.utime(os.path.join(tmp, "b2.parquet"), (now - 30, now - 30))
        try:
            os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        # parquet ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP
        # (session is UTC-pinned, so the instant is unchanged)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n"),
             _sum_money(_money_u("value"), 2)
             .alias("sum_value"))
    )
    with _stream_shuffle(spark):
        q = (stream.writeStream.format("memory").queryName("e21_wmdedup")
             .outputMode("complete").trigger(availableNow=True).start())
        _drain(q)
    return spark.table("e21_wmdedup").orderBy("event_type")


_E21_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


# ------------- E19 exactly-once ingest via idempotent batch replay
def e19_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest on top of foreachBatch's at-least-once
    contract: every append carries its batch_id, and the sink SKIPS
    any batch whose id is already in the store — so a retried batch
    (failure after commit, before checkpoint ack: the classic
    double-delivery window) lands exactly once. This query PROVES
    the guard by replaying batch 0 by hand after the drain and by
    re-running the stream against its own checkpoint — the store
    must equal one clean pass of the source.

    Scale: the guard probe reads only the store's batch_id column
    (dictionary-encoded parquet — a metadata-sized scan) and runs
    once per micro-batch; appends stay atomic snapshots. This is
    E18's documented upgrade path from at-least-once.
    """
    import hashlib
    import os
    import shutil
    from ..storage import ManagedStore
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    stage = _stage_symlink(src)
    root = os.path.join(
        "/tmp", "pg_spark_once_" + hashlib.md5(src.encode()).hexdigest()[:8])
    shutil.rmtree(root, ignore_errors=True)
    store = ManagedStore(spark, root)
    store.create_table("events_once", spark.createDataFrame(
        [], "event_id BIGINT, event_type STRING, value DOUBLE, "
            "batch_id BIGINT"))
    replay_bait = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        seen = {r.batch_id for r in store.scan("events_once")
                .select("batch_id").distinct().collect()}
        if batch_id in seen:
            return                       # idempotent replay guard
        if batch_id not in replay_bait:
            replay_bait[batch_id] = batch_df
        store.insert("events_once", batch_df.select(
            "event_id", "event_type", "value",
            F.lit(batch_id).cast("long").alias("batch_id")))

    schema = spark.read.parquet(src).schema
    ckpt = os.path.join(root, "_ckpt")
    with _stream_shuffle(spark):
        q = (spark.readStream.schema(schema).parquet(stage)
             .writeStream.foreachBatch(sink)
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .start())
        _drain(q)
        # simulate the double-delivery window: re-deliver every
        # drained batch by hand — the guard must drop all of them
        for bid, bdf in replay_bait.items():
            sink(bdf, bid)
        # and a full restart against the same checkpoint: processes
        # nothing new, appends nothing
        q = (spark.readStream.schema(schema).parquet(stage)
             .writeStream.foreachBatch(sink)
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .start())
        _drain(q)
    return (store.scan("events_once")
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 _sum_money(_money_u("value"), 2)
                 .alias("sum_value"))
            .orderBy("event_type"))


_E19_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


# --------- E22: streaming contamination guard (D7 inside the loop)
def e22_streaming_contamination_guard(spark: SparkSession, sf_dir: str
                                      ) -> DataFrame:
    """Benchmark decontamination moved INSIDE the ingest loop: the
    eval set's 5-gram shingles (D7's 'src0' benchmark) are indexed
    ONCE before the stream starts; every micro-batch then drops any
    document sharing a shingle with the eval set — every doc lands in
    the routed store with a kept flag (kept=0 rows ARE the quarantine
    audit trail a compliance pass reads, one insert per batch).
    Batches 2/3 of the staged stream
    re-deliver copies of docs 0-19, so planted contamination flows
    through mid-stream and must be caught there.

    The guard is STATIC state: one persisted Bloom bitmap + eval
    shingle relation broadcast into every micro-batch (no cross-batch
    mutable state — restartable trivially), with the Bloom filtering
    batch shingles MAP-SIDE and the exact semi-join scrubbing Bloom
    false positives (D7's two-step, per batch).

    Scale: the eval set is benchmark-sized and fixed; each batch
    shingles only itself; quarantine grows by flagged docs only.
    Reference: the reference has no streaming surface — this is
    test/sql decontamination practice composed with S29's loop."""
    import hashlib
    import os
    import shutil
    from ..operators.dedup import (
        _BLOOM_M_BITS, bloom_build, bloom_might_contain, shingle_index,
    )
    from ..runtime import scratch_persist
    from ..storage import ManagedStore
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/documents.parquet"
    stage, key = _stage_doc_batches(src, "pg_spark_contamin_")
    root = os.path.join(
        "/tmp",
        "pg_spark_contamst_" + hashlib.md5(key.encode()).hexdigest()[:8])
    shutil.rmtree(root, ignore_errors=True)
    store = ManagedStore(spark, root)
    # one routed table with a kept flag = clean set AND quarantine
    # audit trail in a single per-batch insert (kept=0 rows are the
    # quarantine; two separate tables would double the snapshot cost)
    store.create_table("routed", spark.createDataFrame(
        [], "doc_id BIGINT, lang STRING, kept INT"))
    docs = _tb.load(spark, sf_dir, "documents")
    ev = scratch_persist(
        shingle_index(docs.filter(F.col("source") == "src0"), 5)
        .select("s").distinct())
    m_bits = _BLOOM_M_BITS
    bloom = scratch_persist(bloom_build(ev, "s", m_bits))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # batch-local persist/unpersist (callback thread — see e17)
        b = batch_df.select("doc_id", "lang", "text").persist()
        try:
            bad = (shingle_index(b, 5)
                   .crossJoin(F.broadcast(bloom))   # 1-row bitmap
                   .filter(bloom_might_contain("s", m_bits))
                   .join(ev, "s", "left_semi")      # exact: fps scrubbed
                   .select("doc_id").distinct())
            store.insert(
                "routed",
                b.join(bad.withColumn("bad", F.lit(1)), "doc_id", "left")
                .select("doc_id", "lang",
                        F.when(F.col("bad").isNull(), 1).otherwise(0)
                        .alias("kept")))
        finally:
            b.unpersist()

    schema = spark.read.parquet(src).schema
    with _stream_shuffle(spark):
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")
             .parquet(stage)
             .writeStream.foreachBatch(sink)
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(root, "_ckpt"))
             .start())
        _drain(q)
    return (store.scan("routed").groupBy("lang")
            .agg(F.sum("kept").cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("kept") == 1, F.col("doc_id"))
                       .otherwise(0)).cast("long").alias("kept_id_sum"),
                 F.sum(1 - F.col("kept")).cast("long")
                 .alias("n_quarantined"))
            .orderBy("lang"))


def _e22_sql() -> str:
    from ..operators.dedup import _sql_shingles
    return f"""
WITH params AS (SELECT COUNT(*) AS nn, MAX(doc_id) + 1 AS mx1
               FROM documents),
streamed AS MATERIALIZED (
  SELECT doc_id, text, lang, 1 AS batch FROM documents, params
  WHERE doc_id < nn // 3
  UNION ALL
  SELECT doc_id, text, lang, 2 FROM documents, params
  WHERE doc_id >= nn // 3 AND doc_id < 2 * nn // 3
  UNION ALL
  SELECT doc_id + GREATEST(500000, 10 * mx1), text, lang, 2
  FROM documents, params WHERE doc_id < 10
  UNION ALL
  SELECT doc_id, text, lang, 3 FROM documents, params
  WHERE doc_id >= 2 * nn // 3
  UNION ALL
  SELECT doc_id + GREATEST(600000, 20 * mx1), text, lang, 3
  FROM documents, params WHERE doc_id >= 10 AND doc_id < 20
  UNION ALL
  SELECT doc_id + GREATEST(700000, 30 * mx1) + g.i, text, lang, 3
  FROM documents, (SELECT unnest(range(2)) AS i) g, params
  WHERE doc_id = nn - 1),
ev AS MATERIALIZED (
  SELECT DISTINCT s FROM (
    SELECT unnest({_sql_shingles(5)}) AS s
    FROM (SELECT string_split(lower(text), ' ') AS t
          FROM documents WHERE source = 'src0')
    WHERE len(t) >= 5)),
ssh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, unnest({_sql_shingles(5)}) AS s
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
          FROM streamed)
    WHERE len(t) >= 5)),
bad AS MATERIALIZED (
  SELECT DISTINCT doc_id FROM ssh WHERE s IN (SELECT s FROM ev)),
tagged AS (
  SELECT st.lang, st.doc_id,
         CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END AS kept
  FROM streamed st LEFT JOIN bad b USING (doc_id))
SELECT lang, CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept = 1 THEN doc_id ELSE 0 END) AS BIGINT)
         AS kept_id_sum,
       CAST(SUM(1 - kept) AS BIGINT) AS n_quarantined
FROM tagged GROUP BY lang ORDER BY lang
"""


# ---------------- E23 cross-batch quota admission (ValueState carry)
_E23_QUOTA = 30    # per-user admission cap — a rate-limit semantic
#                    parameter, not corpus-derived; sf1 oracle-verified


def e23_stateful_quota_admission(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Per-user ingestion quota enforced ACROSS micro-batches — the
    per-source/per-user rate cap every multi-tenant ingest runs (admit
    the first N items per key, reject the rest), implemented as an
    applyInPandasWithState operator whose state is the running
    admitted count.

    What this pins that e6 cannot: e6's symlink stage can deliver
    everything in one batch, so its oracle equals a batch aggregate
    whether or not state carries. Here events stage as THREE
    mtime-ordered files split on event_id value cutoffs, and the
    output includes `exhaust_ord` — the per-user ordinal of the batch
    whose arrivals crossed the quota. That number is a function of
    the CUMULATIVE count carried across invocations: lose the state
    between batches and batch 2 re-admits from zero, moving
    exhaust_ord. The oracle reconstructs the same cutoffs
    ((MAX(event_id)+1) // 3 thirds — the identical integer formula)
    and the same running sum in SQL.

    Scale: state is three longs per user key; each micro-batch
    shuffles only on user_id (the state operator's keyed exchange);
    emissions are one row per (user, batch-with-arrivals). The final
    per-user row is selected by the monotone n_seen, e6's idiom.
    Cost note: applyInPandasWithState invokes the Python callback
    PER KEY, so wall-time tracks key cardinality (measured ~2× from
    sf1→sf5 after projecting the stream to the key column —
    BENCHSCALE) — the documented price of the
    arbitrary-state API, paid for exactly-once cross-batch semantics
    no window can give on an infinite stream. A pipeline that only
    needs the DRAINED result at rest uses the one-window batch form
    (this op's own oracle); the streaming form exists for the
    unbounded case, where the batch form has no equivalent at all."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import hashlib
    import os
    import shutil
    import time as _time

    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    key = f"v1:{src}:{st.st_mtime_ns}:{st.st_size}"
    stage = os.path.join(
        "/tmp", "pg_spark_quotain_"
        + hashlib.md5(key.encode()).hexdigest()[:8])
    if not os.path.isdir(stage):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        tmp = f"{stage}.tmp.{uuid.uuid4().hex}"
        os.makedirs(tmp, exist_ok=True)
        t = pq.read_table(src)
        m = pc.max(t["event_id"]).as_py() + 1
        cut1, cut2 = m // 3, 2 * m // 3
        parts = (
            t.filter(pc.less(t["event_id"], cut1)),
            t.filter(pc.and_(pc.greater_equal(t["event_id"], cut1),
                             pc.less(t["event_id"], cut2))),
            t.filter(pc.greater_equal(t["event_id"], cut2)))
        now = _time.time()
        for i, part in enumerate(parts):
            p = os.path.join(tmp, f"b{i + 1}.parquet")
            pq.write_table(part, p)
            os.utime(p, (now - 60 + 30 * i, now - 60 + 30 * i))
        try:
            os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner

    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    schema = spark.read.parquet(src).schema
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_batches", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_admitted", T.LongType()),
        T.StructField("exhaust_ord", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n_batches", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_admitted", T.LongType()),
        T.StructField("exhaust_ord", T.LongType()),
    ])
    quota = _E23_QUOTA

    def update(key_, pdfs, state: GroupState):
        (user_id,) = key_
        n_batches, n_seen, n_admitted, exhaust = (
            state.get if state.exists else (0, 0, 0, 0))
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        if n == 0:                 # no arrivals: nothing to emit
            return
        n_batches += 1
        n_seen += n
        adm = min(quota - n_admitted, n)
        if adm > 0:
            n_admitted += adm
        if exhaust == 0 and n_admitted >= quota:
            exhaust = n_batches    # the batch that crossed the cap
        state.update((n_batches, n_seen, n_admitted, exhaust))
        yield pd.DataFrame({
            "user_id": [user_id], "n_batches": [n_batches],
            "n_seen": [n_seen], "n_admitted": [n_admitted],
            "exhaust_ord": [exhaust]})

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        # admission counts rows only — project to the key BEFORE the
        # stateful operator so the keyed exchange and the per-key
        # Arrow transfer carry one int64 column, not the whole event
        .select("user_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)
    )
    with _stream_shuffle(spark):
        q = (stream.writeStream.format("memory").queryName("e23_quota")
             .outputMode("update").trigger(availableNow=True).start())
        _drain(q)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    return (spark.table("e23_quota")
            .withColumn("rk", F.row_number().over(w)).filter("rk = 1")
            .select("user_id", "n_batches", "n_seen", "n_admitted",
                    (F.col("n_seen") - F.col("n_admitted"))
                    .alias("n_rejected"), "exhaust_ord")
            .orderBy("user_id"))


_E23_SQL = f"""
WITH b AS (SELECT CAST(MAX(event_id) + 1 AS BIGINT) AS m FROM events),
tagged AS (
  SELECT user_id,
         CASE WHEN event_id < m // 3 THEN 1
              WHEN event_id < 2 * m // 3 THEN 2 ELSE 3 END AS batch
  FROM events, b),
per_ub AS (SELECT user_id, batch, COUNT(*) AS n
           FROM tagged GROUP BY user_id, batch),
cum AS (
  SELECT user_id, batch, n,
         SUM(n) OVER (PARTITION BY user_id ORDER BY batch
                      ROWS UNBOUNDED PRECEDING) AS cum_seen,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY batch) AS ord
  FROM per_ub)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(n) AS BIGINT) AS n_seen,
       CAST(LEAST({_E23_QUOTA}, SUM(n)) AS BIGINT) AS n_admitted,
       CAST(SUM(n) - LEAST({_E23_QUOTA}, SUM(n)) AS BIGINT)
         AS n_rejected,
       CAST(COALESCE(MIN(CASE WHEN cum_seen >= {_E23_QUOTA}
                              THEN ord END), 0) AS BIGINT)
         AS exhaust_ord
FROM cum GROUP BY user_id ORDER BY user_id
"""


# --------- E24 streaming sketch maintenance (X19's CMS in the loop)
def e24_streaming_cms_maintenance(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """X19's count-min sketch maintained INSIDE the ingest loop: each
    micro-batch reduces to its own d×w counter grid and MERGES into
    the store's grid by + — the property that makes CMS the streaming
    frequency sketch (Cormode & Muthukrishnan 2005: sketches of
    unions add), and the reason the final grid is INDEPENDENT of how
    the stream happened to batch: + is associative and commutative,
    so any batching, any arrival order, any executor count produces
    the bit-identical grid X19's one-shot batch build produces. After
    the drain the grid serves frequency queries: the static corpus's
    top-K exact heavy hitters probe the streamed grid with
    min-over-rows estimates.

    State is FIXED-SIZE: the store holds d·w = 4096 counter rows no
    matter how much stream has passed — the sketch's point, and the
    contrast with e17's corpus-proportional hash index. Each batch
    costs one token-stream aggregate plus one metadata-sized snapshot
    rewrite (ManagedStore.merge on (i, b), e14's idiom). The merge is
    made idempotent under foreachBatch's at-least-once contract with
    e19's guard at O(1) cost: the last applied batch_id rides the
    table META (one JSON read, no store scan), and replayed batch ids
    skip — counts in a sketch are not idempotently re-insertable, so
    unlike e17's min-id dedup the guard is load-bearing here.

    Staged stream: e17's 3 mtime-ordered batches with shifted-id
    re-deliveries — the copies are REAL token mass (distinct doc
    ids), so the streamed corpus is documents ∪ shifted copies and
    the oracle unrolls exactly that union before replaying X19's
    grid arithmetic."""
    import hashlib
    import os
    import shutil
    from ..functions.analytics import _X19_D, _X19_K, _x19_bucket
    from ..storage import ManagedStore
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/documents.parquet"
    stage, key = _stage_doc_batches(src, "pg_spark_cmsin_")
    root = os.path.join(
        "/tmp", "pg_spark_cmsst_" + hashlib.md5(key.encode()).hexdigest()[:8])
    shutil.rmtree(root, ignore_errors=True)
    store = ManagedStore(spark, root)
    store.create_table("cms_grid", spark.createDataFrame(
        [], "i INT, b BIGINT, total BIGINT"))

    ii = F.explode(F.array(*[F.lit(i) for i in range(_X19_D)])).alias("i")

    def grid_of(df: DataFrame) -> DataFrame:
        tok = (df.select(F.explode(F.split(F.lower("text"), " "))
                         .alias("tk"))
               .filter(F.col("tk") != ""))
        return (tok.groupBy("tk")
                .agg(F.count("*").cast("long").alias("cnt"))
                .select("tk", "cnt", ii)
                .select(F.col("i").cast("int").alias("i"),
                        _x19_bucket(F.col("i"), F.col("tk")).alias("b"),
                        "cnt")
                .groupBy("i", "b")
                .agg(F.sum("cnt").cast("long").alias("total")))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        meta = store.table_meta("cms_grid")
        if batch_id <= meta.get("last_batch_id", -1):
            return                      # e19's idempotent-replay guard
        new = (store.scan("cms_grid").unionByName(grid_of(batch_df))
               .groupBy("i", "b")
               .agg(F.sum("total").cast("long").alias("total")))
        store.merge("cms_grid", new, on=["i", "b"])
        store.set_table_meta("cms_grid",
                             {**meta, "last_batch_id": batch_id})

    schema = spark.read.parquet(src).schema
    ckpt = os.path.join(root, "_ckpt")
    with _stream_shuffle(spark):
        q = (spark.readStream.schema(schema).parquet(stage)
             .writeStream.foreachBatch(sink)
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .start())
        _drain(q)
    docs = _tb.load(spark, sf_dir, "documents")
    tok = (docs.select(F.explode(F.split(F.lower("text"), " "))
                       .alias("tk"))
           .filter(F.col("tk") != ""))
    probes = (tok.groupBy("tk")
              .agg(F.count("*").cast("long").alias("cnt"))
              .orderBy(F.desc("cnt"), "tk").limit(_X19_K))
    est = (probes.select("tk", ii)
           .select("tk", F.col("i").cast("int").alias("i"),
                   _x19_bucket(F.col("i"), F.col("tk")).alias("b"))
           .join(F.broadcast(store.scan("cms_grid")), ["i", "b"])
           .groupBy("tk")
           .agg(F.min("total").cast("long").alias("cms_est")))
    return (est.select(F.col("tk").alias("token"), "cms_est")
            .orderBy("token"))


def _e24_sql() -> str:
    from ..functions.analytics import _X19_BUCKET_SQL, _X19_D, _X19_K
    return f"""
WITH p AS (SELECT COUNT(*) AS nn, MAX(doc_id) + 1 AS mx1
           FROM documents),
streamed AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + GREATEST(500000, 10 * mx1), text
  FROM documents, p WHERE doc_id < 10
  UNION ALL
  SELECT doc_id + GREATEST(600000, 20 * mx1), text
  FROM documents, p WHERE doc_id >= 10 AND doc_id < 20
  UNION ALL
  SELECT doc_id + GREATEST(700000, 30 * mx1) + g.i, text
  FROM documents, (SELECT unnest(range(2)) AS i) g, p
  WHERE doc_id = nn - 1),
svocab AS (
  SELECT tk, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tk
        FROM streamed)
  WHERE tk <> '' GROUP BY tk),
grid AS (
  SELECT i, {_X19_BUCKET_SQL} AS b, CAST(SUM(cnt) AS BIGINT) AS total
  FROM svocab, (SELECT unnest(range({_X19_D})) AS i)
  GROUP BY 1, 2),
probes AS (
  SELECT tk FROM (
    SELECT tk, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS tk
          FROM documents)
    WHERE tk <> '' GROUP BY tk)
  ORDER BY cnt DESC, tk LIMIT {_X19_K}),
est AS (
  SELECT t.tk, CAST(MIN(g.total) AS BIGINT) AS cms_est
  FROM (SELECT tk, i, {_X19_BUCKET_SQL} AS b
        FROM probes, (SELECT unnest(range({_X19_D})) AS i)) t
  JOIN grid g USING (i, b)
  GROUP BY t.tk)
SELECT tk AS token, cms_est FROM est ORDER BY token
"""


# --------- E25 streaming HLL distinct maintenance (max-merge class)
_E25_M = 512          # 2^9 registers; standard error 1.04/sqrt(m) ~ 4.6%
_E25_ALPHA = 0.7213 / (1 + 1.079 / 512)   # Flajolet et al. 2007 alpha_m


def e25_streaming_hll_distinct(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """HyperLogLog distinct-token counting maintained INSIDE the
    ingest loop — the MAX-merge sketch class next to e24's +-merge
    CMS (Flajolet et al. 2007): each micro-batch reduces its tokens
    to 512 register maxima and merges into the store by GREATEST.
    Because max is IDEMPOTENT (unlike +), re-delivered batches are
    absorbed with NO replay guard — the staged stream's shifted-id
    copies re-hash to the same registers and change nothing, which
    is also why the drained registers equal the one-shot batch build
    bit-for-bit under ANY batching/order/replay.

    The register math is integer end-to-end: a 60-bit md5-derived
    hash splits into a 9-bit register index and a 51-bit word whose
    rank is 52 − bit_length(word) (string-free in neither engine —
    both compute it as length(ltrim(bin(w), '0')), value-identical);
    the estimator's harmonic sum uses the EXACT integer numerator
    Σ 2^(52−M_j) (≤ 2^61, no float accumulation-order hazard), so
    the one float expression — alpha·m²·2^52/N with Flajolet's
    small-range linear-counting branch — is bit-identical cross-
    engine. The exact distinct rides along as the self-audit (X1's
    contract); at 100 TB only the 512-register table ever moves.

    Scale: per batch one distinct-token aggregate + a ≤512-row
    snapshot rewrite; state is CONSTANT in stream length and merge
    distributes over any fleet by GREATEST."""
    import hashlib
    import os
    import shutil
    from ..runtime import det_round
    from ..storage import ManagedStore
    from .. import tables as _tb
    _tb.ensure_session_defaults(spark)
    src = f"{sf_dir}/documents.parquet"
    stage, key = _stage_doc_batches(src, "pg_spark_hllin_")
    root = os.path.join(
        "/tmp", "pg_spark_hllst_" + hashlib.md5(key.encode()).hexdigest()[:8])
    shutil.rmtree(root, ignore_errors=True)
    store = ManagedStore(spark, root)
    store.create_table("hll_regs", spark.createDataFrame(
        [], "j BIGINT, m INT"))

    def regs_of(df: DataFrame) -> DataFrame:
        tok = (df.select(F.explode(F.split(F.lower("text"), " "))
                         .alias("tk"))
               .filter(F.col("tk") != "").distinct())
        h = (F.conv(F.substring(F.md5("tk"), 1, 15), 16, 10)
             .cast("bigint"))
        return (tok.select(h.alias("h"))
                .select(F.expr("h div 2251799813685248").alias("j"),
                        (F.col("h") % F.lit(1 << 51)).alias("w"))
                .select("j", (F.lit(52)
                              - F.expr("length(ltrim('0', bin(w)))"))
                        .cast("int").alias("m"))
                .groupBy("j").agg(F.max("m").alias("m")))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # NO batch_id guard on purpose: GREATEST-merge is idempotent,
        # so an at-least-once replay is a no-op by algebra (e24's CMS
        # needs the guard; HLL does not — that contrast is the op)
        new = (store.scan("hll_regs").unionByName(regs_of(batch_df))
               .groupBy("j").agg(F.max("m").alias("m")))
        store.merge("hll_regs", new, on=["j"])

    schema = spark.read.parquet(src).schema
    ckpt = os.path.join(root, "_ckpt")
    with _stream_shuffle(spark):
        q = (spark.readStream.schema(schema).parquet(stage)
             .writeStream.foreachBatch(sink)
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .start())
        _drain(q)
    regs = store.scan("hll_regs")
    summ = regs.agg(
        F.count("*").cast("long").alias("m_used"),
        F.max("m").cast("int").alias("max_rank"),
        F.sum("m").cast("long").alias("sum_rank"),
        F.sum(F.col("m") * (F.col("j") + F.lit(1))).cast("long")
        .alias("checksum"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 52 - m)"))
        .cast("long").alias("pow_sum"))
    docs = _tb.load(spark, sf_dir, "documents")
    exact = (docs.select(F.explode(F.split(F.lower("text"), " "))
                         .alias("tk"))
             .filter(F.col("tk") != "")
             .agg(F.count_distinct("tk").cast("long")
                  .alias("exact_distinct")))
    m = float(_E25_M)
    n_int = (F.col("pow_sum")
             + (F.lit(_E25_M) - F.col("m_used")) * F.lit(1 << 52))
    raw = (F.lit(_E25_ALPHA) * F.lit(m) * F.lit(m)
           * F.lit(float(1 << 52)) / n_int.cast("double"))
    v = (F.lit(_E25_M) - F.col("m_used")).cast("double")
    est = F.when((raw <= F.lit(2.5 * m)) & (v > F.lit(0.0)),
                 F.lit(m) * F.log(F.lit(m) / v)).otherwise(raw)
    return (summ.crossJoin(F.broadcast(exact))   # two 1-row aggs
            .select("m_used", "max_rank", "sum_rank", "checksum",
                    det_round(est, 4).alias("hll_estimate"),
                    "exact_distinct"))


_E25_SQL = f"""
WITH tok AS (
  SELECT DISTINCT tk FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS tk
    FROM documents)
  WHERE tk <> ''),
hashed AS (
  SELECT CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS h
  FROM tok),
regs AS (
  SELECT j, MAX(m) AS m FROM (
    SELECT h // 2251799813685248 AS j,
           CAST(52 - length(ltrim(bin(h % 2251799813685248), '0'))
                AS INT) AS m
    FROM hashed)
  GROUP BY j),
summ AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_used,
         CAST(MAX(m) AS INT) AS max_rank,
         CAST(SUM(m) AS BIGINT) AS sum_rank,
         CAST(SUM(m * (j + 1)) AS BIGINT) AS checksum,
         CAST(SUM(CAST(1 AS BIGINT) << (52 - m)) AS BIGINT) AS pow_sum
  FROM regs),
ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM tok),
calc AS (
  SELECT *,
         {_E25_ALPHA!r}e0 * {float(_E25_M)!r}e0 * {float(_E25_M)!r}e0
           * {float(1 << 52)!r}e0
           / CAST(pow_sum + ({_E25_M} - m_used)
                  * CAST(4503599627370496 AS BIGINT) AS DOUBLE) AS raw,
         CAST({_E25_M} - m_used AS DOUBLE) AS v
  FROM summ, ex)
SELECT m_used, max_rank, sum_rank, checksum,
       FLOOR((CASE WHEN raw <= {2.5 * _E25_M!r}e0 AND v > 0.0e0
                   THEN {float(_E25_M)!r}e0 * ln({float(_E25_M)!r}e0 / v)
                   ELSE raw END) * 10000.0e0 + 0.5e0) / 10000.0e0
         AS hll_estimate,
       exact_distinct
FROM calc
"""


QUERIES = {
    "e25_streaming_hll_distinct": e25_streaming_hll_distinct,
    "e24_streaming_cms_maintenance": e24_streaming_cms_maintenance,
    "e23_stateful_quota_admission": e23_stateful_quota_admission,
    "e22_streaming_contamination_guard": e22_streaming_contamination_guard,
    "e1_hourly_event_rollup": e1_hourly_event_rollup,
    "e2_sessionization": e2_sessionization,
    "e3_streaming_hourly": e3_streaming_hourly,
    "e4_top_users": e4_top_users,
    "e5_event_funnel": e5_event_funnel,
    "e6_stateful_anomaly": e6_stateful_anomaly,
    "e7_streaming_dedup": e7_streaming_dedup,
    "e8_stream_stream_join": e8_stream_stream_join,
    "e9_stream_ingest_store": e9_stream_ingest_store,
    "e10_late_data_policy": e10_late_data_policy,
    "e11_streaming_sessions": e11_streaming_sessions,
    "e12_stream_static_join": e12_stream_static_join,
    "e13_checkpoint_resume": e13_checkpoint_resume,
    "e14_streaming_upsert": e14_streaming_upsert,
    "e15_stream_left_outer": e15_stream_left_outer,
    "e16_connector_stream": e16_connector_stream,
    "e17_streaming_dedup_ingest": e17_streaming_dedup_ingest,
    "e18_streaming_quality_router": e18_streaming_quality_router,
    "e19_idempotent_replay": e19_idempotent_replay,
    "e20_streaming_neardup_ingest": e20_streaming_neardup_ingest,
    "e21_watermark_dedup": e21_watermark_dedup,
}

ORACLE = {
    "e25_streaming_hll_distinct": _E25_SQL,
    "e24_streaming_cms_maintenance": _e24_sql(),
    "e23_stateful_quota_admission": _E23_SQL,
    "e22_streaming_contamination_guard": _e22_sql(),
    "e17_streaming_dedup_ingest": _E17_SQL,
    "e18_streaming_quality_router": _E18_SQL,
    "e19_idempotent_replay": _E19_SQL,
    "e20_streaming_neardup_ingest": _e20_sql(),
    "e21_watermark_dedup": _E21_SQL,
    "e1_hourly_event_rollup": _E1_SQL,
    "e2_sessionization": _E2_SQL,
    "e4_top_users": _E4_SQL,
    "e5_event_funnel": _E5_SQL,
    "e6_stateful_anomaly": _E6_SQL,
    "e3_streaming_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, COUNT(*) AS n
FROM events GROUP BY hour, event_type ORDER BY hour, event_type
""",
    "e7_streaming_dedup": _E7_SQL,
    "e8_stream_stream_join": _E8_SQL,
    "e9_stream_ingest_store": _E9_SQL,
    "e10_late_data_policy": _E10_SQL,
    "e11_streaming_sessions": _E2_SQL,
    "e12_stream_static_join": _E12_SQL,
    "e13_checkpoint_resume": _E13_SQL,
    "e14_streaming_upsert": _E14_SQL,
    "e15_stream_left_outer": _E15_SQL,
    "e16_connector_stream": _E16_SQL,
}
