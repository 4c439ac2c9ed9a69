"""Advanced analytics surface (SURVEY.md §2 W1-W14, X1-X11): grouping
sets / rollup / cube, window functions, as-of join, banded range
join, continuous aggregate, salted skew join, sketches, sampling,
vocab, domain mixing, sequence packing, global training shuffle, and
the per-source dataset card.

The reference proves TPC-DS through its scanner
(reference: test/sql/scanner/tpcds.test); these queries exercise the
same analytic SQL machinery — multi-level aggregation and windowed
computation — Spark-first (native rollup/cube/Window) with DuckDB
oracles.

Scale: rollup/cube compile to a single expanded aggregate (one
shuffle); windows partition by their keys — no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..runtime import det_round, money_u as _money_u, sum_money as _sum_money

_DEC = "decimal(12,2)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .. import tables
    return tables.load(spark, sf_dir, name)


# ---- W1: ROLLUP over (returnflag, linestatus)
def w1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"))
        .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                "n", "sum_qty")
        .orderBy("rf", "ls")
    )


_W1_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       COALESCE(l_linestatus, 'ALL') AS ls,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY rf, ls
"""


# ---- W2: CUBE over (orderstatus, orderpriority)
def w2_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("sum_price"))
        .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                "n", "sum_price")
        .orderBy("status", "priority")
    )


_W2_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


# ---- W3: window rank — top-3 orders per priority by totalprice
def w3_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group as a TWO-PHASE top-k: phase 1 ranks within
    (priority, salt-of-64) partitions — fully parallel however hot a
    priority is — and keeps each salt's top 3; phase 2 ranks the
    ≤ |priorities|·64·3 survivors per priority. A one-phase
    partitionBy(priority) window would pull a whole priority
    (~corpus/5) through one task at scale. Identical output: any
    group-wide top-3 row is also top-3 within its salt."""
    from ..hier import salted_topk
    o = _t(spark, sf_dir, "orders")
    return (
        salted_topk(o, ["o_orderpriority"],
                    [F.desc("o_totalprice"), F.col("o_orderkey")],
                    3, "o_orderkey")
        .select("o_orderpriority", "o_orderkey",
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
                F.col("rk").cast("int").alias("rk"))
        .orderBy("o_orderpriority", "rk")
    )


_W3_SQL = """
SELECT o_orderpriority, o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 3
ORDER BY o_orderpriority, rk
"""


# ---- W4: moving aggregate — 3-month trailing revenue per month
def w4_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    monthly = (
        l.groupBy(F.date_format(F.date_trunc("month", "l_shipdate"),
                                "yyyy-MM").alias("month"))
        .agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("rev_dec"))
    )
    w = Window.orderBy("month").rowsBetween(-2, 0)
    return (
        monthly
        .withColumn("revenue", F.col("rev_dec").cast("double"))
        .withColumn("trailing_3m",
                    F.sum("rev_dec").over(w).cast("double"))
        .select("month", "revenue", "trailing_3m")
        .orderBy("month")
    )


_W4_SQL = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev_dec
  FROM lineitem GROUP BY month)
SELECT month, CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(SUM(rev_dec) OVER (ORDER BY month
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_3m
FROM monthly ORDER BY month
"""


# ---- W5: lag/lead deltas — per-user event value deltas
def w5_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (
        e.withColumn("prev_value", F.lag("value").over(w))
        .filter(F.col("prev_value").isNotNull())
        .withColumn("delta", F.col("value") - F.col("prev_value"))
    )
    return (
        d.groupBy("user_id")
        .agg(F.count("*").alias("n_deltas"),
             _sum_money(_money_u("delta"), 2).alias("sum_delta"),
             (F.max(_money_u("delta")).cast("decimal(38,0)") / 100)
             .cast("double").alias("max_delta"))
        .orderBy("user_id")
    )


_W5_SQL = """
WITH d AS (
  SELECT user_id,
         value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS delta
  FROM events)
SELECT user_id, COUNT(*) AS n_deltas,
       CAST(CAST(SUM(CAST(delta AS DECIMAL(16,2))) AS VARCHAR) AS DOUBLE) AS sum_delta,
       CAST(MAX(CAST(delta AS DECIMAL(16,2))) AS DOUBLE) AS max_delta
FROM d WHERE delta IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


# ---- W6: as-of join — each purchase matched to the user's most
#      recent prior signup/view (the timeseries staple Spark lacks
#      as a builtin; expressed as window-over-union, which keeps it
#      one shuffle on (user_id) instead of a range join)
def w6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view")
    # union-tag technique: views carry their ts forward via last()
    tagged = purchases.select(
        "user_id", "ts", "event_id", F.lit(1).alias("is_p"),
    ).unionByName(views.select(
        "user_id", "ts", "event_id", F.lit(0).alias("is_p")))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    asof = (
        tagged.withColumn(
            "last_view_ts",
            F.last(F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True)
            .over(w))
        .filter(F.col("is_p") == 1)
    )
    return (
        asof.groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"),
             F.count("last_view_ts").alias("n_matched"),
             F.sum(F.when(
                 F.col("last_view_ts").isNotNull(),
                 (F.unix_timestamp(F.col("ts").cast("timestamp"))
                  - F.unix_timestamp(F.col("last_view_ts").cast("timestamp"))))
             ).alias("sum_gap_s"))
        .orderBy("user_id")
    )


_W6_SQL = """
WITH tagged AS (
  SELECT user_id, ts, event_id, 1 AS is_p FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, 0 AS is_p FROM events WHERE event_type = 'view'),
matched AS (
  SELECT user_id, ts, is_p,
         LAST_VALUE(CASE WHEN is_p = 0 THEN ts END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
  FROM tagged)
SELECT user_id, COUNT(*) AS n_purchases,
       COUNT(last_view_ts) AS n_matched,
       CAST(SUM(CASE WHEN last_view_ts IS NOT NULL
                THEN CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(last_view_ts)) AS BIGINT) END) AS BIGINT)
         AS sum_gap_s
FROM matched WHERE is_p = 1
GROUP BY user_id ORDER BY user_id
"""


# ---- W7: exact percentiles (median / p95 per status)
def w7_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — Spark `percentile` and DuckDB
    `quantile_cont` share the (1-h)*lo + h*hi formula over identically
    sorted doubles, so results match bit-for-bit (verified)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"),
             F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
             F.expr("percentile(o_totalprice, 0.95)").alias("p95_price"),
             F.min("o_totalprice").alias("min_price"),
             F.max("o_totalprice").alias("max_price"))
        .orderBy("o_orderstatus")
    )


_W7_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       quantile_cont(o_totalprice, 0.95) AS p95_price,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# ---- X1: sketch aggregations (HLL + KLL-style quantiles)
def x1_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregation sketches — HyperLogLog++ distinct
    counts and approx quantiles — audited against their exact values.
    The sketch values themselves are engine-specific, so the oracle
    contract is the *audit*: `hll_ok` / `median_ok` report whether the
    sketch landed within tolerance, and the DuckDB oracle asserts both
    are TRUE (plus the exact columns bit-for-bit). A drifting sketch
    turns the row red.

    At 100 TB these are the only viable forms of these aggregates:
    HLL merges are associative (map-side partial, tiny state) where
    exact COUNT(DISTINCT) would shuffle every key."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("users_hll"),
             F.countDistinct("user_id").alias("users_exact"),
             F.expr("approx_percentile(value, 0.5, 10000)").alias("median_approx"),
             F.expr("percentile(value, 0.5)").alias("median_exact"))
        .select(
            "event_type", "users_exact",
            F.col("median_exact").cast("double").alias("median_exact"),
            (F.abs(F.col("users_hll") - F.col("users_exact"))
             <= 0.1 * F.col("users_exact")).alias("hll_ok"),
            (F.abs(F.col("median_approx") - F.col("median_exact"))
             <= 0.1 * F.abs(F.col("median_exact"))).alias("median_ok"))
        .orderBy("event_type")
    )
    return out


_X1_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_exact,
       CAST(quantile_cont(value, 0.5) AS DOUBLE) AS median_exact,
       TRUE AS hll_ok, TRUE AS median_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---- X2: deterministic hash-based sampling (reproducible-pipeline
#      idiom: sampling keyed on content hash, not RNG state)
def x2_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% document sample selected by md5(doc_id) bucket — the
    reproducible sampling idiom for training pipelines. Unlike
    df.sample(), the selection is a pure function of the key: stable
    across runs, engines, partitionings, and cluster sizes, and
    trivially invertible (hold-out = the complement buckets). No
    shuffle: the filter is embarrassingly parallel; the only exchange
    is the final per-source rollup."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                    16, 10).cast("bigint") % 100
    return (
        d.select("doc_id", "source", bucket.alias("bucket"))
        .filter(F.col("bucket") < 10)
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"),
             F.min("doc_id").alias("min_doc"),
             F.max("doc_id").alias("max_doc"))
        .orderBy("source")
    )


_X2_SQL = """
SELECT source, COUNT(*) AS n_sampled,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM (SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 100 AS bucket
      FROM documents)
WHERE bucket < 10
GROUP BY source ORDER BY source
"""


# ---- X3: vocabulary building (token frequency top-k with tiebreak)
def x3_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by document frequency then
    total count — the vocab-building step of a tokenizer pipeline.
    explode → two-level aggregate (map-side partial combine does the
    heavy lifting; the shuffle carries one row per distinct token, not
    per occurrence)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tk"))
    per = (tok.groupBy("tk")
           .agg(F.count_distinct("doc_id").alias("df"),
                F.count("*").alias("tf")))
    return (per.orderBy(F.desc("df"), F.desc("tf"), "tk").limit(50))


_X3_SQL = """
SELECT tk, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk
      FROM documents)
GROUP BY tk ORDER BY df DESC, tf DESC, tk LIMIT 50
"""


# ---- X4: domain mixing (weighted source sampling to a token budget)
_X4_BUDGET_FRAC = 0.2    # keep ~20% of corpus tokens


def x4_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: give each source a weight
    (even-numbered sources 2.0, odd 1.0), split a global token budget
    (20% of the corpus) across sources proportionally, then fill each
    source's quota in a deterministic md5 order — the domain-mixing
    recipe step of a pre-training pipeline, reproducible across runs,
    engines, and cluster sizes.

    Scale shape: one aggregate for the corpus totals (broadcast as a
    scalar); the greedy fill's running sum is HIERARCHICAL per source
    (x5's idiom) — a source is few in number and can hold most of the
    corpus, so a plain per-source cumsum window would serialize the
    hot source through one task. Docs sub-bucket on the md5 sort-key
    prefix (256 contiguous ranges of the fill order within each
    source); the cumsum window partitions on (source, sub) — fully
    parallel — and broadcast per-(source, sub) offsets restore the
    exact per-source running total by associativity."""
    d = _t(spark, sf_dir, "documents")
    tok = F.size(F.split(F.col("text"), " "))
    w = F.when(F.substring("source", 4, 10).cast("int") % 2 == 0,
               F.lit(2.0)).otherwise(F.lit(1.0))
    base = d.select("doc_id", "source", tok.alias("n_tok"), w.alias("w"))
    per_src = base.groupBy("source", "w").agg(
        F.sum("n_tok").alias("src_tok"))
    totals = per_src.agg(
        F.sum("src_tok").alias("total_tok"), F.sum("w").alias("total_w"))
    quota = (F.col("total_tok") * _X4_BUDGET_FRAC
             * F.col("w") / F.col("total_w"))
    quotas = per_src.crossJoin(F.broadcast(totals)) \
        .select("source", quota.alias("quota"))
    from ..hier import hier_cumsum
    hashed = (base
              .withColumn("h", F.md5(F.col("doc_id").cast("string")))
              .withColumn("sub", F.substring("h", 1, 2)))
    filled = (hier_cumsum(hashed, ["source"], ["h", "doc_id"], "sub",
                          "n_tok", inclusive=True, out_col="cum_tok")
              .join(quotas, "source")
              .filter(F.col("cum_tok") <= F.col("quota")))
    return (
        filled.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").alias("tokens_kept"))
        .join(quotas, "source")
        .select("source", "n_docs", "tokens_kept",
                det_round(F.col("quota"), 3).alias("quota"))
        .orderBy("source")
    )


_X4_SQL = f"""
WITH base AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
         CASE WHEN CAST(substr(source, 4, 10) AS INT) % 2 = 0
              THEN 2.0 ELSE 1.0 END AS w
  FROM documents),
per_src AS (SELECT source, w, CAST(SUM(n_tok) AS BIGINT) AS src_tok
            FROM base GROUP BY source, w),
totals AS (SELECT CAST(SUM(src_tok) AS BIGINT) AS total_tok,
                  SUM(w) AS total_w FROM per_src),
quotas AS (SELECT source,
                  total_tok * {_X4_BUDGET_FRAC} * w / total_w AS quota
           FROM per_src CROSS JOIN totals),
filled AS (
  SELECT b.source, b.n_tok,
         SUM(b.n_tok) OVER (PARTITION BY b.source
             ORDER BY md5(CAST(b.doc_id AS VARCHAR)), b.doc_id
             ROWS UNBOUNDED PRECEDING) AS cum_tok,
         q.quota
  FROM base b JOIN quotas q USING (source))
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
       FLOOR((ANY_VALUE(quota)) * 1000.0 + 0.5) / 1000.0 AS quota
FROM filled WHERE cum_tok <= quota
GROUP BY source ORDER BY source
"""


# ---- X5: sequence packing manifest (context-window layout)
_X5_CTX = 2048     # tokens per packed training sequence


def x5_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing manifest: lay every document out on one
    contiguous token tape (deterministic md5 order), cut the tape into
    fixed 2048-token context windows, and report per-window occupancy —
    the packing step that turns a filtered corpus into training
    sequences. Documents crossing a window boundary are the
    chunk-split points a loader needs to know.

    Scale design (100 TB): the tape offset is a HIERARCHICAL prefix
    sum (m9's idiom), not one global running-sum window. The tape
    order is (md5(doc_id), doc_id); its first two hex chars split the
    corpus into 256 buckets that are CONTIGUOUS ranges of that order
    (a bucket is a prefix of the sort key), so (1) per-bucket inclusive
    cumsum windows run fully parallel, (2) the 256 bucket totals get
    their own exclusive cumsum and broadcast back, (3) end_off =
    bucket_offset + local_cumsum — byte-identical to the global window
    by associativity of +, which is exactly what the single-window
    oracle checks."""
    from ..hier import hier_cumsum
    d = _t(spark, sf_dir, "documents")
    tok = F.size(F.split(F.col("text"), " "))
    h = F.md5(F.col("doc_id").cast("string"))
    base = d.select("doc_id", tok.alias("n_tok"), h.alias("h"),
                    F.substring(h, 1, 2).alias("bkt"))
    laid = (hier_cumsum(base, [], ["h", "doc_id"], "bkt", "n_tok",
                        inclusive=True, out_col="end_off")
            .select("doc_id", "n_tok", "end_off")
            .withColumn("start_off", F.col("end_off") - F.col("n_tok")))
    # integer division (DIV), not float floor: exact at any tape
    # offset, matching DuckDB's // operator bit-for-bit
    first_bin = F.expr(f"start_off DIV {_X5_CTX}")
    last_bin = F.expr(f"(end_off - 1) DIV {_X5_CTX}")
    spans = laid.select(
        "doc_id", "n_tok", first_bin.alias("b0"), last_bin.alias("b1"),
        F.explode(F.sequence(first_bin, last_bin)).alias("bin"))
    return (
        spans.groupBy("bin")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.when(F.col("b0") != F.col("b1"), 1).otherwise(0))
             .cast("long").alias("n_split_docs"),
             F.min("doc_id").alias("first_doc"))
        .orderBy("bin")
    )


_X5_SQL = f"""
WITH laid AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
         SUM(len(string_split(text, ' '))) OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ROWS UNBOUNDED PRECEDING) AS end_off
  FROM documents),
spans AS (
  SELECT doc_id, n_tok,
         CAST((end_off - n_tok) // {_X5_CTX} AS BIGINT) AS b0,
         CAST((end_off - 1) // {_X5_CTX} AS BIGINT) AS b1
  FROM laid),
expanded AS (
  SELECT doc_id, n_tok, b0, b1, unnest(range(b0, b1 + 1)) AS bin
  FROM spans)
SELECT bin, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN b0 <> b1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_split_docs,
       MIN(doc_id) AS first_doc
FROM expanded GROUP BY bin ORDER BY bin
"""


# ---- W8: range join (banded) -----------------------------------------
# Non-uniform value bands; a naive `v BETWEEN lo AND hi` theta-join
# plans as BroadcastNestedLoopJoin (O(n·bands) serialized). The scale
# path decomposes each band into fixed-width buckets, explodes the
# tiny band table to (bucket, band) rows, and equi-joins events on
# floor(value/width) — then refines with the exact predicate. Every
# probe touches exactly one bucket; the join is a hash join however
# large the fact side grows.
_W8_BANDS = [  # (band, lo, hi) — deliberately non-uniform, half-open
    ("micro", 0.0, 5.0), ("small", 5.0, 25.0),
    ("mid", 25.0, 60.0), ("large", 60.0, 1000.0),
]
_W8_BUCKET = 5.0


def w8_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [(n, lo, hi) for n, lo, hi in _W8_BANDS],
        "band STRING, lo DOUBLE, hi DOUBLE")
    # band → covered fixed-width buckets (tiny explode, band table side)
    bands_b = bands.select(
        "band", "lo", "hi",
        F.explode(F.sequence(
            (F.col("lo") / _W8_BUCKET).cast("long"),
            ((F.col("hi") - 1e-9) / _W8_BUCKET).cast("long"))).alias("b"))
    ev = e.select("event_id", "value",
                  (F.col("value") / _W8_BUCKET).cast("long").alias("b"))
    return (
        ev.join(F.broadcast(bands_b), "b")
        .filter((F.col("value") >= F.col("lo"))
                & (F.col("value") < F.col("hi")))     # exact refine
        .groupBy("band")
        .agg(F.count("*").alias("n_events"),
             _sum_money(_money_u("value"), 2)
             .alias("sum_value"))
        .orderBy("band")
    )


def _w8_sql() -> str:
    rows = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _W8_BANDS)
    return f"""
WITH bands(band, lo, hi) AS (VALUES {rows})
SELECT band, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band ORDER BY band
"""


# ---- W9: hypertable continuous aggregate ------------------------------
_W9_CUTOVER = "2024-01-25 00:00:00"


def w9_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB-style continuous aggregate: hourly rollups for the
    'materialized' region (ts < cutover) come from a pre-aggregated
    relation; the live tail (ts ≥ cutover) aggregates from raw at
    query time; the result is their union — identical to aggregating
    everything, which is exactly what the oracle checks.

    At 100 TB the materialized half is a stored table maintained by
    E9-style streaming ingest (here it is derived in-plan so the
    operator stays self-contained); query cost is O(tail) + O(buckets
    read), never O(history). Both halves are single-shuffle rollups.
    """
    e = _t(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00")
    agg = lambda df: (df.groupBy(hour.alias("hour"))     # noqa: E731
                      .agg(F.count("*").alias("n"),
                           F.sum(_money_u("value").cast("decimal(38,0)"))
                           .alias("sv")))
    materialized = agg(e.filter(F.col("ts") < _W9_CUTOVER))
    tail = agg(e.filter(F.col("ts") >= _W9_CUTOVER))
    return (
        materialized.unionByName(tail)
        # hour buckets never straddle the cutover (it is on the hour),
        # so the union IS the final rollup — no re-aggregation needed
        .select("hour", "n",
                (F.col("sv") / 100).cast("double").alias("sum_value"))
        .orderBy("hour")
    )


_W9_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events GROUP BY hour ORDER BY hour
"""


# ---- X7: dataset card — per-source corpus statistics ------------------
def x7_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source "dataset card" a training-data pipeline publishes
    with every snapshot: volume, token counts, exact-dup rate,
    language mix, and the token-length distribution. ONE pass over the
    corpus — a single groupBy(source) with map-side-combined
    aggregates (the distinct counts expand to partial distincts, still
    one shuffle keyed on the high-cardinality (source, value) pairs).
    At 100 TB this is the cheapest full-corpus report possible:
    everything computes from the same scan that any ingest already
    performs."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    per = d.select(
        "source", "lang", toks.alias("n_tok"),
        F.md5(F.col("text")).alias("h"))
    return (
        per.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").alias("total_tokens"),
             F.countDistinct("h").alias("n_unique_docs"),
             (F.count("*") - F.countDistinct("h")).alias("n_exact_dups"),
             F.countDistinct("lang").alias("n_langs"),
             F.min("n_tok").cast("long").alias("min_tok"),
             F.expr("percentile(n_tok, 0.5)").alias("median_tok"),
             F.expr("percentile(n_tok, 0.95)").alias("p95_tok"),
             F.max("n_tok").cast("long").alias("max_tok"))
        .orderBy("source")
    )


_X7_SQL = """
WITH per AS (
  SELECT source, lang, len(string_split(text, ' ')) AS n_tok,
         md5(text) AS h
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT h) AS n_unique_docs,
       COUNT(*) - COUNT(DISTINCT h) AS n_exact_dups,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(MIN(n_tok) AS BIGINT) AS min_tok,
       quantile_cont(n_tok, 0.5) AS median_tok,
       quantile_cont(n_tok, 0.95) AS p95_tok,
       CAST(MAX(n_tok) AS BIGINT) AS max_tok
FROM per GROUP BY source ORDER BY source
"""


# ---- W10: salted skew join (graded demonstration of operators/skew) --
def w10_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe join through `operators.skew.salted_join`: the big
    side is salted 8 ways and the small dim replicates per salt, so a
    pathological key spreads over 8 tasks instead of one straggler.
    Results are salt-invariant (the salt only routes rows), which is
    exactly what the oracle checks — a plain join aggregate."""
    from ..operators.skew import salted_join
    e = _t(spark, sf_dir, "events")
    seg = (e.select("user_id").distinct()
           .withColumn("segment", (F.col("user_id") % 5).cast("int")))
    joined = salted_join(e.select("user_id", "value"), seg, "user_id",
                         salt=8)
    return (
        joined.groupBy("segment")
        .agg(F.count("*").alias("n_events"),
             _sum_money(_money_u("value"), 2)
             .alias("sum_value"))
        .orderBy("segment")
    )


_W10_SQL = """
WITH seg AS (SELECT DISTINCT user_id,
                    CAST(user_id % 5 AS INT) AS segment FROM events)
SELECT segment, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events JOIN seg USING (user_id)
GROUP BY segment ORDER BY segment
"""


# ---- X6: deterministic global training shuffle -----------------------
def x6_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a global shuffle position in a
    deterministic pseudo-random order (md5 of the id) — how training
    examples are globally shuffled before packing/sharding.

    Scale design: a naive ROW_NUMBER() OVER (ORDER BY hash) funnels
    100 TB through ONE window partition. Instead: (1) bucket by the
    hash's first byte (256 buckets), (2) rank within each bucket —
    window partitioned by bucket, parallel — and (3) add the exclusive
    prefix-sum of bucket sizes, a 256-row window that costs nothing.
    position = bucket_offset + in-bucket rank. Identical output to the
    single-partition formulation (the oracle IS that formulation), but
    every heavy stage is partition-parallel; at 100 TB the bucket
    count just grows (first 2-3 hash bytes).
    """
    from ..runtime import scratch_persist
    d = _t(spark, sf_dir, "documents")
    # read twice (ranking + bucket sizes): persist to hash/scan once
    hashed = scratch_persist(d.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    ).withColumn("bucket", F.substring("h", 1, 2)))
    w_in = Window.partitionBy("bucket").orderBy("h", "doc_id")
    ranked = hashed.withColumn("r", F.row_number().over(w_in))
    sizes = hashed.groupBy("bucket").agg(F.count("*").alias("n"))
    w_pre = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1)
    offsets = sizes.withColumn(
        "off", F.coalesce(F.sum("n").over(w_pre), F.lit(0)))
    return (
        ranked.join(F.broadcast(offsets.select("bucket", "off")), "bucket")
        .select("doc_id", (F.col("off") + F.col("r")).alias("shuffle_pos"))
        .orderBy("shuffle_pos")
    )


_X6_SQL = """
SELECT doc_id,
       ROW_NUMBER() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS shuffle_pos
FROM documents ORDER BY shuffle_pos
"""


# ---- X8: epoch repeat planning (data-constrained scaling) -------------
def x8_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch repeat planning: when high-quality data is scarce,
    pipelines repeat the better sources more epochs (data-constrained
    scaling). Here the quality proxy is mean document length: sources
    with above-corpus-average doc length plan 2 epochs, the rest 1;
    the output is the epoch-expanded token schedule and each source's
    share of the final mix. Two tiny aggregations over the corpus —
    the plan itself is metadata-sized at any corpus scale."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    per = d.select("source", toks.alias("n_tok"))
    src = per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("tokens"),
        (F.sum("n_tok") / F.count("*")).alias("avg_tok"))
    overall = per.agg((F.sum("n_tok") / F.count("*")).alias("corpus_avg"))
    planned = (
        src.crossJoin(F.broadcast(overall))
        .withColumn("epochs",
                    F.when(F.col("avg_tok") > F.col("corpus_avg"), 2)
                    .otherwise(1).cast("int"))
        .withColumn("planned_tokens", F.col("tokens") * F.col("epochs"))
    )
    w_total = Window.partitionBy()
    return (
        planned.select(
            "source", "n_docs", "tokens", "epochs", "planned_tokens",
            det_round(F.col("planned_tokens")
                      / F.sum("planned_tokens").over(w_total), 6)
            .alias("mix_share"))
        .orderBy("source")
    )


_X8_SQL = """
WITH per AS (SELECT source, len(string_split(text, ' ')) AS n_tok
             FROM documents),
src AS (SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS tokens,
               SUM(n_tok) * 1.0 / COUNT(*) AS avg_tok
        FROM per GROUP BY source),
overall AS (SELECT SUM(n_tok) * 1.0 / COUNT(*) AS corpus_avg FROM per),
planned AS (
  SELECT source, n_docs, tokens,
         CAST(CASE WHEN avg_tok > corpus_avg THEN 2 ELSE 1 END AS INT)
           AS epochs,
         tokens * (CASE WHEN avg_tok > corpus_avg THEN 2 ELSE 1 END)
           AS planned_tokens
  FROM src, overall)
SELECT source, n_docs, tokens, epochs,
       CAST(planned_tokens AS BIGINT) AS planned_tokens,
       FLOOR((planned_tokens * 1.0 / SUM(planned_tokens) OVER ()) * 1000000.0 + 0.5) / 1000000.0
         AS mix_share
FROM planned ORDER BY source
"""


# ---- W11: GROUPING SETS with grouping flags --------------------------
def w11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third multi-level aggregation form
    next to W1's ROLLUP and W2's CUBE (reference proves the machinery
    through tpcds.test). Spark compiles grouping sets to ONE expanded
    aggregate (a single shuffle with an Expand node), so the cost is
    rows x sets on the map side with partial aggregation — no extra
    pass per set at any scale. GROUPING() flags disambiguate real
    NULLs from subtotal rows, matching the SQL-standard semantics."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupingSets([["l_returnflag"], ["l_linestatus"], []],
                       "l_returnflag", "l_linestatus")
        .agg(F.grouping("l_returnflag").cast("int").alias("g_rf"),
             F.grouping("l_linestatus").cast("int").alias("g_ls"),
             F.count("*").alias("n"),
             F.sum(F.col("l_quantity").cast(_DEC)).cast("double")
             .alias("sum_qty"))
        .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                "g_rf", "g_ls", "n", "sum_qty")
        .orderBy("rf", "ls", "g_rf", "g_ls")
    )


_W11_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       COALESCE(l_linestatus, 'ALL') AS ls,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY rf, ls, g_rf, g_ls
"""


# ---- X9: temperature-scaled source sampling (alpha-mix) --------------
def x9_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source sampling: weight_s proportional to
    tokens_s^alpha (alpha=0.5), the standard multilingual/multi-source
    rebalancing that upsamples small sources without letting any
    source dominate. Output per source: raw tokens, alpha-weight,
    target tokens for a fixed budget, and the implied epoch count
    (>1 means the source repeats). One corpus aggregation; the plan
    is metadata-sized regardless of corpus scale. Continuous outputs
    rounded to 6 decimals so the cross-engine hash is stable."""
    budget = 100_000
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    src = d.select("source", toks.alias("n_tok")).groupBy("source").agg(
        F.sum("n_tok").alias("tokens"))
    w_all = Window.partitionBy()
    weighted = src.withColumn("w_raw", F.sqrt(F.col("tokens")))
    return (
        weighted
        .withColumn("weight",
                    det_round(F.col("w_raw")
                              / F.sum("w_raw").over(w_all), 6))
        .withColumn("target_tokens",
                    det_round(F.lit(budget) * F.col("w_raw")
                              / F.sum("w_raw").over(w_all), 2))
        .withColumn("implied_epochs",
                    det_round(F.col("target_tokens")
                              / F.col("tokens"), 4))
        .select("source", "tokens", "weight", "target_tokens",
                "implied_epochs")
        .orderBy("source")
    )


_X9_SQL = """
WITH src AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           AS tokens
  FROM documents GROUP BY source),
wtd AS (SELECT source, tokens, sqrt(tokens) AS w_raw FROM src)
SELECT source, tokens,
       FLOOR((w_raw / SUM(w_raw) OVER ()) * 1000000.0 + 0.5) / 1000000.0 AS weight,
       FLOOR((100000 * w_raw / SUM(w_raw) OVER ()) * 100.0 + 0.5) / 100.0 AS target_tokens,
       FLOOR((FLOOR((100000 * w_raw / SUM(w_raw) OVER ()) * 100.0 + 0.5) / 100.0 / tokens) * 10000.0 + 0.5) / 10000.0
         AS implied_epochs
FROM wtd ORDER BY source
"""


# ---- W13: distribution windows (ntile / percent_rank / cume_dist) ----
def w13_dist_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution window family — NTILE equi-buckets,
    PERCENT_RANK, CUME_DIST — per order priority, summarized at the
    quartile level. The window's total order includes the unique
    orderkey, so ranks have no peer groups and every engine computes
    identical values. One shuffle on the partition key."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey")
    ranked = o.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.ntile(4).over(w).alias("quartile"),
        det_round(F.percent_rank().over(w), 6).alias("pr"),
        det_round(F.cume_dist().over(w), 6).alias("cd"))
    return (
        ranked.groupBy("o_orderpriority", "quartile")
        .agg(F.count("*").alias("n"),
             F.min("price").alias("min_price"),
             F.max("price").alias("max_price"),
             F.max("pr").alias("max_pct_rank"),
             F.max("cd").alias("max_cume_dist"))
        .select("o_orderpriority", F.col("quartile").cast("int")
                .alias("quartile"), "n", "min_price", "max_price",
                "max_pct_rank", "max_cume_dist")
        .orderBy("o_orderpriority", "quartile")
    )


_W13_SQL = """
WITH ranked AS (
  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS price,
         NTILE(4) OVER w AS quartile,
         FLOOR((PERCENT_RANK() OVER w) * 1000000.0 + 0.5) / 1000000.0 AS pr,
         FLOOR((CUME_DIST() OVER w) * 1000000.0 + 0.5) / 1000000.0 AS cd
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey))
SELECT o_orderpriority, CAST(quartile AS INT) AS quartile,
       COUNT(*) AS n, MIN(price) AS min_price, MAX(price) AS max_price,
       MAX(pr) AS max_pct_rank, MAX(cd) AS max_cume_dist
FROM ranked GROUP BY o_orderpriority, quartile
ORDER BY o_orderpriority, quartile
"""


# ---- W14: first-touch attribution (earliest view in lookback) --------
def w14_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style FIRST-touch attribution: each purchase is
    credited to the user's EARLIEST view inside the preceding hour —
    the mirror image of W6's as-of join (which takes the LATEST prior
    event). One window over the user-tagged union with a VALUE-range
    frame in epoch-microseconds; the earliest-event argmin rides a
    zero-padded (ts, id) string key so both engines take the same
    lexicographic minimum — no argmin-over-struct portability trap.
    Single shuffle on user_id."""
    e = _t(spark, sf_dir, "events")
    base = e.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("event_type") == "view").alias("is_view"))
    # pad widths hold ANY non-negative bigint (19 digits max) — lpad
    # TRUNCATES beyond its width identically in both engines, which
    # the oracle could never catch; post-1970 timestamps assumed
    view_key = F.when(
        F.col("is_view"),
        F.concat(F.lpad(F.col("ts_us").cast("string"), 20, "0"),
                 F.lpad(F.col("event_id").cast("string"), 20, "0")))
    w = (Window.partitionBy("user_id").orderBy("ts_us")
         .rangeBetween(-3_600_000_000, -1))
    attributed = (
        base.withColumn("first_view_key", F.min(view_key).over(w))
        .filter(~F.col("is_view"))
    )
    return (
        attributed.select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.substring("first_view_key", 21, 20).cast("bigint")
            .alias("first_view_id"))
        .orderBy("purchase_id")
    )


_W14_SQL = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         event_type = 'view' AS is_view
  FROM events WHERE event_type IN ('view', 'purchase')),
attributed AS (
  SELECT *, MIN(CASE WHEN is_view THEN
               lpad(CAST(ts_us AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 20, '0') END)
            OVER (PARTITION BY user_id ORDER BY ts_us
                  RANGE BETWEEN 3600000000 PRECEDING
                        AND 1 PRECEDING) AS first_view_key
  FROM base)
SELECT event_id AS purchase_id, user_id,
       CAST(substr(first_view_key, 21, 20) AS BIGINT) AS first_view_id
FROM attributed WHERE NOT is_view
ORDER BY purchase_id
"""


# ---- W15: time_bucket gap-fill + LOCF --------------------------------
def w15_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB-style `time_bucket_gapfill` + `locf`: hourly
    buckets per event_type over the table's full [min, max] hour
    span, with EMPTY buckets generated (n=0, filled=true) and their
    value carried forward from the last observed bucket
    (last-observation-carried-forward). The reference ships
    TimescaleDB data through its scanner; this is the query its
    users run on top (timescaledb time_bucket_gapfill docs).

    Scale shape: the raw table is touched by exactly ONE map-side-
    combined aggregate keyed on (event_type, hour); everything after
    operates at bucket cardinality — |types| × |hours|, a function of
    time span and dimension count, NOT of data volume, so the grid
    join and the LOCF window cost the same at 100 TB as at 1 GB. The
    span is a 1-row aggregate broadcast into the type list (the
    whitelisted scalar-crossJoin pattern); the LOCF window partitions
    on event_type with bounded rows (hours in span).

    Float determinism: per-bucket mean = exact decimal(18,4) sum cast
    to double, divided by the count in double — both engines perform
    the identical two operations on identical inputs.
    """
    e = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    agg = (e.groupBy(F.col("event_type"), hour.alias("h"))
           .agg(F.count("*").alias("n"),
                (_sum_money(_money_u("value"), 2)
                 / F.count("*")).alias("avg_raw")))
    span = e.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                 F.date_trunc("hour", F.max("ts")).alias("h1"))
    grid = (e.select("event_type").distinct()
            .crossJoin(F.broadcast(span))
            .select("event_type",
                    F.explode(F.sequence(
                        "h0", "h1", F.expr("interval 1 hour"))).alias("h")))
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        grid.join(agg, ["event_type", "h"], "left")
        .select("event_type", "h", "avg_raw",
                F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                F.col("n").isNull().alias("filled"),
                det_round(F.col("avg_raw"), 5).alias("avg_value"))
        .withColumn("locf_value",
                    det_round(F.last("avg_raw", ignorenulls=True).over(w),
                              5))
        .select("event_type",
                F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
                "n", "filled", "avg_value", "locf_value")
        .orderBy("event_type", "hour")
    )


_W15_SQL = """
WITH span AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0,
         date_trunc('hour', MAX(ts)) AS h1
  FROM events),
hours AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span),
agg AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*)
           AS avg_raw
  FROM events GROUP BY 1, 2),
grid AS (
  SELECT t.event_type, hours.h
  FROM (SELECT DISTINCT event_type FROM events) t, hours),
joined AS (
  SELECT g.event_type, g.h, COALESCE(a.n, 0) AS n, a.n IS NULL AS filled,
         a.avg_raw
  FROM grid g LEFT JOIN agg a
    ON g.event_type = a.event_type AND g.h = a.h)
SELECT event_type, strftime(h, '%Y-%m-%d %H:00') AS hour,
       CAST(n AS BIGINT) AS n, filled,
       FLOOR(avg_raw * 100000.0 + 0.5) / 100000.0 AS avg_value,
       FLOOR(LAST_VALUE(avg_raw IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 100000.0 + 0.5) / 100000.0
         AS locf_value
FROM joined
ORDER BY event_type, hour
"""


# ---- W16: time-weighted average (LOCF integral) ----------------------
def w16_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB `time_weight('locf')` → `average()`: per
    event_type, the integral of the last-observation-carried-forward
    value curve over [first_obs, last_obs], divided by the span —
    the correct mean for irregularly-sampled series where the plain
    AVG over-weights bursts (w15 materializes the LOCF curve; this
    integrates it without materializing).

    Scale design (100 TB): the naive form is lead(ts) over ONE
    window per event_type — unbounded partition, the scale-killer.
    Here each observation's segment length comes from a window
    partitioned on (event_type, DAY) — bounded, parallel — and the
    per-day LAST observation is stitched to the next populated day's
    first timestamp through a tiny (|types|×|days|) day-firsts
    relation with its own lead. Identical to the global lead by
    construction (day_firsts skips empty days), which is exactly the
    formulation the oracle runs.

    Float determinism: value is exact at decimal(14,2) (w9's cast);
    segment weights value×Δt_µs stay in exact decimal arithmetic all
    the way to one final double division by the span."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("value").cast("decimal(14,2)").alias("vdec"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / 86_400_000_000).cast("long").alias("day"))
    w_day = Window.partitionBy("event_type", "day") \
        .orderBy("ts_us", "event_id")
    seg = base.withColumn("lead_us", F.lead("ts_us").over(w_day))
    day_firsts = (base.groupBy("event_type", "day")
                  .agg(F.min("ts_us").alias("first_us")))
    w_days = Window.partitionBy("event_type").orderBy("day")
    nxt = day_firsts.select(
        "event_type", "day",
        F.lead("first_us").over(w_days).alias("next_first_us"))
    stitched = (seg.join(nxt, ["event_type", "day"])
                .withColumn("dt_us",
                            F.coalesce("lead_us", "next_first_us")
                            - F.col("ts_us")))
    return (stitched.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_obs"),
                 (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
                 F.sum(F.col("vdec") * F.col("dt_us")).alias("integral"),
                 F.sum("vdec").alias("vsum"))
            .select("event_type", "n_obs", "span_us",
                    det_round(F.col("integral").cast("double")
                              / F.nullif("span_us", F.lit(0)), 6)
                    .alias("twa"),
                    det_round(F.col("vsum").cast("double")
                              / F.col("n_obs"), 6)
                    .alias("mean_value"))
            .orderBy("event_type"))


_W16_SQL = """
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DECIMAL(14,2)) AS vdec
  FROM events),
seg AS (
  SELECT event_type, ts_us, vdec,
         LEAD(ts_us) OVER (PARTITION BY event_type
                           ORDER BY ts_us, event_id) - ts_us AS dt_us
  FROM base)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
       MAX(ts_us) - MIN(ts_us) AS span_us,
       FLOOR((CAST(CAST(SUM(vdec * dt_us) AS VARCHAR) AS DOUBLE) / nullif(MAX(ts_us) - MIN(ts_us), 0)) * 1000000.0 + 0.5) / 1000000.0 AS twa,
       FLOOR((CAST(CAST(SUM(vdec) AS VARCHAR) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS mean_value
FROM seg GROUP BY event_type ORDER BY event_type
"""


# ---- X11: quality-stratified top-k% selection ------------------------
def x11_quality_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-stratified selection: keep each source's top 20% of
    documents by a quality signal (lexical diversity = unique-token
    ratio here; a model score in production) — the 'top slice per
    domain' step of classifier-filtered pre-training corpora.
    Stratifying per source prevents one high-scoring domain from
    crowding out the rest.

    Scale design (100 TB): the selection keeps 20% of each source, so
    no top-k prune can shrink the ranked set — the RANK itself must
    parallelize. It is HIERARCHICAL (x5's idiom adapted to a score
    order): docs band on floor(diversity·64) — score bands are
    contiguous ranges of the (diversity DESC, doc_id) order — the
    row_number window partitions on (source, band), fully parallel,
    and broadcast per-(source, band) offsets (cumsum over bands in
    DESCENDING band order, ≤65 rows per source) restore the exact
    per-source rank by associativity. Per-source counts come from
    the same tiny band table. Selection stays a pure function of
    (score, doc_id) — reproducible across engines and cluster
    sizes."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    div = det_round(F.size(F.array_distinct(toks)) / F.size(toks), 6)
    from ..hier import hier_rank
    base = d.select("doc_id", "source", div.alias("diversity"),
                    F.size(toks).alias("n_tok"))
    # band sentinel -1: a NULL score must stay a member (the count
    # and the cutoff include it) and sort LAST under the DESC order,
    # matching both engines' NULLS LAST — a NULL band key would
    # silently fall out of the helper's equi-join instead
    base = base.withColumn(
        "band", F.coalesce(F.floor(F.col("diversity") * 64).cast("int"),
                           F.lit(-1)))
    ranked = hier_rank(
        base, ["source"],
        [F.desc_nulls_last("diversity"), F.col("doc_id")],
        "band", band_desc=True, total_col="n_src")
    kept = ranked.filter(
        F.col("rk") <= F.ceil(F.col("n_src") * F.lit(0.2)))
    return (
        kept.groupBy("source")
        .agg(F.count("*").alias("n_kept"),
             F.min("diversity").alias("min_diversity"),
             F.sum("n_tok").alias("kept_tokens"))
        .orderBy("source")
    )


_X11_SQL = """
WITH base AS (
  SELECT doc_id, source,
         FLOOR((len(list_distinct(string_split(lower(text), ' '))) * 1.0 / len(string_split(lower(text), ' '))) * 1000000.0 + 0.5) / 1000000.0
           AS diversity,
         len(string_split(lower(text), ' ')) AS n_tok
  FROM documents),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY diversity DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM base)
SELECT source, COUNT(*) AS n_kept, MIN(diversity) AS min_diversity,
       CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
FROM ranked WHERE rk <= CEIL(n_src * 0.2)
GROUP BY source ORDER BY source
"""


# ---- W12: time-RANGE window frame (trailing 7 days) ------------------
def w12_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame windowed aggregation — the VALUE-based frame (all
    rows within 6 days of the current row's date), distinct from W4's
    ROWS frame (a fixed row count): gaps in the calendar change the
    window's contents. Spark expresses the range in epoch-days via
    rangeBetween; the oracle uses RANGE BETWEEN INTERVAL. The daily
    pre-aggregation means the window runs over one row per day —
    history-sized, not fact-sized, at any scale."""
    l = _t(spark, sf_dir, "lineitem")
    daily = (
        l.groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("rev_dec"),
             F.count("*").alias("n_items")))
    w = (Window.orderBy(F.datediff("day", F.lit("1970-01-01")))
         .rangeBetween(-6, 0))
    return (
        daily
        .withColumn("trailing_7d_rev",
                    F.sum("rev_dec").over(w).cast("double"))
        .withColumn("trailing_7d_items",
                    F.sum("n_items").over(w).cast("long"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                F.col("rev_dec").cast("double").alias("revenue"),
                "trailing_7d_rev", "trailing_7d_items")
        .orderBy("day")
    )


_W12_SQL = """
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev_dec,
         COUNT(*) AS n_items
  FROM lineitem GROUP BY day)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(SUM(rev_dec) OVER (ORDER BY day
            RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS trailing_7d_rev,
       CAST(SUM(n_items) OVER (ORDER BY day
            RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
            AS BIGINT) AS trailing_7d_items
FROM daily ORDER BY day
"""


# ---- X10: leakage-safe train/val/test split --------------------------
def x10_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment keyed on the CONTENT fingerprint,
    not the row id: exact duplicates hash to the same split by
    construction, so the eval set can never contain a training copy
    (the classic benchmark-leakage failure of id-keyed splits).
    80/10/10 via md5 buckets — a pure function of content, stable
    across runs, engines, and cluster sizes.

    Scale design (100 TB): the assignment itself is embarrassingly
    parallel (no shuffle — each row's split is a codegen'd hash of
    its own text); the only exchange is the audit aggregation below.
    `n_unique` counts distinct fingerprints per split, which at full
    scale is the same map-side-combined distinct-agg every dedup
    pass already pays."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    bucket = F.conv(F.substring(fp, 1, 4), 16, 10).cast("bigint") % 10
    split = (F.when(bucket <= 7, "train")
             .when(bucket == 8, "val").otherwise("test"))
    return (
        d.select(split.alias("split"), "doc_id", fp.alias("fp"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("fp").alias("n_unique"),
             F.sum("doc_id").cast("long").alias("id_sum"))
        .orderBy("split")
    )


_X10_SQL = r"""
WITH assigned AS (
  SELECT doc_id,
         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
         CAST(('0x' || substr(
             md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 4))
           AS BIGINT) % 10 AS bucket
  FROM documents)
SELECT CASE WHEN bucket <= 7 THEN 'train'
            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM assigned GROUP BY split ORDER BY split
"""


# ---- W17: OHLC candlestick bars --------------------------------------
def w17_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB/financial `ohlc` rollup: per (event_type, hour)
    bar — open (value at earliest event), high, low, close (value at
    latest event), count. Open/close are argmin/argmax on the
    zero-padded (ts, event_id) key (W14's portable-lexicographic
    idiom) via min_by/max_by, which both engines implement; the key
    is total (event_id unique) so ties cannot diverge.

    Scale: ONE map-side-combined aggregate keyed on (type, hour) —
    min_by/max_by combine associatively, so partial aggregation
    works exactly like min/max; no window, no sort, no second pass.
    Values pass through untouched (no float arithmetic at all), so
    no rounding is needed for cross-engine equality."""
    e = _t(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(F.unix_micros(F.col("ts").cast("timestamp"))
               .cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"))
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00")
    return (e.select("event_type", hour.alias("hour"), "value",
                     key.alias("k"))
            .groupBy("event_type", "hour")
            .agg(F.count("*").cast("long").alias("n"),
                 F.min_by("value", "k").alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max_by("value", "k").alias("close"))
            .orderBy("event_type", "hour"))


_W17_SQL = """
WITH base AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
  FROM events)
SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS n,
       min_by(value, k) AS open, MAX(value) AS high, MIN(value) AS low,
       max_by(value, k) AS close
FROM base GROUP BY event_type, hour
ORDER BY event_type, hour
"""


# ---- W18: retention cohort matrix ------------------------------------
def w18_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users cohorted by FIRST-activity
    day; for each (cohort_day, age_days) cell, how many of the
    cohort were active that day and what fraction of the cohort that
    is — the matrix every product-analytics warehouse materializes
    (and the engagement-decay view a data-flywheel pipeline reads).

    Scale: first-activity is one min-aggregate keyed on user_id;
    daily activity is one distinct on (user_id, day); the join back
    is keyed on user_id (co-partitioned with the aggregate's
    output); the matrix itself is |days|² metadata. Retention is an
    exact integer ratio divided once in double."""
    e = _t(spark, sf_dir, "events")
    act = (e.select("user_id", F.to_date("ts").alias("day"))
           .distinct())
    firsts = act.groupBy("user_id").agg(F.min("day").alias("cohort"))
    cells = (act.join(firsts, "user_id")
             .groupBy("cohort",
                      F.datediff("day", "cohort").alias("age_days"))
             .agg(F.countDistinct("user_id").cast("long")
                  .alias("n_active")))
    sizes = firsts.groupBy("cohort").agg(
        F.count("*").cast("long").alias("cohort_size"))
    return (cells.join(sizes, "cohort")
            .select(F.date_format("cohort", "yyyy-MM-dd")
                    .alias("cohort_day"),
                    F.col("age_days").cast("int").alias("age_days"),
                    "n_active", "cohort_size",
                    det_round(F.col("n_active")
                              / F.col("cohort_size"), 4)
                    .alias("retention"))
            .orderBy("cohort_day", "age_days"))


_W18_SQL = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
firsts AS (
  SELECT user_id, MIN(day) AS cohort FROM act GROUP BY user_id),
cells AS (
  SELECT cohort, datediff('day', cohort, day) AS age_days,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
  FROM act a JOIN firsts USING (user_id)
  GROUP BY cohort, age_days),
sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY cohort)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
       CAST(age_days AS INT) AS age_days, n_active, cohort_size,
       FLOOR((n_active * 1.0 / cohort_size) * 10000.0 + 0.5) / 10000.0 AS retention
FROM cells JOIN sizes USING (cohort)
ORDER BY cohort_day, age_days
"""


# ---- X14: corpus snapshot diff ---------------------------------------
def x14_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset VERSION diff — the release-note artifact between two
    corpus snapshots: which documents were added, removed, modified
    (same id, different content fingerprint), or unchanged, with doc
    and token deltas per change class. Snapshot B derives from A by
    deterministic rules (every 7th doc removed, every 5th surviving
    doc's text 'edited' by a marker token, docs +900000 added for
    doc_id < 15) so the diff is fully SQL-checkable; in production
    A and B are two table versions (the store's time travel — S21 —
    provides exactly these inputs).

    Scale: ONE full-outer join keyed on doc_id with md5 fingerprints
    computed in the scan projection — content never crosses the
    shuffle, only (id, fingerprint, n_tok); the report is 4 rows."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.lower(F.col("text")), " "))
    a = d.select("doc_id", F.md5(F.lower("text")).alias("fp_a"),
                 toks.alias("tok_a"))
    surviving = d.filter(F.col("doc_id") % 7 != 0)
    edited = surviving.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" edited-v2")))
        .otherwise(F.col("text")).alias("text"))
    added = d.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text")
    b_docs = edited.unionByName(added)
    b = b_docs.select("doc_id", F.md5(F.lower("text")).alias("fp_b"),
                      F.size(F.split(F.lower(F.col("text")), " "))
                      .alias("tok_b"))
    j = a.join(b, "doc_id", "full_outer")
    change = (F.when(F.col("fp_a").isNull(), "added")
              .when(F.col("fp_b").isNull(), "removed")
              .when(F.col("fp_a") != F.col("fp_b"), "modified")
              .otherwise("unchanged"))
    return (j.select(change.alias("change"),
                     F.coalesce("tok_b", F.lit(0)).alias("tok_b"),
                     F.coalesce("tok_a", F.lit(0)).alias("tok_a"))
            .groupBy("change")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.col("tok_b") - F.col("tok_a")).cast("long")
                 .alias("token_delta"))
            .orderBy("change"))


_X14_SQL = """
WITH a AS (
  SELECT doc_id, md5(lower(text)) AS fp_a,
         len(string_split(lower(text), ' ')) AS tok_a
  FROM documents),
b_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' edited-v2'
              ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 900000, text FROM documents WHERE doc_id < 15),
b AS (
  SELECT doc_id, md5(lower(text)) AS fp_b,
         len(string_split(lower(text), ' ')) AS tok_b
  FROM b_docs),
j AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, fp_a, fp_b,
         COALESCE(tok_a, 0) AS tok_a, COALESCE(tok_b, 0) AS tok_b
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
SELECT CASE WHEN fp_a IS NULL THEN 'added'
            WHEN fp_b IS NULL THEN 'removed'
            WHEN fp_a <> fp_b THEN 'modified'
            ELSE 'unchanged' END AS change,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok_b - tok_a) AS BIGINT) AS token_delta
FROM j GROUP BY change ORDER BY change
"""


# ---- W19: truncated exponential moving average -----------------------
_W19_ALPHA = 0.2
_W19_LOOKBACK = 30    # days
# (1-alpha)^gap for gap 0..29, one shared literal table for both
# engines (see w19 docstring/body)
_W19_WEIGHTS = tuple((1.0 - _W19_ALPHA) ** g
                     for g in range(_W19_LOOKBACK))


def w19_ema_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue —
    metrics-standard smoothing (α=0.2), TRUNCATED at a 30-day
    lookback and renormalized so the window is exact arithmetic
    instead of an unbounded recurrence (the recurrence form is not
    window-expressible; the truncated form is, identically, in both
    engines). Weights decay by CALENDAR distance, so gaps in the
    series age out correctly rather than being skipped.

    Determinism: daily revenues are exact decimals; each engine
    computes Σ revᵢ·(1−α)^gapᵢ over the SAME day-sorted list (Spark
    array_sort + aggregate, DuckDB list(... ORDER BY) + list_sum) —
    summation order fixed; final ratio rounded to 6.

    Scale: the daily rollup is the only data-volume shuffle, and the
    EMA window is BUCKET-PARALLEL (x6's trick): the lookback is a
    bounded 30 days, so each day is hashed to bucket floor(dn/30)
    and also copied into the successor bucket as read-only context —
    every day's full 30-day range then lives inside one bucket and
    the window runs partitionBy(bucket), no single-partition
    Exchange. Cost: a 2× duplication of the |days|-row rollup; works
    unchanged if the grain ever becomes user-day (add the user to
    the partition key)."""
    l = _t(spark, sf_dir, "lineitem")
    daily = (l.groupBy(F.to_date("l_shipdate").alias("day"))
             .agg(F.sum(F.col("l_extendedprice").cast(_DEC))
                  .alias("rev_dec")))
    d = F.datediff("day", F.lit("1970-01-01"))
    series = daily.select(
        "day", d.alias("dn"),
        F.col("rev_dec").cast("double").alias("revenue"))
    B = _W19_LOOKBACK
    bkt = F.floor(F.col("dn") / B)
    home = series.select("day", "dn", "revenue", bkt.alias("bkt"),
                         F.lit(True).alias("own"))
    ctx = series.select("day", "dn", "revenue",
                        (bkt + 1).alias("bkt"),
                        F.lit(False).alias("own"))
    series = home.unionByName(ctx)
    w = (Window.partitionBy("bkt").orderBy("dn")
         .rangeBetween(-(_W19_LOOKBACK - 1), 0))
    lst = F.array_sort(F.collect_list(F.struct("dn", "revenue")).over(w))
    # the decay weights are PRECOMPUTED Python doubles embedded as
    # literals in BOTH plans: runtime pow() is the one term here the
    # two engines may disagree on by an ulp (JVM Math.pow vs libm),
    # and an ulp under round() flips the 6th decimal at an exact
    # boundary (2 sf1 rows, round 9). Indexing a 30-element literal
    # is also cheaper than pow per element.
    warr = F.array(*[F.lit(w) for w in _W19_WEIGHTS])
    num = F.aggregate(
        lst, F.lit(0.0),
        lambda a, x: a + x["revenue"]
        * F.element_at(warr, (F.col("dn") - x["dn"] + 1).cast("int")))
    den = F.aggregate(
        lst, F.lit(0.0),
        lambda a, x: a + F.element_at(
            warr, (F.col("dn") - x["dn"] + 1).cast("int")))
    return (series
            .withColumn("ema", det_round(num / den, 6))
            .filter("own")       # context copies computed, not emitted
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "revenue", "ema")
            .orderBy("day"))


def _w19_wlit() -> str:
    """DuckDB list literal of the shared decay weights. SCIENTIFIC
    notation is load-bearing: a plain decimal literal parses as
    DECIMAL(20,19) first and the decimal→double cast double-rounds
    to a different ulp than Python/JVM's 0.8**g (measured: term 0.8^29
    × 116303001.0 differs in the last bit) — an exponent in the
    literal makes DuckDB type it DOUBLE and parse correctly-rounded
    straight to the identical bits."""
    return "[" + ", ".join(f"{w:.17e}" for w in _W19_WEIGHTS) + "]"


_W19_SQL = f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev_dec
  FROM lineitem GROUP BY day),
series AS (
  SELECT day, datediff('day', DATE '1970-01-01', day) AS dn,
         CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue
  FROM daily),
windowed AS (
  SELECT day, dn, revenue,
         list_sort(list(struct_pack(dn := dn, revenue := revenue))
           OVER (ORDER BY dn
                 RANGE BETWEEN {_W19_LOOKBACK - 1} PRECEDING
                       AND CURRENT ROW)) AS lst
  FROM series)
SELECT strftime(day, '%Y-%m-%d') AS day, revenue,
       FLOOR(
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(lst,
             x -> x.revenue * ({_w19_wlit()}[CAST(dn - x.dn AS INT) + 1]))),
           (a, b) -> a + b)
         / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(lst,
             x -> ({_w19_wlit()}[CAST(dn - x.dn AS INT) + 1]))),
           (a, b) -> a + b)
         * 1000000.0 + 0.5) / 1000000.0 AS ema
FROM windowed ORDER BY day
"""


# ---- X12: corpus compilation funnel ----------------------------------
_X12_BUDGET_FRAC = 0.5     # select half the surviving tokens
_X12_MIN_CHARS, _X12_MAX_CHARS = 50, 5000
_X12_MIN_DIVERSITY = 0.5


def x12_corpus_compile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus COMPILE manifest: exact dedup → quality
    filter → temperature-weighted per-source selection, reported as
    the per-source funnel (raw → deduped → kept → selected with
    token counts) — the auditable artifact a data-curation run ships
    alongside the corpus. Composes D1's dedup rule, E18's filter
    rules, and X9's tokens^0.5 weighting into one plan.

    Selection is deterministic greedy fill: docs ordered per source
    by (md5(doc_id), doc_id), taken while the EXCLUSIVE token cumsum
    is under the source's quota — reproducible across engines,
    cluster sizes, and runs (no RNG).

    Scale: three corpus-touching aggregates (fingerprint groupBy,
    per-source rollups, the per-source selection window) — each a
    single shuffle; the quota math runs on the |sources|-row summary
    (metadata-sized); a Zipf-hot source's selection window is the
    x6 bucket-parallel refinement at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    toks = F.split(F.lower(F.col("text")), " ")
    diversity = F.size(F.array_distinct(toks)) / F.size(toks)
    from ..runtime import scratch_persist
    # narrow per-doc stats (no text) computed ONCE — base feeds the
    # dedup keeper, the survivor join, and the raw funnel; without
    # the persist Catalyst re-runs md5+split over the corpus per use
    base = scratch_persist(
        d.select("doc_id", "source", "n_chars", fp.alias("fp"),
                 F.size(toks).alias("n_tok"), diversity.alias("div")))
    keeper = base.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = base.join(keeper, ["fp", "doc_id"])
    kept = deduped.filter(
        (F.col("n_chars") >= _X12_MIN_CHARS)
        & (F.col("n_chars") <= _X12_MAX_CHARS)
        & (F.col("div") >= _X12_MIN_DIVERSITY))
    src_tok = kept.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("src_tokens"))
    w_all = Window.partitionBy()
    quota = src_tok.select(
        "source", "src_tokens",
        F.floor(F.lit(_X12_BUDGET_FRAC)
                * F.sum("src_tokens").over(w_all)
                * F.sqrt("src_tokens")
                / F.sum(F.sqrt("src_tokens")).over(w_all))
        .cast("long").alias("quota_tokens"))
    # hierarchical per-source exclusive cumsum (x4/x5's idiom): the
    # hot source never serializes through one window task
    from ..hier import hier_cumsum
    kept_h = (kept
              .withColumn("h", F.md5(F.col("doc_id").cast("string")))
              .withColumn("sub", F.substring("h", 1, 2)))
    selected = (hier_cumsum(kept_h, ["source"], ["h", "doc_id"], "sub",
                            "n_tok", inclusive=False,
                            out_col="cum_excl")
                .join(F.broadcast(quota), "source")
                .withColumn("sel", F.col("cum_excl") < F.col("quota_tokens")))
    funnel_raw = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_raw"))
    funnel_dedup = deduped.groupBy("source").agg(
        F.count("*").cast("long").alias("n_dedup"))
    funnel_sel = selected.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum(F.when(F.col("sel"), 1).otherwise(0)).cast("long")
        .alias("n_selected"),
        F.sum(F.when(F.col("sel"), F.col("n_tok")).otherwise(0))
        .cast("long").alias("sel_tokens"))
    return (funnel_raw.join(funnel_dedup, "source")
            .join(quota, "source").join(funnel_sel, "source")
            .select("source", "n_raw", "n_dedup", "n_kept", "src_tokens",
                    "quota_tokens", "n_selected", "sel_tokens")
            .orderBy("source"))


_X12_SQL = f"""
WITH base AS (
  SELECT doc_id, source, n_chars,
         md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
         len(string_split(lower(text), ' ')) AS n_tok,
         len(list_distinct(string_split(lower(text), ' '))) * 1.0
           / len(string_split(lower(text), ' ')) AS div
  FROM documents),
keeper AS (SELECT fp, MIN(doc_id) AS doc_id FROM base GROUP BY fp),
deduped AS (SELECT b.* FROM base b JOIN keeper USING (fp, doc_id)),
kept AS (
  SELECT * FROM deduped
  WHERE n_chars BETWEEN {_X12_MIN_CHARS} AND {_X12_MAX_CHARS}
    AND div >= {_X12_MIN_DIVERSITY}),
src_tok AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens
  FROM kept GROUP BY source),
quota AS (
  SELECT source, src_tokens,
         CAST(floor({_X12_BUDGET_FRAC} * SUM(src_tokens) OVER ()
              * sqrt(src_tokens)
              / SUM(sqrt(src_tokens)) OVER ()) AS BIGINT) AS quota_tokens
  FROM src_tok),
selected AS (
  SELECT k.source, k.n_tok,
         COALESCE(SUM(k.n_tok) OVER (PARTITION BY k.source
             ORDER BY md5(CAST(k.doc_id AS VARCHAR)), k.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           < q.quota_tokens AS sel
  FROM kept k JOIN quota q USING (source)),
funnel AS (
  SELECT source,
         (SELECT COUNT(*) FROM base b WHERE b.source = s.source) AS n_raw,
         (SELECT COUNT(*) FROM deduped d2 WHERE d2.source = s.source)
           AS n_dedup,
         COUNT(*) AS n_kept,
         CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_selected,
         CAST(SUM(CASE WHEN sel THEN n_tok ELSE 0 END) AS BIGINT)
           AS sel_tokens
  FROM selected s GROUP BY source)
SELECT f.source, CAST(f.n_raw AS BIGINT) AS n_raw,
       CAST(f.n_dedup AS BIGINT) AS n_dedup,
       CAST(f.n_kept AS BIGINT) AS n_kept,
       q.src_tokens, q.quota_tokens, f.n_selected, f.sel_tokens
FROM funnel f JOIN quota q USING (source)
ORDER BY f.source
"""


# ---- X13: near-dup-safe train/val/test split -------------------------
def x13_neardup_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10's leakage guarantee upgraded from exact to NEAR-dup:
    split assignment keys on the duplicate-CLUSTER label (D6's
    connected components over exact + prefix keys), so a document
    and its mutated near-copies can never straddle train/eval — the
    guarantee exact-fingerprint splits (X10) cannot give, and the
    one that actually matters for benchmark decontamination.

    80/10/10 by md5 bucket of the cluster id — a pure function of
    the cluster, stable across runs/engines/cluster sizes. Audit
    columns: docs, clusters, and id_sum per split (the oracle's
    recursive-CTE components must agree on every one).

    Scale: inherits D6's label propagation (star edges, ≤4 rounds);
    the assignment itself is one hash of the label — no extra
    shuffle beyond the final 3-row aggregate."""
    from ..operators.dedup import _d6_labels
    _corpus, labels = _d6_labels(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("lbl").cast("string")), 1, 4),
                    16, 10).cast("bigint") % 10
    split = (F.when(bucket <= 7, "train")
             .when(bucket == 8, "val").otherwise("test"))
    return (labels.select(split.alias("split"), "doc_id", "lbl")
            .groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.countDistinct("lbl").cast("long").alias("n_clusters"),
                 F.sum("doc_id").cast("long").alias("id_sum"))
            .orderBy("split"))


def _x13_sql() -> str:
    from ..operators.dedup import exact_components_sql
    return f"""
WITH RECURSIVE
{exact_components_sql('lbl')},
assigned AS (
  SELECT doc_id, lbl,
         CASE WHEN CAST(('0x' || substr(md5(CAST(lbl AS VARCHAR)), 1, 4))
                   AS BIGINT) % 10 <= 7 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(lbl AS VARCHAR)), 1, 4))
                   AS BIGINT) % 10 = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM comp)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lbl) AS BIGINT) AS n_clusters,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM assigned GROUP BY split ORDER BY split
"""


# ---- W20: directional as-of join (merge_asof parity) -----------------
_W20_TOL_US = 3_600 * 1_000_000   # 1-hour tolerance, in microseconds


def w20_asof_directional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6's as-of join extended to the full pandas-merge_asof /
    feature-store lookup surface: per purchase, the nearest view
    BACKWARD, FORWARD, and NEAREST-either-way, each subject to a
    1-hour tolerance — the semantics a point-in-time feature fetch
    needs (backward = no-leakage training lookup, forward = label
    attribution, nearest = sensor alignment). Nearest ties break
    backward (pandas' rule).

    Determinism: gaps are exact INTEGER microseconds (unix_micros /
    epoch_us) — no float time arithmetic, so per-user sums are
    order-free. The union-tag technique needs ONE partition sort;
    both direction frames ride the same window exchange.

    Scale: one shuffle keyed on user_id (same as w6); frames are
    running first/last — no self-join, no range explosion."""
    e = _t(spark, sf_dir, "events")
    base = (e.filter(F.col("event_type").isin("purchase", "view"))
            .select("user_id", "ts", "event_id",
                    (F.col("event_type") == "purchase")
                    .cast("int").alias("is_p")))
    order = [F.col("ts"), F.col("event_id")]
    wb = (Window.partitionBy("user_id").orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, -1))
    wf = (Window.partitionBy("user_id").orderBy(*order)
          .rowsBetween(1, Window.unboundedFollowing))
    vts = F.when(F.col("is_p") == 0, F.col("ts"))
    tagged = (base
              .withColumn("bts", F.last(vts, ignorenulls=True).over(wb))
              .withColumn("fts", F.first(vts, ignorenulls=True).over(wf))
              .filter(F.col("is_p") == 1))
    # NTZ → timestamp cast is identity under the session's pinned UTC
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    bgap = us("ts") - us("bts")
    fgap = us("fts") - us("ts")
    p = tagged.select(
        "user_id",
        F.when(bgap <= _W20_TOL_US, bgap).alias("bg"),
        F.when(fgap <= _W20_TOL_US, fgap).alias("fg"))
    ng = (F.when(F.col("bg").isNotNull()
                 & (F.col("fg").isNull() | (F.col("bg") <= F.col("fg"))),
                 F.col("bg"))
          .otherwise(F.col("fg")))
    return (p.withColumn("ng", ng)
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_purchases"),
                 F.count("bg").cast("long").alias("n_back"),
                 F.count("fg").cast("long").alias("n_fwd"),
                 F.count("ng").cast("long").alias("n_near"),
                 F.coalesce(F.sum("ng"), F.lit(0)).cast("long")
                 .alias("sum_near_gap_us"))
            .orderBy("user_id"))


_W20_SQL = f"""
WITH base AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events WHERE event_type IN ('purchase', 'view')),
wv AS (
  SELECT user_id, is_p, ts,
         last_value(CASE WHEN is_p = 0 THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS bts,
         first_value(CASE WHEN is_p = 0 THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS fts
  FROM base),
p AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - epoch_us(bts) <= {_W20_TOL_US}
              THEN epoch_us(ts) - epoch_us(bts) END AS bg,
         CASE WHEN epoch_us(fts) - epoch_us(ts) <= {_W20_TOL_US}
              THEN epoch_us(fts) - epoch_us(ts) END AS fg
  FROM wv WHERE is_p = 1),
n AS (
  SELECT user_id, bg, fg,
         CASE WHEN bg IS NOT NULL AND (fg IS NULL OR bg <= fg) THEN bg
              ELSE fg END AS ng
  FROM p)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(bg) AS BIGINT) AS n_back,
       CAST(COUNT(fg) AS BIGINT) AS n_fwd,
       CAST(COUNT(ng) AS BIGINT) AS n_near,
       CAST(COALESCE(SUM(ng), 0) AS BIGINT) AS sum_near_gap_us
FROM n GROUP BY user_id ORDER BY user_id
"""


# ---- X15: length-bucketed batch plan (padding-efficiency loader) ----
_X15_WIDTH = 32     # tokens per length bucket
_X15_BATCH = 16     # docs per training batch


def x15_length_bucketed_batches(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Length-bucketed batching plan — the loader layout that makes
    padded (non-packed) training batches cheap: documents group into
    token-length buckets, each bucket fills fixed-size batches in a
    deterministic hash order, and a batch pads every member to its
    own max length. The per-bucket report (batches, padded vs real
    tokens, efficiency) is what a data-loading team reads to pick
    bucket width; the waste of the equivalent UNBUCKETED plan (pad
    everything to the corpus-wide max) rides along as the baseline
    column.

    Scale: one shuffle keys docs by bucket, but the within-bucket
    rank is HIERARCHICAL (x5/m9's idiom) — a length bucket is few in
    number and can hold most of the corpus, so a plain
    partitionBy(bucket) window would cap parallelism at ~|buckets|
    tasks and serialize the hot bucket. Instead: docs sub-bucket on
    the first two hex chars of their md5 sort key (256 contiguous
    ranges of the within-bucket order), the rank window partitions on
    (bucket, sub) — fully parallel — and per-(bucket, sub) counts
    (tiny: |buckets|·256 rows) provide broadcast offsets; global
    within-bucket rank = offset + local rank, identical by
    associativity. The unbucketed baseline derives from the persisted
    bucket-grain rollup. Nothing orders the whole corpus — or a whole
    bucket — through one task anywhere."""
    from ..hier import hier_rank
    from ..runtime import scratch_persist
    d = _t(spark, sf_dir, "documents")
    base = (d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"))
        .withColumn("bucket", F.expr(f"n_tok DIV {_X15_WIDTH}"))
        .withColumn("h", F.md5(F.col("doc_id").cast("string")))
        .withColumn("sub", F.substring("h", 1, 2)))
    batched = (hier_rank(base, ["bucket"], ["h", "doc_id"], "sub")
               .withColumn(
                   "batch_id",
                   F.floor((F.col("rk") - 1) / _X15_BATCH)
                   .cast("long")))
    per_batch = (batched.groupBy("bucket", "batch_id")
                 .agg(F.count("*").alias("n_docs"),
                      F.max("n_tok").alias("max_tok"),
                      F.sum("n_tok").alias("sum_tok")))
    # the bucket-grain rollup is TINY (buckets ∝ max doc length /
    # width, corpus-size-independent) — persist it so the global-max
    # baseline reads these rows instead of re-running the corpus
    # scan + tokenization (every doc's n_tok <= its batch max, so
    # MAX(bucket_max) == MAX(n_tok))
    per_bucket = scratch_persist(
        per_batch.groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_batches"),
             F.sum("n_docs").cast("long").alias("n_docs"),
             F.sum("sum_tok").cast("long").alias("real_tokens"),
             F.sum(F.col("n_docs") * F.col("max_tok"))
             .cast("long").alias("padded_tokens"),
             F.max("max_tok").alias("bucket_max")))
    gmax = per_bucket.agg(F.max("bucket_max").alias("gmax"))
    return (per_bucket
            .withColumn("efficiency",
                        det_round(F.col("real_tokens")
                                  / F.col("padded_tokens"), 4))
            .crossJoin(F.broadcast(gmax))
            .withColumn("unbucketed_padded",
                        (F.col("n_docs") * F.col("gmax")).cast("long"))
            .drop("gmax", "bucket_max")
            .orderBy("bucket"))


_X15_SQL = f"""
WITH base AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents),
bk AS (SELECT doc_id, n_tok, n_tok // {_X15_WIDTH} AS bucket FROM base),
batched AS (
  SELECT bucket, n_tok,
         (ROW_NUMBER() OVER (PARTITION BY bucket
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
           // {_X15_BATCH} AS batch_id
  FROM bk),
per_batch AS MATERIALIZED (
  SELECT bucket, batch_id, COUNT(*) AS n_docs,
         MAX(n_tok) AS max_tok, SUM(n_tok) AS sum_tok
  FROM batched GROUP BY bucket, batch_id),
totals AS (SELECT MAX(max_tok) AS gmax FROM per_batch)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(sum_tok) AS BIGINT) AS real_tokens,
       CAST(SUM(n_docs * max_tok) AS BIGINT) AS padded_tokens,
       FLOOR((SUM(sum_tok) * 1.0 / SUM(n_docs * max_tok)) * 10000.0 + 0.5) / 10000.0
         AS efficiency,
       CAST(SUM(n_docs) * ANY_VALUE(gmax) AS BIGINT)
         AS unbucketed_padded
FROM per_batch CROSS JOIN totals GROUP BY bucket ORDER BY bucket
"""


# ---- X16: domain reweighting (multiplicative-weights update) --------
_X16_ETA = 1.0      # exponentiated-gradient step size


def x16_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One multiplicative-weights update of per-source sampling
    weights — the DoReMi-shaped domain-reweighting step a pretraining
    mix runs between proxy epochs: sources whose loss proxy exceeds
    the cross-domain mean get exponentially upweighted
    (w_i ∝ exp(η·(loss_i − mean))), then normalized to a sampling
    distribution. The loss proxy here is deterministic from the data
    (mean per-doc lexical diversity — distinct/total tokens), so both
    engines reproduce the update bit-for-bit.

    Determinism discipline: every cross-row float sum (per-source
    diversity, cross-source mean, softmax normalizer) is decimal-cast
    before summing, so aggregation ORDER cannot perturb a bit; loss is
    ROUNDed to 6 decimals BEFORE exp (and before the mean) so both
    engines exponentiate identical shortened inputs — decimal-division
    scale rules differ between engines, and a last-ulp disagreement in
    the raw quotient must not reach exp where ROUND(weight, 6) could
    flip on a boundary; exp and the two divisions then happen once per
    source on identical inputs.

    Scale: per-doc work is one map; the rest is a source-grain
    aggregate (|sources| rows) — the whole update is one shuffle on
    source however large the corpus."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    dec = "decimal(28,15)"
    per_doc = d.select(
        "source",
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("div"))
    per_src = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("div").cast(dec)).alias("sdiv"))
    loss = per_src.select(
        "source", "n_docs",
        det_round((F.col("sdiv") / F.col("n_docs")).cast("double"), 6)
         .alias("loss"))
    mean = loss.agg(
        (F.sum(F.col("loss").cast(dec)) / F.count("*"))
        .cast("double").alias("mean_loss"))
    raw = (loss.crossJoin(F.broadcast(mean))   # 1-row scalar
           .withColumn("wr", F.exp(_X16_ETA
                                   * (F.col("loss")
                                      - F.col("mean_loss")))))
    norm = raw.agg(F.sum(F.col("wr").cast(dec)).alias("swr"))
    return (raw.crossJoin(F.broadcast(norm))
            .select("source", "n_docs", "loss",
                    det_round(F.col("wr")
                              / F.col("swr").cast("double"), 6)
                    .alias("weight"))
            .orderBy("source"))


_X16_SQL = f"""
WITH per_doc AS (
  SELECT source,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS div
  FROM documents),
per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(CAST(div AS DECIMAL(28,15))) AS sdiv
  FROM per_doc GROUP BY source),
l AS (SELECT source, n_docs,
             FLOOR((CAST(sdiv / n_docs AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS loss
      FROM per_src),
m AS (SELECT CAST(SUM(CAST(loss AS DECIMAL(28,15))) / COUNT(*)
              AS DOUBLE) AS mean_loss FROM l),
r AS (SELECT source, n_docs, loss,
             exp({_X16_ETA} * (loss - mean_loss)) AS wr
      FROM l, m),
s AS (SELECT SUM(CAST(wr AS DECIMAL(28,15))) AS swr FROM r)
SELECT source, n_docs, loss,
       FLOOR((wr / CAST(CAST(swr AS VARCHAR) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS weight
FROM r, s ORDER BY source
"""


# ---- X17: DSIR importance-weighted data selection -------------------
_X17_B = 4096              # hashed n-gram feature buckets
_X17_K = 200               # docs selected from the raw pool
_X17_TARGET = ("src0", "src1", "src2", "src3")   # target sample


def x17_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169), the hashed-n-gram data-selection method
    production pretraining pipelines run between a small TARGET
    sample (here: four sources standing in for the curated set) and
    the big RAW pool: fit bag-of-hashed-n-gram unigram+bigram
    distributions over B=4096 buckets on each side with add-one
    smoothing, score every raw document by its importance log-weight
    sum_g [ln p_target(b(g)) - ln p_raw(b(g))], and keep the top-K.
    (The paper's Gumbel-noise resampling step is replaced by the
    deterministic top-K so two engines can agree bit-for-bit; the
    weights ARE the method.) Complements X16: DoReMi reweights whole
    domains, DSIR selects individual documents.

    Determinism discipline: per-gram terms are ln() of integer
    counts (identical doubles into both engines' ln — the accepted
    t9/t19 class), decimal-cast before the per-doc SUM so
    aggregation order cannot perturb a bit, and the exact decimal
    sum reaches DOUBLE through the VARCHAR route (DuckDB's direct
    decimal-to-double cast double-rounds past 2^53 unscaled). The
    normalizer term n_grams*(ln(S_r+B) - ln(S_t+B)) is the same
    three-op double expression in both plans; scores round to 6
    decimals BEFORE the top-K order, doc_id breaks ties.

    Scale (100 TB): the bucket distribution is B=4096 rows however
    large the corpus — broadcast to the gram stream, never shuffled;
    gram extraction is a per-doc map (the bigram LEAD window
    partitions by doc_id, bounded by document length); the only
    corpus-sized shuffle is the per-doc term SUM keyed by doc_id;
    the top-K is orderBy+limit = TakeOrderedAndProject per-partition
    heaps (t12 idiom), so K rows — not the pool — leave the parallel
    stage. Reference scope: the reference engine ships no data-
    selection surface; this extends the curation family (X1-X16)
    with the published method a reference user would otherwise run
    as a separate job."""
    from ..runtime import scratch_persist
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    base = d.select("doc_id", "source",
                    F.posexplode(toks).alias("pos", "w"))
    wn = Window.partitionBy("doc_id").orderBy("pos")
    uni = base.select("doc_id", "source",
                      F.concat(F.lit("u:"), F.col("w")).alias("g"))
    bi = (base.select("doc_id", "source", "pos", "w",
                      F.lead("w").over(wn).alias("w2"))
          .filter(F.col("w2").isNotNull())
          .select("doc_id", "source",
                  F.concat(F.lit("b:"), F.col("w"), F.lit(" "),
                           F.col("w2")).alias("g")))
    is_t = F.col("source").isin(*_X17_TARGET)
    gb = scratch_persist(
        uni.unionByName(bi).select(
            "doc_id", "source", is_t.alias("is_t"),
            (F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10)
             .cast("bigint") % _X17_B).alias("b")))
    dist = (gb.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("c_r")))
    tot = dist.agg(F.sum("c_t").alias("s_t"), F.sum("c_r").alias("s_r"))
    dec = "decimal(28,15)"
    terms = (gb.filter(~F.col("is_t"))
             .join(F.broadcast(dist), "b")
             .select("doc_id", "source",
                     (F.log(F.col("c_t") + 1.0)
                      - F.log(F.col("c_r") + 1.0)).cast(dec)
                     .alias("term")))
    per = terms.groupBy("doc_id").agg(
        F.max("source").alias("source"),
        F.sum("term").alias("s"),
        F.count("*").alias("n_grams"))
    scored = (per.crossJoin(F.broadcast(tot))   # 1-row scalar
              .select("doc_id", "source", "n_grams",
                      det_round(
                          F.col("s").cast("double")
                          + F.col("n_grams")
                          * (F.log(F.col("s_r") + float(_X17_B))
                             - F.log(F.col("s_t") + float(_X17_B))),
                          6).alias("score")))
    topk = scored.orderBy(F.desc("score"), "doc_id").limit(_X17_K)
    return (topk.agg(F.sort_array(F.collect_list(F.struct(
                (-F.col("score")).alias("negs"), "doc_id", "source",
                "n_grams", "score"))).alias("arr"))
            .select(F.posexplode("arr").alias("pos", "t"))
            .select((F.col("pos") + 1).cast("long").alias("rank"),
                    F.col("t.doc_id").alias("doc_id"),
                    F.col("t.source").alias("source"),
                    F.col("t.n_grams").cast("long").alias("n_grams"),
                    F.col("t.score").alias("score"))
            .orderBy("rank"))


_X17_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, i AS pos, t[CAST(i AS INT) + 1] AS w
  FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS t
        FROM documents), UNNEST(range(len(t))) AS u(i)),
bi AS (
  SELECT doc_id, source, w AS w1,
         LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok QUALIFY w2 IS NOT NULL),
grams AS (
  SELECT doc_id, source, 'u:' || w AS g FROM tok
  UNION ALL
  SELECT doc_id, source, 'b:' || w1 || ' ' || w2 AS g FROM bi),
gb AS MATERIALIZED (
  SELECT doc_id, source,
         source IN {_X17_TARGET!r} AS is_t,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {_X17_B} AS b
  FROM grams),
dist AS MATERIALIZED (
  SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t,
         SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS c_r
  FROM gb GROUP BY b),
tot AS (SELECT SUM(c_t) AS s_t, SUM(c_r) AS s_r FROM dist),
per AS (
  SELECT doc_id, MAX(source) AS source,
         SUM(CAST(ln(c_t + 1.0) - ln(c_r + 1.0) AS DECIMAL(28,15))) AS s,
         COUNT(*) AS n_grams
  FROM gb JOIN dist USING (b) WHERE NOT is_t
  GROUP BY doc_id),
scored AS (
  SELECT doc_id, source, n_grams,
         FLOOR((CAST(CAST(s AS VARCHAR) AS DOUBLE)
                + n_grams * (ln(s_r + {float(_X17_B)!r})
                             - ln(s_t + {float(_X17_B)!r})))
               * 1000000.0 + 0.5) / 1000000.0 AS score
  FROM per, tot)
SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank,
       doc_id, source, CAST(n_grams AS BIGINT) AS n_grams, score
FROM scored ORDER BY score DESC, doc_id LIMIT {_X17_K}
"""


# ---- X18: weighted reservoir sample (Efraimidis-Spirakis A-Res) ------
_X18_K = 64


def x18_weighted_reservoir_sample(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Weighted random sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, A-Res — public): each doc draws key u^(1/w) and
    the K largest keys are the sample, giving every doc inclusion
    probability proportional to its weight w — the subsampling step
    quality-weighted corpus pipelines run when they need DIVERSITY,
    not X11's deterministic top-slice (which always keeps the same
    best docs) and not X2's unweighted hash buckets.

    Reproducibility disciplines: u derives from md5(doc_id) (X2's
    pure-function-of-the-key idiom — stable across runs, engines,
    partitionings), exactly (h + 0.5)/2^32, a dyadic rational both
    engines compute bit-identically. u^(1/w) never evaluates a
    runtime pow (the w19 ulp trap): ln is monotone, so ranking by
    ln(u)/w descending selects the identical sample; ln() of
    bit-identical doubles is the t9 discipline, and selection is
    rounded-score + doc_id tiebreak via TakeOrderedAndProject (x17's
    deterministic top-K — no global window).

    Scale (100 TB): one embarrassingly-parallel scan computes keys;
    TakeOrderedAndProject keeps K per partition then merges K·P rows
    on the driver — no corpus shuffle at all."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    # weight: lexical diversity + a dyadic floor (strictly positive,
    # exact in both engines: integer ratio + 1/16)
    w = (F.size(F.array_distinct(toks)) / F.size(toks)
         + F.lit(0.0625))
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                           1, 8), 16, 10).cast("bigint")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    lnkey = det_round(F.log(u) / w, 6)
    scored = d.select("doc_id", "source", lnkey.alias("lnkey"),
                      det_round(w, 6).alias("weight"))
    top = (scored.orderBy(F.desc("lnkey"), "doc_id").limit(_X18_K)
           .withColumn("rank", F.row_number().over(
               Window.orderBy(F.desc("lnkey"), F.col("doc_id")))))
    return (top.select(F.col("rank").cast("int").alias("rank"),
                       "doc_id", "source", "weight", "lnkey")
            .orderBy("rank"))


_X18_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
    FLOOR(( ln( (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                       1, 8)) AS BIGINT) + 0.5) / 4294967296.0 )
            / (len(list_distinct(string_split(lower(text), ' ')))
               * 1.0 / len(string_split(lower(text), ' '))
               + 0.0625)
          ) * 1000000.0 + 0.5) / 1000000.0 AS lnkey,
    FLOOR((len(list_distinct(string_split(lower(text), ' ')))
           * 1.0 / len(string_split(lower(text), ' '))
           + 0.0625) * 1000000.0 + 0.5) / 1000000.0 AS weight
  FROM documents)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY lnkey DESC, doc_id) AS INT)
         AS rank,
       doc_id, source, weight, lnkey
FROM scored ORDER BY lnkey DESC, doc_id LIMIT {_X18_K}
"""


# ---- W21: time-decay multi-touch attribution -------------------------
def w21_time_decay_attribution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Time-decay MULTI-touch attribution — the marketing-analytics
    model between W14's first-touch and last-touch: every view in
    the hour before a purchase shares the purchase's value, weighted
    by recency with a 15-minute half-life, and each view accumulates
    its credited revenue across all purchases it influenced.

    Determinism disciplines (all established this round or earlier):
    the decay weight is a DYADIC literal per half-life step
    (1, 1/2, 1/4, 1/8 — floor(Δt/900s) buckets, never runtime pow():
    JVM Math.pow and libm disagree by an ulp, the w19 finding), so
    the per-purchase weight sum is EXACT in IEEE regardless of
    engine or order; shares are one division; the per-view credit
    sum folds (purchase_id, credit) pairs in sorted order (t9
    idiom); det_round(...,6) last.

    Scale (100 TB): one shuffle on user_id joins purchases to their
    preceding-hour views (per-user-per-hour cardinality is bounded,
    so the range predicate's fan-out is too); the weight-sum
    aggregates on purchase_id and the credit rollup on view_id both
    ride keys the pair stream already carries. The fold array is
    per-view, bounded by purchases-per-view-window."""
    from ..runtime import scratch_persist
    e = _t(spark, sf_dir, "events")
    base = e.filter(F.col("event_type").isin("view", "purchase"))
    v = base.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("vts"))
    p = base.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("pts"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"))
    pairs = (p.join(v, "user_id")
             .filter((F.col("vts") < F.col("pts"))
                     & (F.col("vts") >= F.col("pts")
                        - F.lit(3_600_000_000))))
    k = F.floor((F.col("pts") - F.col("vts")) / F.lit(900_000_000))
    wgt = (F.when(k == 0, F.lit(1.0)).when(k == 1, F.lit(0.5))
           .when(k == 2, F.lit(0.25)).otherwise(F.lit(0.125)))
    pairs = scratch_persist(pairs.withColumn("w", wgt))
    sums = pairs.groupBy("purchase_id").agg(F.sum("w").alias("sw"))
    credited = (pairs.join(sums, "purchase_id")
                .select("view_id", "purchase_id",
                        (F.col("value") * (F.col("w") / F.col("sw")))
                        .alias("credit")))
    per = credited.groupBy("view_id").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.aggregate(
            F.array_sort(F.collect_list(
                F.struct("purchase_id", "credit"))),
            F.lit(0.0), lambda a, x: a + x["credit"]).alias("s"))
    return (per.select("view_id", "n_purchases",
                       det_round(F.col("s"), 6).alias("total_credit"))
            .orderBy("view_id"))


_W21_SQL = """
WITH v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
  FROM events WHERE event_type = 'view'),
p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts,
         COALESCE(value, 0.0e0) AS value
  FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT view_id, purchase_id, value,
         CASE FLOOR((pts - vts) / 900000000)
           WHEN 0 THEN 1.0e0 WHEN 1 THEN 5.0e-1
           WHEN 2 THEN 2.5e-1 ELSE 1.25e-1 END AS w
  FROM p JOIN v USING (user_id)
  WHERE vts < pts AND vts >= pts - 3600000000),
sums AS (SELECT purchase_id, SUM(w) AS sw FROM pairs
         GROUP BY purchase_id),
credited AS (
  SELECT view_id, purchase_id, value * (w / sw) AS credit
  FROM pairs JOIN sums USING (purchase_id))
SELECT view_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
  FLOOR((list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE), list(credit ORDER BY purchase_id)),
      (a, x) -> a + x)) * 1000000.0 + 0.5) / 1000000.0 AS total_credit
FROM credited GROUP BY view_id ORDER BY view_id
"""


# ---- W22: LTOB time-series downsampling ------------------------------
# Bucket count = the target display width (Steinarsson 2013 frames
# downsampling as "n points for an n-pixel chart"); fixed at any SF —
# the OUTPUT is constant-size, that is the op's point.
_W22_BUCKETS = 48


def w22_ltob_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-One-Bucket time-series downsampling
    (Steinarsson 2013, "Downsampling Time Series for Visual
    Representation" §4.2): per event_type, split the series into
    _W22_BUCKETS equal-width time buckets and keep from each the
    point with the largest effective triangle area against its
    ACTUAL series neighbors — the observability-grade downsampler
    that preserves spikes where avg/first-per-bucket smears them.
    LTOB (one-bucket) is the parallel member of the family: unlike
    LTTB its selection depends only on fixed neighbors, never on the
    previously selected point, so every bucket ranks independently —
    the variant a distributed engine should run. The global first
    and last points are always kept (the paper's convention).

    Determinism: x is integer epoch-micros, bucket assignment is
    pure BIGINT arithmetic ((x−t0)·B div span), the triangle area is
    one fixed-shape IEEE expression over exactly-representable
    inputs (micros < 2⁵³), and the per-bucket argmax ranks on
    FLOOR(area·10⁴+.5) with (x, event_id) tiebreak — a total order
    both engines replay bit-identically.

    Scale: the oracle's full-series lag/lead would sort each type
    through ONE task (the unbounded per-key window w16 documents);
    here neighbor access is (type, bucket)-partitioned — fully
    parallel — and bucket-edge rows stitch through a (type, bucket)-
    grained edge table (≤ |types|·B rows, metadata-sized: min_by/
    max_by first/last per bucket, lag/lead over NON-EMPTY buckets =
    exactly the previous/next series point). One corpus pass, one
    bounded window family, constant output."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    span = (e.groupBy("event_type")
            .agg(F.min(us).alias("t0"), F.max(us).alias("t1")))
    key = F.concat(
        F.lpad(F.col("x").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"))
    pts = (e.select("event_type", us.alias("x"), "value", "event_id")
           .join(F.broadcast(span), "event_type")
           .withColumn("bucket",
                       F.expr(f"((x - t0) * {_W22_BUCKETS}) "
                              "div (t1 - t0 + 1)"))
           .withColumn("k", key)
           .drop("t0", "t1"))
    w = (Window.partitionBy("event_type", "bucket")
         .orderBy("x", "event_id"))
    nbr = pts.select(
        "event_type", "bucket", "x", "value", "event_id",
        F.lag("x").over(w).alias("lax"),
        F.lag("value").over(w).alias("lay"),
        F.lead("x").over(w).alias("lcx"),
        F.lead("value").over(w).alias("lcy"))
    edges = (pts.groupBy("event_type", "bucket")
             .agg(F.min_by(F.struct("x", "value"), "k").alias("fp"),
                  F.max_by(F.struct("x", "value"), "k").alias("lp")))
    ew = Window.partitionBy("event_type").orderBy("bucket")
    stitch = edges.select(
        "event_type", "bucket",
        F.lag("lp").over(ew).alias("prev_lp"),
        F.lead("fp").over(ew).alias("next_fp"))
    j = (nbr.join(F.broadcast(stitch), ["event_type", "bucket"])
         .select("event_type", "bucket", "x", "value", "event_id",
                 F.coalesce("lax", F.col("prev_lp.x")).alias("ax"),
                 F.coalesce("lay", F.col("prev_lp.value")).alias("ay"),
                 F.coalesce("lcx", F.col("next_fp.x")).alias("cx"),
                 F.coalesce("lcy", F.col("next_fp.value")).alias("cy")))
    area = (F.abs((F.col("ax") - F.col("cx")) * (F.col("value")
                                                 - F.col("ay"))
                  - (F.col("ax") - F.col("x")) * (F.col("cy")
                                                  - F.col("ay")))
            / F.lit(2.0))
    # ONE pass for peaks AND endpoints: a peaks/ends branch union
    # recomputes the whole corpus lineage twice (measured in the
    # executed plan: 6 FileScans); instead endpoints sort LAST inside
    # their bucket's rank window and are kept unconditionally, so the
    # same window emits the bucket argmax and the series endpoints
    ep = F.col("ax").isNull() | F.col("cx").isNull()
    scored = (j.withColumn("endpoint", ep)
              .withColumn("ak",
                          F.when(ep, F.lit(-1)).otherwise(
                              F.floor(area * F.lit(1.0e4) + F.lit(0.5)))
                          .cast("long")))
    rw = (Window.partitionBy("event_type", "bucket")
          .orderBy(F.col("endpoint").cast("int"), F.desc("ak"),
                   "x", "event_id"))
    return (scored.withColumn("rn", F.row_number().over(rw))
            .filter(F.col("endpoint")
                    | ((F.col("rn") == 1) & ~F.col("endpoint")))
            .select("event_type", "bucket",
                    F.when(F.col("ax").isNull(), F.lit("first"))
                    .when(F.col("cx").isNull(), F.lit("last"))
                    .otherwise(F.lit("peak")).alias("kind"),
                    "x", "value",
                    F.when(F.col("endpoint"), F.lit(-1.0))
                    .otherwise(F.col("ak").cast("double")
                               / F.lit(1.0e4)).alias("area4"))
            .orderBy("event_type", "bucket", "kind", "x"))


_W22_SQL = f"""
WITH span AS (
  SELECT event_type, MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
  FROM events GROUP BY event_type),
pts AS (
  SELECT e.event_type, epoch_us(ts) AS x, value, event_id,
         ((epoch_us(ts) - t0) * {_W22_BUCKETS}) // (t1 - t0 + 1)
           AS bucket
  FROM events e JOIN span USING (event_type)),
nbr AS (
  SELECT event_type, bucket, x, value, event_id,
         LAG(x)      OVER w AS ax, LAG(value)  OVER w AS ay,
         LEAD(x)     OVER w AS cx, LEAD(value) OVER w AS cy
  FROM pts
  WINDOW w AS (PARTITION BY event_type ORDER BY x, event_id)),
mid AS (
  SELECT event_type, bucket, x, value, event_id,
         CAST(FLOOR(ABS((ax - cx) * (value - ay)
                        - (ax - x) * (cy - ay)) / 2.0e0
                    * 1.0e4 + 0.5e0) AS BIGINT) AS ak
  FROM nbr WHERE ax IS NOT NULL AND cx IS NOT NULL),
peaks AS (
  SELECT event_type, bucket, 'peak' AS kind, x, value,
         CAST(ak AS DOUBLE) / 1.0e4 AS area4
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, bucket
               ORDER BY ak DESC, x, event_id) AS rn
        FROM mid)
  WHERE rn = 1),
ends AS (
  SELECT event_type, bucket,
         CASE WHEN ax IS NULL THEN 'first' ELSE 'last' END AS kind,
         x, value, -1.0e0 AS area4
  FROM nbr WHERE ax IS NULL OR cx IS NULL)
SELECT * FROM (SELECT * FROM peaks UNION ALL SELECT * FROM ends)
ORDER BY event_type, bucket, kind, x
"""


# ---- X19: count-min sketch heavy hitters ------------------------------
# Grid shape: d rows x w buckets. eps = e/w ~ 0.27% of the token
# stream per bucket; the GRID is d*w rows at any corpus size — the
# fixed-memory property that makes CMS the streaming/distributed
# frequency sketch (Cormode & Muthukrishnan 2005).
_X19_D = 4
_X19_W = 1024
_X19_K = 25


def _x19_bucket(i, tk):
    """Row-i CMS bucket of a token: the leading 32 bits of
    md5(i:token) mod w — pairwise-independent enough for the CM
    bound, deterministic and identically spelled in both engines."""
    return (F.conv(F.substring(F.md5(F.concat(i.cast("string"),
                                              F.lit(":"), tk)), 1, 8),
                   16, 10).cast("bigint") % _X19_W)


def x19_cms_heavy_hitters(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Count-min sketch frequency estimation audited against exact
    counts (Cormode & Muthukrishnan 2005): build the d×w counter
    grid over the corpus token stream, estimate each of the top-K
    exact heavy hitters as min_i grid[i][h_i(token)], and emit the
    overestimate — BY THE THEOREM never negative (est ≥ exact
    always; the sketch only ever adds collisions), pinned by test.
    X1's HLL/quantile sketches self-audit against exact companions;
    X19 goes further — the sketch ARITHMETIC itself is replayed
    exactly in the oracle, so the grade covers the estimator, not
    just the exact columns.

    Scale: the token stream collapses to (token, count) in one
    map-side-combined shuffle (Zipf-hot keys — AQE's skew handling,
    T9's note); the grid is a |vocab|→d·w aggregate (4096 rows at
    ANY corpus size — the whole point of a sketch); the top-K is a
    TakeOrdered (no window); estimates join the broadcast grid.
    The d·w grid is exactly what a 1000-executor fleet would
    merge-reduce per partition and union by + — associativity is
    why the sketch distributes for free."""
    from ..runtime import scratch_persist
    d = _t(spark, sf_dir, "documents")
    tok = (d.select(F.explode(F.split(F.lower("text"), " "))
                    .alias("tk"))
           .filter(F.col("tk") != ""))
    vocab = scratch_persist(
        tok.groupBy("tk").agg(F.count("*").cast("long").alias("cnt")))
    ii = F.explode(F.array(*[F.lit(i) for i in range(_X19_D)])).alias("i")
    grid = (vocab.select("tk", "cnt", ii)
            .select("cnt", "i",
                    _x19_bucket(F.col("i"), F.col("tk")).alias("b"))
            .groupBy("i", "b")
            .agg(F.sum("cnt").cast("long").alias("total")))
    topk = (vocab.orderBy(F.desc("cnt"), "tk").limit(_X19_K))
    est = (topk.select("tk", "cnt", ii)
           .withColumn("b", _x19_bucket(F.col("i"), F.col("tk")))
           .join(F.broadcast(grid), ["i", "b"])
           .groupBy("tk", "cnt")
           .agg(F.min("total").cast("long").alias("cms_est")))
    return (est.select(F.col("tk").alias("token"),
                       F.col("cnt").alias("exact_cnt"), "cms_est",
                       (F.col("cms_est") - F.col("cnt")).cast("long")
                       .alias("overest"))
            .orderBy(F.desc("exact_cnt"), "token"))


_X19_BUCKET_SQL = ("CAST(('0x' || substr(md5(CAST(i AS VARCHAR) "
                   f"|| ':' || tk), 1, 8)) AS BIGINT) % {_X19_W}")

_X19_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tk FROM documents),
vocab AS (
  SELECT tk, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tok WHERE tk <> '' GROUP BY tk),
hashed AS (
  SELECT tk, cnt, i, {_X19_BUCKET_SQL} AS b
  FROM vocab, (SELECT unnest(range({_X19_D})) AS i)),
grid AS (
  SELECT i, b, CAST(SUM(cnt) AS BIGINT) AS total
  FROM hashed GROUP BY i, b),
topk AS (
  SELECT tk, cnt FROM vocab ORDER BY cnt DESC, tk LIMIT {_X19_K}),
est AS (
  SELECT t.tk, t.cnt, CAST(MIN(g.total) AS BIGINT) AS cms_est
  FROM (SELECT tk, cnt, i, {_X19_BUCKET_SQL} AS b
        FROM topk, (SELECT unnest(range({_X19_D})) AS i)) t
  JOIN grid g USING (i, b)
  GROUP BY t.tk, t.cnt)
SELECT tk AS token, cnt AS exact_cnt, cms_est,
       CAST(cms_est - cnt AS BIGINT) AS overest
FROM est ORDER BY exact_cnt DESC, token
"""


# ---- X20: cross-source shingle overlap matrix ------------------------
_X20_K = 5     # word-shingle width: 5-grams are the decontamination
               # grain (D7/E22) — distinctive enough that overlap
               # means shared text, not shared vocabulary


def x20_source_overlap_matrix(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Corpus-level overlap audit: exact shingle-set Jaccard between
    every pair of sources — the crawl-curation question ("how much of
    snapshot B is already in snapshot A?", "which domains mirror each
    other?") that doc-level dedup (D1-D27) never answers because it
    collapses pairs, not collections. Dump dedup practice (Lee et al.
    2022 §6 measure cross-split overlap the same way: distinct n-gram
    sets intersected per corpus slice).

    Exact, not sketched: the per-source DISTINCT shingle sets
    intersect via ONE shingle-keyed equi-self-join whose per-key
    fan-out is bounded by |sources|² (20 sources at every SF — a
    corpus-frequent shingle contributes ≤ 190 pairs, never a
    quadratic bucket), then |A∪B| = |A|+|B|−|A∩B| closes the matrix
    arithmetically. The full |sources|² pair grid (including
    zero-overlap pairs — their absence IS the finding) comes from a
    20-row × 20-row broadcast join; the matrix is metadata-sized.

    Scale: shingling reuses D2's codegen'd posexplode+lead machinery
    (dedup.py:114); (source, shingle) distinct is one map-side-
    combined shuffle; the self-join shuffles the same key. At 100 TB
    the distinct set, not the token stream, is the working set —
    exactly the ExactSubstr/decontamination shuffle shape D20/D7
    already certify."""
    from ..operators.dedup import shingle_index
    from ..runtime import scratch_persist
    d = _t(spark, sf_dir, "documents")
    shx = shingle_index(d, _X20_K)
    ss = scratch_persist(
        shx.join(d.select("doc_id", "source"), "doc_id")
        .select("source", "s").distinct())
    sizes = ss.groupBy("source").agg(
        F.count("*").cast("long").alias("n"))
    inter = (ss.alias("a")
             .join(ss.alias("b"),
                   (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.source") < F.col("b.source")))
             .groupBy(F.col("a.source").alias("source_a"),
                      F.col("b.source").alias("source_b"))
             .agg(F.count("*").cast("long").alias("inter")))
    grid = (sizes.alias("x")
            .join(F.broadcast(sizes.alias("y")),
                  F.col("x.source") < F.col("y.source"))
            .select(F.col("x.source").alias("source_a"),
                    F.col("y.source").alias("source_b"),
                    F.col("x.n").alias("n_a"),
                    F.col("y.n").alias("n_b")))
    un = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (grid.join(inter, ["source_a", "source_b"], "left")
            .withColumn("inter",
                        F.coalesce("inter", F.lit(0)).cast("long"))
            .select("source_a", "source_b", "n_a", "n_b", "inter",
                    un.alias("union_n"),
                    det_round(F.col("inter").cast("double")
                              / un.cast("double"), 6).alias("jaccard"))
            .orderBy("source_a", "source_b"))


def _x20_sql() -> str:
    from ..operators.dedup import _sql_shingles
    from ..runtime import det_round_sql
    j6 = det_round_sql("CAST(inter AS DOUBLE) / CAST(union_n AS DOUBLE)",
                       6)
    return f"""
WITH tok AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS t
  FROM documents),
sh AS MATERIALIZED (
  SELECT source, {_sql_shingles(_X20_K)} AS shingles
  FROM tok WHERE len(t) >= {_X20_K}),
ss AS MATERIALIZED (
  SELECT DISTINCT source, unnest(shingles) AS s FROM sh),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
          FROM ss GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2),
grid AS (
  SELECT x.source AS source_a, y.source AS source_b,
         x.n AS n_a, y.n AS n_b
  FROM sizes x JOIN sizes y ON x.source < y.source)
SELECT source_a, source_b, n_a, n_b, inter, union_n,
       {j6} AS jaccard
FROM (SELECT g.source_a, g.source_b, g.n_a, g.n_b,
             CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
             g.n_a + g.n_b - CAST(COALESCE(i.inter, 0) AS BIGINT)
               AS union_n
      FROM grid g LEFT JOIN inter i USING (source_a, source_b))
ORDER BY source_a, source_b
"""


QUERIES = {
    "w22_ltob_downsample": w22_ltob_downsample,
    "x19_cms_heavy_hitters": x19_cms_heavy_hitters,
    "x20_source_overlap_matrix": x20_source_overlap_matrix,
    "x18_weighted_reservoir_sample": x18_weighted_reservoir_sample,
    "w21_time_decay_attribution": w21_time_decay_attribution,
    "x15_length_bucketed_batches": x15_length_bucketed_batches,
    "x16_domain_reweight": x16_domain_reweight,
    "x17_dsir_select": x17_dsir_select,
    "w20_asof_directional": w20_asof_directional,
    "w1_rollup": w1_rollup,
    "w2_cube": w2_cube,
    "w3_window_rank": w3_window_rank,
    "w4_moving_avg": w4_moving_avg,
    "w5_lag_delta": w5_lag_delta,
    "w6_asof_join": w6_asof_join,
    "w7_percentiles": w7_percentiles,
    "w8_range_join": w8_range_join,
    "w9_continuous_aggregate": w9_continuous_aggregate,
    "w10_skew_join": w10_skew_join,
    "w11_grouping_sets": w11_grouping_sets,
    "w12_range_frame": w12_range_frame,
    "w13_dist_windows": w13_dist_windows,
    "w14_first_touch": w14_first_touch,
    "w15_gapfill_locf": w15_gapfill_locf,
    "w16_time_weighted_avg": w16_time_weighted_avg,
    "x12_corpus_compile": x12_corpus_compile,
    "x13_neardup_safe_split": x13_neardup_safe_split,
    "w17_ohlc_bars": w17_ohlc_bars,
    "w18_retention_cohorts": w18_retention_cohorts,
    "w19_ema_daily_revenue": w19_ema_daily_revenue,
    "x14_snapshot_diff": x14_snapshot_diff,
    "x1_sketch_aggregates": x1_sketch_aggregates,
    "x2_hash_sample": x2_hash_sample,
    "x3_vocab_topk": x3_vocab_topk,
    "x4_source_mix": x4_source_mix,
    "x5_sequence_pack": x5_sequence_pack,
    "x6_global_shuffle": x6_global_shuffle,
    "x7_dataset_card": x7_dataset_card,
    "x8_epoch_plan": x8_epoch_plan,
    "x9_temperature_mix": x9_temperature_mix,
    "x10_leakage_safe_split": x10_leakage_safe_split,
    "x11_quality_topk_sample": x11_quality_topk_sample,
}

ORACLE = {
    "w22_ltob_downsample": _W22_SQL,
    "x19_cms_heavy_hitters": _X19_SQL,
    "x20_source_overlap_matrix": _x20_sql(),
    "x18_weighted_reservoir_sample": _X18_SQL,
    "w21_time_decay_attribution": _W21_SQL,
    "x15_length_bucketed_batches": _X15_SQL,
    "x16_domain_reweight": _X16_SQL,
    "x17_dsir_select": _X17_SQL,
    "w1_rollup": _W1_SQL,
    "w2_cube": _W2_SQL,
    "w3_window_rank": _W3_SQL,
    "w4_moving_avg": _W4_SQL,
    "w5_lag_delta": _W5_SQL,
    "w20_asof_directional": _W20_SQL,
    "w6_asof_join": _W6_SQL,
    "w7_percentiles": _W7_SQL,
    "w8_range_join": _w8_sql(),
    "w9_continuous_aggregate": _W9_SQL,
    "w10_skew_join": _W10_SQL,
    "w11_grouping_sets": _W11_SQL,
    "w12_range_frame": _W12_SQL,
    "w13_dist_windows": _W13_SQL,
    "w14_first_touch": _W14_SQL,
    "w15_gapfill_locf": _W15_SQL,
    "w16_time_weighted_avg": _W16_SQL,
    "x12_corpus_compile": _X12_SQL,
    "x13_neardup_safe_split": _x13_sql(),
    "w17_ohlc_bars": _W17_SQL,
    "w18_retention_cohorts": _W18_SQL,
    "w19_ema_daily_revenue": _W19_SQL,
    "x14_snapshot_diff": _X14_SQL,
    "x1_sketch_aggregates": _X1_SQL,
    "x2_hash_sample": _X2_SQL,
    "x3_vocab_topk": _X3_SQL,
    "x4_source_mix": _X4_SQL,
    "x5_sequence_pack": _X5_SQL,
    "x6_global_shuffle": _X6_SQL,
    "x7_dataset_card": _X7_SQL,
    "x8_epoch_plan": _X8_SQL,
    "x9_temperature_mix": _X9_SQL,
    "x10_leakage_safe_split": _X10_SQL,
    "x11_quality_topk_sample": _X11_SQL,
}
