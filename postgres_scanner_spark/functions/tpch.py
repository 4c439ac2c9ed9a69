"""TPC-H query surface, adapted to the driver's reduced schema.

The reference proves its scan correctness by running TPC-H through
the scanner (reference: test/sql/scanner/tpch.test Q01-Q22,
tpcds.test). This module re-expresses those queries as declarative
DataFrame plans over the testdata tables; `ORACLE` holds the
equivalent DuckDB SQL the driver uses as the correctness oracle.

Determinism contract (Spark vs DuckDB must hash-match):
- Money aggregations are EXACT (associative — immune to float
  summation order differing between engines) and cast to DOUBLE only
  at the end. Since r12 the Spark side computes them as integer
  fixed-point longs per row with a decimal SUM buffer (see the
  "_u2/_sum_u" helpers) — value-identical to the oracle's DECIMAL
  arithmetic but without Spark's per-row JavaBigDecimal cost.
- AVG over arbitrary doubles is expressed as exact-SUM/COUNT.
- Timestamps in outputs are formatted to 'yyyy-MM-dd' strings.
- Every ORDER BY ... LIMIT has a total-order tiebreak.

Scale notes (100 TB): only constant-size relations (region: 5 rows,
nation: 25 rows, single-row scalar aggregates) carry explicit
broadcast() hints. customer/supplier/part grow linearly with SF — a
hard hint would *force* a broadcast AQE would refuse at 100×; they are
left unhinted so AQE broadcasts them while small and switches to
shuffle joins when they outgrow the threshold. Fact-side joins stay
shuffle hash joins on the fact key; aggregations rely on Catalyst
partial aggregation. No collect()-driven logic anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .. import tables
    return tables.load(spark, sf_dir, name)


# ---- exact integer-scaled money arithmetic (r12 optimization) ----
# Every money/rate column in the testdata is an exact 2-decimal value
# (verified across sf0.001/0.01/0.1: ROUND(x,2)==x for every
# l_extendedprice/l_discount/l_tax, quantities are whole; max FP
# residual of x*100 vs its integer is 1e-9, i.e. 8 orders of
# magnitude below the 0.5 rounding boundary). The original per-row
# pipeline — cast(double→decimal) (allocates via Double.toString)
# then Decimal.multiply (JavaBigDecimal) — dominated the scan stage
# CPU (q1: ~8 s summed CPU for 600 k rows, GC-heavy). These helpers
# do the SAME arithmetic on longs in fixed-point units (exact), and
# only the SUM buffer is decimal — long→decimal casts are compact
# (no BigDecimal), decimal sums take the compact-long fast path, and
# the aggregate stays overflow-proof at any scale factor (a pure
# long sum would overflow around sf10k on per-group row counts).
# Value equality with the old expressions is exact at every step:
# the integer is the unscaled decimal, the division by 10^k at the
# end is exact (result scale ≥ k), and decimal→double conversion of
# equal values is bit-identical. Oracle SQL is untouched.

def _u2(col: str) -> F.Column:
    """Exact-2-decimal double column → long in 1e-2 units (see
    runtime.money_u: floor(x·100+0.5) — measured on q1's aggregate:
    round+decimal-sum 0.80 s steady-state vs floor+decimal-sum
    0.41 s, noop sink, min-of-4, sf0.1)."""
    from ..runtime import money_u
    return money_u(col, 2)


def _disc_u4() -> F.Column:
    """l_extendedprice*(1-l_discount) in exact 1e-4 units."""
    return _u2("l_extendedprice") * (F.lit(100) - _u2("l_discount"))


def _charge_u6() -> F.Column:
    """disc_price*(1+l_tax) in exact 1e-6 units."""
    return _disc_u4() * (F.lit(100) + _u2("l_tax"))


def _sum_u(col: F.Column, digits: int) -> F.Column:
    """Overflow-proof exact fixed-point sum (runtime.sum_money)."""
    from ..runtime import sum_money
    return sum_money(col, digits)


def _fmt_date(col: str, alias: str):
    return F.date_format(F.col(col), "yyyy-MM-dd").alias(alias)


# SQL fragments for the oracle side (identical arithmetic)
_SQL_DISC = ("CAST(l_extendedprice AS DECIMAL(12,2)) * "
             "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")
_SQL_CHARGE = (_SQL_DISC +
               " * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))")
_SQL_QTY = "CAST(l_quantity AS DECIMAL(12,2))"
_SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"


# --------------------------------------------------------------- Q1
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (reference: test/sql/scanner/tpch.test)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_u(_u2("l_quantity"), 2).alias("sum_qty"),
            _sum_u(_u2("l_extendedprice"), 2).alias("sum_base_price"),
            _sum_u(_disc_u4(), 4).alias("sum_disc_price"),
            _sum_u(_charge_u6(), 6).alias("sum_charge"),
            (_sum_u(_u2("l_quantity"), 2) / F.count("*")).alias("avg_qty"),
            (_sum_u(_u2("l_extendedprice"), 2) / F.count("*")).alias("avg_price"),
            (_sum_u(_u2("l_discount"), 2) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(CAST(SUM({_SQL_QTY}) AS VARCHAR) AS DOUBLE) AS sum_qty,
  CAST(CAST(SUM({_SQL_PRICE}) AS VARCHAR) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM({_SQL_CHARGE}) AS VARCHAR) AS DOUBLE) AS sum_charge,
  CAST(CAST(SUM({_SQL_QTY}) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(CAST(SUM({_SQL_PRICE}) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------- Q3
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_sum_u(_disc_u4(), 4).alias("revenue"))
        .select("l_orderkey", "revenue", _fmt_date("o_orderdate", "order_date"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_Q3_SQL = f"""
SELECT l_orderkey, CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------- Q4
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp")))
    l = _t(spark, sf_dir, "lineitem")
    late = l.join(o, l.l_orderkey == o.o_orderkey) \
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + interval 30 days")) \
        .select("o_orderkey").distinct()
    return (
        o.join(late, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------- Q5
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_sum_u(_disc_u4(), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


_Q5_SQL = f"""
SELECT n_name, CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------- Q6
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= F.lit(0.03).cast("double"))
            & (F.col("l_discount") <= F.lit(0.07).cast("double"))
            & (F.col("l_quantity") < 24))
        .agg(_sum_u(_u2("l_extendedprice") * _u2("l_discount"), 4)
             .alias("revenue"))
    )


_Q6_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= CAST(0.03 AS DOUBLE)
  AND l_discount <= CAST(0.07 AS DOUBLE)
  AND l_quantity < 24
"""


# --------------------------------------------------------------- Q7
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_sum_u(_disc_u4(), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --------------------------------------------------------------- Q8 (adapted)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n_cust = _t(spark, sf_dir, "nation")
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    vol = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n_cust), c.c_nationkey == n_cust.n_nationkey)
        .join(broadcast(r), n_cust.n_regionkey == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(broadcast(n_supp), s.s_nationkey == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .withColumn("volume", _disc_u4())
    )
    return (
        vol.groupBy("o_year")
        .agg(
            _sum_u(F.when(F.col("supp_nation") == "NATION_3",
                          F.col("volume")).otherwise(F.lit(0)), 4)
            .alias("nation_volume"),
            _sum_u(F.col("volume"), 4).alias("total_volume"))
        .withColumn("mkt_share", F.col("nation_volume") / F.col("total_volume"))
        .orderBy("o_year")
    )


_Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
  CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_SQL_DISC}
           ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS nation_volume,
  CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS total_volume,
  CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_SQL_DISC}
           ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
    / CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'EUROPE'
GROUP BY o_year
ORDER BY o_year
"""


# --------------------------------------------------------------- Q9 (adapted: no partsupp → cost = 0.6*retailprice)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by nation/year (reference test/sql/tpch.test Q9).

    Plan shape, tuned at sf10 (8.2 s -> 3.7 s same-cache): the ONLY
    corpus-sized shuffle is lineitem x orders on orderkey. The dims
    (part filtered ~1/9, supplier, nation) broadcast-join BEFORE it,
    so the row entering the shuffle is pre-reduced to (l_orderkey,
    nation, amount) — 3 columns instead of 6 raw decimal columns
    plus the dim keys; orders ships only (o_orderkey, o_year). The
    orders side carries a SHUFFLE_HASH hint: both sides are already
    exchange-partitioned on the key, and hash-building the 2-column
    orders partition beats sorting both 60M/15M-row sides (the SMJ
    sort was ~20% of the query). At cluster scale the hint stays
    honest — the build side is per-partition, sized by AQE, and
    orders is always the slimmer input here."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")).select(
        "p_partkey", "p_retailprice")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"))
    l = _t(spark, sf_dir, "lineitem")
    # 0.6*retail*qty in exact 1e-4 units: 0.6·(r2/100)·q·10⁴ = 60·r2·q
    cost = (F.lit(60) * _u2("p_retailprice")
            * F.col("l_quantity").cast("long"))
    # p and s are size-chosen by Catalyst/AQE (BHJ under threshold,
    # shuffle join above — they grow with SF, so no forced hint);
    # nation is 25 rows at any scale and safe to pin
    pre = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_orderkey", F.col("n_name").alias("nation"),
                (_disc_u4() - cost).alias("amount"))
    )
    return (
        pre.join(o.hint("shuffle_hash"),
                 pre.l_orderkey == o.o_orderkey)
        .groupBy("nation", "o_year")
        .agg(_sum_u(F.col("amount"), 4).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_Q9_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
  CAST(CAST(SUM({_SQL_DISC} - CAST(0.6 AS DECIMAL(2,1))
        * CAST(p_retailprice AS DECIMAL(12,2))
        * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


# --------------------------------------------------------------- Q10
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_sum_u(_disc_u4(), 4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue",
                F.col("c_acctbal").cast("double").alias("c_acctbal"), "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------- Q11 (adapted: stock value from lineitem×part)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    # qty*retail in exact 1e-4 units = q·r2·100; per-part sums stay
    # decimal(38,0) so the grand total reuses them exactly
    val = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_partkey")
        .agg(F.sum((F.col("l_quantity").cast("long")
                    * _u2("p_retailprice") * F.lit(100))
                   .cast("decimal(38,0)")).alias("val_u"))
    )
    total = val.agg((F.sum("val_u") / F.lit(10 ** 4))
                    .cast("double").alias("total"))
    return (
        val.withColumn("part_value",
                       (F.col("val_u") / F.lit(10 ** 4)).cast("double"))
        .crossJoin(broadcast(total))
        .filter(F.col("part_value") > F.col("total") * 0.0006)
        .select("p_partkey", "part_value")
        .orderBy(F.desc("part_value"), "p_partkey")
    )


_Q11_SQL = """
WITH v AS (
  SELECT p_partkey,
         SUM(CAST(l_quantity AS DECIMAL(12,2))
             * CAST(p_retailprice AS DECIMAL(12,2))) AS val_dec
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_partkey)
SELECT p_partkey, CAST(CAST(val_dec AS VARCHAR) AS DOUBLE) AS part_value
FROM v
WHERE CAST(CAST(val_dec AS VARCHAR) AS DOUBLE) > (SELECT CAST(CAST(SUM(val_dec) AS VARCHAR) AS DOUBLE) FROM v) * 0.0006
ORDER BY part_value DESC, p_partkey
"""


# --------------------------------------------------------------- Q12 (adapted: priority mix by ship year)
def q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    high = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + interval 30 days"))
        .withColumn("ship_year", F.year("l_shipdate").cast("int"))
        .groupBy("ship_year")
        .agg(F.sum(high).alias("high_line_count"),
             F.sum(1 - high).alias("low_line_count"))
        .orderBy("ship_year")
    )


_Q12_SQL = """
SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY ship_year
ORDER BY ship_year
"""


# --------------------------------------------------------------- Q13
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------- Q14
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            _sum_u(F.when(F.col("p_type") == "PROMO", _disc_u4())
                   .otherwise(F.lit(0)), 4).alias("promo_sum"),
            _sum_u(_disc_u4(), 4).alias("total_sum"))
        .select(
            (F.lit(100.0) * F.col("promo_sum") / F.col("total_sum")).alias("promo_revenue"),
            "promo_sum", "total_sum")
    )


_Q14_SQL = f"""
SELECT 100.0 * promo_sum / total_sum AS promo_revenue, promo_sum, total_sum
FROM (
  SELECT
    CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_SQL_DISC}
             ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS promo_sum,
    CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS total_sum
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate < TIMESTAMP '1996-04-01')
"""


# --------------------------------------------------------------- Q15
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    rev = (
        l.groupBy("l_suppkey")
        .agg(_sum_u(_disc_u4(), 4).alias("total_revenue"))
    )
    # global max as a 1-row broadcast scalar, not a partition-less
    # window (which would sort every supplier through one task)
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------- Q16 (adapted: suppliers via lineitem)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3' AND p_size IN (1,5,9,13,17,21,25,29)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------- Q17
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    l = _t(spark, sf_dir, "lineitem")
    avg_qty = (
        l.groupBy("l_partkey")
        .agg((F.sum("l_quantity") / F.count("*")).alias("avg_qty"))
    )  # l_quantity is whole-valued → double sum is exact → order-safe
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((_sum_u(_u2("l_extendedprice"), 2) / F.lit(7.0))
             .alias("avg_yearly"))
    )


_Q17_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < 0.2 * (SELECT SUM(l_quantity) / COUNT(*)
                          FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
"""


# --------------------------------------------------------------- Q18
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_d"))
        .filter(F.col("sum_qty_d") > 300)
        .select("l_orderkey")
    )
    return (
        l.join(big, "l_orderkey", "left_semi")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_sum_u(_u2("l_quantity"), 2).alias("sum_qty"))
        .select("c_custkey", "c_name", "o_orderkey",
                _fmt_date("o_orderdate", "order_date"),
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
                "sum_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------- Q19
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity").between(10, 35)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(20, 50))
           & (F.col("l_quantity").between(20, 50)))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(_sum_u(_disc_u4(), 4).alias("revenue"))
    )


_Q19_SQL = f"""
SELECT CAST(CAST(SUM({_SQL_DISC}) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


# --------------------------------------------------------------- Q20 (adapted)
def q20_potential_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    heavy = (
        l.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey").distinct()
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey HAVING SUM(l_quantity) > 50)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------- Q21 (adapted: late shippers on finished orders)
def q21_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape (r11): pre-aggregate the fact stream on l_suppkey
    BEFORE the supplier join. The old shape joined 60M filtered rows
    to supplier first — at sf10 supplier sits right at the broadcast
    threshold, so the planner's choice flipped run-to-run between a
    broadcast and a full fact-side suppkey exchange (in-suite q21
    swung 3.8–9.4 s). Aggregating first shuffles only map-combined
    (suppkey, count) partials (≤ |suppliers| rows per task), and the
    dimension join then sees |suppliers| rows on BOTH sides at any
    scale — no borderline decision left to flip."""
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    waits = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + interval 90 days"))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
    )
    return (
        waits.join(s, waits.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


_Q21_SQL = """
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 20
"""


# --------------------------------------------------------------- Q22 (adapted: nation in place of phone cntrycode)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    n = _t(spark, sf_dir, "nation")
    pos = c.filter(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (_sum_u(_u2("c_acctbal"), 2) / F.count("*")).alias("avg_bal"))
    return (
        c.crossJoin(broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o.select("o_custkey").distinct(),
              c.c_custkey == F.col("o_custkey"), "left_anti")
        .join(broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("cntry"))
        .agg(F.count("*").alias("numcust"),
             _sum_u(_u2("c_acctbal"), 2).alias("totacctbal"))
        .orderBy("cntry")
    )


_Q22_SQL = """
SELECT n_name AS cntry, COUNT(*) AS numcust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
                          / COUNT(*)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY cntry
ORDER BY cntry
"""


# --------------------------------------------------------------- Q2 (adapted: min-price part per type + supplier fan-out)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    m = p.groupBy("p_type").agg(F.min("p_retailprice").alias("min_price"))
    cheap = (
        p.join(broadcast(m), "p_type")
        .filter(F.col("p_retailprice") == F.col("min_price"))
    )
    return (
        cheap.join(l, cheap.p_partkey == l.l_partkey, "left")
        .groupBy("p_type", "min_price")
        .agg(F.countDistinct("p_partkey").alias("n_parts"),
             F.countDistinct("l_suppkey").alias("n_suppliers"))
        .select("p_type", F.col("min_price").cast("double").alias("min_price"),
                "n_parts", "n_suppliers")
        .orderBy("p_type")
    )


_Q2_SQL = """
WITH m AS (SELECT p_type, MIN(p_retailprice) AS min_price
           FROM part GROUP BY p_type)
SELECT p.p_type, CAST(m.min_price AS DOUBLE) AS min_price,
       COUNT(DISTINCT p.p_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM part p
JOIN m ON p.p_type = m.p_type AND p.p_retailprice = m.min_price
LEFT JOIN lineitem ON l_partkey = p.p_partkey
GROUP BY p.p_type, m.min_price
ORDER BY p.p_type
"""


# ---- Q23: the session-SQL front end as a graded query ---------------
_Q23_TEXT = """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
         AS sum_price
FROM orders GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority"""


def q23_session_sql(spark, sf_dir):
    """The reference-user WORKFLOW as a graded query: ATTACH the data
    directory, USE it, and run the SELECT through the single session
    SQL entry point (S25: execute_statement routes session statements
    and read statements exactly like the reference's DuckDB shell).
    The query text is byte-identical on both engines — Spark runs it
    over the attach-registered views, DuckDB over its own — so this
    grades the ATTACH/USE/read-routing plumbing itself."""
    from ..catalog import Catalog
    from ..queryfn import execute_statement
    cat = Catalog(spark)
    execute_statement(cat, f"ATTACH '{sf_dir}' AS q23db")
    execute_statement(cat, "USE q23db")
    # no DETACH: the returned DataFrame is lazy and reads the
    # attach-registered views at collect time; views are
    # createOrReplace'd, so repeated runs stay idempotent
    return execute_statement(cat, _Q23_TEXT)



QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q11_important_stock": q11_important_stock,
    "q12_shipmode": q12_shipmode,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_effect": q14_promo_effect,
    "q15_top_supplier": q15_top_supplier,
    "q16_parts_supplier": q16_parts_supplier,
    "q17_small_quantity": q17_small_quantity,
    "q18_large_volume_customer": q18_large_volume_customer,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q20_potential_promo": q20_potential_promo,
    "q21_suppliers_waiting": q21_suppliers_waiting,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
    "q23_session_sql": q23_session_sql,
}

ORACLE = {
    "q1_pricing_summary": _Q1_SQL,
    "q2_min_cost_supplier": _Q2_SQL,
    "q3_shipping_priority": _Q3_SQL,
    "q4_order_priority": _Q4_SQL,
    "q5_local_supplier_volume": _Q5_SQL,
    "q6_forecast_revenue": _Q6_SQL,
    "q7_volume_shipping": _Q7_SQL,
    "q8_market_share": _Q8_SQL,
    "q9_product_profit": _Q9_SQL,
    "q10_returned_items": _Q10_SQL,
    "q11_important_stock": _Q11_SQL,
    "q12_shipmode": _Q12_SQL,
    "q13_customer_distribution": _Q13_SQL,
    "q14_promo_effect": _Q14_SQL,
    "q15_top_supplier": _Q15_SQL,
    "q16_parts_supplier": _Q16_SQL,
    "q17_small_quantity": _Q17_SQL,
    "q18_large_volume_customer": _Q18_SQL,
    "q19_discounted_revenue": _Q19_SQL,
    "q20_potential_promo": _Q20_SQL,
    "q21_suppliers_waiting": _Q21_SQL,
    "q22_global_sales_opportunity": _Q22_SQL,
    "q23_session_sql": _Q23_TEXT,
}
