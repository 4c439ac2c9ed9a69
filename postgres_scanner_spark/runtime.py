"""Scratch-persist lifecycle for operator intermediates.

Several operators persist intermediates that are read more than once
within one query (minhash signatures, inverted indexes, IVF lists).
Left in the session CacheManager, those entries slow every
*subsequent* query: each new plan is canonicalized and compared
against every cached plan for subsumption, and the dedup plans are
enormous trees (measured: a 0.7 s ANN query degrades to ~2.4 s after
one LSH-dedup run at sf0.1).

`scratch_persist` is a drop-in persist() that records the DataFrame;
`release_scratch()` unpersists everything recorded. The query
registry (__spark_entry__) releases at the START of each query
construction, so one operator's scratch never outlives the next
query — no cooperation needed from the external driver. Unpersist
never affects correctness (lineage recomputes), only reuse within
the query that created it, which has already executed by then.

The shared table cache (tables.py) is deliberately NOT scratch — it
is meant to live for the whole bench session.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# Scratch is tracked PER THREAD: a parallel gate (tools/gate_check.py
# --jobs N) runs queries on concurrent worker threads, and a global
# list would let worker A's start-of-query release unpersist worker
# B's in-flight intermediates (correct — lineage recomputes — but it
# defeats the persist). Thread-local keeps the single-threaded
# contract identical while bounding live scratch to one query's worth
# per worker.
_TL = threading.local()


def _bucket() -> list[DataFrame]:
    b = getattr(_TL, "scratch", None)
    if b is None:
        b = _TL.scratch = []
    return b


def scratch_persist(df: DataFrame) -> DataFrame:
    """persist() + register for release before the next query."""
    df.persist()
    _bucket().append(df)
    return df


def release_scratch() -> int:
    """Unpersist every scratch DataFrame recorded by THIS thread;
    returns how many."""
    b = _bucket()
    n = len(b)
    while b:
        df = b.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session may already be stopped
    return n


def money_u(col, digits: int = 2):
    """Exact-k-decimal DOUBLE column → long in 1e-k fixed-point units.

    floor(x·10ᵏ + 0.5), not round()/cast(decimal): both of those
    allocate a JavaBigDecimal per row (round via BigDecimal.valueOf,
    cast via Double.toString) and dominated the money-aggregate scan
    stages (r12 profile: q1 8 s summed CPU → 2 s after the switch).
    Exact for positive and negative values: x·10ᵏ is within ~1e-9 of
    the true integer n (the data is verified exact at k decimals), so
    floor(n ± ε + 0.5) = n — floor rounds toward −∞, which makes the
    +0.5 shift sign-correct."""
    from pyspark.sql import functions as F
    c = col if not isinstance(col, str) else F.col(col)
    return F.floor(c * (10 ** digits) + F.lit(0.5))


def sum_money(col, digits: int = 2):
    """Overflow-proof exact SUM of a fixed-point long column, rescaled
    to the DOUBLE the legacy decimal-sum produced (bit-identical:
    the division by 10^digits is exact — result scale ≥ digits — and
    decimal→double of equal values is the same double). The buffer is
    decimal(38,0), so it never wraps, but it has no compact-long fast
    path: a decimal of precision > 18 is stored in the aggregation
    buffer as bytes, and every add goes through BigDecimal. A plain
    long sum is about twice as fast on q1 but can wrap; ROADMAP item 4
    records the measurement and an exact alternative.

    Hard limit digits <= 6: Spark's decimal-division precision
    adjustment caps the quotient scale of decimal(38,0)/lit at 6, so
    a larger `digits` would silently round the rescale (r12 ADVICE)."""
    from pyspark.sql import functions as F
    assert digits <= 6, f"sum_money rescale is exact only to 6 digits, got {digits}"
    s = F.sum(col.cast("decimal(38,0)"))
    return (s / F.lit(10 ** digits)).cast("double") if digits else \
        s.cast("double")


def det_round(col, n: int):
    """Engine-deterministic rounding of a DOUBLE to n decimals:
    floor(x·10ⁿ + 0.5)/10ⁿ — every step is an exactly-specified IEEE
    operation, so two engines given bit-identical inputs produce
    bit-identical outputs. Spark's round() converts the double to
    its SHORTEST DECIMAL string and applies HALF_UP while DuckDB
    rounds the BINARY value, so an exact-quotient tie like
    0.5096875 (binary ...74999…) rounds to …88 in Spark and …87 in
    DuckDB — a class of sf1-scale gate flips (five queries, round
    9). Pair with det_round_sql so the oracle applies the identical
    formula. Only for double-valued expressions (ratios, logs,
    EMAs); exact DECIMAL values round identically in both engines
    and should keep plain round()."""
    from pyspark.sql import functions as F
    p = float(10 ** n)
    return F.floor(col * p + F.lit(0.5)) / p


def det_round_sql(expr: str, n: int) -> str:
    """The DuckDB spelling of det_round — textual, for oracle SQL."""
    p = float(10 ** n)
    return f"FLOOR(({expr}) * {p!r} + 0.5) / {p!r}"
