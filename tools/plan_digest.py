#!/usr/bin/env python3
"""Digest of each named query's oracle SQL and optimized logical plan.

For every NAME, prints one line: the name, the md5 of its
`oracle_sql()` string and the md5 of the optimized logical plan of
`queries()[NAME](spark, DIR)`. The plan text is made independent of
what ran before it in the process: Catalyst's `#123` expression ids,
the `x_12` counters of PySpark lambda variables and the `plan_id=` of
cached plans are normalized, and file-scan metadata is not truncated.
Two trees whose lines match return the same SQL and plan the same
query, so a refactor that claims "plans unchanged" is checked by
running this on the parent and on the change.

Usage:
  python tools/plan_digest.py a1_cosine_topk q1_pricing_summary ... \
      --sf DIR        # a generated scale-factor directory, e.g. sf0.001
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

_VOLATILE = [
    (re.compile(r"#\d+"), "#"),                    # expression ids
    (re.compile(r"\b(lambda [xyz])_\d+"), r"\1"),   # lambda variables
    (re.compile(r"plan_id=\d+"), "plan_id="),       # cached plans
]


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def plan_text(df) -> str:
    """The optimized logical plan, normalized (see the module doc)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", required=True,
                    help="scale-factor directory of the parquet tables")
    args = ap.parse_args()

    from postgres_scanner_spark import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(cpus=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark.conf.set("spark.sql.maxMetadataStringLength", str(1 << 20))
    qs, sqls = entrymod.queries(), entrymod.oracle_sql()
    for name in args.names:
        plan = plan_text(qs[name](spark, args.sf))
        print(f"{name}\t{_md5(sqls[name])}\t{_md5(plan)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
