#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
count, column set, and order-insensitive values.

Usage: python scripts/verify_queries.py [sf] [name ...]   (sf default 0.01)
The session is readability_spark/session.py's, sized from the machine."""

from __future__ import annotations

import gc
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from readability_spark.plans.pipeline import release_persistent_rdds
from readability_spark.testing import check_parity, register_oracle_views

SF = sys.argv[1] if len(sys.argv) > 1 else "0.01"
# names may be space- or comma-separated; a bare "--only" flag is tolerated
ONLY = [
    n
    for arg in sys.argv[2:]
    for n in arg.split(",")
    if n and n != "--only"
] or None
SF_DIR = f"/root/testdata/sf{SF}"


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from readability_spark.session import build_spark

    spark = build_spark("verify-queries")

    con = duckdb.connect()
    register_oracle_views(con, SF_DIR)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if ONLY:
        unknown = [n for n in ONLY if n not in qs]
        if unknown:
            # a typo'd name would otherwise verify NOTHING and still print
            # FAILURES: 0 — fail loudly instead
            print(f"✗ unknown query name(s): {', '.join(unknown)}")
            return 2
    failures = 0
    timings: list = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            res = check_parity(spark, con, SF_DIR, fn, oracles[name])
        except Exception as e:
            print(f"✗ {name}: ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        timings.append((res.spark_s + res.oracle_s, res.spark_s, res.oracle_s, name))
        if not res.msgs:
            print(f"✓ {name} ({res.rows} rows)")
        else:
            failures += 1
            print(f"✗ {name}: " + "; ".join(res.msgs))
        # block-manager hygiene between queries (see bench.py): drop SQL
        # cache, explicitly unpersist RDD-level checkpoint blocks (the
        # async ContextCleaner otherwise lets them pile up across the
        # 180+-query sweep), and release Python refs
        spark.catalog.clearCache()
        release_persistent_rdds(spark)
        gc.collect()
    spark.stop()
    if timings:
        print("-- slowest query/oracle pairs (total, spark, duckdb) --")
        for tot, ts, to, name in sorted(timings, reverse=True)[:12]:
            print(f"  {tot:7.2f}s  {ts:7.2f}s  {to:7.2f}s  {name}")
        print(f"-- sweep total: {sum(t[0] for t in timings):.1f}s over {len(timings)} pairs --")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
