"""Oracle-parity check shared by scripts/verify_queries.py and
tests/test_oracle_parity.py.

Mirrors the round driver's correctness gate: run a ``queries()`` entry on
Spark and its ``oracle_sql()`` text on DuckDB over the same parquet dir,
then compare row count, column-name set, and order-insensitive normalized
cell values (columns sorted by name before hashing, floats rounded so
Spark double math and DuckDB decimal math agree). Two empty results are a
mismatch: they agree on nothing.
"""

from __future__ import annotations

import math
import time
from typing import NamedTuple

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}" if v == int(v) else repr(round(v, 9))
    return str(v)


def table_repr(cols, rows):
    """(columns sorted by name, sorted normalized row strings)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def register_oracle_views(con, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def compare_result(scols, srows, ocols, orows) -> list[str]:
    """Return a list of mismatch messages; empty list == parity."""
    msgs: list[str] = []
    if not srows and not orows:
        msgs.append("both results are empty")
    if len(srows) != len(orows):
        msgs.append(f"rowcount {len(srows)} vs {len(orows)}")
    low_o = sorted(c.lower() for c in ocols)
    if sorted(scols) != low_o and sorted(c.lower() for c in scols) != low_o:
        msgs.append(f"columns {sorted(scols)} vs {sorted(ocols)}")
    if msgs:
        return msgs
    _, sv = table_repr(scols, srows)
    _, ov = table_repr([c.lower() for c in ocols], orows)
    if sv != ov:
        diff = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
        extra_s = [x for x in sv if x not in set(ov)][:2]
        extra_o = [x for x in ov if x not in set(sv)][:2]
        msgs.append(
            f"values differ; first diffs: {diff} "
            f"spark-only={extra_s} oracle-only={extra_o}"
        )
    return msgs


class Parity(NamedTuple):
    rows: int
    msgs: list[str]  # empty == parity
    spark_s: float
    oracle_s: float


def check_parity(spark, con, sf_dir: str, builder, sql: str) -> Parity:
    """Collect ``builder(spark, sf_dir)``, run ``sql`` on ``con`` (views from
    :func:`register_oracle_views`) and compare the two results."""
    t0 = time.monotonic()
    sdf = builder(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    t1 = time.monotonic()
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    t2 = time.monotonic()
    return Parity(len(srows), compare_result(scols, srows, ocols, orows), t1 - t0, t2 - t1)

