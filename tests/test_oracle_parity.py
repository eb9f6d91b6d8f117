"""Full-registry Spark-vs-DuckDB oracle parity at sf0.001.

The round driver's correctness gate records rows for only a bounded prefix
of the ``queries()`` registry (50 of 76 in CORRECTNESS_r03), so a registry
this size can never be fully driver-covered in one round. This test IS the
complete gate, runnable by anyone with ``pytest``: every ``queries()``
entry is executed on Spark and compared — row count, column set,
order-insensitive normalized values — against its ``oracle_sql()`` text on
DuckDB over the same sf0.001 parquet tables, the same comparison the
driver applies (see scripts/verify_queries.py for the sf0.01 sweep).
"""

from __future__ import annotations

from collections import Counter

import pytest

import __spark_entry__ as entrymod

pytestmark = pytest.mark.spark
from readability_spark.testing import check_parity, compare_result, register_oracle_views

SF_DIR = "/root/testdata/sf0.001"

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


def test_registry_names_are_unique():
    counts = Counter(name for name, _, _ in entrymod._REGISTRY)
    assert [n for n, c in counts.items() if c > 1] == []


def test_every_query_has_an_oracle():
    assert _QUERIES.keys() == _ORACLES.keys()


def test_two_empty_results_are_a_mismatch():
    assert compare_result(["url"], [], ["url"], [])


@pytest.fixture(scope="module")
def oracle_con():
    import duckdb

    con = duckdb.connect()
    register_oracle_views(con, SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(_QUERIES))
def test_oracle_parity(name, spark, oracle_con):
    msgs = check_parity(spark, oracle_con, SF_DIR, _QUERIES[name], _ORACLES[name]).msgs
    assert not msgs, f"{name}: " + "; ".join(msgs)
