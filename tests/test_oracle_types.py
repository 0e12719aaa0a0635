"""No oracle may emit a DuckDB HUGEINT (int128) column.

VERDICT r02 root-caused all five driver hash-red rows to one systemic bug:
DuckDB returns HUGEINT for sum() over integer types (window sums included),
and the driver's hasher serializes HUGEINT differently from BIGINT, so an
oracle emitting one hash-mismatches even when the values are bit-identical
to Spark's. The fix is CAST(... AS BIGINT) at the outermost projection; this
test pins the whole class shut by binding every oracle (no execution -- the
relation's types come from DuckDB's binder) and asserting no HUGEINT
anywhere in the result schema, including nested list/struct types.

It also pins the single query registry: queries(), oracle_sql() and the
bench's selection must agree on query names.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
import bench

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_no_oracle_emits_hugeint(con):
    oracles = entry_mod.oracle_sql()
    assert oracles, "oracle_sql() is empty"
    offenders = {}
    for name, sql in sorted(oracles.items()):
        rel = con.sql(sql)  # binder only; .types does not execute the query
        hug = [
            d[0]
            for d, t in zip(rel.description, rel.types)
            if "HUGEINT" in str(t).upper()
        ]
        if hug:
            offenders[name] = hug
    assert not offenders, (
        f"oracles emitting HUGEINT columns (wrap the aggregate in "
        f"CAST(... AS BIGINT)): {offenders}"
    )


def test_one_query_registry():
    """queries() is derived from the _q_<name> definitions; every query has
    an oracle, and the bench only times registered queries."""
    qs = entry_mod.queries()
    assert set(qs) == set(entry_mod.oracle_sql())
    assert {k for k, fn in qs.items() if fn.__name__ != "_q_" + k} == set()
    assert set(bench.BENCH_QUERIES) <= set(qs)
