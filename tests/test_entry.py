"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() in DuckDB at sf0.01, compare row count, column
names, and order-insensitive values."""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if v is None:
        return "NULL"
    return str(v)


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in entrymod._TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    a = _rows_to_multiset(spark_cols, spark_rows)
    b = _rows_to_multiset(duck_cols, duck_rows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("name", [k for k in entrymod.queries() if k.startswith("lib_")])
def test_lib_query_smoke(spark, name):
    """Rows-only gate for the non-SQL-expressible library queries."""
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) >= {"sink", "role", "n", "bucket_start"}
