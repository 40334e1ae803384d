"""The board's scan set-up in ``__spark_entry__.py``: every fixed parquet
input is read with the schema Spark inferred on its first read, so a warm
read launches no Spark job, a rewritten file is re-inferred, and
``tpch_q1`` registers only the table it queries."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from test_entry import SF_DIR

import __spark_entry__ as entrymod

# the fixed testdata tables, one directory per scale factor (TESTDATA.md)
TESTDATA = os.path.dirname(SF_DIR)


def test_warm_read_launches_no_job(spark, spark_jobs, tmp_path):
    shutil.copy(f"{TESTDATA}/sf0.01/events.parquet", tmp_path / "events.parquet")
    sf_dir = str(tmp_path)
    assert spark_jobs(lambda: entrymod._read(spark, sf_dir, "events")) == 1
    assert spark_jobs(lambda: entrymod._read(spark, sf_dir, "events")) == 0
    assert spark_jobs(lambda: entrymod._read(spark, sf_dir, "events", spread=True)) == 0


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert entrymod._read(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"c": [1.5], "a": [3], "d": [True]}), path)
    df = entrymod._read(spark, str(tmp_path), "t")
    assert df.columns == ["c", "a", "d"]
    assert [tuple(r) for r in df.collect()] == [(1.5, 3, True)]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_cached_schema_is_the_inferred_schema(spark, sf):
    for t in entrymod._TABLES:
        path = f"{TESTDATA}/{sf}/{t}.parquet"
        warm = entrymod._read(spark, f"{TESTDATA}/{sf}", t)
        inferred = spark.read.parquet(path).schema
        assert entrymod._SCANS[path][1] == inferred, (sf, t)
        assert warm.schema == inferred, (sf, t)


def test_tpch_q1_registers_only_lineitem(spark):
    session = spark.newSession()
    entrymod.q_tpch_q1(session, f"{TESTDATA}/sf0.01")
    assert [t.name for t in session.catalog.listTables() if t.isTemporary] == ["lineitem"]
