from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cardinalhq_otel_collector_spark.session import build_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_spark(app_name="tests", cores=4, shuffle_partitions=8, driver_mem="4g")
    yield s
    s.stop()


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` and returns how many Spark jobs it
    launched: the jobs ``statusTracker`` files under a fresh job group,
    read after the listener bus has drained."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def transcripts_df(spark):
    from cardinalhq_otel_collector_spark.datagen import transcripts

    df = transcripts(spark, n_convs=120, hot_convs=2, partitions=8)
    df.persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def warehouse(tmp_path, spark):
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    return Catalog(spark, str(tmp_path / "warehouse"))
