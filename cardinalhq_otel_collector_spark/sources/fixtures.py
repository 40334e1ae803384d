"""Committed parquet fixtures for the oracle-backed ``lib_*`` entries.

The CORRECTNESS driver compares each ``queries()`` entry against DuckDB
SQL. The full pipeline and the template clustering take *transcripts* as
input — previously generated Spark-side (xxhash64 expressions DuckDB can't
evaluate), which forced those rows down to the weaker rows-only check.
Writing the SAME deterministic generator output to a parquet file once
makes both engines read identical bytes, so the per-sink counts and the
cluster components become fully oracle-checkable.

The fixture is committed to the repo (``fixtures/transcripts_small.parquet``,
~3k rows); ``tests/test_fixtures.py`` regenerates it from
``datagen.transcripts`` and asserts value equality so it cannot drift from
the generator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "FIXTURE_DIR",
    "TRANSCRIPTS_FIXTURE",
    "NEARDUP_FIXTURE",
    "transcripts_fixture_df",
    "neardup_fixture_df",
]

FIXTURE_DIR = os.environ.get(
    "SPARK_GRAFT_FIXTURE_DIR",
    os.path.normpath(os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")),
)
TRANSCRIPTS_FIXTURE = os.path.join(FIXTURE_DIR, "transcripts_small.parquet")
NEARDUP_FIXTURE = os.path.join(FIXTURE_DIR, "transcripts_neardup.parquet")

# Fixture identity: keep in ONE place so the regen test and the writer agree.
FIXTURE_N_CONVS = 300
FIXTURE_HOT_CONVS = 3

# Crafted near-duplicate turns appended to the clustering fixture: single-token
# edits of the generator's template families, chosen so MinHash banding merges
# them into existing components (exercising multi-template clusters, which the
# pure generator output never produces — its 21 components are all singletons).
NEARDUP_EXTRA_TEXTS = [
    # suffix edit of the pattern_line family (tok0 'connection' preserved)
    "connection 42 from host server-3 retry 2 timeout 500ms again",
    "connection 77 from host server-9 retry 1 timeout 86ms again",
    # infix edit of the email family
    "contact user17@example.com about urgent ticket 400",
    # token-substitution edit of the phone/uuid family ('trace' → 'track';
    # same token count — the shape the Drain-parity-tuned 4×3 banding merges)
    "callback +1-555-0142 track 00000000-0000-4000-8000-000000000000",
]


def transcripts_fixture_df(spark: SparkSession) -> DataFrame:
    """The generator output the fixture file must equal (sorted for a
    stable on-disk row order — parquet row order is part of the bytes,
    not the semantics)."""
    from ..datagen import transcripts

    return transcripts(
        spark, n_convs=FIXTURE_N_CONVS, hot_convs=FIXTURE_HOT_CONVS
    ).orderBy("conv_id", "turn_idx")


def neardup_fixture_df(spark: SparkSession) -> DataFrame:
    """Clustering fixture: the transcripts fixture plus NEARDUP_EXTRA_TEXTS
    as synthetic turns of one extra conversation."""
    import datetime

    base = transcripts_fixture_df(spark)
    extra_rows = [
        ("conv-extra", i, "assistant", text, "", datetime.datetime(2026, 1, 1, 3, 0, i))
        for i, text in enumerate(NEARDUP_EXTRA_TEXTS)
    ]
    extra = spark.createDataFrame(extra_rows, schema=base.schema)
    return base.unionByName(extra)
