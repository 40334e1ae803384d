"""End-to-end pipeline goldens — the three north-rule invariants
(BASELINE.md targets), checked against an independent pure-Python oracle
over the same deterministic transcripts:

  1. routed-row equality per sink
  2. per-sink aggregate-count equality (conv_id × tool × hour bucket)
  3. per-turn text equality under stable (conv_id, turn_idx) ordering

plus the idempotent-resume golden (F5.7) and lineage consistency (F6).
"""

from __future__ import annotations

import re
from collections import Counter
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from cardinalhq_otel_collector_spark.config import PipelineConfig
from cardinalhq_otel_collector_spark.datagen import routing_rules, tool_lookup
from cardinalhq_otel_collector_spark.operators.redact import DEFAULT_PII_PATTERNS
from cardinalhq_otel_collector_spark.plans.lineage import LineageLog
from cardinalhq_otel_collector_spark.plans.pipeline import (
    AGG_TABLE,
    CLUSTERS_TABLE,
    ROUTED_TABLE,
    read_routed_with_clusters,
    run_pipeline,
)

_LEVEL_RE = re.compile(r'(?:^|\s)level=(?:"([^"]*)"|(\S+))')
_PII_RES = [re.compile(p) for _, p, _ in DEFAULT_PII_PATTERNS]


def oracle_route(rows, tool_cat: dict) -> dict:
    """Pure-Python reference router: (conv_id, turn_idx) -> sink."""
    out = {}
    for r in rows:
        m = _LEVEL_RE.search(r["text"])
        level = (m.group(1) or m.group(2)) if m else None
        cat = tool_cat.get(r["tool"], "unknown")
        has_pii = any(p.search(r["text"]) for p in _PII_RES)
        if level == "ERROR":
            sink = "errors"
        elif r["role"] == "tool" and cat == "search":
            sink = "search_tools"
        elif has_pii:
            sink = "pii_archive"
        else:
            sink = "default"
        out[(r["conv_id"], r["turn_idx"])] = sink
    return out


@pytest.fixture(scope="module")
def pipeline_state(spark, transcripts_df, tmp_path_factory):
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    summary = run_pipeline(spark, transcripts_df, catalog, run_id="run-1")
    return catalog, summary


def test_invariant_1_routed_row_equality(spark, transcripts_df, pipeline_state):
    catalog, _ = pipeline_state
    rows = transcripts_df.collect()
    tool_cat = {r["tool"]: r["tool_category"] for r in tool_lookup(spark).collect()}
    expected = oracle_route(rows, tool_cat)

    routed = catalog.read(ROUTED_TABLE).select("conv_id", "turn_idx", "sink").collect()
    got = {(r["conv_id"], r["turn_idx"]): r["sink"] for r in routed}
    assert len(routed) == len(rows)  # no dup, no loss
    assert got == expected
    assert set(got.values()) >= {"errors", "search_tools", "pii_archive", "default"}


def test_invariant_2_aggregate_count_equality(spark, transcripts_df, pipeline_state):
    catalog, _ = pipeline_state
    rows = transcripts_df.collect()
    tool_cat = {r["tool"]: r["tool_category"] for r in tool_lookup(spark).collect()}
    sinks = oracle_route(rows, tool_cat)
    expected = Counter(
        (
            sinks[(r["conv_id"], r["turn_idx"])],
            r["conv_id"],
            r["tool"],
            r["ts"].replace(minute=0, second=0, microsecond=0),
        )
        for r in rows
    )
    got = {
        (r["sink"], r["conv_id"], r["tool"], r["bucket_start"]): r["n"]
        for r in catalog.read(AGG_TABLE).collect()
    }
    assert got == dict(expected)


def test_invariant_3_per_turn_text_equality(transcripts_df, pipeline_state):
    catalog, _ = pipeline_state
    src = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in transcripts_df.orderBy("conv_id", "turn_idx").collect()
    ]
    out = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in catalog.read(ROUTED_TABLE).orderBy("conv_id", "turn_idx").collect()
    ]
    assert src == out  # byte-identical passthrough (body_marshaler.go:25-44)


def test_cluster_dimension_join(pipeline_state):
    """Every routed row resolves a cluster_id via the broadcast dimension
    join; pattern-family rows (same masked template) share one cluster."""
    catalog, _ = pipeline_state
    joined = read_routed_with_clusters(catalog)
    assert joined.filter(F.col("cluster_id").isNull()).count() == 0
    fam = joined.filter(F.col("text").startswith("connection "))
    assert fam.select("cluster_id").distinct().count() == 1


def test_lineage_consistency(pipeline_state):
    catalog, summary = pipeline_state
    lineage = LineageLog(catalog).read().filter(F.col("run_id") == "run-1")
    per_sink = {
        (r["stage"], r["sink"]): r["rows_out"] for r in lineage.collect()
    }
    table_counts = {
        r["sink"]: r["n"]
        for r in catalog.read(ROUTED_TABLE).groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    for sink, n in table_counts.items():
        assert per_sink[("routed_write", sink)] == n


STAGES = ["routed_write", "clusters_write", "aggregates_write", "marshal_write"]
MARSHAL_SINKS = {"errors": "sumo_ic", "default": "body", "search_tools": "otlp_proto"}
# one table each stage writes, to check a crashed run's mid-run state
_STAGE_TABLE = dict(zip(STAGES, (ROUTED_TABLE, CLUSTERS_TABLE, AGG_TABLE, "marshaled_errors")))


def _marshal_config() -> PipelineConfig:
    return PipelineConfig(rules=routing_rules(), marshal_sinks=dict(MARSHAL_SINKS)).validate()


def _sink_frames(spark, catalog, like=None) -> dict:
    """Every table a ``_marshal_config`` run writes. ``like`` lends the
    schemas of its parquet tables: an empty partitioned write leaves no
    file to infer one from."""
    def parquet(table):
        if like is None:
            return catalog.read(table)
        return spark.read.schema(like.read(table).schema).parquet(catalog.path(table))

    frames = {t: parquet(t) for t in (ROUTED_TABLE, CLUSTERS_TABLE, AGG_TABLE,
                                      "marshaled_search_tools")}
    for table in ("marshaled_errors", "marshaled_default"):
        frames[table] = spark.read.text(catalog.path(table))
    return frames


def _rows(frames: dict) -> dict:
    return {t: sorted(map(tuple, df.collect()), key=repr) for t, df in frames.items()}


@pytest.fixture(scope="module")
def clean_marshal_run(spark, transcripts_df, tmp_path_factory):
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_clean")))
    run_pipeline(spark, transcripts_df, catalog, config=_marshal_config(), run_id="clean")
    return catalog, _rows(_sink_frames(spark, catalog))


@pytest.mark.parametrize("crash_after", STAGES)
def test_idempotent_resume(spark, transcripts_df, warehouse, clean_marshal_run, crash_after):
    """Crash after any stage, resume with the same run_id → exactly the
    later stages run, and the final state equals a clean run's."""
    cfg = _marshal_config()
    with pytest.raises(RuntimeError, match=f"injected failure after {crash_after}"):
        run_pipeline(
            spark, transcripts_df, warehouse, config=cfg, run_id="run-x",
            fail_after_stage=crash_after,
        )
    k = STAGES.index(crash_after) + 1
    # mid-run state: the stages up to the crash wrote, the later ones not
    for st in STAGES:
        assert warehouse.exists(_STAGE_TABLE[st]) == (st in STAGES[:k]), st

    summary = run_pipeline(spark, transcripts_df, warehouse, config=cfg, run_id="run-x", resume=True)
    assert summary["stages_skipped"] == STAGES[:k]
    assert summary["stages_run"] == STAGES[k:]
    assert _rows(_sink_frames(spark, warehouse)) == clean_marshal_run[1]


def test_empty_input_completes_and_resumes(spark, transcripts_df, warehouse, clean_marshal_run):
    """A 0-row input runs every stage: downstream stages re-read the empty
    routed table with its known schema, each stage still commits a lineage
    row, and a same-run_id resume therefore runs nothing."""
    empty = spark.createDataFrame([], transcripts_df.schema)
    cfg = _marshal_config()
    summary = run_pipeline(spark, empty, warehouse, config=cfg, run_id="empty")
    assert summary["stages_run"] == STAGES
    assert LineageLog(warehouse).committed_stages("empty") == set(STAGES)
    frames = _sink_frames(spark, warehouse, like=clean_marshal_run[0])
    assert {t: df.count() for t, df in frames.items()} == dict.fromkeys(frames, 0)

    again = run_pipeline(spark, empty, warehouse, config=cfg, run_id="empty", resume=True)
    assert again["stages_run"] == []
    assert again["stages_skipped"] == STAGES


def test_rerun_same_run_id_is_noop(spark, transcripts_df, warehouse):
    run_pipeline(spark, transcripts_df, warehouse, run_id="run-z")
    before = sorted(map(tuple, warehouse.read(ROUTED_TABLE).collect()))
    summary = run_pipeline(spark, transcripts_df, warehouse, run_id="run-z", resume=True)
    assert summary["stages_run"] == []
    after = sorted(map(tuple, warehouse.read(ROUTED_TABLE).collect()))
    assert before == after


def test_hour_layout_aggregate_equals_window_agg(spark, tmp_path):
    """S7 under the hour layout with a 1-hour agg interval: the per-sink
    aggregate equals window(ts, '1 hour') over the written routed table
    exactly — including across a midnight boundary (p_date changes under
    the same run) and for the bucket containing the last event."""
    from datetime import datetime, timedelta

    from cardinalhq_otel_collector_spark.operators.aggregate import interval_aggregate
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    base = datetime(2026, 3, 1, 22, 15, 0)
    rows = []
    for conv in range(6):
        for i in range(40):
            ts = base + timedelta(minutes=7 * i + conv)  # crosses midnight
            rows.append(
                (
                    f"conv-{conv}",
                    i,
                    "tool" if i % 3 == 0 else "user",
                    f"level=INFO code=200 latency_ms={i} service=s msg=\"m\"",
                    "search" if i % 3 == 0 else "",
                    ts,
                )
            )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cfg = PipelineConfig(
        rules=routing_rules(), partition_granularity="hour", agg_interval="1 hour"
    ).validate()
    catalog = Catalog(spark, str(tmp_path / "wh_fast"))
    run_pipeline(spark, df, catalog, config=cfg, run_id="fastpath")

    got = sorted(
        map(
            tuple,
            catalog.read(AGG_TABLE)
            .select("sink", "conv_id", "tool", "n", "bucket_start")
            .collect(),
        )
    )
    expected = sorted(
        map(
            tuple,
            interval_aggregate(
                catalog.read(ROUTED_TABLE).select("sink", "conv_id", "tool", "ts"),
                keys=["sink", "conv_id", "tool"],
                interval="1 hour",
            )
            .select("sink", "conv_id", "tool", "n", "bucket_start")
            .collect(),
        )
    )
    assert got == expected
    assert len({r[4].date() for r in got}) == 2  # midnight boundary exercised


def test_lineage_commit_survives_crashed_partial_write(spark, warehouse):
    """Resume-after-crash contract of the _lineage table: commits are
    written to a dot-prefixed temp file and renamed, so a crash mid-write
    leaves only an invisible temp — never a truncated parquet part that
    breaks the next run's committed_stages() read."""
    import os

    lineage = LineageLog(warehouse)
    lineage.commit_many("crash-run", "routed_write", [(None, 10)])
    path = warehouse.path("_lineage")
    # simulate a crash mid-write: a truncated dot-prefixed temp left behind
    with open(os.path.join(path, ".part-deadbeef.parquet.tmp"), "wb") as f:
        f.write(b"PAR1\x00\x00garbage")  # not a valid parquet footer
    # Spark's parquet reader must ignore the dot-file: read succeeds and
    # the committed stage is still visible
    assert lineage.committed_stages("crash-run") == {"routed_write"}
    # committed_at round-trips as TIMESTAMP (LTZ), matching the fallback
    # schema in read() — pre/post-change files can coexist in one dir
    assert dict(lineage.read().dtypes)["committed_at"] == "timestamp"


def test_resume_check_launches_no_spark_job(spark, spark_jobs, warehouse):
    """committed_stages reads _lineage on the driver, as commit_many
    writes it: a resume check costs no Spark job, and sees only the
    asked run's stages (none before the table exists)."""
    lineage = LineageLog(warehouse)
    assert lineage.committed_stages("r1") == set()
    lineage.commit_many("r1", "routed_write", [("errors", 3), ("default", 5)])
    lineage.commit_many("r1", "clusters_write", [(None, 2)])
    lineage.commit_many("r2", "aggregates_write", [(None, 1)])
    got: list[set[str]] = []
    assert spark_jobs(lambda: got.append(lineage.committed_stages("r1"))) == 0
    assert got == [{"routed_write", "clusters_write"}]
    # the counter does see jobs: the Spark view of the same table runs one
    assert spark_jobs(lambda: lineage.read().collect()) > 0


def test_marshal_sink_stage_e2e(spark, transcripts_df, tmp_path):
    """S6m sink-boundary marshal (exporter.go:48-66 marshal→partition→
    upload): each configured sink's routed facts are rendered in its wire
    format and written as time-partitioned files. Exercises all three
    output families (text line via sumo_ic, raw body, binary otlp_proto)
    and the lineage/resume contract."""
    from cardinalhq_otel_collector_spark.operators.marshal import (
        parse_otlp_proto_logs,
    )
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    # datagen never gives a search-tool turn a logfmt line, so add three
    # that carry a level: the otlp_proto sink must encode it too
    ts0 = datetime(2026, 3, 1, 10, 0)
    extra = spark.createDataFrame(
        [("conv-otlp", i, "tool", f'level={lvl} code=200 latency_ms=5 service=s msg="m"',
          "search", ts0) for i, lvl in enumerate(("INFO", "WARN", '"DEBUG"'))],
        transcripts_df.schema,
    )
    df = transcripts_df.unionByName(extra)
    cfg = _marshal_config()
    catalog = Catalog(spark, str(tmp_path / "wh_marshal"))
    summary = run_pipeline(spark, df, catalog, config=cfg, run_id="m1")
    assert "marshal_write" in summary["stages_run"]

    routed = catalog.read(ROUTED_TABLE)
    by_sink = dict(
        routed.groupBy("sink").count().rdd.map(lambda r: (r["sink"], r["count"])).collect()
    )

    # sumo_ic text lines: count + shape
    sumo = spark.read.text(catalog.path("marshaled_errors"))
    assert sumo.count() == by_sink["errors"]
    line = sumo.first()["value"]
    assert line.startswith('{"date": "') and '"sourceName":"errors"' in line

    # body text lines: multiset equality with the redacted text view
    body = spark.read.text(catalog.path("marshaled_default"))
    got = sorted(r["value"] for r in body.collect())
    want = sorted(
        r[0]
        for r in routed.where(F.col("sink") == "default")
        .select(F.coalesce("text_redacted", "text"))
        .collect()
    )
    assert got == want

    # otlp_proto binary: every record decodes to the body and attributes
    # of one routed search_tools row — the same attributes the otlp_json
    # encoding carries, NULL values omitted as the encoder omits them
    proto = catalog.read("marshaled_search_tools")
    assert proto.count() == by_sink["search_tools"]
    recs = [parse_otlp_proto_logs(r["value"]) for r in proto.collect()]
    assert all(rec["ts_nanos"] > 0 for rec in recs)
    got = Counter((rec["body"], tuple(sorted(rec["attrs"].items()))) for rec in recs)
    want = Counter(
        (r["body"], tuple((k, r[k]) for k in ("level", "tool") if r[k] is not None))
        for r in routed.where(F.col("sink") == "search_tools")
        .select(
            F.coalesce("text_redacted", "text").alias("body"),
            F.col("parsed_level").alias("level"),
            "tool",
        )
        .collect()
    )
    assert got == want

    # resume: the stage is lineage-committed and skipped on rerun
    summary2 = run_pipeline(spark, df, catalog, config=cfg, run_id="m1", resume=True)
    assert "marshal_write" in summary2["stages_skipped"]


def test_aggregate_buckets_are_epoch_aligned_under_half_hour_offset(spark, tmp_path):
    """p_date/p_hour follow the SESSION tz while S7's window(ts, '1 hour')
    is epoch-aligned: under a non-whole-hour-offset zone (Asia/Kolkata =
    +5:30 shifts every partition boundary by 30 min) the aggregate must
    still equal window() with epoch-aligned buckets."""
    from datetime import datetime, timedelta

    from cardinalhq_otel_collector_spark.operators.aggregate import interval_aggregate
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    base = datetime(2026, 3, 1, 22, 15, 0)
    rows = [
        (f"conv-{c}", i, "user",
         'level=INFO code=200 latency_ms=1 service=s msg="m"', "",
         base + timedelta(minutes=11 * i + c))
        for c in range(4)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cfg = PipelineConfig(
        rules=routing_rules(), partition_granularity="hour", agg_interval="1 hour"
    ).validate()
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        catalog = Catalog(spark, str(tmp_path / "wh_kolkata"))
        run_pipeline(spark, df, catalog, config=cfg, run_id="tzrun")
        got = sorted(
            map(tuple, catalog.read(AGG_TABLE)
                .select("sink", "conv_id", "n", "bucket_start").collect())
        )
        expected = sorted(
            map(tuple, interval_aggregate(
                catalog.read(ROUTED_TABLE).select("sink", "conv_id", "tool", "ts"),
                keys=["sink", "conv_id", "tool"], interval="1 hour",
            ).select("sink", "conv_id", "n", "bucket_start").collect())
        )
        assert got == expected
        # the +5:30 layout splits epoch hours across p_hour values; the
        # buckets still follow ts, not the partition values
        hours = {
            r["bucket_start"].minute for r in catalog.read(AGG_TABLE).collect()
        }
        assert hours == {0}  # epoch-aligned buckets, not :30-shifted
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_aggregate_does_not_count_null_ts(spark, tmp_path):
    """NULL-ts rows land in __HIVE_DEFAULT_PARTITION__ on write and S7's
    window() drops them: a null-timestamp turn produces no aggregate
    group."""
    from datetime import datetime

    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    rows = [
        ("c1", 0, "user", 'level=INFO code=1 latency_ms=1 service=s msg="m"',
         "", datetime(2026, 3, 1, 10, 5)),
        ("c1", 1, "user", 'level=INFO code=1 latency_ms=1 service=s msg="m"',
         "", None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cfg = PipelineConfig(
        rules=routing_rules(), partition_granularity="hour", agg_interval="1 hour"
    ).validate()
    catalog = Catalog(spark, str(tmp_path / "wh_nullts"))
    run_pipeline(spark, df, catalog, config=cfg, run_id="nullts")
    aggs = catalog.read(AGG_TABLE).collect()
    assert sum(r["n"] for r in aggs) == 1  # the NULL-ts turn is not counted
    assert all(r["bucket_start"] is not None for r in aggs)
