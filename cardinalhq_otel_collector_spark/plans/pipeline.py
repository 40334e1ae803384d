"""The end-to-end pipeline plan (SURVEY.md §7 north-star shape).

Mirrors the reference's logs path (docs/flow/flow.dot:28-47):
receivers → memory_limiter → chqdecorator → forward/* fan-out → per-sink
chains, re-expressed as ONE declarative DataFrame plan:

  S0 read → S1 parse → S2 fingerprint (pass 1) → S3 redact →
  S4 enrich (broadcast) → S5 route →
  S6 fan-out write (single pass, partitioned by sink) →
  S2' template→cluster dimension table (from the written table, pruned) →
  S7 per-sink windowed aggregate counts (``interval_aggregate`` over the
     written table, pruned) →
  S6m optional per-sink wire-format marshal (from the written table) →
  S8 lineage commit per stage (idempotent resume)

Scale decisions baked in:
  * STAGED-TABLE fan-out: the decorated stream is computed once and
    written once; downstream stages re-read the committed table with
    column pruning instead of caching 10^12 rows in executor memory
    (forward-connector fan-out without recompute, SURVEY.md §4 — measured
    against persist() at sf0.1: table wins 7s+2s vs 62s);
  * the fan-out is one ``partitionBy("sink", p_date)`` write, not one
    scan per sink (batchperresourceattr analogue, factory.go:93-101);
  * the template→cluster map is a tiny dimension table joined back by
    broadcast at read time, never burned into fact rows;
  * optional salted repartition bounds file/partition size under hot
    conversations (salting + AQE, north-rule skew obligation);
  * aggregates are a single groupBy — Catalyst's partial+final hash agg
    keeps the shuffle proportional to group cardinality, not row count.
"""

from __future__ import annotations

import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..datagen import role_lookup, routing_rules, tool_lookup
from ..operators.aggregate import interval_aggregate
from ..operators.enrich import enrich
from ..operators.fingerprint import cluster_templates, fingerprint, mask_template
from ..operators.parse import parse_keyvalue
from ..operators.redact import redact
from ..operators.route import route
from ..sources.catalog import Catalog, add_time_partitions, time_partition_cols
from .lineage import LineageLog

__all__ = [
    "decorate",
    "slim_facts",
    "routed_partition_cols",
    "AGG_KEYS",
    "run_pipeline",
    "read_routed_with_clusters",
    "ROUTED_TABLE",
    "AGG_TABLE",
    "CLUSTERS_TABLE",
]


def slim_facts(df: DataFrame) -> DataFrame:
    """Fact-table slimming applied to BOTH the batch and streaming routed
    sinks (they must stay schema-identical twins): 'template' is derivable
    (mask regex over text) and recomputed by the clusters stage from a
    pruned read instead of being stored per row; 'text_redacted' is stored
    only where it differs from text (readers coalesce it back). At 10^12
    rows the storage/shuffle bandwidth of two extra text-sized columns
    dwarfs the recompute CPU."""
    return df.drop("template").withColumn(
        "text_redacted", F.when(F.col("has_pii"), F.col("text_redacted"))
    )


def routed_partition_cols(granularity: str) -> list[str]:
    """The routed fact table's directory layout — sink, then the time
    partitions — shared by the batch and streaming writers."""
    return ["sink", *time_partition_cols(granularity)]


# S7 group keys (besides the interval bucket), batch and streaming alike
AGG_KEYS = ["sink", "conv_id", "tool"]

ROUTED_TABLE = "routed"
AGG_TABLE = "sink_aggregates"
CLUSTERS_TABLE = "template_clusters"

STAGE_ROUTED = "routed_write"
STAGE_CLUSTERS = "clusters_write"
STAGE_AGG = "aggregates_write"
STAGE_MARSHAL = "marshal_write"
MARSHAL_TABLE_PREFIX = "marshaled_"
MARSHAL_FORMATS = ("body", "sumo_ic", "otlp_json", "otlp_proto")


def marshal_routed(df: DataFrame, fmt: str, sink: str) -> DataFrame:
    """Render one sink's routed facts in its wire format (the marshal half
    of exporter.go:48-66; format selection mirrors marshaler.go:42-71).
    Returns (p_date, value): value is the marshaled line for the string
    formats or the protobuf wire bytes for otlp_proto. The body is the
    REDACTED text view — the same coalesce(text_redacted, text) contract
    every other consumer of the slimmed routed table uses."""
    from ..operators import marshal as M

    body = F.coalesce(F.col("text_redacted"), F.col("text"))
    host = F.coalesce(F.col("parsed_service"), F.lit("unknown"))
    if fmt == "body":
        # body_marshaler.go:26-45 — NULL renders as '' (AsString contract)
        return df.select("p_date", F.coalesce(body, F.lit("")).alias("value"))
    if fmt == "sumo_ic":
        out = M.sumo_ic_lines(
            df,
            source_name=F.lit(sink),
            source_host=host,
            source_category=F.coalesce(F.col("tool"), F.lit("unknown")),
            body=body,
            ts=F.col("ts"),
            fields={"tool_category": F.col("tool_category")},
            message_attrs={"conv_id": F.col("conv_id")},
            out_col="value",
        )
    elif fmt in ("otlp_json", "otlp_proto"):
        # one plog record either way (marshaler.go:42-71): the two OTLP
        # encodings carry the same resource and record attributes
        encode = M.otlp_json_logs if fmt == "otlp_json" else M.otlp_proto_logs
        out = encode(
            df, body=body, ts=F.col("ts"),
            resource_attrs={"service": host},
            attrs={"tool": F.col("tool"), "level": F.col("parsed_level")},
            out_col="value",
        )
    else:
        raise ValueError(f"unknown marshal format {fmt!r}: use {MARSHAL_FORMATS}")
    return out.select("p_date", "value")


def decorate(transcripts: DataFrame, config: PipelineConfig) -> DataFrame:
    """S1-S5: the chqdecorator-equivalent transform chain — one declarative
    plan, all JVM expressions, no collect.

    S2 here is pass 1 only (template + fingerprint per row). The cluster
    map (pass 2) is not joined into the facts: run_pipeline's clusters
    stage writes it as a dimension table from the routed table, and
    ``read_routed_with_clusters`` joins it back at read time.
    """
    spark = transcripts.sparkSession
    df = parse_keyvalue(transcripts, config.parse_fields)           # S1
    df = fingerprint(df)                                            # S2 pass 1
    df = redact(df, config.pii_patterns)                            # S3
    df = enrich(df, tool_lookup(spark), "tool",
                fill_unknown={"tool_category": "unknown", "tool_owner": "unknown", "valid": False})  # S4
    df = enrich(df, role_lookup(spark), "role",
                fill_unknown={"role_kind": "unknown"})
    df = route(df, config.rules, default_sink=config.default_sink)  # S5
    return df


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: Catalog,
    config: PipelineConfig | None = None,
    run_id: str | None = None,
    resume: bool = False,
    fail_after_stage: str | None = None,
) -> dict:
    """Run (or resume) the full pipeline. Returns a summary dict:
    ``run_id``, ``stages_run``, ``stages_skipped`` and ``timings`` (seconds
    per stage run, keyed by stage name).

    Every stage goes through one lifecycle (exporter.go:48-66 write, then
    the internal/notify commit): skip if committed → write the stage's
    table(s) with per-sink row counts observed on the write job itself →
    record the counts in ``_lineage`` → honour ``fail_after_stage``, the
    crash-injection hook for resume tests.

    Idempotence contract: sink tables are keyed by the pipeline identity,
    not the run — a stage is (re)written atomically (overwrite) and its
    completion recorded in ``_lineage`` keyed (run_id, stage, sink). A
    resumed run skips stages already committed for that run_id, so a
    mid-run crash + rerun converges to the same sink state as a clean run
    (F5.7 golden; design.md:51 dedup contract).
    """
    config = (config or PipelineConfig(rules=routing_rules())).validate()
    run_id = run_id or uuid.uuid4().hex
    lineage = LineageLog(catalog)
    done = lineage.committed_stages(run_id) if resume else set()
    summary: dict = {"run_id": run_id, "stages_run": [], "stages_skipped": [], "timings": {}}

    def stage(name: str, body: Callable[[], list[tuple[str | None, int]]]) -> None:
        if name in done:
            summary["stages_skipped"].append(name)
        else:
            t0 = time.perf_counter()
            lineage.commit_many(run_id, name, body())
            summary["stages_run"].append(name)
            summary["timings"][name] = round(time.perf_counter() - t0, 3)
        if name == fail_after_stage:
            raise RuntimeError(f"injected failure after {name}")

    decorated = slim_facts(decorate(transcripts, config))
    if config.salt_partitions > 0:
        # bound partition size under hot conversations: spread each conv's
        # turns over salt buckets; sink stays the leading key so the
        # partitioned write still clusters by sink.
        decorated = decorated.repartition(
            F.col("sink"),
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(config.salt_partitions)),
        )
    routed = add_time_partitions(decorated, granularity=config.partition_granularity)
    part_cols = routed_partition_cols(config.partition_granularity)
    # sink labels are closed over the rule table, so the metric set is static
    sinks = [r["sink"] for r in config.rules] + [config.default_sink]

    # Staged-table design: the routed table is written in ONE pass and then
    # serves as the materialization for every downstream stage (cluster map,
    # aggregates, marshal) via column-pruned parquet reads. At 10^12 rows
    # you cannot cache the stream in executor memory — the committed table
    # IS the cache, and re-reads prune to the 2-4 columns each stage needs
    # (SURVEY.md §4 fan-out row: persist vs intermediate table — measured,
    # the table wins: persist cost 62s vs write 7s + pruned re-reads ~2s at
    # sf0.1/local[32]). The template→cluster mapping is deliberately a
    # separate tiny dimension table instead of a column burned into the
    # fact rows: deriving it costs O(distinct templates), joining it back
    # at read time is a broadcast, and re-clustering never rewrites facts.
    # Re-reads take the routed frame's schema: an empty partitioned write
    # leaves no parquet file to infer one from.
    def read_routed() -> DataFrame:
        return catalog.read(ROUTED_TABLE, schema=routed.schema)

    # ---- S6: single-pass fan-out write ------------------------------------
    def write_routed():
        out, obs = _observe_rows(routed, sinks)
        catalog.write(out, ROUTED_TABLE, partition_by=part_cols)
        return list(obs.get.items())

    # ---- S2 pass 2: template→cluster dimension table -----------------------
    def write_clusters():
        # The routed facts already carry ``fingerprint`` (pass 1), so the
        # fact-side work here is ONE hash aggregation: a representative
        # text per fingerprint (min — deterministic). Only those ~|distinct
        # templates| representatives get re-masked — every text with the
        # same fingerprint masks to the same template by construction, so
        # re-masking all rows (3 regexes × 10^12 texts) would buy nothing.
        # Not persisted: the size-probe and the final join each re-run
        # this small aggregation, which costs less than a cached relation
        # that keeps every shuffle partition, turning the probe into
        # serial take jobs and the write into one file per partition.
        reps = (
            read_routed()
            .select("fingerprint", "text")
            .groupBy("fingerprint")
            .agg(F.min("text").alias("text"))
        )
        templates = (
            reps.withColumn("template", mask_template(F.col("text")))
            .select("template", "fingerprint")
        )
        mapping, obs = _observe_rows(
            cluster_templates(templates).select("template", "fingerprint", "cluster_id")
        )
        catalog.write(mapping, CLUSTERS_TABLE)
        return [(None, obs.get["n"])]

    # ---- S7: per-sink windowed aggregate counts ----------------------------
    def write_aggregates():
        facts = read_routed().select(*AGG_KEYS, "ts")
        aggs, obs = _observe_rows(
            interval_aggregate(facts, keys=AGG_KEYS, interval=config.agg_interval),
            sinks,
        )
        catalog.write(aggs, AGG_TABLE, partition_by=["sink"])
        return list(obs.get.items())

    # ---- S6m: optional sink-boundary marshal stage --------------------------
    # exporter.go:48-66 shape (marshal → partition → upload per sub-batch):
    # each configured sink's routed facts are rendered in that sink's wire
    # format and written as time-partitioned files next to the tables. Off
    # by default — a sink that consumes parquet directly needs no marshal.
    # Reads are partition-pruned (sink is the leading partition key of the
    # routed table), so each marshal scans only its own sink's bytes.
    def write_marshaled():
        counts = []
        for sink, fmt in sorted(config.marshal_sinks.items()):
            out, obs = _observe_rows(
                marshal_routed(read_routed().where(F.col("sink") == sink), fmt, sink)
            )
            table = f"{MARSHAL_TABLE_PREFIX}{sink}"
            if fmt == "otlp_proto":
                # wire bytes: parquet binary column (text can't hold them)
                catalog.write(out, table, partition_by=["p_date"])
            else:
                # line formats: newline-delimited text objects, one leaf
                # dir per p_date — the upload layout shape
                out.write.mode("overwrite").partitionBy("p_date").text(catalog.path(table))
            counts.append((sink, obs.get["n"]))
        return counts

    stage(STAGE_ROUTED, write_routed)
    stage(STAGE_CLUSTERS, write_clusters)
    stage(STAGE_AGG, write_aggregates)
    if config.marshal_sinks:
        stage(STAGE_MARSHAL, write_marshaled)
    return summary


def _observe_rows(df: DataFrame, sinks: list[str] | None = None) -> tuple[DataFrame, Observation]:
    """Attach row counts to ``df``'s write job as observed metrics, so they
    cost no second scan of the written table: one count per label in
    ``sinks`` (rows whose ``sink`` column holds it), else the total as
    ``n``. Read ``Observation.get`` after the write."""
    obs = Observation()
    if sinks is None:
        counts = [F.count(F.lit(1)).alias("n")]
    else:
        counts = [F.count(F.when(F.col("sink") == s, 1)).alias(s) for s in sinks]
    return df.observe(obs, *counts), obs


def read_routed_with_clusters(catalog: Catalog) -> DataFrame:
    """Read the routed fact table joined (broadcast) with the cluster
    dimension — how consumers get cluster_id without it being burned into
    10^12 fact rows.

    The writer stores ``text_redacted`` only where it differs from ``text``
    (fact-table slimming above); this reader restores the full contract with
    ``coalesce(text_redacted, text)`` so the storage optimization is
    invisible to consumers."""
    facts = catalog.read(ROUTED_TABLE).withColumn(
        "text_redacted", F.coalesce(F.col("text_redacted"), F.col("text"))
    )
    dim = catalog.read(CLUSTERS_TABLE).select("fingerprint", "cluster_id").distinct()
    return facts.join(F.broadcast(dim), "fingerprint", "left")
