"""Streaming variant of the pipeline (Structured Streaming).

The reference is a streaming system: batches arrive at receivers, the
aggregation processor emits at most once per interval piggybacked on
arrivals (aggregate.go:31-44), and late datapoints simply join the current
bucket. The Spark mapping:

  receiver           → ``readStream`` file source over the transcripts dir
                        (kafka source is the same code path with
                        ``format("kafka")`` — not available in-sandbox)
  processor chain    → the SAME decorate() stage functions (S1-S5 are
                        stateless projections, legal on streaming frames)
  interval emit (A6) → tumbling ``window(ts, interval)`` + watermark;
                        append mode emits each window once, when the
                        watermark passes it — exactly the "≤ once per
                        interval" contract, with a principled late-data
                        bound the reference lacks
  exporter           → partitioned parquet file sink with checkpoint —
                        exactly-once via the sink's commit log (the
                        streaming twin of the _lineage idempotence story)

Template clustering (S2 pass 2) is deliberately batch-only: cluster
identity must be stable across the whole corpus, so the streaming job
carries (template, fingerprint) and the dimension table is refreshed by
the batch clusters_write stage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..operators.aggregate import interval_aggregate
from ..plans.pipeline import AGG_KEYS, decorate, routed_partition_cols, slim_facts
from ..sources.catalog import add_time_partitions

__all__ = ["TRANSCRIPT_SCHEMA", "stream_transcripts", "run_streaming_pipeline", "streaming_dedup", "streaming_sessions", "stream_stream_interval_join"]

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def stream_transcripts(spark: SparkSession, source_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)  # bounded micro-batches (backpressure)
        .parquet(source_dir)
    )


def run_streaming_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    config: PipelineConfig | None = None,
    watermark: str = "10 minutes",
) -> list:
    """Run the streaming pipeline to completion over what ``source_dir``
    holds (``availableNow`` trigger): decorated/routed append sink +
    windowed aggregate sink.

    Returns the list of (terminated) streaming queries.
    Restart-safety: both sinks are file sinks with checkpoints — a killed
    and restarted job resumes from the checkpoint and never duplicates a
    committed file (exactly-once within one sink directory).
    """
    from ..datagen import routing_rules

    config = (config or PipelineConfig(rules=routing_rules())).validate()
    stream = stream_transcripts(spark, source_dir)
    decorated = decorate(stream, config)

    # Same slimming projection as the batch routed table — the two fact
    # tables are twins and must stay schema/content-identical so consumers
    # (and the batch clusters stage) can treat them interchangeably.
    routed = add_time_partitions(
        slim_facts(decorated), granularity=config.partition_granularity
    )
    q_routed = (
        routed.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "routed_stream"))
        .option("checkpointLocation", os.path.join(out_dir, "_chk_routed"))
        .partitionBy(*routed_partition_cols(config.partition_granularity))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    # the batch S7 rollup, over a watermarked stream
    aggs = interval_aggregate(
        decorated.withWatermark("ts", watermark),
        keys=AGG_KEYS,
        interval=config.agg_interval,
    ).select("bucket_start", *AGG_KEYS, "n")
    q_aggs = (
        aggs.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "agg_stream"))
        .option("checkpointLocation", os.path.join(out_dir, "_chk_aggs"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    queries = [q_routed, q_aggs]
    for q in queries:
        q.awaitTermination()
    return queries


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of the batch log-dedup (fingerprint-keyed drop of
    repeats): keep the FIRST arrival per key, drop any duplicate that
    arrives within the watermark delay, and evict key state once the
    event-time watermark passes it — so state is bounded by keys seen per
    delay window, not by stream history (`dropDuplicatesWithinWatermark`,
    the exactly-this-semantics Spark primitive; at-least-once upstream
    sources become effectively-once through it).

    Rows flow through in append mode as they arrive — emission is not
    deferred to window close, so dedup adds no latency beyond the state
    lookup.
    """
    out = stream.withWatermark(ts_col, delay)
    return out.dropDuplicatesWithinWatermark(keys)


def streaming_sessions(
    stream: DataFrame,
    entity_cols: list[str],
    ts_col: str = "ts",
    gap: str = "8 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming inactivity-gap sessionization — Structured Streaming's
    native ``session_window`` (the streaming twin of the batch
    ``operators/sessionize``; dynamic-gap merge handled by the engine's
    session-state store, emitted on window close once the event-time
    watermark passes the session end).

    Boundary semantics MATCH the batch operator: session windows merge
    when they touch, so an event arriving EXACTLY ``gap`` after the
    previous one still joins the session (verified empirically in
    test_streaming.py — only a gap STRICTLY greater than ``gap``
    splits, the same rule as batch sessionize's ``>``).

    Output: entity cols + session_start (= min event ts), n_events.
    State is bounded by open sessions per key (closed sessions are
    evicted at watermark), the property that makes this viable on an
    unbounded 10^12-turn stream.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), *entity_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *entity_cols,
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    lower_seconds: float,
    upper_seconds: float,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    prefix: str = "r_",
) -> DataFrame:
    """Stream-stream inner interval join — Structured Streaming's
    watermarked two-stream join (click-to-view attribution, span
    correlation): pairs where ``l.ts + lower <= r.ts <= l.ts + upper``
    and the ``by`` keys match.

    Both sides carry watermarks and the time-range condition bounds the
    join state the engine must buffer: a row can be evicted once the
    other stream's watermark passes its reachable window — THE property
    that makes a two-stream join runnable on unbounded input (an
    unconstrained stream-stream join would buffer both streams
    forever; Spark rejects it in append mode for exactly that reason).

    Bound semantics: BOTH ends inclusive (``lower <= r.ts - l.ts <=
    upper``). Note this differs from batch ``range_join``, whose upper
    bound is EXCLUSIVE (``r.ts < l.ts + upper``): a row landing exactly
    at ``l.ts + upper`` joins here but not there. Whole seconds only —
    fractional bounds are rejected rather than silently truncated.

    Inner-join emission is match-driven, not window-close-driven, so
    with generous watermarks over replayed (file) sources the emitted
    set equals the batch range join on inputs that avoid the
    upper-boundary instant — which is how the oracle checks this
    operator end to end.
    """
    for nm, v in (("lower_seconds", lower_seconds), ("upper_seconds", upper_seconds)):
        if float(v) != int(v):
            raise ValueError(
                f"{nm}={v!r}: fractional second bounds are not supported "
                "(INTERVAL is built in whole seconds); pass integral values"
            )
    lcols = left.columns
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = (
        right.select(
            *[F.col(c).alias(c if c in by else f"{prefix}{c}") for c in right.columns]
        )
        .withWatermark(f"{prefix}{ts_col}", watermark)
        .alias("r")
    )
    cond = None
    for k in by:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else (cond & c)
    rts = F.col(f"r.{prefix}{ts_col}")
    lts = F.col(f"l.{ts_col}")
    cond = (
        cond
        & (rts >= lts + F.expr(f"INTERVAL {int(lower_seconds)} SECONDS"))
        & (rts <= lts + F.expr(f"INTERVAL {int(upper_seconds)} SECONDS"))
    )
    out_cols = [F.col(f"l.{c}") for c in lcols] + [
        F.col(f"r.{c}") for c in r.columns if c not in by
    ]
    return l.join(r, cond, "inner").select(*out_cols)
