import os

from pyspark.sql import functions as F

from cardinalhq_otel_collector_spark.config import PipelineConfig
from cardinalhq_otel_collector_spark.datagen import routing_rules, transcripts
from cardinalhq_otel_collector_spark.plans.pipeline import decorate
from cardinalhq_otel_collector_spark.streaming.stream_pipeline import (
    run_streaming_pipeline,
)


def test_streaming_matches_batch(spark, transcripts_df, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    # several files so multiple micro-batches happen
    transcripts_df.repartition(6).write.parquet(src)

    run_streaming_pipeline(spark, src, out, watermark="1 minute")

    routed = spark.read.option("basePath", os.path.join(out, "routed_stream")).parquet(
        os.path.join(out, "routed_stream")
    )
    cfg = PipelineConfig(rules=routing_rules()).validate()
    batch = decorate(transcripts_df, cfg)

    # stateless path: streaming output ≡ batch output, row for row
    a = sorted(
        (r["conv_id"], r["turn_idx"], r["sink"], r["text"]) for r in routed.collect()
    )
    b = sorted(
        (r["conv_id"], r["turn_idx"], r["sink"], r["text"]) for r in batch.collect()
    )
    assert a == b

    # windowed aggregates: every emitted (closed) window matches the batch
    # aggregate exactly; only windows still open at end-of-stream may be
    # missing (append-mode watermark semantics)
    aggs = spark.read.parquet(os.path.join(out, "agg_stream"))
    emitted = {
        (r["bucket_start"], r["sink"], r["conv_id"], r["tool"]): r["n"]
        for r in aggs.collect()
    }
    expected = {
        (r["bucket_start"], r["sink"], r["conv_id"], r["tool"]): r["n"]
        for r in batch.groupBy(
            F.window("ts", cfg.agg_interval).alias("w"), "sink", "conv_id", "tool"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "sink", "conv_id", "tool", "n")
        .collect()
    }
    assert len(emitted) > 0
    for k, n in emitted.items():
        assert expected[k] == n


def test_streaming_routed_layout_matches_batch_at_hour(spark, tmp_path):
    """At hour granularity the streaming routed sink partitions by the same
    directories as the batch routed table: sink=*/p_date=*/p_hour=*."""
    import glob

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    transcripts(spark, n_convs=20, partitions=2).write.parquet(src)
    cfg = PipelineConfig(rules=routing_rules(), partition_granularity="hour")

    run_streaming_pipeline(spark, src, out, config=cfg, watermark="1 minute")

    routed_dir = os.path.join(out, "routed_stream")
    leaves = glob.glob(os.path.join(routed_dir, "sink=*", "p_date=*", "p_hour=*", "*.parquet"))
    assert leaves
    # p_hour is a directory, not a data column inside the files
    assert "p_hour" not in spark.read.parquet(leaves[0]).columns


def test_streaming_restart_is_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    df = transcripts(spark, n_convs=30, partitions=3)
    df.write.parquet(src)

    run_streaming_pipeline(spark, src, out, watermark="1 minute")
    routed_dir = os.path.join(out, "routed_stream")
    n1 = spark.read.parquet(routed_dir).count()
    # restart with the same checkpoint: no new input -> no duplicates
    run_streaming_pipeline(spark, src, out, watermark="1 minute")
    n2 = spark.read.parquet(routed_dir).count()
    assert n1 == n2 == df.count()


def test_streaming_dedup_drops_repeats_keeps_first(spark, tmp_path):
    """Two identical files of keyed rows stream through
    dropDuplicatesWithinWatermark with a span-covering delay: each key
    must be emitted exactly once."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from cardinalhq_otel_collector_spark.streaming.stream_pipeline import (
        streaming_dedup,
    )

    src = str(tmp_path / "src")
    rows = [(i, datetime(2026, 1, 1) + timedelta(minutes=i)) for i in range(20)]
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    for _ in range(2):
        df.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "out")
    (
        streaming_dedup(stream, ["k"], delay="30 days")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == list(range(20))


def test_streaming_sessions_gap_boundary(spark, tmp_path):
    """session_window twin: exactly-gap spacing MERGES (touching
    intervals coalesce) — same boundary rule as batch sessionize's
    strict-> split, verified empirically here."""
    import datetime as dt
    import os
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    from cardinalhq_otel_collector_spark.streaming.stream_pipeline import (
        streaming_sessions,
    )

    T = dt.datetime.fromisoformat
    rows = [
        (1, 10, T("2024-01-01 00:00:00")),
        (2, 10, T("2024-01-01 00:30:00")),   # same session (30m < 1h)
        (3, 10, T("2024-01-01 01:30:00")),   # EXACTLY 1h later → still merges
        (4, 11, T("2024-01-01 05:00:00")),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    sentinel = spark.createDataFrame(
        [(-1, -1, T("2100-01-01 00:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    src = str(tmp_path / "src"); os.makedirs(src)
    now = _t.time()
    for j, frame in enumerate((ev, sentinel)):
        tmp = str(tmp_path / f"w{j}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{j:02d}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (now - 100 + 40 * j,) * 2)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = str(tmp_path / "out")
    (
        streaming_sessions(stream, ["user_id"], gap="1 hour", watermark="0 seconds")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True)
        .start().awaitTermination()
    )
    got = {
        (r.user_id, r.session_start): r.n_events
        for r in spark.read.parquet(out).filter(F.col("user_id") >= 0).collect()
    }
    assert got == {
        (10, T("2024-01-01 00:00:00")): 3,
        (11, T("2024-01-01 05:00:00")): 1,
    }


def test_stream_stream_interval_join_bounds(spark, tmp_path):
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from cardinalhq_otel_collector_spark.streaming.stream_pipeline import (
        stream_stream_interval_join,
    )

    T = dt.datetime.fromisoformat
    clicks = spark.createDataFrame(
        [(1, 10, T("2024-01-01 01:00:00")), (2, 11, T("2024-01-01 01:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    views = spark.createDataFrame(
        [
            (10, 10, T("2024-01-01 00:50:00")),  # exactly -600s → in
            (11, 10, T("2024-01-01 00:49:59")),  # 1s early → out
            (12, 10, T("2024-01-01 01:10:00")),  # exactly +600s → in
            (13, 11, T("2024-01-01 01:00:00")),  # other key, same instant → in
            (14, 10, T("2024-01-01 01:10:01")),  # 1s late → out
        ],
        "event_id long, user_id long, ts timestamp",
    )
    cdir, vdir = str(tmp_path / "c"), str(tmp_path / "v")
    clicks.coalesce(1).write.parquet(cdir)
    views.coalesce(1).write.parquet(vdir)
    schema = "event_id long, user_id long, ts timestamp"
    out = str(tmp_path / "out")
    (
        stream_stream_interval_join(
            spark.readStream.schema(schema).parquet(cdir),
            spark.readStream.schema(schema).parquet(vdir),
            by=["user_id"], lower_seconds=-600, upper_seconds=600,
            watermark="3650 days",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True)
        .start().awaitTermination()
    )
    got = sorted(
        (r.event_id, r.r_event_id) for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, 10), (1, 12), (2, 13)]
