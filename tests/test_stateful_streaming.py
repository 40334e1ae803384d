"""Streaming interval aggregation (A6 emit scheduling): over a
watermarked stream, ``interval_aggregate`` in append mode emits each
bucket exactly once, when the watermark passes its end."""

from __future__ import annotations

from datetime import datetime, timezone

from cardinalhq_otel_collector_spark.operators.aggregate import interval_aggregate

BASE = 1767225600  # 2026-01-01T00:00:00Z


def _ts(sec):
    return datetime.fromtimestamp(BASE + sec, tz=timezone.utc).replace(tzinfo=None)


def _run_once(spark, src, out, chk):
    stream = (
        spark.readStream.schema("k string, value double, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = interval_aggregate(
        stream.withWatermark("ts", "5 minutes"),
        keys=["k"], interval="1 hour", value_col="value",
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stateful_counts_emit_once_per_bucket(spark, tmp_path):
    src, out, chk = (str(tmp_path / d) for d in ("src", "out", "chk"))

    def write(rows):
        spark.createDataFrame(rows, "k string, value double, ts timestamp")\
            .coalesce(1).write.mode("append").parquet(src)

    # batch 1: two keys in hour-bucket 0 (watermark still at epoch); the
    # NULL value counts as a row in n but adds nothing to total
    write([
        ("a", 1.0, _ts(10)), ("a", 2.0, _ts(20)), ("a", None, _ts(25)),
        ("b", 5.0, _ts(30)),
    ])
    _run_once(spark, src, out, chk)
    assert spark.read.parquet(out).count() == 0  # nothing closed yet

    # batch 2: future events advance event time; the watermark that CLOSES
    # bucket 0 only takes effect at the NEXT trigger (Spark updates the
    # watermark between micro-batches)
    write([("a", 9.0, _ts(3 * 3600)), ("b", 9.0, _ts(3 * 3600 + 5))])
    _run_once(spark, src, out, chk)

    # batch 3: one more arrival per key -> watermark (≈ 02:55) has passed
    # bucket 0's end, so it emits EXACTLY ONCE with the batch-1 contents
    write([("a", 1.0, _ts(3 * 3600 + 600)), ("b", 1.0, _ts(3 * 3600 + 601))])
    _run_once(spark, src, out, chk)

    rows = spark.read.parquet(out).collect()
    got = {(r["k"], r["bucket_start"].strftime("%H")): (r["n"], r["total"]) for r in rows}
    assert got[("a", "00")] == (3, 3.0)
    assert got[("b", "00")] == (1, 5.0)
    # the future buckets stay open (watermark has not passed hour 03)
    assert not any(h == "03" for _, h in got)
    # exactly once: one output row per (key, bucket)
    assert len(rows) == len(got) == 2
