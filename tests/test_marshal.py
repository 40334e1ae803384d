"""Marshaler goldens ported from the reference
(exporter/awss3exporter/sumo_marshaler_test.go, body_marshaler.go)."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from cardinalhq_otel_collector_spark.operators.marshal import (
    attr_value_to_string,
    body_lines,
    json_quote,
    otlp_json_logs,
    parse_otlp_json_logs,
    sumo_ic_lines,
    sumo_ic_violations,
)


def test_sumo_golden_structure(spark):
    """TestMarshalerOkStructure (sumo_marshaler_test.go:70-99) adapted to
    promoted columns: epoch-zero date rendering, quoted _source* values,
    sorted-key fields object, message = attrs + body under 'log'."""
    df = spark.createDataFrame(
        [("entry1",)], "body string"
    ).withColumn("ts", F.timestamp_seconds(F.lit(0)))
    out = sumo_ic_lines(
        df,
        source_name=F.lit("testSourceName"),
        source_host=F.lit("testHost"),
        source_category=F.lit("testcategory"),
        body=F.col("body"),
        ts=F.col("ts"),
        fields={"42": F.lit("the question")},
        message_attrs={"key": F.lit("value")},
    )
    line = out.collect()[0]["line"]
    expected = (
        '{"date": "1970-01-01 00:00:00 +0000 UTC",'
        '"sourceName":"testSourceName","sourceHost":"testHost",'
        '"sourceCategory":"testcategory",'
        '"fields":{"42":"the question"},'
        '"message":{"key":"value","log":"entry1"}}'
    )
    assert line == expected
    json.loads(line)  # well-formed


def test_sumo_golden_quotes(spark):
    """TestMarshalerQuotes (sumo_marshaler_test.go:102-124): embedded
    quotes in _sourceCategory escape like strconv.Quote."""
    df = spark.createDataFrame([("entry1",)], "body string").withColumn(
        "ts", F.timestamp_seconds(F.lit(0))
    )
    out = sumo_ic_lines(
        df,
        source_name=F.lit("testSourceName"),
        source_host=F.lit("testHost"),
        source_category=F.lit('"foo"bar"'),
        body=F.col("body"),
        ts=F.col("ts"),
    )
    line = out.collect()[0]["line"]
    expected = (
        '{"date": "1970-01-01 00:00:00 +0000 UTC",'
        '"sourceName":"testSourceName","sourceHost":"testHost",'
        '"sourceCategory":"\\"foo\\"bar\\"",'
        '"fields":{},'
        '"message":{"log":"entry1"}}'
    )
    assert line == expected
    json.loads(line)


def test_sumo_missing_required_attr_is_violation(spark):
    """sumo_marshaler.go:84-97: missing _source* attr errors the batch —
    here, surfaces as a violation row with the reference's message."""
    df = spark.createDataFrame(
        [("e1", "cat-ok"), ("e2", None)], "body string, cat string"
    )
    v = sumo_ic_violations(
        df,
        source_name=F.lit("n"),
        source_host=F.lit("h"),
        source_category=F.col("cat"),
    ).collect()
    assert len(v) == 1
    assert v[0]["violation"] == "_sourceCategory attribute does not exist"


def test_attr_value_to_string_typed_rules(spark):
    """attributeValueToString (sumo_marshaler.go:40-60): bool/int/double
    rendering rules."""
    df = spark.createDataFrame(
        [(True, 42, 4.0, 2.5, "s")],
        "b boolean, i int, d1 double, d2 double, s string",
    )
    row = df.select(
        attr_value_to_string(F.col("b"), "boolean").alias("b"),
        attr_value_to_string(F.col("i"), "int").alias("i"),
        attr_value_to_string(F.col("d1"), "double").alias("d1"),
        attr_value_to_string(F.col("d2"), "double").alias("d2"),
        attr_value_to_string(F.col("s"), "string").alias("s"),
    ).collect()[0]
    assert row["b"] == "true"
    assert row["i"] == "42"
    assert row["d1"] == "4"      # FormatFloat('f',-1): integral drops .0
    assert row["d2"] == "2.5"
    assert row["s"] == "s"


def test_json_quote_escapes(spark):
    df = spark.createDataFrame([('a"b\\c\nd',)], "s string")
    q = df.select(json_quote(F.col("s")).alias("q")).collect()[0]["q"]
    assert json.loads(q) == 'a"b\\c\nd'


def test_otlp_roundtrip_identity(spark):
    """marshaler.go:53-58 byte shape: marshal -> parse is the identity."""
    df = spark.createDataFrame(
        [(1, "body one", "click"), (2, 'with "quotes"', "view")],
        "id long, body string, et string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1767225600) + F.col("id")))
    m = otlp_json_logs(df, body=F.col("body"), ts=F.col("ts"),
                       attrs={"event_type": F.col("et")})
    # the marshaled column is valid OTLP-shaped JSON
    j = json.loads(m.collect()[0]["otlp_json"])
    assert "resourceLogs" in j
    rec = j["resourceLogs"][0]["scopeLogs"][0]["logRecords"][0]
    assert rec["body"]["stringValue"] == "body one"
    assert rec["attributes"][0]["key"] == "event_type"
    p = parse_otlp_json_logs(m)
    rows = {r["id"]: r for r in p.collect()}
    assert rows[1]["parsed_body"] == "body one"
    assert rows[2]["parsed_body"] == 'with "quotes"'
    assert rows[1]["parsed_ts"] == rows[1]["ts"]
    assert rows[2]["parsed_attrs"]["event_type"] == "view"


def test_body_lines_null_to_empty(spark):
    """body_marshaler.go:26-45: AsString of an empty body is ''."""
    df = spark.createDataFrame([("a",), (None,), ("c",)], "text string")
    vals = [r["value"] for r in body_lines(df).collect()]
    assert sorted(vals) == ["", "a", "c"]


def test_attr_value_to_string_null_and_notation_edges(spark):
    """NULL bool renders '' (not 'false' — when(NULL) falls to otherwise);
    large integral doubles render fixed notation, not Spark's 1.0E7."""
    df = spark.createDataFrame(
        [(None, 1.0e7, -3.0e9, None)],
        "b boolean, big double, neg double, dn double",
    )
    row = df.select(
        attr_value_to_string(F.col("b"), "boolean").alias("b"),
        attr_value_to_string(F.col("big"), "double").alias("big"),
        attr_value_to_string(F.col("neg"), "double").alias("neg"),
        attr_value_to_string(F.col("dn"), "double").alias("dn"),
    ).collect()[0]
    assert row["b"] == ""
    assert row["big"] == "10000000"   # Go FormatFloat('f', -1)
    assert row["neg"] == "-3000000000"
    assert row["dn"] == ""


def test_sumo_date_fractional_seconds(spark):
    """pcommon.Timestamp String(): fractional seconds appear when nonzero,
    trailing zeros trimmed (Go time layout '.999999999')."""
    import datetime

    from cardinalhq_otel_collector_spark.operators.marshal import sumo_ic_lines

    df = spark.createDataFrame(
        [
            (datetime.datetime(2026, 1, 1, 0, 0, 5, 250000), "a"),
            (datetime.datetime(2026, 1, 1, 0, 0, 5, 0), "b"),
            (datetime.datetime(2026, 1, 1, 0, 0, 5, 123456), "c"),
        ],
        "ts timestamp, body string",
    )
    out = sumo_ic_lines(
        df,
        source_name=F.lit("n"),
        source_host=F.lit("h"),
        source_category=F.lit("c"),
        body=F.col("body"),
        ts=F.col("ts"),
    ).orderBy("body")
    dates = [r["line"].split('","sourceName"')[0] for r in out.collect()]
    assert dates[0] == '{"date": "2026-01-01 00:00:05.25 +0000 UTC'
    assert dates[1] == '{"date": "2026-01-01 00:00:05 +0000 UTC'
    assert dates[2] == '{"date": "2026-01-01 00:00:05.123456 +0000 UTC'


def test_attr_value_to_string_extreme_doubles(spark):
    """ANSI-mode safety: Infinity / NaN / doubles outside long range must
    not abort the job (Spark 4 default ANSI cast('long') throws
    CAST_OVERFLOW; the integrality probe uses try_cast). Rendering falls
    back to Spark's string form for these — the documented E-notation
    limitation — but the job completes."""
    df = spark.createDataFrame(
        [(float("inf"), float("-inf"), float("nan"), 1e19, 9.2e18)],
        "pinf double, ninf double, nan double, big double, edge double",
    )
    row = df.select(
        *[
            attr_value_to_string(F.col(c), "double").alias(c)
            for c in ("pinf", "ninf", "nan", "big", "edge")
        ]
    ).collect()[0]
    assert row["pinf"] == "Infinity"
    assert row["ninf"] == "-Infinity"
    assert row["nan"] == "NaN"
    # outside long range: integral probe is NULL -> string fallback branch
    assert row["big"] in ("1.0E19", "10000000000000000000")
    # 9.2e18 < 2^63-1: in range, integral -> fixed digits
    assert row["edge"] == "9200000000000000000"


def test_otlp_proto_golden_bytes(spark):
    """Byte-level golden for the proto marshaler (marshaler.go:42-71 proto
    branch): expected bytes hand-assembled from the protobuf wire-format
    spec + the public OTLP field numbers — every tag and length written
    out explicitly, independent of the encoder under test."""
    import datetime

    from cardinalhq_otel_collector_spark.operators.marshal import otlp_proto_logs

    ts = datetime.datetime(2026, 1, 1, 0, 0, 1)
    df = spark.createDataFrame([("hi", ts)], "body string, ts timestamp")
    out = otlp_proto_logs(
        df,
        body=F.col("body"),
        ts=F.col("ts"),
        resource_attrs={"r": F.lit("x")},
        attrs={"k": F.lit("v")},
    ).collect()[0]["otlp_proto"]

    ts8 = (1767225601 * 10**9).to_bytes(8, "little")  # fixed64 LE per spec
    kv_k = bytes.fromhex("0a016b") + bytes.fromhex("1203") + bytes.fromhex("0a0176")
    #       ^KeyValue.key="k"        ^value=AnyValue       ^string_value="v"
    rec = (
        b"\x09" + ts8                      # LogRecord.time_unix_nano=1, wt=1
        + bytes.fromhex("2a040a026869")    # body=5: AnyValue.string "hi"
        + bytes.fromhex("3208") + kv_k     # attributes=6
    )
    sl = bytes.fromhex("1219") + rec       # ScopeLogs.log_records=2, len 25
    kv_r = bytes.fromhex("0a0172") + bytes.fromhex("1203") + bytes.fromhex("0a0178")
    res = bytes.fromhex("0a08") + kv_r     # Resource.attributes=1
    rl = bytes.fromhex("0a0a") + res + bytes.fromhex("121b") + sl
    expected = bytes.fromhex("0a29") + rl  # LogsData.resource_logs=1
    assert bytes(out) == expected


def test_otlp_proto_roundtrip_and_null_omission(spark):
    """Round-trip through the independent mini-decoder; NULL body and NULL
    attr values are OMITTED fields (proto3 absence), not empty strings."""
    import datetime

    from cardinalhq_otel_collector_spark.operators.marshal import (
        otlp_proto_logs,
        parse_otlp_proto_logs,
    )

    rows = [
        (1, "body one", "click", datetime.datetime(2026, 1, 2, 3, 4, 5, 123456)),
        (2, None, None, datetime.datetime(2026, 1, 2, 3, 4, 6)),
        (3, 'quotes " and \\ bytes é', "vu", datetime.datetime(2026, 1, 2, 3, 4, 7)),
    ]
    df = spark.createDataFrame(rows, "id int, body string, et string, ts timestamp")
    out = {
        r["id"]: parse_otlp_proto_logs(bytes(r["otlp_proto"]))
        for r in otlp_proto_logs(
            df,
            body=F.col("body"),
            ts=F.col("ts"),
            resource_attrs={"service": F.lit("svc")},
            attrs={"event_type": F.col("et")},
        ).collect()
    }
    assert out[1]["body"] == "body one"
    assert out[1]["attrs"] == {"event_type": "click"}
    assert out[1]["resource_attrs"] == {"service": "svc"}
    assert out[1]["ts_nanos"] == 1767323045123456000
    assert out[2]["body"] is None and out[2]["attrs"] == {}
    assert out[3]["body"] == 'quotes " and \\ bytes é'  # multi-byte utf-8 lengths


def test_otlp_proto_null_and_extreme_timestamps(spark):
    """ADVICE round-4: a NULL ts in the batch must not abort the job
    (arrow→pandas coerces null-bearing int64 to float64: int(NaN) raised,
    and >2^53 ns values in the SAME batch silently lost ns precision) and
    a pre-epoch ts must not raise OverflowError. Contract: NULL/zero
    time_unix_nano is an OMITTED field (proto3 zero absence → decodes as
    0), negative nanos wrap like Go's uint64 conversion, and full int64
    ns precision survives alongside a null in one batch (coalesce(1) puts
    the three rows in one Arrow batch)."""
    import datetime

    from cardinalhq_otel_collector_spark.operators.marshal import (
        otlp_proto_logs,
        parse_otlp_proto_logs,
    )

    rows = [
        (1, "a", None),  # NULL ts
        (2, "b", datetime.datetime(2026, 1, 2, 3, 4, 5, 123457)),  # needs >2^53 ns
        (3, "c", datetime.datetime(1969, 12, 31, 23, 59, 59)),  # pre-epoch
    ]
    df = spark.createDataFrame(rows, "id int, body string, ts timestamp").coalesce(1)
    out = {
        r["id"]: parse_otlp_proto_logs(bytes(r["otlp_proto"]))
        for r in otlp_proto_logs(df, body=F.col("body"), ts=F.col("ts")).collect()
    }
    assert out[1]["ts_nanos"] == 0 and out[1]["body"] == "a"
    # exact ns fidelity in the same batch as the null (float64 would be off)
    assert out[2]["ts_nanos"] == 1767323045123457000
    # -1_000_000_000 ns wraps to 2^64 - 1e9 (uint64 two's complement)
    assert out[3]["ts_nanos"] == (1 << 64) - 1_000_000_000


@pytest.mark.parametrize("marshal", ["otlp_proto_logs", "otlp_json_logs"])
@pytest.mark.parametrize(
    "ts",
    [datetime.datetime(1, 1, 1), datetime.datetime(2262, 4, 12)],
    ids=["year_1", "after_2262_04_11"],
)
def test_otlp_out_of_range_ts_raises(spark, marshal, ts):
    """A ts with no int64 epoch-nanosecond value (outside
    1677-09-21..2262-04-11; Go's UnixNano is undefined there) fails the
    job with ARITHMETIC_OVERFLOW instead of writing wrapped bytes."""
    from cardinalhq_otel_collector_spark.operators import marshal as M

    df = spark.createDataFrame([("a", ts)], "body string, ts timestamp")
    out = getattr(M, marshal)(df, body=F.col("body"), ts=F.col("ts"))
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        out.collect()
