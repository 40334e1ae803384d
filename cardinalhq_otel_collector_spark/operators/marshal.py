"""Exporter marshalers (awss3exporter analogues), as pure column builders.

  sumo_ic_lines     exporter/awss3exporter/sumo_marshaler.go:70-166 — one
                    JSON line per record: required _source* resource attrs
                    (missing → error), ``fields`` = the REMAINING resource
                    attrs as a JSON object, ``message`` = log attributes +
                    body under the "log" key, typed attr→string rules.
  otlp_json_logs    marshaler.go:42-71 (plog.JSONMarshaler) — OTLP/JSON
                    byte shape, one resourceLogs envelope per row, plus the
                    inverse (parse) for round-trip tests.
  body_lines        body_marshaler.go:26-45 — newline-joined raw bodies.

Everything is ``to_json``/``concat`` over structs — JVM-side, zero Python.
Go's ``json.Encoder`` sorts map keys, so ``fields``/``message`` structs are
built with keys pre-sorted at plan time (static schema → static order).
``strconv.Quote`` is mirrored for the printable-ASCII subset (backslash,
quote, and \\n/\\t/\\r escapes); exotic control characters are out of scope
and documented as such.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "attr_value_to_string",
    "json_quote",
    "sumo_ic_lines",
    "sumo_ic_violations",
    "otlp_json_logs",
    "parse_otlp_json_logs",
    "otlp_proto_logs",
    "parse_otlp_proto_logs",
    "body_lines",
]


def attr_value_to_string(col: Column, dtype: str) -> Column:
    """attributeValueToString (sumo_marshaler.go:40-60): bool →
    "true"/"false", int → decimal digits, double → Go FormatFloat('f',-1)
    (shortest fixed notation — integral doubles drop the trailing '.0'),
    string passthrough, array/map → their JSON encoding, NULL → ''."""
    if dtype in ("string",):
        return F.coalesce(col, F.lit(""))
    if dtype in ("boolean",):
        # NULL must map to '' (the documented contract), not fall into the
        # otherwise("false") branch — when(NULL) is not-true, so the bare
        # when/otherwise would render NULL as "false".
        return F.when(col.isNull(), "").when(col, "true").otherwise("false")
    if dtype in ("int", "long", "integer", "bigint"):
        return F.coalesce(col.cast("string"), F.lit(""))
    if dtype in ("double", "float"):
        # Go FormatFloat('f',-1): shortest FIXED notation — integral
        # doubles drop the '.0' AND never use scientific notation (Spark
        # renders 1.0E7 for 10000000.0). Route integral doubles within
        # long range through a long cast; strip '.0' on the rest.
        # Limitation: non-integral doubles outside ~[1e-3, 1e7] still
        # render in Spark's E-notation (shortest-round-trip fixed
        # formatting has no built-in expression).
        # try_cast, not cast: under Spark 4's default ANSI mode a plain
        # cast('long') THROWS for NaN/Infinity/|x|>2^63 — and when() does
        # not short-circuit the cast, so one extreme value would abort the
        # whole marshal job. try_cast yields NULL for those, which also
        # subsumes the long-range guard.
        as_long = col.try_cast("long")
        integral = (
            col.isNotNull()
            & as_long.isNotNull()
            & (col == as_long.cast("double"))
        )
        s = F.when(integral, as_long.cast("string")).otherwise(
            F.regexp_replace(col.cast("string"), r"\.0$", "")
        )
        return F.coalesce(s, F.lit(""))
    # arrays / maps / structs: their JSON encoding (valueToJSON)
    return F.coalesce(F.to_json(col), F.lit(""))


def json_quote(col: Column) -> Column:
    """strconv.Quote for the printable subset: escape backslash, quote, and
    the common control chars, then wrap in double quotes
    (sumo_marshaler.go:106-108 quotes the three _source* values)."""
    # literal replacements, not regexp_replace: same outputs, but a plain
    # codegen'd char scan per pattern instead of 5 regex-engine passes per
    # row (guide §1.2 per-task work; measured on the sumo marshal bench)
    escaped = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    escaped = F.replace(escaped, F.lit('"'), F.lit('\\"'))
    escaped = F.replace(escaped, F.lit("\n"), F.lit("\\n"))
    escaped = F.replace(escaped, F.lit("\t"), F.lit("\\t"))
    escaped = F.replace(escaped, F.lit("\r"), F.lit("\\r"))
    return F.concat(F.lit('"'), escaped, F.lit('"'))


def _sorted_struct(cols: dict[str, Column]) -> Column:
    """Struct with keys in sorted order — Go's json.Encoder sorts map keys
    (the goldens in sumo_marshaler_test.go:96-99 show sorted output)."""
    return F.struct(*[cols[k].alias(k) for k in sorted(cols)])


def sumo_ic_lines(
    df: DataFrame,
    source_name: Column,
    source_host: Column,
    source_category: Column,
    body: Column,
    ts: Column,
    fields: dict[str, Column] | None = None,
    message_attrs: dict[str, Column] | None = None,
    out_col: str = "line",
) -> DataFrame:
    """One sumo_ic JSON line per row (sumo_marshaler.go:76-146):

      {"date": "<ts> +0000 UTC","sourceName":<q>,"sourceHost":<q>,
       "sourceCategory":<q>,"fields":{<other resource attrs>},
       "message":{<log attrs>,"log":<body>}}

    ``fields`` are the resource attributes other than the three _source*
    keys; ``message`` is the log-record attributes plus the body under
    "log" (logBodyKey, sumo_marshaler.go:21). The date string matches Go's
    pcommon.Timestamp String() rendering under UTC, including fractional
    seconds when nonzero (time.Time's ".999999999" trims trailing zeros;
    Spark timestamps carry micros, so up to 6 digits appear).
    """
    # cast: unix_micros rejects TIMESTAMP_NTZ; the sub-second digits are
    # timezone-invariant so the cast is safe for both timestamp types
    micros = F.pmod(F.unix_micros(ts.cast("timestamp")), F.lit(1_000_000))
    # trailing-zero trim via rtrim (codegen'd char scan), not a per-row
    # regexp compile/match — measured +43% on the marshal bench when this
    # was regexp_replace("0+$"). micros > 0 guarantees a nonzero digit
    # survives the trim.
    frac = F.when(
        micros > 0,
        F.concat(F.lit("."), F.rtrim(F.format_string("%06d", micros), F.lit("0"))),
    ).otherwise(F.lit(""))
    date = F.concat(F.date_format(ts, "yyyy-MM-dd HH:mm:ss"), frac, F.lit(" +0000 UTC"))
    fields_json = (
        F.to_json(_sorted_struct(fields)) if fields else F.lit("{}")
    )
    msg_cols = dict(message_attrs or {})
    msg_cols["log"] = body  # logBodyKey — sorted in with the attrs
    message_json = F.to_json(_sorted_struct(msg_cols))
    line = F.concat(
        F.lit('{"date": "'), date, F.lit('","sourceName":'), json_quote(source_name),
        F.lit(',"sourceHost":'), json_quote(source_host),
        F.lit(',"sourceCategory":'), json_quote(source_category),
        F.lit(',"fields":'), fields_json,
        F.lit(',"message":'), message_json,
        F.lit("}"),
    )
    return df.withColumn(out_col, line)


def sumo_ic_violations(
    df: DataFrame,
    source_name: Column,
    source_host: Column,
    source_category: Column,
) -> DataFrame:
    """The relational analogue of the marshaler's required-attribute error
    (sumo_marshaler.go:84-97 returns an error for the whole batch when any
    _source* resource attribute is missing): rows whose required attrs are
    NULL, with the reason. Callers assert emptiness before marshaling (or
    route violations to a dead-letter sink)."""
    reason = (
        F.when(source_category.isNull(), "_sourceCategory attribute does not exist")
        .when(source_host.isNull(), "_sourceHost attribute does not exist")
        .when(source_name.isNull(), "_sourceName attribute does not exist")
    )
    return df.withColumn("violation", reason).filter(F.col("violation").isNotNull())


def otlp_json_logs(
    df: DataFrame,
    body: Column,
    ts: Column,
    resource_attrs: dict[str, Column] | None = None,
    attrs: dict[str, Column] | None = None,
    out_col: str = "otlp_json",
) -> DataFrame:
    """OTLP/JSON byte shape (plog.JSONMarshaler via marshaler.go:53-58):
    one resourceLogs envelope per row — attributes as [{key, value:
    {stringValue}}] lists, timeUnixNano as a decimal STRING (the OTLP JSON
    mapping renders 64-bit ints as strings). A ``ts`` outside
    1677-09-21..2262-04-11 has no int64 nanosecond value: the job fails
    with ``ARITHMETIC_OVERFLOW`` rather than write a wrapped number."""

    def kvlist(d: dict[str, Column]) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(k).alias("key"),
                    F.struct(v.cast("string").alias("stringValue")).alias("value"),
                )
                for k, v in sorted(d.items())
            ]
        )

    record = F.struct(
        (F.unix_micros(ts.cast("timestamp")) * 1000).cast("string").alias("timeUnixNano"),
        F.struct(body.cast("string").alias("stringValue")).alias("body"),
        kvlist(attrs or {}).alias("attributes"),
    )
    envelope = F.struct(
        F.array(
            F.struct(
                F.struct(kvlist(resource_attrs or {}).alias("attributes")).alias("resource"),
                F.array(
                    F.struct(F.array(record).alias("logRecords"))
                ).alias("scopeLogs"),
            )
        ).alias("resourceLogs")
    )
    return df.withColumn(out_col, F.to_json(envelope))


def _otlp_schema() -> T.StructType:
    kv = T.ArrayType(
        T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField(
                    "value",
                    T.StructType([T.StructField("stringValue", T.StringType())]),
                ),
            ]
        )
    )
    record = T.StructType(
        [
            T.StructField("timeUnixNano", T.StringType()),
            T.StructField(
                "body", T.StructType([T.StructField("stringValue", T.StringType())])
            ),
            T.StructField("attributes", kv),
        ]
    )
    return T.StructType(
        [
            T.StructField(
                "resourceLogs",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField(
                                "resource",
                                T.StructType([T.StructField("attributes", kv)]),
                            ),
                            T.StructField(
                                "scopeLogs",
                                T.ArrayType(
                                    T.StructType(
                                        [T.StructField("logRecords", T.ArrayType(record))]
                                    )
                                ),
                            ),
                        ]
                    )
                ),
            )
        ]
    )


def parse_otlp_json_logs(df: DataFrame, json_col: str = "otlp_json") -> DataFrame:
    """Inverse of otlp_json_logs for round-trip tests: one row per log
    record with (ts, body, attributes map)."""
    parsed = df.withColumn("_o", F.from_json(F.col(json_col), _otlp_schema()))
    rec = F.explode(
        F.flatten(
            F.col("_o.resourceLogs")[0]["scopeLogs"].getField("logRecords")
        )
    ).alias("rec")
    exploded = parsed.select("*", rec).drop("_o")
    return (
        exploded.withColumn(
            "parsed_ts",
            # ns → µs in DECIMAL: double division would lose precision past
            # 2^53 (epoch nanos are ~1.7e18)
            F.timestamp_micros(
                (F.col("rec.timeUnixNano").cast("decimal(38,0)") / 1000).cast("long")
            ),
        )
        .withColumn("parsed_body", F.col("rec.body.stringValue"))
        .withColumn(
            "parsed_attrs",
            F.map_from_arrays(
                F.col("rec.attributes.key"),
                F.col("rec.attributes.value.stringValue"),
            ),
        )
        .drop("rec")
    )


# ---------------------------------------------------------------------------
# otlp_proto — byte-level protobuf wire format (marshaler.go:42-71 selects
# json OR proto; s3_marshaler.go:22-32). The message subset mirrors
# otlp_json_logs: LogsData > ResourceLogs{Resource{attributes}} >
# ScopeLogs > LogRecord{time_unix_nano(fixed64), body(AnyValue.string),
# attributes(KeyValue{key, AnyValue.string})}. Field numbers/wire types
# follow the public OTLP proto definitions (opentelemetry-proto
# logs/v1/logs.proto, common/v1/common.proto):
#   LogsData.resource_logs=1  ResourceLogs.resource=1 .scope_logs=2
#   Resource.attributes=1     ScopeLogs.log_records=2
#   LogRecord.time_unix_nano=1 (fixed64) .body=5 .attributes=6
#   AnyValue.string_value=1   KeyValue.key=1 .value=2
# Encoding runs inside an Arrow-batched pandas UDF: a wire-format encoder
# is per-record byte assembly by nature — the same codec-boundary rule as
# operators/multimodal.py, NOT hot-path row Python. Keys are closed over
# at plan time (static schema), sorted for determinism like the json
# marshaler's sorted structs.
# ---------------------------------------------------------------------------


def _pb_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_ld(field_no: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return _pb_varint((field_no << 3) | 2) + _pb_varint(len(payload)) + payload


def _pb_str_any(s: str) -> bytes:
    """AnyValue{string_value=1}."""
    return _pb_ld(1, s.encode("utf-8"))


def _pb_kv(key: str, value: str) -> bytes:
    """KeyValue{key=1, value=2:AnyValue.string}."""
    return _pb_ld(1, key.encode("utf-8")) + _pb_ld(2, _pb_str_any(value))


def _encode_logsdata(ts_nanos, body, res_items, attr_items) -> bytes:
    rec = bytearray()
    # time_unix_nano = 1, fixed64 (wire type 1), little-endian. 0 (a NULL
    # ts arrives as 0) omits the field — proto3 zero-value absence, the
    # same bytes the generated gogoproto marshalers emit and the NULL
    # tolerance the json branch already has. Pre-epoch timestamps wrap
    # two's-complement like Go's uint64 conversion (pdata stores
    # time_unix_nano as uint64).
    if ts_nanos:
        rec += _pb_varint((1 << 3) | 1) + (
            int(ts_nanos) & 0xFFFFFFFFFFFFFFFF
        ).to_bytes(8, "little")
    if body is not None:
        rec += _pb_ld(5, _pb_str_any(body))
    for k, v in attr_items:
        if v is not None:
            rec += _pb_ld(6, _pb_kv(k, v))
    scope_logs = _pb_ld(2, bytes(rec))  # ScopeLogs.log_records=2
    resource = b"".join(
        _pb_ld(1, _pb_kv(k, v)) for k, v in res_items if v is not None
    )  # Resource.attributes=1
    rl = _pb_ld(1, resource) + _pb_ld(2, scope_logs)  # resource=1, scope_logs=2
    return _pb_ld(1, rl)  # LogsData.resource_logs=1


def otlp_proto_logs(
    df: DataFrame,
    body: Column,
    ts: Column,
    resource_attrs: dict[str, Column] | None = None,
    attrs: dict[str, Column] | None = None,
    out_col: str = "otlp_proto",
) -> DataFrame:
    """Byte-level OTLP protobuf marshal of one log record per row — the
    proto branch of marshaler.go:42-71, previously the only reference
    marshaler without a byte port here. Attr values are stringified
    (AnyValue.string_value), keys sorted at plan time; NULL body/values
    are omitted (proto3 field absence), and so is a NULL ``ts``.

    A ``ts`` outside 1677-09-21..2262-04-11 has no int64 nanosecond
    value (Go leaves ``UnixNano`` undefined there): the job fails with
    ``ARITHMETIC_OVERFLOW`` rather than write wrapped bytes."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    res_keys = sorted((resource_attrs or {}).keys())
    attr_keys = sorted((attrs or {}).keys())

    @pandas_udf("binary")  # no type hints: SCALAR eval (pd is local here)
    def enc(ts_nanos, body_s, res_vals, attr_vals):
        out = []
        for i in range(len(ts_nanos)):
            b = body_s.iloc[i]
            out.append(
                _encode_logsdata(
                    int(ts_nanos.iloc[i]),
                    None if b is None else str(b),
                    zip(res_keys, res_vals.iloc[i]),
                    zip(attr_keys, attr_vals.iloc[i]),
                )
            )
        return pd.Series(out)

    def arr(d: dict[str, Column] | None, keys: list[str]) -> Column:
        # values packed positionally (keys are plan-time constants, sorted);
        # an empty dict still needs a typed empty array
        if not keys:
            return F.array().cast("array<string>")
        return F.array(*[(d or {})[k].cast("string") for k in keys])

    # NULL → 0 in the JVM: arrow→pandas turns a null-bearing int64 column
    # into float64, which would round every >2^53 ns value in the batch
    ts_nanos = F.coalesce(F.unix_micros(ts.cast("timestamp")) * 1000, F.lit(0))
    return df.withColumn(
        out_col,
        enc(
            ts_nanos,
            body.cast("string"),
            arr(resource_attrs, res_keys),
            arr(attrs, attr_keys),
        ),
    )


def parse_otlp_proto_logs(raw: bytes) -> dict:
    """Minimal wire-format decoder for round-trip TESTS (driver-side, not
    a Spark operator): returns {ts_nanos, body, attrs, resource_attrs}."""

    def read_varint(buf: bytes, i: int) -> tuple[int, int]:
        shift = n = 0
        while True:
            b = buf[i]
            i += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n, i
            shift += 7

    def fields(buf: bytes):
        i = 0
        while i < len(buf):
            key, i = read_varint(buf, i)
            fno, wt = key >> 3, key & 7
            if wt == 2:
                ln, i = read_varint(buf, i)
                yield fno, buf[i : i + ln]
                i += ln
            elif wt == 1:
                yield fno, buf[i : i + 8]
                i += 8
            elif wt == 0:
                v, i = read_varint(buf, i)
                yield fno, v
            else:  # pragma: no cover — subset never emits groups/fixed32
                raise ValueError(f"unexpected wire type {wt}")

    def any_str(buf: bytes) -> str:
        return dict(fields(buf))[1].decode("utf-8")

    def kv(buf: bytes) -> tuple[str, str]:
        d = dict(fields(buf))
        return d[1].decode("utf-8"), any_str(d[2])

    # ts_nanos defaults to 0: the encoder omits a NULL/zero time_unix_nano
    # (proto3 zero-value absence), and proto3 decoding restores the zero.
    out = {"attrs": {}, "resource_attrs": {}, "body": None, "ts_nanos": 0}
    (_, rl), = fields(raw)
    for fno, payload in fields(rl):
        if fno == 1:  # Resource
            for rfno, rkv in fields(payload):
                if rfno == 1:
                    k, v = kv(rkv)
                    out["resource_attrs"][k] = v
        elif fno == 2:  # ScopeLogs
            for sfno, rec in fields(payload):
                if sfno == 2:  # LogRecord
                    for lfno, lval in fields(rec):
                        if lfno == 1:
                            out["ts_nanos"] = int.from_bytes(lval, "little")
                        elif lfno == 5:
                            out["body"] = any_str(lval)
                        elif lfno == 6:
                            k, v = kv(lval)
                            out["attrs"][k] = v
    return out


def body_lines(df: DataFrame, body_col: str = "text") -> DataFrame:
    """body marshaler (body_marshaler.go:26-45): the raw body per record,
    written as newline-delimited text by the text sink. AsString() renders
    NULL bodies as '' — mirrored here."""
    return df.select(F.coalesce(F.col(body_col).cast("string"), F.lit("")).alias("value"))
