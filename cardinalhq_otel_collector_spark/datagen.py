"""Deterministic synthetic data generators (FIXTURES.md F1-F4).

The primary input table (``BASELINE.json`` input_hint) is an Iceberg table
of multi-turn agent transcripts:

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Everything here is generated with **pure column expressions over
``spark.range``** — no driver-side loops, no Python UDFs — so the same
generator that makes 1k rows for goldens would make 10^12 rows on a
cluster (range is split across partitions; every derived column is a
deterministic function of (conv_id, turn_idx) via ``xxhash64``).

Text content mix (FIXTURES.md F1 contract):
  (a) grok-parsable lines   ``level=INFO code=200 latency_ms=42 ...``
  (b) PII-bearing strings   (emails, phone-like digits, uuids)
  (c) repeated token patterns differing only in numbers/ids
      (fingerprint/cluster goldens — Drain-style, manifest :244)
  (d) arbitrary free text passed through byte-identically

Skew: ``hot_convs`` conversations get ``hot_multiplier``× the turns —
the Zipf-ish hot-conversation mode used by the skew/scale tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_frame

__all__ = [
    "transcripts",
    "tool_lookup",
    "role_lookup",
    "routing_rules",
    "summaries_fixture",
]

# Fixed epoch base: 2026-01-01T00:00:00Z.
_BASE_EPOCH = 1767225600

_LEVELS = ["DEBUG", "INFO", "WARN", "ERROR"]
_SERVICES = ["ingest", "router", "enforcer", "decorator"]
_TOOLS = ["search", "browser", "python", "calculator", "unknown_tool"]
_WORDS = [
    "merge", "stream", "window", "batch", "join", "filter", "scan",
    "agg", "sort", "hash", "table", "query", "vector", "column",
]


def _arr(xs: list[str]) -> F.Column:
    return F.array(*[F.lit(x) for x in xs])


def _pick(xs: list[str], h: F.Column, salt: int) -> F.Column:
    """Deterministic element choice: xs[(h+salt) mod len]."""
    return F.element_at(_arr(xs), (F.pmod(h + F.lit(salt), F.lit(len(xs))) + 1).cast("int"))


def transcripts(
    spark: SparkSession,
    n_convs: int = 100,
    hot_convs: int = 0,
    hot_multiplier: int = 25,
    partitions: int | None = None,
) -> DataFrame:
    """The F1 transcripts table, deterministic in (n_convs, hot_convs)."""
    convs = spark.range(0, n_convs, 1, partitions or spark.sparkContext.defaultParallelism)
    convs = convs.select(
        F.format_string("conv-%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_seq"),
    )
    ch = F.xxhash64(F.col("conv_id"))
    base_turns = (F.pmod(ch, F.lit(9)) + F.lit(4)).cast("int")  # 4..12 turns
    n_turns = (
        F.when(F.col("conv_seq") < hot_convs, base_turns * hot_multiplier)
        .otherwise(base_turns)
    )
    turns = convs.select(
        "conv_id",
        "conv_seq",
        F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx"),
    ).withColumn("turn_idx", F.col("turn_idx").cast("int"))

    h = F.xxhash64(F.col("conv_id"), F.col("turn_idx"))
    hp = F.pmod(h, F.lit(1000000))  # non-negative working hash

    role = (
        F.when(F.col("turn_idx") == 0, F.lit("system"))
        .when(F.pmod(F.col("turn_idx"), F.lit(3)) == 1, F.lit("user"))
        .when(F.pmod(F.col("turn_idx"), F.lit(3)) == 2, F.lit("assistant"))
        .otherwise(F.lit("tool"))
    )
    tool = F.when(role == "tool", _pick(_TOOLS, hp, 7)).otherwise(F.lit(""))

    # --- text templates, selected by tmpl = hp mod 10 -------------------
    tmpl = F.pmod(hp, F.lit(10))
    num = F.pmod(hp, F.lit(9000)) + 1000           # 4-digit varying number
    code = (F.pmod(hp, F.lit(5)) + 2) * 100        # 200..600
    latency = F.pmod(hp, F.lit(950)) + 5
    md5h = F.md5(F.concat(F.col("conv_id"), F.lit(":"), F.col("turn_idx").cast("string")))
    uuid_like = F.concat_ws(
        "-",
        F.substring(md5h, 1, 8), F.substring(md5h, 9, 4), F.substring(md5h, 13, 4),
        F.substring(md5h, 17, 4), F.substring(md5h, 21, 12),
    )
    grok_line = F.format_string(
        'level=%s code=%d latency_ms=%d service=%s msg="request %s handled"',
        _pick(_LEVELS, hp, 3), code, latency, _pick(_SERVICES, hp, 5),
        F.substring(md5h, 1, 8),
    )
    email_line = F.format_string(
        "contact user%d@example.com about ticket %d", num, code
    )
    phone_uuid_line = F.format_string(
        "callback +1-555-%04d trace %s", num, uuid_like
    )
    # (c) repeated token pattern: constant skeleton, varying numbers → all
    # rows of this family share one masked template / fingerprint.
    pattern_line = F.format_string(
        "connection %d from host server-%d retry %d timeout %dms",
        num, F.pmod(hp, F.lit(40)), F.pmod(hp, F.lit(5)), latency,
    )
    # Free text drawn from a bounded family (32 distinct phrases): log/
    # transcript template cardinality is code-site-bounded in practice, and
    # the two-pass clustering design (operators/fingerprint.py) relies on
    # the distinct-template set staying small relative to row count.
    t32 = F.pmod(hp, F.lit(32))
    free_text = F.concat_ws(
        " ",
        _pick(_WORDS, t32, 11), _pick(_WORDS, t32 * 3, 13), _pick(_WORDS, t32 * 5, 17),
        _pick(_WORDS, t32 * 7, 19), _pick(_WORDS, t32 * 11, 23),
    )
    text = (
        F.when(tmpl <= 2, grok_line)
        .when(tmpl == 3, email_line)
        .when(tmpl == 4, phone_uuid_line)
        .when(tmpl <= 7, pattern_line)
        .otherwise(free_text)
    )

    # ts: conversations spread over ~6 hours; turns ~45s apart (≥3 hourly
    # buckets for window-agg goldens, F1 contract).
    conv_offset = F.pmod(F.xxhash64(F.col("conv_id"), F.lit("ts")), F.lit(360)) * 60
    ts = F.timestamp_seconds(
        F.lit(_BASE_EPOCH) + conv_offset + F.col("turn_idx") * 45 + F.pmod(hp, F.lit(30))
    )

    return turns.select(
        "conv_id",
        "turn_idx",
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def tool_lookup(spark: SparkSession) -> DataFrame:
    """F2 broadcast enrichment table. 'unknown_tool' deliberately absent
    (left-join-null behavior = the auth-denied analogue,
    chqauthextension/serverauth.go:181-222)."""
    rows = [
        ("search", "search", "team-retrieval", True),
        ("browser", "web", "team-agents", True),
        ("python", "compute", "team-runtime", True),
        ("calculator", "compute", "team-runtime", False),
    ]
    return local_frame(spark, rows, "tool string, tool_category string, tool_owner string, valid boolean")


def role_lookup(spark: SparkSession) -> DataFrame:
    """F3 role → kind lookup."""
    rows = [
        ("user", "human"),
        ("assistant", "model"),
        ("system", "system"),
        ("tool", "machine"),
    ]
    return local_frame(spark, rows, "role string, role_kind string")


def routing_rules() -> list[dict]:
    """F4 routing rule table (first match wins; 'default' fallthrough).

    Predicates are SQL boolean expressions over post-enrichment columns —
    the routingconnector condition-table analogue (manifest :282).
    """
    return [
        {"rule_id": 1, "predicate": "parsed_level = 'ERROR'", "sink": "errors"},
        {"rule_id": 2, "predicate": "role = 'tool' AND tool_category = 'search'", "sink": "search_tools"},
        {"rule_id": 3, "predicate": "has_pii", "sink": "pii_archive"},
    ]


def summaries_fixture(spark: SparkSession) -> DataFrame:
    """F5.8 summary-split golden input: Summary metrics with quantile arrays
    incl. q∈{0, .5, .999, 1} and one NaN (skipped per
    summarysplitprocessor/metrics.go:152-156)."""
    nan = float("nan")
    rows = [
        ("http.duration", 12, 34.5,
         [(0.0, 1.0), (0.5, 3.0), (0.999, 9.9), (1.0, 12.0)],
         1767225600000, 1767225000000),
        ("rpc.latency", 2**63 - 1, 7.0,          # count at clamp boundary
         [(0.5, 2.5), (nan, 99.0)],               # NaN quantile skipped
         1767225660000, 0),                       # start_ts 0 → falls back to ts
    ]
    schema = (
        "name string, count long, sum double, "
        "quantiles array<struct<q:double,v:double>>, "
        "ts_ms long, start_ts_ms long"
    )
    return local_frame(spark, rows, schema)


def _main() -> None:
    """CLI: python -m cardinalhq_otel_collector_spark.datagen \
           --n-convs 1000000 --hot-convs 1000 --out /path/transcripts"""
    import argparse

    from .session import build_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, required=True)
    ap.add_argument("--hot-convs", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()
    spark = build_spark(app_name="transcripts-datagen")
    transcripts(
        spark, n_convs=args.n_convs, hot_convs=args.hot_convs, partitions=args.partitions
    ).write.mode("overwrite").parquet(args.out)
    spark.stop()


if __name__ == "__main__":
    _main()
