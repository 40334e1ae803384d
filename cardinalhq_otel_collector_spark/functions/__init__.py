"""Scalar-function surface (SURVEY.md §2B scalar table).

Everything the reference's OTTL statements and marshalers compute, as
reusable Column builders over Spark builtins — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "strftime_partition_key",
    "object_key",
    "url_encode",
    "clamp_int64",
    "json_line",
    "md5_int",
    "deterministic_bucket",
    "z_order_key",
]

_I64_MAX = 2**63 - 1

# reference default: year=%Y/month=%m/day=%d/hour=%H/minute=%M
# (awss3exporter/factory.go:59)
_GRANULARITY_PARTS = [
    ("year", "yyyy"),
    ("month", "MM"),
    ("day", "dd"),
    ("hour", "HH"),
    ("minute", "mm"),
]


def strftime_partition_key(ts: Column, granularity: str = "minute") -> Column:
    """Hive-style time partition path from a timestamp, UTC
    (internal/upload/partition.go:59-134; we pin UTC where the reference
    defaults to local time, s3_writer.go:124-132 — determinism wins)."""
    depth = {"year": 1, "month": 2, "day": 3, "hour": 4, "minute": 5}[granularity]
    parts = [
        F.concat(F.lit(f"{name}="), F.date_format(ts, fmt))
        for name, fmt in _GRANULARITY_PARTS[:depth]
    ]
    return F.concat_ws("/", *parts)


def object_key(
    ts: Column,
    base_prefix: str,
    file_prefix: str,
    signal_type: str,
    unique: Column,
    fmt: str = "parquet",
    granularity: str = "minute",
) -> Column:
    """Full object key, mirroring partition.go:90-134:
    base/prefix/strftime(ts)/fileprefix + signaltype + '_' + unique + .fmt.
    ``unique`` should be a deterministic id (e.g. task/partition id), not
    the reference's random int — idempotent retries need stable names."""
    return F.concat_ws(
        "/",
        F.lit(base_prefix),
        strftime_partition_key(ts, granularity),
        F.concat(F.lit(file_prefix + signal_type + "_"), unique, F.lit("." + fmt)),
    )


def url_encode(col: Column) -> Column:
    """Percent-encoding (notify/payload.go:68 URL-encodes object keys)."""
    return F.url_encode(col)


def clamp_int64(col: Column) -> Column:
    """uint64→int64 clamp (summarysplitprocessor/metrics.go:118-123)."""
    return F.least(col, F.lit(_I64_MAX))


def json_line(**fields: Column) -> Column:
    """One JSON object per row from named columns (sumo_marshaler.go:70-144
    shape) — to_json(struct(...)) keeps it JVM-side."""
    return F.to_json(F.struct(*[c.alias(k) for k, c in fields.items()]))


def md5_int(col: Column, hex_digits: int) -> Column:
    """The first ``hex_digits`` hex digits of md5(col as string) as an
    unsigned long; NULL in, NULL out. The one deterministic hash behind
    the sampling, sketch, Bloom, mixture and LSH operators: 8 digits give
    a 32-bit value, 13 digits a 52-bit one that fits exactly in both a
    BIGINT and an IEEE double. Any engine with md5 reproduces it (DuckDB:
    ``CAST('0x' || substr(md5(x), 1, d) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, hex_digits), 16, 10).cast("long")


def deterministic_bucket(key: Column, buckets: int) -> Column:
    """Uniform bucket in [0, buckets) from md5(key): stable across engines,
    partitionings, retries, and cluster sizes (probabilisticsampler
    analogue — the reference hashes ids, never RNG)."""
    return md5_int(key, 8) % buckets


def z_order_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton / Z-order interleaving of two non-negative integer
    columns into one locality-preserving sort key — the layout
    optimization behind Delta/Iceberg OPTIMIZE ZORDER: sorting (and
    therefore range-partitioning files) by the z-key clusters BOTH
    dimensions, so min/max file pruning works for predicates on either
    column, not just the leading sort key. At 100 TB this is the
    difference between a scan that prunes 99% of files on a second
    dimension and one that reads everything.

    Pure bit arithmetic (shiftleft / bitwise and-or over the low
    ``bits`` of each input) — a fixed, engine-exact expression tree;
    inputs are masked to ``bits`` so the key is total-ordered and
    stable regardless of out-of-range values.
    """
    key = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        key = key.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return key
