"""Warehouse catalog — Iceberg when the runtime is on the classpath,
Hive-partitioned parquet otherwise.

The reference's sink is the awss3exporter: marshal → time-partition →
compress → upload (SURVEY.md §2A A9-A14). In Spark all of that is the
writer: ``partitionBy`` over derived time columns produces exactly the
reference's ``year=%Y/month=%m/day=%d/hour=%H/...`` Hive layout
(internal/upload/partition.go:59-134), compression is a writer option,
upload/retry is the committer's job (task retries + atomic rename /
Iceberg snapshot commit).

This sandbox has no Iceberg runtime jar, so the default implementation is
a parquet warehouse with the same layout and an explicit seam
(``use_iceberg``) where a cluster deployment would swap in
``df.writeTo(table).append()`` — the write paths are isolated here so the
rest of the engine never knows the difference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["Catalog", "add_time_partitions", "time_partition_cols", "validate_compression", "VALID_COMPRESSION"]

# A13 — the compression surface (awss3exporter config.go:148-153 whitelists
# gzip|zstd|uncompressed and rejects everything else at config-validate
# time; writer.go:157-191 selects the codec per write). Parquet is a
# self-compressing format, so the codec is applied INSIDE the file by the
# writer — the ContentEncoding distinction of writer.go:102-109 (transfer
# encoding for non-archive formats only) collapses to "never set" here,
# exactly the IsCompressed-format branch of the reference.
VALID_COMPRESSION = {"gzip", "zstd", "uncompressed", "none"}


def validate_compression(compression: str | None) -> str | None:
    """Mirror of the reference's config whitelist: None → session default;
    otherwise must be a member of VALID_COMPRESSION ('none' normalizes to
    parquet's 'uncompressed'). Fails at config time, not mid-job."""
    if compression is None:
        return None
    c = compression.lower()
    if c not in VALID_COMPRESSION:
        raise ValueError("unknown compression type")  # config.go:150
    return "uncompressed" if c == "none" else c


_TIME_FORMATS = {"p_date": "yyyy-MM-dd", "p_hour": "HH", "p_minute": "mm"}


def time_partition_cols(granularity: str) -> list[str]:
    """The time-partition columns for ``granularity``, coarsest first: the
    one definition of the layout ``add_time_partitions`` derives and the
    batch and streaming routed writers partition by."""
    cols = ["p_date"]
    if granularity in ("hour", "minute"):
        cols.append("p_hour")
    if granularity == "minute":
        cols.append("p_minute")
    return cols


def add_time_partitions(df: DataFrame, ts_col: str = "ts", granularity: str = "hour") -> DataFrame:
    """Derive the reference's default partition columns from the event time
    (partition.go:59-134 strftime default year/month/day/hour[/minute]);
    UTC is pinned at the session level. On Iceberg this would be hidden
    partitioning (``days(ts)``/``hours(ts)``) instead of physical columns."""
    for c in time_partition_cols(granularity):
        df = df.withColumn(c, F.date_format(ts_col, _TIME_FORMATS[c]))
    return df


def iceberg_available(spark: SparkSession) -> bool:
    """True when an iceberg-spark-runtime jar is on the session classpath
    (the sandbox ships none; a cluster deployment adds it via --packages)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001 — ClassNotFound via py4j
        return False


class Catalog:
    """Named tables rooted at a warehouse directory.

    ``use_iceberg=True`` switches every write/read to the Iceberg
    DataSourceV2 path (``writeTo(...).using("iceberg")`` — snapshot
    commits, MERGE-capable, hidden-partition capable). Requires the
    runtime jar plus session conf::

        spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.<name>.type = hadoop
        spark.sql.catalog.<name>.warehouse = <dir>

    The sandbox has no jar, so the default stays Hive-partitioned parquet;
    tests/test_iceberg.py executes the SAME e2e invariants against this
    branch and skip-marks itself when the jar is absent.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        use_iceberg: bool = False,
        catalog_name: str = "local",
        namespace: str = "db",
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.use_iceberg = use_iceberg
        self.catalog_name = catalog_name
        self.namespace = namespace
        os.makedirs(warehouse, exist_ok=True)
        if use_iceberg:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog_name}.{namespace}")

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _ident(self, table: str) -> str:
        return f"{self.catalog_name}.{self.namespace}.{table}"

    def exists(self, table: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(table))
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") or f == "_SUCCESS" for f in files):
                return True
        return False

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        compression: str | None = None,
    ) -> None:
        """``compression`` is the per-write codec choice (writer.go:157-191);
        None inherits the session default (zstd, session.py). Validated
        against the reference's whitelist before any job starts."""
        codec = validate_compression(compression)
        if self.use_iceberg:
            wv2 = df.writeTo(self._ident(table)).using("iceberg")
            if codec is not None:
                # tableProperty only takes effect at create/replace; the
                # per-write option is what carries the codec on appends to a
                # pre-existing table (per-write compression contract,
                # writer.go:157-191 — Iceberg write option 'compression-codec')
                wv2 = wv2.tableProperty("write.parquet.compression-codec", codec)
                wv2 = wv2.option("compression-codec", codec)
            if partition_by:
                wv2 = wv2.partitionedBy(*[F.col(c) for c in partition_by])
            if mode == "append":
                # atomic create-or-append, no exists()-then-act window:
                # create() commits df as the initial snapshot atomically in
                # the catalog; a concurrent/prior create surfaces as
                # TableAlreadyExists and we append (itself a snapshot commit,
                # idempotent on task retry).
                from pyspark.errors import AnalysisException

                try:
                    wv2.create()
                except AnalysisException as e:
                    # match the error CLASS first (stable across Spark
                    # versions); the message-substring check is only the
                    # fallback for engines that don't set one
                    klass = (e.getErrorClass() or "") if hasattr(
                        e, "getErrorClass") else ""
                    if "ALREADY_EXISTS" not in klass and (
                        klass or "ALREADY_EXISTS" not in str(e).upper()
                    ):
                        raise
                    wv2.append()
            else:
                wv2.createOrReplace()
            return
        w = df.write.mode(mode)
        if codec is not None:
            w = w.option("compression", codec)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        compression: str | None = None,
    ) -> None:
        self.write(df, table, partition_by, mode="append", compression=compression)

    def read(self, table: str, schema: StructType | None = None) -> DataFrame:
        """``schema`` skips parquet schema inference, which fails on a table
        whose write produced no data file (an empty partitioned write);
        Iceberg tables carry their own schema and ignore it."""
        if self.use_iceberg:
            return self.spark.table(self._ident(table))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(table))
