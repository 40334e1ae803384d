"""SparkSession construction for the pipeline.

Single place that encodes the scale-oriented defaults: AQE on (runtime
re-plan + skew-join splitting, the Spark answer to the reference having no
optimizer at all — SURVEY.md §4), UTC session time (the reference defaults
to *local* TZ for partition keys, `internal/upload/partition.go:81-85`; we
pin UTC so partition keys are deterministic), Arrow enabled for the few
pandas-UDF paths, and shuffle partitions sized to the local core count
(overridable — on a real cluster you want 2-3× total cores).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["build_spark", "local_frame"]


def _submit_master() -> str | None:
    """Master supplied by spark-submit, read from its public conf channels:
    --master lands in PYSPARK_SUBMIT_ARGS / spark.master in the JVM default
    conf file the launcher exports (no private builder internals)."""
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    toks = args.split()
    for i, tok in enumerate(toks):
        if tok == "--master" and i + 1 < len(toks):
            return toks[i + 1]
    return None


def build_spark(
    app_name: str = "cardinalhq-otel-collector-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) else ``*``.
    On a real cluster this function is still correct: ``master`` is only
    forced when no master is configured externally (spark-submit wins).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores_str = env if env else "*"
    else:
        cores_str = str(cores)
    n_cores = os.cpu_count() or 8 if cores_str == "*" else int(cores_str)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)
    if driver_mem is None:
        driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    # Shuffle/spill scratch: prefer tmpfs when present. The sandbox has one
    # virtual disk; routing Spark's local dirs through /dev/shm keeps
    # shuffle I/O off the data disk (on a real cluster this is the NVMe
    # local-dir convention). Override with SPARK_LOCAL_DIRS.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Job-commit cost is serial driver time and scales with file count,
        # not data size — it is pure Amdahl overhead at high parallelism.
        # v2 commits rename task output inside the tasks (parallel); the
        # summary-metadata pass is another whole-output serial walk.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
        # Input split size (guide §6). Spark splits files at
        # min(maxPartitionBytes, max(openCostInBytes, totalBytes / cores)),
        # so 16m and the 128m default give identical splits until the input
        # exceeds cores x 16 MB; every perfbench input is a few MB. Past
        # that, 16m keeps the scan at one map task per 16 MB. On a cluster
        # scanning TB-sized tables pass 512m..1g through ``extra_conf``
        # (guide §6/§9 — fewer, larger map tasks feeding each shuffle).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # zstd encode effort for parquet writes (guide §6): the default
        # level 3 spends ~15% more write-stage CPU than level 1 on this
        # corpus for no size win (measured on the pipeline bench: routed
        # stage 17.2s -> 14.5s, output bytes 94.8MB -> 90.8MB at level 1).
        # Deployments that prefer deeper compression on cold archival
        # tables set it through ``extra_conf``.
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # Respect an externally-provided master (spark-submit sets spark.master
    # via the public channels: the submit conf or the MASTER env); only
    # default to local[k] when none is configured.
    external_master = (
        os.environ.get("SPARK_MASTER")
        or os.environ.get("MASTER")
        or (extra_conf or {}).get("spark.master")
        or _submit_master()
    )
    if not external_master:
        builder = builder.master(f"local[{cores_str}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | T.StructType
) -> DataFrame:
    """A small driver-side table (lookups, cluster maps, control-plane
    rows) as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<python list>)`` plans as ``Scan ExistingRDD``
    over a pickled Python RDD, so every job that reads it waits on Python
    worker tasks. A ``pyarrow.Table`` is shipped to the JVM once and plans
    as ``LocalTableScan`` whatever ``spark.sql.execution.arrow.pyspark.
    enabled`` says; an empty ``rows`` gives an empty table of the schema.
    ``rows`` are positional tuples (``Row`` objects included) in schema
    order. A naive datetime is read as UTC (the list path reads it in the
    host's zone), so pass aware ones.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
