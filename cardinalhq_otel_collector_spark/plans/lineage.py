"""S8 — lineage / metrics checkpointing + idempotent resume.

The reference's post-commit notification path (awss3exporter
internal/notify — queue, workers, retries, drop accounting;
notifier.go:104-434) exists to tell a downstream consumer *which objects
were committed*, and its downstream dedups by (bucket, key)
(docs/superpowers/specs/2026-04-24-awss3-webhook-notifications-design.md:51).
In Spark the equivalent contract is a ``_lineage`` table: one row per
(run_id, stage, sink) recording committed row counts — written AFTER the
sink commit, read BEFORE re-running, which is exactly the at-least-once +
dedup semantics without an HTTP queue. The ``_metrics`` analogue of the
reference's self-metering counters (SURVEY.md §2A A18) rides in the same
table via the ``rows_in``/``rows_out`` columns.

Commits are written DRIVER-SIDE with pyarrow (one small parquet file per
commit, unique name, directory append — the same atomic-visibility story
as a Spark append: the file either exists completely or not at all).
Lineage rows are control-plane-sized (a handful per run — the reference
POSTs them one HTTP request at a time, notifier.go:294-340), and routing
them through a full Spark write job cost 3 jobs of pure driver latency
per pipeline run — measurable serial time in the N→4N scaling account.
The resume check reads the same way, with pyarrow on the driver; ``read()``
is the Spark view of the table (queryable like any other).
"""

from __future__ import annotations

import datetime
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from ..sources.catalog import Catalog

__all__ = ["LineageLog"]

LINEAGE_TABLE = "_lineage"

# committed_at is TIMESTAMP (LTZ): the pyarrow commit writes it as
# timestamp[us, tz=UTC], which round-trips as TIMESTAMP like Spark-written
# _lineage files; a naive timestamp would read back as TIMESTAMP_NTZ and
# mix logical types within one directory.
_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("run_id", "stage", "sink")]
    + [T.StructField(c, T.LongType()) for c in ("rows_in", "rows_out")]
    + [T.StructField("committed_at", T.TimestampType())]
)


class LineageLog:
    def __init__(self, catalog: Catalog):
        self.catalog = catalog

    def read(self) -> DataFrame:
        if not self.catalog.exists(LINEAGE_TABLE):
            return local_frame(self.catalog.spark, [], _SCHEMA)
        return self.catalog.read(LINEAGE_TABLE, schema=_SCHEMA)

    def committed_stages(self, run_id: str) -> set[str]:
        """The stages ``run_id`` committed. The parquet table is read on
        the driver with pyarrow, as it is written: resume costs no Spark
        job. pyarrow, like Spark, skips dot- and underscore-prefixed
        files, so an uncommitted temp file is invisible."""
        if self.catalog.use_iceberg:
            return {
                r["stage"]
                for r in self.read().filter(F.col("run_id") == run_id)
                .select("stage").distinct().collect()
            }
        if not self.catalog.exists(LINEAGE_TABLE):
            return set()
        import pyarrow as pa
        import pyarrow.dataset as ds

        keys = pa.schema([(c, pa.string()) for c in ("run_id", "stage")])
        table = ds.dataset(
            self.catalog.path(LINEAGE_TABLE), schema=keys, format="parquet"
        ).to_table(columns=["stage"], filter=ds.field("run_id") == run_id)
        return set(table.column("stage").to_pylist())

    def commit_many(
        self, run_id: str, stage: str, per_sink_counts: list[tuple[str | None, int]]
    ) -> None:
        """Record one committed stage: a row per (sink, rows_out) pair; sink
        None for a stage whose table is not split by sink."""
        now = datetime.datetime.now(datetime.timezone.utc)
        rows = [(run_id, stage, s, None, n, now) for s, n in per_sink_counts]
        if self.catalog.use_iceberg:
            # Iceberg tables are catalog-tracked: a stray file is invisible
            # without a snapshot commit, so route through the catalog (one
            # tiny append job; the snapshot IS the post-commit notification)
            self.catalog.append(
                local_frame(self.catalog.spark, rows, _SCHEMA), LINEAGE_TABLE
            )
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        path = self.catalog.path(LINEAGE_TABLE)
        os.makedirs(path, exist_ok=True)
        table = pa.Table.from_pylist(
            [dict(zip(_SCHEMA.names, r)) for r in rows],
            schema=to_arrow_schema(_SCHEMA),
        )
        # temp-file + rename for atomic VISIBILITY: a crash mid-write must
        # not leave a truncated parquet part that breaks the next run's
        # resume read — resume-after-crash is this table's whole purpose.
        # Spark's parquet reader ignores dot-prefixed files, and a POSIX
        # rename within one directory is atomic.
        final = os.path.join(path, f"part-{uuid.uuid4().hex}.parquet")
        tmp = os.path.join(path, "." + os.path.basename(final) + ".tmp")
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, final)
