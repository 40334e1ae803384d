"""failoverconnector / roundrobinconnector analogues (manifest :278,:281).

  failover_write     try the primary sink; on failure fall through the
                     priority list (failoverconnector: ordered pipeline
                     levels, first healthy one wins). The write is the
                     probe — Spark's committer makes a failed write leave
                     no committed files, so falling through is safe.
  round_robin_assign roundrobinconnector: spread rows across N downstream
                     sinks. The reference round-robins per batch; a
                     distributed engine must be deterministic under
                     retries, so rows are assigned by md5(key) mod N —
                     stable across partitionings, retries, cluster sizes;
                     ``partitionBy("rr_sink")`` then fans the rows out in
                     ONE write, not N scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import deterministic_bucket
from .catalog import Catalog

__all__ = ["failover_write", "round_robin_assign"]


def failover_write(
    df: DataFrame,
    catalogs: list[Catalog],
    table: str,
    partition_by: list[str] | None = None,
) -> int:
    """Write to the first catalog in priority order that accepts the write;
    returns the index that won. Raises the LAST error if all levels fail
    (failoverconnector exhausts its levels the same way).

    Error classification mirrors the reference's permanent-vs-retryable
    split (internal/notify/notifier.go:370-409: 4xx permanent, 5xx
    retryable): a PLAN error — AnalysisException (bad partition column,
    missing column, type mismatch) — is permanent and identical at every
    level, so it re-raises immediately instead of silently 'failing over'
    a driver bug to the secondary sink. Only execution/commit/IO failures
    fall through the priority list."""
    from pyspark.errors import AnalysisException

    last_err: Exception | None = None
    for i, cat in enumerate(catalogs):
        try:
            cat.write(df, table, partition_by=partition_by)
            return i
        except AnalysisException:
            raise  # permanent: the plan is wrong, every level would fail
        except Exception as e:  # noqa: BLE001 — sink/IO failure falls through
            last_err = e
    assert last_err is not None
    raise last_err


def round_robin_assign(
    df: DataFrame, n_ways: int, key_col: str, out_col: str = "rr_sink"
) -> DataFrame:
    """Deterministic round-robin assignment: md5(key) mod n_ways (the
    reference's in-memory rotation is not retry-stable; hashing is)."""
    return df.withColumn(out_col, deterministic_bucket(F.col(key_col), n_ways).cast("int"))
