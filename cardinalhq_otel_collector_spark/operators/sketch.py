"""Distinct-count sketching (KMV / k-minimum-values).

The scale path for cardinality questions the exact ladder can't afford:
an exact ``COUNT(DISTINCT x)`` per group shuffles every distinct value;
a KMV sketch keeps only the k smallest hash values per group, so the
per-group state is O(k) no matter how many distinct values exist — at
100 TB the reduction is the difference between a rollup that fits in
executor memory and one that doesn't. (Bar-Yossef et al. 2002, the
"KMV" / bottom-k estimator; the same family behind DataSketches theta.)

Determinism contract (shared with sampling.weighted_sample and the
dedup hashes): values are hashed with md5 and the first 13 hex digits
are taken as a 52-bit unsigned integer. 52 bits fit EXACTLY in both a
BIGINT and an IEEE double, so every quantity here — including the
estimate, computed with integer division — is reproducible bit-for-bit
by any engine with md5 (the DuckDB oracle reproduces it verbatim).

Estimator: with distinct-value hashes uniform on [0, 2^52), the k-th
smallest hash h_k estimates density k / (h_k / 2^52); the unbiased
bottom-k form is (k-1) * 2^52 / h_k. Groups with fewer than k distinct
hashes are EXACT (the sketch saw everything). Integer division (Spark
``div``, DuckDB ``//``) keeps the estimate engine-portable — both
truncate toward zero, and all operands are nonnegative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import md5_int

__all__ = ["kmv_distinct", "kmv_rolling_distinct"]

# 2^52 — the hash-space size. 13 hex digits of md5.
_HASH_SPACE = 1 << 52


def _bottom_k_estimate(distinct_hashes: DataFrame, by: list[str], k: int) -> DataFrame:
    """(group, __h)-distinct rows -> per-group bottom-k KMV estimate
    (shared by the plain and rolling variants — the estimator is the
    same once the distinct hash set per group exists)."""
    w = Window.partitionBy(*by).orderBy("__h")
    ranked = distinct_hashes.select(
        *by, "__h", F.row_number().over(w).alias("__r")
    ).where(F.col("__r") <= k)
    agg = ranked.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("__h").alias("__max_h"),
    )
    exact = F.col("n_kept") < k
    return agg.select(
        *by,
        "n_kept",
        F.when(exact, F.lit(None).cast("long")).otherwise(F.col("__max_h")).alias(
            "kth_hash"
        ),
        F.when(exact, F.col("n_kept"))
        .otherwise(F.expr(f"{(k - 1) * _HASH_SPACE}L div __max_h"))
        .alias("est_distinct"),
    )


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    by: list[str],
    k: int = 64,
) -> DataFrame:
    """Per-group distinct-count estimate via the k minimum hash values.

    Plan shape: one hash projection, one (group, hash) dedup shuffle,
    one window rank per group (second, smaller Exchange — its input is
    already distinct hashes), then a k-row-per-group aggregate. No
    Python, no collect; the only data-sized shuffle is the dedup, which
    an exact COUNT(DISTINCT) would pay too — everything after it is
    O(k) per group.

    Returns one row per group:
      n_kept       rows the sketch retained (= min(k, n_distinct))
      kth_hash     the k-th smallest 52-bit hash (NULL when exact)
      est_distinct the estimate — exact count when n_distinct < k,
                   else (k-1) * 2^52 div kth_hash
    """
    if not by:
        raise ValueError("kmv_distinct needs at least one group column")
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by k-1)")

    # NULL values carry no cardinality information (COUNT DISTINCT skips
    # them) and would hash to NULL, whose sort position is engine-defined
    # (Spark NULLS FIRST vs DuckDB NULLS LAST) — drop before hashing.
    distinct_hashes = (
        df.where(F.col(value_col).isNotNull())
        .select(*[F.col(c) for c in by], md5_int(F.col(value_col), 13).alias("__h"))
        .distinct()
    )
    return _bottom_k_estimate(distinct_hashes, by, k)


def kmv_rolling_distinct(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    k: int = 64,
    window_days: int = 7,
) -> DataFrame:
    """Trailing-N-day distinct estimate per day — the WAU/MAU shape —
    built from MERGED per-day KMV hash sets. This is the property that
    makes KMV the right sketch for distributed rollups: the union of
    per-bucket bottom-k sets is a valid sketch of the union, so a
    1000-executor pipeline keeps one tiny sketch per (day, partition)
    and merges, never re-scanning history. Here the merge is the
    (day-grid x day-hash) range join: hashes x window_days rows, with
    the day grid broadcast — an exact rolling COUNT(DISTINCT) would
    instead carry every distinct value through every window it touches
    AND shuffle them per day.
    """
    day = F.date_trunc("day", F.col(ts_col))
    day_hashes = (
        df.where(F.col(value_col).isNotNull())
        .select(day.alias("__day"), md5_int(F.col(value_col), 13).alias("__h"))
        .distinct()
    )
    days = day_hashes.select(F.col("__day").alias("day")).distinct()
    merged = (
        day_hashes.join(
            F.broadcast(days),
            F.col("__day").between(
                F.col("day") - F.expr(f"INTERVAL {int(window_days) - 1} DAYS"),
                F.col("day"),
            ),
        )
        .select("day", "__h")
        .distinct()
    )
    return _bottom_k_estimate(merged, ["day"], k)
