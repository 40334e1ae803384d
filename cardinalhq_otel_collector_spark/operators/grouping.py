"""Group-assembly operators (SURVEY.md §2B "grouping"):

  groupbytraceprocessor  — buffer a whole trace/conversation, emit it as
                           one ordered unit (manifest :249)

The reference buffers traces in memory with a timeout; the relational
equivalent is a groupBy + ordered collect_list — one shuffle on the group
key, order restored inside the group by an explicit sort key (so the
result is independent of input partitioning, which the buffering
implementation is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["assemble_ordered", "pivot_counts", "rollup_counts", "ntile_buckets", "percent_rank_scale"]


def assemble_ordered(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    payload_col: str,
    out_col: str = "seq",
    sep: str = ",",
) -> DataFrame:
    """One row per group: count + the payload values joined in stable
    (order_cols) order. array_sort over (order keys, payload) structs makes
    the sequence deterministic under any partitioning."""
    s = F.struct(*[F.col(c) for c in order_cols], F.col(payload_col))
    ordered = F.array_sort(F.collect_list(s))
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(ordered, lambda x: x[payload_col]), sep
        ).alias(out_col),
    )


def pivot_counts(
    df: DataFrame,
    row_key,
    pivot_col: str,
    categories: list[str],
) -> DataFrame:
    """Crosstab: one output row per ``row_key`` value, one BIGINT count
    column per ``categories`` entry (0-filled, never null).

    ``categories`` is REQUIRED, not inferred: an inferred pivot runs an
    extra distinct-collect job over the corpus and makes the output
    schema data-dependent — at 100 TB both are bugs, not conveniences.
    With explicit categories this is one hash aggregate (map-side
    combinable conditional counts), no pivot-discovery pass, and the
    plan is a plain two-phase agg.
    """
    keys = [row_key] if isinstance(row_key, str) else list(row_key)
    return df.groupBy(*keys).agg(
        *[
            F.count(F.when(F.col(pivot_col) == c, 1)).alias(c)
            for c in categories
        ]
    )


def rollup_counts(
    df: DataFrame,
    dims: list[str],
    value_col: str | None = None,
) -> DataFrame:
    """Multi-granularity pre-aggregation via ROLLUP grouping sets:
    (d1, d2, ..., dn), (d1, ..., d(n-1)), ..., (d1), () — the
    dashboard-cube pattern computed in ONE pass (Catalyst expands the
    grouping sets into a single expand + hash aggregate; at scale this
    replaces n separate scans with one). ``grouping_id`` disambiguates
    subtotal rows from genuine NULL dimension values — the standard
    GROUPING() discipline, engine-portable.
    """
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        # decimal accumulation: bit-stable under any partitioning
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double").alias("total")
        )
    return (
        df.rollup(*dims)
        .agg(F.grouping_id().cast("long").alias("grouping_lvl"), *aggs)
    )


def ntile_buckets(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = 10,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Equal-frequency binning (NTILE) of a value per group — the ML
    feature-bucketizer / decile-report primitive. ANSI NTILE semantics
    (first n%k buckets get the extra row) are identical across engines;
    the (value, tiebreak) ordering is total so the assignment is
    deterministic, not just the bucket SIZES. One Exchange+Sort."""
    order = [F.col(value_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn("bucket", F.ntile(k).over(w))


def percent_rank_scale(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Rank-based feature scaling: ANSI percent_rank = (rank-1)/(n-1)
    per group — an exact int/int double in both engines, so unlike
    min-max or z-score scaling it is outlier-immune AND engine-exact
    with no rounding discipline needed. The ordering is by value
    ALONE on purpose: ANSI peers (tied values) share a rank, which
    makes the output deterministic under any physical order — adding
    a tiebreak would turn rank into row_number and make tied values
    diverge. One Exchange+Sort."""
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col).asc())
    return df.withColumn("pr", F.percent_rank().over(w))
