"""Sampling + dedup-count operators (SURVEY.md §2B):

  probabilisticsamplerprocessor — hash-based p-sampling (manifest :257)
  tailsamplingprocessor         — whole-conversation keep/drop (:265)
  logdedupprocessor             — identical bodies per interval → count (:253)

The probabilistic sampler must be **deterministic and cluster-size
independent** (the reference hashes the trace id, not a RNG): we hash the
key with md5 and threshold its first 8 hex chars — stable across engines,
partitionings, and retries. No RNG anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int

__all__ = [
    "probabilistic_sample",
    "tail_sample",
    "log_dedup",
    "quota_sample",
    "assign_split",
    "rate_limit",
    "heavy_hitters",
    "weighted_sample",
    "decimate",
    "negative_samples",
]


def probabilistic_sample(df: DataFrame, key_col: str, p: float) -> DataFrame:
    """Keep ≈p of rows, decided by md5(key) — same key always same verdict."""
    threshold = int(p * (1 << 32))
    return df.filter(md5_int(F.col(key_col), 8) < threshold)


def tail_sample(
    df: DataFrame, group_col: str, keep_predicate: str,
) -> DataFrame:
    """Keep entire groups (conversations/traces) where ANY row satisfies the
    policy predicate — decide after seeing the whole group, like tail
    sampling buffers whole traces. One window max per group, no join."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col)
    flag = F.max(F.when(F.expr(keep_predicate), 1).otherwise(0)).over(w)
    return df.withColumn("_keep", flag).filter(F.col("_keep") == 1).drop("_keep")


def log_dedup(
    df: DataFrame,
    body_col: str = "text",
    interval: str = "60 seconds",
    ts_col: str = "ts",
    extra_keys: list[str] = (),
) -> DataFrame:
    """Identical bodies within an interval collapse to one row + count."""
    return (
        df.groupBy(F.window(ts_col, interval).alias("w"), F.col(body_col), *extra_keys)
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(ts_col).alias("first_ts"))
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
    )


def quota_sample(
    df: DataFrame,
    stratum_cols: str | list[str],
    quota: int,
    key_col: str = None,
) -> DataFrame:
    """Per-stratum quota sampling (training-data pipeline op): keep at
    most ``quota`` rows per stratum (domain/language/source cap — the
    standard corpus-balancing move before mixing).

    Selection is DETERMINISTIC and cluster-size independent: rows rank
    within their stratum by md5(key), so the same corpus always yields
    the same sample regardless of partitioning or retries (same contract
    as probabilistic_sample; no RNG). One window shuffle on the stratum
    key; at 100 TB a pathological single stratum behaves like any skewed
    windowed agg — pre-filter or salt upstream if one stratum dominates.

    key_col defaults to the first stratum column if omitted — pass the
    row's primary key for a uniform draw.
    """
    from pyspark.sql import Window

    strata = [stratum_cols] if isinstance(stratum_cols, str) else list(stratum_cols)
    key = key_col or strata[0]
    w = Window.partitionBy(*strata).orderBy(
        F.md5(F.col(key).cast("string")).asc(), F.col(key).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= quota)
        .drop("__rk")
    )


def assign_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment (training-data
    pipeline op): each row lands in exactly one named split with
    probability proportional to its weight, decided by md5(key) alone —
    stable across cluster sizes, partitionings, retries, and reruns,
    which is the reproducibility contract a corpus split must carry
    (same no-RNG rule as probabilistic_sample).

    The md5 prefix is compared against fixed-width lowercase-hex
    thresholds as STRINGS, so any engine hashing the same key assigns
    identically (no float rounding, no integer-conversion dialect).
    Pure narrow projection: no shuffle, no UDF — free at 100 TB.
    """
    assert len(weights) >= 2, "need at least two splits"
    total = sum(weights.values())
    names = list(weights)
    prefix = F.substring(F.md5(F.col(key_col).cast("string")), 1, 8)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += weights[name] / total
        thr = format(min(int(cum * (1 << 32)), (1 << 32) - 1), "08x")
        cond = prefix < F.lit(thr)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr.otherwise(names[-1]))


def rate_limit(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    window: str = "hour",
    max_per_window: int = 100,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Windowed rate limiter — the batch/backfill form of a per-key
    token bucket (log pipelines throttle chatty emitters per interval):
    keep the FIRST ``max_per_window`` rows per (key, time-bucket),
    ordered by event time (``order_cols`` break ties deterministically,
    so the kept set is stable across partitionings and retries).

    One shuffle on (keys, bucket); window partitions are bounded by a
    single key's per-bucket volume — a pathologically hot key is the
    same skew story as any window op, salting does not apply because
    rank is inherently per-key-sequential.
    """
    from pyspark.sql import Window

    bucket = F.date_trunc(window, F.col(ts_col))
    order = [F.col(ts_col)] + [F.col(c) for c in (order_cols or [])]
    w = Window.partitionBy(*key_cols, bucket).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_per_window)
        .drop("__rn")
    )


def heavy_hitters(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Exact top-k most frequent values per group (per-sink top error
    templates, per-tenant top endpoints, ...): count → per-group rank →
    filter. Ties break on the value ascending, so the result is unique.

    Two hash aggregates worth of shuffle, both with map-side partial
    combine — the shuffled rows are (group, value) distinct pairs, not
    input rows; the rank window runs over group-sized partitions.
    """
    from pyspark.sql import Window

    counts = df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("n").desc(), F.col(value_col).asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    rate: float,
    weight_scale: float,
) -> DataFrame:
    """Deterministic weighted Bernoulli sample (training-data pipeline
    op: e.g. keep long documents proportionally more often): each row is
    kept with probability ``min(1, rate · weight / weight_scale)``,
    decided by a hash of its key alone — the same no-RNG reproducibility
    contract as probabilistic_sample / assign_split.

    Engine-portable determinism without floats in the uniform: the
    uniform is the low 32 bits of the Knuth/Fibonacci multiplicative
    hash ``key · 2654435761 mod 2^32`` (exact BIGINT arithmetic in any
    engine — for 2^32/φ the low product bits ARE the fractional part of
    key/φ, uniform in [0, 2^32)), and the per-row threshold is
    ``floor(weight · c)`` for the single precomputed double
    ``c = rate·2^32/weight_scale`` — one multiply of the same two
    doubles on every engine, identically rounded, then an integer
    compare. Numeric keys only; for string keys take a numeric hash
    first (md5-prefix via conv where the engine supports it).

    Pure narrow projection: no shuffle, no UDF — free at 100 TB.
    """
    c = rate * float(1 << 32) / weight_scale
    u = F.pmod(F.col(key_col).cast("bigint") * F.lit(2654435761), F.lit(1 << 32))
    thr = F.least(
        F.floor(F.col(weight_col).cast("double") * F.lit(c)),
        F.lit(float(1 << 32)),
    )
    return df.filter(u < thr)


def decimate(
    df: DataFrame,
    key_cols: list[str],
    n: int,
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Systematic decimation: keep every n-th event per key in
    deterministic (ts, tiebreak) order, ALWAYS including the first —
    the time-series downsampling a telemetry sink applies to
    high-frequency gauges (distinct from probabilistic_sample: hash
    sampling keeps a random-looking subset, decimation keeps a
    uniform-cadence one, which is what plots and rate estimates want).

    One shuffle on the key (row_number window); kept set is stable
    across retries/partitionings because the order carries a total
    tiebreak.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col)] + [F.col(c) for c in (order_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") - 1) % n == 0)
        .drop("__rn")
    )


def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int = 3,
    buckets: int = 1024,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each id and j in [0, k), hash (id, j) onto a bucket ring and take
    that bucket's representative (its min id) as the j-th negative —
    no RNG, no global index, no shuffle of the corpus. The bucket →
    representative table is at most ``buckets`` rows and broadcasts;
    pairs whose draw lands on the anchor itself (or an empty bucket)
    are dropped, the standard rejection rule.

    Hash contract: the shared 52-bit md5 space (kmv/cms/weighted-
    sample discipline), reproducible verbatim by the oracle.
    """
    ids = df.select(id_col).distinct()
    reps = (
        ids.select(id_col, (md5_int(F.col(id_col), 13) % buckets).alias("__b"))
        .groupBy("__b")
        .agg(F.min(id_col).alias("neg_id"))
    )
    probes = ids.select(
        id_col, F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")
    ).withColumn(
        "__b",
        md5_int(F.concat(F.col(id_col).cast("string"), F.lit("#"), F.col("j").cast("string")), 13)
        % buckets,
    )
    return (
        probes.join(F.broadcast(reps), "__b")
        .where(F.col("neg_id") != F.col(id_col))
        .select(id_col, "j", "neg_id")
    )
