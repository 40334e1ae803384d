"""Transcript integrity validation — structural QA over multi-turn
conversation streams (the input shape of this engine's north star:
conv_id / turn_idx / role / text / tool / ts).

Real transcript corpora arrive broken in three characteristic ways,
and a training pipeline must QUANTIFY them per conversation before
deciding to repair, resample, or drop:

  * index gaps/duplicates — ``turn_idx`` should be the dense 0-based
    sequence in timestamp order (dropped or double-logged turns);
  * role repeats — two consecutive turns by the same role where the
    protocol expects alternation (merged or split messages);
  * time regressions — a turn whose timestamp precedes its
    predecessor's in ``turn_idx`` order (clock skew, replays).

One window partitioning on the conversation key carries ALL THREE
checks (row_number + two lags share the Exchange+Sort), then a
map-side-combinable agg reduces to per-conversation counts — exact
integers, no floats anywhere. Partitions are conversation-sized; a
10^12-turn corpus shuffles once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = ["transcript_integrity", "k_anonymity_violations", "coverage_gaps", "cohen_kappa", "fk_violations", "confusion_matrix"]


def transcript_integrity(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation structural-defect counts.

    Output: conv, n_turns, n_idx_breaks (turn_idx != its dense
    0-based position in (turn_idx, ts) order — catches gaps AND
    duplicates), n_role_repeats (consecutive same-role turns in
    turn_idx order), n_ts_regressions (ts strictly decreasing across
    consecutive turn_idx), is_clean (all three zero).
    """
    w = Window.partitionBy(conv_col).orderBy(
        F.col(idx_col).asc(), F.col(ts_col).asc()
    )
    flags = (
        df.select(conv_col, idx_col, role_col, ts_col)
        .withColumn("__pos", F.row_number().over(w) - 1)
        .withColumn("__prev_role", F.lag(role_col).over(w))
        .withColumn("__prev_ts", F.lag(ts_col).over(w))
    )
    out = flags.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(
            F.when(F.col(idx_col) != F.col("__pos"), 1).otherwise(0)
        ).alias("n_idx_breaks"),
        F.sum(
            F.when(F.col(role_col) == F.col("__prev_role"), 1).otherwise(0)
        ).alias("n_role_repeats"),
        F.sum(
            F.when(F.col(ts_col) < F.col("__prev_ts"), 1).otherwise(0)
        ).alias("n_ts_regressions"),
    )
    return out.withColumn(
        "is_clean",
        (F.col("n_idx_breaks") == 0)
        & (F.col("n_role_repeats") == 0)
        & (F.col("n_ts_regressions") == 0),
    )


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
) -> DataFrame:
    """Privacy audit for training-data release: every quasi-identifier
    combination held by FEWER than k rows (the k-anonymity rule —
    small groups re-identify individuals; Sweeney 2002). One hash
    aggregate over the quasi-identifier key (map-side combined), a
    comparison, nothing else — the audit costs one groupBy at any
    scale, and the violating groups are exactly the rows a release
    pipeline must suppress or generalize.
    """
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") < k)
    )


def coverage_gaps(
    df: DataFrame,
    by: list[str],
    ts_col: str,
    step_seconds: int = 3600,
) -> DataFrame:
    """Data-freshness/completeness report: for each entity, every step
    bucket between its first and last observation with NO data — the
    'which hours are missing' ops question behind ingest monitoring.
    Grid via sequence+explode per entity (rows = entities x steps,
    never a cross join), observed buckets via one aggregate, missing =
    left anti join on the shared (entity, step) key.
    """
    step_of = F.expr(
        f"(unix_timestamp({ts_col}) div {int(step_seconds)}) * {int(step_seconds)}L"
    )
    observed = df.select(*by, step_of.alias("__step")).distinct()
    bounds = observed.groupBy(*by).agg(
        F.min("__step").alias("__lo"), F.max("__step").alias("__hi")
    )
    grid = bounds.select(
        *by,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(int(step_seconds)))
        ).alias("__step"),
    )
    return grid.join(observed, [*by, "__step"], "left_anti").select(
        *by, F.timestamp_seconds(F.col("__step")).alias("missing_step")
    )


def cohen_kappa(
    df: DataFrame,
    label_a_col: str,
    label_b_col: str,
) -> DataFrame:
    """Inter-annotator agreement as EXACT integers: Cohen's kappa =
    (po - pe) / (1 - pe) over two label columns, computed as the
    integer ratio (agree*N - Σ_c na_c*nb_c) / (N² - Σ_c na_c*nb_c) —
    counts never leave integer space, the ppm rendering is integer
    division, so the label-quality gate is engine-exact. Two tiny
    aggregates (per-label marginals + agreement count); the join of
    marginals is over the label vocabulary.
    """
    pairs = df.select(
        F.col(label_a_col).alias("__a"), F.col(label_b_col).alias("__b")
    ).where(F.col(label_a_col).isNotNull() & F.col(label_b_col).isNotNull())
    n_total = pairs.count()  # control-plane scalar
    agree = pairs.where(F.col("__a") == F.col("__b")).count()
    ma = pairs.groupBy("__a").agg(F.count(F.lit(1)).alias("na"))
    mb = pairs.groupBy("__b").agg(F.count(F.lit(1)).alias("nb"))
    chance = (
        ma.join(mb, ma["__a"] == mb["__b"])
        .agg(F.sum(F.col("na") * F.col("nb")).alias("s"))
        .collect()[0]["s"]
        or 0
    )
    num = agree * n_total - chance
    den = n_total * n_total - chance
    if den:
        # truncate toward zero, NOT Python floor: kappa can be negative
        # (worse than chance), and SQL integer division (DuckDB //,
        # Spark div) truncates — floor would differ by 1 there
        q = (abs(num) * 1_000_000) // den
        kappa_ppm = q if num >= 0 else -q
    else:
        kappa_ppm = None
    return local_frame(
        df.sparkSession,
        [(n_total, agree, int(chance), int(num), int(den), kappa_ppm)],
        "n_pairs long, n_agree long, chance_mass long, kappa_num long, "
        "kappa_den long, kappa_ppm long",
    )


def fk_violations(
    child: DataFrame,
    parent: DataFrame,
    child_keys: list[str],
    parent_keys: list[str],
) -> DataFrame:
    """Referential-integrity audit: child rows whose foreign key has no
    parent — one LEFT ANTI hash join, which Catalyst executes with the
    parent side broadcast when it fits (dimension-sized parents never
    shuffle the fact table). NULL foreign keys are reported too (an
    anti join keeps them, matching the 'orphan' reading: no parent row
    matches a NULL key)."""
    cond = None
    for ck, pk in zip(child_keys, parent_keys):
        c = child[ck] == parent[pk]
        cond = c if cond is None else (cond & c)
    return child.join(parent, cond, "left_anti")


def confusion_matrix(
    df: DataFrame,
    truth_col: str,
    pred_col: str,
) -> DataFrame:
    """Classifier evaluation as data: (truth, predicted, n) cell counts
    — the confusion matrix behind accuracy/precision/recall for any
    label-producing operator (language ID, routing rules, quality
    gates). One map-side-combinable aggregate; exact integers."""
    return (
        df.groupBy(F.col(truth_col).alias("truth"), F.col(pred_col).alias("pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
