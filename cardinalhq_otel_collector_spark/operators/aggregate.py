"""S7 / A3-A6 — interval hash-aggregation with per-group agg-type override.

Reference semantics (processor/aggregationprocessor):
  - datapoints grouped by (metric name, full tag set, interval bucket);
    Sum metrics summed, Gauges averaged by default
    (aggregate.go:228-241, :204-226)
  - per-datapoint attr ``_cardinalhq.aggregation_type`` overrides the
    default to min/max/sum/avg (ottl.ParseAggregationType)
  - group-key timestamp = interval start (aggregate.go:64-67)
  - emitted as new single-datapoint rows, delta non-monotonic
    (aggregate.go:46-119); passthrough rows keep flowing (RemoveIf split,
    metrics.go:36-90)

Spark shape: one ``groupBy(window(ts, interval), *keys)`` — Catalyst does
partial+final hash agg automatically (map-side combine), so at 1000
executors the shuffle carries only one partial row per (key, bucket) per
task, not raw datapoints.

The agg-type override computes sum/avg/min/max/count once per group and
selects by the group's agg type — a single aggregation pass, no re-scan,
no UDAF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "interval_aggregate",
    "interval_stats",
    "aggregate_with_override",
    "split_by_flag",
    "fan_back_tags",
    "group_percentiles",
    "winsorize",
    "mad_outliers",
    "time_weighted",
    "seasonality_profile",
    "pearson_corr",
    "minmax_scale",
    "hill_tail_index",
    "two_proportion_ztest",
    "mutual_information",
    "wilson_interval",
]


def split_by_flag(df: DataFrame, flag_col: str) -> tuple[DataFrame, DataFrame]:
    """A1/A2 — tag-gated split: (to_aggregate, passthrough).

    The reference walks the tree with RemoveIf (metrics.go:36-90); in the
    relational model the split is two complementary filters over one scan
    (Catalyst reuses the exchange under AQE), and empty-pruning is free.
    """
    p = F.col(flag_col)
    return df.filter(p), df.filter(~p | p.isNull())


def interval_aggregate(
    df: DataFrame,
    keys: list[str],
    interval: str = "10 seconds",
    ts_col: str = "ts",
    value_col: str | None = None,
) -> DataFrame:
    """Count (+ optional sum) per (interval bucket, *keys).

    Output carries ``bucket_start`` (= interval start, the group-key
    timestamp rule of aggregate.go:64-67) — aliased for oracle parity.
    ``n`` counts rows, NULL values included; ``total`` is the SQL SUM,
    which ignores NULL values. Over a watermarked stream in append mode
    each bucket emits exactly once, when the watermark passes its end.
    """
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("total"))
    return (
        df.groupBy(F.window(ts_col, interval).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
    )


def interval_stats(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    interval: str = "10 seconds",
    ts_col: str = "ts",
) -> DataFrame:
    """A3/A4 — the full per-interval stat row (count/sum/avg/min/max) in ONE
    hash aggregation (aggregate.go:204-294 computes all of these per series;
    the per-row override selects among them — aggregate_with_override).

    The sum is accumulated in DECIMAL(18,6) and cast back to DOUBLE so the
    result is bit-stable under any partitioning / engine (float sums are
    order-dependent); avg is derived from that exact sum.

    NULL-value semantics: ``n`` counts ROWS (datapoints, incl. NULL
    values — the reference counts datapoints, aggregate.go:204-294), but
    ``avg_value`` divides by the NON-NULL count so NULL values are ignored
    (matching F.avg / SQL AVG), never silently treated as 0.
    """
    v = F.col(value_col)
    dec = v.cast("decimal(18,6)")
    return (
        df.groupBy(F.window(ts_col, interval).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(v).alias("_n_vals"),
            F.sum(dec).cast("double").alias("sum_value"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
        )
        .withColumn("avg_value", F.round(F.col("sum_value") / F.col("_n_vals"), 6))
        .drop("_n_vals")
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
        .select(*keys, "bucket_start", "n", "sum_value", "avg_value", "min_value", "max_value")
    )


def aggregate_with_override(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    agg_type_col: str,
    default_type: str = "avg",
    interval: str = "10 seconds",
    ts_col: str = "ts",
    additional_attributes: dict[str, object] | None = None,
) -> DataFrame:
    """A4/A5 — per-row aggregation-type override (min/max/sum/avg) with the
    configured ``additional_attributes`` appended to every emitted
    aggregate datapoint (aggregationprocessor/config.go:24-31: the emitted
    rows carry extra static tags marking them as aggregates).

    The reference reads the type from a datapoint attribute per series
    (aggregate.go:204-226); rows of one group share the type, so we take
    ``max(agg_type)`` per group (deterministic even if rows of a group were
    ever to disagree) and select the matching aggregate.
    """
    v = F.col(value_col)
    agg = (
        df.groupBy(F.window(ts_col, interval).alias("w"), *keys)
        .agg(
            # decimal-accumulated sum → bit-stable under any partitioning
            # (float sums are order-dependent); avg derives from the exact sum
            F.sum(v.cast("decimal(18,6)")).cast("double").alias("_sum"),
            F.min(v).alias("_min"),
            F.max(v).alias("_max"),
            F.count(v).alias("n"),
            F.coalesce(F.max(agg_type_col), F.lit(default_type)).alias("_t"),
        )
        .withColumn("_avg", F.col("_sum") / F.col("n"))
    )
    value = (
        F.when(F.col("_t") == "sum", F.col("_sum"))
        .when(F.col("_t") == "min", F.col("_min"))
        .when(F.col("_t") == "max", F.col("_max"))
        .otherwise(F.col("_avg"))
    )
    out = (
        agg.withColumn("bucket_start", F.col("w.start"))
        .withColumn("agg_type", F.col("_t"))
        .withColumn("value", value)
        .select(*keys, "bucket_start", "agg_type", "n", "value")
    )
    for k, val in (additional_attributes or {}).items():
        out = out.withColumn(k, F.lit(val))
    return out


def fan_back_tags(df: DataFrame, name_col: str = "name") -> DataFrame:
    """A5 tag fan-back (aggregate.go:121-191 setTags; golden
    metrics_test.go:118-188): the aggregation group key carries flattened
    tag columns whose prefixes say which scope each tag belongs to on
    re-emit —

      ``resource.*``        → resource attributes (prefix stripped)
      ``instrumentation.*`` → scope attributes
      ``metric.*``          → datapoint attributes
      ``metadata.metric.name`` → renames the emitted metric

    In the columnar model each scope becomes a map column
    (resource_attrs / scope_attrs / dp_attrs); the prefixed flat columns
    are consumed. Pure projection, values cast to string (attr maps are
    string-typed in the reference's tag table).
    """
    res: dict[str, object] = {}
    scope: dict[str, object] = {}
    dp: dict[str, object] = {}
    out_name = F.col(name_col)
    drop: list[str] = []
    for c in df.columns:
        col = F.col(f"`{c}`").cast("string")
        if c == "metadata.metric.name":
            out_name = F.coalesce(col, F.col(name_col))
            drop.append(c)
        elif c.startswith("resource."):
            res[c[len("resource."):]] = col
            drop.append(c)
        elif c.startswith("instrumentation."):
            scope[c[len("instrumentation."):]] = col
            drop.append(c)
        elif c.startswith("metric."):
            dp[c[len("metric."):]] = col
            drop.append(c)

    def as_map(d: dict[str, object]):
        if not d:
            return F.create_map().cast("map<string,string>")
        pairs = []
        for k, v in d.items():
            pairs += [F.lit(k), v]
        return F.create_map(*pairs)

    return (
        df.withColumn("resource_attrs", as_map(res))
        .withColumn("scope_attrs", as_map(scope))
        .withColumn("dp_attrs", as_map(dp))
        .withColumn(name_col, out_name)
        .drop(*drop)
    )


def group_percentiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ps: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Exact interpolated percentiles per group (p50/p95/p99 gauges —
    the summary companion to the explicit-bounds histogram op).

    Uses the native exact ``percentile`` aggregate (linear interpolation
    at rank (n-1)·p — the same definition as SQL ``quantile_cont``), so
    results are engine-portable and oracle-checkable, unlike
    ``percentile_approx``. Exact percentiles hold the group's values;
    at 100-TB scale that is fine for gauge-sized groups (the use case
    here) — switch to ``percentile_approx`` when a single group's
    cardinality itself is corpus-sized and a bounded error is
    acceptable.
    """
    aggs = [
        F.round(F.percentile(F.col(value_col), F.lit(p)), 6).alias(
            f"p{round(p * 100)}"
        )
        for p in ps
    ]
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"), *aggs
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lower_p: float = 0.05,
    upper_p: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization: clip each value to its GROUP's [lower_p, upper_p]
    exact interpolated percentiles (outlier taming before training-data
    aggregation — keeps the row, bounds its influence; contrast with
    dropping via anomaly/rate_limit).

    Two passes over the group key: the percentile agg produces a
    groups-sized bounds table that joins back broadcast (AQE) onto the
    stream — the value column itself is never shuffled twice. Clipping
    is pure comparison + selection (no arithmetic), so clipped outputs
    are exact copies of either the value or a 6-place-rounded bound —
    engine-portable like group_percentiles.
    """
    out_col = out_col or f"{value_col}_winsorized"
    bounds = df.groupBy(*group_cols).agg(
        F.round(F.percentile(F.col(value_col), F.lit(lower_p)), 6).alias("__lo"),
        F.round(F.percentile(F.col(value_col), F.lit(upper_p)), 6).alias("__hi"),
    )
    joined = df.join(F.broadcast(bounds), group_cols)
    clipped = (
        F.when(F.col(value_col) < F.col("__lo"), F.col("__lo"))
        .when(F.col(value_col) > F.col("__hi"), F.col("__hi"))
        .otherwise(F.col(value_col))
    )
    return joined.withColumn(out_col, clipped).drop("__lo", "__hi")


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: float = 4.4478,
) -> DataFrame:
    """Robust outlier detection via median absolute deviation: flag rows
    with |value - median| > k * MAD, per group. k = 4.4478 is the
    conventional 3-sigma cut scaled by the 1.4826 normal-consistency
    factor — MAD-based cuts survive the heavy tails that wreck
    mean/stddev z-scores (the statistical complement to
    operators/anomaly's rolling z).

    Exactness needs two group passes (the deviation median depends on
    the value median); both produce groups-sized tables that join back
    broadcast, so the data-sized stream is scanned twice but shuffled
    ZERO times on the value. Medians follow the group_percentiles
    discipline (exact interpolated percentile, 6-place round) so the
    deviation |v - med| and the cut k*mad are single IEEE ops on
    identical operands in any engine.
    """
    med = df.groupBy(*group_cols).agg(
        F.round(F.percentile(F.col(value_col), F.lit(0.5)), 6).alias("med")
    )
    dev = df.join(F.broadcast(med), group_cols).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(*group_cols).agg(
        F.round(F.percentile(F.col("__dev"), F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), group_cols)
        .where(F.col("__dev") > F.lit(k) * F.col("mad"))
        .drop("__dev")
    )


def time_weighted(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Exact time-weighted integral of a step series per group: each
    observation holds its (floored-integer) value until the next one,
    contributing value * gap_us; the last observation has no successor
    and contributes nothing (half-open [t_i, t_{i+1}) steps — the same
    LOCF reading as resample.locf_resample, integrated instead of
    sampled; the billing/SLO primitive).

    Emits exact integers — weighted_sum (sum of value*gap products) and
    duration_us (first-to-last extent) — rather than a ratio: the
    caller divides at whatever precision it wants, and the oracle
    comparison stays float-free. One Exchange: the lead window and the
    final agg share the group partitioning.
    """
    w = Window.partitionBy(*group_cols).orderBy(F.col("__t").asc(), F.col("__id").asc())
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    stepped = df.select(
        *group_cols,
        us.alias("__t"),
        F.col(id_col).alias("__id"),
        F.floor(F.col(value_col)).cast("long").alias("__v"),
    ).withColumn("__next_t", F.lead("__t").over(w))
    return stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(
            F.when(
                F.col("__next_t").isNotNull(),
                F.col("__v") * (F.col("__next_t") - F.col("__t")),
            ).otherwise(F.lit(0))
        ).alias("weighted_sum"),
        (F.max("__t") - F.min("__t")).alias("duration_us"),
    )


def seasonality_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Hour-of-week seasonality: per (day-of-week, hour-of-day) cell,
    row count and exact interpolated median (round-6, the
    group_percentiles discipline) — the baseline grid behind 'is this
    Tuesday 3pm normal' anomaly questions. 168 output cells; one
    map-side-combinable aggregate over projected calendar fields
    (UTC-pinned session, so the cells are engine-portable)."""
    return (
        df.select(
            F.dayofweek(F.col(ts_col)).alias("dow"),
            F.hour(F.col(ts_col)).alias("hod"),
            F.col(value_col),
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile(F.col(value_col), F.lit(0.5)), 6).alias("median"),
        )
    )


def pearson_corr(
    df: DataFrame,
    group_cols: list[str],
    x_col,
    y_col,
) -> DataFrame:
    """Per-group Pearson correlation, engine-exact: the five moment
    sums (Σx, Σy, Σxy, Σx², Σy²) accumulate in DECIMAL — exact and
    commutative, so unlike F.corr (float accumulation, partition-order
    dependent) the result is bit-stable under any partitioning — and
    r = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) is one fixed IEEE
    tree over identical operands (√ is correctly rounded per IEEE 754,
    so it is portable like +,−,×,÷), rounded to 6. One hash aggregate.

    ``x_col``/``y_col`` may be Column expressions (e.g. an epoch-µs
    projection of a timestamp).
    """
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("double")
    y = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("double")
    dec = "decimal(38,4)"
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("__sx"),
        F.sum(y.cast(dec)).cast("double").alias("__sy"),
        F.sum((x * y).cast(dec)).cast("double").alias("__sxy"),
        F.sum((x * x).cast(dec)).cast("double").alias("__sxx"),
        F.sum((y * y).cast(dec)).cast("double").alias("__syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.sqrt(
        (nd * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        * (nd * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    )
    return agg.select(
        *group_cols,
        "n",
        F.round(
            F.when(den == 0, F.lit(None).cast("double")).otherwise(num / den), 6
        ).alias("r"),
    )


def minmax_scale(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Per-group min-max feature scaling: (v - min)/(max - min), NULL
    for constant groups (no information). The bounds table is
    groups-sized and joins back broadcast; the scaled value is two
    single IEEE ops on identical operands — engine-exact without any
    rounding discipline (contrast z-scores, whose stddev accumulation
    is order-dependent)."""
    out_col = out_col or f"{value_col}_scaled"
    bounds = df.groupBy(*group_cols).agg(
        F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi")
    )
    scaled = F.when(
        F.col("__hi") == F.col("__lo"), F.lit(None).cast("double")
    ).otherwise((F.col(value_col) - F.col("__lo")) / (F.col("__hi") - F.col("__lo")))
    return (
        df.join(F.broadcast(bounds), group_cols)
        .withColumn(out_col, scaled)
        .drop("__lo", "__hi")
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = 50,
) -> DataFrame:
    """Heavy-tail detection: the Hill estimator of the power-law tail
    index over each group's top-k values — alpha = (k-1) / Σ ln(x_i /
    x_k) for the k largest x (Hill 1975). Small alpha (≲2) means a
    tail fat enough that means/variances mislead and skew mitigation
    (salting, winsorize, MAD cuts — all in this library) is mandatory;
    this operator is the detector that says so.

    Determinism: the top-k cut is a (value DESC, row_number) window —
    ties resolve by the order's totality within equal values being
    irrelevant to the SET of values kept (values equal ⇒ same ln
    terms); each ln(x_i/x_k) is one fixed tree cast to DECIMAL(28,12)
    BEFORE the sum (surprisal discipline), alpha rounded to 6."""
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col).desc())
    ranked = (
        df.where(F.col(value_col) > 0)
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
    )
    xk = ranked.where(F.col("__rk") == k).select(
        *group_cols, F.col(value_col).alias("__xk")
    )
    term = F.log(F.col(value_col) / F.col("__xk")).cast("decimal(28,12)")
    return (
        ranked.where(F.col("__rk") < k)
        .join(F.broadcast(xk), group_cols)
        .groupBy(*group_cols)
        .agg(F.sum(term).alias("__s"))
        .select(
            *group_cols,
            F.round(
                F.lit(float(k - 1)) / F.col("__s").cast("double"), 6
            ).alias("alpha"),
        )
    )


def two_proportion_ztest(
    df: DataFrame,
    variant_col: str,
    success_col: str,
) -> DataFrame:
    """A/B experimentation primitive: for every variant pair, the
    two-proportion z statistic under the pooled-rate null — exact
    integer trial/success counts into ONE fixed IEEE tree (round-6), so
    the experiment readout is engine-exact. ``success_col`` is a
    boolean/0-1 column per trial row.

    One tiny aggregate (variants) + a self-join over the variant pairs
    (variants², control-plane sized)."""
    agg = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(success_col).cast("long")).alias("c"),
    )
    a = agg.select(
        F.col("variant").alias("variant_a"),
        F.col("n").alias("n_a"),
        F.col("c").alias("c_a"),
    )
    b = agg.select(
        F.col("variant").alias("variant_b"),
        F.col("n").alias("n_b"),
        F.col("c").alias("c_b"),
    )
    j = a.join(b, F.col("variant_a") < F.col("variant_b"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("c_a").cast("double"), F.col("c_b").cast("double")
    p_pool = (ca + cb) / (na + nb)
    se = F.sqrt(p_pool * (F.lit(1.0) - p_pool) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    z = (ca / na - cb / nb) / se
    return j.select(
        "variant_a", "variant_b", "n_a", "c_a", "n_b", "c_b",
        F.round(z, 6).alias("z"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mutual information I(X;Y) in nats between two categorical
    columns — the model-free feature-selection / leakage-detection
    primitive ('does this attribute predict that label at all').
    Exact integer cell and marginal counts; each cell's term
    (c/n)·ln(c·n/(c_x·c_y)) is ONE fixed IEEE tree cast to
    DECIMAL(28,12) BEFORE the sum (surprisal discipline — the cell sum
    is partition-order-independent), final round-6. Three hash
    aggregates, marginals joined back vocabulary-sized.
    """
    pairs = df.select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y")).where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    cells = pairs.groupBy("__x", "__y").agg(F.count(F.lit(1)).alias("__c"))
    mx = pairs.groupBy("__x").agg(F.count(F.lit(1)).alias("__cx"))
    my = pairs.groupBy("__y").agg(F.count(F.lit(1)).alias("__cy"))
    n = pairs.agg(F.count(F.lit(1)).alias("__n"))
    c, cx, cy, nn = (
        F.col("__c").cast("double"),
        F.col("__cx").cast("double"),
        F.col("__cy").cast("double"),
        F.col("__n").cast("double"),
    )
    term = ((c / nn) * F.log(c * nn / (cx * cy))).cast("decimal(28,12)")
    return (
        cells.join(mx, "__x")
        .join(my, "__y")
        .join(F.broadcast(n))
        .agg(
            F.max("__n").alias("n"),
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum(term).cast("double"), 6).alias("mi_nats"),
        )
    )


def wilson_interval(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Per-variant success rate with the Wilson score interval — the
    CI that behaves at small n and extreme rates where the normal
    approximation lies (Wilson 1927; the standard dashboard bound).
    Exact integer trials/successes per variant; the bound is one fixed
    IEEE tree (ratios, one sqrt — correctly rounded per IEEE — and the
    z constant as a shared literal), round-6. One tiny aggregate."""
    agg = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(success_col).cast("long")).alias("c"),
    )
    nd = F.col("n").cast("double")
    p = F.col("c").cast("double") / nd
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / nd
    center = p + z2 / (F.lit(2.0) * nd)
    half = F.lit(z) * F.sqrt(
        p * (F.lit(1.0) - p) / nd + z2 / (F.lit(4.0) * nd * nd)
    )
    return agg.select(
        "variant",
        "n",
        "c",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )
