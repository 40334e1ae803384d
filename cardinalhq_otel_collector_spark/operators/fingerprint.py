"""S2 — token-pattern fingerprinting + template clustering.

The reference runs Drain-style online log-template mining (drainprocessor,
manifest :244) and CardinalHQ trigram fingerprinting (oteltools, called
from the chqdecorator stage — docs/flow/flow.dot:34). Online Drain is
order-dependent; a distributed engine must not be, so this is a
**deterministic two-pass design** (SURVEY.md §7 risk (a)):

  pass 1 (vectorized, all rows): mask volatile tokens
          (uuid → <id>, long hex → <hex>, number runs → <num>) →
          ``template`` string; ``fingerprint = xxhash64(template)``.
          Pure expressions, no shuffle beyond what downstream needs.

  pass 2 (distinct templates only): char-trigram MinHash over the
          template strings, in ONE hash aggregation per fingerprint,
          band-bucket LSH keyed "<leading token>#<band>#h…" (12 hashes in
          4 bands of 3 — tuned against a reference Drain implementation on
          loghub-shaped and adversarial corpora, tests/test_drain_parity:
          pairwise-F1 1.0 on both; the previous 4×2 geometry coin-flip
          merged shared-prefix short templates Drain splits, F1 0.81),
          then connected
          components → ``cluster_id`` (= min fingerprint of the component,
          so ids are stable under any input order/partitioning). Component
          resolution is size-adaptive with a HARD driver bound: a
          ``limit(N+1)`` probe routes small band sets (log-shaped text:
          templates are code sites) through a bounded driver union-find,
          and everything larger through DISTRIBUTED iterative min-label
          propagation (explode → groupBy → iterative join, O(templates ·
          bands) shuffle) — free-form transcript text whose templates
          don't collapse under masking can never OOM the driver.

Label propagation converges in O(component diameter in band-graph hops)
iterations; each iteration is one groupBy + two joins + one scalar action
(a decimal label-sum, strictly decreasing until the fixpoint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "mask_template",
    "fingerprint",
    "template_bands",
    "cluster_templates",
    "components_from_bands",
    "fingerprint_and_cluster",
]

_MASKS: list[tuple[str, str]] = [
    # uuid before hex before number — order matters.
    (r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}", "<id>"),
    (r"\b[0-9a-fA-F]{8,}\b", "<hex>"),  # case-insensitive: DEADBEEF09 masks too
    (r"\d+", "<num>"),
]


def mask_template(col: Column) -> Column:
    out = col
    for i, (pat, mask) in enumerate(_MASKS):
        rep = F.regexp_replace(out, pat, mask)
        if i == 0:
            # uuid pass guard (guide §1.2): any uuid match requires a '-'
            # — a cheap contains() on the pass's own input skips the regex
            # engine on the (majority of) rows with no dash at all; the
            # replace is the identity on those rows, so output is equal.
            rep = F.when(F.contains(col, F.lit("-")), rep).otherwise(out)
        out = rep
    return out


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pass 1: template + fingerprint columns (pure projection).

    NULL text yields a NULL template (valid input — TRANSCRIPT_SCHEMA marks
    text nullable); clustering skips NULL templates and leaves cluster_id
    NULL for those rows.
    """
    tpl = mask_template(F.col(text_col))
    return df.withColumn("template", tpl).withColumn("fingerprint", F.xxhash64(tpl))


def template_bands(
    templates: DataFrame, n_hashes: int = 12, band_size: int = 3
) -> DataFrame:
    """(fingerprint, band-bucket key) rows via char-trigram MinHash LSH.

    ONE hash aggregation per fingerprint (``min`` absorbs duplicate rows,
    so no ``distinct()``), all JVM expressions — deliberately NO
    higher-order-function lambdas: stacked ``F.transform`` lambdas
    corrupted each other when Catalyst collapsed projections on PySpark
    4.1. Recipe, over sim = template with <num>/<hex>/<id> → '§':
    grams = {sim[i:i+3] | 0 ≤ i < max(len-2, 1)}, hash s = min over grams
    of md5("<s>|" + gram), band key = "<tok0>#<b>#h_{b·size}#…" with
    tok0 = sim.split(" ")[0]. Templates sharing a fingerprint (xxhash64
    collision) share one signature and get keys under each leading token.
    """
    # Collapse mask placeholders to ONE character before shingling: masked
    # templates are otherwise full of '<num>' trigrams, which inflate the
    # Jaccard of ANY two number-heavy templates and transitively merge
    # unrelated families (Drain compares token structure, where a wildcard
    # is one slot — this mirrors that weight). The repartition spreads the
    # md5 work over the cores: a small template set otherwise arrives as
    # one AQE-coalesced partition. On an input already hash-partitioned by
    # fingerprint (the pipeline's per-fingerprint representatives) Spark
    # drops it, since the partition count is the shuffle default.
    n_parts = int(templates.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sim = templates.where(F.col("template").isNotNull()).repartition(n_parts, "fingerprint")
    sim = sim.select(
        "fingerprint", F.regexp_replace("template", r"<(num|hex|id)>", "§").alias("_sim")
    )
    pos = F.explode(F.sequence(F.lit(1), F.greatest(F.length("_sim") - 2, F.lit(1)))).alias("pos")
    gram = F.col("_sim").substr(F.col("pos"), F.lit(3))
    # Drain-faithful structural guard: the parse tree's second level keys
    # on the leading token (after preprocessing), so two templates whose
    # first tokens differ are never candidates — this is what keeps
    # 'Receiving block …' and 'Accepted socket …' apart even when they
    # share a long masked motif (e.g. an <ip>:<port> pattern).
    sig = sim.select("fingerprint", "_sim", pos).groupBy("fingerprint").agg(
        F.collect_set(F.split("_sim", " ").getItem(0)).alias("_tok0s"),
        *[F.min(F.md5(F.concat(F.lit(f"{s}|"), gram))).alias(f"h{s}") for s in range(n_hashes)],
    )
    keys = [
        F.concat_ws(
            "#", "_tok0", F.lit(str(b)), *[f"h{b * band_size + j}" for j in range(band_size)]
        )
        for b in range(n_hashes // band_size)
    ]
    return sig.select("*", F.explode("_tok0s").alias("_tok0")).select(
        "fingerprint", F.explode(F.array(*keys)).alias("band")
    )


def _propagate_min_labels(bands: DataFrame, max_iters: int = 50) -> DataFrame:
    """Distributed connected components over the template↔band bipartite
    graph: labels start as fingerprints; each round every band bucket takes
    the min label of its members and every member takes the min over its
    buckets. Fixpoint = every component labeled with its min fingerprint —
    identical to union-find, but the driver never sees a template.
    """
    from pyspark.sql import Observation

    # every round joins the band set: materialise it once, or each round
    # recomputes the whole MinHash plan
    bands = bands.localCheckpoint(eager=True)
    labels = (
        bands.select("fingerprint").distinct().withColumn("label", F.col("fingerprint"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        banded = bands.join(labels, "fingerprint")
        bmin = banded.groupBy("band").agg(F.min("label").alias("bmin"))
        prop = (
            banded.join(bmin, "band")
            .groupBy("fingerprint")
            .agg(F.min("bmin").alias("plabel"))
        )
        # one Spark action per round: the changed-count rides the
        # checkpointing job as an observed metric (a separate agg job per
        # round is pure serial driver overhead at scale)
        obs = Observation()
        merged = (
            labels.withColumnRenamed("label", "_old")
            .join(prop, "fingerprint", "left")
            .withColumn(
                "label",
                F.least(F.col("_old"), F.coalesce(F.col("plabel"), F.col("_old"))),
            )
            .observe(
                obs,
                F.sum(F.when(F.col("label") < F.col("_old"), 1).otherwise(0)).alias("changed"),
            )
        )
        labels = merged.select("fingerprint", "label").localCheckpoint(eager=True)
        if not obs.get.get("changed"):  # fixpoint (None on empty input)
            break
    return labels


def _driver_components(rows: list) -> list[tuple[int, int]]:
    """Union-find over a BOUNDED list of (fingerprint, band) rows —
    identical result to _propagate_min_labels (same band graph, same
    min-fingerprint labels), used only below the size bound."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    bucket_first: dict[str, int] = {}
    fps: set[int] = set()
    for r in rows:
        fp, band = r["fingerprint"], r["band"]
        fps.add(fp)
        if band in bucket_first:
            ra, rb = find(bucket_first[band]), find(fp)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        else:
            bucket_first[band] = fp
    roots: dict[int, int] = {}
    comp = {fp: find(fp) for fp in fps}
    for fp, root in comp.items():
        roots[root] = min(roots.get(root, fp), fp)
    return [(fp, roots[root]) for fp, root in comp.items()]


def cluster_templates(
    templates: DataFrame,
    n_hashes: int = 12,
    band_size: int = 3,
    driver_max_rows: int = 400_000,
) -> DataFrame:
    """Pass 2: (template, fingerprint) → + cluster_id.

    Input should be the DISTINCT (template, fingerprint) pairs. Component
    resolution is size-adaptive with a HARD driver bound:

      * the band set is probed with ``limit(driver_max_rows + 1)`` — one
        bounded collect, never more than ~40 MB of driver memory;
      * within the bound (log-shaped data: templates are code sites) the
        components resolve driver-side in microseconds (2 Spark jobs
        total, no iteration overhead);
      * past the bound (free-form transcript text, where distinct
        templates ≈ distinct rows) the fully distributed min-label
        propagation runs — the driver never holds the set.

    Both paths produce the identical mapping: connected components of the
    template↔band graph labeled by min fingerprint (order/partitioning
    independent). NULL templates pass through with NULL cluster_id.
    """
    bands = template_bands(templates, n_hashes, band_size)
    mapping = components_from_bands(bands, driver_max_rows)
    return templates.join(mapping, "fingerprint", "left")


def components_from_bands(
    bands: DataFrame, driver_max_rows: int = 400_000
) -> DataFrame:
    """Size-adaptive connected components over ANY (fingerprint, band)
    bipartite frame → (fingerprint, cluster_id) mapping labeled by the
    component's min fingerprint, of the input's fingerprint type. The
    shared engine behind template clustering (band = LSH bucket) and
    near-dup pair canonicalization (band = a pair's smaller end,
    dedup.neardup_components): probe the band set with
    one HARD-bounded collect; below the bound, driver union-find (2
    Spark jobs, broadcast mapping); above it, distributed min-label
    propagation — the driver never holds the set. Both paths produce
    the identical mapping (path-equivalence pytest)."""
    spark = bands.sparkSession
    probe = bands.limit(driver_max_rows + 1).collect()
    if len(probe) <= driver_max_rows:
        # probe returned the COMPLETE band set (limit k+1 yielding ≤k rows)
        t = bands.schema["fingerprint"].dataType.simpleString()
        schema = f"fingerprint {t}, cluster_id {t}"
        return F.broadcast(local_frame(spark, _driver_components(probe), schema))
    return _propagate_min_labels(bands).withColumnRenamed("label", "cluster_id")


def fingerprint_and_cluster(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Full S2: rows → + template, fingerprint, cluster_id. Pass 1 tags
    each row; pass 2 computes the cluster map from the distinct templates
    and joins it back (the two-pass structure of SURVEY.md §7 step 5). The
    join is left to AQE: broadcast when the template set is small (the
    log-shaped common case), shuffle join when free text blows it up."""
    df = fingerprint(df, text_col)
    distinct = df.select("template", "fingerprint").distinct()
    # the mapping is already one row per fingerprint
    return df.join(components_from_bands(template_bands(distinct)), "fingerprint", "left")
