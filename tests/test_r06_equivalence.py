"""Round-6 focused equivalence tests: every optimization that changed an
operator's internals is pinned here against the formulation it replaced,
on randomized inputs (the oracle board pins them end-to-end on fixtures;
these guard the equivalence arguments themselves)."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F


def _rows(df, cols):
    return sorted(
        tuple("\x00NULL" if r[c] is None else str(r[c]) for c in cols)
        for r in df.collect()
    )


def test_cms_grid_from_per_key_counts_matches_row_grid(spark):
    """cms_counts now derives the grid from exact per-key counts; the
    cell integers must equal the row-exploded grid of the old shape."""
    from cardinalhq_otel_collector_spark.operators.cms import _cell, cms_counts

    random.seed(11)
    rows = [(f"k{random.randrange(40)}",) for _ in range(3000)] + [(None,)] * 7
    df = spark.createDataFrame(rows, "key string")
    depth, width = 4, 16  # narrow width forces collisions

    new = {r["key"]: r["est_n"] for r in cms_counts(df, "key", depth, width).collect()}

    keyed = df.where(F.col("key").isNotNull()).select("key")
    rows_i = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("i")
    grid = (
        keyed.select("key", rows_i)
        .select("i", _cell(F.col("i"), F.col("key"), width).alias("cell"))
        .groupBy("i", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probes = keyed.distinct().select("key", rows_i).select(
        "key", "i", _cell(F.col("i"), F.col("key"), width).alias("cell")
    )
    old = {
        r["key"]: r["est_n"]
        for r in probes.join(F.broadcast(grid), ["i", "cell"])
        .groupBy("key")
        .agg(F.min("n").alias("est_n"))
        .collect()
    }
    assert new == old


def test_redact_guards_match_unguarded_chain(spark):
    """Guarded redact must equal the plain regexp_replace chain on texts
    with and without the guard characters, including NULLs; a custom mask
    that could introduce a guard char must disable the guard (still
    correct, just unguarded)."""
    from cardinalhq_otel_collector_spark.operators.redact import (
        DEFAULT_PII_PATTERNS,
        redact,
    )

    texts = [
        ("contact bob@example.com now",),
        ("no pii here at all",),
        ("uuid 123e4567-e89b-42d3-a456-426614174000 trace",),
        ("call +1-555-0100 or 10.0.0.1",),
        ("dash-only - text, no match",),
        ("dot. only text 1 here",),
        (None,),
        ("mixed a@b.co 1.2.3.4 +1 555 1234",),
    ]
    df = spark.createDataFrame(texts, "text string")

    guarded = redact(df)
    plain_mask = F.col("text")
    for _, regex, mask in DEFAULT_PII_PATTERNS:
        plain_mask = F.regexp_replace(plain_mask, regex, mask)
    plain = df.withColumn("text_redacted", plain_mask).withColumn(
        "has_pii",
        F.coalesce(F.col("text_redacted") != F.col("text"), F.lit(False)),
    )
    cols = ["text", "text_redacted", "has_pii"]
    assert _rows(guarded, cols) == _rows(plain, cols)

    # adversarial custom patterns: mask of pattern 1 contains '@', which a
    # later '@'-guarded email pattern must therefore run unguarded over
    pats = [
        ("weird", r"X+", "<@>"),
        DEFAULT_PII_PATTERNS[0],
    ]
    df2 = spark.createDataFrame([("XX then a@b.co",), ("XX only",)], "text string")
    out = redact(df2, pats)
    got = {r["text"]: r["text_redacted"] for r in out.collect()}
    assert got["XX then a@b.co"] == "<@> then <EMAIL>"
    assert got["XX only"] == "<@> only"


def test_locf_gap_explode_matches_grid_join_reference(spark):
    """The gap-explode LOCF must reproduce the old dense-grid + join +
    running-window formulation row for row on random sparse series."""
    from cardinalhq_otel_collector_spark.operators.resample import locf_resample

    random.seed(23)
    rows = []
    eid = 0
    for s in range(6):
        t = 1_700_000_000 + random.randrange(3600)
        for _ in range(random.randrange(1, 25)):
            t += random.randrange(1, 5 * 3600)
            rows.append((f"s{s}", t, float(random.randrange(-50, 50)), eid))
            eid += 1
    df = spark.createDataFrame(rows, "sid string, epoch long, value double, event_id long").withColumn(
        "ts", F.timestamp_seconds(F.col("epoch"))
    )
    new = locf_resample(df, ["sid"], "ts", "value", 3600, order_tiebreak="event_id")

    step_of = F.expr("(unix_timestamp(ts) div 3600) * 3600L")
    per_step = (
        df.select(
            "sid",
            step_of.alias("__step"),
            F.floor(F.col("value")).cast("long").alias("__v"),
            F.struct(F.col("ts"), F.col("event_id").alias("__tb")).alias("__ord"),
        )
        .groupBy("sid", "__step")
        .agg(F.max_by("__v", "__ord").alias("__step_last"))
    )
    bounds = per_step.groupBy("sid").agg(
        F.min("__step").alias("__lo"), F.max("__step").alias("__hi")
    )
    grid = bounds.select(
        "sid",
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), F.lit(3600))).alias("__step"),
    )
    w = (
        Window.partitionBy("sid")
        .orderBy("__step")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    old = (
        grid.join(per_step, ["sid", "__step"], "left")
        .withColumn("value", F.last("__step_last", ignorenulls=True).over(w))
        .select("sid", F.timestamp_seconds(F.col("__step")).alias("step_start"), "value")
    )
    cols = ["sid", "step_start", "value"]
    assert _rows(new, cols) == _rows(old, cols)


def test_decontaminate_postjoin_distinct_matches_prejoin_distinct(spark):
    """count_distinct over raw-shingle hits == count over pre-distincted
    shingles (the old train-side-distinct shape), duplicates included."""
    from cardinalhq_otel_collector_spark.operators.decontaminate import (
        contamination_hits,
        word_ngrams,
    )

    random.seed(5)
    vocab = [f"w{i}" for i in range(12)]
    mk = lambda n: " ".join(random.choice(vocab) for _ in range(n))
    train = spark.createDataFrame(
        [(i, mk(random.randrange(4, 30))) for i in range(25)], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(100 + i, mk(random.randrange(4, 20))) for i in range(4)], "doc_id long, text string"
    )
    new = contamination_hits(train, ev, n=3)

    tr = word_ngrams(train, n=3)  # distinct (doc, ngram) pairs
    evn = word_ngrams(ev, n=3).withColumnRenamed("doc_id", "eval_id")
    old = (
        tr.join(F.broadcast(evn), "ngram")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    cols = ["doc_id", "eval_id", "n_hits"]
    assert _rows(new, cols) == _rows(old, cols)
    assert new.count() > 0  # the fixture actually collides


def test_remove_high_df_tokens_matches_reassembly_reference(spark):
    """The broadcast-bad-set array filter must reproduce the old
    token-level join + array_sort(collect_list(struct)) reassembly row
    for row on random corpora, including boundary-DF tokens, repeated
    tokens, and a ratio that empties some documents. The 60-document
    corpus at ratio 0.5 makes total*ratio an integer: a token in exactly
    30 documents sits on the boundary and is kept, one in 31 is removed."""
    from cardinalhq_otel_collector_spark.operators.textstats import (
        remove_high_df_tokens,
    )

    random.seed(41)
    vocab = [f"w{i}" for i in range(9)]
    rows = [
        (i, " ".join(random.choice(vocab) for _ in range(random.randrange(1, 15))))
        for i in range(60)
    ]
    boundary = spark.createDataFrame(
        [(i, " ".join([t] + ["edge"] * (i < 30) + ["over"] * (i < 31))) for i, t in rows],
        "doc_id long, text string",
    )
    rows.append((60, "w0"))  # single-token doc; may come out empty
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for corpus, ratio in ((df, 0.3), (df, 0.78), (boundary, 0.5)):
        new = remove_high_df_tokens(corpus, max_df_ratio=ratio)

        words = corpus.select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
        )
        dfreq = words.groupBy("w").agg(F.countDistinct("doc_id").alias("nd"))
        total = corpus.select(F.count(F.lit(1)).alias("tot"))
        kept = (
            words.join(F.broadcast(dfreq), "w")
            .crossJoin(F.broadcast(total))
            .withColumn(
                "keep",
                F.col("nd").cast("double")
                <= F.col("tot").cast("double") * F.lit(float(ratio)),
            )
        )
        s = F.struct(F.col("pos"), F.col("w"))
        old = kept.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.when(F.col("keep"), s))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("text_filtered"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_removed"),
        )
        cols = ["doc_id", "text_filtered", "n_kept", "n_removed"]
        assert _rows(new, cols) == _rows(old, cols), f"ratio={ratio}"
    kept = {w for r in new.collect() for w in r["text_filtered"].split(" ")}
    assert "edge" in kept and "over" not in kept


def test_projection_chain_dot_bitwise_matches_decimal_sum_agg(spark):
    """The decimal chain sum behind every round-6 dot product / norm must
    be BIT-identical to the decimal SUM aggregate it replaced."""
    from cardinalhq_otel_collector_spark.operators.similarity import _nrm2_col

    random.seed(97)
    dim = 64
    rows = [
        (i, [random.uniform(-3, 3) for _ in range(dim)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    new = {
        r["vec_id"]: r["nrm2"]
        for r in df.select(
            "vec_id", _nrm2_col("embedding", dim).cast("double").alias("nrm2")
        ).collect()
    }
    e = df.select(
        "vec_id", F.explode(F.sequence(F.lit(1), F.lit(dim))).alias("i"), "embedding"
    ).withColumn("v", F.element_at(F.col("embedding"), F.col("i")).cast("double"))
    old = {
        r["vec_id"]: r["nrm2"]
        for r in e.groupBy("vec_id")
        .agg(
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,18)"))
            .cast("double")
            .alias("nrm2")
        )
        .collect()
    }
    assert new == old  # exact float equality, not approx
