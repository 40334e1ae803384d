import hashlib
import re

from pyspark.sql import functions as F

from cardinalhq_otel_collector_spark.operators.fingerprint import (
    cluster_templates,
    fingerprint,
    fingerprint_and_cluster,
    template_bands,
)
from cardinalhq_otel_collector_spark.session import local_frame


def test_same_pattern_family_shares_fingerprint(spark):
    """Rows differing only in numbers/ids share a masked template (F5.5)."""
    df = spark.createDataFrame(
        [
            ("connection 123 from host server-7 retry 1 timeout 500ms",),
            ("connection 999 from host server-31 retry 4 timeout 42ms",),
            ("totally different text",),
        ],
        "text string",
    )
    rows = fingerprint(df).collect()
    assert rows[0]["template"] == "connection <num> from host server-<num> retry <num> timeout <num>ms"
    assert rows[0]["fingerprint"] == rows[1]["fingerprint"]
    assert rows[0]["fingerprint"] != rows[2]["fingerprint"]


def test_masking_order_uuid_hex_num(spark):
    df = spark.createDataFrame(
        [
            ("trace 01234567-89ab-cdef-0123-456789abcdef block deadbeefcafe offset 17",),
        ],
        "text string",
    )
    assert (
        fingerprint(df).collect()[0]["template"]
        == "trace <id> block <hex> offset <num>"
    )


def test_cluster_deterministic_across_partitionings(spark):
    rows = [(f"connection {i} from host server-{i%5} retry {i%3} timeout {i}ms",) for i in range(50)]
    rows += [(f"user {i} logged in from 10.0.0.{i%9}",) for i in range(50)]
    rows += [("the quick brown fox",), ("pack my box with five dozen jugs",)]
    a = fingerprint_and_cluster(spark.createDataFrame(rows, "text string").repartition(1))
    b = fingerprint_and_cluster(spark.createDataFrame(list(reversed(rows)), "text string").repartition(7))
    ma = {r["text"]: r["cluster_id"] for r in a.collect()}
    mb = {r["text"]: r["cluster_id"] for r in b.collect()}
    assert ma == mb  # order/partitioning independent (SURVEY §7 risk (a))


def test_cluster_groups_similar_templates(spark):
    # near-identical templates (one token SUBSTITUTED — same token count,
    # the shape Drain merges) LSH-cluster together; dissimilar ones apart.
    # An INSERTED token (different token count) is allowed to split — the
    # reference Drain keys its parse tree on token count and splits those
    # too (tests/test_drain_parity.py pins assignment-level agreement).
    df = spark.createDataFrame(
        [
            ("connection 1 from host server-1 retry 1 timeout 5ms",),
            ("connection 2 from host relay-9 retry 0 timeout 7ms",),
            ("zzz completely unrelated words qqq",),
        ],
        "text string",
    )
    out = fingerprint_and_cluster(df).collect()
    by_text = {r["text"]: r for r in out}
    c1 = by_text["connection 1 from host server-1 retry 1 timeout 5ms"]["cluster_id"]
    c2 = by_text["connection 2 from host relay-9 retry 0 timeout 7ms"]["cluster_id"]
    c3 = by_text["zzz completely unrelated words qqq"]["cluster_id"]
    assert c1 == c2
    assert c3 != c1


def test_null_text_clusters_without_error(spark):
    """NULL text is valid (TRANSCRIPT_SCHEMA marks text nullable): pass 1
    yields a NULL template, pass 2 skips it, cluster_id stays NULL — the
    pipeline must not abort (regression: driver-side pass 2 crashed on
    len(None))."""
    df = spark.createDataFrame(
        [("connection 1 from host server-1 retry 1 timeout 5ms",), (None,), ("",)],
        "text string",
    )
    rows = {r["text"]: r for r in fingerprint_and_cluster(df).collect()}
    assert rows[None]["template"] is None
    assert rows[None]["cluster_id"] is None
    assert rows["connection 1 from host server-1 retry 1 timeout 5ms"]["cluster_id"] is not None


def test_hex_mask_is_case_insensitive(spark):
    df = spark.createDataFrame(
        [("block DEADBEEF09 and deadbeef09 match",)], "text string"
    )
    assert (
        fingerprint(df).collect()[0]["template"]
        == "block <hex> and <hex> match"
    )


def test_cluster_scales_past_driver_memory_shape(spark):
    """Free-form transcript text does NOT collapse under masking — distinct
    templates ≈ distinct rows. Pass 2 must stay fully distributed (no
    driver-side collect of the template set): 100k unique templates cluster
    without the driver ever holding them."""
    from pyspark.sql import functions as F

    def word(salt: str):
        # high-entropy letter-only word (~52-char alphabet, no digits so
        # masking keeps templates unique)
        b64 = F.base64(F.unhex(F.md5(F.concat(F.lit(salt), F.col("id").cast("string")))))
        return F.translate(F.substring(b64, 1, 10), "0123456789+/", "QsRtSuTvUwXy")

    df = spark.range(100_000).select(
        F.concat_ws(" ", word("a"), word("b"), word("c")).alias("text")
    )
    tpl = fingerprint(df).select("template", "fingerprint").distinct()
    # free-text corpora use wider bands (band_size=4 → collision needs 4
    # matching minhashes) — the log-template default (3) is tuned for
    # code-site templates and over-merges high-volume random text.
    # driver_max_rows=0 forces the fully distributed path (the size-probe
    # would otherwise route 200k band rows through the bounded driver path).
    out = cluster_templates(tpl, n_hashes=8, band_size=4, driver_max_rows=0)
    assert out.count() == 100_000
    n_clusters = out.select("cluster_id").distinct().count()
    assert n_clusters > 90_000


def test_driver_and_distributed_paths_agree(spark):
    """The bounded driver union-find and the distributed min-label
    propagation must produce the IDENTICAL cluster mapping."""
    rows = [(f"connection {i} from host server-{i%5} retry {i%3} timeout {i}ms",) for i in range(40)]
    rows += [(f"user {i} logged in from 10.0.0.{i%9}",) for i in range(40)]
    rows += [("the quick brown fox",), ("pack my box with five dozen jugs",)]
    tpl = fingerprint(spark.createDataFrame(rows, "text string")).select(
        "template", "fingerprint"
    ).distinct()
    a = {r["fingerprint"]: r["cluster_id"]
         for r in cluster_templates(tpl).collect()}
    b = {r["fingerprint"]: r["cluster_id"]
         for r in cluster_templates(tpl, driver_max_rows=0).collect()}
    assert a == b


def test_fingerprint_no_python_on_row_path(spark, transcripts_df):
    """Pass 1 must be pure JVM expressions: the physical plan for the
    row-level projection contains no Python/Arrow eval nodes."""
    plan = fingerprint(transcripts_df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def _reference_bands(rows, n_hashes=12, band_size=3):
    """The documented band recipe in plain Python: mask placeholders
    collapse to '§', grams = {t[i:i+3] | 0 ≤ i < max(len-2, 1)} over every
    template of a fingerprint, hash s = min md5("<s>|" + gram), key =
    "<tok0>#<b>#h…" for each distinct leading token."""
    sims: dict[int, set[str]] = {}
    for tpl, fp in rows:
        if tpl is not None:
            sims.setdefault(fp, set()).add(re.sub(r"<(num|hex|id)>", "§", tpl))
    out = set()
    for fp, texts in sims.items():
        grams = {t[i:i + 3] for t in texts for i in range(max(len(t) - 2, 1))}
        h = [min(hashlib.md5(f"{s}|{g}".encode()).hexdigest() for g in grams)
             for s in range(n_hashes)]
        for tok0 in {t.split(" ")[0] for t in texts}:
            for b in range(n_hashes // band_size):
                out.add((fp, "#".join([tok0, str(b), *h[b * band_size:(b + 1) * band_size]])))
    return out


def test_template_bands_match_reference_recipe(spark):
    rows = [
        (None, 1), ("", 2), ("a", 3), ("ab", 4),
        ("conn <num> from host", 5), ("conn <num> from host", 5),  # duplicate row
        ("<num><hex> <id>", 6),  # mask tokens only
        ("héllo wörld <num> 日本語テキスト 🙂", 7),
        ("  leading spaces", 8),
        # one fingerprint, two templates (an xxhash64 collision)
        ("alpha beta gamma", 9), ("zeta beta gamma", 9),
    ]
    df = local_frame(spark, rows, "template string, fingerprint long").repartition(3)
    for n_hashes, band_size in [(12, 3), (8, 4)]:
        got = {(r["fingerprint"], r["band"])
               for r in template_bands(df, n_hashes, band_size).collect()}
        assert got == _reference_bands(rows, n_hashes, band_size)
