"""Similarity search over an embedding column (array<float>).

Three tiers, one rerank (``_cosine_topk``):

  brute_force_topk   exact cosine top-k — the correctness baseline. Dot
                     products accumulate in DECIMAL (exact, so bit-stable
                     across partitionings and engines; float sums are
                     order-dependent), evaluated as one projection-level
                     chain sum per pair (round 6 — no position explode).
  lsh_topk           hyperplane-sign LSH buckets → exact rerank within
                     bucket — the scale path: each query only scans its
                     bucket, so cost is n/2^bits per query instead of n.
  ivf_topk           k-means coarse quantizer → exact rerank within the
                     ``n_probe`` nearest centroid buckets.

No Python on the row path; no higher-order-function lambdas (projection-
collapse miscompilation — see operators/fingerprint.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import md5_int
from ..session import local_frame
from .dedup import band_pairs

__all__ = [
    "norms",
    "brute_force_topk",
    "sign_buckets",
    "hyperplane_table",
    "hyperplane_buckets",
    "lsh_topk",
    "ivf_centroids",
    "ivf_assign",
    "ivf_topk",
    "embedding_neardup_pairs",
    "ann_recall",
    "rrf_fuse",
]


def _pos_explode(df: DataFrame, vec_col: str, dim: int, out: str) -> DataFrame:
    pos = F.explode(F.sequence(F.lit(1), F.lit(dim))).alias("i")
    return df.select("*", pos).withColumn(
        out, F.element_at(F.col(vec_col), F.col("i")).cast("double")
    )


# ---------------------------------------------------------------------------
# Round-6 expression-tree dot products (optimization guide §1.2 step 1 /
# §2.4): the original formulation position-exploded every vector (dim rows
# per vector), joined, and decimal-SUM-aggregated — a dim-fold row
# inflation plus an Exchange per dot-product batch. A dot product over a
# fixed ``dim`` needs no rows at all: it is one projection. The chain sum
# below is VALUE-IDENTICAL to `F.sum` over the same decimal(38,18)-cast
# terms: both are exact scale-18 decimal sums (the (37,18) re-cast keeps
# Catalyst's add-result type at (38,18) each step, so no scale is ever
# adjusted away and nothing rounds), and both cast the exact total to
# double at the end. Precondition (already the operator contract, board-
# verified): vectors are non-NULL with >= dim elements; |term| < 1e6.
# ---------------------------------------------------------------------------


def _dec_chain_sql(terms: list[str]) -> str:
    """SQL text of the exact decimal chain sum over ``terms`` (each a
    DECIMAL(24,18) expression). Built as ONE string and parsed JVM-side in
    a single F.expr call: the equivalent py4j Column algebra costs hundreds
    of driver round-trips per chain, which showed up as whole seconds of
    per-query plan-construction time at the bench."""
    acc = f"CAST({terms[0]} AS DECIMAL(37,18))"
    for t in terms[1:]:
        acc = f"CAST(({acc} + {t}) AS DECIMAL(37,18))"
    return acc


def _dot_col(a: str, b: str, dim: int) -> Column:
    terms = [
        f"CAST(CAST(element_at(`{a}`, {i}) AS DOUBLE) * "
        f"CAST(element_at(`{b}`, {i}) AS DOUBLE) AS DECIMAL(24,18))"
        for i in range(1, dim + 1)
    ]
    return F.expr(_dec_chain_sql(terms))


def _nrm2_col(v: str, dim: int) -> Column:
    return _dot_col(v, v, dim)


def _query_side(queries: DataFrame, vec_col: str, id_col: str, dim: int) -> DataFrame:
    """(qid, qe, qn): the query vector and its squared norm — the
    broadcast side of every rerank pair join."""
    return queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qe"),
        _nrm2_col(vec_col, dim).cast("double").alias("qn"),
    )


def _corpus_side(corpus: DataFrame, vec_col: str, id_col: str, dim: int) -> DataFrame:
    """(id, vector, nrm2): the squared norm is computed here, once per
    corpus row, BEFORE any pair join — not once per (query, corpus) pair."""
    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _nrm2_col(vec_col, dim).cast("double").alias("nrm2"),
    )


def _cosine_topk(pairs: DataFrame, k: int, vec_col: str, id_col: str, dim: int) -> DataFrame:
    """Exact cosine rerank of candidate pairs carrying both sides
    (``_query_side`` ⋈ ``_corpus_side``): one projection-level chain dot
    per pair, rank per query by the UNROUNDED cosine (ties by id), keep
    ``nn_rank <= k``, round to 6 places. Output: (qid, id, cosine, nn_rank)."""
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        pairs.withColumn("dot", _dot_col("qe", vec_col, dim).cast("double"))
        .withColumn("cosine", F.col("dot") / (F.sqrt("qn") * F.sqrt("nrm2")))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .withColumn("cosine", F.round("cosine", 6))
        .select("qid", id_col, "cosine", "nn_rank")
    )


def norms(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", dim: int = 64) -> DataFrame:
    """Per-row squared L2 norm (ids are unique by operator contract, so
    the previous explode+groupBy and this projection agree)."""
    return _corpus_side(df, vec_col, id_col, dim).select(id_col, "nrm2")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Exact cosine top-k: every (query, corpus) pair but self-pairs, the
    query side broadcast. Output: (qid, vec_id, cosine, nn_rank)."""
    pairs = _corpus_side(corpus, vec_col, id_col, dim).join(
        F.broadcast(_query_side(queries, vec_col, id_col, dim)),
        F.col("qid") != F.col(id_col),
    )
    return _cosine_topk(pairs, k, vec_col, id_col, dim)


def sign_buckets(df: DataFrame, bits: int = 4, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Axis-sign LSH: bucket = sign bits of the first ``bits`` dims — the
    cheapest possible bucketing (one projection, zero joins). Use
    hyperplane_buckets for real recall."""
    cols = [
        F.when(F.element_at(F.col(vec_col), i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(bits)
    ]
    return df.withColumn("bucket", F.concat(*cols))


def hyperplane_table(spark, bits: int, dim: int) -> DataFrame:
    """Deterministic pseudo-random hyperplanes: weight(plane j, dim i) =
    uniform(-1,1) derived from md5(j|i). No RNG, no seed state — the same
    table materializes on any cluster, any engine."""
    planes = spark.range(bits).select(F.col("id").alias("plane"))
    dims = spark.range(1, dim + 1).select(F.col("id").alias("i"))
    w = md5_int(F.concat_ws("|", "plane", "i"), 8).cast("double") / F.lit(float(1 << 32)) * 2 - 1
    return planes.crossJoin(dims).withColumn("w", w)


def _hyperplane_w(plane: int, i: int) -> float:
    """The hyperplane_table weight as a driver-side literal — the same
    md5-prefix recipe evaluated in Python. Every step is the identical
    IEEE-754 operation sequence (exact 32-bit int to double, one divide
    by 2^32, one multiply, one subtract), so the doubles are bit-equal to
    the Spark expression's (guarded by tests/test_similarity.py)."""
    import hashlib

    x = int(hashlib.md5(f"{plane}|{i}".encode()).hexdigest()[:8], 16)
    return float(x) / float(1 << 32) * 2 - 1


def hyperplane_buckets(
    df: DataFrame, bits: int = 4, n_bands: int = 1, vec_col: str = "embedding",
    id_col: str = "vec_id", dim: int = 64,
) -> DataFrame:
    """Random-hyperplane cosine LSH (SimHash for vectors), banded.

    ``n_bands`` independent tables of ``bits`` planes each; a pair is a
    candidate if it collides in ANY band (the standard LSH OR-construction:
    recall grows with bands, candidate count stays O(rows·bands)). Output:
    one row per (row, band) with an integer bucket.

    Round-6 shape (guide §2.4 — remove shuffles): the hyperplane weights
    are driver-side LITERAL arrays (``_hyperplane_w`` — bit-equal to
    hyperplane_table's md5 expression, guarded by a test), so the
    per-plane decimal dot products are parallel `F.sum` aggregates of
    the position-exploded vector against a constant-folded array lookup.
    One hash aggregation per corpus (map-side combined), zero joins —
    the previous plan joined the exploded positions against the
    hyperplane table (a planes-fold row inflation) and aggregated twice.
    Identical decimal sums → identical sign bits → identical buckets.
    """
    planes = list(range(bits * n_bands))
    e = _pos_explode(df.select(id_col, vec_col), vec_col, dim, "v")
    # one F.expr per plane (SQL text, not py4j column algebra — see
    # _dec_chain_sql): the literal weight array constant-folds, so each
    # update is one multiply + decimal cast into a map-side-combined sum
    aggs = []
    for p in planes:
        lits = ", ".join(
            f"CAST({_hyperplane_w(p, i)!r} AS DOUBLE)"
            for i in range(1, dim + 1)
        )
        aggs.append(
            F.expr(
                f"sum(CAST(v * element_at(array({lits}), i) AS DECIMAL(38,18)))"
            ).alias(f"__d{p}")
        )
    d = e.groupBy(id_col).agg(*aggs)
    band_structs = []
    for band in range(n_bands):
        bucket = None
        for j in range(bits):
            p = band * bits + j
            bit = (
                F.when(F.col(f"__d{p}") >= 0, F.lit(1 << j))
                .otherwise(F.lit(0))
                .cast("long")
            )
            bucket = bit if bucket is None else bucket + bit
        band_structs.append(
            F.struct(
                F.lit(band).cast("int").alias("band"), bucket.alias("bucket")
            )
        )
    return d.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("__bb")
    ).select(
        id_col,
        F.col("__bb.band").alias("band"),
        F.col("__bb.bucket").alias("bucket"),
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    bits: int = 4,
    n_bands: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-family member over
    vectors): hyperplane-LSH candidate generation → exact cosine rerank →
    ``cosine >= threshold``. Output: (id_a, id_b, cosine), id_a < id_b,
    distinct.

    Scale shape: candidates come from a (band, bucket) self equi-join —
    O(rows·bands) bucket rows, never an all-pairs cross join; the exact
    rerank touches only candidate pairs. Recall follows the LSH
    OR-construction: P(candidate) = 1-(1-(1-θ/π)^bits)^n_bands for angle
    θ — at high thresholds (near-dups) candidates are near-certain.
    """
    b = hyperplane_buckets(corpus, bits, n_bands, vec_col, id_col, dim)
    cand = band_pairs(b, id_col, ("band", "bucket"))
    side = _corpus_side(corpus, vec_col, id_col, dim)
    return (
        cand.join(
            side.select(
                F.col(id_col).alias("id_a"),
                F.col(vec_col).alias("__va"),
                F.col("nrm2").alias("na"),
            ),
            "id_a",
        )
        .join(
            side.select(
                F.col(id_col).alias("id_b"),
                F.col(vec_col).alias("__vb"),
                F.col("nrm2").alias("nb"),
            ),
            "id_b",
        )
        .withColumn("dot", _dot_col("__va", "__vb", dim).cast("double"))
        .withColumn("cosine", F.round(F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _sq_dists(e: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """Decimal-summed squared L2 distance of every (vector, centroid) pair.
    ``e`` is position-exploded (id, i, v); ``cent`` is (cid, i, c) and is
    broadcast (k·dim rows — centroids are control-plane-sized)."""
    d = F.col("v") - F.col("c")
    return (
        e.join(F.broadcast(cent), "i")
        .groupBy(id_col, "cid")
        .agg(F.sum((d * d).cast("decimal(38,18)")).alias("dist2"))
    )


def _nearest(dists: DataFrame, id_col: str, n: int) -> DataFrame:
    """(id, cid) of the ``n`` nearest centroids per id, ties broken by
    smallest cid — deterministic under any partitioning (dist2 is
    decimal-exact)."""
    w = Window.partitionBy(id_col).orderBy(F.col("dist2"), F.col("cid"))
    return (
        dists.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(id_col, "cid")
    )


def ivf_centroids(
    corpus: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """IVF coarse quantizer: deterministic k-means centroids as a
    (cid, i, c) table.

    Init = the k corpus vectors with the smallest md5(id) (no RNG — same
    centroids on any cluster/engine); ``n_iters`` FIXED Lloyd rounds
    (fixed, not convergence-tested, so job count and results are
    deterministic). Means accumulate in DECIMAL, assignments tie-break by
    cid, so every round is bit-reproducible. Centroids are collected to
    the driver per round — k·dim values, control-plane state (exactly
    what MLlib's k-means does between rounds)."""
    spark = corpus.sparkSession
    e = _pos_explode(corpus.select(id_col, vec_col), vec_col, dim, "v").select(
        id_col, "i", "v"
    )
    # Seed selection via orderBy().limit(k) — Catalyst's TakeOrderedAndProject
    # keeps the top-k per partition and merges k·partitions rows on the
    # driver. (A row_number over a global Window funneled the whole corpus
    # through ONE task — correct, but a single-executor bottleneck at 10^9
    # vectors.) k ids are control-plane state, same as the per-round
    # centroid collect below.
    seed_rows = (
        corpus.select(F.col(id_col).alias("_id"))
        .withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    seeds = local_frame(
        spark,
        [(r["_id"], cid) for cid, r in enumerate(seed_rows)],
        corpus.select(id_col).schema.add("cid", "integer"),
    )
    cent = (
        e.join(F.broadcast(seeds), id_col)
        .select("cid", "i", F.col("v").alias("c"))
    )
    for _ in range(n_iters):
        assign = _nearest(_sq_dists(e, cent, id_col), id_col, 1)
        upd = (
            e.join(assign, id_col)
            .groupBy("cid", "i")
            .agg(
                # exact decimal sum → double, THEN double division: both
                # steps are engine-portable (decimal/int division scale
                # rules differ between engines; double division doesn't)
                (F.sum(F.col("v").cast("decimal(38,18)")).cast("double")
                 / F.count(F.lit(1))).alias("c")
            )
        )
        rows = upd.collect()  # k·dim values — bounded control-plane state
        cent = local_frame(spark, rows, "cid int, i int, c double")
    return cent


def ivf_assign(
    corpus: DataFrame,
    cent: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """The inverted file: (vec_id, cid) — each vector filed under its
    nearest centroid. One broadcast join + one hash agg; the index itself
    is a table, so at 10^9 vectors it partitions like any fact table."""
    e = _pos_explode(corpus.select(id_col, vec_col), vec_col, dim, "v").select(
        id_col, "i", "v"
    )
    return _nearest(_sq_dists(e, cent, id_col), id_col, 1)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest centroid
    buckets per query, exact cosine rerank within them.

    Per-query cost is n_probe/n_centroids of the corpus instead of all of
    it; the candidate join is an equi-join on cid (shuffle bounded by the
    probed buckets), never an all-pairs cross join."""
    cent = ivf_centroids(corpus, n_centroids, n_iters, vec_col, id_col, dim)
    inv = ivf_assign(corpus, cent, vec_col, id_col, dim)
    qe = _pos_explode(queries.select(id_col, vec_col), vec_col, dim, "v").select(
        F.col(id_col).alias("qid"), "i", "v"
    )
    probes = _nearest(_sq_dists(qe, cent, "qid"), "qid", n_probe)
    cands = (
        inv.join(F.broadcast(probes), "cid")
        .filter(F.col("qid") != F.col(id_col))
        .select("qid", id_col)
        .distinct()
    )
    pairs = cands.join(_corpus_side(corpus, vec_col, id_col, dim), id_col).join(
        F.broadcast(_query_side(queries, vec_col, id_col, dim)), "qid"
    )
    return _cosine_topk(pairs, k, vec_col, id_col, dim)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    bits: int = 4,
    n_bands: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: banded-LSH candidates → exact cosine rerank.

    The (band, bucket) equi-join replaces the all-pairs cross join: at 10^9
    vectors, bits=16 and a handful of bands, each query reranks only its
    collision set — and the join shuffles on the bucket key, so corpus
    partitions never replicate."""
    qb = hyperplane_buckets(queries, bits, n_bands, vec_col, id_col, dim).select(
        F.col(id_col).alias("qid"), "band", "bucket"
    )
    cb = hyperplane_buckets(corpus, bits, n_bands, vec_col, id_col, dim)
    cands = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("qid") != F.col(id_col))
        .select("qid", id_col)
        .distinct()
    )
    pairs = cands.join(_corpus_side(corpus, vec_col, id_col, dim), id_col).join(
        F.broadcast(_query_side(queries, vec_col, id_col, dim)), "qid"
    )
    return _cosine_topk(pairs, k, vec_col, id_col, dim)


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    qid_col: str = "qid",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k evaluation of an approximate neighbor list against the
    exact one — THE acceptance metric for any ANN deployment (you
    never ship an LSH/IVF index without measuring what fraction of
    true neighbors it returns). Exact integer counts per query: size
    of the true set, and how many of them the approximate list hit.
    One left join on (query, neighbor) + one aggregate; both inputs
    are top-k-sized, so this is control-plane cheap no matter how big
    the corpus behind them was.
    """
    e = exact.select(F.col(qid_col).alias("qid"), F.col(id_col).alias("__id"))
    a = approx.select(
        F.col(qid_col).alias("qid"), F.col(id_col).alias("__id"), F.lit(1).alias("__hit")
    )
    return (
        e.join(a, ["qid", "__id"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hit"),
        )
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (Cormack et al. 2009
    — the standard zero-tuning hybrid-search combiner, e.g. BM25 +
    vector ranks): score = 1/(k + r_a) + 1/(k + r_b), items missing
    from one list contribute only their present term. The two terms
    are EXPLICIT columns added in literal order — a fixed IEEE tree,
    never a groupBy float sum — so the fused ordering is engine-exact.
    Full outer join on the id; both inputs are top-k-sized."""
    a = ranked_a.select(
        F.col(id_col).alias("__id"), F.col(rank_col).alias("__ra")
    )
    b = ranked_b.select(
        F.col(id_col).alias("__id"), F.col(rank_col).alias("__rb")
    )
    j = a.join(b, "__id", "full_outer")
    term_a = F.when(
        F.col("__ra").isNotNull(),
        F.lit(1.0) / (F.lit(float(k)) + F.col("__ra").cast("double")),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("__rb").isNotNull(),
        F.lit(1.0) / (F.lit(float(k)) + F.col("__rb").cast("double")),
    ).otherwise(F.lit(0.0))
    return j.select(
        F.col("__id").alias(id_col),
        F.col("__ra").alias("rank_a"),
        F.col("__rb").alias("rank_b"),
        F.round(term_a + term_b, 6).alias("rrf"),
    )
