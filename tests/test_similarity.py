import math

from pyspark.sql import functions as F

from cardinalhq_otel_collector_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    norms,
    sign_buckets,
)


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
        (4, [0.8, 0.2, 0.0, 0.0]),   # close to 0/1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_norms(spark):
    out = {r["vec_id"]: r["nrm2"] for r in norms(_vecs(spark), dim=4).collect()}
    assert out[0] == 1.0
    assert abs(out[1] - 0.82) < 1e-6  # float32 storage rounding


def test_brute_force_topk_exact(spark):
    df = _vecs(spark)
    q = df.filter(F.col("vec_id") == 0)
    out = brute_force_topk(q, df, k=2, dim=4).collect()
    ranked = sorted(out, key=lambda r: r["nn_rank"])
    assert [r["vec_id"] for r in ranked] == [1, 4]
    expect = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(ranked[0]["cosine"] - round(expect, 6)) < 1e-6
    assert ranked[0]["cosine"] > ranked[1]["cosine"]


def test_lsh_topk_matches_brute_force_within_bucket(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(q, emb, k=5)
    approx = lsh_topk(q, emb, k=5, bits=4, n_bands=8)
    exact_sets = {r["qid"]: set() for r in exact.collect()}
    for r in exact.collect():
        exact_sets[r["qid"]].add(r["vec_id"])
    # LSH results must be a subset of the corpus and self-excluded;
    # recall vs exact should be substantial on cluster-structured data
    hits = total = 0
    for r in approx.collect():
        assert r["vec_id"] != r["qid"]
        total += 1
        if r["vec_id"] in exact_sets.get(r["qid"], set()):
            hits += 1
    assert total > 0 and hits / total >= 0.4


def test_sign_buckets_deterministic(spark):
    df = _vecs(spark)
    a = {r["vec_id"]: r["bucket"] for r in sign_buckets(df).collect()}
    b = {r["vec_id"]: r["bucket"] for r in sign_buckets(df.repartition(3)).collect()}
    assert a == b
    assert a[0][0] == "1" and a[3][0] == "0"


def test_ivf_topk_exact_on_separated_clusters(spark):
    """On well-separated clusters, IVF (k=4 centroids, probe=1) must agree
    with brute force EXACTLY — and be reproducible across partitionings."""
    from cardinalhq_otel_collector_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from pyspark.sql import functions as F

    dim = 8
    rows = []
    for c in range(4):
        for m in range(40):
            vec = [0.01 * ((c * 40 + m) % 7)] * dim
            vec[c * 2] = 10.0 + 0.001 * m       # dominant cluster axis
            vec[c * 2 + 1] = 1.0 + 0.002 * m
            rows.append((c * 40 + m, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id").isin([0, 45, 90, 135]))

    exact = sorted(
        (r["qid"], r["nn_rank"], r["vec_id"])
        for r in brute_force_topk(q, emb, k=3, dim=dim).collect()
    )
    approx = ivf_topk(q, emb, k=3, n_centroids=4, n_probe=1, dim=dim).collect()
    assert sorted((r["qid"], r["nn_rank"], r["vec_id"]) for r in approx) == exact

    again = ivf_topk(
        q.repartition(3), emb.repartition(7), k=3, n_centroids=4, n_probe=1, dim=dim
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, approx))


def test_ivf_full_probe_equals_brute_force_with_ties(spark):
    """Probing every centroid makes the IVF candidate set the whole corpus,
    and IVF reranks through the same exact cosine top-k as brute force —
    so the two must agree row for row, cosine ties (broken by id at the
    k cut) included."""
    from cardinalhq_otel_collector_spark.operators.similarity import ivf_topk

    vecs = [
        [1.0, 0.0, 0.0, 0.0],
        [1.0, 1.0, 0.0, 0.0],
        [1.0, 0.0, 1.0, 0.0],   # ties 1 for query 0
        [0.0, 1.0, 1.0, 0.0],
        [2.0, 2.0, 0.0, 0.0],   # parallel to 1: ties it for every query
        [0.0, 0.0, 1.0, 1.0],
        [0.0, 0.0, 0.0, 1.0],
        [1.0, 0.0, 0.0, 1.0],   # ties 1, 2, 4 for query 0, past the k cut
        [0.5, 0.5, 0.5, 0.5],
        [1.0, 1.0, 1.0, 1.0],   # parallel to 8
        [-1.0, 0.0, 0.0, 0.0],
        [0.0, -1.0, 1.0, 0.0],
    ]
    emb = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id").isin([0, 1, 8]))
    cols = ["qid", "vec_id", "cosine", "nn_rank"]

    exact = sorted(map(tuple, brute_force_topk(q, emb, k=3, dim=4).select(cols).collect()))
    full = ivf_topk(q, emb, k=3, n_centroids=4, n_probe=4, dim=4).select(cols).collect()
    assert sorted(map(tuple, full)) == exact
    # query 0: four candidates tie at 1/sqrt(2); the k cut keeps the three
    # smallest ids
    assert [(r[1], r[2]) for r in exact if r[0] == 0] == [(1, 0.707107), (2, 0.707107), (4, 0.707107)]


def test_embedding_neardup_finds_planted_pair(spark):
    """A planted near-duplicate (tiny perturbation of another vector) must
    surface as a pair at threshold 0.9; orthogonal vectors must not."""
    import math

    from cardinalhq_otel_collector_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    dim = 8
    base = [1.0, 2.0, -1.0, 0.5, 3.0, -2.0, 1.5, 0.25]
    near = [x * 1.01 + (0.001 if i == 0 else 0) for i, x in enumerate(base)]
    ortho = [(-1.0) ** i * 1.0 for i in range(dim)]  # alternating, far from base
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, ortho)], "vec_id long, embedding array<double>"
    )
    rows = embedding_neardup_pairs(df, threshold=0.9, bits=2, n_bands=2, dim=dim).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)
    cos = [r["cosine"] for r in rows if (r["id_a"], r["id_b"]) == (0, 1)][0]
    assert cos > 0.999


def test_embedding_neardup_pairs_canonical_order(spark):
    """Pairs are distinct and canonical (id_a < id_b) even when candidates
    collide in multiple bands."""
    from cardinalhq_otel_collector_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 3 + 1)] * 8) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    rows = embedding_neardup_pairs(df, threshold=0.99, bits=2, n_bands=2, dim=8).collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert len({(r["id_a"], r["id_b"]) for r in rows}) == len(rows)
    # all-parallel vectors: every pair is cosine 1 — all 15 pairs survive
    assert len(rows) == 15


def test_hyperplane_literal_weights_match_table(spark):
    """Round-6 guard: the driver-side literal weights must be bit-equal to
    the hyperplane_table md5 expression for every (plane, i)."""
    from cardinalhq_otel_collector_spark.operators.similarity import (
        _hyperplane_w,
        hyperplane_table,
    )

    rows = hyperplane_table(spark, bits=8, dim=16).collect()
    assert len(rows) == 8 * 16
    for r in rows:
        assert r["w"] == _hyperplane_w(r["plane"], r["i"]), (r["plane"], r["i"])
