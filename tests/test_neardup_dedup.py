from pyspark.sql import functions as F

from cardinalhq_otel_collector_spark.operators.dedup import (
    neardup_components,
    neardup_dedup,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, ["id_a", "id_b"])


def _docs(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], ["doc_id"])


def test_neardup_dedup_hand_computed(spark):
    # chain 1-2-3 closes transitively; 5-6 separate; 4,7 unpaired
    docs = _docs(spark, [1, 2, 3, 4, 5, 6, 7])
    out = neardup_dedup(docs, _pairs(spark, [(1, 2), (2, 3), (5, 6)]))
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in out.collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 5: (5, True), 6: (5, False), 7: (7, True),
    }


def test_neardup_components_driver_vs_distributed_agree(spark):
    # a larger random-ish graph; driver_max_rows=1 forces the
    # distributed min-label path on the same input
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(0, 38), (7, 9), (9, 11)]
    pairs = _pairs(spark, edges)
    a = {tuple(r) for r in neardup_components(pairs).collect()}
    b = {tuple(r) for r in neardup_components(pairs, driver_max_rows=1).collect()}
    assert a == b and len(a) > 0
    # string ids whose '_'-joined pair keys collide: both edges would
    # read "a_b_c", yet {a, b_c} and {a_b, c} are separate components
    pairs = spark.createDataFrame([("a_b", "c"), ("a", "b_c")], "id_a string, id_b string")
    want = {("a", "a"), ("b_c", "a"), ("a_b", "a_b"), ("c", "a_b")}
    for bound in (400_000, 1):
        assert {tuple(r) for r in neardup_components(pairs, driver_max_rows=bound).collect()} == want


def test_neardup_dedup_empty_pairs(spark):
    docs = _docs(spark, [10, 20])
    out = neardup_dedup(docs, spark.createDataFrame([], "id_a long, id_b long"))
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in out.collect()}
    assert got == {10: (10, True), 20: (20, True)}


def test_neardup_dedup_broadcast_plan(spark):
    # below the driver bound the mapping must broadcast — the docs side
    # of the join never shuffles
    docs = _docs(spark, [1, 2, 3])
    out = neardup_dedup(docs, _pairs(spark, [(1, 2)]))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "python" not in plan.lower()
