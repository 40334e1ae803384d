import ast
import hashlib
import pathlib
from datetime import datetime

from pyspark.sql import functions as F

import cardinalhq_otel_collector_spark as pkg
from cardinalhq_otel_collector_spark.functions import (
    clamp_int64,
    deterministic_bucket,
    json_line,
    md5_int,
    object_key,
    strftime_partition_key,
    url_encode,
)

I64_MAX = 2**63 - 1


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_partition_key_golden(spark):
    """Byte-exact partition keys, mirroring partition_test.go:120-151."""
    ts = F.to_timestamp(F.lit("2024-01-24 06:40:13"))
    assert (
        _one(spark, strftime_partition_key(ts))
        == "year=2024/month=01/day=24/hour=06/minute=40"
    )
    assert _one(spark, strftime_partition_key(ts, "hour")) == "year=2024/month=01/day=24/hour=06"


def test_object_key_golden(spark):
    ts = F.to_timestamp(F.lit("2024-01-24 06:40:13"))
    key = object_key(ts, "base/path/telemetry", "signal-", "metrics", F.lit("p007"), fmt="gz")
    assert (
        _one(spark, key)
        == "base/path/telemetry/year=2024/month=01/day=24/hour=06/minute=40/signal-metrics_p007.gz"
    )


def test_url_encode(spark):
    assert _one(spark, url_encode(F.lit("a b/c+d"))) == "a+b%2Fc%2Bd"


def test_clamp(spark):
    assert _one(spark, clamp_int64(F.lit(12))) == 12
    big = spark.createDataFrame([(float(2**64),)], "x double")
    assert big.select(clamp_int64(F.col("x")).alias("v")).collect()[0]["v"] == float(I64_MAX)


def test_json_line(spark):
    line = _one(spark, json_line(a=F.lit("x"), n=F.lit(3)))
    assert line == '{"a":"x","n":3}'


def test_deterministic_bucket_uniform(spark):
    df = spark.range(10000).select(deterministic_bucket(F.col("id"), 10).alias("b"))
    counts = {r["b"]: r["n"] for r in df.groupBy("b").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == set(range(10))
    assert all(abs(n - 1000) < 150 for n in counts.values())


def test_md5_int_matches_hashlib(spark):
    words = ["", "abc", "doc-42|7", "naïve 日本 🙂"]
    df = spark.createDataFrame([(w,) for w in words] + [(None,)], "s string")
    for d in (8, 13):
        got = {r["s"]: r["h"] for r in df.select("s", md5_int(F.col("s"), d).alias("h")).collect()}
        want = {w: int(hashlib.md5(w.encode()).hexdigest()[:d], 16) for w in words}
        assert got == {**want, None: None}, d


def _conv_over_md5(tree: ast.AST) -> bool:
    """Whether any ``conv(...)`` call has an ``md5(...)`` call inside its
    arguments: the md5 -> integer recipe written out by hand."""

    def name(call: ast.Call) -> str:
        f = call.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")

    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and name(node) == "conv":
            for arg in node.args:
                if any(isinstance(n, ast.Call) and name(n) == "md5" for n in ast.walk(arg)):
                    return True
    return False


def test_md5_integer_recipe_lives_only_in_md5_int():
    root = pathlib.Path(pkg.__file__).parent
    found = {
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if _conv_over_md5(ast.parse(p.read_text()))
    }
    # the helper's own module must be seen, or the walk is out of date
    assert found == {"functions/__init__.py"}, found
