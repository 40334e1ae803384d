"""Physical-plan quality gates — the 100TB obligations checked on the
actual executed plans (SURVEY.md §4):

  * filters/projection reach the parquet scan (PushedFilters/ReadSchema)
  * lookup joins go broadcast, never shuffle the fact stream
  * the decorate chain stays whole-stage-codegen JVM (no Python nodes),
    and driver-built tables are LocalTableScans, not Python-RDD scans
  * the S2 MinHash bands are one aggregation (one exchange, no join), and
    the MinHash/SimHash candidate bands are one projection (no union)
  * partitioned reads prune to one sink directory

plus source gates on the streaming code and the entry module: one
replay harness, one board table, one scratch owner, one reader for the
fixed parquet inputs, and no pandas state machine that re-implements the
native watermarked interval aggregate.
"""

import ast
import os
import pathlib
import subprocess
import sys

from pyspark.sql import functions as F

import cardinalhq_otel_collector_spark as pkg
from cardinalhq_otel_collector_spark.config import PipelineConfig
from cardinalhq_otel_collector_spark.datagen import routing_rules, tool_lookup
from cardinalhq_otel_collector_spark.operators.dedup import (
    minhash_lsh_candidates,
    simhash_candidates,
)
from cardinalhq_otel_collector_spark.operators.enrich import enrich
from cardinalhq_otel_collector_spark.operators.fingerprint import (
    cluster_templates,
    fingerprint,
    template_bands,
)
from cardinalhq_otel_collector_spark.plans.pipeline import ROUTED_TABLE, decorate, run_pipeline
from cardinalhq_otel_collector_spark.session import local_frame


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(100).withColumn("k", F.col("id") % 7).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("id") > 50).select("id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,50)]" in plan
    assert "ReadSchema: struct<id:bigint>" in plan  # column pruning: k dropped


def test_enrich_is_broadcast_join(spark, transcripts_df):
    out = enrich(transcripts_df, tool_lookup(spark), "tool")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_decorate_chain_is_jvm_only(spark, transcripts_df):
    cfg = PipelineConfig(rules=routing_rules()).validate()
    df = decorate(transcripts_df, cfg)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # after execution the finalized AQE plan must be codegen'd end-to-end
    df.write.format("noop").mode("overwrite").save()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in final
    # a table built from a Python list scans a pickled Python RDD: every
    # job that reads it waits on Python worker tasks
    assert "ExistingRDD" not in final


def test_cluster_map_is_local_relation(spark):
    """The driver union-find's cluster map joins back as a LocalTableScan,
    so the clusters write starts no Python worker."""
    texts = spark.range(60).select(
        F.concat(F.lit("user "), F.col("id"), F.lit(" logged in from host-"), F.col("id") % 4)
        .alias("text")
    )
    out = cluster_templates(fingerprint(texts).select("template", "fingerprint").distinct())
    plan = _plan(out)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "Python" not in plan


def test_template_bands_is_one_aggregation(spark):
    """The MinHash bands are one hash aggregation per fingerprint: no
    distinct passes, no join back to the templates, no per-band union."""
    rows = [("conn <num> from host", 1), ("user <id> did x", 2), ("conn <num> from host", 1)]
    plan = _plan(template_bands(local_frame(spark, rows, "template string, fingerprint long")))
    assert "Union" not in plan and "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_lsh_candidates_build_bands_in_one_projection(spark):
    """The MinHash and SimHash candidate operators take all their band
    keys from one explode over the signatures: no per-band union branch,
    so the signature aggregate runs once."""
    docs = local_frame(
        spark,
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumped"), (3, "lorem ipsum")],
        "doc_id long, text string",
    )
    for cands in (minhash_lsh_candidates(docs), simhash_candidates(docs)):
        assert "Union" not in _plan(cands)


def test_routed_read_prunes_to_sink_partition(spark, transcripts_df, warehouse):
    """A sink filter over the routed table (how the marshal stage reads
    one sink) is a partition filter: the scan opens only that sink's
    directory."""
    run_pipeline(spark, transcripts_df, warehouse, run_id="plans")
    pruned = warehouse.read(ROUTED_TABLE).where(F.col("sink") == "errors")
    assert pruned.select("sink").distinct().collect()[0]["sink"] == "errors"
    full = warehouse.read(ROUTED_TABLE)
    assert pruned.count() < full.count()

    def n_files(d):
        return sum(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs)

    pruned.collect()
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().head()
    n_read = scan.metrics().apply("numFiles").value()
    routed = warehouse.path(ROUTED_TABLE)
    assert 0 < n_read == n_files(os.path.join(routed, "sink=errors")) < n_files(routed)


def test_aggregate_is_partial_then_final(spark, transcripts_df):
    agg = transcripts_df.groupBy("conv_id").count()
    plan = _plan(agg)
    # two HashAggregate nodes around the exchange = map-side combine
    assert plan.count("HashAggregate") >= 2


def test_entry_stages_and_sinks_streams_in_one_place():
    """Every streaming board entry goes through _replay/_drain: the entry
    module starts a streaming sink once and stages microbatch files
    (mtime-ordered) once."""
    src = pathlib.Path(pkg.__file__).parent.parent / "__spark_entry__.py"
    tree = ast.parse(src.read_text())
    attrs = [n for n in ast.walk(tree) if isinstance(n, ast.Attribute)]
    assert sum(a.attr == "writeStream" for a in attrs) == 1
    assert sum(
        a.attr == "utime" and getattr(a.value, "id", "") == "os" for a in attrs
    ) == 1


def test_entry_board_and_scratch_declared_in_one_place():
    """Each board entry is declared once, in _board(): no dict literal in
    the entry module maps more than 20 entry names (a second registry to
    keep in sync). Entry scratch directories come from _scratch(), the
    module's only mkdtemp call."""
    import __spark_entry__ as entry

    tree = ast.parse(pathlib.Path(entry.__file__).read_text())
    calls = [n.func for n in ast.walk(tree) if isinstance(n, ast.Call)]
    assert sum(
        getattr(f, "attr", None) == "mkdtemp" or getattr(f, "id", None) == "mkdtemp"
        for f in calls
    ) == 1
    names = set(entry.queries())
    for d in (n for n in ast.walk(tree) if isinstance(n, ast.Dict)):
        keys = {k.value for k in d.keys if isinstance(k, ast.Constant)}
        assert len(keys & names) <= 20, sorted(keys & names)[:5]


def test_entry_fixed_inputs_read_through_scan():
    """Every read of a fixed parquet input in the entry module — an
    ``sf_dir`` table or a ``*_FIXTURE`` file — goes through ``_scan``, which
    passes the cached schema so a warm read launches no inference job.
    Reads of output an entry has just written stay plain reads."""
    import __spark_entry__ as entry

    def fixed(arg: ast.expr) -> bool:
        names = {n.id for n in ast.walk(arg) if isinstance(n, ast.Name)}
        return (isinstance(arg, ast.JoinedStr) and "sf_dir" in names) or (
            isinstance(arg, ast.Name) and arg.id.endswith("_FIXTURE")
        )

    tree = ast.parse(pathlib.Path(entry.__file__).read_text())
    outside = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef) or fn.name == "_scan":
            continue
        for n in ast.walk(fn):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "parquet"
                and "read" in ast.unparse(n.func.value)
                and any(fixed(a) for a in n.args)
            ):
                outside.append(f"{fn.name}:{n.lineno}")
    assert not outside, outside
    assert sum(
        isinstance(n, ast.Call) and getattr(n.func, "id", None) == "_scan"
        for n in ast.walk(tree)
    ) >= 5  # _read plus the four fixture entries


def test_entry_scratch_is_removed_at_exit():
    """A _scratch() directory lives until its process exits and not
    after: board runs leave nothing behind in the temp dir."""
    root = pathlib.Path(pkg.__file__).parent.parent
    out = subprocess.run(
        [sys.executable, "-c",
         "import os, __spark_entry__ as e; p = e._scratch('x'); print(p, os.path.isdir(p))"],
        cwd=root, capture_output=True, text=True, check=True,
    ).stdout.split()
    assert out[1] == "True"
    assert not os.path.exists(out[0])
    assert not os.path.exists(os.path.dirname(out[0]))


def test_no_pandas_state_machine_for_interval_buckets():
    """A6 (emit each interval bucket once) is the native watermarked
    window aggregate. No applyInPandasWithState function in the package
    may emit interval buckets on event-time timers: that is the same rows
    with a per-key Python loop in the way."""
    root = pathlib.Path(pkg.__file__).parent
    timer_names = {"EventTimeTimeout", "getCurrentWatermarkMs", "bucket_start"}
    seen, forks = set(), set()
    for p in root.rglob("*.py"):
        for fn in ast.walk(ast.parse(p.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            nodes = list(ast.walk(fn))
            if not any(
                isinstance(n, ast.Attribute) and n.attr == "applyInPandasWithState"
                for n in nodes
            ):
                continue
            name = f"{p.relative_to(root)}:{fn.name}"
            seen.add(name)
            used = {getattr(n, "attr", None) for n in nodes} | {
                n.value for n in nodes if isinstance(n, ast.Constant)
            }
            if used & timer_names:
                forks.add(name)
    # the surviving stateful operators must be seen, or the walk is out of date
    assert seen == {
        "streaming/stateful_agg.py:stateful_changes_only",
        "streaming/stateful_agg.py:stateful_rate_limit",
    }, seen
    assert not forks, forks
