#!/usr/bin/env python
"""Benchmark harness.

Default mode (the benchmark contract): times the ``BENCH_QUERIES`` leaves of
``__spark_entry__.queries()`` over the tables at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], then the end-to-end transcript pipeline over a
generated transcript table scaled to the sf, and prints ONE JSON line:

  {"metric": "end_to_end_routed_turns_per_sec", "value": N, "unit": "...",
   "queries": {...}, "sf": ..., "stage_timings": {...}, ...}

--scaling: the N→4N scaling-efficiency target (BASELINE.md). Times the
pipeline in fresh subprocesses at two local[k] levels, alternating, over
ONE shared input; prints (T_low/T_high)/(k_high/k_low) from the minimum
time per level, with every sample.

--skew: salted vs unsalted pipeline on a 1000x hot conversation (appends
to BENCH.md). Paired A/B timing and per-layer splits live in perfbench/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Bench scratch (input table + warehouses) on tmpfs when available: on a
# single virtual disk, writeback noise confounds the timings (observed:
# stage timings inverting between runs).
_SCRATCH = "/dev/shm/bench" if os.path.isdir("/dev/shm") else None


def _mkdtemp(prefix: str) -> str:
    if _SCRATCH:
        os.makedirs(_SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH)

# entry queries timed in the default bench (names from __spark_entry__)
BENCH_QUERIES = [
    "pipeline_route_agg",
    "interval_agg",
    "delta_to_cumulative",
    "group_by_conv",
    "tpch_q1",
    "template_mining",
    "doc_minhash_lsh",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "sumo_marshal",
    "latency_histogram",
    "events_asof_join",
    "doc_decontaminate",
    "events_sessionize",
    "events_anomaly",
    "doc_chunk",
    "doc_neardup_dedup",
    "doc_pmi",
    "events_rate_limit",
    "events_heavy_hitters",
    "events_session_stats",
    "events_retention",
    "events_range_join",
    "events_funnel",
    "events_transitions",
    "part_edit_distance",
    "events_sliding_window",
    "events_new_users",
    "doc_entropy",
    "events_json_attrs",
    "events_interarrival",
    "events_paths",
    "doc_remove_boilerplate",
    "transcripts_integrity",
    # (doc_prefix_jaccard is correctness-board-only: the synthetic docs
    # corpus is ~20 templates, so >90% of all pairs qualify at tau=0.9 —
    # a density no real corpus has; timing it would measure output
    # materialization, not the prefix filter)
    "events_locf_resample",
    "events_cms_counts",
    "events_span_union",
    "events_exp_histogram",
    "events_table_diff",
    "events_histogram_quantile",
    "events_theil_sen",
    "events_state_dwell",
    "doc_surprisal",
]

# ~48M turns/sf → sf0.1 ≈ 4.8M turns (FIXTURES.md bench scale)
TURNS_PER_SF = 48_000_000
AVG_TURNS_PER_CONV = 8.0
# Best-of-N estimators: on a shared host a single timed run can be 2-3x
# off, and noise only ever slows a run.
PIPELINE_ATTEMPTS = 2
QUERY_ATTEMPTS = 3


def _cpu_ticks() -> tuple[int, int]:
    """(total_ticks, steal_ticks) from /proc/stat — to report hypervisor
    CPU steal alongside timings (this sandbox's host oversubscribes CPU;
    observed 10x swings on identical work)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except OSError:
        return 0, 0


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _n_convs(sf: float) -> int:
    return max(100, int(TURNS_PER_SF * sf / AVG_TURNS_PER_CONV))


def _build(cores: int):
    from cardinalhq_otel_collector_spark.session import build_spark

    shuffle = max(8, 2 * cores)
    return build_spark(
        app_name=f"bench-local{cores}",
        cores=cores,
        shuffle_partitions=shuffle,
        driver_mem=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    )


def _write_transcripts(spark, n_convs: int, partitions: int, path: str) -> None:
    from cardinalhq_otel_collector_spark.datagen import transcripts

    transcripts(spark, n_convs=n_convs, hot_convs=max(2, n_convs // 1000),
                partitions=partitions).write.mode("overwrite").parquet(path)


def run_pipeline_bench(spark, n_convs: int, cores: int, src: str | None = None) -> dict:
    """End-to-end: generate transcripts → decorate → fan-out write → aggs.

    ``src``: the shared input of a --scaling run, kept and timed once (the
    scaling run repeats the subprocesses); else a private input, best of
    PIPELINE_ATTEMPTS."""
    from cardinalhq_otel_collector_spark.config import PipelineConfig
    from cardinalhq_otel_collector_spark.datagen import routing_rules, transcripts
    from cardinalhq_otel_collector_spark.plans.pipeline import run_pipeline
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    own_src = src is None
    src = src or _mkdtemp("bench_src_")
    warm_wh = _mkdtemp("bench_warm_")
    try:
        # PipelineConfig's "day" layout: "hour" multiplies the leaf
        # directories, and so the files written and re-read, about 8x
        # (BENCH.md round 4: 82.4 s vs 49.4 s at sf0.1).
        cfg = PipelineConfig(rules=routing_rules(), salt_partitions=2 * cores)
        # untimed warm-up: JIT/codegen compile on a tiny run so the timed
        # run measures steady-state throughput, not JVM warm-up
        warm = transcripts(spark, n_convs=500, partitions=cores)
        run_pipeline(spark, warm, Catalog(spark, warm_wh), config=cfg, run_id="warmup")

        # materialize the input table UNTIMED: the pipeline under test reads
        # parquet from disk like a real deployment reads Iceberg — generator
        # CPU must not pollute the throughput number.
        src_table = os.path.join(src, "transcripts")
        if not os.path.exists(os.path.join(src_table, "_SUCCESS")):
            _write_transcripts(spark, n_convs, 4 * cores, src_table)
        df = spark.read.parquet(src_table)
        n_turns = df.count()
        best = None
        for attempt in range(PIPELINE_ATTEMPTS if own_src else 1):
            wh = _mkdtemp("bench_wh_run_")
            catalog = Catalog(spark, wh)
            tot0, st0 = _cpu_ticks()
            t0 = time.perf_counter()
            summary = run_pipeline(spark, df, catalog, config=cfg, run_id=f"bench{attempt}")
            elapsed = time.perf_counter() - t0
            tot1, st1 = _cpu_ticks()
            steal = round(100.0 * (st1 - st0) / max(tot1 - tot0, 1), 2)
            shutil.rmtree(wh, ignore_errors=True)
            if best is None or elapsed < best[0]:
                best = (elapsed, summary.get("timings", {}), steal)
        elapsed, timings, steal = best
        return {"n_turns": n_turns, "pipeline_sec": elapsed,
                "turns_per_sec": n_turns / elapsed,
                "steal_pct": steal,
                "stage_timings": timings}
    finally:
        shutil.rmtree(warm_wh, ignore_errors=True)
        if own_src:
            shutil.rmtree(src, ignore_errors=True)


def run_query_bench(spark, sf_dir: str) -> dict[str, float]:
    """Best of QUERY_ATTEMPTS per query. Attempt 0 also absorbs each
    query's plan compilation, so the minimum is closer to steady-state
    cost. The full query set is re-interleaved per attempt (not N
    back-to-back runs of one query) to decorrelate each query's min from
    any single noise episode."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out: dict[str, float] = {}
    for _ in range(QUERY_ATTEMPTS):
        for name in BENCH_QUERIES:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            el = round(time.perf_counter() - t0, 3)
            if name not in out or el < out[name]:
                out[name] = el
    return out


def main_default(sf_dir: str, cores: int, skip_queries: bool = False,
                 src: str | None = None) -> dict:
    sf = _sf_from_dir(sf_dir)
    spark = _build(cores)
    try:
        queries = {} if skip_queries else run_query_bench(spark, sf_dir)
        pipe = run_pipeline_bench(spark, _n_convs(sf), cores, src=src)
    finally:
        spark.stop()
    return {
        "metric": "end_to_end_routed_turns_per_sec",
        "value": round(pipe["turns_per_sec"], 1),
        "unit": "turns/sec",
        "queries": queries,
        "sf": sf,
        "pipeline_sec": round(pipe["pipeline_sec"], 3),
        "steal_pct": pipe.get("steal_pct"),
        "stage_timings": pipe.get("stage_timings", {}),
        "n_turns": pipe["n_turns"],
        "cores": cores,
    }


def main_scaling(sf_dir: str, low: int, high: int, rounds: int = 3) -> dict:
    """Alternating best-of-``rounds`` per parallelism level.

    Each round runs one low and one high subprocess over the same input;
    the MINIMUM time per level is the noise-robust estimate of intrinsic
    cost."""
    sf = _sf_from_dir(sf_dir)
    src = _mkdtemp("bench_scaling_src_")
    samples: dict[int, list[dict]] = {low: [], high: []}
    try:
        # Generate the shared input once, untimed, at full host
        # parallelism. 4*low files, not 4*high: fewer, bigger files give
        # bigger parquet row groups and a faster scan (measured at 20.1M
        # turns, local[4]: 16-file input 156.2 s vs 4-file 129.2 s).
        spark = _build(os.cpu_count() or 8)
        try:
            _write_transcripts(spark, _n_convs(sf), 4 * low,
                               os.path.join(src, "transcripts"))
        finally:
            spark.stop()
        for _ in range(rounds):
            for cores in (low, high):
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--sf-dir", sf_dir,
                     "--cores", str(cores), "--pipeline-only", "--src", src],
                    capture_output=True, text=True, cwd=REPO, timeout=5400,
                )
                if proc.returncode:
                    raise RuntimeError(
                        f"local[{cores}] run failed:\n{proc.stderr[-2000:]}")
                line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
                samples[cores].append(json.loads(line))
    finally:
        shutil.rmtree(src, ignore_errors=True)

    best = {c: min(samples[c], key=lambda r: r["pipeline_sec"]) for c in (low, high)}
    eff = (best[low]["pipeline_sec"] / best[high]["pipeline_sec"]) / (high / low)
    return {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": f"speedup/(cores ratio) local[{low}]->local[{high}]",
        "throughput_low": best[low]["value"],
        "throughput_high": best[high]["value"],
        "n_turns": best[low]["n_turns"],
        "sf": sf,
        "rounds": rounds,
        "samples": {
            str(c): [{"pipeline_sec": s["pipeline_sec"],
                      "us_per_turn": round(1e6 * s["pipeline_sec"] / s["n_turns"], 2),
                      "steal_pct": s["steal_pct"]}
                     for s in samples[c]]
            for c in (low, high)
        },
    }


def main_skew(cores: int = 8, n_convs: int = 40_000, hot_multiplier: int = 1000) -> dict:
    """North-rule skew evidence: one conversation carries ~1000x the turns.

    Without salting the whole hot conversation hashes to ONE shuffle
    partition of the pre-write repartition — a straggler task bounds the
    stage. With salting (pmod(xxhash64(conv_id, turn_idx), salt)) the hot
    conversation spreads across salt buckets. Reported: routed_write time
    salt=0 vs salt=4*cores on the identical skewed input.
    """
    from pyspark.sql import functions as F

    from cardinalhq_otel_collector_spark.config import PipelineConfig
    from cardinalhq_otel_collector_spark.datagen import routing_rules, transcripts
    from cardinalhq_otel_collector_spark.plans.pipeline import run_pipeline
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    spark = _build(cores)
    try:
        src = _mkdtemp("bench_skew_src_")
        transcripts(
            spark, n_convs=n_convs, hot_convs=1, hot_multiplier=hot_multiplier,
            partitions=4 * cores,
        ).write.mode("overwrite").parquet(src + "/t")
        df = spark.read.parquet(src + "/t")
        n = df.count()
        hot = df.groupBy("conv_id").count().orderBy(F.desc("count")).limit(1).collect()[0]
        timings = {}
        for salt in (0, 4 * cores):
            cfg = PipelineConfig(rules=routing_rules(), salt_partitions=salt)
            best = None
            for attempt in range(2):
                wh = _mkdtemp(f"bench_skew_wh_{salt}_")
                t0 = time.perf_counter()
                s = run_pipeline(spark, df, Catalog(spark, wh), config=cfg,
                                 run_id=f"skew{salt}-{attempt}")
                el = time.perf_counter() - t0
                shutil.rmtree(wh, ignore_errors=True)
                if best is None or el < best[0]:
                    best = (el, s["timings"])
            timings[salt] = best
        shutil.rmtree(src, ignore_errors=True)
    finally:
        spark.stop()
    report = {
        "metric": "skew_salting_speedup",
        "value": round(timings[0][0] / timings[4 * cores][0], 3),
        "unit": f"T(salt=0)/T(salt={4*cores}) at {hot_multiplier}x hot conv",
        "n_turns": n,
        "hot_conv_turns": hot["count"],
        "salt0": timings[0],
        "salted": timings[4 * cores],
    }
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(
            f"\n## Skew run ({time.strftime('%Y-%m-%d %H:%M:%S')}, local[{cores}], "
            f"best of 2 per config)\n\n"
            f"{n} turns, hottest conversation = {hot['count']} turns "
            f"(~{hot_multiplier}x median).\n\n"
            f"| config | pipeline sec | stage timings |\n|---|---|---|\n"
            f"| salt=0 | {timings[0][0]:.1f} | {timings[0][1]} |\n"
            f"| salt={4*cores} | {timings[4*cores][0]:.1f} | {timings[4*cores][1]} |\n\n"
            f"Salting speedup under skew: **{report['value']}x** (north-rule "
            f"skew obligation: salted repartitioning on conv_id).\n"
        )
    return report


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--skew", action="store_true",
                    help="hot-conversation salting benchmark (appends to BENCH.md)")
    ap.add_argument("--scaling-low", type=int, default=8)
    ap.add_argument("--scaling-high", type=int, default=32)
    ap.add_argument("--pipeline-only", action="store_true",
                    help="skip query timings (used by --scaling subprocesses)")
    # the shared input table --scaling hands to its subprocesses
    ap.add_argument("--src", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.skew:
        out = main_skew(args.cores)
    elif args.scaling:
        out = main_scaling(args.sf_dir, args.scaling_low, args.scaling_high)
    else:
        out = main_default(args.sf_dir, args.cores, skip_queries=args.pipeline_only,
                           src=args.src)
    print(json.dumps(out))
