#!/usr/bin/env python3
"""Benchmark of the transcript pipeline and the query board.

    python3 perfbench/run.py --workload pipeline_hour_marshal --seed 1 \\
        --seconds 5 --trace 0

Run from the root of a checkout. Each run is one process: it sets up
``SETUPS`` times (Spark session + input materialisation) and reports the
median, computes the expected output digests with DuckDB, makes one untimed
full-size warm-up pass, then runs timed passes for ``--seconds`` (at least
one), checking every pass. With ``--trace 1`` it then rebuilds the session
with Spark's event log on, repeats the passes traced, runs the layer probes
and reports the per-layer metrics instead of the end-to-end ones.

Every metric is printed as median, quartiles and sample count; the last
stdout line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. Per-pass records and spans are written to
``.perfbench/results/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

SETUPS = 3
DRIVER_MEM = "3g"

WORKLOADS = ("pipeline_hour_marshal", "query_board", "pipeline_day")

# The end-to-end metrics of BENCHMARK.json, common to every workload.
END_TO_END = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of a traced run, in BENCHMARK.json order."""
    from workloads import BOARD_LEAVES, MARSHAL_SINKS, PREFIXES, STAGES

    units = {
        "setup.session_s": "s", "setup.input_s": "s", "setup.warmup_s": "s",
        "scan.splits": "count", "scan.input_bytes": "bytes",
    }
    units.update({f"op.{p}_s": "s" for p in PREFIXES})
    units.update({"op.write_commit_s": "s", "routed_write.shuffle_write_bytes": "bytes"})
    for st in STAGES:
        units[f"stage.{st}_s"] = "s"
        units.update({f"{st}.{k}": "s" for k in ("task_s", "cpu_s", "gc_s")})
        units.update({f"{st}.{k}": "bytes" for k in ("spill_bytes", "input_bytes", "output_bytes")})
        units.update({f"{st}.{k}": "count" for k in ("tasks", "files")})
    units.update({
        "clusters.templates": "count", "clusters.n": "count",
        "aggregates.fast_path_s": "s", "aggregates.generic_s": "s",
    })
    units.update({f"marshal.{fmt}_s": "s" for fmt in MARSHAL_SINKS.values()})
    units.update({
        "marshal.python_eval_s": "s", "lineage.commit_s": "s", "lineage.resume_s": "s",
    })
    units.update({f"leaf.{n}_s": "s" for n in BOARD_LEAVES})
    units.update({
        "board.shuffle_bytes": "bytes", "board.gc_s": "s", "board.spill_bytes": "bytes",
        "trace.overhead_frac": "ratio",
    })
    return units


def _stats(xs: list[float]) -> tuple[float, float, float, int]:
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v, len(xs)
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, len(xs)


def _peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return kb / 1024.0


def _session(work: str, event_log: str | None = None):
    from cardinalhq_otel_collector_spark.session import build_spark
    from workloads import CORES

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # no hsperfdata file in the system temp directory; a fixed set of
        # JIT compiler threads, whose CPU process_cpu_s leaves out
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return build_spark(
        app_name="perfbench", cores=CORES, shuffle_partitions=2 * CORES,
        driver_mem=DRIVER_MEM, extra_conf=conf,
    )


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _make(name: str, work: str, seed: int):
    from workloads import MARSHAL_SINKS, Board, Pipeline

    if name == "pipeline_day":
        return Pipeline(work, seed, "day", {})
    if name == "pipeline_hour_marshal":
        return Pipeline(work, seed, "hour", MARSHAL_SINKS)
    return Board(ROOT)


def _timed_loop(wl, spark, seconds: float, tracer=None, n_min: int = 1) -> list[dict]:
    """Closed loop: the next pass starts only after the previous one ends;
    passes start until ``seconds`` have gone by, and at least ``n_min`` run."""
    passes: list[dict] = []
    t_end = time.perf_counter() + seconds
    while len(passes) < n_min or time.perf_counter() < t_end:
        passes.append(wl.run_pass(spark, len(passes), tracer))
    return passes


def run(args) -> dict:
    import spans as tr

    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark scratch, Python temp files and the workers' import path all
    # point into the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    wl = _make(args.workload, work, args.seed)
    spark = None
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _session(work)
            t1 = time.perf_counter()
            wl.materialise(spark)
            setups.append({"session_s": t1 - t0, "input_s": time.perf_counter() - t1})
        wl.expect(spark, args.perturb_digest)
        warm = wl.warm_up(spark)
        passes = _timed_loop(wl, spark, args.seconds)
        peak_rss = _peak_rss_mb(spark)
        records = {"workload": args.workload, "seed": args.seed, "setups": setups,
                   "warm_up": warm, "passes": passes}
        all_ops = [warm] + passes
        series = {
            "setup_s": [s["session_s"] + s["input_s"] for s in setups],
            "pass_s": [p["seconds"] for p in passes],
            "pass_cpu_s": [p["cpu_s"] for p in passes],
            "peak_rss_mb": [peak_rss],
            **wl.summary(passes),
        }
        if args.trace:
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            tracer = tr.Tracer(f"{args.workload}-{args.seed}")
            spark = _session(work, event_log=log_dir)
            traced = _timed_loop(wl, spark, 0, tracer, n_min=len(passes))
            probe = wl.probe(spark, tracer, traced[-1])
            _shutdown(spark)  # flushes the event log
            spark = None
            layers = dict.fromkeys(per_layer_units(), 0.0)
            layers.update(wl.layers(traced, probe, tr.fold_event_log(log_dir), tracer))
            layers["setup.session_s"] = statistics.median(s["session_s"] for s in setups)
            layers["setup.input_s"] = statistics.median(s["input_s"] for s in setups)
            layers["setup.warmup_s"] = warm["seconds"]
            layers["trace.overhead_frac"] = (
                statistics.median(p["seconds"] for p in traced)
                / statistics.median(series["pass_s"]) - 1.0)
            records.update(traced=traced, probe=probe, layers=layers, spans=tracer.spans)
            all_ops += traced + [probe]
        records["series"] = series
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r["ops"] for r in all_ops)
    failed = sum(r["failed"] for r in all_ops)
    series["failed_frac"] = [failed / attempted]
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, "results", f"{tag}.json"), "w") as f:
        json.dump(records, f, indent=1, default=str)

    print(f"# {tag}: {attempted} operations, {failed} failed")
    print(f"{'metric':<32} {'unit':<8} {'median':>12} {'q1':>12} {'q3':>12} {'n':>3}")
    for name, xs in series.items():
        med, q1, q3, n = _stats(xs)
        unit = END_TO_END.get(name) or _EXTRA_UNITS[name]
        print(f"{name:<32} {unit:<8} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} {n:>3}")
    if args.trace:
        units = per_layer_units()
        print(f"{'layer metric (traced run)':<40} {'unit':<8} {'value':>14}")
        for name, unit in units.items():
            print(f"{name:<40} {unit:<8} {records['layers'][name]:>14.6g}")
        metrics = {k: {"value": records["layers"][k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": _stats(series[k])[0], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


_EXTRA_UNITS = {
    "turns_per_s": "turns/s", "bytes_per_turn": "B/turn", "board_s": "s",
    "leaf_geomean_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb-digest", action="store_true",
                    help="make one expected digest wrong; the run must report failed operations")
    args = ap.parse_args(argv)
    # fail before any output when the program is not in the checkout
    import cardinalhq_otel_collector_spark  # noqa: F401

    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
