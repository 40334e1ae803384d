"""The benchmark's workloads.

Each workload is a single-process closed loop: one client issues the next
pass only after the previous one has finished. A workload object owns its
inputs and their expected digests and exposes:

- ``materialise(spark)``: write the inputs (part of set-up);
- ``expect(spark, perturb)``: compute the expected digests once, outside
  the timed region; ``perturb`` makes one digest deliberately wrong;
- ``warm_up(spark)``: one untimed full-size pass;
- ``run_pass(spark, i, tracer)``: one timed pass, checked against the
  digests; returns a record with ``seconds``, ``ops`` and ``failed``;
- ``layers(...)``: the per-layer metrics of a traced run.

An operation is one ``run_pipeline`` call or one board leaf. An operation
that raises or fails its output check counts as failed; the run carries on.
"""

from __future__ import annotations

import ast
import datetime
import functools
import math
import os
import shutil
import statistics
import time

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import spans as tr

from cardinalhq_otel_collector_spark.config import PipelineConfig
from cardinalhq_otel_collector_spark.datagen import (
    role_lookup,
    routing_rules,
    tool_lookup,
    transcripts,
)
from cardinalhq_otel_collector_spark.operators.enrich import enrich
from cardinalhq_otel_collector_spark.operators.fingerprint import fingerprint
from cardinalhq_otel_collector_spark.operators.parse import parse_keyvalue
from cardinalhq_otel_collector_spark.operators.redact import DEFAULT_PII_PATTERNS, redact
from cardinalhq_otel_collector_spark.operators.route import route
from cardinalhq_otel_collector_spark.plans.lineage import LineageLog
from cardinalhq_otel_collector_spark.plans.pipeline import (
    AGG_TABLE,
    CLUSTERS_TABLE,
    MARSHAL_TABLE_PREFIX,
    ROUTED_TABLE,
    run_pipeline,
    slim_facts,
)
from cardinalhq_otel_collector_spark.sources.catalog import Catalog

CORES = min(os.cpu_count() or 1, 4)
# The repository's fixed testdata at scale factor 0.01, kept in the benchmark's
# own directory so that a run reads only inside its checkout.
BOARD_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")

# Conversations kept per input after the seed filter (about 25k turns).
PIPELINE_CONVS = 3000
MARSHAL_SINKS = {"errors": "otlp_proto", "pii_archive": "sumo_ic", "search_tools": "otlp_json"}
STAGES = ("routed_write", "clusters_write", "aggregates_write", "marshal_write")
_STAGE_OF_TABLE = {
    ROUTED_TABLE: "routed_write",
    CLUSTERS_TABLE: "clusters_write",
    AGG_TABLE: "aggregates_write",
}

# The same prefix order the pipeline's decorate chain applies (S1-S5),
# then the salted exchange in front of the routed write.
PREFIXES = ("scan", "parse", "fingerprint", "redact", "enrich", "route", "salt_exchange")
PREFIX_REPS = 4
# The prefix probe reads the input this many times over, so that each
# layer's share stands clear of the per-job overhead every prefix pays.
PROBE_COPIES = 3

# Board leaves timed by the query_board workload: a subset of bench.py's
# BENCH_QUERIES, one per operator family the pipeline workload does not
# reach. A pass over all 43 takes about 40 s on 4 cores and its checking
# pass 80 s, more than one benchmark run can spend.
BOARD_LEAVES = (
    "pipeline_route_agg", # S1/S5 + interval_aggregate, the generic S7 path
    "tpch_q1",            # decimal aggregation over the largest table
    "template_mining",    # fingerprint on the board
    "doc_minhash_lsh",    # similarity
    "doc_entropy",        # textstats
    "events_sessionize",  # sessionize
    "events_asof_join",   # as-of join
    "events_theil_sen",   # self-join regression, slowest leaf at scale
)


def _stage_of(table: str | None) -> str | None:
    """The pipeline stage that writes ``table`` (None for ``_lineage``)."""
    if table and table.startswith(MARSHAL_TABLE_PREFIX):
        return "marshal_write"
    return _STAGE_OF_TABLE.get(table)


def bench_queries(root: str) -> list[str]:
    """``BENCH_QUERIES`` as bench.py defines it, read from its source
    (importing bench.py has side effects outside the checkout)."""
    with open(os.path.join(root, "bench.py")) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", "") == "BENCH_QUERIES":
            return list(ast.literal_eval(node.value))
    raise LookupError("bench.py defines no BENCH_QUERIES")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# HotSpot's JIT compiler threads (names cut to 15 characters by the kernel)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, None if it is gone."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def process_cpu_s() -> float:
    """User+system CPU seconds used so far by this process and all its
    descendants (the driver JVM and the Python workers it forks),
    including descendants already reaped, less the CPU of the JVM's JIT
    compiler threads: compilation is warm-up, and how much of it is still
    running during a timed pass follows the host's load (it was 5-12 s of
    a 35-45 s pipeline pass)."""
    ppid_cpu: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        st = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if st:
            # ppid, then utime stime cutime cstime (stat fields 4 and 14-17)
            ppid_cpu[int(d)] = (int(st[1][1]), sum(int(x) for x in st[1][11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in ppid_cpu.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += ppid_cpu.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
        for tid in os.listdir(f"/proc/{pid}/task") if pid in ppid_cpu else ():
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st and st[0].startswith(_JIT_THREADS):
                ticks -= int(st[1][11]) + int(st[1][12])
    return ticks / os.sysconf("SC_CLK_TCK")


def _data_files(top: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(top)
        for f in fs
        if not f.startswith((".", "_"))
    ]


class Pipeline:
    """The full ``run_pipeline`` over seeded synthetic transcripts."""

    def __init__(self, work: str, seed: int, granularity: str, marshal_sinks: dict[str, str]):
        self.seed = seed
        self.input_dir = os.path.join(work, "transcripts")
        self.wh_root = os.path.join(work, "warehouse")
        self.config = PipelineConfig(
            rules=routing_rules(),
            salt_partitions=2 * CORES,
            partition_granularity=granularity,
            marshal_sinks=dict(marshal_sinks),
        ).validate()
        self.stages = [s for s in STAGES if s != "marshal_write" or marshal_sinks]
        self.turns = 0
        self.expected: dict[str, dict[str, int]] = {}

    # -- inputs -------------------------------------------------------------
    def materialise(self, spark) -> None:
        """Seeded input: the datagen conversations whose id hashes, with
        the seed, into the kept half."""
        n = 2 * PIPELINE_CONVS
        kept = F.pmod(F.xxhash64("conv_id", F.lit(self.seed)), F.lit(2)) == 0
        (
            transcripts(spark, n_convs=n, hot_convs=n // 1000, partitions=CORES)
            .where(kept)
            .write.mode("overwrite")
            .parquet(self.input_dir)
        )

    def expect(self, spark, perturb: bool) -> None:
        """Digests of the correct output, computed with DuckDB over the
        input parquet by the routing rules of the e2e oracle."""
        search_tools = sorted(
            r["tool"] for r in tool_lookup(spark).collect() if r["tool_category"] == "search"
        )
        pii = " OR ".join(
            f"regexp_matches(text, '{p}')" for _, p, _ in DEFAULT_PII_PATTERNS
        )
        level = r"""(?:^|\s)level=(?:"([^"]*)"|(\S+))"""
        tools = ", ".join(f"'{t}'" for t in search_tools)
        sql = f"""
            WITH t AS (
              SELECT *, regexp_extract(text, '{level}', 1) AS g1,
                        regexp_extract(text, '{level}', 2) AS g2
              FROM read_parquet('{self.input_dir}/*.parquet'))
            SELECT CASE
                     WHEN (CASE WHEN g1 <> '' THEN g1 ELSE g2 END) = 'ERROR' THEN 'errors'
                     WHEN role = 'tool' AND tool IN ({tools}) THEN 'search_tools'
                     WHEN {pii} THEN 'pii_archive'
                     ELSE 'default' END AS sink,
                   count(*), count(ts)
            FROM t GROUP BY 1"""
        with duckdb.connect() as con:
            rows = con.execute(sql).fetchall()
        routed = {s: n for s, n, _ in rows}
        self.turns = sum(routed.values())
        self.expected = {
            "routed": routed,
            "aggregated": {s: n for s, _, n in rows if n},
            "marshaled": {s: routed[s] for s in self.config.marshal_sinks if s in routed},
        }
        if perturb:
            self.expected["routed"]["default"] = routed.get("default", 0) + 1

    # -- passes -------------------------------------------------------------
    def warm_up(self, spark) -> dict:
        return self.run_pass(spark, -1)

    def run_pass(self, spark, i: int, tracer: tr.Tracer | None = None) -> dict:
        """One ``run_pipeline`` into a fresh warehouse. A traced pass keeps
        its warehouse until the next pass, for the layer probes."""
        if tracer is not None:
            shutil.rmtree(self.wh_root, ignore_errors=True)
        wh = os.path.join(self.wh_root, f"pass{i}")
        rec: dict = {"i": i, "run_id": f"pass{i}", "ops": 1, "warehouse": wh}
        cpu0, t0 = process_cpu_s(), time.perf_counter()
        try:
            with tr.span_or_null(tracer, "run_pipeline", i=i):
                summary = run_pipeline(
                    spark, spark.read.parquet(self.input_dir), Catalog(spark, wh),
                    config=self.config, run_id=rec["run_id"],
                )
            rec["seconds"] = time.perf_counter() - t0
            rec["cpu_s"] = process_cpu_s() - cpu0
            rec["timings"] = summary["timings"]
            rec["mismatches"] = self.check(wh, summary)
            rec["tables"] = self.table_stats(wh)
        except Exception as e:  # a failed operation is counted, the run goes on
            rec.setdefault("seconds", time.perf_counter() - t0)
            rec.setdefault("cpu_s", process_cpu_s() - cpu0)
            rec["error"] = repr(e)
        rec["failed"] = int(bool(rec.get("error") or rec.get("mismatches")))
        if tracer is None:
            shutil.rmtree(wh, ignore_errors=True)
        return rec

    def check(self, wh: str, summary: dict) -> list[str]:
        bad = []
        if summary["stages_run"] != self.stages:
            bad.append(f"stages_run {summary['stages_run']} != {self.stages}")
        with duckdb.connect() as con:
            def per_sink(sql: str) -> dict[str, int]:
                return {s: int(n) for s, n in con.execute(sql).fetchall()}

            got = {
                "routed": per_sink(
                    f"SELECT sink, count(*) FROM read_parquet('{wh}/{ROUTED_TABLE}/**/*.parquet',"
                    " hive_partitioning = true) GROUP BY sink"),
                "aggregated": per_sink(
                    f"SELECT sink, sum(n) FROM read_parquet('{wh}/{AGG_TABLE}/**/*.parquet',"
                    " hive_partitioning = true) GROUP BY sink"),
                "marshaled": {},
            }
            for sink, fmt in self.config.marshal_sinks.items():
                top = os.path.join(wh, MARSHAL_TABLE_PREFIX + sink)
                if fmt == "otlp_proto":
                    n = con.execute(
                        f"SELECT count(*) FROM read_parquet('{top}/**/*.parquet')").fetchone()[0]
                else:
                    n = 0
                    for path in _data_files(top):
                        with open(path, "rb") as f:
                            n += f.read().count(b"\n")
                got["marshaled"][sink] = n
        for key, want in self.expected.items():
            if got[key] != want:
                bad.append(f"{key}: {got[key]} != {want}")
        if sum(got["routed"].values()) != self.turns:
            bad.append(f"routed total {sum(got['routed'].values())} != {self.turns} input turns")
        return bad

    def table_stats(self, wh: str) -> dict[str, dict[str, int]]:
        """Files and bytes written per stage, ``_lineage`` excluded."""
        out = {s: {"bytes": 0, "files": 0} for s in self.stages}
        for table in os.listdir(wh):
            stage = _stage_of(table)
            if stage is None:
                continue
            files = _data_files(os.path.join(wh, table))
            out[stage]["files"] += len(files)
            out[stage]["bytes"] += sum(os.path.getsize(p) for p in files)
        return out

    def summary(self, passes: list[dict]) -> dict[str, list[float]]:
        """Per-pass values of the workload's own end-to-end metrics."""
        ok = [p for p in passes if "tables" in p]
        return {
            "turns_per_s": [self.turns / p["seconds"] for p in passes],
            "bytes_per_turn": [
                sum(t["bytes"] for t in p["tables"].values()) / self.turns for p in ok
            ],
        }

    # -- traced run -----------------------------------------------------------
    def probe(self, spark, tracer: tr.Tracer, last: dict) -> dict:
        """Layer probes outside ``run_pipeline``: cumulative S1-S5 prefixes
        over ``PROBE_COPIES`` copies of the input into the ``noop`` sink, a
        same-run-id resume of the last traced pass, and lineage commits
        timed through ``LineageLog``."""
        cfg = self.config
        steps = {
            "scan": lambda d: d,
            "parse": lambda d: parse_keyvalue(d, cfg.parse_fields),
            "fingerprint": fingerprint,
            "redact": lambda d: redact(d, cfg.pii_patterns),
            "enrich": lambda d: enrich(
                enrich(d, tool_lookup(spark), "tool", fill_unknown={
                    "tool_category": "unknown", "tool_owner": "unknown", "valid": False}),
                role_lookup(spark), "role", fill_unknown={"role_kind": "unknown"}),
            "route": lambda d: route(d, cfg.rules, default_sink=cfg.default_sink),
            # the routed write shuffles the slimmed facts
            "salt_exchange": lambda d: slim_facts(d).repartition(
                F.col("sink"),
                F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(cfg.salt_partitions))),
        }
        one = spark.read.parquet(self.input_dir)
        df = functools.reduce(DataFrame.unionByName, [one] * PROBE_COPIES)
        plans = {}
        for name in PREFIXES:
            df = plans[name] = steps[name](df)
        # one untimed repetition to compile the prefixes' code, then the
        # timed ones interleaved, so a change in the host's speed falls on
        # every prefix alike, and in alternating order, so that no prefix
        # always follows the same one
        for name in PREFIXES:
            plans[name].write.format("noop").mode("overwrite").save()
        reps: dict[str, list[float]] = {name: [] for name in PREFIXES}
        for r in range(PREFIX_REPS):
            for name in PREFIXES[::-1] if r % 2 else PREFIXES:
                with tracer.span("prefix", prefix=name) as s:
                    plans[name].write.format("noop").mode("overwrite").save()
                reps[name].append(tr.duration(s))
        # a layer's self time: its prefix minus the previous one within the
        # same repetition, median over repetitions, per copy of the input.
        # A layer cheaper than the probe can resolve (S5's CASE over three
        # predicates) comes out as noise around 0, read as 0.
        raw_s, prev = {}, [0.0] * PREFIX_REPS
        for name in PREFIXES:
            raw_s[name] = _median([a - b for a, b in zip(reps[name], prev)]) / PROBE_COPIES
            prev = reps[name]
        catalog = Catalog(spark, last["warehouse"])
        with tracer.span("resume") as s:
            try:
                again = run_pipeline(
                    spark, spark.read.parquet(self.input_dir), catalog,
                    config=cfg, run_id=last["run_id"], resume=True,
                )
                failed = int(bool(again["stages_run"]) or again["stages_skipped"] != self.stages)
            except Exception:  # a failed operation is counted, the run goes on
                failed = 1
        resume_s = tr.duration(s)
        with tracer.span("lineage_commit") as s:
            lineage = LineageLog(catalog)
            for stage in self.stages:
                lineage.commit_many("lineage-probe", stage, sorted(self.expected["routed"].items()))
        commit_s = tr.duration(s)
        with duckdb.connect() as con:
            templates, clusters = con.execute(
                "SELECT count(*), count(DISTINCT cluster_id) FROM read_parquet("
                f"'{last['warehouse']}/{CLUSTERS_TABLE}/*.parquet')").fetchone()
        shutil.rmtree(last["warehouse"], ignore_errors=True)
        return {
            "self_s": {name: max(v, 0.0) for name, v in raw_s.items()}, "raw_self_s": raw_s,
            "prefix_reps": reps, "resume_s": resume_s, "commit_s": commit_s,
            "templates": templates, "clusters": clusters, "ops": 1, "failed": failed,
        }

    def layers(self, passes: list[dict], probe: dict, execs: list[tr.Execution],
               tracer: tr.Tracer) -> dict[str, float]:
        per_pass = []
        for span in tracer.named("run_pipeline"):
            per_stage: dict[str, dict] = {s: {} for s in STAGES}
            pending: list[tr.Execution] = []
            for ex in tr.within(execs, span):
                stage = _stage_of(ex.table)
                if stage is None:
                    pending.append(ex)  # belongs to the stage of the next write
                    continue
                for e in pending + [ex]:
                    for k, v in e.m.items():
                        per_stage[stage][k] = per_stage[stage].get(k, 0) + v
                pending = []
                if stage == "aggregates_write":
                    per_stage[stage]["fast_path"] = "lpad(" in ex.plan and "p_hour" in ex.plan
                if stage == "marshal_write":
                    fmt = self.config.marshal_sinks[ex.table[len(MARSHAL_TABLE_PREFIX):]]
                    per_stage[stage][f"{fmt}_s"] = ex.seconds
            per_pass.append(per_stage)

        def med(f) -> float:
            return _median([f(p) for p in per_pass])

        def timing(st: str) -> float:
            return _median([p["timings"].get(st, 0.0) for p in passes if "timings" in p])

        out: dict[str, float] = {
            "scan.splits": med(lambda p: p["routed_write"].get("scan_tasks", 0)),
            "scan.input_bytes": med(lambda p: p["routed_write"].get("input_bytes", 0)),
            "routed_write.shuffle_write_bytes": med(
                lambda p: p["routed_write"].get("shuffle_write_bytes", 0)),
        }
        out.update({f"op.{name}_s": v for name, v in probe["self_s"].items()})
        out["op.write_commit_s"] = timing("routed_write") - sum(probe["self_s"].values())
        for st in STAGES:
            out[f"stage.{st}_s"] = timing(st)
            for k in ("task_s", "cpu_s", "gc_s", "spill_bytes", "input_bytes", "tasks"):
                out[f"{st}.{k}"] = med(lambda p, st=st, k=k: p[st].get(k, 0))
            for k, src in (("output_bytes", "bytes"), ("files", "files")):
                out[f"{st}.{k}"] = _median(
                    [p["tables"].get(st, {}).get(src, 0) for p in passes if "tables" in p])
        fast = med(lambda p: float(bool(p["aggregates_write"].get("fast_path"))))
        out["aggregates.fast_path_s"] = out["stage.aggregates_write_s"] if fast else 0.0
        out["aggregates.generic_s"] = 0.0 if fast else out["stage.aggregates_write_s"]
        for fmt in MARSHAL_SINKS.values():
            out[f"marshal.{fmt}_s"] = med(lambda p, fmt=fmt: p["marshal_write"].get(f"{fmt}_s", 0.0))
        out["marshal.python_eval_s"] = med(lambda p: p["marshal_write"].get("python_s", 0.0))
        out["clusters.templates"] = probe["templates"]
        out["clusters.n"] = probe["clusters"]
        out["lineage.commit_s"] = probe["commit_s"]
        out["lineage.resume_s"] = probe["resume_s"]
        return out


class Board:
    """A fixed subset of the board's leaves over the repository's fixed
    sf0.01 testdata, each leaf written to the ``noop`` sink. The input
    does not depend on the seed."""

    def __init__(self, root: str):
        import __spark_entry__ as entry

        known = set(bench_queries(root))
        missing = [q for q in BOARD_LEAVES if q not in known]
        if missing:
            raise LookupError(f"board leaves not in BENCH_QUERIES: {missing}")
        self.entry = entry
        self.data_dir = BOARD_DATA
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}
        self.leaf_ok: dict[str, bool] = {}

    def materialise(self, spark) -> None:
        """Nothing to write: the tables are fixed, so set-up is the session."""

    def expect(self, spark, perturb: bool) -> None:
        """Each leaf's expected rows from its ``oracle_sql()`` entry."""
        oracles = self.entry.oracle_sql()
        with duckdb.connect() as con:
            for t in self.entry._TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
            for name in BOARD_LEAVES:
                res = con.execute(oracles[name])
                cols = [d[0].lower() for d in res.description]
                self.expected[name] = (sorted(cols), _multiset(cols, res.fetchall()))
        if perturb:
            cols, rows = self.expected[BOARD_LEAVES[0]]
            self.expected[BOARD_LEAVES[0]] = (cols, rows[1:])

    def warm_up(self, spark) -> dict:
        """The checking pass: every leaf collected and compared with its
        oracle rows, once per process; then one untimed pass into the
        ``noop`` sink, the timed passes' own code path."""
        queries = self.entry.queries()
        rec: dict = {"i": -1, "ops": len(BOARD_LEAVES), "leaves": {}}
        t0 = time.perf_counter()
        for name in BOARD_LEAVES:
            try:
                df = queries[name](spark, self.data_dir)
                cols = [c.lower() for c in df.columns]
                got = (sorted(cols), _multiset(cols, [tuple(r) for r in df.collect()]))
                self.leaf_ok[name] = got == self.expected[name]
            except Exception as e:  # a failed operation is counted, the run goes on
                self.leaf_ok[name] = False
                rec.setdefault("errors", {})[name] = repr(e)
        rec["seconds"] = time.perf_counter() - t0
        rec["failed"] = sum(not ok for ok in self.leaf_ok.values())
        rec["mismatches"] = [n for n, ok in self.leaf_ok.items() if not ok]
        noop = self.run_pass(spark, -1)
        for k in ("seconds", "ops", "failed"):
            rec[k] += noop[k]
        return rec

    def run_pass(self, spark, i: int, tracer: tr.Tracer | None = None) -> dict:
        queries = self.entry.queries()
        rec: dict = {"i": i, "ops": len(BOARD_LEAVES), "failed": 0, "leaves": {}}
        cpu0, t0 = process_cpu_s(), time.perf_counter()
        with tr.span_or_null(tracer, "board_pass", i=i):
            for name in BOARD_LEAVES:
                t1 = time.perf_counter()
                try:
                    with tr.span_or_null(tracer, "leaf", leaf=name, i=i):
                        queries[name](spark, self.data_dir).write.format("noop").mode(
                            "overwrite").save()
                    ok = self.leaf_ok.get(name, False)
                except Exception as e:  # a failed operation is counted, the run goes on
                    ok = False
                    rec.setdefault("errors", {})[name] = repr(e)
                rec["leaves"][name] = time.perf_counter() - t1
                rec["failed"] += 0 if ok else 1
        rec["seconds"] = time.perf_counter() - t0
        rec["cpu_s"] = process_cpu_s() - cpu0
        return rec

    def summary(self, passes: list[dict]) -> dict[str, list[float]]:
        return {
            "board_s": [p["seconds"] for p in passes],
            "leaf_geomean_s": [
                math.exp(statistics.fmean(math.log(v) for v in p["leaves"].values()))
                for p in passes
            ],
        }

    def probe(self, spark, tracer: tr.Tracer, last: dict) -> dict:
        return {"ops": 0, "failed": 0}

    def layers(self, passes: list[dict], probe: dict, execs: list[tr.Execution],
               tracer: tr.Tracer) -> dict[str, float]:
        sums = []
        for span in tracer.named("board_pass"):
            total: dict[str, float] = {}
            for ex in tr.within(execs, span):
                for k, v in ex.m.items():
                    total[k] = total.get(k, 0) + v
            sums.append(total)
        out = {
            f"leaf.{name}_s": _median([p["leaves"][name] for p in passes])
            for name in BOARD_LEAVES
        }
        for key, metric in (
            ("scan_tasks", "scan.splits"), ("input_bytes", "scan.input_bytes"),
            ("shuffle_write_bytes", "board.shuffle_bytes"), ("gc_s", "board.gc_s"),
            ("spill_bytes", "board.spill_bytes"),
        ):
            out[metric] = _median([s.get(key, 0) for s in sums])
        return out


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if v is None:
        return "NULL"
    return str(v)


def _multiset(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive row values with columns in name order, floats to
    nine significant digits (the comparison tests/test_entry.py makes)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)
