"""Tracing for the traced benchmark run: spans recorded by the benchmark
around its calls into the program, and Spark's event log folded per SQL
execution.

Spans stay in memory (``Tracer.spans``) and are written out once at the
end of the run. Each span holds name, start, end, parent and run id; times
are epoch seconds so that Spark executions (epoch milliseconds in the event
log) can be placed inside the span that issued them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from collections import Counter
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_PLAN_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
# File-scan SQL metric, reported by the driver: bytes of the files the
# scans of an execution open. (Task input metrics miss the reads that the
# parquet reader issues from its own threads.)
_FILES_READ = "size of files read"
_WRITE_PATH = re.compile(
    r"InsertIntoHadoopFsRelationCommand\nInput: .*\nArguments: file:([^,\s]+),"
)
# SQL metric the Arrow Python runner reports per task (milliseconds)
_PYTHON_RUN = "time to run Python workers"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def span_or_null(tracer: Tracer | None, name: str, **attrs):
    """``tracer.span(...)``, or a no-op context when tracing is off."""
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


def duration(span: dict) -> float:
    return span["end"] - span["start"]


@dataclass
class Execution:
    """One Spark SQL execution with its tasks' metrics summed."""

    id: int
    start: float  # epoch seconds
    end: float = 0.0
    plan: str = ""
    out_path: str | None = None
    m: Counter = field(default_factory=Counter)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def table(self) -> str | None:
        return os.path.basename(self.out_path.rstrip("/")) if self.out_path else None


def fold_event_log(log_dir: str) -> list[Execution]:
    """Read every event-log file under ``log_dir`` and return the SQL
    executions in start order, each with the summed metrics of its tasks:
    ``tasks``, ``scan_tasks`` (tasks that read input files), ``task_s``,
    ``cpu_s``, ``gc_s``, ``spill_bytes``, ``output_bytes``,
    ``shuffle_write_bytes``, ``shuffle_read_bytes`` and ``python_s``; and
    ``input_bytes``, the size of the files its scans read."""
    execs: dict[int, Execution] = {}
    stage_exec: dict[int, int] = {}
    files_read_ids: set[int] = set()
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind in (_SQL_START, _SQL_PLAN_UPDATE):
                    files_read_ids |= _metric_ids(ev.get("sparkPlanInfo") or {}, _FILES_READ)
                if kind == _SQL_START:
                    plan = ev.get("physicalPlanDescription", "")
                    m = _WRITE_PATH.search(plan)
                    execs[ev["executionId"]] = Execution(
                        ev["executionId"], ev["time"] / 1000.0, plan=plan,
                        out_path=m.group(1) if m else None,
                    )
                elif kind == _SQL_END and ev["executionId"] in execs:
                    execs[ev["executionId"]].end = ev["time"] / 1000.0
                elif kind == _SQL_DRIVER_ACCUMS and ev["executionId"] in execs:
                    execs[ev["executionId"]].m["input_bytes"] += sum(
                        v for aid, v in ev["accumUpdates"] if aid in files_read_ids)
                elif kind == "SparkListenerJobStart":
                    eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    if eid is not None:
                        for sid in ev["Stage IDs"]:
                            stage_exec[sid] = int(eid)
                elif kind == "SparkListenerTaskEnd":
                    ex = execs.get(stage_exec.get(ev["Stage ID"], -1))
                    if ex is not None:
                        _add_task(ex.m, ev)
    return sorted(execs.values(), key=lambda e: (e.start, e.id))


def _metric_ids(node: dict, name: str) -> set[int]:
    """Accumulator ids of SQL metric ``name`` anywhere in a plan tree."""
    ids = {m["accumulatorId"] for m in node.get("metrics", []) if m.get("name") == name}
    for child in node.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


def _add_task(m: Counter, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    inp = (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    m["tasks"] += 1
    m["scan_tasks"] += 1 if inp > 0 else 0
    m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
    m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == _PYTHON_RUN:
            m["python_s"] += float(acc.get("Update", 0)) / 1e3


def within(execs: list[Execution], span: dict) -> list[Execution]:
    """Executions that started inside ``span``."""
    return [e for e in execs if span["start"] <= e.start <= span["end"]]

