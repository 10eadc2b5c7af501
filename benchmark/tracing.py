"""Tracing for the benchmark's traced run, all from outside the program.

Three sources, each kept apart from the timed code path:

- ``Spans``: name, start, end, parent and request id around each call the
  benchmark makes into the program; held in memory, written at the end.
- ``parse_event_log``: the Spark event log of the benchmark's own session,
  summed per job description (``<workload>:<request>:<phase>``).
- ``walk_final_plan``: the executed AQE plan of a collected DataFrame
  (``AdaptiveSparkPlan.executedPlan()`` -> ``QueryStage.plan()`` ->
  ``children()``), with every node's SQL metrics.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Spans:
    """In-memory span recorder. A disabled recorder records nothing and
    costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            "start": time.perf_counter(),
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations_ms(self, name: str) -> list[float]:
        return [(r["end"] - r["start"]) * 1e3 for r in self.records if r["name"] == name]

    def by_request(self, request: str) -> list[dict]:
        return [r for r in self.records if r["request"] == request]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


# --- Spark event log --------------------------------------------------------


@dataclass
class Work:
    """Task-level totals of the jobs sharing one job description."""

    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    input_task_run_ms: int = 0  # run time of tasks that read input files
    output_bytes: int = 0
    sql_intervals: list[tuple[int, int]] = field(default_factory=list)

    def add(self, other: "Work") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def event_log_files(log_dir: str) -> list[str]:
    """Finished event log files in ``log_dir`` (one per stopped context)."""
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")
    )


def parse_event_log(lines) -> dict[str, Work]:
    """Sum task metrics per job description from event-log JSON lines.
    Jobs without a description are filed under ``""``."""
    desc_of_stage: dict[int, str] = {}
    sql_start: dict[int, tuple[str, int]] = {}
    out: dict[str, Work] = {}

    def work(desc: str) -> Work:
        return out.setdefault(desc, Work())

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            for sid in ev.get("Stage IDs", []):
                desc_of_stage[sid] = desc
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            work(desc_of_stage.get(info["Stage ID"], "")).stages += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            w = work(desc_of_stage.get(ev["Stage ID"], ""))
            w.tasks += 1
            w.executor_run_ms += m.get("Executor Run Time", 0)
            w.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            w.gc_ms += m.get("JVM GC Time", 0)
            w.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            w.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            w.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics") or {}
            w.input_bytes += inp.get("Bytes Read", 0)
            w.input_records += inp.get("Records Read", 0)
            if inp.get("Bytes Read", 0):
                w.input_task_run_ms += m.get("Executor Run Time", 0)
            w.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_start[ev["executionId"]] = (ev.get("description") or "", ev["time"])
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            desc, start = sql_start.pop(ev["executionId"], ("", ev["time"]))
            work(desc).sql_intervals.append((start, ev["time"]))
    return out


def read_event_logs(log_dir: str) -> dict[str, Work]:
    totals: dict[str, Work] = {}
    for path in event_log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for desc, w in parse_event_log(f).items():
                totals.setdefault(desc, Work()).add(w)
    return totals


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- final AQE plan ---------------------------------------------------------

PYTHON_EVAL_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "FlatMapGroupsInPandasWithState",
)


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def walk_final_plan(df) -> list[dict]:
    """One ``{"name", "metrics"}`` record per node of ``df``'s executed
    plan, descending through AQE query stages and subqueries. Call after
    an action on ``df``."""
    nodes: list[dict] = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        nodes.append({"name": node.nodeName(), "metrics": _metrics(node)})
        if "QueryStage" in cls:
            todo.append(node.plan())
        else:
            todo.extend(_scala_seq(node.children()))
        todo.extend(_scala_seq(node.subqueries()))
    return nodes


def plan_counts(nodes: list[dict]) -> dict[str, int]:
    """Operator counts and sums the per-layer record reports."""

    def named(prefix):
        return [n for n in nodes if n["name"].startswith(prefix)]

    scans = [n for n in nodes if n["name"].startswith("Scan ")]
    return {
        "exchanges": len(named("Exchange")) + len(named("BroadcastExchange")),
        "reused_exchanges": len(named("ReusedExchange")),
        "file_scans": len(scans),
        "rows_scanned": sum(n["metrics"].get("numOutputRows", 0) for n in scans),
        "python_eval_nodes": sum(1 for n in nodes if n["name"] in PYTHON_EVAL_NODES),
        "broadcast_bytes": sum(n["metrics"].get("dataSize", 0) for n in named("BroadcastExchange")),
        "join_rows": sum(n["metrics"].get("numOutputRows", 0) for n in named("SortMergeJoin")),
    }


def catalyst_phases_ms(df) -> dict[str, int]:
    """Catalyst phase durations of ``df``'s query execution (analysis,
    optimization, planning), from ``QueryExecution.tracker()``."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().durationMs())
    return out
