"""The executed-plan walker: the plan that actually ran, as records.

``walk_final_plan`` follows a collected DataFrame's final AQE plan
(``AdaptiveSparkPlan.executedPlan()`` -> ``QueryStage.plan()`` ->
``children()``, plus ``subqueries()``) and reads each node's SQL metrics.
A reused stage appears once, as a ``ReusedExchange`` leaf, so counts taken
from the records are what executed. ``tests/test_plans.py`` pins plan shape
on these records and ``tools/profile_bench.py`` writes them out per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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

# codegen wrappers: records of their own, skipped when linking children
_WRAPPERS = ("WholeStageCodegenExec", "InputAdapter")
_AGGREGATES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def walk_final_plan(df: DataFrame) -> list[dict]:
    """One record per node of ``df``'s executed plan, descending through
    AQE query stages and subqueries. Call after an action on ``df``.

    A record is ``{"name", "metrics", "children"}``; ``children`` holds the
    indices of the nearest non-wrapper operators below it (its plan
    children and subqueries). An ``Exchange`` also carries
    ``partitioning`` (e.g. ``"SinglePartition"``, ``"HashPartitioning"``)
    and ``partitions``, its count before AQE coalesces the read, and an
    aggregate ``grouping_keys``, its key column names (``[]`` for a
    keyless aggregate)."""
    nodes: list[dict] = []
    todo = [(df._jdf.queryExecution().executedPlan(), [])]
    while todo:
        node, parents = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append((node.executedPlan(), parents))
            continue
        i = len(nodes)
        rec = {"name": node.nodeName(), "metrics": _metrics(node), "children": []}
        if rec["name"] == "Exchange":
            part = node.outputPartitioning()
            rec["partitioning"] = part.getClass().getSimpleName().rstrip("$")
            rec["partitions"] = part.numPartitions()
        elif rec["name"] in _AGGREGATES:
            rec["grouping_keys"] = [e.name() for e in _scala_seq(node.groupingExpressions())]
        nodes.append(rec)
        if cls in _WRAPPERS:
            below = parents + [i]
        else:
            for p in parents:
                nodes[p]["children"].append(i)
            below = [i]
        kids = [node.plan()] if "QueryStage" in cls else _scala_seq(node.children())
        todo.extend((k, below) for k in kids + _scala_seq(node.subqueries()))
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


def unbounded_single_partition(nodes: list[dict]) -> int:
    """``SinglePartition`` shuffles that funnel unbounded data into one
    task. One fed only by keyless aggregates moves one row per input
    partition and is bounded; any other (a global window, sort or
    limit) counts."""
    return sum(
        1
        for n in nodes
        if n.get("partitioning") == "SinglePartition"
        and not all(nodes[c].get("grouping_keys") == [] for c in n["children"])
    )


def catalyst_phases_ms(df: DataFrame) -> dict[str, int]:
    """Catalyst phase durations of ``df``'s query execution (analysis,
    optimization, planning), from ``QueryExecution.tracker()``."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().durationMs())
    return out
