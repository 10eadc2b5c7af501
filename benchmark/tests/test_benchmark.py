"""Self-tests for the benchmark's own pieces (no Spark session needed).

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)

import gen_chat  # noqa: E402
import gen_tables  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_table_generator_is_deterministic_per_seed(tmp_path):
    a = gen_tables.build_tables(7, 0.001)
    b = gen_tables.build_tables(7, 0.001)
    c = gen_tables.build_tables(8, 0.001)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    gen_tables.write_tables(str(tmp_path / "x"), 7, 0.001)
    gen_tables.write_tables(str(tmp_path / "y"), 7, 0.001)
    assert _files(tmp_path / "x") == _files(tmp_path / "y")


def test_chat_generator_is_deterministic_per_seed(tmp_path):
    e1 = gen_chat.write_landing(str(tmp_path / "a"), 3, 20)
    e2 = gen_chat.write_landing(str(tmp_path / "b"), 3, 20)
    e3 = gen_chat.write_landing(str(tmp_path / "c"), 4, 20)
    assert e1 == e2 and e1 != e3
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert gen_chat.Expected.from_json(e1.to_json()) == e1


def test_chat_generator_expectations_match_its_records(tmp_path):
    """Recount the written files in plain Python: the totals the ETL is
    checked against must describe exactly what was written."""
    import gzip

    exp = gen_chat.write_landing(str(tmp_path), 5, 30)
    pool = dict(gen_chat.MESSAGE_POOL)
    n = counted = routed = 0
    triples = set()
    for ch in gen_chat.channel_ids():
        for name in sorted(os.listdir(tmp_path / ch)):
            with gzip.open(tmp_path / ch / name, "rt", encoding="utf-8") as f:
                for line in f:
                    r = json.loads(line)
                    n += 1
                    member = r["message_type"] in ("new_member", "gift_member")
                    counted += int(not member and pool[r["message"]] is not None)
                    routed += int(not member and r["message_category"] is None)
                    triples.add((ch, name, r["user_id"]))
    assert (n, counted, routed, len(triples)) == (
        exp.messages, exp.counted_messages, exp.rows_categorized, exp.silver_rows
    )
    assert sum(exp.category_sums.values()) <= exp.counted_messages


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


EVENT_LOG_FIXTURE = [
    _ev("SparkListenerLogStart", **{"Spark Version": "4.1.2"}),
    _ev(
        "SparkListenerJobStart",
        **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
           "Properties": {"spark.job.description": "dashboard:q#0:collect"}},
    ),
    _ev(
        "SparkListenerTaskEnd",
        **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 30_000_000, "JVM GC Time": 2,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Bytes Read": 4096, "Records Read": 10},
            "Output Metrics": {"Bytes Written": 0}}},
    ),
    _ev(
        "SparkListenerTaskEnd",
        **{"Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 10, "Executor CPU Time": 5_000_000, "JVM GC Time": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 7, "Local Bytes Read": 93},
            "Input Metrics": {"Bytes Read": 0, "Records Read": 0}}},
    ),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1300}),
    _ev(
        "SparkListenerJobStart",
        **{"Job ID": 1, "Submission Time": 1200, "Stage IDs": [2], "Properties": {}},
    ),
    _ev("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 3}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1250}),
    _ev(
        "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        executionId=4, description="dashboard:q#0:collect", time=990,
    ),
    _ev("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd", executionId=4, time=1310),
]


def test_event_log_parser_on_fixture(tmp_path):
    works = tracing.parse_event_log(EVENT_LOG_FIXTURE)
    q = works["dashboard:q#0:collect"]
    assert (q.stages, q.tasks) == (2, 2)
    assert q.executor_run_ms == 50 and q.executor_cpu_ms == pytest.approx(35.0)
    assert q.gc_ms == 2 and q.spill_bytes == 6
    assert q.shuffle_write_bytes == 100 and q.shuffle_read_bytes == 100
    assert (q.input_bytes, q.input_records, q.input_task_run_ms) == (4096, 10, 40)
    assert q.sql_intervals == [(990, 1310)]
    assert works[""].tasks == 1 and works[""].executor_run_ms == 3

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    (log_dir / "local-1").write_text("\n".join(EVENT_LOG_FIXTURE) + "\n")
    (log_dir / "local-2.inprogress").write_text("not json\n")
    assert tracing.read_event_logs(str(log_dir))["dashboard:q#0:collect"].tasks == 2


def test_union_ms_merges_overlaps():
    assert tracing.union_ms([]) == 0
    assert tracing.union_ms([(0, 10), (5, 20), (30, 40)]) == 30


def test_spans_nest_and_carry_the_request_id():
    spans = tracing.Spans(True)
    with spans.span("request", request="q#0"):
        with spans.span("Query.build"):
            pass
    outer, inner = spans.records
    assert inner["parent"] == outer["id"] and inner["request"] == "q#0"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = tracing.Spans(False)
    with off.span("x"):
        pass
    assert off.records == []


def test_metric_names_and_declared_metrics():
    import workloads

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        decl = json.load(f)
    layer = workloads.per_layer_names(list(workloads.DASHBOARD_QUERIES))
    names = [m["name"] for m in decl["end_to_end"]] + list(layer)
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names), names
    assert len(set(names)) == len(names)
    assert [m["name"] for m in decl["per_layer"]] == list(layer)
    assert {m["name"]: m["unit"] for m in decl["per_layer"]} == layer
    assert {w["name"] for w in decl["workloads"]} == {"dashboard", "nightly_etl"}


def test_untraced_reference_prefers_the_same_seed(tmp_path):
    import workloads

    work = str(tmp_path)
    assert workloads.untraced_reference(work, "dashboard", 1) is None
    os.makedirs(tmp_path / "untraced")
    for seed in (1, 2):
        with open(workloads._reference_path(work, "dashboard", seed), "w") as f:
            json.dump({"seed": seed, "run_s": float(seed)}, f)
    os.utime(workloads._reference_path(work, "dashboard", 1), (0, 0))
    assert workloads.untraced_reference(work, "dashboard", 1)["seed"] == 1
    assert workloads.untraced_reference(work, "dashboard", 3)["seed"] == 2
    assert workloads.untraced_reference(work, "nightly_etl", 1) is None
