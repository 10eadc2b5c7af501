"""The benchmark's workloads, each timed from outside the program through
the public functions of ``holochatstats_spark``.

- ``dashboard``: one client in a closed loop, issuing passes over
  ``DASHBOARD_QUERIES`` in name order; a request is ``Query.build`` plus
  ``.collect()``, checked against the DuckDB oracle's result hash. The
  passes are measured from the server's start, after a one-table warm-up.
- ``nightly_etl``: one nightly run per iteration: ``read_chat_logs`` ->
  ``build_user_data`` -> ``write_month_partitioned`` (silver), the four
  ``operators.gold`` views read back from silver and written, one month
  re-ingested (idempotent overwrite), then the streaming catch-up
  ``stream_messages`` -> ``stream_user_counters`` with an ``availableNow``
  trigger over the hot channel's landing directory. A nightly job starts a
  fresh process, so the runs are measured right after a small warm-up.

Each run sets up once, cold: ``get_spark`` launches the JVM, then the
warm-up (``setup_s`` covers both). It then measures whole units (a
dashboard pass, a nightly run) until ``seconds`` have passed. Untraced
runs leave their unit walls under ``untraced/``; with ``trace`` on, the
same units are traced (spans, event log, final-plan walk), the result
holds the per-layer metrics instead of the end-to-end ones, and the
tracing overhead is the traced unit wall over the untraced one.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F

from holochatstats_spark.functions.classify import COUNTED_CATEGORIES
from holochatstats_spark.operators import gold
from holochatstats_spark.operators.ingest import build_user_data
from holochatstats_spark.queries import load_all_queries
from holochatstats_spark.session import get_spark
from holochatstats_spark.sources.chat_logs import read_chat_logs
from holochatstats_spark.sources.writers import write_month_partitioned
from holochatstats_spark.streaming import stream_messages, stream_user_counters
from holochatstats_spark.tables import load_table

import gen_chat
import tracing as tr
from prepare import DASHBOARD_QUERIES, DONE, result_hash

HERE = os.path.dirname(os.path.abspath(__file__))
APP = "holochatstats-benchmark"
# A traced dashboard request's build + planning + execution spans must
# cover its wall time to within this share.
RECONCILE_BOUND = 0.25
PAIR_QUERIES = ("embedding_neardup_lsh", "minhash_lsh_pairs", "simhash_neardup_pairs")
GOLD_VIEWS = (
    "user_monthly_activity",
    "user_activity",
    "channel_month_language",
    "user_month_language",
)
REINGEST_MONTH = gen_chat.MONTHS[1]
STREAM_NAME = "bench_stream_"


def _log(msg: str) -> None:
    print(f"[benchmark] {msg}", file=sys.stderr, flush=True)


def _nearest_rank(values: list[float], p: float) -> float:
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(p * len(s) + 0.5)) - 1))]


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _reference_path(work: str, workload: str, seed: int) -> str:
    return os.path.join(work, "untraced", f"{workload}-{seed}.json")


def untraced_reference(work: str, workload: str, seed: int) -> dict | None:
    """What the untraced run of ``workload`` measured: its run of the same
    seed, else the latest of another seed (same input sizes), else None."""
    same = _reference_path(work, workload, seed)
    others = sorted(
        glob.glob(_reference_path(work, workload, "*")), key=os.path.getmtime
    )
    for path in [same] + others[::-1]:
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
    return None


@dataclass
class Run:
    """One benchmark run: arguments, work directory, spans and counters."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    spans: tr.Spans = field(init=False)
    attempted: int = 0
    failed: int = 0
    checks_ok: bool = True
    jvm_pid: int = 0
    cores: int = 0

    def __post_init__(self):
        self.spans = tr.Spans(self.trace)

    def inputs(self, mode: str) -> str:
        """Directory of this seed's generated inputs, built (other seeds'
        inputs removed) in a child process before anything is timed."""
        base = os.path.join(self.work, "inputs", mode)
        path = os.path.join(base, f"seed-{self.seed}")
        if not os.path.exists(os.path.join(path, DONE)):
            os.makedirs(base, exist_ok=True)
            for old in os.listdir(base):
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
            t0 = time.perf_counter()
            subprocess.run(
                [sys.executable, os.path.join(HERE, "prepare.py"), mode, path, str(self.seed)],
                stdout=sys.stderr,
                check=True,
            )
            _log(f"generated the inputs of seed {self.seed} in {time.perf_counter() - t0:.1f} s")
        return path

    def set_up(self, warm_up):
        """One cold set-up: ``get_spark`` launches the JVM and the session,
        then ``warm_up(spark)``. Returns the session, the set-up seconds and
        the ``get_spark`` seconds."""
        t0 = time.perf_counter()
        with self.spans.span("get_spark"):
            spark = get_spark(APP)
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.cores = spark.sparkContext.defaultParallelism
        label(spark, f"{self.workload}:setup")
        warm_up(spark)
        setup_s = time.perf_counter() - t0
        _log(f"set-up {setup_s:.3f} s (get_spark {get_spark_s:.3f} s)")
        return spark, setup_s, get_spark_s

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(self.jvm_pid)) / 1024.0

    def event_log(self) -> dict[str, tr.Work]:
        return tr.read_event_logs(os.path.join(self.work, "eventlog"))

    def save_reference(self, ref: dict) -> None:
        path = _reference_path(self.work, self.workload, self.seed)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(ref, f)

    def reference(self) -> dict:
        ref = untraced_reference(self.work, self.workload, self.seed)
        if ref is None:
            raise RuntimeError("no untraced result to compare the traced run with")
        if ref["seed"] != self.seed:
            _log(f"overhead and reconciliation use the untraced run of seed {ref['seed']}")
        return ref

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        return {
            "correct": self.checks_ok and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def label(spark, desc: str) -> None:
    spark.sparkContext.setJobDescription(desc)


# --- per-layer metric set ---------------------------------------------------


def per_layer_names(queries: list[str]) -> dict[str, str]:
    """Every per-layer metric name -> unit. Both workloads report all of
    them; a layer a workload does not reach reads 0."""
    names = {
        "session.get_spark_s": "s",
        "queries.build_ms": "ms",
        "tables.load_table_calls": "count",
        "tables.load_table_ms": "ms",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.executor_run_ms": "ms",
        "exec.executor_cpu_ms": "ms",
        "exec.gc_ms": "ms",
        "exec.shuffle_write_bytes": "bytes",
        "exec.shuffle_read_bytes": "bytes",
        "exec.spill_bytes": "bytes",
        "exec.broadcast_bytes": "bytes",
        "exec.exchanges": "count",
        "exec.reused_exchanges": "count",
        "exec.file_scans": "count",
        "exec.python_eval_nodes": "count",
        "exec.rows_scanned_per_result_row": "ratio",
        "exec.task_busy_share": "ratio",
        "collect.rows": "count",
        "sources.input_bytes": "bytes",
        "sources.input_records": "count",
        "sources.scan_ms": "ms",
        "classify.rows_categorized": "count",
        "ingest.rows_in": "count",
        "ingest.rows_out": "count",
        "ingest.build_user_data_ms": "ms",
        "writers.write_ms": "ms",
        "writers.bytes_written": "bytes",
        "writers.files_written": "count",
        "writers.partitions_written": "count",
        "stream.batches": "count",
        "stream.batch_p50_ms": "ms",
        "stream.add_batch_ms": "ms",
        "stream.query_planning_ms": "ms",
        "stream.state_rows": "count",
        "stream.state_memory_bytes": "bytes",
        "stream.late_rows_dropped": "count",
        "trace.run_s": "s",
        "trace.overhead_ratio": "ratio",
        "trace.units": "count",
        "trace.reconcile_max_gap": "ratio",
        "trace.reconcile_misses": "count",
        "trace.span_gap_max": "ratio",
    }
    for q in queries:
        names[f"queries.build_ms.{q}"] = "ms"
        names[f"exec.ms.{q}"] = "ms"
    for q in PAIR_QUERIES:
        names[f"pairs.candidate_rows.{q}"] = "count"
        names[f"pairs.shuffle_write_bytes.{q}"] = "bytes"
        names[f"pairs.useful_ratio.{q}"] = "ratio"
    for g in GOLD_VIEWS:
        names[f"gold.ms.{g}"] = "ms"
        names[f"gold.rows.{g}"] = "count"
    return names


def _layer_metrics(queries: list[str], layer: dict) -> dict[str, tuple[float, str]]:
    units = per_layer_names(queries)
    unknown = set(layer) - set(units)
    if unknown:
        raise KeyError(f"per-layer metrics without a declared unit: {sorted(unknown)}")
    return {k: (layer[k], u) for k, u in units.items()}


def _overhead(layer: dict, walls: list[float], ref: dict) -> None:
    """Traced unit wall, and its ratio to the untraced run's unit wall."""
    layer["trace.units"] = len(walls)
    layer["trace.run_s"] = statistics.median(walls)
    layer["trace.overhead_ratio"] = layer["trace.run_s"] / ref["run_s"]


def _exec_totals(layer: dict, works, walls: list[float], cores: int) -> None:
    """Event-log task totals over ``works`` per measured unit, and the share
    of the cores' time during the units that tasks ran."""
    total = tr.Work()
    for w in works:
        total.add(w)
    per = len(walls)
    layer["exec.task_busy_share"] = total.executor_run_ms / (cores * sum(walls) * 1e3)
    layer["exec.stages"] += total.stages / per
    layer["exec.tasks"] += total.tasks / per
    layer["exec.executor_run_ms"] += total.executor_run_ms / per
    layer["exec.executor_cpu_ms"] += total.executor_cpu_ms / per
    layer["exec.gc_ms"] += total.gc_ms / per
    layer["exec.shuffle_write_bytes"] += total.shuffle_write_bytes / per
    layer["exec.shuffle_read_bytes"] += total.shuffle_read_bytes / per
    layer["exec.spill_bytes"] += total.spill_bytes / per


# --- dashboard --------------------------------------------------------------


@contextmanager
def _load_table_spans(spans: tr.Spans):
    """Spans around every ``load_table`` call the query modules make. They
    import it by name, so each module's binding is wrapped, and restored
    on exit."""
    import holochatstats_spark.tables as tables

    original = tables.load_table

    def traced(*args, **kwargs):
        with spans.span("load_table"):
            return original(*args, **kwargs)

    patched = [
        m
        for m in list(sys.modules.values())
        if getattr(m, "__name__", "").startswith("holochatstats_spark")
        and getattr(m, "load_table", None) is original
    ]
    for m in patched:
        m.load_table = traced
    try:
        yield
    finally:
        for m in patched:
            m.load_table = original


def dashboard(run: Run) -> dict:
    data = run.inputs("dashboard")
    registry = load_all_queries()
    names = list(DASHBOARD_QUERIES)
    synth_queries = ("a1_user_data", "membership_summary_gold")
    with open(os.path.join(data, "oracle.json")) as f:
        oracle = json.load(f)
    if sorted(oracle["hashes"]) != names:
        raise RuntimeError("oracle hashes do not cover the bench queries; rebuild inputs")

    def one_pass(spark, pass_no: int, traced: bool) -> tuple[float, list[dict]]:
        spans = run.spans if traced else tr.Spans(False)
        reqs = []
        t_pass = time.perf_counter()
        for q in names:
            rid = f"{q}#{pass_no}"
            req = {"query": q, "rid": rid, "ok": False}
            run.attempted += 1
            try:
                with spans.span("request", request=rid):
                    t0 = time.perf_counter()
                    label(spark, f"dashboard:{rid}:build")
                    with spans.span("Query.build"):
                        df = registry[q].build(spark, data)
                    label(spark, f"dashboard:{rid}:collect")
                    with spans.span("collect"):
                        rows = df.collect()
                    req["wall_s"] = time.perf_counter() - t0
                req["rows"] = len(rows)
                req["ok"] = result_hash(df.columns, rows) == oracle["hashes"][q]
                if traced:
                    req["phases"] = tr.catalyst_phases_ms(df)
                    req["plan"] = tr.plan_counts(tr.walk_final_plan(df))
            except Exception:
                _log(f"request {rid} raised:\n{traceback.format_exc()}")
            if not req["ok"]:
                run.failed += 1
                _log(f"request {rid} failed its check")
            reqs.append(req)
        return time.perf_counter() - t_pass, reqs

    # The measured pass is the first one after the server starts; the
    # set-up warms up on one table scan that no request repeats as is.
    spark, setup_s, get_spark_s = run.set_up(
        lambda spark: load_table(spark, data, "region").count()
    )
    pass_walls, requests, t0 = [], [], time.perf_counter()
    with _load_table_spans(run.spans) if run.trace else nullcontext():
        while not pass_walls or time.perf_counter() - t0 < run.seconds:
            wall, reqs = one_pass(spark, len(pass_walls), run.trace)
            pass_walls.append(wall)
            requests += reqs
    measured = [r for r in requests if r["ok"]]
    lat_ms = [r["wall_s"] * 1e3 for r in measured]
    _log(f"dashboard: {len(requests)} requests in {len(pass_walls)} passes {[round(w, 2) for w in pass_walls]}; "
         f"requests {[(r['query'], round(r['wall_s'], 2)) for r in measured]}")

    if not run.trace:
        run.save_reference(
            {
                "seed": run.seed,
                "run_s": statistics.median(pass_walls),
                "request_ms": {
                    q: statistics.median(r["wall_s"] * 1e3 for r in measured if r["query"] == q)
                    for q in {r["query"] for r in measured}
                },
            }
        )
        synth_s = sum(r["wall_s"] for r in measured if r["query"] in synth_queries)
        synth_n = sum(1 for r in measured if r["query"] in synth_queries)
        return run.result(
            {
                "setup_s": (setup_s, "s"),
                "run_s": (statistics.median(pass_walls), "s"),
                "requests_per_s": (len(measured) / sum(pass_walls), "1/s"),
                "latency_p50_ms": (statistics.median(lat_ms), "ms"),
                "latency_p90_ms": (_nearest_rank(lat_ms, 0.9), "ms"),
                "messages_per_s": (oracle["synth_messages"] * synth_n / synth_s, "1/s"),
                "peak_rss_mb": (run.peak_rss_mb(), "MB"),
            }
        )

    spark.stop()
    ref = run.reference()
    works = run.event_log()
    passes = len(pass_walls)
    layer = {k: 0.0 for k in per_layer_names(names)}
    layer["session.get_spark_s"] = get_spark_s
    spans = run.spans
    layer["queries.build_ms"] = sum(spans.durations_ms("Query.build")) / passes
    layer["tables.load_table_calls"] = len(spans.durations_ms("load_table")) / passes
    layer["tables.load_table_ms"] = sum(spans.durations_ms("load_table")) / passes
    for phase in ("analysis", "optimization", "planning"):
        layer[f"catalyst.{phase}_ms"] = sum(r["phases"].get(phase, 0) for r in measured) / passes
    timed = {f"dashboard:{r['rid']}:{phase}" for r in requests for phase in ("build", "collect")}
    _exec_totals(layer, [w for d, w in works.items() if d in timed], pass_walls, run.cores)
    for key in ("exchanges", "reused_exchanges", "file_scans", "python_eval_nodes", "broadcast_bytes"):
        layer[f"exec.{key}"] = sum(r["plan"][key] for r in measured) / passes
    result_rows = sum(r["rows"] for r in measured)
    layer["collect.rows"] = result_rows / passes
    layer["exec.rows_scanned_per_result_row"] = sum(r["plan"]["rows_scanned"] for r in measured) / max(1, result_rows)
    layer["classify.rows_categorized"] = oracle["synth_routed"] * len(synth_queries)
    layer["ingest.rows_in"] = oracle["synth_messages"] * len(synth_queries)
    layer["ingest.rows_out"] = sum(r["rows"] for r in measured if r["query"] == "a1_user_data") / passes * len(synth_queries)

    # Each request's build + Catalyst optimization and planning + SQL
    # execution spans must cover its own wall (a miss means a layer the
    # trace does not see, and fails the run), and are compared with the
    # same query's untraced wall (a reported gap: two processes' timings).
    own_gaps, ref_gaps = [], []
    for q in names:
        mine = [r for r in measured if r["query"] == q]
        if not mine:
            continue
        builds, execs = [], []
        for r in mine:
            build_ms = [
                (s["end"] - s["start"]) * 1e3
                for s in spans.by_request(r["rid"])
                if s["name"] == "Query.build"
            ][0]
            collect = works.get(f"dashboard:{r['rid']}:collect", tr.Work())
            exec_ms = tr.union_ms(collect.sql_intervals)
            plan_ms = r["phases"].get("optimization", 0) + r["phases"].get("planning", 0)
            span_ms = build_ms + plan_ms + exec_ms
            own_gaps.append(abs(r["wall_s"] * 1e3 - span_ms) / (r["wall_s"] * 1e3))
            ref_gaps.append(abs(ref["request_ms"][q] - span_ms) / ref["request_ms"][q])
            builds.append(build_ms)
            execs.append(exec_ms)
        layer[f"queries.build_ms.{q}"] = statistics.median(builds)
        layer[f"exec.ms.{q}"] = statistics.median(execs)
    for q in PAIR_QUERIES:
        mine = [r for r in measured if r["query"] == q]
        cand = sum(r["plan"]["join_rows"] for r in mine)
        layer[f"pairs.candidate_rows.{q}"] = cand / max(1, len(mine))
        layer[f"pairs.shuffle_write_bytes.{q}"] = sum(
            works.get(f"dashboard:{r['rid']}:collect", tr.Work()).shuffle_write_bytes for r in mine
        ) / max(1, len(mine))
        layer[f"pairs.useful_ratio.{q}"] = sum(r["rows"] for r in mine) / max(1, cand)
    layer["trace.span_gap_max"] = max(own_gaps)
    layer["trace.reconcile_max_gap"] = max(ref_gaps)
    layer["trace.reconcile_misses"] = sum(1 for g in ref_gaps if g > RECONCILE_BOUND)
    if layer["trace.span_gap_max"] > RECONCILE_BOUND:
        _log(f"a request's spans miss its own wall by {layer['trace.span_gap_max']:.0%}")
        run.checks_ok = False
    if layer["trace.reconcile_misses"]:
        _log(f"{layer['trace.reconcile_misses']} requests' spans miss the untraced wall by > {RECONCILE_BOUND:.0%}")

    _overhead(layer, pass_walls, ref)
    spans.write(os.path.join(run.work, f"spans-dashboard-{run.seed}.jsonl"))
    return run.result(_layer_metrics(names, layer))


# --- nightly ETL ------------------------------------------------------------


def _month_glob(year: int, month: int) -> str:
    return f"v{year:04d}{month:02d}*.jsonl.gz"


def nightly_etl(run: Run) -> dict:
    data = run.inputs("nightly_etl")
    landing = os.path.join(data, "landing")
    out = os.path.join(run.work, "etl-out")
    shutil.rmtree(out, ignore_errors=True)
    with open(os.path.join(data, "expected.json")) as f:
        exp = gen_chat.Expected.from_json(f.read())
    chans = gen_chat.channel_ids()
    steps: list[dict] = []
    stream_progress: list[list[dict]] = []

    spans = run.spans
    silver_path = os.path.join(out, "silver")

    def bronze(spark, pattern: str):
        frames = [
            read_chat_logs(spark, os.path.join(landing, ch, pattern), channel_id=ch)
            for ch in chans
        ]
        df = frames[0]
        for other in frames[1:]:
            df = df.unionByName(other)
        return df

    def ingest(spark, pattern: str):
        with spans.span("read_chat_logs"):
            msgs = bronze(spark, pattern)
        with spans.span("build_user_data"):
            ud = build_user_data(msgs)
        with spans.span("write_month_partitioned"):
            write_month_partitioned(ud, silver_path)

    def gold_view(spark, view: str):
        channels = spark.createDataFrame(
            gen_chat.channel_rows(), "channel_id string, channel_name string, channel_group string"
        )
        ud = spark.read.parquet(silver_path)
        with spans.span(f"gold.{view}"):
            fn = getattr(gold, view)
            df = fn(ud, channels) if view == "user_activity" else fn(ud)
        with spans.span("write_month_partitioned"):
            write_month_partitioned(df, os.path.join(out, "gold", view))

    def reingest(spark):
        ingest(spark, _month_glob(*REINGEST_MONTH))

    def stream(spark, it: int):
        with spans.span("stream_messages"):
            src = stream_messages(spark, os.path.join(landing, exp.stream_channel))
        with spans.span("stream_user_counters"):
            counters = stream_user_counters(src, channel_id=exp.stream_channel)
        query = (
            counters.writeStream.format("memory")
            .queryName(f"{STREAM_NAME}{it}")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(out, "checkpoints", str(it)))
            .trigger(availableNow=True)
            .start()
        )
        with spans.span("stream_run"):
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        if run.trace:
            stream_progress.append([json.loads(p.json) for p in query.recentProgress])

    def step(spark, name: str, it: int, fn) -> None:
        rec = {"step": name, "it": it, "ok": False}
        run.attempted += 1
        label(spark, f"nightly_etl:{name}:{it}")
        try:
            with spans.span(name, request=f"{name}#{it}"):
                t0 = time.perf_counter()
                fn()
                rec["wall_s"] = time.perf_counter() - t0
            rec["ok"] = True
        except Exception:
            run.failed += 1
            _log(f"step {name}#{it} raised:\n{traceback.format_exc()}")
        steps.append(rec)

    def iteration(spark, it: int) -> float:
        t0 = time.perf_counter()
        step(spark, "silver", it, lambda: ingest(spark, "*.jsonl.gz"))
        for view in GOLD_VIEWS:
            step(spark, f"gold.{view}", it, lambda v=view: gold_view(spark, v))
        step(spark, "reingest", it, lambda: reingest(spark))
        step(spark, "stream", it, lambda: stream(spark, it))
        return time.perf_counter() - t0

    # A nightly job starts a fresh process: the set-up warms up on one
    # chat file only, and the nightly runs are measured from there.
    def warm_up(spark):
        ch = chans[-1]
        first = sorted(os.listdir(os.path.join(landing, ch)))[0]
        build_user_data(read_chat_logs(spark, os.path.join(landing, ch, first), ch)).count()

    spark, setup_s, get_spark_s = run.set_up(warm_up)
    walls, t0 = [], time.perf_counter()
    while not walls or time.perf_counter() - t0 < run.seconds:
        walls.append(iteration(spark, len(walls)))
    _log(f"nightly_etl: {len(walls)} runs {[round(w, 2) for w in walls]}; steps "
         f"{[(s['step'], round(s['wall_s'], 2)) for s in steps if s['ok']]}")
    iterations = len(walls)
    label(spark, "nightly_etl:check")
    tracing, run.spans.enabled = run.spans.enabled, False
    run.checks_ok, gold_rows = _check_etl(
        spark, exp, out, f"{STREAM_NAME}{iterations - 1}", lambda: reingest(spark)
    )
    run.spans.enabled = tracing
    per_run_msgs = exp.messages + exp.month_messages[f"{REINGEST_MONTH[0]:04d}-{REINGEST_MONTH[1]:02d}"] + exp.stream_messages
    ok_steps = [s for s in steps if s["ok"]]
    run_ms = [w * 1e3 for w in walls]

    if not run.trace:
        run.save_reference({"seed": run.seed, "run_s": statistics.median(walls)})
        # A request of the nightly job is one whole nightly run.
        return run.result(
            {
                "setup_s": (setup_s, "s"),
                "run_s": (statistics.median(walls), "s"),
                "requests_per_s": (len(walls) / sum(walls), "1/s"),
                "latency_p50_ms": (statistics.median(run_ms), "ms"),
                "latency_p90_ms": (_nearest_rank(run_ms, 0.9), "ms"),
                "messages_per_s": (per_run_msgs / statistics.median(walls), "1/s"),
                "peak_rss_mb": (run.peak_rss_mb(), "MB"),
            }
        )

    spark.stop()
    ref = run.reference()
    works = run.event_log()
    names = list(DASHBOARD_QUERIES)
    layer = {k: 0.0 for k in per_layer_names(names)}
    layer["session.get_spark_s"] = get_spark_s
    # micro-batch jobs carry the stream's own description, which starts
    # with the query name
    timed = ("nightly_etl:silver:", "nightly_etl:gold.", "nightly_etl:reingest:", STREAM_NAME)
    _exec_totals(layer, [w for d, w in works.items() if d.startswith(timed)], walls, run.cores)
    reads = [w for d, w in works.items() if d.startswith(("nightly_etl:silver:", "nightly_etl:reingest:", STREAM_NAME))]
    layer["sources.input_bytes"] = sum(w.input_bytes for w in reads) / iterations
    layer["sources.input_records"] = sum(w.input_records for w in reads) / iterations
    layer["sources.scan_ms"] = sum(w.input_task_run_ms for w in reads) / iterations
    layer["classify.rows_categorized"] = exp.rows_categorized
    layer["ingest.rows_in"] = exp.messages
    layer["ingest.rows_out"] = exp.silver_rows
    layer["ingest.build_user_data_ms"] = sum(spans.durations_ms("build_user_data")) / iterations
    layer["writers.write_ms"] = sum(spans.durations_ms("write_month_partitioned")) / iterations
    writes = [w for d, w in works.items() if d.startswith(("nightly_etl:silver:", "nightly_etl:gold.", "nightly_etl:reingest:"))]
    layer["writers.bytes_written"] = sum(w.output_bytes for w in writes) / iterations
    files, parts = _written(out)
    layer["writers.files_written"] = files
    layer["writers.partitions_written"] = parts
    for view in GOLD_VIEWS:
        walls_v = [s["wall_s"] * 1e3 for s in ok_steps if s["step"] == f"gold.{view}"]
        layer[f"gold.ms.{view}"] = statistics.median(walls_v)
        layer[f"gold.rows.{view}"] = gold_rows[view]
    batches = [p for prog in stream_progress for p in prog if p.get("numInputRows", 0) > 0]
    layer["stream.batches"] = len(batches) / iterations
    layer["stream.batch_p50_ms"] = statistics.median(p["durationMs"]["triggerExecution"] for p in batches)
    layer["stream.add_batch_ms"] = sum(p["durationMs"].get("addBatch", 0) for p in batches) / iterations
    layer["stream.query_planning_ms"] = sum(p["durationMs"].get("queryPlanning", 0) for p in batches) / iterations
    last = stream_progress[-1][-1]["stateOperators"][0]
    layer["stream.state_rows"] = last["numRowsTotal"]
    layer["stream.state_memory_bytes"] = last["memoryUsedBytes"]
    layer["stream.late_rows_dropped"] = sum(
        op.get("numRowsDroppedByWatermark", 0) for p in batches for op in p["stateOperators"]
    )

    _overhead(layer, walls, ref)
    spans.write(os.path.join(run.work, f"spans-nightly_etl-{run.seed}.jsonl"))
    return run.result(_layer_metrics(names, layer))


def _written(out: str) -> tuple[int, int]:
    """(parquet files, month partitions) under the ETL's output tables."""
    files = parts = 0
    for root, dirs, fnames in os.walk(out):
        if "checkpoints" in root:
            continue
        files += sum(1 for f in fnames if f.endswith(".parquet"))
        parts += sum(1 for d in dirs if d.startswith("_month="))
    return files, parts


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _check_etl(spark, exp, out, stream_table, reingest) -> tuple[bool, dict]:
    """Compare the ETL's outputs, read back with DuckDB, with the
    generator's expectations; returns (all checks passed, gold view -> row
    count)."""
    problems: list[str] = []

    def expect(what, got, want):
        if got != want:
            problems.append(f"{what}: got {got}, want {want}")

    con = duckdb.connect()
    cats = [f"{c}_count" for c in COUNTED_CATEGORIES]
    silver = _parquet(os.path.join(out, "silver"))
    n, total, *cat_sums = con.execute(
        f"SELECT count(*), sum(total_message_count), {', '.join(f'sum({c})' for c in cats)} FROM {silver}"
    ).fetchone()
    expect("silver rows", n, exp.silver_rows)
    expect("silver counted messages", total, exp.counted_messages)
    for c, got in zip(COUNTED_CATEGORIES, cat_sums):
        expect(f"silver {c}_count", got, exp.category_sums[c])

    gold_rows = {}
    for view in GOLD_VIEWS:
        rel = con.execute(f"SELECT * FROM {_parquet(os.path.join(out, 'gold', view))} LIMIT 0")
        summed = [d[0] for d in rel.description if d[0].endswith(("_count", "_messages"))]
        vals = con.execute(
            f"SELECT count(*), {', '.join(f'sum({c})' for c in summed)} "
            f"FROM {_parquet(os.path.join(out, 'gold', view))}"
        ).fetchone()
        gold_rows[view] = vals[0]
        got = dict(zip(summed, vals[1:]))
        if view == "channel_month_language":
            expect(f"{view} rows", vals[0], exp.channel_months)
            expect(f"{view} total", got["total_message_count"], exp.counted_messages)
            for c in COUNTED_CATEGORIES:
                expect(f"{view} {c}_count", got[f"{c}_count"], exp.category_sums[c])
        elif view == "user_month_language":
            expect(f"{view} rows", vals[0], exp.active_user_months)
            expect(f"{view} jp_count", got["jp_count"], exp.category_sums["jp"])
            expect(
                f"{view} non_emoji_count",
                got["non_emoji_count"],
                exp.counted_messages - exp.category_sums["emoji"],
            )
        else:
            expect(f"{view} rows", vals[0], exp.active_user_months)
            expect(f"{view} total_messages", got["total_messages"], exp.counted_messages)

    content = f"SELECT md5(string_agg(CAST(t AS VARCHAR), '|' ORDER BY CAST(t AS VARCHAR))) FROM {silver} t"
    before = con.execute(content).fetchone()[0]
    reingest()
    expect("silver content after a second month re-ingest", con.execute(content).fetchone()[0], before)

    counters = cats + ["total_message_count"]
    rolled = sorted(
        tuple(r)
        for r in spark.table(stream_table)
        .groupBy("video_id", "user_id")
        .agg(*[F.sum(c).cast("long").alias(c) for c in counters])
        .collect()
    )
    batch = sorted(
        con.execute(
            f"SELECT video_id, user_id, {', '.join(counters)} FROM {silver} "
            f"WHERE channel_id = ?",
            [exp.stream_channel],
        ).fetchall()
    )
    expect("stream rollup rows", len(rolled), exp.stream_silver_rows)
    expect("stream rollup equals batch silver counters", rolled == batch, True)
    for p in problems:
        _log(f"nightly_etl check failed: {p}")
    return not problems, gold_rows
