"""Per-query profiling harness for the optimization rounds (guide §1).

For each named query (default: all bench-tagged): build it twice and
record the construction cost — the cold build (the query's first build in
this process), the warm build (an immediate rebuild) and the Spark jobs
launched by the cold build (a job group around it); capture
.explain("formatted") to plans/<round>/<query>_<tag>.txt, then time the
computation with the noop sink (guide §1.4) min-of-N, labelled via
setJobDescription. Finally collect the query once and write the plan that
ran to plans/<round>/<query>_<tag>.json: the operator sequence (codegen
stage ids dropped, so two runs diff cleanly), the scan/exchange/reuse
counts, every node's SQL metrics, the Catalyst phase times and the build
record. Prints one JSON line with the noop timings (so sink/collect
overhead is visible separately from bench.py's collect() timings) and the
per-query build record.

Usage: PLANS_DIR=plans/<round> python tools/profile_bench.py <tag> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     PROFILE_RUNS (default 3), PLANS_DIR (required: the directory the plans
     are written to; no default, so a run cannot overwrite a committed
     round's plans).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from holochatstats_spark.plans.walker import (
    catalyst_phases_ms,
    plan_counts,
    walk_final_plan,
)
from holochatstats_spark.queries import load_all_queries
from holochatstats_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("PROFILE_RUNS", "3"))
    plans_dir = os.environ.get("PLANS_DIR")
    if not plans_dir:
        sys.exit(
            "PLANS_DIR is not set: name a new directory for the plans, "
            "e.g. PLANS_DIR=plans/<round>; there is no default, so no run "
            "overwrites a committed round's plans"
        )
    os.makedirs(plans_dir, exist_ok=True)

    registry = load_all_queries()
    unknown = only - set(registry)
    if unknown:
        sys.exit(
            f"unknown query name(s): {sorted(unknown)}; "
            f"known: {sorted(registry)}"
        )
    names = sorted(
        n
        for n, q in registry.items()
        if (n in only if only else "bench" in q.tags)
    )
    if not names:
        sys.exit("no queries selected (registry has no bench-tagged queries)")

    spark = get_spark("holochatstats-profile")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM, codegen and scan paths, without building a listed query
    spark.range(1000).selectExpr("sum(id)").collect()

    sc = spark.sparkContext
    timings: dict[str, float] = {}
    builds: dict[str, dict[str, float]] = {}
    for name in names:
        group = f"profile:{name}:build"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        df = registry[name].build(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        registry[name].build(spark, sf_dir)
        t2 = time.perf_counter()
        builds[name] = {
            "cold_build_ms": round((t1 - t0) * 1e3, 1),
            "warm_build_ms": round((t2 - t1) * 1e3, 1),
            "build_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        }
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        best = float("inf")
        for i in range(n_runs):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            run_df = df if i == 0 else registry[name].build(spark, sf_dir)
            run_df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 3)
        # the plan that ran: AQE final stages incl. ReusedExchange nodes
        # (the noop writes ran their own executions, so collect this one)
        df.collect()
        nodes = walk_final_plan(df)
        ops = [
            "WholeStageCodegen" if n["name"].startswith("WholeStageCodegen") else n["name"]
            for n in nodes
        ]
        with open(os.path.join(plans_dir, f"{name}_{tag}.json"), "w") as f:
            json.dump(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "build": builds[name],
                    "catalyst_ms": catalyst_phases_ms(df),
                    "operators": ops,
                    "counts": plan_counts(nodes),
                    "nodes": [{**n, "name": op} for n, op in zip(nodes, ops)],
                },
                f,
                indent=1,
            )

    print(
        json.dumps(
            {
                "tag": tag,
                "sink": "noop",
                "timing": f"min_of_{n_runs}",
                "total": round(sum(timings.values()), 3),
                "queries": timings,
                "build": builds,
            }
        )
    )


if __name__ == "__main__":
    main()
