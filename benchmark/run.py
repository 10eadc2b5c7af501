"""Benchmark entry point.

    python3 benchmark/run.py --workload {dashboard|nightly_etl} \\
        --seed N --seconds S --trace {0|1}

Run from the repository root. Inputs are generated from ``--seed`` under
``benchmark/_work`` (once per seed), and so is the JVM's class-data-sharing
archive (once per checkout); Spark's scratch space, the event log and every
output stay there too. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). Everything
else, Spark's own logging included, goes to stderr.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workloads  # noqa: E402  (fails fast when the program is absent)

WORKLOADS = {"dashboard": workloads.dashboard, "nightly_etl": workloads.nightly_etl}
CPUS = 4
# The program's default driver heap is 8 GB; the benchmark's machine is
# shared, and with 8 GB G1 sized the heap by GC timing (peak RSS 2.3-3.3 GB
# over 5 runs).
DRIVER_MEM = "2g"
JVM_EXIT_TIMEOUT_S = 120
WORK = os.path.join(HERE, "_work")
# Starting Spark's JVM loads and verifies ~8 s of classes from its jars on
# 4 vCPUs; a class-data-sharing archive maps them instead.
ARCHIVE_DIR = "jvm-archive"


def _log(msg: str) -> None:
    print(f"[benchmark] {msg}", file=sys.stderr, flush=True)


def _archive_key() -> str:
    """Key of the class-data-sharing archive: the JVM and every jar on
    Spark's class path, with sizes and modification times."""
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    java = shutil.which("java", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) or shutil.which("java")
    h = hashlib.sha256()
    for path in [os.path.realpath(java or "")] + sorted(glob.glob(os.path.join(home, "jars", "*"))):
        st = os.stat(path) if os.path.exists(path) else None
        h.update(f"{path}:{st and st.st_size}:{st and st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _archive_options(work: str) -> str:
    """JVM options that map the class-data-sharing archive of this class
    path, written first (untimed, by ``_write_archive`` in a child process)
    if it is missing. ``-Xshare:on``: a JVM that cannot use the archive
    fails to start instead of silently loading every class again."""
    path = os.path.join(work, ARCHIVE_DIR, f"{_archive_key()}.jsa")
    if not os.path.exists(path):
        _log(f"writing the JVM class-data-sharing archive {os.path.basename(path)}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--write-archive", path],
            stdout=sys.stderr, check=True,
        )
        if not os.path.exists(path):
            raise RuntimeError(f"the JVM wrote no class-data-sharing archive at {path}")
    return f"-XX:SharedArchiveFile={path} -Xshare:on"


def _write_archive(work: str, path: str) -> None:
    """Start Spark's JVM, load the classes of a session, a shuffle and a
    parquet round trip, and dump them to ``path`` as the JVM exits. The
    same fixed steps for every workload, so the archive's contents depend
    on the class path only."""
    from holochatstats_spark.session import get_spark

    _spark_env(work, f"-XX:ArchiveClassesAtExit={path}", trace=False)
    spark = get_spark("holochatstats-benchmark-archive")
    out = os.path.join(work, "tmp", "archive-parquet")
    df = spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
    df.write.mode("overwrite").parquet(out)
    spark.read.parquet(out).groupBy("k").count().collect()
    _stop_jvm()
    shutil.rmtree(out, ignore_errors=True)


def _spark_env(work: str, java_opts: str, trace: bool) -> None:
    """Session settings the benchmark owns, applied when ``get_spark``
    launches the JVM: local[4], a 2 GB heap, quiet stdout, scratch space
    inside the work directory, the class-data-sharing archive, and the
    event log on traced runs. The JVM keeps its default (tiered)
    compilation, as the program's own session does. ``SPARK_CONF_DIR`` is
    an empty directory: the archive refuses a class path holding a
    non-empty one, and the benchmark depends on no site configuration."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    conf = os.path.join(work, "conf")
    for d in (tmp, local, conf):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {java_opts}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_CONF_DIR"] = conf


def _stop_jvm() -> None:
    """Stop the session and the JVM pyspark launched, and wait until it has
    exited (a new class-data-sharing archive is written during that exit).
    The gateway server exits when its stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-archive", metavar="PATH", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    work = WORK
    os.makedirs(work, exist_ok=True)
    if args.write_archive:
        _write_archive(work, args.write_archive)
        return 0
    if args.workload is None or args.seed is None or args.seconds is None:
        p.error("--workload, --seed and --seconds are required")
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    if args.trace and not workloads.untraced_reference(work, args.workload, args.seed):
        # The traced run reports its overhead against an untraced run.
        _log("no untraced result of this workload yet: running one first")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=sys.stderr, check=True,
        )
    _spark_env(work, _archive_options(work), bool(args.trace))
    tempfile.tempdir = os.environ["TMPDIR"]

    # Spark's JVM inherits fd 1: point it at stderr for the whole run and
    # keep the real stdout for the result line.
    sys.stdout.flush()
    result_fd = os.dup(1)
    os.dup2(2, 1)
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = WORKLOADS[args.workload](run)
    finally:
        _stop_jvm()
    if run.trace:
        with open(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(result, f, indent=1)
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
