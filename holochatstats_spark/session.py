"""SparkSession factory tuned for this engine.

The driver may hand us its own session (``__spark_entry__.entry(spark)``),
so every query builder calls :func:`ensure_session_defaults` to pin the
runtime-settable configs it depends on (UTC session timezone, AQE) instead
of assuming the factory was used.

Scale notes (100 TB): these configs are the local[32] test shape of the
settings we would deploy cluster-side — AQE for runtime coalescing and
skew-join splitting, a generous broadcast threshold because every dimension
table in the model (region/nation/supplier/part at TPC-H shape; channels/
users in the reference's model, SURVEY.md §1.2) is orders of magnitude
smaller than the fact tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that must hold for correctness (not just speed); re-assertable at
# runtime on a foreign session.
_RUNTIME_CONFS = {
    # Deterministic wall-clock semantics for date_trunc/month/date_format,
    # matching DuckDB's naive-timestamp reading of the same parquet.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable configs this engine's semantics rely on.

    The timezone pin is load-bearing for correctness (every date bucket
    diverges from the oracle otherwise), so its read-back is asserted
    rather than best-effort; the AQE confs are performance-only and may
    legitimately be locked on a foreign session.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # perf conf not settable on this build — verified below for tz
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz != "UTC":
        raise RuntimeError(
            f"spark.sql.session.timeZone={tz!r}; this engine requires UTC "
            "(month/date bucketing would silently diverge from the oracle)"
        )
    return spark


def get_spark(app_name: str = "holochatstats-spark") -> SparkSession:
    """Create (or reuse) a local session shaped like our cluster profile."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle width: 32, the value every recorded bench used; AQE
        # coalesces down. A cluster sizes it so post-shuffle partitions
        # land ~128-256 MB (guide §2.2), e.g. ~400k for a 100 TB shuffle.
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dims here are KB-scale; broadcast aggressively. AQE will also
        # convert to broadcast at runtime when a side is small post-filter.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return ensure_session_defaults(builder.getOrCreate())
