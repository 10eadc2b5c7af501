"""SparkSession factory tuned for this engine.

The driver may hand us its own session (``__spark_entry__.entry(spark)``),
and the library writes nothing into it: timestamps are UTC wall-clock
``timestamp_ntz``; the library sets no session conf. Every timestamp a
query or source produces is that NTZ value, so no result depends on
``spark.sql.session.timeZone`` and nothing has to be pinned per build.

Scale notes (100 TB): these configs are the local test shape of the
settings we would deploy cluster-side — AQE (on by default in Spark 4) for
runtime coalescing and skew-join splitting, a generous broadcast threshold
because every dimension table in the model (region/nation/supplier/part at
TPC-H shape; channels/users in the reference's model, SURVEY.md §1.2) is
orders of magnitude smaller than the fact tables.

Two shuffle widths. Batch shuffles start at AQE's
``coalescePartitions.initialPartitionNum`` (32 here) and coalesce down.
A stateful stream runs its micro-batches without AQE, so its state-store
count is ``spark.sql.shuffle.partitions`` (the core count here), fixed in
its checkpoint at the first batch; an existing checkpoint keeps the count
it recorded. A cluster sets both: the batch width from data volume (so
post-shuffle partitions land ~128-256 MB, e.g. ~400k for a 100 TB
shuffle) and the state width from state volume.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# get_spark's env knobs: default, accepted form, and that form in words.
# The core count goes into local[...]; the heap size is a Spark size
# string (a bare number is MiB).
_ENV_KNOBS = {
    "SPARK_GRAFT_CPUS": ("*", re.compile(r"\*|[1-9][0-9]*"), "'*' or a positive integer"),
    "SPARK_GRAFT_DRIVER_MEM": (
        "8g",
        re.compile(r"[1-9][0-9]*([kmgtp]b?)?", re.IGNORECASE),
        "a JVM size such as 2g or 512m",
    ),
}


def _env_knob(name: str) -> str:
    """The knob's value, or its default; a malformed value raises before
    any JVM starts."""
    default, pattern, expected = _ENV_KNOBS[name]
    value = os.environ.get(name, default)
    if not pattern.fullmatch(value):
        raise ValueError(f"{name}={value!r}: expected {expected}")
    return value


def get_spark(app_name: str = "holochatstats-spark") -> SparkSession:
    """Create (or reuse) a local session shaped like our cluster profile.

    Env knobs: ``SPARK_GRAFT_CPUS`` (``*`` or a positive integer, default
    ``*``) and ``SPARK_GRAFT_DRIVER_MEM`` (a JVM size, default ``8g``). A
    malformed value raises ``ValueError`` naming the variable."""
    cpus = _env_knob("SPARK_GRAFT_CPUS")
    driver_mem = _env_knob("SPARK_GRAFT_DRIVER_MEM")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Batch shuffle width: 32, the value every recorded bench used;
        # AQE reads it for every batch shuffle and coalesces down.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dims here are KB-scale; broadcast aggressively. AQE will also
        # convert to broadcast at runtime when a side is small post-filter.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # State width: micro-batches run without AQE, so a stateful stream
    # reads spark.sql.shuffle.partitions as its state-store count and
    # freezes it into its checkpoint at the first batch. One store per
    # core: every batch commits each store, whatever the state's size.
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    return spark
