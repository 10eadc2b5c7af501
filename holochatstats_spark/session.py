"""SparkSession factory tuned for this engine.

The driver may hand us its own session (``__spark_entry__.entry(spark)``),
and the library writes nothing into it: timestamps are UTC wall-clock
``timestamp_ntz``; the library sets no session conf. Every timestamp a
query or source produces is that NTZ value, so no result depends on
``spark.sql.session.timeZone`` and nothing has to be pinned per build.

Scale notes (100 TB): these configs are the local[32] test shape of the
settings we would deploy cluster-side — AQE (on by default in Spark 4) for
runtime coalescing and skew-join splitting, a generous broadcast threshold
because every dimension table in the model (region/nation/supplier/part at
TPC-H shape; channels/users in the reference's model, SURVEY.md §1.2) is
orders of magnitude smaller than the fact tables.
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
    return (
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
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
