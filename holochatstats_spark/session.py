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

from pyspark.sql import SparkSession


def get_spark(app_name: str = "holochatstats-spark") -> SparkSession:
    """Create (or reuse) a local session shaped like our cluster profile."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
