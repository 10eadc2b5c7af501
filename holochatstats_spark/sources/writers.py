"""Silver/gold sinks (SURVEY.md §2.1 S5/S7).

The reference's upsert path is an `INSERT ... ON CONFLICT DO UPDATE`
summing counters (queries.py:338-354) fed by a single-writer batching
process (db_worker.py) — a serialization point with inconsistent re-ingest
semantics (SURVEY §7 risk 3). The Spark-native replacement is an
idempotent month-partition rebuild: recompute the month's aggregate and
INSERT OVERWRITE just that partition (dynamic partitionOverwriteMode) —
re-running a month is a no-op instead of a double-count, and the write is
fully distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_month_partitioned(
    df: DataFrame,
    path: str,
    month_col: str = "observed_month",
    fmt: str = "parquet",
) -> None:
    """Idempotent month-partition overwrite (replaces S5 upserts).

    Only partitions present in ``df`` are replaced; other months are
    untouched — the exact semantics of the reference's
    DELETE-month + INSERT-month refresh proc (queries.py:120-129).
    """
    (
        df.withColumn("_month", F.date_format(F.col(month_col), "yyyy-MM"))
        .write.mode("overwrite")
        # a write option, not the session conf: the shared session's
        # setting is never touched
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_month")
        .format(fmt)
        .save(path)
    )


#: Refuse single-file exports above this many rows — a coalesce(1) funnel
#: routes the whole frame through one task, which is fine for a query
#: summary and an OOM at data scale.
SINGLE_FILE_MAX_ROWS = 1_000_000


def export_csv(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    single_file_max_rows: int = SINGLE_FILE_MAX_ROWS,
) -> None:
    """S7: per-query CSV export (reference README.md:51).

    Default is a fully distributed write (one file per partition) — the
    only shape that survives a real export. ``single_file=True`` opts into
    the reference's one-file UX, guarded: frames larger than
    ``single_file_max_rows`` are refused instead of silently funneled
    through a single task. The guard probes via ``limit(max+1).count()``
    so it can short-circuit without scanning the full frame.
    """
    if single_file:
        n = df.limit(single_file_max_rows + 1).count()
        if n > single_file_max_rows:
            raise ValueError(
                f"export_csv(single_file=True) refused: frame exceeds "
                f"{single_file_max_rows} rows; use the default partitioned "
                f"export or raise single_file_max_rows explicitly"
            )
        df = df.coalesce(1)
    df.write.mode("overwrite").option("header", "true").csv(path)

