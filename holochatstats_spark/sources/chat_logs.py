"""Bronze chat-log source (SURVEY.md §2.1 S1/S2, §2.3 F13).

The reference stores one gzipped JSONL file per video
(cache/chat_logs/<video_id>.jsonl.gz, written cache_manager.py:172-176,
read :26-28). Record shape (chat_downloader.py:85-94,125-132): epoch-µs
timestamps, pre-classified message_category, membership_rank, message_type.

Spark mapping: `spark.read.schema(...).json(glob)` — gzip is splittable
per-file so a directory of per-video files parallelizes naturally; at
100 TB the landing files are re-encoded to month-partitioned parquet by
the ingest job (operators/ingest.py) and this reader is only the bronze
edge. Explicit schema always — inference over 100 TB of JSON is a full
extra pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("username", T.StringType()),
        # epoch MICROseconds (divided by 1e6 at read in the reference,
        # cache_manager.py:65,74)
        T.StructField("timestamp", T.LongType()),
        T.StructField("membership_rank", T.IntegerType()),
        T.StructField("message_category", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("message_type", T.StringType()),
        T.StructField("gifter", T.StringType()),
    ]
)


def with_video_ts(df: DataFrame) -> DataFrame:
    """The bronze projection shared by the batch and streaming readers:
    video_id from the <video_id>.jsonl[.gz] file name (the reference keys
    the cache by file name; '' for any other name), timestamp µs → ts
    (F13). The name comes from the file source's ``_metadata.file_name``,
    a per-file constant, not a regex over each row's full path; ``df`` must
    be the reader's frame.

    Timestamps are UTC wall-clock ``timestamp_ntz``; the library sets no
    session conf. So ts is the epoch instant's UTC wall clock, and the
    months and days bucketed from it are the same under every session time
    zone."""
    return df.withColumn(
        "video_id",
        F.regexp_extract(F.col("_metadata.file_name"), r"^(.+?)\.jsonl(\.gz)?$", 1),
    ).withColumn("ts", F.expr("timestampadd(MICROSECOND, timestamp, TIMESTAMP_NTZ'1970-01-01')"))


def read_chat_logs(
    spark: SparkSession, path: str, channel_id: str | None = None
) -> DataFrame:
    """Read <video_id>.jsonl[.gz] files under ``path`` into the messages
    bronze frame (with_video_ts), tagged with ``channel_id`` if given."""
    df = with_video_ts(spark.read.schema(MESSAGE_SCHEMA).json(path))
    if channel_id is not None:
        df = df.withColumn("channel_id", F.lit(channel_id))
    return df
