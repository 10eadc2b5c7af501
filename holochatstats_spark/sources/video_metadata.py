"""S2 — video/metadata dimension source (SURVEY §2.1 S2).

The reference stores per-channel JSON dicts `cache/videos/<channel_id>.json`
shaped {video_id: {title, end_time, duration}} (cache_manager.py:117-169).
A top-level object with *dynamic keys* can't be read with a fixed struct
schema, so the Spark-native mapping is: wholetext read → from_json into a
MapType → explode(map_entries) — one row per video, channel_id from the
file name. Explicit schema throughout (no inference pass over the landing
zone), matching the engine's fixed-DDL philosophy (tables.py).

This closes the bronze metadata loop: the duration/streaming-hours family
(A3/F7) reads its `duration_sec` from here at ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VIDEO_META_VALUE = T.StructType(
    [
        T.StructField("title", T.StringType()),
        # ISO-8601 UTC string in the reference cache; parsed to its UTC
        # wall clock
        T.StructField("end_time", T.StringType()),
        # seconds (the reference's INTERVAL column is modeled as seconds,
        # SURVEY §1.2: friendlier to SUM/EXTRACT-style math)
        T.StructField("duration", T.LongType()),
    ]
)

VIDEO_META_SCHEMA = T.MapType(T.StringType(), VIDEO_META_VALUE)


def read_video_metadata(spark: SparkSession, path: str) -> DataFrame:
    """Read <channel_id>.json dict files under ``path`` into a videos
    dimension: (channel_id, video_id, title, end_time, duration_sec).

    end_time is the UTC wall clock of the parsed ISO-8601 instant as a
    ``timestamp_ntz``: ``…Z`` and ``…+09:00`` spellings of one instant give
    one value under every session time zone, and a date-time without an
    offset is read as UTC (appending ``Z`` parses only when the string has
    no offset of its own; otherwise ``to_timestamp`` honours the offset and
    raises on a malformed string)."""
    raw = spark.read.text(path, wholetext=True)
    parsed = raw.select(
        F.regexp_extract(F.input_file_name(), r"([^/]+?)\.json$", 1).alias(
            "channel_id"
        ),
        F.explode(F.from_json(F.col("value"), VIDEO_META_SCHEMA)).alias(
            "video_id", "meta"
        ),
    )
    return parsed.select(
        "channel_id",
        "video_id",
        F.col("meta.title").alias("title"),
        F.expr(
            "timestampadd(MICROSECOND, unix_micros(coalesce("
            "try_to_timestamp(meta.end_time || 'Z'), to_timestamp(meta.end_time))),"
            " TIMESTAMP_NTZ'1970-01-01') AS end_time"
        ),
        F.col("meta.duration").alias("duration_sec"),
    )
