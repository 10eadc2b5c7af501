"""Structured Streaming ingestion — the streaming variant of the A1
ingest aggregate (SURVEY §2.10: the reference is a nightly batch pipeline;
its chat iterator is a hand-rolled stateful aggregate over an
unbounded-ish replay stream, chat_downloader.py:41-132 — the Spark-native
expression of that is readStream + windowed aggregation).

Design:
- file source on the chat-log landing directory, SAME explicit schema as
  the batch bronze reader (inference is disallowed on streams);
- event-time tumbling windows keyed (window, channel, video, user).
  Timestamps are UTC wall-clock ``timestamp_ntz``; the library sets no
  session conf. The watermark and the window run on ``event_time =
  timestamp_micros(timestamp)``, not on the NTZ ``ts``: Spark rejects an
  NTZ event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and the window
  bounds of an instant are epoch arithmetic, the same under every session
  time zone. ``last_message_at`` stays ``max(ts)``, NTZ. Replay lines later
  than the watermark are dropped;
- the per-window counters roll up to the batch A1 frame by summing over
  windows (counters are associative; last_message_at is a max) — the
  downstream gold builds are unchanged;
- micro-batches are bounded in bytes (``MAX_BYTES_PER_TRIGGER``, 256 MiB
  of gzipped replay), not in files. What a batch costs in read work and
  memory grows with its bytes, and one replay is a few KB for a short
  stream and several MB for a long one, so a file count says little about
  either. Every batch also pays a fixed state-store commit over all
  state partitions (a versioned delta file per partition), so a file cap
  turns a landing of many small replays into many near-empty batches that
  each pay that commit. 256 MiB of gzipped replay JSON is ~1-2.5 GB
  decoded, 3-13 million messages at 20-80 compressed bytes each: one
  night's downloads catch up in one or a few batches, and a backlog of
  days (hundreds of GB after an outage) is still cut into batches whose
  decoded input and state updates stay small beside a cluster's memory.
  A gzipped replay is not splittable, so a batch scans one task per file;
- the state width is ``spark.sql.shuffle.partitions``, not the batch
  shuffle width: micro-batches run without AQE, and the first batch fixes
  the count in the checkpoint. ``session.get_spark`` sets it to the core
  count (batch shuffles start at AQE's ``initialPartitionNum``, 32), so
  the catch-up commits one store per core. A cluster sizes it from the
  state's volume, and the batch width from the data's.

At scale this runs continuously against the landing zone with checkpoint
state in the stream's checkpointLocation; the batch path (operators/
ingest.py) remains the rebuild/backfill path. Both produce the same
silver counters by construction: they read through one video_id/ts
projection (sources/chat_logs.with_video_ts) and aggregate one counter
list (operators/ingest.message_counters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from holochatstats_spark.operators.ingest import classify_messages, message_counters
from holochatstats_spark.sources.chat_logs import MESSAGE_SCHEMA, with_video_ts


# Upper bound on the compressed replay bytes one micro-batch reads.
MAX_BYTES_PER_TRIGGER = 256 * 1024 * 1024


def stream_messages(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of sources/chat_logs.read_chat_logs: same schema,
    same video_id/ts projection. Each micro-batch reads at most
    ``MAX_BYTES_PER_TRIGGER`` bytes of landed files (at least one file)."""
    return with_video_ts(
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxBytesPerTrigger", MAX_BYTES_PER_TRIGGER)
        .json(path)
    )


def stream_user_counters(
    messages: DataFrame,
    channel_id: str,
    window_duration: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed streaming A1 counters: per (window, channel, video, user)
    the batch counter list (operators/ingest.message_counters) plus the
    last message ts. Summing across windows reproduces the batch counters
    exactly (associative aggregates only — the order-sensitive
    rank/username selection stays in the batch rebuild, which is the
    system of record for those columns)."""
    msgs = classify_messages(
        messages.withColumn("channel_id", F.lit(channel_id))
    ).withColumn("event_time", F.timestamp_micros("timestamp")).withWatermark(
        "event_time", watermark
    )
    return msgs.groupBy(
        F.window("event_time", window_duration),
        "channel_id",
        "video_id",
        "user_id",
    ).agg(*message_counters(), F.max("ts").alias("last_message_at"))
