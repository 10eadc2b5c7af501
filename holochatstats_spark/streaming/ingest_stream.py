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
  downstream gold builds are unchanged.

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


def stream_messages(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of sources/chat_logs.read_chat_logs: same schema,
    same video_id/ts projection."""
    return with_video_ts(
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
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


def stream_running_user_totals(messages: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState — the
    Spark-native form of the reference's hand-rolled dict-state chat
    iterator (chat_downloader.py:41-132 keeps per-user running counters in
    Python dicts across an unbounded replay stream).

    Per user, GroupState holds the running message total; every
    micro-batch folds its Arrow batches into the state and emits the
    updated total (update output mode). State is per-key and partitioned —
    1000 executors each hold their keys' state, checkpointed with the
    query; the reference's equivalent was a single process's memory.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += int(len(pdf))
        state.update((total,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "running_total": [total]}
        )

    return messages.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id string, running_total bigint",
        stateStructType="total bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
