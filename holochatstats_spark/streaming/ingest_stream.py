"""Structured Streaming ingestion: the batch A1 silver aggregate run on a
file-source stream of landed chat replays (SURVEY §2.10: the same A1
aggregate, late data tolerated to end-of-stream since replays are
complete; the reference's chat iterator is a hand-rolled stateful
aggregate over a replay stream, chat_downloader.py:41-132).

The contract. A stream's result equals the batch result on the files
landed so far (prefix consistency, as Structured Streaming defines it):
- each row of each landed file counts once. The stream reads through the
  batch reader's schema and video_id/ts projection
  (sources/chat_logs.with_video_ts) and aggregates with the batch silver
  aggregate (operators/ingest.aggregate_per_user), so its rows are silver
  rows without observed_month, every column included: counters,
  username, membership_rank, last_message_at and is_gift. In update mode
  the last row emitted per key is that key's silver row; in complete mode
  every batch emits all of them;
- nothing is dropped for lateness or age. There is no event-time window
  and no watermark, so a replay of an older video (a backfill, a
  re-download) landing after a restart is aggregated like any other.
  The file source reads every new file whatever its modification time
  (``MAX_FILE_AGE``);
- state is one row per silver row and is never evicted. A replay carries
  no video-complete signal to evict on, and complete mode keeps every row
  anyway, so state grows with the silver rows its checkpoint has seen;
- a replay re-landed under a new file name counts twice (the file source
  tracks files by path). The month rebuild (operators/ingest.py over the
  landing, idempotent month-partition overwrite) is the system of record.

Batches and state:
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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from holochatstats_spark.operators.ingest import aggregate_per_user
from holochatstats_spark.sources.chat_logs import MESSAGE_SCHEMA, with_video_ts


# Upper bound on the compressed replay bytes one micro-batch reads.
MAX_BYTES_PER_TRIGGER = 256 * 1024 * 1024
# Oldest file the source reads, measured from the newest it has seen:
# 100 years, older than any mtime since the epoch.
MAX_FILE_AGE = "36500d"


def stream_messages(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of sources/chat_logs.read_chat_logs: same schema,
    same video_id/ts projection. Each micro-batch reads at most
    ``MAX_BYTES_PER_TRIGGER`` bytes of landed files (at least one file).

    Every landed file is read once, whatever its modification time. The
    file source skips a file more than ``maxFileAge`` (7 days by default)
    older than the newest file it has seen, so after a restart a backfill
    copied with its original mtime (``cp -p``, tar) would be lost without
    an error. ``MAX_FILE_AGE`` is longer than any mtime since the epoch.
    It costs one seen-file entry per replay in the query's memory, the
    files the source's metadata log records anyway."""
    return with_video_ts(
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxBytesPerTrigger", MAX_BYTES_PER_TRIGGER)
        .option("maxFileAge", MAX_FILE_AGE)
        .json(path)
    )


def stream_user_counters(messages: DataFrame, channel_id: str) -> DataFrame:
    """The silver aggregate (operators/ingest.aggregate_per_user) over
    ``messages`` tagged with ``channel_id``: one row per (channel, video,
    user) with every silver column but observed_month, a window over each
    video's rows that the month rebuild computes."""
    return aggregate_per_user(messages.withColumn("channel_id", F.lit(channel_id)))
