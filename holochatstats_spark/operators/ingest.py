"""A1 — the per-(user, channel, video) ingest aggregate, the reference's
most load-bearing computation (chat_downloader.py:41-179, pinned by its
only unit test; cache replay variant cache_manager.py:30-79).

The reference runs a hand-rolled streaming hash-agg in Python dicts, one
process per video, feeding a single DB-writer queue. Here the whole thing
is ONE declarative groupBy over the messages table — Spark gives partial
(map-side) aggregation, spill, and distribution for free, and the
downstream write is an idempotent month-partition overwrite
(sources/writers.py) instead of an upsert queue.

Semantics reproduced (and where they differ, why):
- category counters: jp/kr/ru/emoji/es_en_id each count categorized chat
  messages; `number` counts toward total_message_count only
  (chat_downloader.py:113-121,166-172).
- membership events (new_member/gift_member) do NOT count as messages but
  DO advance last_message_at (chat_downloader.py:68-98).
- membership_rank: the rank from the user's latest rank-bearing row
  (message, or member event with badges); gift events without badges give
  rank -2 and never override a known rank (chat_downloader.py:70-86,
  158-163). The reference uses arrival order; we use event-time order
  with a seq tie-break when present (arrival order is not a distributed
  concept — documented divergence for equal timestamps).
- is_gift: user has a gift event and no known-rank row
  (chat_downloader.py:155-157).
- observed_month: month of the video's last message, falling back to the
  job's (year, month) for empty videos (chat_downloader.py:141-145).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from holochatstats_spark.functions.classify import (
    COUNTED_CATEGORIES,
    categorize_message,
)
from holochatstats_spark.functions.core import sql_str

MEMBER_EVENT_TYPES = ("new_member", "gift_member")


def classify_messages(messages: DataFrame) -> DataFrame:
    """Fill message_category where missing (replay logs carry it;
    live-parsed streams don't) — native expression, no UDF."""
    return messages.withColumn(
        "message_category",
        F.when(
            F.col("message_type").isin(*MEMBER_EVENT_TYPES),
            F.lit(None).cast("string"),
        ).otherwise(
            F.coalesce(F.col("message_category"), categorize_message(F.col("message")))
        ),
    )


_MEMBER_EVENTS_SQL = ", ".join(map(sql_str, MEMBER_EVENT_TYPES))
_IS_COUNTED = (
    f"NOT (message_type IN ({_MEMBER_EVENTS_SQL})) AND message_category IS NOT NULL"
)
_MESSAGE_COUNTERS_SQL = tuple(
    f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS INT) AS {name}"
    for cond, name in [
        (f"({_IS_COUNTED}) AND message_category = {sql_str(c)}", f"{c}_count")
        for c in COUNTED_CATEGORIES
    ]
    + [(_IS_COUNTED, "total_message_count")]
)


def aggregate_per_user(messages: DataFrame) -> DataFrame:
    """messages (bronze) → one row per (channel_id, video_id, user_id):
    every silver column except observed_month. The batch build_user_data
    and the stream (streaming.stream_user_counters) both run this one
    aggregate, so a stream's rows are silver rows by construction.

    Expects columns: channel_id, video_id, user_id, username, ts (UTC
    wall-clock timestamp_ntz), membership_rank, message_category, message,
    message_type; optional seq for total ordering within equal timestamps.
    A row counts toward the counters iff it is not a membership event and
    its category survived classification.
    """
    msgs = classify_messages(messages)
    if "seq" not in msgs.columns:
        msgs = msgs.withColumn("seq", F.lit(0).cast("long"))

    # rank is "known" unless NULL (no badge parsed — not rank-bearing) or a
    # badge-less gift event (rank -2); a NULL-rank chat message must not
    # shadow an earlier known rank (ADVICE r1: the bare coalesce collapsed
    # that case to -2)
    has_known_rank = (
        f"membership_rank IS NOT NULL AND (NOT (message_type IN ({_MEMBER_EVENTS_SQL}))"
        " OR membership_rank != -2)"
    )
    order_key = "struct(ts, seq)"
    return (
        msgs.groupBy("channel_id", "video_id", "user_id")
        .agg(
            F.expr(f"max_by(username, {order_key}) AS username"),
            F.expr("max(ts) AS last_message_at"),
            *(F.expr(e) for e in _MESSAGE_COUNTERS_SQL),
            F.expr(
                f"CAST(coalesce(max_by(CASE WHEN {has_known_rank} THEN membership_rank END,"
                f" CASE WHEN {has_known_rank} THEN {order_key} END), -2) AS INT)"
                " AS membership_rank"
            ),
            F.expr("max(CAST(message_type = 'gift_member' AS INT)) = 1 AS has_gift_event"),
            F.expr(f"max(CAST({has_known_rank} AS INT)) = 0 AS no_known_rank"),
        )
        .withColumn("is_gift", F.expr("has_gift_event AND no_known_rank"))
        .drop("has_gift_event", "no_known_rank")
    )


def build_user_data(messages: DataFrame) -> DataFrame:
    """messages (bronze) → user_data (silver): aggregate_per_user plus
    observed_month, the month of the video's last message; a video whose
    rows all have a NULL ts keeps a NULL observed_month.
    """
    # observed_month: month of the video's LAST message (any user) —
    # window over the per-user aggregate (cardinality = users/video), not
    # the raw messages.
    return aggregate_per_user(messages).withColumn(
        "observed_month",
        F.expr("trunc(max(last_message_at) OVER (PARTITION BY channel_id, video_id), 'MM')"),
    )
