"""Gold layer — the reference's four materialized views + membership
summary (SURVEY.md §1.3; DDL queries.py:120-236), as month-partitionable
aggregate builders over the silver `user_data` table.

Each is a pure groupBy/window plan; rebuilt per month partition via
sources/writers.write_month_partitioned — the Spark-native equivalent of
the reference's DELETE-month + INSERT-month refresh procedure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from holochatstats_spark.functions.core import pct_round

def _month():
    # built lazily: Column construction needs an active SparkContext in
    # pyspark 4, and this module is imported before the session exists
    return F.trunc(F.col("last_message_at"), "MM").alias("observed_month")


def user_monthly_activity(user_data: DataFrame) -> DataFrame:
    """mv_user_monthly_activity (queries.py:178-188): per (user, channel,
    month) message totals, excluding gift-only rows (P3)."""
    return (
        user_data.where(F.col("total_message_count") > 0)
        .groupBy("user_id", "channel_id", _month())
        .agg(F.sum("total_message_count").cast("long").alias("total_messages"))
    )


def user_activity(user_data: DataFrame, channels: DataFrame) -> DataFrame:
    """mv_user_activity (queries.py:190-207): active (user, month, channel,
    group) rows. The reference's consumers expect a message count column
    that the MV lacks (latent bug, SURVEY §2.6 J4) — we include it."""
    return (
        user_data.where(F.col("total_message_count") > 0)
        .groupBy("user_id", "channel_id", _month())
        .agg(F.sum("total_message_count").cast("long").alias("total_messages"))
        .join(F.broadcast(channels), "channel_id")
        .select(
            "user_id",
            "observed_month",
            "channel_id",
            "channel_group",
            "total_messages",
        )
    )


def channel_month_language(user_data: DataFrame) -> DataFrame:
    """chat_language_stats_mv (queries.py:209-223): per (channel, month)
    sums of the five category counters + total."""
    sums = [
        F.sum(f"{c}_count").cast("long").alias(f"{c}_count")
        for c in ("jp", "kr", "ru", "emoji", "es_en_id")
    ]
    return user_data.groupBy("channel_id", _month()).agg(
        *sums,
        F.sum("total_message_count").cast("long").alias("total_message_count"),
    )


def user_month_language(user_data: DataFrame) -> DataFrame:
    """mv_user_language_per_month (queries.py:225-236): per (user, channel,
    month) JP count vs non-emoji total — feeds the JP-user ratio test
    jp > 0.5 × non_emoji (A9, api.py:2491-2528)."""
    return (
        user_data.where(F.col("total_message_count") > 0)
        .groupBy("user_id", "channel_id", _month())
        .agg(
            F.sum("jp_count").cast("long").alias("jp_count"),
            F.sum(F.col("total_message_count") - F.col("emoji_count"))
            .cast("long")
            .alias("non_emoji_count"),
        )
    )


def membership_summary(user_data: DataFrame, channels: DataFrame) -> DataFrame:
    """membership_data_summary refresh (queries.py:120-177): latest rank
    per (user, channel, month) with rank-class priority — known ranks
    (>= 0) beat gift-unknown (-2) beat non-member (-1); within a class the
    latest row wins (W1) — then per-channel-month counts and
    percent-of-total (A8/W3).
    """
    rank_class = (
        "CASE WHEN membership_rank >= 0 THEN 0 WHEN membership_rank = -2 THEN 1 ELSE 2 END"
    )
    # The W1 "latest row per (user, channel, month)" pick only needs the
    # winner's membership_rank, and its ordering — rank_class ASC,
    # last_message_at DESC, video_id DESC — is a total order within the
    # group (video_id is unique per (channel, video, user) silver row), so
    # the row_number window (full sort of the silver frame + filter) is
    # exactly a max_by over the order key with the class negated
    # (max of -rank_class = min of rank_class; struct comparison is
    # lexicographic, so the tie-breaks follow in order). An aggregate
    # gets partial (map-side) combining before the shuffle — the window
    # shipped and sorted every silver row (guide §2.3/§2.4; r22).
    # video_id stays the deterministic tie-break: two same-class rows of
    # one user can share last_message_at across videos; the pick must not
    # depend on partition order (oracle hash parity).
    order_key = f"struct(-({rank_class}) AS neg_class, last_message_at, video_id)"
    latest = (
        user_data.withColumn("observed_month_", F.expr("trunc(last_message_at, 'MM')"))
        .groupBy("user_id", "channel_id", "observed_month_")
        .agg(F.expr(f"max_by(membership_rank, {order_key}) AS membership_rank"))
    )
    counts = latest.groupBy(
        "channel_id", F.expr("observed_month_ AS observed_month"), "membership_rank"
    ).agg(F.expr("CAST(count(*) AS BIGINT) AS membership_count"))
    w_tot = Window.partitionBy("channel_id", "observed_month")
    return (
        counts.withColumn(
            "percentage_total",
            pct_round(
                F.col("membership_count"),
                F.sum("membership_count").over(w_tot),
            ),
        )
        .join(F.broadcast(channels), "channel_id")
        .select(
            "channel_group",
            "channel_name",
            "observed_month",
            "membership_rank",
            "membership_count",
            "percentage_total",
        )
    )
