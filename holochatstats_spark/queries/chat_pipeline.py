"""The HoloChatStats-semantic pipeline under the oracle gate: A1 ingest
aggregate → silver user_data → the gold MV layer (SURVEY §1.3) → A9 ratio,
plus the F1–F5 classification suite — all over the deterministic synthetic
messages frame (operators/synth.py), so the reference's most load-bearing
semantics (chat_downloader.py:41-179, queries.py:120-236, chat_parser.py,
feature_analysis.py) are hash-verified against DuckDB, not just unit-tested.

Scale shape: the A1 aggregate is ONE groupBy over the messages table
(map-side partial agg; the reference runs per-video Python dicts through a
single writer queue); each gold table is one further groupBy/window over
the much smaller silver frame; channels is a broadcast dim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from holochatstats_spark.functions.classify import (
    categorize_message,
    clean_chat_for_ai,
    has_humor,
    parse_membership_rank,
)
from holochatstats_spark.functions.core import pct_round, time_bucket
from holochatstats_spark.operators.gold import (
    channel_month_language,
    membership_summary,
    user_month_language,
    user_monthly_activity,
)
from holochatstats_spark.operators.ingest import build_user_data
from holochatstats_spark.operators.synth import (
    SYNTH_MESSAGES_SQL,
    synthetic_channels,
    synthetic_messages,
    with_synth_ctes,
)
from holochatstats_spark.queries import register
from holochatstats_spark.tables import load_table


def _silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_user_data(synthetic_messages(load_table(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# A1 — the ingest aggregate itself (chat_downloader.py:41-179): category
# counters, last_message_at advancement (member events advance it too),
# latest known rank with gift -2 never overriding, gift-only flag,
# observed_month = month of the video's last message.
# ---------------------------------------------------------------------------
@register(
    "a1_user_data",
    oracle=with_synth_ctes("""
    SELECT channel_id, video_id, user_id, username, last_message_at,
           jp_count, kr_count, ru_count, emoji_count, es_en_id_count,
           total_message_count, membership_rank, is_gift,
           CAST(date_trunc('month',
                MAX(last_message_at) OVER (PARTITION BY channel_id, video_id))
             AS DATE) AS observed_month
    FROM ud
    ORDER BY channel_id, video_id, user_id
    """),
    survey="A1,S8,F13,P8",
    tags=("bench",),
)
def a1_user_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _silver(spark, sf_dir).orderBy("channel_id", "video_id", "user_id")


# ---------------------------------------------------------------------------
# Gold MV 1 — mv_user_monthly_activity (queries.py:178-188): P3 activity
# filter + per (user, channel, month) totals.
# ---------------------------------------------------------------------------
@register(
    "user_monthly_activity_gold",
    oracle=with_synth_ctes("""
    SELECT user_id, channel_id,
           CAST(date_trunc('month', last_message_at) AS DATE) AS observed_month,
           CAST(SUM(total_message_count) AS BIGINT) AS total_messages
    FROM ud
    WHERE total_message_count > 0
    GROUP BY 1, 2, 3
    ORDER BY user_id, channel_id, observed_month
    """),
    survey="A2-analog,P3,gold",
)
def user_monthly_activity_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_monthly_activity(_silver(spark, sf_dir)).orderBy(
        "user_id", "channel_id", "observed_month"
    )


# ---------------------------------------------------------------------------
# Gold MV 2 — chat_language_stats_mv (queries.py:209-223): per (channel,
# month) sums of the five category counters + total.
# ---------------------------------------------------------------------------
@register(
    "channel_month_language_gold",
    oracle=with_synth_ctes("""
    SELECT channel_id,
           CAST(date_trunc('month', last_message_at) AS DATE) AS observed_month,
           CAST(SUM(jp_count) AS BIGINT) AS jp_count,
           CAST(SUM(kr_count) AS BIGINT) AS kr_count,
           CAST(SUM(ru_count) AS BIGINT) AS ru_count,
           CAST(SUM(emoji_count) AS BIGINT) AS emoji_count,
           CAST(SUM(es_en_id_count) AS BIGINT) AS es_en_id_count,
           CAST(SUM(total_message_count) AS BIGINT) AS total_message_count
    FROM ud
    GROUP BY 1, 2
    ORDER BY channel_id, observed_month
    """),
    survey="A2,gold",
)
def channel_month_language_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return channel_month_language(_silver(spark, sf_dir)).orderBy(
        "channel_id", "observed_month"
    )


# ---------------------------------------------------------------------------
# Gold MV 3 — mv_user_language_per_month (queries.py:225-236).
# ---------------------------------------------------------------------------
@register(
    "user_month_language_gold",
    oracle=with_synth_ctes("""
    SELECT user_id, channel_id,
           CAST(date_trunc('month', last_message_at) AS DATE) AS observed_month,
           CAST(SUM(jp_count) AS BIGINT) AS jp_count,
           CAST(SUM(total_message_count - emoji_count) AS BIGINT) AS non_emoji_count
    FROM ud
    WHERE total_message_count > 0
    GROUP BY 1, 2, 3
    ORDER BY user_id, channel_id, observed_month
    """),
    survey="A9,gold",
)
def user_month_language_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_month_language(_silver(spark, sf_dir)).orderBy(
        "user_id", "channel_id", "observed_month"
    )


# ---------------------------------------------------------------------------
# Gold MV 4 + A8/W1 — membership_data_summary refresh (queries.py:120-177):
# rank-class priority dedup (known ≥0 beats gift -2 beats non-member -1,
# then latest), counts, percent-of-total window.
# ---------------------------------------------------------------------------
@register(
    "membership_summary_gold",
    oracle=with_synth_ctes("""
    , latest AS (
      SELECT *, CAST(date_trunc('month', last_message_at) AS DATE) AS om,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, channel_id, date_trunc('month', last_message_at)
               ORDER BY CASE WHEN membership_rank >= 0 THEN 0
                             WHEN membership_rank = -2 THEN 1 ELSE 2 END ASC,
                        last_message_at DESC, video_id DESC) AS rn
      FROM ud
    ), counts AS (
      SELECT channel_id, om AS observed_month, membership_rank,
             CAST(COUNT(*) AS BIGINT) AS membership_count
      FROM latest WHERE rn = 1 GROUP BY 1, 2, 3
    )
    SELECT ch.channel_group, ch.channel_name, c.observed_month,
           c.membership_rank, c.membership_count,
           FLOOR((c.membership_count * 100.0
                  / NULLIF(CAST(SUM(c.membership_count) OVER (
                      PARTITION BY c.channel_id, c.observed_month) AS DOUBLE), 0))
                 * 100 + 0.5) / 100 AS percentage_total
    FROM counts c JOIN channels ch USING (channel_id)
    ORDER BY ch.channel_name, c.observed_month, c.membership_rank
    """),
    survey="W1,A8,W3,P4,gold",
    tags=("bench",),
)
def membership_summary_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = build_user_data(synthetic_messages(ev))
    return membership_summary(ud, synthetic_channels(ev)).orderBy(
        "channel_name", "observed_month", "membership_rank"
    )


# ---------------------------------------------------------------------------
# A9 — JP-user ratio (api.py:2491-2528): a user is a "JP user" in a
# channel-month iff jp_count > 0.5 × non-emoji messages; report the share.
# ---------------------------------------------------------------------------
@register(
    "jp_user_share",
    oracle=with_synth_ctes("""
    , uml AS (
      SELECT user_id, channel_id,
             CAST(date_trunc('month', last_message_at) AS DATE) AS observed_month,
             SUM(jp_count) AS jp_count,
             SUM(total_message_count - emoji_count) AS non_emoji_count
      FROM ud WHERE total_message_count > 0
      GROUP BY 1, 2, 3
    )
    SELECT ch.channel_name, u.observed_month,
           CAST(SUM(CASE WHEN u.jp_count > 0.5 * u.non_emoji_count THEN 1 ELSE 0 END) AS BIGINT)
             AS jp_users,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           FLOOR((SUM(CASE WHEN u.jp_count > 0.5 * u.non_emoji_count THEN 1 ELSE 0 END) * 100.0
                  / NULLIF(CAST(COUNT(*) AS DOUBLE), 0)) * 100 + 0.5) / 100 AS jp_pct
    FROM uml u JOIN channels ch USING (channel_id)
    GROUP BY 1, 2
    ORDER BY ch.channel_name, u.observed_month
    """),
    survey="A9,F9",
)
def jp_user_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uml = user_month_language(build_user_data(synthetic_messages(ev)))
    is_jp = (F.col("jp_count") > 0.5 * F.col("non_emoji_count")).cast("int")
    per = uml.groupBy("channel_id", "observed_month").agg(
        F.sum(is_jp).cast("bigint").alias("jp_users"),
        F.count("*").cast("bigint").alias("n_users"),
    )
    return (
        per.join(F.broadcast(synthetic_channels(ev)), "channel_id")
        .select(
            "channel_name",
            "observed_month",
            "jp_users",
            "n_users",
            pct_round(F.col("jp_users"), F.col("n_users")).alias("jp_pct"),
        )
        .orderBy("channel_name", "observed_month")
    )


# ---------------------------------------------------------------------------
# F1–F5 — the classification suite at data scale (chat_parser.py:11-93,
# feature_analysis.py:7-26, ai_summarizer.py:42-52): Spark's native-regex
# expressions vs a DuckDB RE2 twin over every branch in the message pool.
# ---------------------------------------------------------------------------
_EMOJI_RE2 = (
    "[\\x{1F000}-\\x{1FAFF}\\x{2600}-\\x{27BF}\\x{2B00}-\\x{2BFF}"
    "\\x{20E3}\\x{00A9}\\x{00AE}\\x{2122}\\x{203C}\\x{2049}"
    "\\x{3030}\\x{303D}\\x{FE0E}\\x{FE0F}\\x{200D}]"
)
_FILLER_RE2 = "[\\s\\x{200D}\\x{FE0E}\\x{FE0F}]"
_JP_RE2 = "[\\p{Hiragana}\\p{Katakana}\\p{Han}]"

_HUMOR_SUBSTR_SQL = " OR ".join(
    f"contains(message, '{s}')"
    for s in (
        "草", "茶葉", "_fbkcha", "_lol", "lmao", "lmfao", "haha", "🤣", "😆",
        "jaja", "笑", "xd", "wkwk", "ｗ", "rofl", "kek", "looool", "xddd",
    )
)

_RANK_EXTRACT = "regexp_extract(lower(trim(badge_text)), '(\\d+)\\s*(month|year)', {g})"

#: RE2's \b is ASCII-word based, but Java's \b (and Python re's, which
#: the reference uses) is Unicode-aware: '다LOL！' has NO boundary before
#: the L (Hangul is a word char). Emulate the Unicode boundary explicitly
#: — found by the cross-engine fuzz corpus, tests/test_classify_fuzz.py.
_LOL_BOUNDED_RE2 = r"(?i)(^|[^\p{L}\p{N}_])lol+($|[^\p{L}\p{N}_])"

#: F4 has_humor as a DuckDB boolean expression over a `message` column —
#: shared by message_classification and the J10 funniest-timestamp oracle.
HUMOR_SQL = f"""COALESCE({_HUMOR_SUBSTR_SQL}
             OR regexp_matches(message, '{_LOL_BOUNDED_RE2}')
             OR (regexp_matches(message, '{_JP_RE2}')
                 AND regexp_matches(message, 'ｗ+$'))
             OR regexp_matches(message, '(?i)(ha){{2,}}|(w{{2,}})|(o?l{{2,}}o+l+)'),
             FALSE)"""

_CLASSIFY_BODY = f"""
    WITH base AS (
      SELECT seq, message, badge_text,
             trim(message) AS stripped,
             lower(trim(message)) AS lowered,
             regexp_replace(trim(message), ':[^:\\s]+:', '', 'g') AS no_sc
      FROM __SOURCE__
    ), emoji AS (
      SELECT *, regexp_replace(no_sc, '{_EMOJI_RE2}', '', 'g') AS no_em
      FROM base
    ), flags AS (
      SELECT *,
             regexp_replace(no_em, '{_FILLER_RE2}', '', 'g') = ''
               AND (no_sc <> stripped OR no_em <> no_sc) AS pure_emoji
      FROM emoji
    )
    SELECT seq, message,
           CASE WHEN message IS NULL OR stripped = '' THEN NULL
                WHEN pure_emoji THEN 'emoji'
                WHEN regexp_matches(lowered, '{_JP_RE2}')
                  OR regexp_matches(lowered, '[！？]')
                  OR regexp_matches(lowered, '^[wｗ]+$') THEN 'jp'
                WHEN regexp_matches(lowered, '[\\p{{Hangul}}]') THEN 'kr'
                WHEN regexp_matches(lowered, '[\\p{{Cyrillic}}]') THEN 'ru'
                WHEN regexp_matches(lowered, '^[\\p{{Nd}}\\p{{Nl}}\\p{{No}}]+$') THEN 'number'
                ELSE 'es_en_id' END AS category,
           CAST(CASE WHEN badge_text IS NULL OR badge_text = '' THEN -1
                WHEN contains(lower(trim(badge_text)), 'new member') THEN 0
                WHEN {_RANK_EXTRACT.format(g=1)} <> '' THEN
                  CASE WHEN {_RANK_EXTRACT.format(g=2)} = 'year'
                       THEN CAST({_RANK_EXTRACT.format(g=1)} AS INT) * 12
                       ELSE CAST({_RANK_EXTRACT.format(g=1)} AS INT) END
                ELSE -1 END AS INT) AS parsed_rank,
           {HUMOR_SQL} AS humor,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(message, ':[^:\\s]+:', ' ', 'g'),
               'https?://\\S+', ' ', 'g'),
             '\\s+', ' ', 'g')) AS cleaned
    FROM flags
    """


def classification_sql(source: str) -> str:
    """The full F1–F5 DuckDB twin over any relation exposing
    (seq, message, badge_text) — parameterized so the fuzz-corpus test
    (tests/test_classify_fuzz.py) can run it against arbitrary strings,
    not just the curated synth pool. No trailing ORDER BY (callers add
    their own)."""
    return _CLASSIFY_BODY.replace("__SOURCE__", source)


@register(
    "message_classification",
    oracle=(
        f"WITH msgs AS ({SYNTH_MESSAGES_SQL})\n"
        f"SELECT * FROM ({classification_sql('msgs')})\n"
        f"ORDER BY seq"
    ),
    survey="F1,F2,F3,F4,F5",
)
def message_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = synthetic_messages(load_table(spark, sf_dir, "events"))
    return msgs.select(
        "seq",
        "message",
        categorize_message(F.col("message")).alias("category"),
        parse_membership_rank(F.col("badge_text")).cast("int").alias("parsed_rank"),
        has_humor(F.col("message")).alias("humor"),
        clean_chat_for_ai(F.col("message")).alias("cleaned"),
    ).orderBy("seq")


# ---------------------------------------------------------------------------
# J10 + A11 — funniest timestamps (api.py:2708-2730 + feature_analysis.py:
# 30-45): per video, the argmax 30 s humor bucket (weight = humor-message
# count via F4, −10 s rewind) joined to the per-video last-chat CTE from
# silver; relative ts = funniest − last_chat + duration.
# ---------------------------------------------------------------------------
_VIDEO_STATS_SQL = """
      SELECT channel_id, video_id,
             MAX(epoch_us(ts) // 1000000) AS end_epoch,
             (MAX(epoch_us(ts) // 1000000) - MIN(epoch_us(ts) // 1000000)) + 30
               AS duration_sec
      FROM msgs GROUP BY 1, 2
"""


_OVER_VIDEO = "OVER (PARTITION BY channel_id, video_id)"


def _video_span(last: str, first: str) -> list[Column]:
    """end_epoch / duration_sec (+30 s pad) of a video from its last and
    first message epochs (SQL text) — the one Spark definition of the span
    math _VIDEO_STATS_SQL states for the oracle."""
    return [F.expr(f"{last} AS end_epoch"), F.expr(f"{last} - {first} + 30 AS duration_sec")]


def _video_stats(msgs: DataFrame) -> DataFrame:
    """Spark twin of _VIDEO_STATS_SQL: one row per (channel, video)."""
    return msgs.groupBy("channel_id", "video_id").agg(
        *_video_span("max(unix_timestamp(ts))", "min(unix_timestamp(ts))")
    )


def _bucket_video_span() -> list[Column]:
    """_video_span as (channel, video) window columns over per-bucket
    ``mn``/``mx`` epochs: consumers whose rank window is already
    partitioned by (channel, video) read the span off that partitioning
    instead of a second aggregate + join-back. The max of the bucket
    maxima is the per-video MAX(ts), so the values equal _video_stats'."""
    return _video_span(f"max(mx) {_OVER_VIDEO}", f"min(mn) {_OVER_VIDEO}")


@register(
    "funniest_timestamps",
    oracle=with_synth_ctes(f"""
    , humor_buckets AS (
      SELECT channel_id, video_id,
             (epoch_us(ts) // 1000000) // 30 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS weight
      FROM msgs WHERE {HUMOR_SQL}
      GROUP BY 1, 2, 3
    ), funniest AS (
      SELECT channel_id, video_id, bucket * 30 - 10 AS funniest_epoch
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY channel_id, video_id
                                     ORDER BY weight DESC, bucket ASC) AS rn
        FROM humor_buckets
      ) WHERE rn = 1
    ), vids AS ({_VIDEO_STATS_SQL}
    ), last_chat AS (
      SELECT channel_id, video_id,
             MAX(epoch_us(last_message_at) // 1000000) AS last_epoch
      FROM ud GROUP BY 1, 2
    )
    SELECT ch.channel_name, v.video_id,
           CAST(f.funniest_epoch AS BIGINT) AS funniest_epoch,
           CAST(f.funniest_epoch - lc.last_epoch + v.duration_sec AS BIGINT)
             AS relative_ts
    FROM vids v
    JOIN channels ch USING (channel_id)
    JOIN last_chat lc ON lc.channel_id = v.channel_id AND lc.video_id = v.video_id
    JOIN funniest f ON f.channel_id = v.channel_id AND f.video_id = v.video_id
    ORDER BY ch.channel_name, v.video_id
    """),
    survey="J10,A11,T7,F4",
)
def funniest_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One bucket-stats pass serves both consumers: per 30 s bucket, the
    humor count and the min/max epoch; the per-video span is read off the
    same rows (_bucket_video_span).

    The span windows run before the weight > 0 filter, so zero-humor
    buckets still feed end_epoch/duration exactly as the oracle's vids
    CTE; a (channel, video) survives iff it has a weight > 0 bucket — the
    membership of the oracle's inner funniest JOIN. The oracle's
    last_chat CTE (MAX(last_message_at) over silver per video) equals
    end_epoch: silver's last_message_at is the per-user MAX(ts), and the
    max of per-user maxima is the per-video MAX(ts), so no silver
    aggregate is built here.
    """
    ev = load_table(spark, sf_dir, "events")
    msgs = synthetic_messages(ev)
    epoch = F.unix_timestamp("ts")
    bstats = msgs.groupBy(
        "channel_id",
        "video_id",
        time_bucket(F.col("ts"), 30).alias("bucket"),
    ).agg(
        F.count(F.when(has_humor(F.col("message")), 1)).alias("weight"),
        F.min(epoch).alias("mn"),
        F.max(epoch).alias("mx"),
    )
    w_f = Window.partitionBy("channel_id", "video_id").orderBy(
        F.desc("weight"), F.asc("bucket")
    )
    funniest = (
        bstats.select(
            "channel_id", "video_id", "bucket", "weight", *_bucket_video_span()
        )
        .where(F.col("weight") > 0)
        .withColumn("rn", F.row_number().over(w_f))
        .where(F.col("rn") == 1)
        .select(
            "channel_id",
            "video_id",
            (F.col("bucket") * 30 - 10).alias("funniest_epoch"),
            "end_epoch",
            "duration_sec",
        )
    )
    return (
        funniest.join(F.broadcast(synthetic_channels(ev)), "channel_id")
        .select(
            "channel_name",
            "video_id",
            F.col("funniest_epoch").cast("bigint").alias("funniest_epoch"),
            (
                F.col("funniest_epoch") - F.col("end_epoch") + F.col("duration_sec")
            )
            .cast("bigint")
            .alias("relative_ts"),
        )
        .orderBy("channel_name", "video_id")
    )


# ---------------------------------------------------------------------------
# J9 + A12 — highlight windows (api.py:2953-2971 + ai_summarizer.py:84-144):
# top-3 15 s velocity buckets per video as the highlights table, joined to
# the videos dim with relative start math (start − (end − duration)).
# ---------------------------------------------------------------------------
@register(
    "highlight_windows",
    oracle=with_synth_ctes(f"""
    , vel AS (
      SELECT channel_id, video_id,
             (epoch_us(ts) // 1000000) // 15 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM msgs GROUP BY 1, 2, 3
    ), highlights AS (
      SELECT channel_id, video_id, bucket * 15 AS start_epoch, n_events
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY channel_id, video_id
                                     ORDER BY n_events DESC, bucket ASC) AS rn
        FROM vel
      ) WHERE rn <= 3
    ), vids AS ({_VIDEO_STATS_SQL})
    SELECT ch.channel_name, v.video_id,
           CAST(h.start_epoch AS BIGINT) AS start_epoch,
           CAST(h.start_epoch - (v.end_epoch - v.duration_sec) AS BIGINT)
             AS relative_seconds,
           h.n_events
    FROM highlights h
    JOIN vids v ON v.channel_id = h.channel_id AND v.video_id = h.video_id
    JOIN channels ch ON ch.channel_id = v.channel_id
    ORDER BY ch.channel_name, v.video_id, start_epoch
    """),
    survey="J9,A12,T5",
)
def highlight_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One bucket-stats pass serves both the velocity ranking and the
    per-video span (_bucket_video_span), as in funniest_timestamps. Every
    video has at least one bucket and rn <= 3 keeps at least one row per
    video, so the oracle's inner-join membership is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    msgs = synthetic_messages(ev)
    epoch = F.unix_timestamp("ts")
    vel = msgs.groupBy(
        "channel_id",
        "video_id",
        time_bucket(F.col("ts"), 15).alias("bucket"),
    ).agg(
        F.count("*").alias("n_events"),
        F.min(epoch).alias("mn"),
        F.max(epoch).alias("mx"),
    )
    w_r = Window.partitionBy("channel_id", "video_id").orderBy(
        F.desc("n_events"), F.asc("bucket")
    )
    highlights = (
        vel.select("channel_id", "video_id", "bucket", "n_events", *_bucket_video_span())
        .withColumn("rn", F.row_number().over(w_r))
        .where(F.col("rn") <= 3)
        .select(
            "channel_id",
            "video_id",
            (F.col("bucket") * 15).alias("start_epoch"),
            F.col("n_events").cast("bigint").alias("n_events"),
            "end_epoch",
            "duration_sec",
        )
    )
    return (
        highlights.join(F.broadcast(synthetic_channels(ev)), "channel_id")
        .select(
            "channel_name",
            "video_id",
            F.col("start_epoch").cast("bigint").alias("start_epoch"),
            (F.col("start_epoch") - (F.col("end_epoch") - F.col("duration_sec")))
            .cast("bigint")
            .alias("relative_seconds"),
            "n_events",
        )
        .orderBy("channel_name", "video_id", "start_epoch")
    )


# ---------------------------------------------------------------------------
# A3 + F7 + P8 — parameterized streaming-hours family (web/utils.py:261-285
# SUM/AVG/MAX of EXTRACT(EPOCH FROM duration)/3600, used by three endpoints
# api.py:1255/1294/1333) with the ignore-list anti-filter
# (utils/helpers.py:67-143 applied at cache_manager.py:222-224): videos on
# the ignore list are excluded via a left_anti join against the small list.
# ---------------------------------------------------------------------------
@register(
    "streaming_hours_agg",
    oracle=with_synth_ctes(f"""
    , vids AS ({_VIDEO_STATS_SQL}
    ), ignored AS (
      SELECT DISTINCT video_id FROM msgs WHERE video_id LIKE '%-15'
    ), kept AS (
      SELECT v.* FROM vids v WHERE v.video_id NOT IN (SELECT video_id FROM ignored)
    ), monthly AS (
      SELECT channel_id,
             strftime(make_timestamp(end_epoch * 1000000), '%Y-%m') AS month,
             SUM(duration_sec / 3600.0) AS sum_h,
             AVG(duration_sec / 3600.0) AS avg_h,
             MAX(duration_sec / 3600.0) AS max_h,
             CAST(COUNT(*) AS BIGINT) AS n_videos
      FROM kept GROUP BY 1, 2
    )
    SELECT ch.channel_name, m.month,
           FLOOR(m.sum_h * 100 + 0.5) / 100 AS total_hours,
           FLOOR(m.avg_h * 100 + 0.5) / 100 AS avg_hours,
           FLOOR(m.max_h * 100 + 0.5) / 100 AS max_hours,
           m.n_videos
    FROM monthly m JOIN channels ch USING (channel_id)
    ORDER BY ch.channel_name, m.month
    """),
    survey="A3,F7,P8,J1,T6",
)
def streaming_hours_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from holochatstats_spark.functions.core import round_half_up

    ev = load_table(spark, sf_dir, "events")
    msgs = synthetic_messages(ev)
    vids = _video_stats(msgs)
    # the ignore list is a set of video_ids, and vids already holds one row
    # per video — derive it there instead of a second msgs scan + distinct
    # (r20 re-ran the whole synth lineage for it). The P8 left_anti shape
    # is unchanged; only the (equivalent) source of the small side moved.
    ignored = vids.select("video_id").where(F.col("video_id").endswith("-15"))
    kept = vids.join(ignored, "video_id", "left_anti")
    hours = F.col("duration_sec") / 3600.0
    monthly = kept.groupBy(
        "channel_id",
        F.expr(
            "date_format(timestampadd(SECOND, end_epoch, TIMESTAMP_NTZ'1970-01-01'),"
            " 'yyyy-MM') AS month"
        ),
    ).agg(
        F.sum(hours).alias("sum_h"),
        F.avg(hours).alias("avg_h"),
        F.max(hours).alias("max_h"),
        F.count("*").cast("bigint").alias("n_videos"),
    )
    return (
        monthly.join(F.broadcast(synthetic_channels(ev)), "channel_id")
        .select(
            "channel_name",
            "month",
            round_half_up(F.col("sum_h"), 2).alias("total_hours"),
            round_half_up(F.col("avg_h"), 2).alias("avg_hours"),
            round_half_up(F.col("max_h"), 2).alias("max_hours"),
            "n_videos",
        )
        .orderBy("channel_name", "month")
    )


# ---------------------------------------------------------------------------
# J4-on-gold — exclusive chat users per channel within a group
# (api.py:2176-2251), read from the mv_user_activity gold build
# (operators/gold.py:user_activity — the MV whose missing message-count
# column is the reference's latent bug, SURVEY §2.6 J4; our build includes
# it). A user is exclusive to a channel iff they have no activity on any
# OTHER channel of the same group in the month.
# ---------------------------------------------------------------------------
@register(
    "exclusive_group_users",
    oracle=with_synth_ctes("""
    , ua AS (
      SELECT ud.user_id, ud.channel_id, ch.channel_group,
             CAST(date_trunc('month', ud.last_message_at) AS DATE) AS observed_month,
             CAST(SUM(ud.total_message_count) AS BIGINT) AS total_messages
      FROM ud JOIN channels ch USING (channel_id)
      WHERE ud.total_message_count > 0
      GROUP BY 1, 2, 3, 4
    ), per_user AS (
      SELECT user_id, channel_group, observed_month,
             MIN(channel_id) AS only_channel,
             COUNT(DISTINCT channel_id) AS n_channels
      FROM ua GROUP BY 1, 2, 3
    ), exclusives AS (
      SELECT only_channel AS channel_id, observed_month,
             CAST(COUNT(*) AS BIGINT) AS n_exclusive
      FROM per_user WHERE n_channels = 1 GROUP BY 1, 2
    ), totals AS (
      SELECT channel_id, observed_month,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total
      FROM ua GROUP BY 1, 2
    )
    SELECT ch.channel_name, t.observed_month,
           COALESCE(e.n_exclusive, 0) AS n_exclusive,
           t.n_total,
           FLOOR((COALESCE(e.n_exclusive, 0) * 100.0
                  / NULLIF(CAST(t.n_total AS DOUBLE), 0)) * 100 + 0.5) / 100
             AS pct_exclusive
    FROM totals t
    LEFT JOIN exclusives e
      ON e.channel_id = t.channel_id AND e.observed_month = t.observed_month
    JOIN channels ch ON ch.channel_id = t.channel_id
    ORDER BY ch.channel_name, t.observed_month
    """),
    survey="J4,A8,gold",
)
def exclusive_group_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from holochatstats_spark.operators.gold import user_activity

    ev = load_table(spark, sf_dir, "events")
    ua = user_activity(
        build_user_data(synthetic_messages(ev)), synthetic_channels(ev)
    )
    # one pass over ua: collect each user's channel set per (group, month);
    # exclusives read size()==1 sets, totals explode the same sets (a
    # channel belongs to exactly one group, so each (user, channel, month)
    # appears once → count(*) == the r20 COUNT(DISTINCT user_id)). r20
    # aggregated ua twice (per_user + totals). array_min == the oracle's
    # MIN(channel_id) pick. Guide §1.2.
    sets = ua.groupBy("user_id", "channel_group", "observed_month").agg(
        F.collect_set("channel_id").alias("chs")
    )
    # ONE explode serves both counts (the r21-first cut still aggregated
    # `sets` twice — exclusives + totals — replaying the gold lineage per
    # reference): each exploded row carries whether its source set was a
    # singleton, so n_exclusive is a conditional sum in the same groupBy
    # that produces n_total. Membership is identical to the oracle's
    # totals LEFT JOIN exclusives — a size-1 set's only channel always
    # appears in totals, and groups with no singleton sets get the same 0
    # the COALESCE produced.
    exploded = sets.select(
        "observed_month",
        F.explode("chs").alias("channel_id"),
        (F.size("chs") == 1).alias("is_excl"),
    )
    counts = exploded.groupBy("channel_id", "observed_month").agg(
        F.sum(F.when(F.col("is_excl"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exclusive"),
        F.count("*").cast("bigint").alias("n_total"),
    )
    return (
        counts.join(F.broadcast(synthetic_channels(ev)), "channel_id")
        .select(
            "channel_name",
            "observed_month",
            "n_exclusive",
            "n_total",
            pct_round(F.col("n_exclusive"), F.col("n_total")).alias(
                "pct_exclusive"
            ),
        )
        .orderBy("channel_name", "observed_month")
    )


# ---------------------------------------------------------------------------
# W2 — membership gain/loss transitions with the reference's EXACT
# semantics (api.py:1866-1917): LAG(membership_rank) per (user, channel)
# ordered by last_message_at, computed AFTER restricting to the target
# month (the CTE pre-filter — a row's previous rank is the previous
# observation WITHIN the month, not the prior month's last row). Gains:
# prev = -1 → current ≠ -1 (unknown -2 gift ranks count as membership,
# api.py:1849-1850); losses: prev ≠ -1 (incl. -2) → current = -1. Counts
# are DISTINCT users per (channel, month); channels with neither gains nor
# losses are excluded (the reference's WHERE g/e.observed_month filter).
# The all-months generalization of the single-month endpoint: partitioning
# the LAG by month ≡ running the reference query once per month.
# ---------------------------------------------------------------------------
@register(
    "membership_changes",
    oracle=with_synth_ctes("""
    , mc AS (
      SELECT user_id, channel_id,
             CAST(date_trunc('month', last_message_at) AS DATE) AS observed_month,
             membership_rank,
             LAG(membership_rank) OVER (
               PARTITION BY user_id, channel_id, date_trunc('month', last_message_at)
               ORDER BY last_message_at, video_id
             ) AS prev_rank
      FROM ud
    ), g AS (
      SELECT channel_id, observed_month,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS gains_count
      FROM mc WHERE prev_rank = -1 AND membership_rank <> -1
      GROUP BY 1, 2
    ), l AS (
      SELECT channel_id, observed_month,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS losses_count
      FROM mc WHERE prev_rank IS NOT NULL AND prev_rank <> -1
                AND membership_rank = -1
      GROUP BY 1, 2
    )
    SELECT ch.channel_name, COALESCE(g.observed_month, l.observed_month) AS observed_month,
           COALESCE(g.gains_count, 0) AS gains_count,
           COALESCE(l.losses_count, 0) AS losses_count,
           COALESCE(g.gains_count, 0) - COALESCE(l.losses_count, 0) AS differential
    FROM g FULL JOIN l USING (channel_id, observed_month)
    JOIN channels ch USING (channel_id)
    ORDER BY differential DESC, ch.channel_name, observed_month
    """),
    survey="W2,A7,J3",
)
def membership_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference api.py:1879-1880 within-month LAG; video_id is the
    deterministic tie-break (last_message_at alone underdetermines order
    when two videos share a max-ts; the reference inherits psql's
    nondeterminism there)."""
    ev = load_table(spark, sf_dir, "events")
    ud = build_user_data(synthetic_messages(ev))
    month = F.date_trunc("month", F.col("last_message_at"))
    w_lag = Window.partitionBy("user_id", "channel_id", month).orderBy(
        "last_message_at", "video_id"
    )
    mc = ud.select(
        "user_id",
        "channel_id",
        month.cast("date").alias("observed_month"),
        "membership_rank",
        F.lag("membership_rank").over(w_lag).alias("prev_rank"),
    )
    # one pass over mc instead of two (the g/l CTEs each replayed the
    # whole synthetic+window lineage): conditional COUNT(DISTINCT) per
    # transition kind, keeping only rows that are a gain or a loss before
    # the shuffle. A (channel, month) group survives iff it had at least
    # one gain or loss row — exactly the membership of the oracle's
    # g FULL JOIN l (groups absent from both CTEs never appear there
    # either), and the missing side's COALESCE(x, 0) equals the
    # conditional count's 0 over no qualifying rows.
    is_gain = (F.col("prev_rank") == -1) & (F.col("membership_rank") != -1)
    is_loss = (
        F.col("prev_rank").isNotNull()
        & (F.col("prev_rank") != -1)
        & (F.col("membership_rank") == -1)
    )
    gl = (
        mc.where(is_gain | is_loss)
        .groupBy("channel_id", "observed_month")
        .agg(
            F.countDistinct(F.when(is_gain, F.col("user_id")))
            .cast("bigint")
            .alias("gains_count"),
            F.countDistinct(F.when(is_loss, F.col("user_id")))
            .cast("bigint")
            .alias("losses_count"),
        )
    )
    return (
        gl.join(F.broadcast(synthetic_channels(ev)), "channel_id")
        .select(
            "channel_name",
            "observed_month",
            "gains_count",
            "losses_count",
            (F.col("gains_count") - F.col("losses_count")).alias("differential"),
        )
        .orderBy(F.desc("differential"), "channel_name", "observed_month")
    )


# ---------------------------------------------------------------------------
# A12 — velocity bursts with the reference's EXACT parameters
# (ai_summarizer.py:93-146,163): videos under 10 min are skipped;
# num_highlights = min(5, floor(duration_min/30)) with a floor of 1 for
# 10-30 min videos; messages outside the 5% safe-zone buffers are ignored
# (BUFFER_PERCENTAGE = 0.05, ai_summarizer.py:129-132); 15 s integer
# buckets; top-N by count with pandas-nlargest tie order (count DESC,
# bucket ASC — nlargest keeps first occurrence of equal values, and the
# activity index is sorted by bucket); only buckets with count > 9
# survive (ai_summarizer.py:143); the published timestamp gets a 10 s
# lead-up (ai_summarizer.py:163). highlight_windows keeps the simpler
# fixed-top-3 shape for the J9 join; this query pins the parameters.
# The base synthetic chat is UNIFORM in time (max 15 s-bucket count is 3
# at sf0.01 and 4 at sf0.1), which left the >9 threshold oracle-checked
# only on an empty set through r8; operators/synth.py now plants
# deterministic BURST_SIZE-message clusters (one per BURST_MOD events) so
# the driver hash-compares a NON-empty highlight set, and every parameter
# branch (duration gate, safe zone, num_highlights cap/floor, threshold,
# tie order, lead-up) stays pinned on a dense hand-built frame in
# tests/test_velocity_exact.py.
# ---------------------------------------------------------------------------
@register(
    "velocity_bursts_exact",
    oracle=with_synth_ctes(f"""
    , vids AS ({_VIDEO_STATS_SQL}
    ), eligible AS (
      SELECT *, end_epoch - duration_sec AS start_epoch,
             LEAST(5, GREATEST(1, duration_sec // 1800)) AS num_highlights
      FROM vids WHERE duration_sec >= 600
    ), safe AS (
      SELECT m.channel_id, m.video_id,
             ((epoch_us(m.ts) // 1000000) - v.start_epoch) // 15 AS bucket
      FROM msgs m
      JOIN eligible v ON v.channel_id = m.channel_id AND v.video_id = m.video_id
      WHERE (epoch_us(m.ts) // 1000000) - v.start_epoch
              >= 0.05 * CAST(v.duration_sec AS DOUBLE)
        AND (epoch_us(m.ts) // 1000000) - v.start_epoch
              <= 0.95 * CAST(v.duration_sec AS DOUBLE)
    ), activity AS (
      SELECT channel_id, video_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_msgs
      FROM safe GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT a.*, v.start_epoch, v.num_highlights,
             ROW_NUMBER() OVER (PARTITION BY a.channel_id, a.video_id
                                ORDER BY a.n_msgs DESC, a.bucket ASC) AS rn
      FROM activity a
      JOIN eligible v ON v.channel_id = a.channel_id AND v.video_id = a.video_id
    )
    SELECT ch.channel_name, r.video_id,
           CAST(r.start_epoch + r.bucket * 15 - 10 AS BIGINT) AS highlight_epoch,
           CAST(r.bucket * 15 AS BIGINT) AS spike_seconds,
           r.n_msgs
    FROM ranked r
    JOIN channels ch ON ch.channel_id = r.channel_id
    WHERE r.rn <= r.num_highlights AND r.n_msgs > 9
    ORDER BY ch.channel_name, r.video_id, highlight_epoch
    """),
    survey="A12,T5,J9",
    tags=("bench",),
)
def velocity_bursts_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return velocity_bursts_from(synthetic_messages(ev), synthetic_channels(ev))


def velocity_bursts_from(msgs: DataFrame, channels: DataFrame) -> DataFrame:
    """Core of velocity_bursts_exact over any (channel_id, video_id, ts)
    messages frame — split out so tests can drive it with dense bursts.

    Every decision (video span, safe-zone filter, 15 s bucketing) is
    second-grained, so the messages are reduced once to (channel, video,
    sec, cnt) before any shuffle and everything derives from that frame;
    n_msgs = SUM(cnt) ≡ the per-message COUNT(*).

    Everything after that aggregate is keyed by (channel, video) or a
    superset — the span windows, the safe-zone filter, the 15 s bucket
    aggregate, the highlight rank window — so the per-second frame is
    hash-partitioned by (channel, video) once and the rest runs
    exchange-free on that partitioning. The span windows see the same
    max/min seconds the oracle's vids CTE aggregates, so the
    eligible/safe-zone/num_highlights math is unchanged row for row.
    Per-video window state is bounded by a video's duration in seconds.
    """
    persec = msgs.groupBy("channel_id", "video_id", F.expr("unix_timestamp(ts) AS sec")).agg(
        F.expr("count(*) AS cnt")
    )
    stats = persec.select(
        "channel_id",
        "video_id",
        "sec",
        "cnt",
        *_video_span(f"max(sec) {_OVER_VIDEO}", f"min(sec) {_OVER_VIDEO}"),
    )
    start_epoch = "end_epoch - duration_sec"
    elapsed = f"sec - ({start_epoch})"
    # start_epoch and num_highlights are constant per (channel, video):
    # they ride through the bucket aggregate (max of a constant) instead
    # of a join back to per-video stats after it
    safe = (
        stats.where("duration_sec >= 600")
        .where(
            f"{elapsed} >= CAST(duration_sec AS DOUBLE) * 0.05D"
            f" AND {elapsed} <= CAST(duration_sec AS DOUBLE) * 0.95D"
        )
        .selectExpr(
            "channel_id",
            "video_id",
            f"{elapsed} AS elapsed",
            "cnt",
            f"{start_epoch} AS start_epoch",
            "least(5, greatest(1, duration_sec div 1800)) AS num_highlights",
        )
    )
    activity = safe.groupBy("channel_id", "video_id", F.expr("elapsed div 15 AS bucket")).agg(
        F.expr("CAST(sum(cnt) AS BIGINT) AS n_msgs"),
        F.expr("max(start_epoch) AS start_epoch"),
        F.expr("max(num_highlights) AS num_highlights"),
    )
    ranked = activity.withColumn(
        "rn",
        F.expr(
            "row_number() OVER (PARTITION BY channel_id, video_id ORDER BY n_msgs DESC, bucket ASC)"
        ),
    ).where("rn <= num_highlights AND n_msgs > 9")
    return (
        ranked.join(F.broadcast(channels), "channel_id")
        .selectExpr(
            "channel_name",
            "video_id",
            "CAST(start_epoch + bucket * 15 - 10 AS BIGINT) AS highlight_epoch",
            "CAST(bucket * 15 AS BIGINT) AS spike_seconds",
            "n_msgs",
        )
        .orderBy("channel_name", "video_id", "highlight_epoch")
    )
