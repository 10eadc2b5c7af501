"""Deterministic chat-message synthesis from the driver's `events` table.

The HoloChatStats-semantic pipeline (A1 ingest aggregate → gold MVs,
reference chat_downloader.py:41-179 + queries.py:120-236) operates on chat
*messages* — a table the driver's testdata doesn't ship. To put that
pipeline under the DuckDB oracle gate we derive a messages frame as a PURE
FUNCTION of the `events` parquet: every column is computed from
(event_id, user_id, event_type, ts) with modular index arithmetic over
fixed literal pools, so Spark and DuckDB construct byte-identical inputs
and every downstream aggregate can be hash-compared.

One source of truth: the literal pools below generate BOTH the Spark
builder and the DuckDB CTE. The message pool deliberately covers every F1
classification branch (pure emoji, shortcode runs, JP script + ｗ laugh,
Hangul, Cyrillic, numeric, URLs, empty) and the F4 humor triggers; the
badge pool covers every F3 parse branch.

Timestamps: the parquet is TIMESTAMP(MICROS) (tables.py), so both engines
see the same µs grain; the SQL twin's make_timestamp(epoch_ns // 1000) is
the identity on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from holochatstats_spark.functions.core import sql_str

# (message text, F1 category) — index = event_id % 16
MESSAGES: tuple[tuple[str, str | None], ...] = (
    ("hello world this is a normal chat", "es_en_id"),
    ("こんにちは、配信ありがとう！", "jp"),
    ("ｗｗｗ", "jp"),
    ("안녕하세요 오늘도 화이팅", "kr"),
    ("Привет из России", "ru"),
    ("12345", "number"),
    ("😀😀", "emoji"),
    (":_fbkcha::_fbkcha:", "emoji"),
    ("LOL that was funny", "es_en_id"),
    ("lmaooo", "es_en_id"),
    ("jajaja no way", "es_en_id"),
    ("check https://example.com/page now", "es_en_id"),
    ("wkwkwk", "es_en_id"),
    ("GG", "es_en_id"),
    ("", None),
    ("haha that clip 草", "jp"),
)

# (badge text, F3 parsed rank) — index = event_id % 7
BADGES: tuple[tuple[str, int], ...] = (
    ("", -1),
    ("New member", 0),
    ("Member (1 month)", 1),
    ("Member (6 months)", 6),
    ("Member (1 year)", 12),
    ("Member (2 years)", 24),
    ("Moderator badge", -1),
)

N_MSG = len(MESSAGES)
N_BADGE = len(BADGES)

# Deterministic burst clusters (VERDICT r5-r8: the uniform synthetic chat
# never exceeds 4 msgs per 15 s bucket, so velocity_bursts_exact's >9
# threshold was only ever oracle-checked on an empty set). Every event with
# event_id % BURST_MOD == BURST_REM spawns BURST_SIZE extra messages at the
# SAME timestamp — one guaranteed >9-msgs/15 s bucket per selected event,
# landing in the 5%/95% safe zone whenever the parent event does (~90% of
# uniform positions). The burst rows are constructed to be INVISIBLE to the
# ud silver aggregate and the humor/time-stats queries:
# - message_type='new_member', message_category NULL  => is_counted false;
# - membership_rank=-2 on a member event               => has_known_rank false;
# - ts equal to the parent event's ts                  => MIN/MAX(ts) and the
#   per-video duration/end_epoch stats unchanged;
# - seq NEGATIVE (base-BURST_SIZE unique)              => the parent row still
#   wins every (ts, seq) ORDER BY tie, so last-username/rank picks unchanged;
# - message ''                                         => no humor hit.
# Only queries that COUNT raw message rows (velocity buckets, velocity
# highlights, per-message classification) see them — by design.
BURST_MOD = 500
BURST_REM = 3
BURST_SIZE = 12


def _items(values) -> str:
    """Comma-separated SQL literals, read alike by Spark and DuckDB."""
    return ", ".join(
        "CAST(NULL AS STRING)" if v is None else sql_str(v) if isinstance(v, str) else str(v)
        for v in values
    )


_MSG_ITEMS = _items(m for m, _ in MESSAGES)
_CAT_ITEMS = _items(c for _, c in MESSAGES)
_BADGE_ITEMS = _items(b for b, _ in BADGES)
_RANK_ITEMS = _items(r for _, r in BADGES)
_MSG_LIST = f"[{_MSG_ITEMS}]"
_CAT_LIST = f"[{_CAT_ITEMS}]"
_BADGE_LIST = f"[{_BADGE_ITEMS}]"
_RANK_LIST = f"[{_RANK_ITEMS}]"

#: DuckDB CTE body producing the identical messages frame (one "video" per
#: (channel, day); gift events are badge-less → rank -2, mirroring
#: chat_downloader.py:70-86; member events carry no countable category).
SYNTH_MESSAGES_SQL = f"""
    SELECT event_type AS channel_id,
           event_type || '_' || strftime(ts, '%Y-%m-%d') AS video_id,
           'u' || user_id AS user_id,
           'user ' || user_id AS username,
           make_timestamp(epoch_ns(ts) // 1000) AS ts,
           event_id AS seq,
           CASE event_id % 20 WHEN 0 THEN 'gift_member' WHEN 1 THEN 'new_member'
                WHEN 2 THEN 'paid_message' ELSE 'chat' END AS message_type,
           CASE WHEN event_id % 20 = 0 THEN NULL
                ELSE {_BADGE_LIST}[(event_id % {N_BADGE})::INT + 1] END AS badge_text,
           CAST(CASE WHEN event_id % 20 = 0 THEN -2
                ELSE {_RANK_LIST}[(event_id % {N_BADGE})::INT + 1] END AS INT)
             AS membership_rank,
           CASE WHEN event_id % 20 IN (0, 1) THEN NULL
                ELSE {_CAT_LIST}[(event_id % {N_MSG})::INT + 1] END AS message_category,
           {_MSG_LIST}[(event_id % {N_MSG})::INT + 1] AS message
    FROM events
    UNION ALL
    SELECT event_type,
           event_type || '_' || strftime(ts, '%Y-%m-%d'),
           'u' || user_id,
           'user ' || user_id,
           make_timestamp(epoch_ns(ts) // 1000),
           -(event_id * {BURST_SIZE} + r.range + 1),
           'new_member',
           CAST(NULL AS VARCHAR),
           CAST(-2 AS INT),
           CAST(NULL AS VARCHAR),
           ''
    FROM events CROSS JOIN range({BURST_SIZE}) r
    WHERE event_id % {BURST_MOD} = {BURST_REM}
"""

#: event_types whose synthetic channel is in groupA; every other is groupB.
GROUP_A_EVENT_TYPES = ("click", "view")

#: Synthetic channels dimension (channel per event_type): one select list,
#: valid in both engines' SQL, over the distinct event types.
SYNTH_CHANNEL_COLUMNS = (
    "event_type AS channel_id",
    "'ch ' || event_type AS channel_name",
    f"CASE WHEN event_type IN ({_items(GROUP_A_EVENT_TYPES)}) THEN 'groupA'"
    " ELSE 'groupB' END AS channel_group",
)
SYNTH_CHANNELS_SQL = f"""
    SELECT DISTINCT {", ".join(SYNTH_CHANNEL_COLUMNS)}
    FROM events
"""

# The Spark twin of SYNTH_MESSAGES_SQL as SQL text over the exploded
# (event_id, user_id, event_type, ts, i) rows, built from the same pools.
_BURST_ROW = "NOT (i = 0)"
_SPARK_BURST_ROWS = (
    f"explode(sequence(0, CASE WHEN event_id % {BURST_MOD} = {BURST_REM}"
    f" THEN {BURST_SIZE} ELSE 0 END)) AS i"
)


def _spark_pick(items: str, mod: int) -> str:
    return f"element_at(array({items}), CAST(event_id % {mod} AS INT) + 1)"


_SPARK_MESSAGE_COLUMNS = (
    "event_type AS channel_id",
    "concat(event_type, '_', date_format(ts, 'yyyy-MM-dd')) AS video_id",
    "concat('u', user_id) AS user_id",
    "concat('user ', user_id) AS username",
    "ts",
    f"CASE WHEN i = 0 THEN event_id"
    f" ELSE -(event_id * {BURST_SIZE} + CAST(i - 1 AS BIGINT) + 1) END AS seq",
    f"CASE WHEN {_BURST_ROW} THEN 'new_member' WHEN event_id % 20 = 0 THEN 'gift_member'"
    " WHEN event_id % 20 = 1 THEN 'new_member' WHEN event_id % 20 = 2 THEN 'paid_message'"
    " ELSE 'chat' END AS message_type",
    f"CASE WHEN {_BURST_ROW} OR event_id % 20 = 0 THEN CAST(NULL AS STRING)"
    f" ELSE {_spark_pick(_BADGE_ITEMS, N_BADGE)} END AS badge_text",
    f"CAST(CASE WHEN {_BURST_ROW} OR event_id % 20 = 0 THEN -2"
    f" ELSE {_spark_pick(_RANK_ITEMS, N_BADGE)} END AS INT) AS membership_rank",
    f"CASE WHEN {_BURST_ROW} OR event_id % 20 IN (0, 1) THEN CAST(NULL AS STRING)"
    f" ELSE {_spark_pick(_CAT_ITEMS, N_MSG)} END AS message_category",
    f"CASE WHEN i = 0 THEN {_spark_pick(_MSG_ITEMS, N_MSG)} ELSE '' END AS message",
)


def synthetic_messages(events: DataFrame) -> DataFrame:
    """The Spark twin of SYNTH_MESSAGES_SQL (expects load_table's events).

    One scan: each event explodes into 1 + (BURST_SIZE if selected else 0)
    rows in a single pass, i = 0 the parent row and i >= 1 the i-th burst
    row. The row set equals the SQL twin's UNION ALL (row order differs;
    no consumer is order-sensitive before its own ORDER BY / aggregate).
    The columns are SQL text, one expression each, so building the frame
    costs a few JVM calls instead of one per Column operation.
    """
    return events.selectExpr(
        "event_id", "user_id", "event_type", "ts", _SPARK_BURST_ROWS
    ).selectExpr(*_SPARK_MESSAGE_COLUMNS)


def synthetic_channels(events: DataFrame) -> DataFrame:
    """The Spark twin of SYNTH_CHANNELS_SQL."""
    return events.select("event_type").distinct().selectExpr(*SYNTH_CHANNEL_COLUMNS)


#: DuckDB twin of operators/ingest.build_user_data over the synth messages
#: (expects a CTE named ``msgs``): the A1 per-(channel, video, user)
#: aggregate with the reference's counter/rank/gift semantics
#: (chat_downloader.py:41-179). list(... ORDER BY ts, seq)[-1] is the SQL
#: form of Spark's max_by over the (ts, seq) total order.
SILVER_USER_DATA_SQL = """
    SELECT channel_id, video_id, user_id,
           (list(username ORDER BY ts, seq))[-1] AS username,
           MAX(ts) AS last_message_at,
           CAST(SUM(CASE WHEN is_counted AND message_category = 'jp' THEN 1 ELSE 0 END) AS INT) AS jp_count,
           CAST(SUM(CASE WHEN is_counted AND message_category = 'kr' THEN 1 ELSE 0 END) AS INT) AS kr_count,
           CAST(SUM(CASE WHEN is_counted AND message_category = 'ru' THEN 1 ELSE 0 END) AS INT) AS ru_count,
           CAST(SUM(CASE WHEN is_counted AND message_category = 'emoji' THEN 1 ELSE 0 END) AS INT) AS emoji_count,
           CAST(SUM(CASE WHEN is_counted AND message_category = 'es_en_id' THEN 1 ELSE 0 END) AS INT) AS es_en_id_count,
           CAST(SUM(CASE WHEN is_counted THEN 1 ELSE 0 END) AS INT) AS total_message_count,
           CAST(COALESCE(
             (list(membership_rank ORDER BY ts, seq) FILTER (WHERE has_known_rank))[-1],
             -2) AS INT) AS membership_rank,
           MAX(CASE WHEN message_type = 'gift_member' THEN 1 ELSE 0 END) = 1
             AND MAX(CASE WHEN has_known_rank THEN 1 ELSE 0 END) = 0 AS is_gift
    FROM (
      SELECT *,
             message_type NOT IN ('new_member', 'gift_member')
               AND message_category IS NOT NULL AS is_counted,
             membership_rank IS NOT NULL
               AND (message_type NOT IN ('new_member', 'gift_member')
                    OR membership_rank <> -2) AS has_known_rank
      FROM msgs
    )
    GROUP BY 1, 2, 3
"""


def with_synth_ctes(body: str) -> str:
    """Wrap an oracle SELECT ``body`` with the shared msgs/ud/channels CTEs."""
    return f"""
    WITH msgs AS ({SYNTH_MESSAGES_SQL}),
         ud AS ({SILVER_USER_DATA_SQL}),
         channels AS ({SYNTH_CHANNELS_SQL})
    {body}
    """
