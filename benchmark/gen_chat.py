"""Seeded chat-replay generator for the nightly ETL workload.

Writes one gzipped JSONL file per video, in the record shape
``sources.chat_logs.MESSAGE_SCHEMA`` reads, under
``<landing>/<channel_id>/<video_id>.jsonl.gz``. Video ids start with the
month tag (``v202402...``), so one month of every channel is the glob
``<landing>/*/v202402*.jsonl.gz``.

The data has what the ingest layers must handle: multibyte JP/KR/RU/emoji
text, pure numbers, blank messages, paid messages, member and gift events,
rows with a NULL ``message_category`` (these go through
``categorize_message``), timestamp ties, one hot user and one hot video.
Timestamp ties only join rows of equal membership rank: which of two
equal-time rows sets the rank is unspecified by ``operators.ingest``.

While writing, the generator computes in plain Python what the program
must produce (``Expected``): silver row count, per-category counter sums,
counted messages, rows routed to the classifier, and the gold row counts.
Channel 0 has the most videos and is also the streaming landing directory;
its files get modification times in event-time order, which is the order
the file stream source reads them in, so no row arrives behind the
watermark.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random
from dataclasses import asdict, dataclass, field

# (text, category) — categories as functions.classify assigns them; the
# repo's classifier tests pin these branches. None: blank, never counted.
MESSAGE_POOL: tuple[tuple[str, str | None], ...] = (
    ("hello everyone", "es_en_id"),
    ("that was so good lol", "es_en_id"),
    ("jajaja increíble", "es_en_id"),
    ("wkwkwk mantap", "es_en_id"),
    ("🤣 nice", "es_en_id"),
    ("こんにちは、配信ありがとう！", "jp"),
    ("草", "jp"),
    ("ｗｗｗ", "jp"),
    ("カタカナ テスト", "jp"),
    ("安녕 漢字", "jp"),
    ("안녕하세요 오늘도 화이팅", "kr"),
    ("Привет из России", "ru"),
    ("спасибо за стрим", "ru"),
    ("😀😀", "emoji"),
    (":_konkonmori::_konkonmori:", "emoji"),
    (":shortcode: 🎉", "emoji"),
    ("12345", "number"),
    ("１２３", "number"),
    ("", None),
    ("   ", None),
)
COUNTED = ("jp", "kr", "ru", "emoji", "es_en_id")
BADGE_RANKS = (-1, -1, -1, 0, 1, 2, 6, 12, 24)

N_CHANNELS = 4
MONTHS = ((2024, 1), (2024, 2), (2024, 3))
HOT_CHANNEL_VIDEOS_PER_MONTH = 8
VIDEOS_PER_MONTH = 3
N_USERS = 3000
HOT_USER_SHARE = 0.05
HOT_VIDEO_FACTOR = 8
# The hot video sits at a fixed place (channel 0, the re-ingested month), so
# every seed reads the same number of messages in each step.
HOT_VIDEO_MONTH = (2024, 2)
NULL_CATEGORY_SHARE = 0.3
TIE_SHARE = 0.05
VIDEO_SECONDS = 7200


def channel_ids() -> list[str]:
    return [f"UCbench{c:017d}" for c in range(N_CHANNELS)]


def channel_rows() -> list[tuple[str, str, str]]:
    """(channel_id, channel_name, channel_group) for the gold builders."""
    return [
        (cid, f"bench-channel-{i}", f"Group{'AB'[i % 2]}")
        for i, cid in enumerate(channel_ids())
    ]


@dataclass
class Expected:
    messages: int = 0  # every record read from the landing zone
    silver_rows: int = 0
    counted_messages: int = 0  # sum of total_message_count
    category_sums: dict[str, int] = field(default_factory=dict)
    rows_categorized: int = 0  # NULL-category non-member rows: classify runs
    active_user_months: int = 0  # gold rows keyed (user, channel, month)
    channel_months: int = 0  # gold rows keyed (channel, month)
    month_messages: dict[str, int] = field(default_factory=dict)
    stream_channel: str = ""
    stream_messages: int = 0
    stream_silver_rows: int = 0
    stream_counted_messages: int = 0

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "Expected":
        return cls(**json.loads(text))


def _month_start_us(year: int, month: int) -> int:
    d = dt.datetime(year, month, 1, tzinfo=dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000


def _video_records(rng, start_us, n_msgs, hot_user, users):
    """(record, true category, routed to classify) triples of one video,
    in event-time order. A user's rank is fixed per video and member
    events never share a timestamp, so rows with equal timestamps never
    disagree on rank."""
    ranks: dict[str, int] = {}
    out = []
    ts = start_us
    step = VIDEO_SECONDS * 1_000_000 // max(n_msgs, 1)
    prev_member = True
    for _ in range(n_msgs):
        r = rng.random()
        member = r < 0.03
        if member or prev_member or rng.random() >= TIE_SHARE:
            ts += rng.randrange(1, 2 * step)
        prev_member = member
        user = hot_user if rng.random() < HOT_USER_SHARE else rng.choice(users)
        rank = ranks.setdefault(user, rng.choice(BADGE_RANKS))
        if r < 0.02:
            mtype, text, cat, rank = "new_member", "", None, 0
        elif member:
            mtype, text, cat, rank = "gift_member", "", None, -2
        else:
            mtype = "paid_message" if r < 0.05 else "chat"
            text, cat = rng.choice(MESSAGE_POOL)
        stored_cat = cat
        if cat is not None and rng.random() < NULL_CATEGORY_SHARE:
            stored_cat = None
        rec = {
            "user_id": user,
            "username": f"@{user}",
            "timestamp": ts,
            "membership_rank": rank,
            "message_category": stored_cat,
            "message": text,
            "message_type": mtype,
            "gifter": user if mtype == "gift_member" else None,
        }
        routed = not member and stored_cat is None
        out.append((rec, cat, routed))
    return out


def write_landing(landing: str, seed: int, messages_per_video: int) -> Expected:
    """Write the landing zone under ``landing`` and return what the ETL
    must produce from it."""
    rng = random.Random(seed)
    users = [f"u{i:05d}" for i in range(N_USERS)]
    hot_user = users[0]
    chans = channel_ids()
    exp = Expected(
        category_sums={c: 0 for c in COUNTED}, stream_channel=chans[0]
    )
    triples: dict[tuple[str, str, str], int] = {}  # -> counted messages
    user_months: set[tuple[str, str, str]] = set()
    channel_months: set[tuple[str, str]] = set()
    mtime = 1_700_000_000
    for c, cid in enumerate(chans):
        os.makedirs(os.path.join(landing, cid), exist_ok=True)
        per_month = HOT_CHANNEL_VIDEOS_PER_MONTH if c == 0 else VIDEOS_PER_MONTH
        for year, month in MONTHS:
            tag = f"{year:04d}{month:02d}"
            base = _month_start_us(year, month)
            # videos spread over the first 27 days, never overlapping
            gap = 27 * 86_400 * 1_000_000 // per_month
            for v in range(per_month):
                video_id = f"v{tag}c{c}n{v:02d}"
                hot = c == 0 and (year, month) == HOT_VIDEO_MONTH and v == 0
                n = messages_per_video * (HOT_VIDEO_FACTOR if hot else 1)
                recs = _video_records(rng, base + v * gap, n, hot_user, users)
                path = os.path.join(landing, cid, f"{video_id}.jsonl.gz")
                body = "".join(json.dumps(rec, ensure_ascii=False) + "\n" for rec, _, _ in recs)
                with open(path, "wb") as f:
                    f.write(gzip.compress(body.encode("utf-8"), compresslevel=1, mtime=0))
                mtime += 10
                os.utime(path, (mtime, mtime))
                month_key = f"{year:04d}-{month:02d}"
                exp.messages += len(recs)
                exp.month_messages[month_key] = exp.month_messages.get(month_key, 0) + len(recs)
                channel_months.add((cid, month_key))
                for rec, cat, routed in recs:
                    key = (cid, video_id, rec["user_id"])
                    member = rec["message_type"] in ("new_member", "gift_member")
                    counted = (not member) and cat is not None
                    triples[key] = triples.get(key, 0) + int(counted)
                    exp.rows_categorized += int(routed)
                    if counted:
                        exp.counted_messages += 1
                        if cat in exp.category_sums:
                            exp.category_sums[cat] += 1
                        user_months.add((rec["user_id"], cid, month_key))
                    if c == 0:
                        exp.stream_messages += 1
                        exp.stream_counted_messages += int(counted)
    exp.silver_rows = len(triples)
    exp.stream_silver_rows = sum(1 for k in triples if k[0] == chans[0])
    exp.active_user_months = len(user_months)
    exp.channel_months = len(channel_months)
    return exp
