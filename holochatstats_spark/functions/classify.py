"""Chat-message classification (SURVEY.md §2.3 F1-F5) as native Catalyst
expressions — the reference implements these as per-row Python
(utils/chat_parser.py, utils/feature_analysis.py); here they compile to
JVM regex inside whole-stage codegen, so classification of 100 TB of
messages is a map-only scan stage with no Python boundary.

Parity notes vs the reference:
- F1 `categorize_message` (chat_parser.py:60-93): ordered short-circuit
  reproduced exactly with a when() chain; Unicode script classes use
  Java's \\p{IsHiragana} etc., equivalent to Python `regex`'s \\p{Hiragana}.
  The reference lowercases before matching; here the regexes run on the
  trimmed message as is. Lowercasing moves no character into or out of a
  script or number class (tests/test_classify.py checks every code point
  that `lower` changes), so only the laugh class depends on case, and it
  lists both cases (`^[wWｗＷ]+$`). Spark 4's `lower` goes through
  ICU case mapping, whose first use in a JVM loads ICU data on every task
  thread (seconds on a fresh executor); the classifier needs none of it.
  The DuckDB twin keeps `lower(...)`, as the reference does.
- F2 `_is_pure_emoji` (chat_parser.py:43-57): a curated emoji-codepoint
  class stands in for the `emoji` library's full database (documented
  divergence; the library is not a dependency).
- F3 `parse_membership_rank` (chat_parser.py:11-41).
- F4 `has_humor` (feature_analysis.py:7-26), incl. its case-sensitivity
  quirks: the substring list matches the ORIGINAL case, `lol`/laughter
  regexes are case-insensitive.
- F5 `clean_chat_for_ai` (ai_summarizer.py:42-52).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- F2: emoji purity -------------------------------------------------------

# YouTube :shortcode: runs (chat_parser.py:6)
_SHORTCODE_RE = r":[^:\s]+:"
# Curated emoji codepoint class (fast path for emoji.replace_emoji):
# pictographs/emoticons/transport/supplement (1F000-1FAFF incl. regional
# indicators + skin tones), misc symbols + dingbats, symbols/arrows,
# keycap combiner, (c)(r)(tm), !!/!?, wavy/part-alternation marks.
_EMOJI_CLASS = (
    "[\\x{1F000}-\\x{1FAFF}\\x{2600}-\\x{27BF}\\x{2B00}-\\x{2BFF}"
    "\\x{20E3}\\x{00A9}\\x{00AE}\\x{2122}\\x{203C}\\x{2049}"
    "\\x{3030}\\x{303D}\\x{FE0E}\\x{FE0F}\\x{200D}]"
)
# whitespace / ZWJ / variation selectors (chat_parser.py:8)
_FILLER_CLASS = "[\\s\\x{200D}\\x{FE0E}\\x{FE0F}]"


def is_pure_emoji(msg: Column) -> Column:
    """True iff msg is only shortcodes/emoji (+ filler), and non-empty.

    Mirrors chat_parser.py:43-57: strip shortcodes, strip emoji, strip
    filler; pure iff nothing remains AND something was stripped.
    """
    without_shortcodes = F.regexp_replace(msg, _SHORTCODE_RE, "")
    without_emoji = F.regexp_replace(without_shortcodes, _EMOJI_CLASS, "")
    remainder = F.regexp_replace(without_emoji, _FILLER_CLASS, "")
    return (remainder == "") & (
        (without_shortcodes != msg) | (without_emoji != without_shortcodes)
    )


# --- F1: message category ---------------------------------------------------

_JP_SCRIPT = "[\\p{IsHiragana}\\p{IsKatakana}\\p{IsHan}]"
_JP_PUNCT = "[！？]"
_JP_LAUGH = "^[wWｗＷ]+$"  # both cases: no lower() before matching
_KR_SCRIPT = "[\\p{IsHangul}]"
_RU_SCRIPT = "[\\p{IsCyrillic}]"
# Python str.isnumeric() ~ Unicode Nd/Nl/No (chat_parser.py:91)
_NUMERIC = "^[\\p{Nd}\\p{Nl}\\p{No}]+$"

CATEGORIES = ("jp", "kr", "ru", "emoji", "es_en_id", "number")
# counter columns persisted in user_data (queries.py:43-59) — `number`
# counts toward the total but has no dedicated column, matching the
# reference's queue tuple (chat_downloader.py:166-172).
COUNTED_CATEGORIES = ("jp", "kr", "ru", "emoji", "es_en_id")


def categorize_message(msg: Column) -> Column:
    """F1: ordered short-circuit classifier (chat_parser.py:60-93).

    Returns NULL for null/blank, else one of CATEGORIES.
    """
    stripped = F.trim(msg)
    return (
        F.when(msg.isNull() | (stripped == ""), F.lit(None).cast("string"))
        .when(is_pure_emoji(stripped), "emoji")
        .when(
            F.regexp_like(stripped, F.lit(_JP_SCRIPT))
            | F.regexp_like(stripped, F.lit(_JP_PUNCT))
            | F.regexp_like(stripped, F.lit(_JP_LAUGH)),
            "jp",
        )
        .when(F.regexp_like(stripped, F.lit(_KR_SCRIPT)), "kr")
        .when(F.regexp_like(stripped, F.lit(_RU_SCRIPT)), "ru")
        .when(F.regexp_like(stripped, F.lit(_NUMERIC)), "number")
        .otherwise("es_en_id")
    )


# --- F3: membership rank ----------------------------------------------------


def parse_membership_rank(badge_text: Column) -> Column:
    """F3 (chat_parser.py:11-41): badge text → months.

    '' / NULL → -1; 'new member' → 0; '(n) month(s)' → n;
    '(n) year(s)' → 12n; anything else → -1.
    """
    rank_text = F.lower(F.trim(badge_text))
    num = F.regexp_extract(rank_text, r"(\d+)\s*(month|year)", 1)
    unit = F.regexp_extract(rank_text, r"(\d+)\s*(month|year)", 2)
    return (
        F.when(badge_text.isNull() | (badge_text == ""), -1)
        .when(rank_text.contains("new member"), 0)
        .when(
            num != "",
            F.when(unit == "year", num.cast("int") * 12).otherwise(
                num.cast("int")
            ),
        )
        .otherwise(-1)
    )


# --- F4: humor detection ----------------------------------------------------

_HUMOR_SUBSTRINGS = (
    "草", "茶葉", "_fbkcha", "_lol", "lmao", "lmfao", "haha", "🤣", "😆",
    "jaja", "笑", "xd", "wkwk", "ｗ", "rofl", "kek", "looool", "xddd",
)  # feature_analysis.py:9-12 — matched against the ORIGINAL case
_LOL_RE = "(?i)\\blol+\\b"
_REPEAT_LAUGH_RE = "(?i)(ha){2,}|(w{2,})|(o?l{2,}o+l+)"
_W_END_RE = "ｗ+$"


def has_humor(msg: Column) -> Column:
    """F4 (feature_analysis.py:7-26).

    NULL messages yield False (not NULL) — contains/regexp_like propagate
    NULL through the OR chain, which would silently drop rows from boolean
    filters and humor counts; the reference's Python `in`/`re.search` can
    never return None for valid str input, so False is the parity answer.
    """
    substr_hit = F.lit(False)
    for s in _HUMOR_SUBSTRINGS:
        substr_hit = substr_hit | msg.contains(s)
    has_jp = F.regexp_like(msg, F.lit(_JP_SCRIPT))
    return F.coalesce(
        substr_hit
        | F.regexp_like(msg, F.lit(_LOL_RE))
        | (has_jp & F.regexp_like(msg, F.lit(_W_END_RE)))
        | F.regexp_like(msg, F.lit(_REPEAT_LAUGH_RE)),
        F.lit(False),
    )


# --- F5: AI-input cleanup ---------------------------------------------------


def clean_chat_for_ai(msg: Column) -> Column:
    """F5 (ai_summarizer.py:42-52): strip :emotes:, URLs, collapse spaces."""
    no_emotes = F.regexp_replace(msg, _SHORTCODE_RE, " ")
    no_urls = F.regexp_replace(no_emotes, r"https?://\S+", " ")
    return F.trim(F.regexp_replace(no_urls, r"\s+", " "))
