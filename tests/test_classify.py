"""F1-F5 classification parity tests — the edge cases pinned by the
reference's chat_parser.py / feature_analysis.py (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from holochatstats_spark.functions.classify import (
    categorize_message,
    clean_chat_for_ai,
    has_humor,
    is_pure_emoji,
    parse_membership_rank,
)


def _eval(spark, expr_builder, values):
    df = spark.createDataFrame([(v,) for v in values], "msg string")
    return [r["out"] for r in df.select(expr_builder(F.col("msg")).alias("out")).collect()]


CATEGORIZE_CASES = [
    # (message, expected) — semantics of chat_parser.py:60-93
    ("こんにちは", "jp"),          # hiragana
    ("カタカナ", "jp"),            # katakana
    ("漢字テスト", "jp"),          # han
    ("草", "jp"),                  # han single char (humor too)
    ("！？", "jp"),                # jp punctuation
    ("www", "jp"),                 # ^[wｗ]+$ laugh
    ("ｗｗｗ", "jp"),              # fullwidth laugh
    ("wwwa", "es_en_id"),          # laugh regex is anchored
    ("안녕하세요", "kr"),
    ("привет", "ru"),
    ("12345", "number"),
    ("１２３", "number"),          # fullwidth digits are isnumeric()
    ("hello world", "es_en_id"),
    ("hola jaja", "es_en_id"),
    ("🤣🤣", "emoji"),
    (":_konkonmori:", "emoji"),
    (":shortcode: 🎉", "emoji"),
    ("🤣 nice", "es_en_id"),       # emoji + text is not pure
    ("", None),
    ("   ", None),
    (None, None),
    # ordered short-circuit: jp beats kr when both scripts present
    ("韓国어", "jp"),
]


@pytest.mark.parametrize("msg,expected", CATEGORIZE_CASES)
def test_categorize_message(spark, msg, expected):
    df = spark.createDataFrame([(msg,)], "msg string")
    got = df.select(categorize_message(F.col("msg")).alias("c")).first()["c"]
    assert got == expected, f"{msg!r}: got {got}, want {expected}"


PURE_EMOJI_CASES = [
    ("🤣", True),
    ("🤣😆", True),
    ("🤣 😆", True),                 # whitespace between emoji ok
    (":_konkonmori::_okayu:", True),
    (":face_with_tears_of_joy:", True),
    ("👍🏽", True),                  # skin tone modifier
    ("👨‍👩‍👧", True),              # ZWJ sequence
    ("🇯🇵", True),                  # regional indicators
    ("text", False),
    ("🤣text", False),
    ("", False),                    # nothing stripped
    ("   ", False),                 # whitespace only, nothing stripped
    (":not closed", False),
]


@pytest.mark.parametrize("msg,expected", PURE_EMOJI_CASES)
def test_is_pure_emoji(spark, msg, expected):
    df = spark.createDataFrame([(msg,)], "msg string")
    got = df.select(is_pure_emoji(F.col("msg")).alias("p")).first()["p"]
    assert got == expected, f"{msg!r}: got {got}, want {expected}"


RANK_CASES = [
    (None, -1),
    ("", -1),
    ("Member", -1),
    ("New member", 0),
    ("new member (1 day)", 0),      # 'new member' wins before digit scan
    ("Member (1 month)", 1),
    ("Member (6 months)", 6),
    ("Member (1 year)", 12),
    ("Member (2 years)", 24),
    ("member (13 months)", 13),
]


@pytest.mark.parametrize("badge,expected", RANK_CASES)
def test_parse_membership_rank(spark, badge, expected):
    df = spark.createDataFrame([(badge,)], "msg string")
    got = df.select(parse_membership_rank(F.col("msg")).alias("r")).first()["r"]
    assert got == expected, f"{badge!r}: got {got}, want {expected}"


HUMOR_CASES = [
    ("草", True),
    ("lmao that was great", True),
    ("LMAO", False),               # substring list is case-sensitive (quirk)
    ("lol", True),                 # \blol+\b case-insensitive
    ("LOL", True),
    ("loool", False),              # matches neither \blol+\b nor o?l{2,}o+l+
    ("looool", True),              # substring list entry
    ("hahaha", True),              # haha substring + (ha){2,}
    ("jajaja", True),
    ("wkwkwk", True),
    ("すごいｗ", True),            # jp text ending in fullwidth w
    ("ｗ", True),                  # in the substring list
    ("wwww", True),                # w{2,}
    ("hello", False),
    ("what", False),               # 'ha' once is not (ha){2,}
]


@pytest.mark.parametrize("msg,expected", HUMOR_CASES)
def test_has_humor(spark, msg, expected):
    df = spark.createDataFrame([(msg,)], "msg string")
    got = df.select(has_humor(F.col("msg")).alias("h")).first()["h"]
    assert got == expected, f"{msg!r}: got {got}, want {expected}"


def test_clean_chat_for_ai(spark):
    cases = [
        (":_wave: hello   there https://x.co/a?b=1 bye", "hello there bye"),
        ("plain", "plain"),
    ]
    for raw, want in cases:
        df = spark.createDataFrame([(raw,)], "msg string")
        got = df.select(clean_chat_for_ai(F.col("msg")).alias("c")).first()["c"]
        assert got == want


# --- F1 without lower(): pinned against the lower()-based chain -------------


def _categorize_with_lower(msg):
    """categorize_message as it was before the lower() call was dropped,
    kept verbatim as the reference for the ICU-free chain."""
    from holochatstats_spark.functions.classify import (
        _JP_PUNCT,
        _JP_SCRIPT,
        _KR_SCRIPT,
        _NUMERIC,
        _RU_SCRIPT,
    )

    _JP_LAUGH = "^[wｗ]+$"
    stripped = F.trim(msg)
    lowered = F.lower(stripped)
    return (
        F.when(msg.isNull() | (stripped == ""), F.lit(None).cast("string"))
        .when(is_pure_emoji(stripped), "emoji")
        .when(
            F.regexp_like(lowered, F.lit(_JP_SCRIPT))
            | F.regexp_like(lowered, F.lit(_JP_PUNCT))
            | F.regexp_like(lowered, F.lit(_JP_LAUGH)),
            "jp",
        )
        .when(F.regexp_like(lowered, F.lit(_KR_SCRIPT)), "kr")
        .when(F.regexp_like(lowered, F.lit(_RU_SCRIPT)), "ru")
        .when(F.regexp_like(lowered, F.lit(_NUMERIC)), "number")
        .otherwise("es_en_id")
    )


def _category_mismatches(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "msg string")
    return [
        (r["msg"], r["ref"], r["got"])
        for r in df.select(
            "msg",
            _categorize_with_lower(F.col("msg")).alias("ref"),
            categorize_message(F.col("msg")).alias("got"),
        )
        .where(~F.col("ref").eqNullSafe(F.col("got")))
        .collect()
    ]


def test_categorize_without_lower_matches_lowered_chain_on_cased_code_points(spark):
    """Every code point that Spark's lower() changes, alone, doubled, after
    an ASCII w and before a fullwidth ｗ, classifies as the lower()-based
    chain classifies it. Code points come from spark.range via UTF-32
    (a leading BOM keeps U+FEFF itself from being read as one); surrogates
    are not code points of a string."""
    cased = [
        r["c"]
        for r in spark.range(0, 0x110000)
        .where("id < 55296 OR id > 57343")
        .selectExpr("decode(unhex('0000FEFF' || lpad(hex(id), 8, '0')), 'UTF-32') AS c")
        .where("lower(c) != c")
        .collect()
    ]
    assert len(cased) > 1000 and "W" in cased and "Ｗ" in cased and "Я" in cased
    variants = [v for c in cased for v in (c, c + c, "w" + c, c + "ｗ")]
    assert _category_mismatches(spark, variants) == []


def test_categorize_without_lower_matches_lowered_chain_on_message_pools(spark):
    from benchmark.gen_chat import MESSAGE_POOL
    from holochatstats_spark.operators.synth import MESSAGES

    from tests.test_classify_fuzz import _corpus

    pool = (
        [m for m, _ in MESSAGE_POOL]
        + [m for m, _ in MESSAGES]
        + [m for _, m, _ in _corpus()]
        + [m for m, _ in CATEGORIZE_CASES]
        + ["WWW", "ＷＷＷ", "wWｗＷ", "Ww!", "ПРИВЕТ", "ⅫⅣ", "Ⅻa"]
    )
    assert _category_mismatches(spark, pool) == []


def _expression_node_names(plan) -> set[str]:
    """Names of every Catalyst expression node in a logical plan tree."""
    names, plans, exprs = set(), [plan], []
    while plans:
        p = plans.pop()
        exprs.extend(p.expressions().apply(i) for i in range(p.expressions().size()))
        plans.extend(p.children().apply(i) for i in range(p.children().size()))
    while exprs:
        e = exprs.pop()
        names.add(e.nodeName())
        exprs.extend(e.children().apply(i) for i in range(e.children().size()))
    return names


def test_classify_messages_plans_no_lower(spark):
    """The classifier reaches no case mapping: Spark 4's lower() runs ICU,
    whose first use in a JVM loads its data on every task thread. Checked on
    the analyzed expression tree; the reference chain is the control."""
    from holochatstats_spark.operators.ingest import classify_messages

    msgs = spark.createDataFrame(
        [("chat", None, "ｗｗｗ")], "message_type string, message_category string, message string"
    )
    classified = classify_messages(msgs)._jdf.queryExecution().analyzed()
    reference = msgs.select(_categorize_with_lower(F.col("message")))._jdf.queryExecution().analyzed()
    assert "Lower" in _expression_node_names(reference)
    names = _expression_node_names(classified)
    assert {"RLike", "StringTrim", "CaseWhen"} <= names  # the walk reached the chain
    assert "Lower" not in names
