"""Results do not depend on the session time zone, and the library writes
nothing into a session it is handed.

Timestamps are UTC wall-clock ``timestamp_ntz``; the library sets no session
conf. The checks run on ``spark.newSession()`` set to ``Asia/Tokyo`` (UTC+9),
so a bucket computed from a session-zone value would land in the next day or
month. The seeded ``events`` span 2024-01-01..2024-01-30 and cross no month
boundary, so the registry pass runs on a copy of sf0.001 whose ``events.ts``
is shifted +30 days (2024-01-31..2024-02-29).
"""

from __future__ import annotations

import datetime as dt
import gzip
import json

import pytest

from holochatstats_spark.operators.ingest import build_user_data
from holochatstats_spark.queries import load_all_queries
from holochatstats_spark.sources.chat_logs import read_chat_logs
from holochatstats_spark.sources.video_metadata import read_video_metadata
from holochatstats_spark.sources.writers import write_month_partitioned
from holochatstats_spark.testing import compare_query, duck_connection, normalize
from tests.conftest import sf_copy

TZ = "Asia/Tokyo"
# 2026-01-31 23:30 UTC = 2026-02-01 08:30 in Tokyo
LATE_JAN_US = 1_769_902_200_000_000


def _session(spark, tz):
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", tz)
    return s


@pytest.fixture(scope="module")
def month_crossing_sf(tmp_path_factory):
    """sf0.001 with events.ts shifted +30 days."""
    return sf_copy(
        tmp_path_factory.mktemp("sf_month_crossing"),
        "events",
        "SELECT * REPLACE (ts + INTERVAL 30 DAY AS ts) FROM src",
    )


@pytest.fixture(scope="module")
def tokyo_pass(spark, month_crossing_sf):
    """Every registered query on a Tokyo session over the month-crossing
    copy: oracle problems per query, the rows of each rows-only query, and
    the session conf before and after all builds and collects."""
    session = _session(spark, TZ)
    before = session.conf.getAll
    con = duck_connection(month_crossing_sf)
    problems, rows = {}, {}
    for name, q in load_all_queries().items():
        if q.oracle is None:
            df = q.build(session, month_crossing_sf)
            rows[name] = normalize(df.collect(), df.columns)
        else:
            problems[name] = compare_query(session, con, q, month_crossing_sf)
    return problems, rows, before, session.conf.getAll


def test_oracle_queries_match_duckdb_under_tokyo(tokyo_pass):
    problems = {n: p for n, p in tokyo_pass[0].items() if p}
    assert not problems, problems


def test_rows_only_queries_match_utc_rows(spark, month_crossing_sf, tokyo_pass):
    utc = _session(spark, "UTC")
    registry = load_all_queries()
    assert sorted(tokyo_pass[1]) == ["channel_clustering", "daily_event_rollup_approx"]
    for name, tokyo_rows in tokyo_pass[1].items():
        df = registry[name].build(utc, month_crossing_sf)
        assert normalize(df.collect(), df.columns) == tokyo_rows, name


def test_build_and_collect_leave_session_conf_untouched(tokyo_pass):
    _, _, before, after = tokyo_pass
    assert after == before
    assert after["spark.sql.session.timeZone"] == TZ


def test_chat_message_keeps_its_utc_month_through_silver(spark, tmp_path):
    session = _session(spark, TZ)
    landing = tmp_path / "landing"
    landing.mkdir()
    record = {
        "user_id": "u1",
        "username": "Alice",
        "timestamp": LATE_JAN_US,
        "membership_rank": -1,
        "message_category": "jp",
        "message": "こんにちは",
        "message_type": "chat",
        "gifter": None,
    }
    with gzip.open(landing / "vid1.jsonl.gz", "wt", encoding="utf-8") as f:
        f.write(json.dumps(record, ensure_ascii=False) + "\n")

    silver = build_user_data(read_chat_logs(session, str(landing), channel_id="ch1"))
    path = str(tmp_path / "silver")
    write_month_partitioned(silver, path)

    (row,) = session.read.parquet(path).collect()
    assert row["last_message_at"] == dt.datetime(2026, 1, 31, 23, 30)
    assert row["observed_month"] == dt.date(2026, 1, 1)
    assert row["_month"] == "2026-01"


def test_video_end_time_is_the_utc_wall_clock_of_any_offset(spark, tmp_path):
    session = _session(spark, TZ)
    meta = tmp_path / "videos"
    meta.mkdir()
    payload = {
        "vidZ": {"title": "z", "end_time": "2026-01-31T23:30:00Z", "duration": 60},
        "vidJ": {"title": "j", "end_time": "2026-02-01T08:30:00+09:00", "duration": 60},
        # no offset: read as UTC, not in the session zone
        "vidU": {"title": "u", "end_time": "2026-01-31T23:30:00", "duration": 60},
    }
    (meta / "ch1.json").write_text(json.dumps(payload))

    got = {r["video_id"]: r["end_time"] for r in read_video_metadata(session, str(meta)).collect()}
    assert got == dict.fromkeys(["vidZ", "vidJ", "vidU"], dt.datetime(2026, 1, 31, 23, 30))


def test_tokenizer_ignores_escaped_string_literals_conf(spark, tmp_path):
    # with escapedStringLiterals on, a regex passed through SQL text keeps
    # its doubled backslash and no longer matches whitespace runs
    sf = sf_copy(
        tmp_path,
        "documents",
        "SELECT * FROM src UNION ALL SELECT 100001, 'A  b\tc', 'en', 'web', 6"
        " UNION ALL SELECT 100002, ' x \n\n y  ', 'en', 'web', 11",
    )
    session = spark.newSession()
    session.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    q = load_all_queries()["doc_token_stats"]
    assert compare_query(session, duck_connection(sf), q, sf) == []
    (row,) = q.build(session, sf).where("doc_id = 100001").collect()
    assert row["n_tokens"] == 3
