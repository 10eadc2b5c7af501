"""Structured Streaming ingest: the stream runs the batch silver aggregate,
so its rows equal batch silver rows without observed_month, every column
included (the stream contract, streaming/ingest_stream.py): across
restarts, for a replay older than what the stream has seen, in event time
or in file mtime. A landing of many small replays is read in batches
bounded by bytes, not by files."""

from __future__ import annotations

import gzip
import json
import os
import time

from pyspark.sql import functions as F

from holochatstats_spark.operators.ingest import build_user_data
from holochatstats_spark.plans.walker import walk_final_plan
from holochatstats_spark.sources.chat_logs import read_chat_logs
from holochatstats_spark.streaming import ingest_stream, stream_messages, stream_user_counters

KEY = ("channel_id", "video_id", "user_id")
DAY_US = 86_400_000_000
# (message, message_category); None is left to the classifier
TEXTS = [("こんにちは", "jp"), ("ｗｗｗ", None), ("привет", None), ("hi", "es_en_id"), ("😀", None)]


def _write_log(path, video_id, records):
    with gzip.open(path / f"{video_id}.jsonl.gz", "wt", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
    return path / f"{video_id}.jsonl.gz"


def _rec(user, us_offset, message="hello", mtype="chat", cat="es_en_id", rank=-1):
    return {
        "user_id": user,
        "username": f"name-{user}",
        "timestamp": 1_704_067_200_000_000 + us_offset,
        "membership_rank": rank,
        "message_category": cat,
        "message": message,
        "message_type": mtype,
        "gifter": None,
    }


def _replay(start_us, n=60):
    """n messages from 6 users over n seconds from ``start_us``: renamed
    users and rank changes (the latest one wins), member and badge-less
    gift events (uncounted; gift-only users are is_gift), NULL categories
    left to the classifier."""
    recs = []
    for i in range(n):
        r = _rec(f"u{i % 6}", start_us + i * 1_000_000, *TEXTS[i % 5], rank=i % 4 - 1)
        r["username"] = f"name-u{i % 6}-{i // 12}"
        if i % 11 == 0:
            r.update(message="", message_type="new_member", message_category=None)
        if i % 6 == 5:
            r.update(message="", message_type="gift_member", message_category=None, membership_rank=-2)
        recs.append(r)
    return recs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch_silver(spark, landing):
    """Batch silver rows of ``landing`` without observed_month, in the
    stream's column order."""
    return build_user_data(read_chat_logs(spark, str(landing), channel_id="ch1")).drop("observed_month")


def _update_run(spark, landing, checkpoint, last):
    """One availableNow run in update mode into a foreachBatch sink that
    keeps the last row emitted per key in ``last``; the run's non-empty
    progress records."""

    def sink(df, _batch_id):
        for r in df.collect():
            last[tuple(r[k] for k in KEY)] = tuple(r)

    q = (
        stream_user_counters(stream_messages(spark, str(landing)), channel_id="ch1")
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "the run did not finish"
    assert q.exception() is None
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def test_streaming_counters_match_batch_rollup(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_log(
        landing,
        "vidX",
        [
            _rec("u1", 0, cat="jp", message="こんにちは"),
            _rec("u1", 30_000_000, cat="es_en_id"),
            _rec("u1", 90_000_000, cat="jp", message="ｗｗｗ"),  # a minute later
            _rec("u2", 5_000_000, cat="emoji", message="😀"),
            _rec("u2", 8_000_000, message="", mtype="new_member"),  # uncounted
        ],
    )

    _catch_up(spark, landing, "stream_counters")
    streamed = spark.table("stream_counters")
    # one row per (channel, video, user), however far apart its messages
    assert streamed.where(F.col("user_id") == "u1").count() == 1

    rows = {r["user_id"]: r for r in streamed.collect()}
    u1, u2 = rows["u1"], rows["u2"]
    assert u1["jp_count"] == 2 and u1["total_message_count"] == 3
    assert u2["emoji_count"] == 1 and u2["total_message_count"] == 1  # member event not counted
    assert u1["video_id"] == "vidX" and u1["channel_id"] == "ch1"
    # member event still advanced u2's last_message_at
    assert u2["last_message_at"].microsecond == 0 and u2["last_message_at"].second == 8


def test_restart_then_older_replay_equals_batch_silver(spark, tmp_path):
    """Update mode, one checkpoint: today's replay, a restart, then
    yesterday's. Nothing is dropped for lateness, and the last row emitted
    per key is the key's batch silver row."""
    landing, checkpoint = tmp_path / "landing", tmp_path / "checkpoint"
    landing.mkdir()
    last = {}
    _write_log(landing, "today", _replay(DAY_US))
    first = _update_run(spark, landing, checkpoint, last)
    _write_log(landing, "yesterday", _replay(0))
    second = _update_run(spark, landing, checkpoint, last)

    assert [p["numInputRows"] for p in first + second] == [60, 60]
    assert sum(op["numRowsDroppedByWatermark"] for p in first + second for op in p["stateOperators"]) == 0
    assert sorted(last.values()) == _rows(_batch_silver(spark, landing))


def test_restart_reads_a_replay_with_an_old_mtime(spark, tmp_path):
    """A replay landed with a modification time 30 days before the newest
    file the stream has seen (a backfill copied with its mtime) is read
    after a restart."""
    landing, checkpoint = tmp_path / "landing", tmp_path / "checkpoint"
    landing.mkdir()
    last = {}
    _write_log(landing, "recent", _replay(DAY_US))
    _update_run(spark, landing, checkpoint, last)
    backfill = _write_log(landing, "backfill", _replay(2 * DAY_US))
    old = time.time() - 30 * 86_400
    os.utime(backfill, (old, old))
    (batch,) = _update_run(spark, landing, checkpoint, last)

    assert batch["numInputRows"] == 60
    assert sorted(last.values()) == _rows(_batch_silver(spark, landing))


def _many_small_replays(landing, n_videos=20):
    """n_videos one-KB-ish replays, more files than a file-count cap of 16
    took per batch. Users recur across videos; half the categories are
    left for the classifier."""
    for v in range(n_videos):
        _write_log(
            landing,
            f"vid{v:02d}",
            [
                _rec(f"u{(v + i) % 7}", v * 600_000_000 + i * 7_000_000, message=m, cat=c)
                for i, (m, c) in enumerate(TEXTS * 3)
            ],
        )


def _catch_up(spark, landing, name):
    """Catch up on ``landing`` with availableNow in complete mode; the
    non-empty progress records and the stream's rows."""
    q = (
        stream_user_counters(stream_messages(spark, str(landing)), channel_id="ch1")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "the catch-up did not finish"
    return [p for p in q.recentProgress if p["numInputRows"] > 0], _rows(spark.table(name))


def test_many_small_replays_catch_up_in_one_batch(spark, tmp_path):
    """A micro-batch is bounded by bytes: 20 small replays, more files than
    the old 16-file cap, are one batch, and each batch pays a state-store
    commit over every shuffle partition whatever its size."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _many_small_replays(landing)
    assert len(list(landing.iterdir())) == 20
    batches, rows = _catch_up(spark, landing, "many_replays_one_batch")
    assert len(batches) == 1
    assert rows == _rows(_batch_silver(spark, landing))


def test_state_holds_one_row_per_silver_row(spark, tmp_path):
    """After the catch-up the state store holds exactly the batch silver
    rows: no per-window rows, nothing evicted."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _many_small_replays(landing)
    (progress,), _ = _catch_up(spark, landing, "state_rows")
    (state,) = progress["stateOperators"]
    assert state["numRowsTotal"] == _batch_silver(spark, landing).count()


def test_byte_cap_below_one_replay_splits_the_catch_up(spark, tmp_path, monkeypatch):
    """The cap is what bounds a batch: below one file's size, the same
    landing takes one batch per file (a batch reads at least one file),
    and the rows are unchanged."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _many_small_replays(landing)
    smallest = min(f.stat().st_size for f in landing.iterdir())
    monkeypatch.setattr(ingest_stream, "MAX_BYTES_PER_TRIGGER", smallest - 1)
    batches, rows = _catch_up(spark, landing, "many_replays_byte_capped")
    assert len(batches) == 20
    assert rows == _rows(_batch_silver(spark, landing))


def test_state_width_is_the_core_count_and_batch_width_stays_32(spark, tmp_path):
    """get_spark's session gives a stateful stream one state store per core
    (spark.sql.shuffle.partitions; micro-batches run without AQE), while a
    batch aggregate still shuffles into AQE's 32 initial partitions."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _many_small_replays(landing, n_videos=2)
    (progress,), _ = _catch_up(spark, landing, "state_width")
    (state,) = progress["stateOperators"]
    cores = spark.sparkContext.defaultParallelism
    assert state["numShufflePartitions"] == cores
    if os.environ.get("SPARK_GRAFT_CPUS", "*") != "*":
        assert cores == int(os.environ["SPARK_GRAFT_CPUS"])

    batch = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    batch.collect()
    exchanges = [n for n in walk_final_plan(batch) if n["name"] == "Exchange"]
    assert [n["partitions"] for n in exchanges] == [32]
