"""Structured Streaming ingest: the windowed A1 counter aggregate over a
file-source stream must reproduce the batch counters when rolled up
(associative-counter contract, streaming/ingest_stream.py), and a landing
of many small replays is read in batches bounded by bytes, not by files."""

from __future__ import annotations

import gzip
import json
import os

from pyspark.sql import functions as F

from holochatstats_spark.functions.classify import COUNTED_CATEGORIES
from holochatstats_spark.operators.ingest import build_user_data
from holochatstats_spark.plans.walker import walk_final_plan
from holochatstats_spark.sources.chat_logs import read_chat_logs
from holochatstats_spark.streaming import ingest_stream, stream_messages, stream_user_counters

COUNTERS = (*(f"{c}_count" for c in COUNTED_CATEGORIES), "total_message_count")


def _write_log(path, video_id, records):
    with gzip.open(path / f"{video_id}.jsonl.gz", "wt", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")


def _rec(user, us_offset, message="hello", mtype="chat", cat="es_en_id"):
    return {
        "user_id": user,
        "username": f"name-{user}",
        "timestamp": 1_704_067_200_000_000 + us_offset,
        "membership_rank": -1,
        "message_category": cat,
        "message": message,
        "message_type": mtype,
        "gifter": None,
    }


def test_streaming_counters_match_batch_rollup(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_log(
        landing,
        "vidX",
        [
            _rec("u1", 0, cat="jp", message="こんにちは"),
            _rec("u1", 30_000_000, cat="es_en_id"),
            _rec("u1", 90_000_000, cat="jp", message="ｗｗｗ"),  # next minute window
            _rec("u2", 5_000_000, cat="emoji", message="😀"),
            _rec("u2", 8_000_000, message="", mtype="new_member"),  # uncounted
        ],
    )

    q = (
        stream_user_counters(stream_messages(spark, str(landing)), channel_id="ch1")
        .writeStream.format("memory")
        .queryName("stream_counters")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    windowed = spark.table("stream_counters")
    # at least two distinct windows for u1 (0:00 and 0:01 tumbling minutes)
    assert windowed.where(F.col("user_id") == "u1").count() == 2

    rollup = {
        r["user_id"]: r
        for r in windowed.groupBy("channel_id", "video_id", "user_id")
        .agg(
            F.sum("jp_count").alias("jp"),
            F.sum("emoji_count").alias("emoji"),
            F.sum("total_message_count").alias("total"),
            F.max("last_message_at").alias("last_at"),
        )
        .collect()
    }
    u1, u2 = rollup["u1"], rollup["u2"]
    assert u1["jp"] == 2 and u1["total"] == 3
    assert u2["emoji"] == 1 and u2["total"] == 1  # member event not counted
    assert u1["video_id"] == "vidX" and u1["channel_id"] == "ch1"
    # member event still advanced u2's last_message_at
    assert u2["last_at"].microsecond == 0 and u2["last_at"].second == 8


def _many_small_replays(landing, n_videos=20):
    """n_videos one-KB-ish replays, more files than a file-count cap of 16
    took per batch. Users recur across videos; half the categories are
    left for the classifier."""
    msgs = [("こんにちは", "jp"), ("ｗｗｗ", None), ("привет", None), ("hi", "es_en_id"), ("😀", None)]
    for v in range(n_videos):
        _write_log(
            landing,
            f"vid{v:02d}",
            [
                _rec(f"u{(v + i) % 7}", v * 600_000_000 + i * 7_000_000, message=m, cat=c)
                for i, (m, c) in enumerate(msgs * 3)
            ],
        )


def _stream_batches_and_rollup(spark, landing, name):
    """Catch up on ``landing`` with availableNow; the non-empty micro-batch
    count and the window rollup per (channel, video, user)."""
    q = (
        stream_user_counters(stream_messages(spark, str(landing)), channel_id="ch1")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "the catch-up did not finish"
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    rollup = (
        spark.table(name)
        .groupBy("channel_id", "video_id", "user_id")
        .agg(*[F.sum(c).cast("int").alias(c) for c in COUNTERS], F.max("last_message_at").alias("last_message_at"))
    )
    return len(batches), _keyed(rollup)


def _keyed(df):
    cols = ["channel_id", "video_id", "user_id", *COUNTERS, "last_message_at"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _batch_silver(spark, landing):
    return _keyed(build_user_data(read_chat_logs(spark, str(landing), channel_id="ch1")))


def test_many_small_replays_catch_up_in_one_batch(spark, tmp_path):
    """A micro-batch is bounded by bytes: 20 small replays, more files than
    the old 16-file cap, are one batch, and each batch pays a state-store
    commit over every shuffle partition whatever its size."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _many_small_replays(landing)
    assert len(list(landing.iterdir())) == 20
    n_batches, rollup = _stream_batches_and_rollup(spark, landing, "many_replays_one_batch")
    assert n_batches == 1
    assert rollup == _batch_silver(spark, landing)


def test_byte_cap_below_one_replay_splits_the_catch_up(spark, tmp_path, monkeypatch):
    """The cap is what bounds a batch: below one file's size, the same
    landing takes one batch per file (a batch reads at least one file),
    and the rollup is unchanged."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _many_small_replays(landing)
    smallest = min(f.stat().st_size for f in landing.iterdir())
    monkeypatch.setattr(ingest_stream, "MAX_BYTES_PER_TRIGGER", smallest - 1)
    n_batches, rollup = _stream_batches_and_rollup(spark, landing, "many_replays_byte_capped")
    assert n_batches == 20
    assert rollup == _batch_silver(spark, landing)


def test_state_width_is_the_core_count_and_batch_width_stays_32(spark, tmp_path):
    """get_spark's session gives a stateful stream one state store per core
    (spark.sql.shuffle.partitions; micro-batches run without AQE), while a
    batch aggregate still shuffles into AQE's 32 initial partitions."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _many_small_replays(landing, n_videos=2)
    q = (
        stream_user_counters(stream_messages(spark, str(landing)), channel_id="ch1")
        .writeStream.format("memory")
        .queryName("state_width")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "the catch-up did not finish"
    (progress,) = [p for p in q.recentProgress if p["numInputRows"] > 0]
    (state,) = progress["stateOperators"]
    cores = spark.sparkContext.defaultParallelism
    assert state["numShufflePartitions"] == cores
    if os.environ.get("SPARK_GRAFT_CPUS", "*") != "*":
        assert cores == int(os.environ["SPARK_GRAFT_CPUS"])

    batch = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    batch.collect()
    exchanges = [n for n in walk_final_plan(batch) if n["name"] == "Exchange"]
    assert [n["partitions"] for n in exchanges] == [32]
