"""Bronze loop round-trips (VERDICT r1 item 9): the sources/ layer stops
being dead code — write a month, re-read it, diff; parse a JSONL.gz chat
log; parse a per-channel metadata dict."""

from __future__ import annotations

import datetime as dt
import gzip
import json

from pyspark.sql import functions as F

from holochatstats_spark.sources.chat_logs import read_chat_logs
from holochatstats_spark.sources.video_metadata import read_video_metadata
from holochatstats_spark.sources.writers import write_month_partitioned
from holochatstats_spark.streaming import stream_messages


def test_chat_log_jsonl_gz_roundtrip(spark, tmp_path):
    log_dir = tmp_path / "chat_logs"
    log_dir.mkdir()
    records = [
        {
            "user_id": "u1",
            "username": "Alice",
            "timestamp": 1_704_067_200_000_000,  # 2024-01-01T00:00:00Z in µs
            "membership_rank": 2,
            "message_category": "jp",
            "message": "こんにちは",
            "message_type": "chat",
            "gifter": None,
        },
        {
            "user_id": "u2",
            "username": "Bob",
            "timestamp": 1_704_067_260_500_000,
            "membership_rank": -1,
            "message_category": "es_en_id",
            "message": "hi",
            "message_type": "chat",
            "gifter": None,
        },
    ]
    with gzip.open(log_dir / "vid123.jsonl.gz", "wt", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")

    df = read_chat_logs(spark, str(log_dir), channel_id="ch9")
    rows = {r["user_id"]: r for r in df.collect()}
    assert set(rows) == {"u1", "u2"}
    assert rows["u1"]["video_id"] == "vid123"
    assert rows["u1"]["channel_id"] == "ch9"
    # F13: µs epoch → timestamp, sub-second preserved
    assert rows["u1"]["ts"] == dt.datetime(2024, 1, 1, 0, 0, 0)
    assert rows["u2"]["ts"] == dt.datetime(2024, 1, 1, 0, 1, 0, 500000)
    assert rows["u1"]["message"] == "こんにちは"


def test_video_id_comes_from_the_file_name_in_batch_and_stream(spark, tmp_path):
    root = tmp_path / "landing"
    # relative path -> expected video_id; one record per file, its message
    # naming the file; nested directories, read through a glob
    files = {
        "ch1/2024-01/x1.jsonl": "x1",
        "ch1/2024-02/x2.jsonl.gz": "x2",
        "ch2/v.jsonl/x3.jsonl.gz": "x3",  # under a log-like directory name
        "ch2/2024-03/notes.json": "",  # not <video_id>.jsonl[.gz]
    }
    for rel in files:
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        line = json.dumps({"user_id": "u1", "timestamp": 1_704_067_200_000_000, "message": rel})
        opener = gzip.open if rel.endswith(".gz") else open
        with opener(p, "wt", encoding="utf-8") as f:
            f.write(line + "\n")

    batch = {
        r["message"]: r["video_id"]
        for r in read_chat_logs(spark, f"{root}/*/*/*").select("message", "video_id").collect()
    }
    q = (
        stream_messages(spark, f"{root}/*/*/*")
        .select("message", "video_id")
        .writeStream.format("memory")
        .queryName("video_id_probe")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {r["message"]: r["video_id"] for r in spark.table("video_id_probe").collect()}
    assert batch == files
    assert streamed == files


def test_write_month_partitioned_is_idempotent_per_month(spark, tmp_path):
    path = str(tmp_path / "gold")
    schema = "k string, v bigint, observed_month date"
    jan = [("a", 1, dt.date(2024, 1, 1)), ("b", 2, dt.date(2024, 1, 1))]
    feb = [("c", 3, dt.date(2024, 2, 1))]
    write_month_partitioned(spark.createDataFrame(jan + feb, schema), path)

    # overwrite ONLY January with new contents; February must survive
    jan2 = [("z", 9, dt.date(2024, 1, 1))]
    write_month_partitioned(spark.createDataFrame(jan2, schema), path)

    got = {
        (r["k"], r["v"], r["_month"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {("z", 9, "2024-01"), ("c", 3, "2024-02")}


def test_write_month_partitioned_restores_conf(spark, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    df = spark.createDataFrame(
        [("a", dt.date(2024, 1, 1))], "k string, observed_month date"
    )
    write_month_partitioned(df, str(tmp_path / "conf_probe"))
    assert spark.conf.get(key) == "static"
    spark.conf.unset(key)


def test_write_month_partitioned_leaves_session_conf_untouched(spark, tmp_path):
    # a fresh SQL conf whose partitionOverwriteMode is the static default:
    # the rewrite of one month must still replace only that month
    session = spark.newSession()
    before = session.conf.getAll
    path = str(tmp_path / "gold")
    schema = "k string, observed_month date"
    write_month_partitioned(
        session.createDataFrame([("a", dt.date(2024, 1, 1)), ("c", dt.date(2024, 2, 1))], schema),
        path,
    )
    write_month_partitioned(session.createDataFrame([("z", dt.date(2024, 1, 1))], schema), path)
    assert session.conf.getAll == before
    got = {(r["k"], r["_month"]) for r in session.read.parquet(path).collect()}
    assert got == {("z", "2024-01"), ("c", "2024-02")}


def test_read_video_metadata_dict_file(spark, tmp_path):
    meta_dir = tmp_path / "videos"
    meta_dir.mkdir()
    payload = {
        "vidA": {
            "title": "Stream A",
            "end_time": "2024-03-01T12:00:00Z",
            "duration": 3600,
        },
        "vidB": {
            "title": "Stream B",
            "end_time": "2024-03-02T09:30:00Z",
            "duration": 5400,
        },
    }
    (meta_dir / "ch42.json").write_text(json.dumps(payload))

    df = read_video_metadata(spark, str(meta_dir))
    rows = {r["video_id"]: r for r in df.collect()}
    assert set(rows) == {"vidA", "vidB"}
    assert rows["vidA"]["channel_id"] == "ch42"
    assert rows["vidA"]["title"] == "Stream A"
    assert rows["vidA"]["duration_sec"] == 3600
    assert rows["vidB"]["end_time"] == dt.datetime(2024, 3, 2, 9, 30, 0)
    # A3/F7 shape: hours math runs natively on duration_sec
    hours = df.agg(F.sum(F.col("duration_sec") / 3600).alias("h")).first()["h"]
    assert hours == 2.5


def test_export_csv_roundtrip_partitioned_default(spark, tmp_path):
    path = str(tmp_path / "export")
    df = spark.createDataFrame(
        [("a", 1, 2.5), ("b", 2, 3.5)], "k string, n bigint, v double"
    ).repartition(4)
    from holochatstats_spark.sources.writers import export_csv

    export_csv(df, path)
    back = spark.read.option("header", "true").csv(path)
    got = {(r["k"], int(r["n"]), float(r["v"])) for r in back.collect()}
    assert got == {("a", 1, 2.5), ("b", 2, 3.5)}
    # distributed by default: more than one part file for a 4-partition frame
    parts = [p for p in (tmp_path / "export").iterdir() if p.name.startswith("part-")]
    assert len(parts) > 1


def test_export_csv_single_file_optin(spark, tmp_path):
    path = str(tmp_path / "export1")
    df = spark.createDataFrame(
        [("a", 1, 2.5), ("b", 2, 3.5)], "k string, n bigint, v double"
    ).repartition(4)
    from holochatstats_spark.sources.writers import export_csv

    export_csv(df, path, single_file=True)
    parts = [p for p in (tmp_path / "export1").iterdir() if p.name.startswith("part-")]
    assert len(parts) == 1
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == 2


def test_export_csv_single_file_guard_refuses_big_frames(spark, tmp_path):
    import pytest

    from holochatstats_spark.sources.writers import export_csv

    df = spark.range(0, 100).selectExpr("id AS k")
    with pytest.raises(ValueError, match="refused"):
        export_csv(df, str(tmp_path / "big"), single_file=True, single_file_max_rows=10)
