"""Multimodal plumbing tests: payload bytes per modality, deterministic
fake-decode values and NULL-typed metadata per modality."""

from __future__ import annotations

import hashlib

import pytest

from holochatstats_spark.operators.multimodal import (
    extract_features,
    synthesize_media,
)


def _media_df(spark):
    docs = spark.createDataFrame(
        [
            (0, "an image payload"),
            (1, "an audio payload"),
            (2, "a video payload"),
            (3, "another image"),
        ],
        "doc_id bigint, text string",
    )
    return synthesize_media(docs)


def test_modality_assignment_and_payload_bytes(spark):
    rows = {r["doc_id"]: r for r in _media_df(spark).collect()}
    assert rows[0]["media_type"] == "image"
    assert rows[1]["media_type"] == "audio"
    assert rows[2]["media_type"] == "video"
    assert bytes(rows[0]["payload"]) == b"an image payload"


def test_feature_extraction_batch_roundtrip(spark):
    feats = {r["doc_id"]: r for r in extract_features(_media_df(spark)).collect()}
    assert len(feats) == 4

    md5 = hashlib.md5(b"an image payload").hexdigest()
    img = feats[0]
    assert img["payload_md5"] == md5
    assert img["n_bytes"] == len(b"an image payload")
    assert img["width"] == int(md5[:8], 16) % 1920 + 1
    assert img["height"] == int(md5[8:16], 16) % 1080 + 1
    # image rows carry no audio metadata
    assert img["sample_rate"] is None and img["duration_sec"] is None

    aud = feats[1]
    assert aud["width"] is None and aud["height"] is None
    assert aud["sample_rate"] in (8000, 16000, 22050, 44100)
    assert aud["duration_sec"] == pytest.approx(aud["n_bytes"] / 1024.0)

    vid = feats[2]
    assert vid["width"] is not None
    assert vid["duration_sec"] == pytest.approx(vid["n_bytes"] / 2048.0)

