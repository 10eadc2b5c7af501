"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (per the engine contract):
- media is an opaque `binary` column plus a typed metadata struct; Spark
  never interprets the bytes beyond whole-column functions;
- feature extraction is FULLY NATIVE (guide §4.1: a built-in beats any
  UDF): byte length, md5 fingerprint, and the deterministic fake decode
  are `length()` / `md5()` / `conv(substr())` / `when()` chains inside
  whole-stage codegen — r21 ran this as a mapInPandas stage and the whole
  JVM→Arrow→pandas→JVM round trip existed only to compute expressions
  Spark already has (VERDICT r21 item 3 / r22 rewrite);
- there is no real decoder (PIL / soundfile / av are not dependencies).
  One would be a mapInArrow stage over `select(doc_id, payload)` (iterator
  form, decoder built once per task — guide §4.5), composing with the
  native features below.

The synthetic payload derives from the `documents` table (text → UTF-8
bytes), making every downstream feature a pure function both engines can
compute: the DuckDB twin recomputes md5/byte-lengths from the same text.

Scale notes: feature extraction is a map-only stage (no shuffle); a
downstream groupBy(media_type) shuffles only the tiny feature rows, never
payload bytes — project payload away BEFORE any wide operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SAMPLE_RATES = (8000, 16000, 22050, 44100)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, media_type, payload binary): deterministic
    media table standing in for real image/audio/video bytes."""
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Native feature extraction: byte stats, a payload fingerprint, and a
    deterministic fake decode per modality (width/height for visual,
    sample_rate/duration for audio).

    No Python boundary (guide §4.1): `length`/`md5` read the binary column
    JVM-side, the md5-derived fake dimensions are `conv(substr(hex))`
    integer ops (8 hex digits < 2^32, so the bigint cast is exact), and
    modality routing is a `when()` chain — all inside whole-stage codegen.
    Values are bit-identical to the r21 pandas path: same md5 hex, same
    int64 modulo math, same IEEE754 double division.
    """
    md5 = F.md5("payload")
    h1 = F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(md5, 9, 8), 16, 10).cast("bigint")
    visual = F.col("media_type").isin("image", "video")
    audio = F.col("media_type") == "audio"
    video = F.col("media_type") == "video"
    n_bytes = F.length("payload").cast("bigint")
    rates = F.array(*[F.lit(r) for r in _SAMPLE_RATES])
    return media.select(
        "doc_id",
        "media_type",
        n_bytes.alias("n_bytes"),
        md5.alias("payload_md5"),
        F.when(visual, (h1 % 1920 + 1).cast("int")).alias("width"),
        F.when(visual, (h2 % 1080 + 1).cast("int")).alias("height"),
        F.when(audio, F.element_at(rates, (h1 % 4 + 1).cast("int"))).alias(
            "sample_rate"
        ),
        F.when(video, n_bytes / 2048.0)
        .when(audio, n_bytes / 1024.0)
        .alias("duration_sec"),
    )


#: DuckDB twin of synthesize_media + extract_features over `documents` —
#: identical bytes (UTF-8), identical md5, identical fake-decode rules.
FEATURES_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           CAST(CASE WHEN doc_id % 3 <> 1
                THEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 1920 + 1
                END AS INT) AS width,
           CAST(CASE WHEN doc_id % 3 <> 1
                THEN ('0x' || substr(md5(text), 9, 8))::BIGINT % 1080 + 1
                END AS INT) AS height,
           CAST(CASE WHEN doc_id % 3 = 1 THEN
                ([8000, 16000, 22050, 44100])[(('0x' || substr(md5(text), 1, 8))::BIGINT % 4)::INT + 1]
                END AS INT) AS sample_rate,
           CASE WHEN doc_id % 3 = 1 THEN octet_length(encode(text)) / 1024.0
                WHEN doc_id % 3 = 2 THEN octet_length(encode(text)) / 2048.0
                END AS duration_sec
    FROM documents
"""
