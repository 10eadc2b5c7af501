"""Unit tests for the scalar expression layer (functions/core.py) —
cross-engine portability of rounding and hashing, the two primitives the
whole oracle-parity contract rests on."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from holochatstats_spark.functions.core import (
    md5_long,
    month_str,
    round_half_up,
    safe_div,
    time_bucket,
)


@pytest.mark.parametrize(
    "num,den",
    [(477, 800), (1, 3), (7, 32), (33, 56), (59625, 100000), (5, 2)],
)
def test_round_half_up_matches_duckdb_floor_form(spark, num, den):
    """Ties like 477/800 = 0.59625 must round identically in both engines."""
    sval = (
        spark.range(1)
        .select(round_half_up(F.lit(num) * 1.0 / F.lit(den), 4).alias("v"))
        .first()["v"]
    )
    dval = duckdb.sql(
        f"SELECT FLOOR(({num} * 1.0 / {den}) * 10000 + 0.5) / 10000 AS v"
    ).fetchone()[0]
    assert sval == dval


@pytest.mark.parametrize("s", ["abc", "hello world", "", "ｗｗｗ草", "1|shingle x y"])
def test_md5_long_matches_duckdb_hexcast(spark, s):
    sval = spark.range(1).select(md5_long(F.lit(s)).alias("v")).first()["v"]
    dval = duckdb.sql(
        f"SELECT ('0x' || substr(md5('{s}'), 1, 15))::BIGINT AS v"
    ).fetchone()[0]
    assert sval == dval


def test_safe_div_null_on_zero(spark):
    row = (
        spark.range(1)
        .select(
            safe_div(F.lit(10), F.lit(0)).alias("z"),
            safe_div(F.lit(10), F.lit(4)).alias("q"),
        )
        .first()
    )
    assert row["z"] is None
    assert row["q"] == 2.5


def test_month_str_and_bucket_utc(spark):
    # an NTZ value buckets by its own wall clock, whatever the session zone;
    # a fresh session keeps the zone off the shared fixture
    session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    row = (
        session.sql("SELECT timestamp_ntz'2024-03-31 23:59:59' AS ts")
        .select(
            month_str(F.col("ts")).alias("m"),
            time_bucket(F.col("ts"), 1800).alias("b"),
        )
        .first()
    )
    assert row["m"] == "2024-03"
    assert row["b"] == 1711929599 // 1800
