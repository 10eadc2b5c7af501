"""Scalar expression builders shared across the query library.

These are the Spark-native re-expressions of the reference's scalar
function layer (SURVEY.md §2.3): month bucketing (F6), safe division and
rounding (F9, reference web/api.py:1390-1394), log-dampened normalization
(F10, web/api.py:1048-1051), epoch bucket math (A11,
utils/feature_analysis.py:30-45). All compile to native Catalyst
expressions — no Python UDFs — so they stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_str(s: str) -> str:
    """``s`` as a SQL string literal that Spark and DuckDB read alike
    (quotes doubled). A backslash is refused: Spark SQL unescapes it unless
    ``spark.sql.parser.escapedStringLiterals`` is set, DuckDB never does,
    so such a literal stays a Column literal."""
    if "\\" in s:
        raise ValueError(f"backslash in a SQL-text literal: {s!r}")
    return "'" + s.replace("'", "''") + "'"


def month_str(ts: Column) -> Column:
    """F6: month bucket as a sortable 'yyyy-MM' string. Timestamps are UTC
    wall-clock ``timestamp_ntz``; the library sets no session conf. The
    bucket of an NTZ ``ts`` is its own wall-clock month, under any session
    time zone."""
    return F.date_format(ts, "yyyy-MM")


def day_str(ts: Column) -> Column:
    """Day bucket as 'yyyy-MM-dd' (events span one month; day is the grain)."""
    return F.date_format(ts, "yyyy-MM-dd")


def safe_div(num: Column, den: Column) -> Column:
    """F9: NULL-safe division, ``x / NULLIF(y, 0)`` semantics."""
    return num / F.nullif(den.cast("double"), F.lit(0.0))


def round2(c: Column) -> Column:
    """F9: the reference's ubiquitous ROUND(x::DECIMAL, 2)."""
    return F.round(c.cast("double"), 2)


def round_half_up(c: Column, scale: int) -> Column:
    """Engine-portable ROUND: floor(x*10^k + 0.5)/10^k.

    Spark's ROUND and DuckDB's ROUND disagree on exact .5 ties (half-up vs
    half-even paths); ratios of small integers (percentages, jaccard) land
    on exact ties often enough to flip a hash. Both engines evaluate this
    floor form bit-identically on identical doubles. Oracle SQL twin:
    FLOOR(x * 10^k + 0.5) / 10^k.
    """
    p = 10**scale
    return F.floor(c.cast("double") * p + F.lit(0.5)) / p


def round_half_up_sql(expr: str, scale: int) -> str:
    """:func:`round_half_up` over a SQL-text expression, as SQL text that
    Spark and DuckDB read alike (``5e-1`` is a DOUBLE in both; a bare
    ``0.5`` is a DECIMAL in Spark, and ``0.5D`` is Spark-only)."""
    p = 10**scale
    return f"FLOOR(CAST({expr} AS DOUBLE) * {p} + 5e-1) / {p}"


def pct_round(num: Column, den: Column, scale: int = 2) -> Column:
    """Percent-of-total with the reference's rounding (A8)."""
    return round_half_up(safe_div(num.cast("double") * 100.0, den), scale)


def log_dampen(raw: Column, ideal: Column) -> Column:
    """F10: log1p(raw/ideal*100)/log1p(100)*100 (reference api.py:1048-1051)."""
    return F.log1p(safe_div(raw * 100.0, ideal)) / F.log1p(F.lit(100.0)) * 100.0


def time_bucket(ts: Column, seconds: int) -> Column:
    """A11/A12: tumbling bucket index = floor(epoch_seconds / width)."""
    return F.floor(F.unix_timestamp(ts) / F.lit(seconds)).cast("bigint")


def md5_long(c: Column, salt: str = "") -> Column:
    """Portable 60-bit hash: int(md5(salt||x)[:15], 16).

    Exists identically in DuckDB as ``('0x' || substr(md5(salt||x), 1, 15))
    ::BIGINT`` — the shared primitive under MinHash/SimHash so Spark and the
    oracle compute byte-identical signatures.
    """
    salted = F.concat(F.lit(salt), c) if salt else c
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("bigint")
