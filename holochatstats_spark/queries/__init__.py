"""Query registry: every operator from SURVEY.md §2, as a named query.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an ANSI-SQL oracle string DuckDB runs on the
same parquet tables. The driver hash-compares the two at sf0.01 — so both
sides alias every computed column identically, cast aggregates to matching
types, and round floating aggregates to a fixed scale so order-of-summation
noise cannot flip the hash.

Determinism contract for every query:
- total ORDER BY with a unique tie-break key wherever LIMIT/top-k applies;
- floats rounded (2dp for money-ish sums, 6dp for unit-scale similarities);
- counts/sums-of-ints cast to BIGINT on both sides (DuckDB's SUM(int)
  yields HUGEINT otherwise).

Time-zone contract: timestamps are UTC wall-clock ``timestamp_ntz``; the
library sets no session conf. A builder is registered as is and runs on
whatever session it is handed; its month/day buckets come from NTZ values,
so they are the same under every ``spark.sql.session.timeZone``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    survey: str = ""  # SURVEY.md §2 operator ids this query exercises
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    survey: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator registering a query builder under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(
            name=name,
            build=fn,
            oracle=oracle,
            survey=survey,
            doc=(fn.__doc__ or "").strip(),
            tags=tuple(tags),
        )
        return fn

    return deco


def load_all_queries() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY), returning
    the registry in registration order."""
    from holochatstats_spark.queries import (  # noqa: F401
        chat_pipeline,
        forecast,
        multimodal,
        neardup,
        overlap,
        relational,
        similarity,
        temporal,
        textops,
        vector,
    )

    return dict(REGISTRY)
