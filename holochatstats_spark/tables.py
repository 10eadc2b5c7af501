"""Table loaders for the driver-generated parquet testdata.

Explicit-schema philosophy mirrors the reference's fixed DDL
(reference: data_ingestion/db/queries.py:18-100) — schemas are declared,
never inferred at query time. Parquet already carries the schema; the
constants here document the contract and let tests assert drift.

At 100 TB the fact tables (lineitem/events/documents) would be
month-partitioned (events) or date-partitioned (lineitem) parquet/Delta;
loaders keep the single-directory layout the driver provides but all query
code filters on the partition-able columns so partition pruning engages
unchanged on a partitioned layout.

The timestamp columns (events.ts, orders.o_orderdate, lineitem.l_shipdate)
are parquet TIMESTAMP(MICROS) without UTC adjustment, which Spark reads as
``timestamp_ntz`` — the same naive wall-clock values DuckDB sees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
