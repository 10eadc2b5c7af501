from __future__ import annotations

import os
import shutil
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


def sf_copy(d, table: str, select: str) -> str:
    """sf0.001 copied to ``d``, ``table`` rewritten by DuckDB from ``select``
    (which reads the original as ``src``)."""
    from holochatstats_spark.tables import TABLES

    for t in TABLES:
        if t != table:
            shutil.copy(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"COPY (WITH src AS (SELECT * FROM '{SF_SMOKE}/{table}.parquet') {select})"
        f" TO '{d}/{table}.parquet' (FORMAT PARQUET)"
    )
    return str(d)


@pytest.fixture(scope="session")
def spark():
    from holochatstats_spark.session import get_spark

    s = get_spark("holochatstats-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    from holochatstats_spark.testing import duck_connection

    return duck_connection(SF_SMOKE)
