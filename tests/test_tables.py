"""Table loader: declared schemas, no Spark job to build a read, schema
drift failing fast from the footer, no side effects on the session it is
handed, and the timestamp type the query semantics (UTC-pinned date
bucketing) rely on."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from __spark_entry__ import SMOKE_SF_DIR as SF
from holochatstats_spark.tables import SCHEMAS, SchemaDriftError, load_table


def _fresh_copy(tmp_path, *tables: str) -> str:
    """``tables`` copied to a new directory, so the footer check of this
    process has not seen their paths yet."""
    for t in tables:
        shutil.copyfile(f"{SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    return str(tmp_path)


def test_load_table_leaves_session_conf_untouched(spark, tmp_path):
    # a fresh SQL conf, so settings earlier tests made cannot mask a write;
    # a fresh path, so the footer drift check runs inside the probe
    session = spark.newSession()
    before = session.conf.getAll
    load_table(session, _fresh_copy(tmp_path, "events"), "events")
    assert session.conf.getAll == before


def test_load_table_launches_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    sf = _fresh_copy(tmp_path, "events", "embeddings")
    group = "test_tables:load_table"
    sc.setJobGroup(group, "load_table must not launch a job")
    try:
        for name in ("events", "embeddings", "events"):  # first and repeated calls
            load_table(spark, sf, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_declared_schema_reads_as_the_inferred_schema(spark):
    for name in SCHEMAS:
        inferred = spark.read.parquet(f"{SF}/{name}.parquet").schema
        assert load_table(spark, SF, name).schema == inferred, name


def _write_region(tmp_path, table: pa.Table) -> str:
    pq.write_table(table, tmp_path / "region.parquet")
    return str(tmp_path)


def test_renamed_column_fails_with_table_column_and_types(spark, tmp_path):
    sf = _write_region(
        tmp_path,
        pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_title": ["AFRICA"]}),
    )
    with pytest.raises(SchemaDriftError) as err:
        load_table(spark, sf, "region")
    msg = str(err.value)
    assert "'region'" in msg
    assert "column 'r_name' declared string, found absent" in msg
    assert "column 'r_title' declared absent, found string" in msg


def test_changed_column_type_fails_with_table_column_and_types(spark, tmp_path):
    sf = _write_region(
        tmp_path,
        pa.table({"r_regionkey": pa.array([0], pa.int64()), "r_name": ["AFRICA"]}),
    )
    with pytest.raises(SchemaDriftError) as err:
        load_table(spark, sf, "region")
    msg = str(err.value)
    assert "'region'" in msg
    assert "column 'r_regionkey' declared int, found bigint" in msg
    assert "r_name" not in msg


def test_timestamp_columns_read_as_timestamp_ntz(spark):
    for table, col in (
        ("events", "ts"),
        ("orders", "o_orderdate"),
        ("lineitem", "l_shipdate"),
    ):
        dtypes = dict(load_table(spark, SF, table).dtypes)
        assert dtypes[col] == "timestamp_ntz", f"{table}.{col}: {dtypes[col]}"
