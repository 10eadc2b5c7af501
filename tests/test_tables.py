"""Table loader: no side effects on the session it is handed, and the
timestamp type the query semantics (UTC-pinned date bucketing) rely on."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF
from holochatstats_spark.tables import load_table


def test_load_table_leaves_session_conf_untouched(spark):
    # a fresh SQL conf, so settings earlier tests made cannot mask a write
    session = spark.newSession()
    before = session.conf.getAll
    load_table(session, SF, "events")
    assert session.conf.getAll == before


def test_timestamp_columns_read_as_timestamp_ntz(spark):
    for table, col in (
        ("events", "ts"),
        ("orders", "o_orderdate"),
        ("lineitem", "l_shipdate"),
    ):
        dtypes = dict(load_table(spark, SF, table).dtypes)
        assert dtypes[col] == "timestamp_ntz", f"{table}.{col}: {dtypes[col]}"
