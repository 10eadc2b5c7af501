"""Driver-contract smoke tests: entry(), queries(), oracle_sql()."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns  # stable, non-empty schema


def test_queries_and_oracles_align():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "no queries registered"
    # every oracle key must be a declared query
    assert set(oracles) <= set(qs)
    # every query is either oracle-checked or deliberately rows-only
    from holochatstats_spark.queries import load_all_queries

    registry = load_all_queries()
    rows_only = {n for n, q in registry.items() if q.oracle is None}
    assert set(qs) == set(oracles) | rows_only
    assert rows_only == {"channel_clustering", "daily_event_rollup_approx"}


def test_registry_metadata():
    from holochatstats_spark.queries import load_all_queries

    for name, q in load_all_queries().items():
        assert q.survey, f"{name} missing SURVEY §2 operator reference"


def test_gate_order_is_least_recently_recorded():
    """The correctness gate records the first ~50 queries() entries per
    round, so queries() must be ordered least-recently-verified first: every
    query's last-recorded round (from CORRECTNESS_r*.json) must be
    non-decreasing across the returned ordering. The library registry
    itself stays in registration order."""
    from holochatstats_spark.queries import REGISTRY, load_all_queries

    assert list(load_all_queries()) == list(REGISTRY)
    names = list(entrymod.queries())
    assert sorted(names) == sorted(REGISTRY)
    last = entrymod._last_recorded_round()
    rounds = [last.get(n, 0) for n in names]
    assert rounds == sorted(rounds), "queries() not sorted by staleness"
