"""Every registered query hash-matches its DuckDB oracle at sf0.001.

This is the same comparison the driver runs at sf0.01 (tools/check_oracle.py
runs that scale); the smoke scale keeps the suite fast. The per-user
type-set queries are also compared on a copy with NULL event types, and
the rows-only channel_clustering runs on it (a NULL type is not a node).
"""

from __future__ import annotations

import pytest

from holochatstats_spark.queries import load_all_queries
from holochatstats_spark.testing import compare_query, duck_connection
from tests.conftest import SF_SMOKE, sf_copy

REGISTRY = load_all_queries()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    problems = compare_query(spark, duck, q, SF_SMOKE)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.fixture(scope="module")
def null_type_sf(tmp_path_factory):
    """sf0.001 with every 50th event's event_type set to NULL."""
    return sf_copy(
        tmp_path_factory.mktemp("sf_null_type"),
        "events",
        "SELECT * REPLACE (CASE WHEN event_id % 50 = 0 THEN NULL ELSE event_type END"
        " AS event_type) FROM src",
    )


@pytest.mark.parametrize("name", ["channel_clustering", "exclusive_users", "overlap_matrix"])
def test_null_event_type_matches_oracle(spark, null_type_sf, name):
    problems = compare_query(spark, duck_connection(null_type_sf), REGISTRY[name], null_type_sf)
    assert not problems, f"{name}: " + "; ".join(problems)
