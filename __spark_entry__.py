"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query on /root/testdata/sf0.001 (smoke).
- ``queries()``: every implemented query from SURVEY.md §2 plus the
  training-data-pipeline surface (69 entries — see COVERAGE.md for the
  §2-id → query map), keyed by name, least-recently-verified first.
- ``oracle_sql()``: matching ANSI SQL for the DuckDB oracle (same column
  names/types; floats rounded identically on both sides). The 2 rows-only
  queries (channel_clustering, daily_event_rollup_approx) are
  intentionally absent here — a Python graph algorithm and a sketch.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Make the package importable when the driver runs this file from anywhere.
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from holochatstats_spark.queries import load_all_queries  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the pricing-summary scan→filter→groupBy (A2/A10)."""
    registry = load_all_queries()
    return registry["pricing_summary"].build(spark, SMOKE_SF_DIR)


def _last_recorded_round() -> dict[str, int]:
    """Map query name -> newest round whose CORRECTNESS_r<N>.json beside
    this file has a SUCCESSFUL row for it. A row with an error (other than
    the designed ``no_oracle`` rows-only marker) or a hash mismatch does not
    count, so a failing query returns to the front of the queue."""
    last: dict[str, int] = {}
    for name in os.listdir(_REPO):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)
        if not m:
            continue
        try:
            with open(os.path.join(_REPO, name)) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for q, row in rows.items():
            if isinstance(row, dict) and (
                row.get("err") not in (None, "no_oracle")
                or row.get("hash_match") is False
            ):
                continue
            last[q] = max(last.get(q, 0), int(m.group(1)))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, least-recently-verified first (ties in
    registration order). The correctness gate records only the first ~50
    entries per round, so the stalest queries go first and every query
    keeps getting fresh rows."""
    registry = load_all_queries()
    last = _last_recorded_round()
    names = sorted(registry, key=lambda n: last.get(n, 0))
    return {n: registry[n].build for n in names}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle
        for name, q in load_all_queries().items()
        if q.oracle is not None
    }
