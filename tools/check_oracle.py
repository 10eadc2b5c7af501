"""Local replica of the driver's correctness gate.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from holochatstats_spark.queries import load_all_queries
from holochatstats_spark.session import get_spark
from holochatstats_spark.testing import compare_query, duck_connection


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    registry = load_all_queries()
    unknown = only - set(registry)
    if unknown:
        sys.exit(
            f"unknown query name(s): {sorted(unknown)}; "
            f"known: {sorted(registry)}"
        )
    spark = get_spark("oracle-check")
    con = duck_connection(sf_dir)

    n_pass = n_fail = n_skip = 0
    for name, q in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            problems = compare_query(spark, con, q, sf_dir)
        except Exception as e:  # either engine errored
            print(f"FAIL {name}: error: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if q.oracle is None:
            print(f"SKIP {name}: rows-only ({dt:.1f}s)")
            n_skip += 1
        elif problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({dt:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
