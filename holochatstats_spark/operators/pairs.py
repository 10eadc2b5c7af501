"""Size-guarded all-pairs generation within LSH buckets (VERDICT r21 item 1).

Why: r21 collected every (bucket key) group into ONE ``collect_list`` row and
double-exploded it. That made the signature lineage single-pass (the fix for
r20's 2-4x UDF recompute), but a hot bucket — a giant near-duplicate cluster —
then materializes the entire bucket in a single aggregation buffer / a single
row (2 GB UnsafeRow array cap), and the O(m^2) explode runs inside ONE task
that nothing can split: AQE skew handling applies to join shuffles, not to
aggregations (guide §2.5), so at 100 TB one degenerate cluster is an
OOM/straggler with no runtime mitigation.

Shape of the guard: members are chunked by ``pmod(xxhash64(id), n_chunks)``
BEFORE the aggregation, so no buffer or row ever holds more than one chunk of
a bucket, and pairs come from ONE equi-self-join on the bucket key with the
non-equi ``chunk_a <= chunk_b`` predicate:

- the aggregation is keyed (bucket, chunk): a hot bucket's collect_list work
  spreads over up to ``n_chunks`` tasks and every member array is ~m/K;
- the join shuffle is keyed on the bucket alone, so AQE skew-join splitting
  can carve a hot bucket's partition into slices (guide §2.5 — it CAN split
  a single enormous key's partition for a sort-merge join); when the planner
  instead broadcasts the (small) chunked frame, the probe side keeps the
  aggregation's (bucket, chunk) partitioning and the pair work is spread
  across chunk rows without any shuffle at all. Either way per-task pair
  generation is bounded by ~m^2/n_chunks instead of m^2.

Single-lineage is preserved: both join sides are the SAME aggregated frame,
and the shuffle stage is reused at runtime — the signature UDF still executes
exactly once (tests/test_pairs.py counts its rows with an accumulator;
tests/test_plans.py pins one ArrowEvalPython node and one FileScan in the
executed plan).

Pair-set equivalence with the unchunked double-explode (what the DuckDB
oracle checks): for distinct members x, y of one bucket with chunks cx <= cy,
- cx == cy: only the (c, c) join row holds both; the explode enumerates both
  orientations and the id-ordered filter keeps exactly one;
- cx < cy: only the (cx, cy) join row exists (cy, cx is excluded by the
  chunk_a <= chunk_b predicate) and yields the pair exactly once — x on the
  a-side, y on the b-side — in whichever id order, normalized on output.
Every within-bucket pair therefore appears exactly once per bucket, ordered
(a.id < b.id); duplicates ACROSS buckets remain and are deduplicated
downstream exactly as before.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Chunks per bucket: per-task pair work is ~m^2/K for a hot bucket of m
#: members. 32 bounds a worst-case cluster 32x at the cost of at most 32
#: aggregation groups per bucket (tiny buckets occupy min(m, K) chunks, so
#: the common case is unchanged). The guard's correctness does not depend
#: on the value.
BUCKET_CHUNKS = 32


def bucket_pairs(
    bands: DataFrame,
    key_cols: list[str],
    member_col: str = "m",
    id_field: str = "doc_id",
    n_chunks: int = BUCKET_CHUNKS,
) -> DataFrame:
    """All unordered within-bucket member pairs, hot-bucket-guarded.

    ``bands``: one row per (bucket key..., member struct). Returns one row
    per within-bucket pair with columns ``a``/``b`` (the member structs,
    ``a.<id_field> < b.<id_field>``); pairs occurring in several buckets
    appear once per bucket, as with the plain double-explode.
    """
    chunked = (
        bands.withColumn(
            "_chunk", F.expr(f"CAST(pmod(xxhash64({member_col}.{id_field}), {n_chunks}) AS INT)")
        )
        .groupBy(*key_cols, "_chunk")
        .agg(F.expr(f"collect_list({member_col}) AS _ms"))
    )
    # Null-safe equality on the bucket keys, deliberately: a plain `=` makes
    # the inner join infer `isnotnull(key)` filters, and because the keys
    # derive from the signature UDF those filters push below the aggregation
    # and DUPLICATE the UDF evaluation per join side (guide §4.4 — the exact
    # r20 4x-ArrowEvalPython bug class). Bucket keys are never null by
    # construction (band indexes from posexplode, band values from bit ops /
    # concat_ws over non-null inputs), so `<=>` is result-identical to `=`.
    cond = " AND ".join([f"_pa.{c} <=> _pb.{c}" for c in key_cols] + ["_pa._chunk <= _pb._chunk"])
    joined = (
        # Force a shuffle join (guide §3.1, deliberately): the chunked frame
        # has per-bucket cardinality, so broadcasting it is the r20
        # unbroadcastable-at-scale mistake — and a BroadcastHashJoin also
        # computes the lineage once per side (BroadcastExchange never reuses
        # the probe side's shuffle stage), re-running the signature UDF. A
        # sort-merge self-join gives two IDENTICAL shuffle subtrees that AQE
        # reuses at runtime (one lineage pass) and whose skewed partitions
        # AQE can split (guide §2.5).
        chunked.alias("_pa")
        .hint("shuffle_merge")
        .join(chunked.alias("_pb"), F.expr(cond))
        .selectExpr("_pa._chunk AS _ca", "_pb._chunk AS _cb", "_pa._ms AS _msa", "_pb._ms AS _msb")
        # a same-chunk singleton can only pair with itself — drop before
        # exploding (the common case: most buckets have one member)
        .where("_ca != _cb OR size(_msa) >= 2")
    )
    pairs = joined.selectExpr("_ca", "_cb", "_msb", "explode(_msa) AS _x").selectExpr(
        "_ca", "_cb", "_x", "explode(_msb) AS _y"
    )
    lt = f"_x.{id_field} < _y.{id_field}"
    return pairs.where(f"_ca < _cb OR {lt}").selectExpr(
        f"CASE WHEN {lt} THEN _x ELSE _y END AS a", f"CASE WHEN {lt} THEN _y ELSE _x END AS b"
    )
