"""Hot-bucket-guarded pair generation (operators/pairs.py, VERDICT r21
item 1): pair-set equivalence with the naive double-explode, a planted
mega-bucket that must complete with bounded per-row/per-buffer size on the
guarded plan (read from the executed plan's records), and the
single-lineage guarantee: the signature UDF evaluates each input row
exactly once at runtime, counted with an accumulator (a plan count shows
the node once, not how many rows it evaluated)."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from holochatstats_spark.operators.pairs import bucket_pairs
from holochatstats_spark.plans.walker import walk_final_plan


def _naive_pairs(rows):
    """Reference: per-bucket all unordered pairs, one row per bucket hit."""
    from collections import defaultdict
    from itertools import combinations

    buckets = defaultdict(list)
    for key, doc in rows:
        buckets[key].append(doc)
    out = []
    for members in buckets.values():
        for a, b in combinations(sorted(members), 2):
            out.append((a, b))
    return sorted(out)


def test_bucket_pairs_matches_naive_double_explode(spark):
    # deterministic pseudo-random bucket assignment, incl. docs in many
    # buckets and pairs duplicated across buckets
    # two bands per doc (like production: a doc appears at most once per
    # (band, value) bucket), pairs duplicated across bands included
    df = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.posexplode(
            F.array(
                (F.col("id") * 7 % 23),
                (F.col("id") * 13 % 23),
            )
        ).alias("band", "bkey"),
    )
    bands = df.select(F.struct("doc_id").alias("m"), "band", "bkey")
    got = sorted(
        (r["a"], r["b"])
        for r in bucket_pairs(bands, ["band", "bkey"], "m", "doc_id")
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .collect()
    )
    rows = [((r["band"], r["bkey"]), r["doc_id"]) for r in df.collect()]
    assert got == _naive_pairs(rows)
    assert all(a < b for a, b in got)


def test_mega_bucket_completes_with_bounded_chunks(spark):
    # one degenerate bucket with 2000 members — the r21 unchunked
    # collect_list would put all 2000 in ONE aggregation buffer and emit
    # all ~2M pairs from ONE task's row; the guard must (a) complete,
    # (b) produce exactly C(2000,2) pairs, (c) bound every member array
    # at one chunk of the bucket.
    n, k = 2000, 8
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    # single bucket, but through non-foldable key COLUMNS (production keys
    # are attributes; literal keys would constant-fold and leave the join
    # with no equi keys)
    bands = df.select(
        F.struct("doc_id").alias("m"),
        (F.col("doc_id") % 1).alias("band"),
        (F.col("doc_id") % 1 + 1).alias("bkey"),
    )
    pairs = bucket_pairs(bands, ["band", "bkey"], "m", "doc_id", n_chunks=k)
    total = pairs.agg(F.count("*").alias("n"))
    assert total.collect()[0]["n"] == n * (n - 1) // 2
    # the guard's internal invariant, recomputed independently: no chunk of
    # the bucket exceeds what pmod(xxhash64) assigns it (≪ the full bucket)
    chunk_sizes = (
        df.groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(k)).alias("c"))
        .count()
        .collect()
    )
    assert max(r["count"] for r in chunk_sizes) < n
    assert len(chunk_sizes) == k
    # and the plan that ran really is the guarded shape: chunked agg +
    # non-broadcast pair join (broadcast would defeat stage reuse and be
    # unbroadcastable at scale)
    nodes = walk_final_plan(total)
    assert any("_chunk" in n.get("grouping_keys", ()) for n in nodes)
    assert "SortMergeJoin" in [n["name"] for n in nodes]


def test_bucket_pairs_single_lineage_at_runtime(spark):
    # Both self-join sides are one lineage; AQE stage reuse must collapse
    # it to ONE execution at runtime. This is the
    # property r21 bought (1.63x on simhash) and the guard must not give
    # back: count actual UDF rows with an accumulator. Requires the
    # null-safe join keys in bucket_pairs — plain `=` makes the join infer
    # isnotnull(key) filters that push below the aggregation and duplicate
    # the UDF per side (guide §4.4, the r20 4x bug class).
    sc = spark.sparkContext
    acc = sc.accumulator(0)

    @F.pandas_udf("long")
    def sig(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s % 97

    n = 5000
    bands = spark.range(n).select(
        F.struct(F.col("id").alias("doc_id")).alias("m"),
        F.lit(0).alias("band"),
        sig("id").alias("bkey"),
    )
    out = bucket_pairs(bands, ["band", "bkey"], "m", "doc_id").select(
        F.col("a.doc_id"), F.col("b.doc_id")
    )
    out.write.format("noop").mode("overwrite").save()
    assert acc.value == n, (
        f"signature UDF evaluated {acc.value} rows for {n} inputs — "
        "stage reuse regressed (expected exactly one evaluation)"
    )
