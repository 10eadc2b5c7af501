"""Plan-shape regression tests: the physical properties that make these
queries scale must survive refactors — results staying correct is not
enough (VERDICT r1 graded exactly these properties by hand).

Each pinned query is built and collected once; the tests assert on the
records of the plan that ran (``holochatstats_spark.plans.walker``), where a
reused stage counts once. Every pin also checks that its scans read rows: a
query whose result AQE proves empty runs an ``EmptyRelation`` plan with no
scans, on which a cap passes trivially."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from benchmark import tracing
from holochatstats_spark.plans.walker import (
    plan_counts,
    unbounded_single_partition,
    walk_final_plan,
)
from holochatstats_spark.queries import load_all_queries
from tests.conftest import SF_SMOKE

# recommend_topk returns no row at sf0.001, so it is pinned at sf0.01
SF_OF = {"recommend_topk": os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")}

# FileScan caps: the input table(s) appear in the executed plan a bounded
# number of times (r20 recomputed these lineages 3-6x: tfidf_lang_similarity
# had 24 FileScan nodes, minhash 4, overlap 3)
MAX_SCANS = {
    "minhash_lsh_pairs": 1,
    "simhash_neardup_pairs": 1,
    "embedding_neardup_lsh": 2,  # signature lineage + the exact-cosine verify side
    "ngram_jaccard_pairs": 1,
    "doc_token_stats": 1,
    "type_cosine_similarity": 1,
    "overlap_matrix": 1,
    "tfidf_lang_similarity": 2,  # terms lineage + the n_docs scalar
    "recommend_topk": 1,
    "a1_user_data": 1,
    # one conditional aggregate replaces the g/l (resp. exclusives/totals)
    # re-aggregation of the same lineage
    "membership_changes": 2,
    "exclusive_group_users": 2,
    # per-video stats ride the bucket rows as (channel, video) window
    # columns — the vids re-aggregate + join-back (a 3rd scan of the msgs
    # lineage) must not return
    "velocity_bursts_exact": 2,
    "funniest_timestamps": 2,
    "highlight_windows": 2,
    # one collect_set membership pass replaces two events lineages + a join
    "exclusive_users": 1,
}
BROADCAST_JOINS = ("shipping_priority", "chat_leaderboard", "recommend_topk")
NATIVE = (
    "multimodal_features",
    "doc_token_stats",
    "minhash_lsh_pairs",
    "message_classification",
    "ml_forecast",
)
LSH_UDF = ("simhash_neardup_pairs", "embedding_neardup_lsh")
PINNED = sorted({*MAX_SCANS, *BROADCAST_JOINS, *NATIVE, *LSH_UDF, "price_percentiles"})


@pytest.fixture(scope="module")
def executed(spark):
    """name -> (collected DataFrame, walked records) for every pinned query."""
    registry = load_all_queries()
    out = {}
    for name in PINNED:
        df = registry[name].build(spark, SF_OF.get(name, SF_SMOKE))
        df.collect()
        out[name] = (df, walk_final_plan(df))
    return out


def _nodes(executed, name):
    nodes = executed[name][1]
    assert plan_counts(nodes)["rows_scanned"] > 0, f"{name}: its scans read no rows"
    return nodes


def _names(nodes):
    return [n["name"] for n in nodes]


def test_a1_aggregate_is_fully_distributed(executed):
    nodes = _nodes(executed, "a1_user_data")
    assert unbounded_single_partition(nodes) == 0
    assert plan_counts(nodes)["python_eval_nodes"] == 0  # classification is native regex


def test_fact_dim_joins_broadcast(executed):
    for name in BROADCAST_JOINS:
        names = _names(_nodes(executed, name))
        assert "BroadcastExchange" in names, f"{name} lost its broadcast join"


def test_percentiles_have_no_global_sort_funnel(executed):
    # the r1 regression this guards: a global unpartitioned row_number
    # forced the whole table into one partition
    assert unbounded_single_partition(_nodes(executed, "price_percentiles")) == 0


def test_global_window_counts_as_unbounded_single_partition(spark):
    # negative control for the rule above: a global window funnels every
    # row through one SinglePartition shuffle
    df = spark.range(1000).withColumn("rn", F.row_number().over(Window.orderBy("id")))
    df.collect()
    assert unbounded_single_partition(walk_final_plan(df)) == 1


def test_native_query_paths_have_no_python_stage(executed):
    # multimodal feature extraction is fully native (guide §4.1) — the
    # mapInPandas stage only computed length/md5/modulo expressions, so ANY
    # Python node reappearing here is a regression. ml_forecast's ridge
    # AR(3) is SQL text, not a grouped-map (FlatMapGroupsInPandas) stage.
    for name in NATIVE:
        n = plan_counts(_nodes(executed, name))["python_eval_nodes"]
        assert n == 0, f"{name} gained {n} Python eval node(s)"


def test_lsh_uses_arrow_batched_udf(executed):
    # the signature matmul is deliberately a pandas_udf (ArrowEval), never
    # a row-at-a-time Python UDF (BatchEvalPython)
    for name in LSH_UDF:
        assert "BatchEvalPython" not in _names(_nodes(executed, name)), name


def test_lsh_signature_udf_evaluated_once_per_side(executed):
    # The hot-bucket guard (operators/pairs.py) is a sort-merge self-join of
    # ONE aggregated frame: AQE reuses the identical shuffle stage, so the
    # signature udf runs once. The join stays sort-merge (never broadcast —
    # guide §3.1: the chunked frame is unbroadcastable at scale, and a
    # broadcast build side defeats the stage reuse).
    for name in LSH_UDF:
        names = _names(_nodes(executed, name))
        n = names.count("ArrowEvalPython")
        assert n == 1, f"{name}: expected 1 ArrowEvalPython, found {n}"
        assert "SortMergeJoin" in names, f"{name}: pair join must be SMJ"


def test_rewritten_queries_scan_input_once(executed):
    for name, cap in MAX_SCANS.items():
        n = plan_counts(_nodes(executed, name))["file_scans"]
        assert n <= cap, f"{name}: {n} FileScans (cap {cap})"


def test_library_walker_counts_match_benchmark_walker(executed):
    # the benchmark keeps its own walker until it imports this one; both
    # must report the same counts, so the switch moves no per-layer metric
    for name, (df, nodes) in executed.items():
        assert plan_counts(nodes) == tracing.plan_counts(tracing.walk_final_plan(df)), name
