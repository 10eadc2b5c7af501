"""Community detection on a hand-built edge list (operators/graph.py)."""

from __future__ import annotations

from holochatstats_spark.operators.graph import detect_communities


def test_detect_communities_on_hand_built_graph(spark):
    edges = spark.createDataFrame(
        [("x", "y", 1.0), ("y", "z", 1.0), ("x", "z", 1.0), ("b", "c", 1.0)],
        "src string, dst string, weight double",
    )
    # "a" has no edge: it appears only in the vertex set
    nodes = spark.createDataFrame([(n,) for n in "abcxyz"], "node string")

    rows = detect_communities(edges, nodes_df=nodes).collect()
    assert detect_communities(edges, nodes_df=nodes).collect() == rows

    community = {r["node"]: r["community"] for r in rows}
    # ids follow each community's smallest member: a < b < x
    assert community == {"a": 0, "b": 1, "c": 1, "x": 2, "y": 2, "z": 2}
    assert {r["algorithm"] for r in rows} == {"greedy_modularity"}
