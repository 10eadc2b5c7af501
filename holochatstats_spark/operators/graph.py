"""V4 — community detection over the similarity graph (reference
api.py:478-487: igraph + leidenalg RBConfigurationVertexPartition,
resolution 1.0, over a ≤ ~80-node channel graph).

There is no Spark primitive for Leiden, and none is needed: everything up
to the EDGE LIST is distributed (V1 similarity self-join + V3 percentile
threshold), and the edge list itself is bounded by #channels² regardless
of message volume — at 100 TB it is still ~80×80. So the SURVEY §2.9 plan
applies: collect the tiny edge list to the driver and run the graph
algorithm there, keeping Spark for all data-sized work.

Algorithm: networkx greedy modularity communities (deterministic: no RNG
in the greedy agglomeration; nodes pre-sorted). The reference's
igraph + leidenalg is not a dependency.

The query layer registers this rows-only (no DuckDB oracle): community
detection output is algorithm-dependent by nature (SURVEY §5 fences V4
from the hash gate).
"""

from __future__ import annotations

import networkx as nx
from pyspark.sql import DataFrame


def _greedy_modularity(nodes: list[str], edges: list[tuple[str, str, float]]):
    g = nx.Graph()
    g.add_nodes_from(sorted(nodes))
    g.add_weighted_edges_from(sorted(edges))
    comms = nx.community.greedy_modularity_communities(g, weight="weight")
    mapping = {}
    # deterministic community ids: order communities by smallest member
    for ci, comm in enumerate(sorted(comms, key=lambda c: sorted(c)[0])):
        for n in sorted(comm):
            mapping[n] = ci
    return mapping, "greedy_modularity"


def detect_communities(
    edge_df: DataFrame,
    nodes_df: DataFrame | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Collect the (tiny, channel²-bounded) edge list and partition it on
    the driver; returns (node, community, algorithm).

    ``nodes_df`` (single column of node ids) supplies the FULL vertex set:
    a channel whose every similarity fell below the edge threshold has no
    edge but must still appear as a singleton community — the reference
    adds all vertices to the graph before partitioning (api.py:478-487).
    A NULL id is not a node: it and its edges are left out.
    """
    rows = edge_df.select(src_col, dst_col, weight_col).collect()
    edges = [
        (r[src_col], r[dst_col], float(r[weight_col]))
        for r in rows
        if r[src_col] is not None and r[dst_col] is not None
    ]
    nodes = {n for a, b, _ in edges for n in (a, b)}
    if nodes_df is not None:
        nodes |= {r[0] for r in nodes_df.collect() if r[0] is not None}
    nodes = sorted(nodes)
    mapping, name = _greedy_modularity(nodes, edges)
    spark = edge_df.sparkSession
    return spark.createDataFrame(
        sorted((n, c, name) for n, c in mapping.items()),
        "node string, community int, algorithm string",
    )
