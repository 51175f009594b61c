"""Fixed-iteration PageRank as pure DataFrame algebra.

The iterative companion to connected components (functions/graph.py):
where CC contracts an edge set to a fixed point, PageRank re-weights a
FIXED edge set k times — so the loop needs no convergence certificate,
no collect, and the whole k-sweep computation stays ONE lazy plan
(k unrolled join+agg stages) that Catalyst/AQE schedules end-to-end.

Per sweep: the node-sized out-weight table (ranks ⋈ outdeg) is joined
onto the edge list (ONE edge-sized shuffle keyed on src), then
contributions aggregate per dst (shuffle keyed on dst) and the damping
term re-seeds mass. Both shuffles are keyed on node ids — hash-uniform
unless the graph itself is skewed, in which case AQE's skew-join split
applies. The edge set and degree table are lazily localCheckpoint'ed
so their upstream lineage (a distinct over a fact scan, in the
registered query) runs once, not once per sweep — measured at sf0.1:
5.9 s → 4.0 s for 3 sweeps, the remainder being per-sweep stage
scheduling, the same profile as the CC loop in functions/graph.py.
The oracle unrolls the identical three steps as SQL CTEs.

Dangling nodes (outdeg 0) are impossible for callers that build the
edge set symmetrically (every node that appears has both directions),
which is the registered usage; the helper asserts nothing about them
and documents the contract instead of silently redistributing mass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dataextractor_spark.pins import pin


def pagerank(
    edges: DataFrame, *, iterations: int = 3, damping: float = 0.85
) -> DataFrame:
    """Rank nodes of a directed graph given as (src, dst) rows.

    Returns (node, rank) for every node with at least one out-edge,
    after ``iterations`` synchronous sweeps from the uniform start.
    Rank mass sums to 1 when the graph has no dangling nodes (see
    module docstring). The edge set is evaluated lazily and appears
    ``iterations`` times in the plan; callers with large k should
    persist it first.
    """
    # The edge set appears in every sweep and deg twice per sweep; a
    # lazy localCheckpoint computes each ONCE and replays the cached
    # partitions thereafter (same pattern as functions/graph.py's CC
    # rounds — reliable checkpoint dir on a real cluster). Without it
    # the upstream lineage (e.g. a distinct over a fact scan) re-runs
    # ~3× per sweep.
    edges = pin(edges)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).transform(pin)
    n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    # uniform start over the node set (= src set: symmetric callers)
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n_nodes")).alias("r")
    )
    for _ in range(iterations):
        # out-weight per node is a NODE-sized join (ranks ⋈ deg); only
        # the result touches the edge set, so each sweep pays one
        # edge-sized shuffle join instead of two
        weights = ranks.join(deg, ranks.node == deg.src).select(
            "node", (F.col("r") / F.col("outdeg")).alias("w")
        )
        contrib = edges.join(weights, edges.src == weights.node).select(
            F.col("dst").alias("node"), F.col("w").alias("c")
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n_nodes")
                    + damping * F.col("in_mass")
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank"))
