"""Distributed connected components: the two-phase large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14).

Why not min-label propagation: label flooding needs rounds equal to
the graph DIAMETER — an adversarial 10k-node chain takes 10k rounds.
Large-star/small-star contracts paths by pointing every node at the
minimum of its neighborhood each round, converging in O(log² n) rounds
worst-case (a handful in practice) with the same primitives a Spark
cluster is good at: one groupBy-min and one join per phase, edges only
— no vertex state, no driver-side graph.

Phases, on the canonical edge set (src > dst, no self-loops, distinct):

- LARGE-STAR: for each node u with full neighborhood N(u), connect
  every LARGER neighbor v > u to m = min(N(u) ∪ {u}). Long chains of
  descending ids collapse toward the minimum multiplicatively.
- SMALL-STAR: for each node u with smaller-neighbor set S(u), connect
  every v ∈ S(u) and u itself to m = min(S(u)). Flattens the partial
  trees into stars.

Fixed point: every component is a star centered at its minimum node.
Convergence is detected with a scalar certificate (count + id sums +
an order-insensitive edge hash), one cheap aggregate per round — no
edge-set diff join, no data collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dataextractor_spark.pins import pin


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (src > dst) rows, self-loops dropped,
    duplicates merged."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _certificate(edges: DataFrame) -> tuple:
    # bit_xor (not sum) folds the 64-bit edge hashes: order-insensitive
    # like sum, but closed over int64 — summing raw xxhash64 values
    # overflows under ANSI mode (Spark 4 default).
    row = edges.agg(
        F.count(F.lit(1)),
        F.sum("src"),
        F.sum("dst"),
        F.bit_xor(F.xxhash64("src", "dst")),
    ).collect()[0]
    return tuple(row)


def connected_components(
    edges: DataFrame, *, max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """Label every node appearing in ``edges`` (columns src, dst; any
    orientation) with the minimum node id of its component.

    Returns ``(labels, rounds)`` where labels has columns
    (node, component) and rounds is the number of large+small phases
    executed — O(log² n) by construction, asserted in tests on a
    10k-node chain. Nodes with no edges don't appear; callers union
    singletons with self-labels.

    Each round shuffles edges twice (groupBy min + join per phase) and
    truncates lineage with localCheckpoint (reliable checkpoint dir on
    a real cluster). Edge count is non-increasing after the first
    round, so per-round cost shrinks as components contract.
    """
    # lazy checkpoint: materialization happens inside the certificate
    # collect that immediately follows — one job per round instead of
    # two (eager checkpoint + collect), which halves the scheduling
    # overhead that dominates small/shrinking edge sets
    e = pin(_canonical(edges))
    prev = _certificate(e)
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # LARGE-STAR over the full (bidirectional) neighborhood
        nbrs = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            nbrs.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", "src").alias("m"))
        )
        large = (
            nbrs.filter(F.col("dst") > F.col("src"))
            .join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        e = _canonical(large)

        # SMALL-STAR over the smaller-neighbor sets (canonical rows
        # already orient src > dst, so groupBy(src) sees exactly S(u))
        mins2 = e.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            e.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(mins2.select("src", F.col("m").alias("dst")))
        )
        e = pin(_canonical(small))

        cert = _certificate(e)
        if cert == prev:
            break
        prev = cert
    else:
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} rounds"
        )

    # Fixed point ⇒ stars: every non-root points straight at its
    # component minimum. groupBy-min is belt-and-braces, and roots
    # (component minima) label themselves.
    non_roots = e.groupBy("src").agg(F.min("dst").alias("component"))
    roots = e.select(F.col("dst").alias("src")).distinct().join(
        non_roots, "src", "left_anti"
    ).select("src", F.col("src").alias("component"))
    labels = non_roots.unionByName(roots).select(
        F.col("src").alias("node"), "component"
    )
    return labels, rounds
