"""Graph analytics over the star schema — registry entries for the
iterative algorithms in functions/ (connected components backs the
dedup family in operators/dedup.py; PageRank registers here).

The graph is derived from data the engine already has: the bipartite
supplier↔part incidence in lineitem (distinct pairs, both directions),
the same construction a web-scale pipeline uses for host↔document or
user↔item graphs. Everything stays an edge DataFrame — no vertex
objects, no driver-side adjacency.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.functions.pagerank import pagerank
from dataextractor_spark.pins import pin
from dataextractor_spark.registry import query

# --- shared frames: one builder each ----------------------------------


def _incidence_arcs(pairs: DataFrame) -> DataFrame:
    """Symmetric supplier↔part incidence arcs of the distinct
    (l_suppkey, l_partkey) ``pairs``: one (src, dst) row per direction,
    with LONG node ids supplier 2k and part 2k+1 — unique across the
    two key spaces, node type recoverable by parity. Unpinned; each
    caller pins what its own consumers share."""
    fwd = pairs.select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical within-order part co-purchase edge list: (u, v) with
    u < v, one row per undirected edge (parts are adjacent when some
    order contains both). Pinned: every caller reads it three or more
    times (degrees, orientation or degree join, edge count), and the
    per-order self-join + distinct would re-execute for each."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .transform(pin)
    )


def _degrees(pairs: DataFrame) -> DataFrame:
    """(node, d) degree table of a canonical u < v edge list."""
    return (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )


def _closed_wedges(
    pairs: DataFrame, deg: DataFrame, closing_hint: str
) -> DataFrame:
    """Every triangle of the canonical u < v edge list ``pairs`` (with
    its ``deg`` table) exactly once, as a (src, x, y) row: an oriented
    wedge x ← src → y kept by the closing semi-join on the edge x → y.

    Degree-ordered orientation (Suri & Vassilvitskii, WWW'11) directs
    every edge toward its higher-(degree, id) endpoint. Each triangle
    then has exactly ONE apex ``src``, so wedges close at most once,
    and out-degrees are O(√m), which caps the wedge join at
    Σ outdeg² = O(m^1.5) instead of the Σ deg² a hub costs under an
    arbitrary orientation. The oriented list is pinned: it feeds both
    wedge sides and the closing side.

    The closing join follows ``closing_hint``. Under ``shuffle_hash``
    the m-row edge list builds and the Θ(m^1.5) wedges stream, with no
    wedge-side sort; under sort-merge that sort spilled hundreds of
    segment files per task on a 1 GiB heap and then OOMed in the spill
    reader's per-file merge buffers. The hash build cannot spill at
    all, which is why :func:`_closing_join_hint` sizes the choice."""
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    oriented = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(
                    F.col("u").alias("src"),
                    F.col("v").alias("dst"),
                    F.col("dv").alias("ddst"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("src"),
                    F.col("u").alias("dst"),
                    F.col("du").alias("ddst"),
                )
            )
            .alias("e")
        )
        .select("e.src", "e.dst", "e.ddst")
        .transform(pin)
    )
    w1 = oriented.select(
        F.col("src"), F.col("dst").alias("x"), F.col("ddst").alias("dx")
    )
    w2 = oriented.select(
        F.col("src"), F.col("dst").alias("y"), F.col("ddst").alias("dy")
    )
    wedges = (
        w1.join(w2, "src")
        .filter(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .select("src", "x", "y")
    )
    closing = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    return wedges.join(closing.hint(closing_hint), ["x", "y"], "left_semi")


_PR_ITER_SQL = """
        SELECT e.dst AS node,
               0.15 / (SELECT n_nodes FROM n)
                 + 0.85 * sum(p.r / d.outdeg) AS r
        FROM edges e
        JOIN {prev} p ON p.node = e.src
        JOIN deg d    ON d.src  = e.src
        GROUP BY e.dst
"""

_PAGERANK_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
),
edges AS (
    SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM pairs
    UNION ALL
    SELECT 'p' || l_partkey, 's' || l_suppkey FROM pairs
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
n AS (SELECT count(*) AS n_nodes FROM deg),
r0 AS (
    SELECT src AS node, 1.0 / (SELECT n_nodes FROM n) AS r FROM deg
),
r1 AS ({_PR_ITER_SQL.format(prev="r0")}),
r2 AS ({_PR_ITER_SQL.format(prev="r1")}),
r3 AS ({_PR_ITER_SQL.format(prev="r2")})
SELECT CASE WHEN node LIKE 's%' THEN 'supplier' ELSE 'part' END
           AS node_type,
       count(*)             AS n_nodes,
       round(sum(r), 6)     AS rank_mass,
       round(max(r), 6)     AS max_rank,
       round(min(r), 6)     AS min_rank,
       round(avg(r), 6)     AS avg_rank
FROM r3
GROUP BY 1
ORDER BY 1
"""


@query("graph_pagerank", oracle=_PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 damped sweeps, d=0.85) on the supplier↔part
    incidence graph — the iterative-algorithm companion to the
    large-star/small-star components behind dedup_components: a fixed
    edge set re-weighted per sweep, entirely as join+agg algebra
    (functions/pagerank.py), no collect anywhere in the loop.

    The oracle unrolls the identical three sweeps as SQL CTEs, so the
    hash match pins every intermediate semantics (uniform start,
    out-degree normalization, damping re-seed). Output is the
    per-node-type rank summary: rank_mass(supplier)+rank_mass(part)≈1
    is the conservation invariant (no dangling nodes by construction
    — both edge directions exist for every node), and the supplier
    side concentrating ~half the mass on 50× fewer nodes is the
    hub effect the algorithm exists to measure. Per-node float sums
    accumulate in different orders across engines; 6-dp rounding is
    ~10 orders of magnitude above the drift.

    At 100 TB: distinct-pair extraction is one shuffle on the pair,
    each sweep shuffles edges on src then dst (hash-uniform node
    keys; AQE splits genuine skew), and the per-sweep state is one
    (node, rank) row per node — never adjacency on the driver.

    Node ids are the long incidence encoding of
    :func:`_incidence_arcs` (supplier 2k, part 2k+1): the id only has
    to be unique across the two key spaces and recover the node type
    at the end (parity), and a string id would shuffle ~2× the bytes
    per edge row and pay string hashing in every sweep's join+agg, the
    sweeps being the query's hottest stages. The oracle keeps string
    ids, which pins that the reported summary is encoding-invariant."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _incidence_arcs(li.select("l_suppkey", "l_partkey").distinct())
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("supplier"))
            .otherwise(F.lit("part"))
            .alias("node_type"),
            "rank",
        )
        .groupBy("node_type")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.round(F.sum("rank"), 6).alias("rank_mass"),
            F.round(F.max("rank"), 6).alias("max_rank"),
            F.round(F.min("rank"), 6).alias("min_rank"),
            F.round(F.avg("rank"), 6).alias("avg_rank"),
        )
        .orderBy("node_type")
    )


_TRIANGLE_ORACLE = """
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT node, count(*) AS d
    FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
    GROUP BY node
),
tri AS (
    SELECT count(*) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e2.u = e1.v
    JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
),
stats AS (
    SELECT CAST(count(*) AS BIGINT)            AS n_nodes,
           CAST(sum(d * (d - 1)) AS BIGINT)    AS wedges2
    FROM deg
),
ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
SELECT stats.n_nodes,
       ec.n_edges,
       CAST(wedges2 / 2 AS BIGINT)  AS n_wedges,
       CAST(n_triangles AS BIGINT)  AS n_triangles,
       round(3.0 * n_triangles / (wedges2 / 2), 6) AS clustering_coeff
FROM stats CROSS JOIN ec CROSS JOIN tri
"""


#: estimated co-purchase edges per lineitem row. Measured on the
#: fixture family: 1.37M canonical u<v edges from 600k lineitem rows
#: at sf0.1 (×2.29), with the order-size distribution fixed by the
#: generator; ×1.3 headroom rounds to 3. Only the ORDER of magnitude
#: matters — the decision this feeds has a ≥4× memory derate on the
#: other side.
_EDGES_PER_ROW = 3.0

#: bytes per edge row inside an UnsafeHashedRelation build (16 B key
#: material + unsafe row + pointer array at load factor ~0.5).
_BUILD_BYTES_PER_EDGE = 64.0


def _parquet_num_rows(sf_dir: str, table: str) -> int:
    """Exact row count of a staged parquet table from its footers —
    driver-side metadata only (pyarrow), no Spark job. Used by the
    closing-join sizing estimate below; a failure (exotic layout,
    missing file) degrades to 0 rows, which selects the small-graph
    hash build."""
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        files = (
            glob.glob(os.path.join(path, "*.parquet"))
            if os.path.isdir(path)
            else [path]
        )
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return 0


def _closing_join_hint(spark: SparkSession, sf_dir: str) -> str:
    """Join strategy for the triangle kernels' closing semi-join over
    the lineitem table at ``sf_dir``: ``shuffle_hash`` while the
    ESTIMATED per-task hash build fits the task slot's
    execution-memory share, ``merge`` otherwise. A ShuffledHashJoin
    build cannot spill: at 16× sf0.1 on one 8 GiB local[32] heap the
    UnsafeHashedRelation build OOMed (SLOPES_r12.json), and more
    partitions cannot save it because every task slot builds at once
    in the shared heap. So:

        est_task_build = rows(lineitem) · 3 edges/row · 64 B/edge
                           ÷ shuffle partitions
        budget         = 0.6 (spark.memory.fraction) · heap
                           ÷ task slots ÷ 4 (derate: the build shares
                         its slot with the streamed wedge batches and
                         the rest of the stage pipeline)

    Row counts come from the parquet footers (driver-side metadata —
    no job); heap and slots come from the executor confs on a cluster
    and the driver confs under local[*], with the memory string read
    by Spark's own parser (``8g``, ``8gb``, ``8192m`` and a bare
    ``8192``, which Spark reads as MiB, are all 8 GiB). At sf0.1 /
    local[32] / 8g the estimate is ~3.7 MB against a ~38 MB budget →
    shuffle_hash; at 16× it is ~59 MB → merge, which spills and
    completes. Sort-merge pays the wedge-side sort the hash build
    avoids, 2.2–2.6× the wall of the hash plan at sf0.1, so it is
    taken only when the hash build would not provably fit.

    AQE cannot make this choice instead. Without a hint the planner
    picks sort-merge, and AQE converts it to a ShuffledHashJoin at
    runtime only when ``maxShuffledHashJoinLocalMapThreshold`` is at
    least ``advisoryPartitionSizeInBytes`` (64 MB) and every partition
    is under the threshold. It judges partition bytes: the closing
    side's exchange is 11.7 MB over 32 partitions at sf0.1 and about
    6 MB per partition at 16×, far under any threshold AQE accepts,
    so it would choose the unspillable hash build in exactly the 16×
    case that OOMed. The heap share per task slot is the one input
    this estimate has and AQE lacks."""
    rows = _parquet_num_rows(sf_dir, "lineitem")
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sc = spark.sparkContext
    conf = sc.getConf()
    if sc.master.startswith("local"):
        mem, slots = conf.get("spark.driver.memory", "1g"), sc.defaultParallelism
    else:
        mem = conf.get("spark.executor.memory", "1g")
        slots = int(conf.get("spark.executor.cores", "1"))
    java_utils = sc._jvm.org.apache.spark.network.util.JavaUtils
    heap = java_utils.byteStringAsMb(mem) * 2**20
    est_task_build = rows * _EDGES_PER_ROW * _BUILD_BYTES_PER_EDGE / max(parts, 1)
    budget = 0.6 * heap / max(slots, 1) / 4.0
    return "shuffle_hash" if est_task_build <= budget else "merge"


def triangle_stats(pairs: DataFrame, closing_hint: str = "shuffle_hash") -> DataFrame:
    """Exact triangle/wedge census of an undirected graph given its
    canonical edge list: ``pairs`` must be (u, v) with u < v, distinct
    (one row per undirected edge), ideally pinned by the caller since
    it is consumed three times. Returns one row: n_nodes, n_edges,
    n_wedges, n_triangles, clustering_coeff.

    n_triangles counts the closed oriented wedges of
    :func:`_closed_wedges`, one per triangle; n_wedges counts every
    unoriented wedge, Σ d(d−1)/2 over the degree table. The closing
    join takes ``closing_hint``; the hash default suits the small
    graphs the randomized oracle in tests/test_properties.py drives
    against brute-force enumeration, and graph_triangle_count sizes it
    from its table."""
    deg = _degrees(pairs)
    tri = _closed_wedges(pairs, deg, closing_hint).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1)).cast("long").alias("wedges2"),
    )
    ec = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        stats.crossJoin(ec)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            (F.col("wedges2") / 2).cast("long").alias("n_wedges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.round(
                3.0 * F.col("n_triangles") / (F.col("wedges2") / 2), 6
            ).alias("clustering_coeff"),
        )
    )


@query("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting + global clustering coefficient on the
    within-order part co-purchase graph (parts are adjacent when some
    order contains both — the item-item graph a recommender derives
    from baskets).

    The Spark plan uses DEGREE-ORDERED ORIENTATION (Suri &
    Vassilvitskii, WWW'11 MapReduce triangle counting; see
    :func:`_closed_wedges`): each triangle is found exactly once, as
    the one wedge at its lowest-rank corner closed by the edge between
    the other two, and the wedge join is bounded by O(m^1.5). The
    wedge join and the closing semi-join are both edge-keyed hash
    shuffles; degrees come from one node-keyed aggregate; nothing is
    ever collected.

    The oracle counts the same triangles directly off the canonical
    u<v edge list (a<b,b<c,a<c 3-way join) — orientation-invariance
    of the count is exactly what the hash match proves. Integer
    counts end-to-end; the clustering coefficient is the only float.

    Resource envelope: this co-purchase graph is DENSE (avg degree
    ~100), so the oriented wedge set is ~20M rows at sf0.1. The
    closing semi-join hashes edges and streams wedges, with no
    wedge-side sort, while :func:`_closing_join_hint` estimates that
    the build fits, and falls back to the spillable sort-merge at
    sizes where it would not. The wedge volume itself is the
    Θ(m^1.5) lower bound any exact counter pays.
    """
    return triangle_stats(
        _copurchase_pairs(spark, sf_dir), _closing_join_hint(spark, sf_dir)
    )


@query(
    "graph_degree_distribution",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
    ),
    degs AS (
        SELECT 'supplier' AS node_type,
               CAST(count(*) AS BIGINT) AS deg
        FROM pairs GROUP BY l_suppkey
        UNION ALL
        SELECT 'part' AS node_type,
               CAST(count(*) AS BIGINT) AS deg
        FROM pairs GROUP BY l_partkey
    )
    SELECT node_type,
           CAST(length(printf('%b', deg)) AS BIGINT) AS log2_bin,
           CAST(count(*) AS BIGINT)                  AS n_nodes,
           CAST(min(deg) AS BIGINT)                  AS min_deg,
           CAST(max(deg) AS BIGINT)                  AS max_deg,
           round(CAST(sum(deg) AS BIGINT)::DOUBLE / count(*), 4)
               AS avg_deg
    FROM degs
    GROUP BY 1, 2
    ORDER BY node_type, log2_bin
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned degree distribution of the supplier↔part incidence
    graph (the same graph graph_pagerank and graph_triangle_count
    run on) — the first diagnostic of any large graph: a straight
    line across the log-bins means power-law degrees, which is what
    decides whether the skew mitigations (salting, high-degree
    vertex-cut) are needed downstream.

    The bin is floor(log₂ deg)+1 computed as the LENGTH OF THE BINARY
    STRING of the integer degree (Spark ``bin()``, DuckDB
    ``printf('%b')``) — integer-exact, immune to the
    floor(log2(2^k)) = k−1 one-ulp trap that floating log binning
    hits at exact powers of two.

    Plan: one distinct-pair shuffle (same first stage as pagerank),
    two bounded degree aggregates, ~a dozen output rows. Nothing
    data-sized survives past the second aggregate at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_suppkey", "l_partkey").distinct()
    # One GROUPING SETS pass computes both degree tables: the former
    # two-branch union re-derived the distinct-pair shuffle once per
    # side (2 scans / 2 distinct exchanges / 2 agg exchanges in the
    # r12 before-plan); Expand doubles the pair rows through ONE
    # exchange instead. Row-for-row identical: count per suppkey /
    # per partkey over the same distinct pair set, with grouping()
    # (not null-ness) naming the side.
    degs = (
        pairs.groupingSets(
            [["l_suppkey"], ["l_partkey"]], "l_suppkey", "l_partkey"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("deg"),
            F.grouping("l_suppkey").alias("gs"),
        )
        .select(
            F.when(F.col("gs") == 0, F.lit("supplier"))
            .otherwise(F.lit("part"))
            .alias("node_type"),
            "deg",
        )
    )
    return (
        degs.groupBy(
            "node_type",
            F.length(F.bin(F.col("deg"))).cast("long").alias("log2_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("deg").cast("long").alias("min_deg"),
            F.max("deg").cast("long").alias("max_deg"),
            F.round(F.sum("deg").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_deg"
            ),
        )
        .orderBy("node_type", "log2_bin")
    )


@query(
    "graph_bfs_levels",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    e AS (
        SELECT 's' || CAST(s AS VARCHAR) AS src,
               'p' || CAST(p AS VARCHAR) AS dst FROM pairs
        UNION ALL
        SELECT 'p' || CAST(p AS VARCHAR), 's' || CAST(s AS VARCHAR)
        FROM pairs
    ),
    l0 AS (
        SELECT 's' || CAST(min(l_suppkey) AS VARCHAR) AS node FROM lineitem
    ),
    l1 AS (
        SELECT DISTINCT e.dst AS node FROM e JOIN l0 ON e.src = l0.node
        WHERE e.dst NOT IN (SELECT node FROM l0)
    ),
    l2 AS (
        SELECT DISTINCT e.dst AS node FROM e JOIN l1 ON e.src = l1.node
        WHERE e.dst NOT IN (SELECT node FROM l0)
          AND e.dst NOT IN (SELECT node FROM l1)
    ),
    l3 AS (
        SELECT DISTINCT e.dst AS node FROM e JOIN l2 ON e.src = l2.node
        WHERE e.dst NOT IN (SELECT node FROM l0)
          AND e.dst NOT IN (SELECT node FROM l1)
          AND e.dst NOT IN (SELECT node FROM l2)
    ),
    l4 AS (
        SELECT DISTINCT e.dst AS node FROM e JOIN l3 ON e.src = l3.node
        WHERE e.dst NOT IN (SELECT node FROM l0)
          AND e.dst NOT IN (SELECT node FROM l1)
          AND e.dst NOT IN (SELECT node FROM l2)
          AND e.dst NOT IN (SELECT node FROM l3)
    ),
    levels AS (
        SELECT CAST(0 AS BIGINT) AS level, node FROM l0
        UNION ALL SELECT 1, node FROM l1
        UNION ALL SELECT 2, node FROM l2
        UNION ALL SELECT 3, node FROM l3
        UNION ALL SELECT 4, node FROM l4
    )
    SELECT level,
           CASE WHEN substring(node, 1, 1) = 's' THEN 'supplier'
                ELSE 'part' END AS node_type,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM levels
    GROUP BY 1, 2
    ORDER BY level, node_type
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability levels (4 sweeps) from a
    deterministic seed (the minimum lineitem supplier) over the
    supplier↔part incidence graph — the iterative-traversal operator
    next to graph_pagerank's fixed-sweep power iteration: frontier_k+1
    = neighbors(frontier_k) ∖ visited, entirely as join + anti-join
    algebra (Pregel-as-relational-ops), with the oracle unrolling the
    identical four sweeps as CTEs so every frontier's membership is
    hash-pinned.

    The bipartite structure makes levels alternate node types
    (supplier seeds → parts at odd levels → suppliers at even), which
    the output shape exposes as a built-in sanity check.

    At 100 TB: each sweep is one key-key hash join (edges ⋈ frontier)
    plus one anti-join against the visited set — both hash-partitioned
    on the node id, the standard distributed BFS; frontiers pin via
    localCheckpoint so sweep k+1 never re-derives sweep k's lineage,
    and per-sweep state is one row per reached node, never adjacency
    on the driver.

    Node ids are the long incidence encoding (supplier 2k, part
    2k+1), so every sweep's edges⋈frontier join and anti-join hash and
    shuffle an 8-byte key instead of a variable-width string; the level
    counts are integer-exact, so the result is encoding-invariant by
    construction. Only each sweep's NEW frontier is pinned: ``visited``
    is a union of already-pinned frontiers, one union node deep, and a
    pin of its own would add a materialization job per sweep for no
    lineage saved."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _incidence_arcs(
        li.select("l_suppkey", "l_partkey").distinct()
    ).transform(pin)
    seed = li.agg((F.min("l_suppkey") * 2).alias("node"))
    visited = seed.withColumn("level", F.lit(0).cast("long")).transform(pin)
    frontier = visited.select("node")
    for k in range(1, 5):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(k).cast("long"))
            .transform(pin)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return (
        visited.groupBy(
            "level",
            F.when(F.col("node") % 2 == 0, "supplier")
            .otherwise("part")
            .alias("node_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("level", "node_type")
    )


# --- label-propagation communities ------------------------------------

#: LPA sweeps (fixed, deterministic — the oracle unrolls the same 3).
_LPA_SWEEPS = 3

#: argmax-vote encoding width: labels are < 1e10, so
#: lpad(cnt)||lpad(1e10-1-lbl) compares (cnt asc, lbl desc) — max()
#: picks the highest count, ties broken toward the SMALLEST label.
_LPA_ENC = 9_999_999_999

_LPA_VOTE_SQL = """
    SELECT v.node,
           CAST({enc} - CAST(substr(max(
                    lpad(CAST(v.cnt AS VARCHAR), 10, '0')
                    || lpad(CAST({enc} - v.lbl AS VARCHAR), 10, '0')
                ), 11, 10) AS BIGINT) AS BIGINT) AS lbl
    FROM (
        SELECT e.dst AS node, l.lbl, CAST(count(*) AS BIGINT) AS cnt
        FROM edges e JOIN {prev} l ON l.node = e.src
        GROUP BY e.dst, l.lbl
        UNION ALL
        SELECT node, lbl, CAST(1 AS BIGINT) FROM {prev}
    ) v
    GROUP BY v.node
"""

_LPA_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
),
edges AS (
    SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT l_partkey * 2 + 1, l_suppkey * 2 FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
l1 AS ({_LPA_VOTE_SQL.format(prev="l0", enc=_LPA_ENC)}),
l2 AS ({_LPA_VOTE_SQL.format(prev="l1", enc=_LPA_ENC)}),
l3 AS ({_LPA_VOTE_SQL.format(prev="l2", enc=_LPA_ENC)}),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        FROM edges GROUP BY src),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
intra AS (
    SELECT la.lbl, CAST(count(*) AS BIGINT) AS m_c
    FROM edges e
    JOIN l3 la ON la.node = e.src
    JOIN l3 lb ON lb.node = e.dst
    WHERE la.lbl = lb.lbl AND e.src < e.dst
    GROUP BY la.lbl
),
comm AS (
    SELECT l3.lbl AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN l3.node % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppliers,
           CAST(sum(CASE WHEN l3.node % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_parts,
           CAST(sum(d.d) AS BIGINT) AS degree_sum
    FROM l3 JOIN deg d ON d.node = l3.node
    GROUP BY l3.lbl
)
SELECT c.community,
       c.n_nodes, c.n_suppliers, c.n_parts,
       CAST(coalesce(i.m_c, 0) AS BIGINT) AS intra_edges,
       c.degree_sum,
       round((4.0 * m.m * coalesce(i.m_c, 0)
              - CAST(c.degree_sum AS DOUBLE) * c.degree_sum)
             / (4.0 * m.m * m.m), 6) AS modularity_term
FROM comm c LEFT JOIN intra i ON i.lbl = c.community CROSS JOIN m
ORDER BY c.n_nodes DESC, c.community
LIMIT 10
"""


def lpa_labels(edges: DataFrame, sweeps: int = _LPA_SWEEPS) -> DataFrame:
    """Deterministic synchronous label propagation on a SYMMETRIC edge
    list: ``edges`` must be (src, dst) with both directions present
    (one row per directed arc), ideally checkpointed by the caller
    since it is consumed once per sweep. Every node starts as its own
    label; each sweep re-labels a node with the most frequent label
    among its neighbors PLUS ITS OWN one-vote self-label, ties broken
    toward the SMALLEST label — argmax by (count desc, label asc) via
    max(struct(cnt, enc−lbl)), numerically equivalent to the
    engine-portable lpad encoding the SQL oracle uses. Node ids must be non-negative and below
    ``_LPA_ENC``. Returns the final (node, lbl) assignment.

    This is the sweep kernel documented on graph_label_propagation
    (which supplies the supplier↔part incidence edges); factored out
    so the randomized oracle in tests/test_properties.py can drive it
    with arbitrary small graphs against a brute-force synchronous-LPA
    replica.

    r12 physical shape: edges are hash-exchanged by src ONCE up front
    and the sweeps run UN-checkpointed inside one plan, so every
    sweep's edges⋈labels join sees the same exchange subtree and AQE
    reuses it (ReusedExchange) instead of re-shuffling the edge list
    per sweep (guide §2.4 "two operations keyed the same way can
    share one exchange"). Only the FINAL labels are pinned — callers
    consume them 2-3 times; per-sweep pins forced one plan segment
    per sweep, which both re-exchanged edges every sweep and paid an
    AQE job cascade per segment (measured: 7.19 s → 5.01 s min-of-3
    on the sf0.1 kernel, identical labels). Lineage depth grows with
    the sweep count, which is fine at the fixed 3-4 sweeps the
    declared queries use; a many-sweep caller should re-introduce a
    periodic pin."""
    return _lpa_labels_plan(edges, sweeps).transform(pin)


def _lpa_labels_plan(edges: DataFrame, sweeps: int = _LPA_SWEEPS) -> DataFrame:
    """The UN-PINNED sweep kernel behind :func:`lpa_labels` — exposed
    separately so the r12 sweep-sharing claim is plan-checkable (r12
    VERDICT item 3: the committed after-dump started at the final
    pin's ``Scan ExistingRDD``, so the per-sweep ReusedExchange was
    timing-and-code-shape evidence only). The golden-gated test in
    tests/test_plan_goldens.py explains THIS frame (with AQE off, so
    the ReuseExchange rule is applied at planning and visible) and
    pins the count of ReusedExchange nodes over the single up-front
    edges exchange; plans/r13/graph_label_propagation_kernel.txt is
    the committed capture."""
    edges = edges.repartition("src")
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("lbl")
    )
    enc = _LPA_ENC
    for _ in range(sweeps):
        votes = (
            edges.join(
                labels.select(F.col("node").alias("src"), "lbl"), "src"
            )
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .unionByName(
                labels.select("node", "lbl", F.lit(1).cast("long").alias("cnt"))
            )
        )
        # r12: the argmax key is max(struct(cnt, enc-lbl)) — struct
        # ordering is lexicographic by field, so this picks the same
        # winner as the historical lpad-string encoding (fixed-width
        # zero-padded decimal compares lexicographically ≡ numerically
        # for the same non-negative < 1e10 domain) without building a
        # 20-char string per vote row: the vote rows are the sweep's
        # largest intermediate, and the string build + string max
        # showed up as the hottest post-shuffle stages in the r12
        # profile (guide §1.2 per-task work). The SQL oracle keeps the
        # lpad form; the hash match pins the equivalence.
        key = F.struct(
            F.col("cnt").alias("c"),
            (F.lit(enc) - F.col("lbl")).alias("nl"),
        )
        labels = (
            votes.groupBy("node")
            .agg(F.max(key).alias("k"))
            .select(
                "node",
                (F.lit(enc) - F.col("k.nl")).cast("long").alias("lbl"),
            )
        )
    return labels


@query("graph_label_propagation", oracle=_LPA_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by deterministic label propagation on the
    supplier↔part incidence graph: every node starts as its own
    label; each of 3 synchronous sweeps re-labels a node with the
    most frequent label among its neighbors PLUS ITS OWN one-vote
    self-label (ties -> smallest label). The self-vote is the
    oscillation guard bipartite graphs need under synchronous LPA —
    without it labels can swap sides forever. The vote argmax is the
    engine-portable lpad encoding (count desc, label asc), so both
    engines pick identical winners and the result hash-matches.

    Output: the 10 largest communities with membership split,
    intra-community edge count, degree mass, and each community's
    modularity term — computed EXACTLY as
    (4*m*m_c - d_c^2) / (4*m^2), integer numerator, one division
    (the float-sum-order trap never arises).

    At 100 TB: each sweep is one edges-with-labels hash join + two
    hash aggregates (per-(node,label) vote count, per-node argmax) —
    the same join+agg sweep shape as pagerank/BFS; labels are one row
    per node, votes at most one row per (edge endpoint, label); the
    sweeps share one edge exchange and only the final labels are
    pinned (see :func:`lpa_labels`). Fixed sweep count = fixed job
    count, no driver-side convergence loop.
    cf. reference README.md:28 (per-entity rollups) for the family.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_suppkey", "l_partkey").distinct().transform(pin)
    edges = _incidence_arcs(pairs).transform(pin)
    labels = lpa_labels(edges)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # |undirected edges| rides in-plan as a broadcast 1-row scalar
    # instead of a driver-blocking count() job — the value is only
    # used inside the output expression, never to size the plan, so
    # there is nothing for the driver to decide with it (guide §5:
    # the driver should do almost no work; one fewer job on the
    # critical path). The oracle's CROSS JOIN m-subquery has this
    # exact shape.
    m_row = pairs.agg(F.count(F.lit(1)).cast("long").alias("m_edges"))
    la = labels.select(F.col("node").alias("src"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("node").alias("dst"), F.col("lbl").alias("lb"))
    intra = (
        edges.filter(F.col("src") < F.col("dst"))
        .join(la, "src")
        .join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    comm = (
        labels.join(deg, "node")
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum((F.col("node") % 2 == 0).cast("long"))
            .cast("long")
            .alias("n_suppliers"),
            F.sum((F.col("node") % 2 == 1).cast("long"))
            .cast("long")
            .alias("n_parts"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    return (
        comm.join(intra, "community", "left")
        .crossJoin(F.broadcast(m_row))
        .withColumn(
            "intra_edges",
            F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "modularity_term",
            # multiplication order matches the former Python-literal
            # form exactly: (4.0 * m) * intra and ((4.0 * m) * m) —
            # identical IEEE doubles, result bit-identical
            F.round(
                (
                    F.lit(4.0) * F.col("m_edges") * F.col("intra_edges")
                    - F.col("degree_sum").cast("double")
                    * F.col("degree_sum")
                )
                / (F.lit(4.0) * F.col("m_edges") * F.col("m_edges")),
                6,
            ),
        )
        .select(
            "community",
            "n_nodes",
            "n_suppliers",
            "n_parts",
            "intra_edges",
            "degree_sum",
            "modularity_term",
        )
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(10)
    )


# --- link prediction on the bipartite incidence graph -----------------

#: rarest-R neighbor truncation: each supplier contributes wedges only
#: among its R least-common parts, capping wedge volume at
#: |suppliers| * R^2 regardless of supplier degree — the standard
#: top-k truncation production link-prediction pipelines use, made
#: DETERMINISTIC here (rank by global part degree asc, partkey asc).
_LP_R = 32

_LINKPRED_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
),
pdeg AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS pd
    FROM pairs GROUP BY l_partkey
),
ranked AS (
    SELECT p.l_suppkey, p.l_partkey, d.pd,
           row_number() OVER (PARTITION BY p.l_suppkey
                              ORDER BY d.pd, p.l_partkey) AS rn
    FROM pairs p JOIN pdeg d ON d.l_partkey = p.l_partkey
),
kept AS (SELECT * FROM ranked WHERE rn <= {_LP_R}),
ksz AS (
    SELECT l_suppkey, CAST(count(*) AS BIGINT) AS sz
    FROM kept GROUP BY l_suppkey
),
tdeg AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS td
    FROM kept GROUP BY l_partkey
),
cand AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_common_suppliers
    FROM kept a JOIN kept b
      ON a.l_suppkey = b.l_suppkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
),
scored AS (
    SELECT c.part_a, c.part_b, c.n_common_suppliers,
           round(CAST(c.n_common_suppliers AS DOUBLE)
                 / (ta.td + tb.td - c.n_common_suppliers), 6) AS jaccard,
           pa.p_brand AS brand_a, pb.p_brand AS brand_b
    FROM cand c
    JOIN tdeg ta ON ta.l_partkey = c.part_a
    JOIN tdeg tb ON tb.l_partkey = c.part_b
    JOIN part pa ON pa.p_partkey = c.part_a
    JOIN part pb ON pb.p_partkey = c.part_b
    WHERE pa.p_brand <> pb.p_brand
)
SELECT * FROM scored
ORDER BY n_common_suppliers DESC, part_a, part_b
LIMIT 20
"""


@query("graph_link_prediction", oracle=_LINKPRED_ORACLE)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the supplier↔part incidence graph:
    cross-brand part pairs ranked by common-supplier count +
    truncated Jaccard — "parts sourced from the same supplier pool
    are substitutes" (excluding same-brand pairs, which are known
    substitutes by construction). The common-neighbor join runs on
    RAREST-R truncated adjacency: each supplier keeps only its 32
    least-common parts (global part-degree asc, partkey asc — fully
    deterministic), so wedge volume is capped at |suppliers| * R^2
    instead of sum(degree^2) — the difference between 1e6 and 2.5e8
    candidate rows at sf0.1, and THE standard production move for
    common-neighbor indexes at scale (rare neighbors carry the
    signal; ubiquitous ones only add wedges). Jaccard uses the
    truncated set sizes, so it is an exact statistic OF the declared
    index, not an estimate of the untruncated one.

    Plan: one distinct-pair shuffle, one per-supplier ranked window
    (partitioned by supplier — never global), the capped self-join,
    two bounded degree joins, and a broadcast part-dim lookup for the
    brand filter; TakeOrderedAndProject caps the output at 20.
    Integer counts + a ratio-of-exact-ints rounded 6dp keep the hash
    engine-portable."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.select("l_suppkey", "l_partkey")
        .distinct()
        .transform(pin)
    )
    pdeg = pairs.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("pd")
    )
    w = Window.partitionBy("l_suppkey").orderBy("pd", "l_partkey")
    kept = (
        pairs.join(pdeg, "l_partkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _LP_R)
        .select("l_suppkey", "l_partkey")
        .transform(pin)
    )
    tdeg = kept.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("td")
    )
    a = kept.select("l_suppkey", F.col("l_partkey").alias("part_a"))
    b = kept.select("l_suppkey", F.col("l_partkey").alias("part_b"))
    cand = (
        a.join(b, "l_suppkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common_suppliers"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ta = tdeg.select(F.col("l_partkey").alias("part_a"), F.col("td").alias("ta"))
    tb = tdeg.select(F.col("l_partkey").alias("part_b"), F.col("td").alias("tb"))
    pa = part.select(
        F.col("p_partkey").alias("part_a"), F.col("p_brand").alias("brand_a")
    )
    pb = part.select(
        F.col("p_partkey").alias("part_b"), F.col("p_brand").alias("brand_b")
    )
    return (
        cand.join(ta, "part_a")
        .join(tb, "part_b")
        .join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .filter(F.col("brand_a") != F.col("brand_b"))
        .select(
            "part_a",
            "part_b",
            "n_common_suppliers",
            F.round(
                F.col("n_common_suppliers").cast("double")
                / (F.col("ta") + F.col("tb") - F.col("n_common_suppliers")),
                6,
            ).alias("jaccard"),
            "brand_a",
            "brand_b",
        )
        .orderBy(F.col("n_common_suppliers").desc(), "part_a", "part_b")
        .limit(20)
    )


# --- k-core decomposition (peeling) -----------------------------------

#: core threshold: nodes need >= K surviving neighbors to stay. 25
#: sits just under the part-side mean degree (~27-30 at every SF), so
#: each peel removes a real fraction of parts, cascades into supplier
#: degrees, and still leaves a non-empty core to report.
_KCORE_K = 25
#: fixed peel count — the oracle unrolls the same 3 sweeps.
_KCORE_SWEEPS = 3

_KCORE_PEEL_SQL = """
    SELECT e.* FROM {prev} e
    JOIN (SELECT src FROM {prev} GROUP BY src
          HAVING count(*) >= {k}) ds ON ds.src = e.src
    JOIN (SELECT dst FROM {prev} GROUP BY dst
          HAVING count(*) >= {k}) dd ON dd.dst = e.dst
"""

_KCORE_STAT_SQL = """
    SELECT {i} AS sweep,
           CAST(count(DISTINCT src) AS BIGINT) AS n_suppliers,
           CAST(count(DISTINCT dst) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_edges
    FROM {prev}
"""


def _kcore_oracle() -> str:
    peels = []
    prev = "e0"
    for i in range(1, _KCORE_SWEEPS + 1):
        peels.append(
            f"e{i} AS ({_KCORE_PEEL_SQL.format(prev=prev, k=_KCORE_K)})"
        )
        prev = f"e{i}"
    stats = " UNION ALL ".join(
        _KCORE_STAT_SQL.format(i=i, prev=f"e{i}")
        for i in range(_KCORE_SWEEPS + 1)
    )
    return f"""
    WITH e0 AS (
        SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem
    ),
    {", ".join(peels)}
    SELECT * FROM ({stats}) ORDER BY sweep
    """


@query("graph_kcore_decomposition", oracle=_kcore_oracle())
def graph_kcore_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-core peeling on the supplier↔part incidence graph: repeatedly
    delete nodes with fewer than K=25 surviving neighbors (3 fixed
    sweeps, both sides peeled simultaneously per sweep) and report
    the shrinking (suppliers, parts, edges) after each — the
    densest-substructure screen that finds the stable co-sourcing
    core a supply-chain or recommender model should train on, and the
    classic iterative-deletion workload after BFS/PageRank/LPA.

    Each sweep is two degree aggregates + two semi-join-shaped hash
    joins on the surviving edge set, with ``localCheckpoint`` per
    sweep to cap lineage — no driver-side convergence test (fixed
    sweep count = fixed job count; a production run would iterate to
    a fixpoint, which for THIS graph is nearly reached by sweep 3 —
    the contract test pins monotone shrinkage and that every
    surviving node meets the degree bound). The oracle unrolls the
    identical 3 peels as CTEs, so membership after every sweep is
    hash-pinned."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
        .transform(pin)
    )
    # r12: each sweep's (n_suppliers, n_parts, n_edges) report is read
    # off the two DEGREE TABLES the peel already derives — distinct-src
    # count = rows of the src-degree table, edge count = its degree
    # sum, symmetrically for dst — instead of a separate
    # countDistinct×2 aggregate over the edge set, whose
    # RewriteDistinctAggregates Expand tripled every edge row before
    # aggregating (the four ~0.4 s stat jobs in the r12 profile).
    # Guide §2.3 "aggregate before you shuffle": the stats now
    # aggregate node-sized tables, and the values are identical exact
    # integers by construction.
    stats = []
    cur = edges
    for i in range(_KCORE_SWEEPS + 1):
        ds = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        dd = cur.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
        stats.append(
            ds.agg(
                F.lit(i).cast("long").alias("sweep"),
                F.count(F.lit(1)).cast("long").alias("n_suppliers"),
                # coalesce: sum over a fully-peeled (empty) edge set is
                # NULL where the old count(*) was 0
                F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("n_edges"),
            )
            .crossJoin(
                F.broadcast(
                    dd.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
                )
            )
            .select("sweep", "n_suppliers", "n_parts", "n_edges")
        )
        if i < _KCORE_SWEEPS:
            cur = (
                cur.join(ds.filter(F.col("d") >= _KCORE_K).select("src"), "src")
                .join(dd.filter(F.col("d") >= _KCORE_K).select("dst"), "dst")
                .transform(pin)
            )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("sweep")


_LOCAL_CC_ORACLE = """
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
    GROUP BY node
),
tris AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM pairs e1
    JOIN pairs e2 ON e2.u = e1.v
    JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
),
tri_node AS (
    SELECT node, CAST(count(*) AS BIGINT) AS t
    FROM (SELECT a AS node FROM tris
          UNION ALL SELECT b FROM tris
          UNION ALL SELECT c FROM tris)
    GROUP BY node
),
cc AS (
    SELECT deg.node, deg.d, CAST(coalesce(tri_node.t, 0) AS BIGINT) AS t
    FROM deg LEFT JOIN tri_node ON tri_node.node = deg.node
    WHERE deg.d >= 2
),
fixed AS (
    SELECT node, d,
           (4 * t * 100000000 + d * (d - 1)) // (2 * d * (d - 1)) AS c8,
           least(CAST(9 AS BIGINT), (20 * t) // (d * (d - 1))) AS cc_decile
    FROM cc
)
SELECT cc_decile,
       CAST(count(*) AS BIGINT)  AS n_nodes,
       round(CAST(sum(c8) AS DOUBLE) / (100000000.0 * count(*)), 6)
           AS avg_cc,
       CAST(min(d) AS BIGINT)    AS min_degree,
       CAST(max(d) AS BIGINT)    AS max_degree
FROM fixed
GROUP BY cc_decile
ORDER BY cc_decile
"""


def local_clustering_cc(
    pairs: DataFrame, closing_hint: str = "shuffle_hash"
) -> DataFrame:
    """Per-node local clustering coefficient of an undirected graph
    given its canonical edge list: ``pairs`` must be (u, v) with
    u < v, distinct (one row per undirected edge), ideally pinned by
    the caller since it is consumed three times. Returns one row per
    node of degree ≥2: (node, d, c8, cc_decile) where c8 is the 8-dp
    fixed-point BIGINT quantization of 2·t/(d(d−1)) and cc_decile =
    min(9, floor(20t / d(d−1))) — both pure integer arithmetic, see
    the inline comment at the fixed-point select.

    t counts the node's triangles: every closed wedge (src, x, y) of
    :func:`_closed_wedges` is one triangle and credits all three
    corners. The degree table is pinned because the orientation and
    the output both read it. The closing join takes ``closing_hint``;
    the hash default suits the small graphs the randomized oracle in
    tests/test_properties.py drives against brute-force per-node
    enumeration, and graph_local_clustering sizes it from its
    table."""
    deg = _degrees(pairs).transform(pin)
    tri_corners = (
        _closed_wedges(pairs, deg, closing_hint)
        .select(F.explode(F.array("src", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    # Integer-exact fixed-point form (repo convention: no cross-row
    # double accumulation). Per node: c_i = 2t/(d(d-1)) is quantized
    # ONCE to an 8-dp BIGINT via pure integer arithmetic —
    # round-half-up(x/y) = (2x + y) div (2y) with x = 2t·1e8 — and the
    # decile is the exact integral floor(20t / (d(d-1))) capped at 9
    # (c ≥ 1 ⇔ 20t div d(d-1) ≥ 10). Sums of BIGINTs are
    # order-independent, so the decile mean is engine/partition-order
    # deterministic; quantization error ≤ 5e-9 per node, two orders
    # below the 6-dp output grain. Overflow bound: 4t·1e8 ≤
    # 2e8·d(d-1) < 2^63 for d up to ~2.1e5 (test graphs: d < 1e3).
    return (
        deg.where(F.col("d") >= 2)
        .join(tri_corners, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("t"),
        )
        .select(
            "node",
            "d",
            F.expr(
                "(4 * t * 100000000 + d * (d - 1)) div (2 * d * (d - 1))"
            ).alias("c8"),
            F.least(
                F.lit(9).cast("long"),
                F.expr("(20 * t) div (d * (d - 1))"),
            ).alias("cc_decile"),
        )
    )


@query("graph_local_clustering", oracle=_LOCAL_CC_ORACLE)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficient (Watts-Strogatz: the
    fraction of a node's neighbor pairs that are themselves adjacent)
    on the part co-purchase graph, summarized as a decile histogram —
    the community-structure fingerprint that separates hub-and-spoke
    catalogs from clique-y ones, where graph_triangle_count's single
    GLOBAL coefficient cannot.

    Shares graph_triangle_count's closed oriented wedges
    (:func:`_closed_wedges`: Θ(m^1.5) wedge volume, closing join sized
    by :func:`_closing_join_hint`), which keep the wedge APEX, so
    every found triangle {src,x,y} credits all three corners via one
    explode + node-keyed count. cc_i =
    2·t_i / (d_i(d_i−1)) is exact (integer triangle counts over
    integer degree pairs); nodes of degree <2 are excluded (the
    coefficient is undefined). The decile mean is computed from an
    8-dp fixed-point BIGINT quantization of each cc_i (pure integer
    round-half-up; see the inline comment), so the only cross-row
    accumulation is an exact integer sum — no engine- or
    partition-order-dependent double folding anywhere in the query.
    The oracle recounts per-corner triangles off the canonical u<v
    list, proving orientation-invariance node-by-node, not just in
    total."""
    cc = local_clustering_cc(
        _copurchase_pairs(spark, sf_dir), _closing_join_hint(spark, sf_dir)
    )
    return (
        cc.groupBy("cc_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.round(
                F.sum("c8") / (F.lit(100000000.0) * F.count(F.lit(1))), 6
            ).alias("avg_cc"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
        )
        .orderBy("cc_decile")
    )


_ASSORT_ORACLE = """
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
    GROUP BY node
),
directed AS (
    SELECT u AS s, v AS t FROM pairs
    UNION ALL
    SELECT v, u FROM pairs
),
ed AS (
    SELECT ds.d AS dj, dt.d AS dk
    FROM directed e
    JOIN deg ds ON ds.node = e.s
    JOIN deg dt ON dt.node = e.t
),
s AS (
    SELECT CAST(count(*) AS BIGINT)        AS m2,
           CAST(sum(dj) AS BIGINT)         AS sj,
           CAST(sum(dj * dj) AS BIGINT)    AS sjj,
           CAST(sum(dj * dk) AS BIGINT)    AS sjk
    FROM ed
)
SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
       round(CAST(sj AS DOUBLE) / m2, 6) AS avg_end_degree,
       round((CAST(sjk AS DOUBLE) - CAST(sj AS DOUBLE) * sj / m2)
             / (CAST(sjj AS DOUBLE) - CAST(sj AS DOUBLE) * sj / m2), 6)
           AS assortativity
FROM s
"""


@query("graph_assortativity", oracle=_ASSORT_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over every edge of the part co-purchase graph —
    positive means hubs link to hubs (social-network shape), negative
    means hubs link to leaves (hub-and-spoke catalog shape). One
    scalar that tells a recommender/sampler how degree-biased edge
    sampling will behave before it runs.

    The symmetric Pearson needs only three sums over the DOUBLED edge
    list — Σdj, Σdj², Σdjdk — which stay exact BIGINT (degrees are
    bounded by the basket co-occurrence width; Σdjdk peaks ~4e11 at
    sf0.1, int64 headroom as agg_hhi_concentration). They are computed
    WITHOUT materializing the doubled list: each canonical u<v pair
    contributes both directions algebraically (Σ(du+dv), Σ(du²+dv²),
    2Σdu·dv), so the edge set is joined to the degree table ONCE (on
    u), pre-aggregated per v (cnt, Σdu, Σdu² — guide §2.3 "aggregate
    before you shuffle"), and the second degree join runs on the
    node-sized per-v partials instead of a second edge-sized pass.
    Every sum is an exact integer regrouping of the doubled-list sums
    (integer addition is associative), so the final doubles are
    bit-identical to the two-pass form the oracle spells out. r is one
    fixed double expression, rounded 6dp. Plan: the distinct-pair
    build (the triangle-count edge derivation), one node-keyed degree
    aggregate, ONE edge-sized degree join + per-v partial agg, one
    node-sized join, one scalar row — no wedges, no iteration."""
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    # one edge-sized join (u-side degree), then per-v integer partials:
    # the doubled-list sums regroup exactly as
    #   m2  = 2·Σ_v cnt_v          sj  = Σ_v (s1_v + dv·cnt_v)
    #   sjj = Σ_v (s2_v + dv²·cnt_v)   sjk = 2·Σ_v dv·s1_v
    # with cnt_v = #edges where v is the greater endpoint, s1_v = Σdu,
    # s2_v = Σdu² over those edges — exact BIGINT throughout.
    per_v = (
        pairs.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("du").cast("long").alias("s1"),
            F.sum(F.col("du") * F.col("du")).cast("long").alias("s2"),
        )
    )
    s = (
        per_v.join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
            "v",
        )
        .agg(
            F.coalesce(F.sum(F.col("cnt") * 2), F.lit(0))
            .cast("long")
            .alias("m2"),
            F.sum(F.col("s1") + F.col("dv") * F.col("cnt"))
            .cast("long")
            .alias("sj"),
            F.sum(
                F.col("s2") + F.col("dv") * F.col("dv") * F.col("cnt")
            )
            .cast("long")
            .alias("sjj"),
            F.sum(F.lit(2) * F.col("dv") * F.col("s1"))
            .cast("long")
            .alias("sjk"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return s.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        F.round(d("sj") / F.col("m2"), 6).alias("avg_end_degree"),
        F.round(
            (d("sjk") - d("sj") * F.col("sj") / F.col("m2"))
            / (d("sjj") - d("sj") * F.col("sj") / F.col("m2")),
            6,
        ).alias("assortativity"),
    )


_HITS_ORACLE = """
WITH pairs AS (
    SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
a1 AS (
    SELECT p, CAST(count(*) AS BIGINT) AS a FROM pairs GROUP BY p
),
h1 AS (
    SELECT e.s, CAST(sum(a1.a) AS BIGINT) AS h
    FROM pairs e JOIN a1 ON a1.p = e.p GROUP BY e.s
),
a2 AS (
    SELECT e.p, CAST(sum(h1.h) AS BIGINT) AS a
    FROM pairs e JOIN h1 ON h1.s = e.s GROUP BY e.p
),
h2 AS (
    SELECT e.s, CAST(sum(a2.a) AS BIGINT) AS h
    FROM pairs e JOIN a2 ON a2.p = e.p GROUP BY e.s
),
amax AS (SELECT max(a) AS m FROM a2),
hmax AS (SELECT max(h) AS m FROM h2),
tops AS (
    SELECT 'authority' AS role, 'p' || CAST(p AS VARCHAR) AS node,
           round(CAST(a AS DOUBLE) / (SELECT m FROM amax), 6) AS score
    FROM a2
    ORDER BY a DESC, p LIMIT 10
),
toph AS (
    SELECT 'hub' AS role, 's' || CAST(s AS VARCHAR) AS node,
           round(CAST(h AS DOUBLE) / (SELECT m FROM hmax), 6) AS score
    FROM h2
    ORDER BY h DESC, s LIMIT 10
)
SELECT * FROM tops
UNION ALL
SELECT * FROM toph
ORDER BY role, score DESC, node
"""


@query("graph_hits_scores", oracle=_HITS_ORACLE)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs-and-authorities) on the directed
    supplier→part incidence graph, two full mutual-reinforcement
    sweeps: a part is a strong AUTHORITY when many strong hubs stock
    it; a supplier is a strong HUB when it stocks strong authorities
    — the ranking pair that separates "broad generalist supplier"
    from "supplier of the critical parts", which plain degree
    (graph_degree_distribution) and PageRank's single score cannot.

    The portability trick: iterations run UN-normalized, so every
    intermediate score is an exact BIGINT (a1 = in-degree; h1 = Σa1 ≤
    deg·max_deg; a2 = Σh1 ≤ ~1e12 at sf0.1 — int64 headroom bounds
    the sweep count at two, documented), and normalization happens
    ONCE at the end by the integer maximum (max is order-free, unlike
    the textbook L2 norm, whose cross-node float sum would be
    accumulation-order-dependent). Each sweep is one edge-keyed join
    + node-keyed aggregate — the pagerank shuffle shape without the
    teleport bookkeeping. Top-10 per role with (score desc, node)
    deterministic ordering."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey"
    )
    pairs = (
        li.select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .transform(pin)
    )
    a1 = pairs.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("a"))
    h1 = (
        pairs.join(a1, "p")
        .groupBy("s")
        .agg(F.sum("a").cast("long").alias("h"))
    )
    a2 = (
        pairs.join(h1, "s")
        .groupBy("p")
        .agg(F.sum("h").cast("long").alias("a"))
        .transform(pin)
    )
    h2 = (
        pairs.join(a2, "p")
        .groupBy("s")
        .agg(F.sum("a").cast("long").alias("h"))
        .transform(pin)
    )
    amax = a2.agg(F.max("a").alias("m"))
    hmax = h2.agg(F.max("h").alias("m"))
    tops = (
        a2.orderBy(F.col("a").desc(), "p")
        .limit(10)
        .crossJoin(F.broadcast(amax))
        .select(
            F.lit("authority").alias("role"),
            F.concat(F.lit("p"), F.col("p").cast("string")).alias("node"),
            F.round(F.col("a").cast("double") / F.col("m"), 6).alias(
                "score"
            ),
        )
    )
    toph = (
        h2.orderBy(F.col("h").desc(), "s")
        .limit(10)
        .crossJoin(F.broadcast(hmax))
        .select(
            F.lit("hub").alias("role"),
            F.concat(F.lit("s"), F.col("s").cast("string")).alias("node"),
            F.round(F.col("h").cast("double") / F.col("m"), 6).alias(
                "score"
            ),
        )
    )
    return tops.unionByName(toph).orderBy(
        "role", F.col("score").desc(), "node"
    )
