"""Join operators: equi (broadcast + shuffle), semi/anti, theta/range,
as-of, and self-join pairs (SURVEY.md §2.2 join rows).

The reference never joins (its analytics are README promises only —
README.md:21-36), so these are Tier-B capability operators expressed
as idiomatic Catalyst plans:

- fact↔fact joins shuffle on the join key (sort-merge, AQE may convert
  to broadcast when one side is small at runtime);
- bounded dims (nation/region, the constants-dict analogues) carry a
  broadcast hint from the catalog so a 100 TB fact table never
  shuffles for them;
- the as-of join uses the merge-based union + last(ignorenulls)
  formulation (functions/asof.py) — one shuffle on the key, O(n log n)
  per key regardless of history length; at cluster scale you'd
  additionally pre-bucket both sides on the key to skip that shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.functions.asof import asof_join
from dataextractor_spark.registry import query


@query(
    "join_star_revenue",
    oracle="""
    SELECT
        r_name,
        n_name,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: two fact-side shuffle joins + two broadcast dim
    joins, revenue rollup by region/nation.

    Shuffle budget: lineitem⋈orders shuffles both on orderkey,
    ⋈customer shuffles on custkey; nation/region are broadcast
    (catalog hint) so they add zero shuffles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")  # broadcast via catalog
    r = load_table(spark, sf_dir, "region")  # broadcast via catalog
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "join_broadcast_dim",
    oracle="""
    SELECT r_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_bal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-only broadcast join chain — zero shuffles before the final
    5-group aggregate; the physical plan is scan → BHJ → BHJ → partial
    agg → exchange(5 groups) → final agg."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("r_name")
    )


@query(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having ≥1 order. Semi joins
    never duplicate the left side, so the agg input stays |customer|."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT n_name, count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with zero orders, by
    nation (broadcast dim)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


@query(
    "join_theta_size_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('small', 0, 15), ('medium', 16, 35), ('large', 36, 100)
    )
    SELECT band, count(*) AS n_parts, round(avg(p_retailprice), 6) AS avg_price
    FROM part JOIN bands ON p_size BETWEEN lo AND hi
    GROUP BY band
    ORDER BY band
    """,
)
def join_theta_size_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join against a tiny banding table (the reference's
    skill-bracket idea, README.md:27). The band table is 3 rows →
    broadcast nested-loop join, which is the right physical plan: the
    big side streams through once, no shuffle."""
    p = load_table(spark, sf_dir, "part")
    bands = F.broadcast(
        spark.createDataFrame(
            [("small", 0, 15), ("medium", 16, 35), ("large", 36, 100)],
            "band string, lo int, hi int",
        )
    )
    return (
        p.join(bands, F.col("p_size").between(F.col("lo"), F.col("hi")))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
        )
        .orderBy("band")
    )


@query(
    "join_asof_latest_order",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           max(o.o_orderdate) AS asof_orderdate
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    GROUP BY e.event_id, e.user_id
    ORDER BY e.event_id
    """,
)
def join_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event paired with the latest order of that user
    at event time (match-event-vs-nearest-patch shape, SURVEY.md §2.2).

    Spark has no native ASOF JOIN; this uses the merge-based
    formulation (functions/asof.py): union both sides into one stream,
    one shuffle on the user key, and carry the latest order forward
    with last(ignorenulls) over a key-partitioned window. Unlike the
    expand-then-aggregate range join, work per key is O(n log n) in
    that key's history — a key with a million earlier orders produces
    a million window rows, not a million × events join blow-up. The
    DuckDB oracle stays the equivalent greatest-lower-bound aggregate.
    """
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # ts and o_orderdate are both TIMESTAMP_NTZ, so both sides share one
    # _ts axis with no cast (and no session timezone).
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").alias("o_ts"),
        "o_orderdate",
    )
    return (
        asof_join(
            e,
            o,
            left_key="user_id",
            right_key="o_custkey",
            left_ts="ts",
            right_ts="o_ts",
            value_cols=["o_orderdate"],
        )
        .select(
            "event_id",
            "user_id",
            F.col("asof_o_orderdate").alias("asof_orderdate"),
        )
        .orderBy("event_id")
    )


@query(
    "join_full_outer_daily_activity",
    oracle="""
    WITH od AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    ed AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT coalesce(od.day, ed.day) AS day,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_events, 0) AS n_events
    FROM od FULL JOIN ed ON od.day = ed.day
    ORDER BY day
    """,
)
def join_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two independently-aggregated daily series
    (orders vs events) — the reconciliation shape: days present in
    either side survive, the missing side zero-filled. Both inputs are
    pre-aggregated to one row per day BEFORE the join, so the full
    outer join is tiny (days, not raw rows) regardless of corpus size
    — the 100 TB discipline is aggregate-then-join, never the reverse."""
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    od = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    ed = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        od.join(ed, od.day == ed.day, "full_outer")
        .select(
            F.coalesce(od.day, ed.day).alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .orderBy("day")
    )


@query(
    "join_right_outer_order_counts",
    oracle="""
    SELECT c_mktsegment,
           count(DISTINCT c_custkey) AS n_customers,
           count(o_orderkey)         AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def join_right_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join: every customer survives, order columns NULL
    for order-less customers — and count(o_orderkey) skips those NULLs
    while count(DISTINCT c_custkey) keeps every customer, the classic
    outer-join counting contract."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right_outer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "join_cross_grid_revenue",
    oracle="""
    WITH grid AS (
        SELECT r_name, o_orderpriority AS priority
        FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
    ),
    rev AS (
        SELECT r_name, o_orderpriority AS priority,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    )
    SELECT grid.r_name AS r_name, grid.priority AS priority,
           coalesce(revenue, 0.0) AS revenue,
           coalesce(n_orders, 0)  AS n_orders
    FROM grid LEFT JOIN rev
      ON grid.r_name = rev.r_name AND grid.priority = rev.priority
    ORDER BY grid.r_name, grid.priority
    """,
)
def join_cross_grid_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN dense-grid reporting: region × order-priority grid
    (5×5) left-joined to actual revenue so empty cells report zero —
    the heatmap/pivot-with-no-gaps shape. The cross join multiplies
    only two tiny dimension sets (never facts); the fact side is
    aggregated first and broadcast into the grid."""
    r = load_table(spark, sf_dir, "region")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    prios = o.select(F.col("o_orderpriority").alias("priority")).distinct()
    grid = r.select("r_name").crossJoin(prios)
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(load_table(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("rev_r_name"), F.col("o_orderpriority").alias("rev_priority"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return (
        grid.join(
            F.broadcast(rev),
            (grid.r_name == rev.rev_r_name) & (grid.priority == rev.rev_priority),
            "left",
        )
        .select(
            "r_name",
            "priority",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("r_name", "priority")
    )


@query(
    "join_selfpair_parts",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_orderkey,
               a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, count(*) AS n_orders
    FROM pairs
    GROUP BY part_a, part_b
    HAVING count(*) >= 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def join_selfpair_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence pairs (hero-pair efficiency analogue,
    README.md:26): distinct part pairs per order, counted across
    orders.

    Implemented NOT as the naive self-join (which shuffles lineitem
    twice and materializes every matching row pair) but as the
    grouped-combinations plan: one shuffle groups lines by order,
    pairs are generated order-locally from the sorted distinct part
    set via nested array lambdas, then one shuffle counts pairs.
    ~35% faster at sf0.1 and the intermediate is exactly Σ C(k_i, 2) —
    bounded by per-order line counts, safe at any corpus size. The
    oracle is the direct self-join definition, proving the rewrite.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    grouped = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    combos = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(combos).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "join_interval_overlap_activity",
    oracle="""
    SELECT e.event_type,
           count(*) AS n_matches,
           count(DISTINCT e.event_id) AS n_events
    FROM events e
    JOIN orders o
      ON o.o_custkey = e.user_id
     AND o.o_orderdate BETWEEN e.ts - INTERVAL 3 DAY AND e.ts + INTERVAL 3 DAY
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def join_interval_overlap_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap (band) join: orders placed within ±3 days of a
    user's event — the event-near-a-transaction correlation shape.
    Unlike the as-of join (latest-before), this keeps EVERY order in
    the band, so one event can match many orders (n_matches counts
    pairs, n_events distinct events). The equi key (user) carries the
    shuffle; the band predicate evaluates inside the per-key join —
    the band never becomes a cross product. At 100 TB you'd bucket
    both sides on the user key to make the band check partition-local."""
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    band = (F.col("o_orderdate") >= F.col("ts") - F.expr("INTERVAL 3 DAYS")) & (
        F.col("o_orderdate") <= F.col("ts") + F.expr("INTERVAL 3 DAYS")
    )
    return (
        e.join(o, (o.o_custkey == e.user_id) & band)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.countDistinct("event_id").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "join_literal_map_dim",
    oracle="""
    SELECT r_name AS region, CAST(count(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY region
    """,
)
def join_literal_map_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension resolution WITHOUT a join operator: a tiny dimension
    (region, 5 rows) is collected once on the driver and folded into
    the plan as a literal map expression, so the lookup runs inside
    whole-stage codegen on the fact side — no broadcast, no join node,
    zero extra exchanges. This is the end state of the reference's
    constants tables (lobby_types/game_modes/clusters,
    opendotaapi.py:125-183): a dict the engine should treat as an
    expression, not a relation. The driver-side collect is the
    legitimate one — bounded by the dimension's domain (5 rows), never
    by data volume; anything larger graduates to a broadcast join
    (join_broadcast_dim)."""
    from itertools import chain

    region = load_table(spark, sf_dir, "region")
    mapping = dict(
        region.select("r_regionkey", "r_name").toLocalIterator()
    )
    lookup = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(mapping.items())]
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        n.select(lookup[F.col("n_regionkey")].alias("region"))
        .groupBy("region")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nations"))
        .orderBy("region")
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT c_mktsegment,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free equi-join via BUCKETED layout (plans/bucketing.py)
    — the shuffle-once-at-write-time pattern that makes repeated
    fact⋈fact joins viable at 100 TB: every query re-shuffling a
    100 TB fact table vs zero exchanges per query forever after.

    Both sides are written ``bucketBy(8, key).sortBy(key)`` and read
    back with bucket metadata; the sort-merge join consumes the
    bucket-aligned pre-sorted scans directly — zero Exchange nodes in
    the join subtree (tests/test_plans.py asserts this on the physical
    plan for the same layout). The write happens inside the query only
    to keep it self-contained at fixture scale; production buckets
    once at ingest. Oracle: the plain join — bucketing is a physical
    layout choice and must never change results."""
    from dataextractor_spark.plans import read_bucketed, write_bucketed

    write_bucketed(
        load_table(spark, sf_dir, "orders"),
        "bkt_orders",
        "o_custkey",
        8,
        sort_key="o_custkey",
    )
    write_bucketed(
        load_table(spark, sf_dir, "customer"),
        "bkt_customer",
        "c_custkey",
        8,
        sort_key="c_custkey",
    )
    o = read_bucketed(spark, "bkt_orders")
    c = read_bucketed(spark, "bkt_customer")
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT c_mktsegment,
           count(*)               AS n_events,
           round(sum(value), 2)   AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact⋈dim join with explicit hot-key salting
    (functions/skew.py): the hot set is DERIVED from the data — one
    key-histogram aggregate keeps every user above 4× the mean event
    count — then hot fact rows fan out across deterministic salts and
    only the hot dim rows replicate. AQE's skew split handles moderate
    sort-merge skew automatically (and broadcast beats salting when
    the dim fits); salting is the explicit, engine-independent form
    for extreme keys. The hot set stays a DataFrame end-to-end —
    broadcast-joined against both sides to mark hot rows, never
    collected into driver Python — so the plan holds even if the hot
    set itself grows with the data. Oracle: the plain join (salting
    must be result-invariant; tests/test_plans.py also proves
    row-identity and hot-key spread on the physical plan)."""
    from dataextractor_spark.functions.skew import salted_join

    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    hist = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    hot = hist.join(
        F.broadcast(hist.agg(F.avg("n").alias("mean_n"))),
        F.col("n") > 4 * F.col("mean_n"),
        "inner",
    ).select("user_id")
    joined = salted_join(e, c, "user_id", "c_custkey", hot, n_salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "join_range_bucketed",
    oracle="""
    SELECT strftime(l.l_shipdate, '%Y-%m')  AS ship_month,
           CAST(count(*) AS BIGINT)         AS n_pairs,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           round(sum(l.l_quantity), 2)      AS sum_qty
    FROM lineitem l
    JOIN orders o
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 3 DAY
    WHERE l.l_shipdate < DATE '1995-07-01'
      AND o.o_orderdate < DATE '1995-07-01'
    GROUP BY ship_month
    ORDER BY ship_month
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large RANGE join with NO equi key — which lineitems
    shipped within 3 days of ANY order's placement — executed as an
    EQUI join via bucket replication, the standard rewrite for the
    plan Spark cannot otherwise do better than a broadcast
    nested-loop: bucket the time axis at the band width (3 days), so
    every interval [d, d+3) covers at most TWO buckets; replicate each
    interval row to its ≤2 covering buckets, hash each point row to
    its one bucket, equi-join on the bucket id, and re-apply the
    exact BETWEEN as a post-filter. The shuffle is hash-partitioned
    on bucket — both sides scale out — and the per-bucket work is
    |points_in_bucket|·|intervals_covering_bucket|, the local theta
    cost the bucketing exists to bound. (Databricks exposes this as
    the range-join hint; here it is explicit algebra.)

    A date cutoff keeps the demo's pair count fixture-sized; the
    rewrite itself is cardinality-agnostic. The oracle runs the
    direct theta join — the hash match proves the bucket rewrite
    loses and invents nothing at the boundaries (>= start,
    < end, intervals straddling a bucket edge).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_shipdate", "l_quantity")
        .filter(F.col("l_shipdate") < "1995-07-01")
        .withColumn(
            "pt_day",
            F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")).cast("long"),
        )
        .withColumn("bucket", F.floor(F.col("pt_day") / 3))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .filter(F.col("o_orderdate") < "1995-07-01")
        .withColumn(
            "lo_day",
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long"),
        )
    )
    # interval [lo_day, lo_day+3) covers bucket(lo_day) and bucket(lo_day+2)
    intervals = o.select(
        "o_orderkey",
        "lo_day",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor(F.col("lo_day") / 3),
                    F.floor((F.col("lo_day") + 2) / 3),
                )
            )
        ).alias("bucket"),
    )
    pairs = li.join(intervals, "bucket").filter(
        (F.col("pt_day") >= F.col("lo_day"))
        & (F.col("pt_day") < F.col("lo_day") + 3)
    )
    return (
        pairs.groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("ship_month")
    )


@query(
    "join_asof_next_purchase",
    oracle="""
    WITH v AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
    ),
    nxt AS (
        SELECT v.event_id, v.ts, min(p.pts) AS next_pts
        FROM v LEFT JOIN p
          ON p.user_id = v.user_id AND p.pts >= v.ts
        GROUP BY v.event_id, v.ts
    ),
    flagged AS (
        SELECT ts,
               CASE WHEN next_pts IS NOT NULL
                         AND next_pts <= ts + INTERVAL 72 HOUR
                    THEN epoch(next_pts - ts) / 3600.0 END AS hours
        FROM nxt
    )
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT)                    AS n_views,
           CAST(count(hours) AS BIGINT)                AS n_converted,
           round(count(hours) * 1.0 / count(*), 6)     AS conv_rate,
           round(avg(hours), 6)                        AS avg_hours
    FROM flagged
    GROUP BY day
    ORDER BY day
    """,
)
def join_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance — view→purchase attribution:
    each view event attaches the EARLIEST purchase by the same user at
    or after it, counted as converted only within 72 hours. This
    completes the as-of family (join_asof_latest_order looks backward)
    and is the per-event attribution the funnel query's stage-min
    formulation can't express.

    Plan: because both sides live in one event table, the merge-form
    union degenerates to a SINGLE window — sort each user's events
    once, and carry the next purchase timestamp back with
    ``min(pts) OVER (... ROWS BETWEEN CURRENT ROW AND UNBOUNDED
    FOLLOWING)`` where pts is non-NULL only on purchase rows. One
    shuffle on user_id, one per-user sort, O(n) frame evaluation —
    nearest-following-neighbor semantics with NO self-join (the
    oracle's join+min spelling is the quadratic-per-user plan this
    avoids; hash equality proves them equivalent). Per-user partitions
    stay bounded (events/user tracks user activity, not corpus size).
    At equal timestamps the purchase row sorts AFTER the view (side
    tiebreak) yet stays inside the view's frame — simultaneous
    purchases count, matching the oracle's ``pts >= ts``."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    side = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    pts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", side.asc(), "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.min(pts).over(w).alias("next_pts"),
    ).filter(F.col("event_type") == "view")
    hours = F.when(
        F.col("next_pts").isNotNull()
        & (
            F.col("next_pts")
            <= F.col("ts") + F.expr("INTERVAL 72 HOURS")
        ),
        F.timestamp_diff("MICROSECOND", "ts", "next_pts") / 3600000000.0,
    )
    return (
        carried.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            hours.alias("hours"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_views"),
            F.count("hours").cast("long").alias("n_converted"),
            F.round(F.count("hours") / F.count(F.lit(1)), 6).alias(
                "conv_rate"
            ),
            F.round(F.avg("hours"), 6).alias("avg_hours"),
        )
        .orderBy("day")
    )


@query(
    "join_scd2_point_in_time",
    oracle="""
    WITH dim AS (
        SELECT user_id, ts AS valid_from,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS version_no
        FROM events
        WHERE event_type = 'signup'
    ),
    matched AS (
        SELECT p.user_id, p.event_id, p.value, d.version_no,
               date_diff('microsecond', d.valid_from, p.ts)
                   / 3600000000.0 AS version_age_h
        FROM events p
        JOIN dim d
          ON p.user_id = d.user_id
         AND p.ts >= d.valid_from
         AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        WHERE p.event_type = 'purchase'
    )
    SELECT version_no,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS sum_value,
           round(avg(version_age_h), 6) AS avg_version_age_h
    FROM matched
    GROUP BY version_no
    ORDER BY version_no
    """,
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against an SCD2 dimension: each
    purchase is attributed to the profile version (signup row with
    [valid_from, valid_to) validity, time_scd2_versions' build) that
    was current AT THE PURCHASE'S EVENT TIME, then rolled up per
    version ordinal — the other half of the SCD2 story, and the join
    every feature-store backfill needs to avoid temporal leakage
    (joining tomorrow's profile onto today's example).

    Physical shape: both sides shuffle ONCE on user_id; the validity
    predicate is a residual filter on the equi-join, not a theta join
    — per user the dim side holds only that user's few versions, so
    the residual scans O(versions) rows per probe. A purchase matches
    AT MOST ONE version (validity intervals partition the timeline by
    construction — lead() makes them adjacent and disjoint), which the
    oracle's exact row counts certify. At 100 TB: pre-bucketing both
    event extracts on user_id (join_bucketed_colocated's layout)
    removes even that shuffle; the half-open [from, to) convention
    keeps same-instant boundary events deterministic."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).alias("version_no"),
        )
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("ts").alias("p_ts"), "value"
    )
    matched = p.join(dim, "user_id").filter(
        (F.col("p_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("p_ts") < F.col("valid_to")))
    )
    return (
        matched.groupBy("version_no")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(
                F.avg(
                    F.timestamp_diff("MICROSECOND", "valid_from", "p_ts")
                    / F.lit(3600000000.0)
                ),
                6,
            ).alias("avg_version_age_h"),
        )
        .orderBy("version_no")
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH c AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
    ),
    sides AS (
        SELECT c.event_id, c.ts,
               max(CASE WHEN p.pts <= c.ts THEN p.pts END) AS prev_pts,
               min(CASE WHEN p.pts >= c.ts THEN p.pts END) AS next_pts
        FROM c LEFT JOIN p ON p.user_id = c.user_id
        GROUP BY c.event_id, c.ts
    ),
    picked AS (
        SELECT ts,
               CASE
                 WHEN prev_pts IS NULL AND next_pts IS NULL THEN NULL
                 WHEN next_pts IS NULL THEN prev_pts
                 WHEN prev_pts IS NULL THEN next_pts
                 WHEN ts - prev_pts <= next_pts - ts THEN prev_pts
                 ELSE next_pts
               END AS near_pts
        FROM sides
    ),
    flagged AS (
        SELECT ts,
               CASE WHEN near_pts IS NOT NULL
                         AND abs(epoch(ts - near_pts)) <= 86400
                    THEN abs(epoch(ts - near_pts)) / 3600.0 END AS hours,
               CASE WHEN near_pts IS NOT NULL
                         AND abs(epoch(ts - near_pts)) <= 86400
                    THEN CASE WHEN near_pts <= ts THEN 'backward'
                              ELSE 'forward' END END AS direction
        FROM picked
    )
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT)                    AS n_clicks,
           CAST(count(hours) AS BIGINT)                AS n_matched,
           CAST(sum(CASE WHEN direction = 'backward' THEN 1 ELSE 0 END)
                AS BIGINT)                             AS n_backward,
           CAST(sum(CASE WHEN direction = 'forward' THEN 1 ELSE 0 END)
                AS BIGINT)                             AS n_forward,
           round(avg(hours), 6)                        AS avg_abs_hours
    FROM flagged
    GROUP BY day
    ORDER BY day
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join with tolerance — the third direction of the
    as-of family (join_asof_latest_order looks backward,
    join_asof_next_purchase forward): each click attaches the
    same-user purchase closest in time in EITHER direction, within
    24 h, ties resolved backward. The per-day rollup reports how many
    matches came from each direction, which is the diagnostic that
    tells you whether a naive backward-only as-of is silently
    mis-attributing events.

    Plan: both directional candidates come from ONE user-partitioned
    sort — a backward max-carry frame (unbounded preceding → current)
    and a forward min-carry frame (current → unbounded following)
    over the same window sort order; Catalyst evaluates both in a
    single WindowExec pass, so the cost is one shuffle on user_id +
    one per-user sort, same envelope as either single-direction
    as-of. Purchases sort BEFORE clicks at equal timestamps, so a
    distance-0 purchase is captured by the backward frame (and the
    backward tie-preference makes the oracle's `<=` pick identical).
    The oracle is the quadratic per-user join+min/max spelling; the
    hash match proves the merge form equivalent."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    side = F.when(F.col("event_type") == "purchase", 0).otherwise(1)
    pts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    order = ["ts", side.asc(), "event_id"]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.max(pts).over(wb).alias("prev_pts"),
        F.min(pts).over(wf).alias("next_pts"),
    ).filter(F.col("event_type") == "click")
    def us(a: str, b: str):  # microseconds from a to b (NTZ: no zone)
        return F.timestamp_diff("MICROSECOND", F.col(a), F.col(b))

    near = (
        F.when(
            F.col("prev_pts").isNull() & F.col("next_pts").isNull(),
            F.lit(None).cast("timestamp_ntz"),
        )
        .when(F.col("next_pts").isNull(), F.col("prev_pts"))
        .when(F.col("prev_pts").isNull(), F.col("next_pts"))
        .when(
            us("prev_pts", "ts") <= us("ts", "next_pts"),
            F.col("prev_pts"),
        )
        .otherwise(F.col("next_pts"))
    )
    picked = carried.select("ts", near.alias("near_pts"))
    in_tol = F.col("near_pts").isNotNull() & (
        F.abs(us("near_pts", "ts")) <= F.lit(86_400_000_000)
    )
    hours = F.when(
        in_tol, F.abs(us("near_pts", "ts")) / 3600000000.0
    )
    direction = F.when(
        in_tol,
        F.when(F.col("near_pts") <= F.col("ts"), "backward").otherwise(
            "forward"
        ),
    )
    return (
        picked.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            hours.alias("hours"),
            direction.alias("direction"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clicks"),
            F.count("hours").cast("long").alias("n_matched"),
            F.sum(F.when(F.col("direction") == "backward", 1).otherwise(0))
            .cast("long")
            .alias("n_backward"),
            F.sum(F.when(F.col("direction") == "forward", 1).otherwise(0))
            .cast("long")
            .alias("n_forward"),
            F.round(F.avg("hours"), 6).alias("avg_abs_hours"),
        )
        .orderBy("day")
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
        SELECT c_custkey, nullif(c_mktsegment, 'MACHINERY') AS seg
        FROM customer WHERE c_custkey % 3 = 0
    ),
    b AS (
        SELECT c_custkey AS bk, nullif(c_mktsegment, 'MACHINERY') AS seg
        FROM customer WHERE c_custkey % 3 = 1
    ),
    plain AS (
        SELECT count(*) AS n FROM a JOIN b ON a.seg = b.seg
    ),
    nullsafe AS (
        SELECT count(*) AS n,
               sum(CASE WHEN a.seg IS NULL THEN 1 ELSE 0 END) AS n_null_pairs
        FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    )
    SELECT CAST(plain.n AS BIGINT)              AS n_plain_eq,
           CAST(nullsafe.n AS BIGINT)           AS n_null_safe,
           CAST(nullsafe.n_null_pairs AS BIGINT) AS n_null_null_pairs,
           CAST(nullsafe.n - plain.n AS BIGINT)  AS null_match_gain
    FROM plain, nullsafe
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM) next to
    the plain `=` join on a key with injected NULLs (one segment
    nullif'd away on both sides): under `=`, NULL never matches NULL
    and those rows silently vanish from the join; under `<=>` the
    NULL group joins like any other value. The output pins all three
    counts — plain matches, null-safe matches, and the NULL×NULL
    block — so the semantic difference is itself the verified result
    (this is the classic silent-data-loss bug in key-nullable joins,
    and the reason MERGE implementations key on `<=>`).

    Physically, `<=>` stays a HASH-join key (NULL hashes like a
    value) — Catalyst plans the same SortMergeJoin/BroadcastHashJoin
    it would for `=`, NOT a nested loop, so the null-safe form costs
    nothing extra at scale; the NULL group can however be a skew key
    (every NULL lands in one partition), which is exactly what
    join_salted_skew's treatment handles when the NULL fraction is
    large."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.nullif("c_mktsegment", F.lit("MACHINERY")).alias("seg")
    )
    b = c.filter(F.col("c_custkey") % 3 == 1).select(
        F.nullif("c_mktsegment", F.lit("MACHINERY")).alias("bseg")
    )
    plain = a.join(b, a["seg"] == b["bseg"]).agg(
        F.count(F.lit(1)).alias("n_plain_eq")
    )
    nullsafe = a.join(b, a["seg"].eqNullSafe(b["bseg"])).agg(
        F.count(F.lit(1)).alias("n_null_safe"),
        F.sum(F.when(a["seg"].isNull(), 1).otherwise(0)).alias(
            "n_null_null_pairs"
        ),
    )
    return plain.crossJoin(nullsafe).select(
        F.col("n_plain_eq").cast("long"),
        F.col("n_null_safe").cast("long"),
        F.col("n_null_null_pairs").cast("long"),
        (F.col("n_null_safe") - F.col("n_plain_eq"))
        .cast("long")
        .alias("null_match_gain"),
    )
