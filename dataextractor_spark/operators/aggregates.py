"""Aggregation depth: distinct counts, rollup/cube/grouping sets,
order statistics, and 2-D binning (SURVEY.md §2.2 aggregation rows).

All of these compile to partial (map-side) + final hash aggregates —
the only data crossing the wire is one pre-aggregated row per
(partition, group), which is what makes them 100 TB-safe. The approx
variants (HLL distinct) exist precisely for the scale path where exact
distinct would shuffle every key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.pins import pin
from dataextractor_spark.registry import query


@query(
    "agg_count_distinct",
    oracle="""
    SELECT
        l_returnflag,
        count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_suppkey) AS n_suppliers,
        count(*)                  AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact distinct: Spark expands this to the
    two-phase expand+aggregate plan automatically."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query("agg_approx_distinct")  # no oracle: HLL sketches differ across engines
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct — THE scale path for distinct at 100 TB
    (constant memory per group, no key shuffle). Not oracle-comparable
    (sketch algorithms differ per engine) → rows-only check; the unit
    test asserts ≤2% relative error vs exact instead."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT
        coalesce(l_returnflag, 'ALL') AS returnflag,
        coalesce(l_linestatus, 'ALL') AS linestatus,
        round(sum(l_quantity), 2)     AS sum_qty,
        count(*)                      AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (per-flag×status, per-flag, grand total) —
    the per-hero × per-bracket × overall shape (README.md:27).
    NULL grouping slots are coalesced to 'ALL' on both sides so the
    value hash is unambiguous."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT
        coalesce(o_orderstatus, 'ALL')   AS orderstatus,
        coalesce(o_orderpriority, 'ALL') AS orderpriority,
        count(*)                         AS n,
        round(sum(o_totalprice), 2)      AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY orderstatus, orderpriority
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over status×priority (all 4 grouping combinations in
    one pass via Expand)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n",
            "total",
        )
        .orderBy("orderstatus", "orderpriority")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT
        coalesce(c_mktsegment, 'ALL') AS segment,
        coalesce(n_name, 'ALL')       AS nation,
        count(*)                      AS n,
        round(sum(c_acctbal), 2)      AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((c_mktsegment), (n_name))
    ORDER BY segment, nation
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: per-segment and per-nation totals in a
    single Expand pass (no double scan)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return spark.sql(
        """
        SELECT
            coalesce(c_mktsegment, 'ALL') AS segment,
            coalesce(n_name, 'ALL')       AS nation,
            count(*)                      AS n,
            round(sum(c_acctbal), 2)      AS total_bal
        FROM {j}
        GROUP BY GROUPING SETS ((c_mktsegment), (n_name))
        ORDER BY segment, nation
        """,
        j=c.join(n, c.c_nationkey == n.n_nationkey),
    )


@query(
    "agg_stats",
    oracle="""
    SELECT
        o_orderstatus,
        round(avg(o_totalprice), 6)         AS avg_price,
        round(stddev_samp(o_totalprice), 4) AS std_price,
        round(min(o_totalprice), 2)         AS min_price,
        round(max(o_totalprice), 2)         AS max_price,
        count(*)                            AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution moments per group (gold/XP-distribution analogue,
    README.md:32)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
            F.round(F.stddev_samp("o_totalprice"), 4).alias("std_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT
        o_orderstatus,
        round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
        round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        round(quantile_cont(o_totalprice, 0.90), 4) AS p90
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≙ DuckDB
    `quantile_cont`, both linear interpolation). All four quantiles
    come from ONE array-percentile aggregate — a single per-group
    value buffer and one sort, instead of four independent aggregate
    buffers each re-sorting the group (measured ~1.9 s → ~1.2 s at
    sf0.1). At 100 TB you'd switch to `approx_percentile`
    (t-digest-style, no sort) — exposed here as the exact baseline the
    approx path is validated against."""
    o = load_table(spark, sf_dir, "orders")
    qs = F.percentile(
        "o_totalprice",
        F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75), F.lit(0.90)),
    )
    return (
        o.groupBy("o_orderstatus")
        .agg(qs.alias("qs"))
        .select(
            "o_orderstatus",
            *[
                F.round(F.element_at("qs", i + 1), 4).alias(name)
                for i, name in enumerate(["p25", "p50", "p75", "p90"])
            ],
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_heatmap_bins",
    oracle="""
    SELECT
        CAST(floor(value / 50) AS BIGINT) AS value_bin,
        CAST(hour(ts) AS BIGINT)          AS hour_bin,
        count(*)                          AS n,
        round(sum(value), 2)              AS sum_value
    FROM events
    GROUP BY value_bin, hour_bin
    ORDER BY value_bin, hour_bin
    """,
)
def agg_heatmap_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D binning grid (movement-heatmap analogue, README.md:36):
    floor-binned value × hour-of-day. Pure hash aggregate on derived
    keys — the canonical heatmap shape at any scale."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.floor(F.col("value") / 50).cast("long").alias("value_bin"),
            F.hour("ts").cast("long").alias("hour_bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("value_bin", "hour_bin")
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 12
    ORDER BY spend DESC, o_custkey
    LIMIT 25
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) + top-k of heavy customers."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
        .filter(F.col("n_orders") >= 12)
        .orderBy(F.col("spend").desc(), "o_custkey")
        .limit(25)
    )


@query(
    "agg_mode_median",
    oracle="""
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    modes AS (
        SELECT o_orderstatus, o_orderpriority AS mode_priority
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_orderstatus
                ORDER BY cnt DESC, o_orderpriority ASC
            ) AS rn
            FROM counts
        ) WHERE rn = 1
    )
    SELECT s.o_orderstatus,
           m.mode_priority,
           round(median(s.o_totalprice), 2) AS median_price,
           CAST(count(*) AS BIGINT)         AS n_orders
    FROM orders s JOIN modes m USING (o_orderstatus)
    GROUP BY s.o_orderstatus, m.mode_priority
    ORDER BY s.o_orderstatus
    """,
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode + exact median per group. The mode is computed
    deterministically (count per value, row_number with an explicit
    value tiebreak) rather than via engine mode() builtins, whose
    tie-breaking differs between engines. Both halves are two-level
    hash aggregates; the per-group value-count table is
    cardinality-bounded by |status|x|priority| (tiny), so the ranking
    window runs on a dimension-sized input at any fact-table scale."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    modes = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority")
        )
    )
    return (
        o.join(F.broadcast(modes), "o_orderstatus")
        .groupBy("o_orderstatus", "mode_priority")
        .agg(
            F.round(F.median("o_totalprice"), 2).alias("median_price"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY 1
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked,
           (SELECT count(*) FROM p) AS n_purchased,
           round((SELECT count(*) FROM c)::DOUBLE
                 / (SELECT count(*) FROM v), 6) AS click_through,
           round((SELECT count(*) FROM p)::DOUBLE
                 / (SELECT count(*) FROM c), 6) AS purchase_conv
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view -> later click -> later purchase)
    with per-stage conversion rates — the timeline-analysis shape the
    reference's README promises (README.md:31) done as staged
    event-time aggregation.

    Each stage is a filtered min-timestamp aggregate joined to the
    previous stage's per-user table; stage tables are user-dimension-
    sized (one row per surviving user), so successive joins shrink
    monotonically, and each stage is a partial+final hash agg on
    user_id. The event scan is filtered to one event_type per stage,
    so predicate pushdown keeps each pass narrow."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewed"))
    nc = c.agg(F.count(F.lit(1)).alias("n_clicked"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchased"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_viewed",
            "n_clicked",
            "n_purchased",
            F.round(
                F.col("n_clicked").cast("double") / F.col("n_viewed"), 6
            ).alias("click_through"),
            F.round(
                F.col("n_purchased").cast("double") / F.col("n_clicked"), 6
            ).alias("purchase_conv"),
        )
    )


@query(
    "agg_conditional_filter",
    oracle="""
    SELECT o_orderpriority,
        count(*) AS n_orders,
        count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        round(avg(CASE WHEN o_totalprice > 200000 THEN 1.0 ELSE 0.0 END), 6)
            AS big_share,
        round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2)
            AS f_revenue
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_conditional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation — FILTER/count_if/sum(CASE) in one pass.
    One scan, one aggregate: every conditional metric folds into the
    same partial-agg buffers, so adding conditions never adds scans or
    shuffles (the anti-pattern is one query per condition)."""
    o = load_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 200000
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(big).alias("n_big"),
            F.round(F.avg(F.when(big, 1.0).otherwise(0.0)), 6).alias("big_share"),
            F.round(
                F.sum(
                    F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0)
                ),
                2,
            ).alias("f_revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_string_listagg",
    oracle="""
    SELECT r_name,
           count(*) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def agg_string_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (LISTAGG/string_agg): per-region alphabetized
    nation roster. Spark has no ordered string_agg aggregate, so the
    deterministic form is collect_list → array_sort → concat_ws —
    sorting INSIDE the row after the aggregate, which keeps the
    aggregate itself order-insensitive (safe under any partitioning)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
                "nations"
            ),
        )
        .orderBy("r_name")
    )


@query(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)        AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4)  AS qty_price_covar,
           round(regr_slope(l_extendedprice, l_quantity), 4)  AS price_per_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group — correlation, sample covariance,
    and the least-squares slope (price-vs-quantity regression), all
    single-pass streaming aggregates (Welford-style accumulators in
    both engines, no sort, no materialized pair lists)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_covar"
            ),
            F.round(
                F.regr_slope("l_extendedprice", "l_quantity"), 4
            ).alias("price_per_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 13
                     ELSE CAST(floor(o_totalprice / 50000) AS BIGINT) + 1
                END AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 1-D histogram over order value via `width_bucket`
    (12 buckets on [0, 600k) plus under/overflow 0 and 13) — the
    gold/XP-distribution shape from README.md:32, and the profiling
    primitive behind any quality-score threshold choice. The oracle
    spells out width_bucket's exact bucket arithmetic. Single hash
    aggregate with map-side partials; output is bounded by the bucket
    count at any data scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.expr("width_bucket(o_totalprice, 0.0d, 600000.0d, 12)")
            .cast("long")
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@query("agg_hll_sketch_merge")  # sketch-based → rows-only; ≤2 % of exact in tests
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct sketches (Apache DataSketches HLL) — the
    pre-aggregation pattern that makes distinct counts FREE at query
    time at 100 TB: build per-(status, month) sketches once at ingest
    (a sketch table, bytes per group instead of the raw key stream),
    then answer any coarser rollup by UNIONING sketches — no rescan of
    the fact table.

    The contract is HLL error, not bit equality: a DataSketches
    estimate depends on the merge tree, i.e. on which partial sketches
    meet first, which follows the input partitioning. The per-month
    sketches themselves move with it (status F at sf0.1 read 14508 on
    the scan's own partitioning, 14501 after repartition(3), 14504
    after repartition(16); exact 14489), and folding the unions in
    month order gives the same estimates as hll_union_agg, so no sort
    makes the rows partitioning-independent. The estimate stays within
    HLL error of the exact distinct count (≤2 % pinned in
    tests/test_scale_paths). approx_count_distinct
    (agg_approx_distinct) gives one-shot estimates; hll_sketch_agg is
    the layered form real warehouses materialize."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderstatus", F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.hll_sketch_agg("o_custkey", 14).alias("sk"))
    return (
        monthly.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_month_sketches"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers"),
        )
        .orderBy("o_orderstatus")
    )


@query("agg_frequent_items")  # one-pass sketch → rows-only; superset in tests
def agg_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters in ONE pass with bounded memory
    (``DataFrame.stat.freqItems``, the Karp/Misra–Gries family): every
    value occurring in > 1/k of rows is guaranteed present (possible
    false positives, no false negatives — the useful direction for
    hot-key/hot-token detection feeding the skew-salting and LSH-cap
    operators). The 100 TB alternative — exact groupBy+filter — costs
    a full key shuffle; the sketch costs one scan and k counters per
    partition. tests/test_scale_paths.py pins the superset contract
    against the exact heavy-hitter set; output is the sketch result
    sorted, with membership of the exact hitters marked."""
    e = load_table(spark, sf_dir, "events")
    k = 20  # report values above 1/20 of the stream
    sketch_items = e.select("event_type").stat.freqItems(["event_type"], 1 / k)
    items = sketch_items.select(
        F.explode("event_type_freqItems").alias("event_type")
    )
    n_total = e.agg(F.count(F.lit(1)).alias("n_total"))
    exact = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        items.join(exact, "event_type", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "event_type",
            "n",
            (F.col("n") * k > F.col("n_total")).alias("above_threshold"),
        )
        .orderBy(F.col("n").desc(), "event_type")
    )


#: relational Bloom filter sizing: m bits, k probes. At ~1k build keys
#: the fill factor is ~0.5 and the false-positive rate ~(1/2)^k —
#: large enough to OBSERVE false positives, which is what the audit
#: exists to measure.
BLOOM_M_BITS = 4096
BLOOM_K = 3


def _bloom_pos_spark(key_expr: str, seed: int) -> str:
    """Probe position seed ‖ ':' ‖ key → md5 → first 8 hex chars →
    int % m. Spark spelling (conv); the oracle uses DuckDB's
    CAST('0x…' AS BIGINT) — identical value, different parser."""
    return (
        f"cast(conv(substring(md5(concat('{seed}:', cast({key_expr} as string)))"
        f", 1, 8), 16, 10) as bigint) % {BLOOM_M_BITS}"
    )


def _bloom_pos_duck(key_expr: str, seed: int) -> str:
    return (
        f"CAST('0x' || substring(md5('{seed}:' || CAST({key_expr} AS VARCHAR))"
        f", 1, 8) AS BIGINT) % {BLOOM_M_BITS}"
    )


_BLOOM_ORACLE = f"""
    WITH build AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000
    ),
    bits AS (
        SELECT DISTINCT pos FROM (
            {" UNION ALL ".join(
                f"SELECT {_bloom_pos_duck('o_custkey', s)} AS pos FROM build"
                for s in range(BLOOM_K)
            )}
        )
    ),
    probes AS (
        SELECT c_custkey, pos FROM (
            {" UNION ALL ".join(
                f"SELECT c_custkey, {_bloom_pos_duck('c_custkey', s)} AS pos"
                " FROM customer"
                for s in range(BLOOM_K)
            )}
        )
    ),
    positive AS (
        SELECT c_custkey
        FROM probes JOIN bits USING (pos)
        GROUP BY c_custkey
        HAVING count(*) = {BLOOM_K}
    ),
    exact AS (
        SELECT c_custkey FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM build)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM build)    AS n_build_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM bits)     AS n_bits_set,
           (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_customers,
           (SELECT CAST(count(*) AS BIGINT) FROM exact)    AS n_exact_members,
           (SELECT CAST(count(*) AS BIGINT) FROM positive) AS n_bloom_positives,
           (SELECT CAST(count(*) AS BIGINT) FROM positive)
             - (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_false_positives,
           (SELECT CAST(count(*) AS BIGINT)
            FROM exact
            WHERE c_custkey NOT IN (SELECT c_custkey FROM positive))
                                                           AS n_false_negatives
"""


@query("agg_bloom_filter_audit", oracle=_BLOOM_ORACLE)
def agg_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership as pure relational algebra, with its
    false-positive rate MEASURED rather than assumed — the audit a
    pipeline runs before trusting a bloom pre-filter on a 100 TB join
    (Spark's own runtime injects bloom_filter_agg/might_contain; this
    query is the engine-portable, oracle-checkable equivalent).

    Construction: the filter IS a distinct bit-position table — every
    build key hashes to k=3 positions (md5-derived, engine-portable),
    and DISTINCT caps the table at m=4096 rows no matter how many
    build keys exist: bounded state, exactly like the bitset it
    models. A candidate is bloom-positive iff all k of its positions
    join against the bit table (GROUP BY candidate HAVING count = k).
    No false negatives is STRUCTURAL (a member's positions are all
    set by construction) — and the audit proves it by reporting
    n_false_negatives, which the oracle pins to the same value (0).
    False positives are real hash collisions: n_false_positives > 0
    at this sizing (fill ≈ 0.5, fp ≈ 2^-k), which is the honest
    trade a bloom pre-filter makes.

    Plan shape: build-side distinct (one shuffle of keys), the k
    probe expansions are narrow, the membership join is keyed on a
    ≤m-row broadcastable bit table, and the seven audit counts stitch
    into ONE lazy plan via 1-row cross joins (the
    profile_constraint_checks discipline: one job, no driver loops).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # Shape note (r12): the k-position fan-out is ONE explode over the
    # array of the k hash expressions — the former per-seed unionAll
    # scanned its input once PER HASH SEED, which compounded across
    # the seven re-derived audit branches to 21 parquet scans / 23
    # exchanges (committed before-plan); explode emits the identical
    # (key, pos) multiset from one pass. Lazy checkpoints of the
    # shared branches were also tried and REVERTED: they measured
    # slower than the re-derivation they save (paired vs the same
    # base: 0.74 with all four pins, 0.95 with a build-only pin,
    # 0.52-0.70 for explode alone) — the audit's subtrees are small
    # distinct/semi-join sets, cheaper to recompute from page-cached
    # parquet than to materialize.
    build = (
        o.filter(F.col("o_totalprice") > 400000)
        .select("o_custkey")
        .distinct()
    )
    bits = (
        build.select(
            F.explode(
                F.array(
                    *[
                        F.expr(_bloom_pos_spark("o_custkey", s))
                        for s in range(BLOOM_K)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
    )
    probes = c.select(
        "c_custkey",
        F.explode(
            F.array(
                *[
                    F.expr(_bloom_pos_spark("c_custkey", s))
                    for s in range(BLOOM_K)
                ]
            )
        ).alias("pos"),
    )
    positive = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == BLOOM_K)
        .select("c_custkey")
    )
    exact = (
        c.select("c_custkey")
        .join(build, c.c_custkey == build.o_custkey, "left_semi")
    )
    fn = exact.join(positive, "c_custkey", "left_anti")

    agg = lambda df, name: df.agg(F.count(F.lit(1)).cast("long").alias(name))  # noqa: E731
    return (
        agg(build, "n_build_keys")
        .crossJoin(agg(bits, "n_bits_set"))
        .crossJoin(agg(c, "n_customers"))
        .crossJoin(agg(exact, "n_exact_members"))
        .crossJoin(agg(positive, "n_bloom_positives"))
        .withColumn(
            "n_false_positives",
            F.col("n_bloom_positives") - F.col("n_exact_members"),
        )
        .crossJoin(agg(fn, "n_false_negatives"))
    )


@query(
    "agg_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT)       AS n,
           round(min(d.med), 6)           AS med,
           round(min(mad.mad), 6)         AS mad,
           CAST(sum(CASE WHEN round(0.6745 * d.adev / mad.mad, 6) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(avg(CASE WHEN round(0.6745 * d.adev / mad.mad, 6) > 3.5
                          THEN 1.0 ELSE 0.0 END), 6)  AS outlier_rate
    FROM dev d JOIN mad USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def agg_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: the modified z-score
    (Iglewicz & Hoaglin 1993) — 0.6745·|x − median| / MAD > 3.5 —
    flags outliers against MEDIAN and MAD instead of mean/stddev, so a
    burst of extreme values cannot drag the baseline toward itself
    (the failure mode of z-score monitoring on heavy-tailed metrics).

    Two robust location passes, both exact medians, computed as WINDOW
    aggregates over one type-keyed partition (r13, guide §2.4): the
    r12 broadcast-join form re-derived the events scan FOUR times (the
    med aggregate ran inside both dev branches) and shuffled the value
    stream through two separate percentile aggregates; partitioning
    once by event_type attaches the per-type median in place, derives
    adev, attaches MAD over the SAME partitioning (no second
    exchange), and feeds the type-keyed rollup without re-exchanging —
    one scan, one shuffle. Values are bit-identical: both forms run
    the same exact Percentile over the same per-type value multiset
    (order-free — it sorts internally), and the flag expression is
    unchanged. Per-type state concentration is the same as the
    grouped-percentile form (exact medians buffer their group either
    way). The flag ratio is rounded identically in both engines
    before the 3.5 comparison so a 1-ulp division difference cannot
    flip a row across the threshold.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    w = Window.partitionBy("event_type")
    dev = e.withColumn(
        "med", F.percentile("value", F.lit(0.5)).over(w)
    ).withColumn("adev", F.abs(F.col("value") - F.col("med")))
    flagged = dev.withColumn(
        "mad", F.percentile("adev", F.lit(0.5)).over(w)
    ).withColumn(
        "is_out",
        (
            F.round(0.6745 * F.col("adev") / F.col("mad"), 6) > 3.5
        ).cast("int"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum("is_out").cast("long").alias("n_outliers"),
            F.round(F.avg(F.col("is_out").cast("double")), 6).alias(
                "outlier_rate"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    WITH monthly AS (
        SELECT o_orderpriority,
               date_trunc('month', o_orderdate) AS month,
               o_custkey
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(DISTINCT month) AS BIGINT)     AS n_months,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers_direct,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers_merged
    FROM monthly
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via integer bitmaps
    (``bitmap_bucket_number`` / ``bitmap_construct_agg`` /
    ``bitmap_or_agg`` / ``bitmap_count``) — the third point on the
    distinct-count design spectrum: ``agg_approx_distinct`` is one
    pass but approximate, ``agg_hll_sketch_merge`` is mergeable but
    approximate, bitmaps are mergeable AND exact (for integer keys).
    Each key claims one bit of a 32k-bit bucket, so per-group state is
    ``n_keys/32768`` fixed-width binaries instead of the raw key
    stream; a coarser rollup ORs the pre-aggregated bitmaps — no
    rescan of the fact table, and OR-union is lossless, so the oracle
    can pin BOTH the direct and the merged counts to plain
    count(DISTINCT). At 100 TB this is the pattern behind exact
    distinct-user dashboards (Spark's own bitmap functions; the
    roaring-bitmap variant in warehouses): the shuffle moves
    (group, bucket, bitmap) rows whose count is bounded by the key
    domain / 32768 per group, never the fact rows. The direct and
    merged paths share the single monthly bitmap build (one fact-table
    scan + one shuffle; the rollup reuses its output)."""
    o = load_table(spark, sf_dir, "orders")
    pos = o.select(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.bitmap_bucket_number("o_custkey").alias("bkt"),
        F.bitmap_bit_position("o_custkey").alias("bit"),
    )
    # ingest-time state: one bitmap per (priority, month, bucket).
    # Lazily checkpointed because TWO rollups below consume it — the
    # checkpoint is what makes "pre-aggregate once, roll up many"
    # real in one plan (without it Spark re-derives the aggregate,
    # i.e. rescans the fact table, per consumer).
    monthly = (
        pos.groupBy("o_orderpriority", "month", "bkt")
        .agg(F.bitmap_construct_agg("bit").alias("bm"))
        .transform(pin)
    )
    # query-time rollups reuse the SAME pre-aggregated bitmaps:
    # month-level counts summed per priority would double-count; the
    # OR-merge is the lossless union.
    merged = (
        monthly.groupBy("o_orderpriority", "bkt")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.bitmap_count("bm")).cast("long").alias("n_customers_merged")
        )
    )
    # months-per-priority comes off the (tiny) bitmap-state table too —
    # the fact table is scanned exactly twice (direct + monthly build),
    # never for this rollup.
    months = monthly.groupBy("o_orderpriority").agg(
        F.countDistinct("month").cast("long").alias("n_months")
    )
    direct = (
        pos.groupBy("o_orderpriority", "bkt")
        .agg(F.bitmap_construct_agg("bit").alias("bm"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_customers_direct"))
    )
    return (
        direct.join(merged, "o_orderpriority")
        .join(months, "o_orderpriority")
        .select(
            "o_orderpriority", "n_months", "n_customers_direct",
            "n_customers_merged",
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH ranked AS (
        SELECT l_suppkey, l_extendedprice, l_quantity,
               sum(l_quantity) OVER (PARTITION BY l_suppkey
                                     ORDER BY l_extendedprice
                                     ROWS UNBOUNDED PRECEDING) AS cumw,
               sum(l_quantity) OVER (PARTITION BY l_suppkey)   AS totw
        FROM lineitem
    )
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT)                       AS n_items,
           round(min(totw), 2)                            AS total_qty,
           round(min(CASE WHEN cumw >= totw * 0.5
                          THEN l_extendedprice END), 2)   AS w_median,
           round(min(CASE WHEN cumw >= totw * 0.9
                          THEN l_extendedprice END), 2)   AS w_p90
    FROM ranked
    GROUP BY l_suppkey
    ORDER BY w_median DESC, l_suppkey
    LIMIT 15
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted quantiles (median + p90) of item price weighted
    by quantity, per supplier — the quantity-weighted order statistic
    percentile()/median() can't express (they weight rows equally; a
    10-unit line must count 10×). One per-supplier sort + cumulative
    weight, then the quantile is the smallest value whose cumulative
    weight reaches q·total — deterministic under price ties because
    every row of a tied block shares the reported value. Scale: the
    window partitions on the supplier key, and lineitems-per-supplier
    is a property of the schema (orders spread across suppliers), not
    of corpus size — partitions stay bounded as the fact table grows,
    unlike a global-ntile plan. Both engines run the identical
    integer-free arithmetic (DOUBLE quantities summed in the same
    price order), so the hash match pins the full cumw tie logic."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_quantity"
    )
    w_cum = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_suppkey")
    ranked = li.select(
        "l_suppkey",
        "l_extendedprice",
        F.sum("l_quantity").over(w_cum).alias("cumw"),
        F.sum("l_quantity").over(w_all).alias("totw"),
    )
    return (
        ranked.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(F.min("totw"), 2).alias("total_qty"),
            F.round(
                F.min(
                    F.when(
                        F.col("cumw") >= F.col("totw") * 0.5,
                        F.col("l_extendedprice"),
                    )
                ),
                2,
            ).alias("w_median"),
            F.round(
                F.min(
                    F.when(
                        F.col("cumw") >= F.col("totw") * 0.9,
                        F.col("l_extendedprice"),
                    )
                ),
                2,
            ).alias("w_p90"),
        )
        .orderBy(F.col("w_median").desc(), "l_suppkey")
        .limit(15)
    )


@query("agg_hll_intersection")  # sketch estimates → rows-only; error pinned in tests
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: estimated customer-audience overlap between
    adjacent order years via inclusion-exclusion over HLL sketches —
    |A∩B| ≈ est(A) + est(B) − est(A∪B). HLL only unions natively;
    this is the standard way warehouses answer "how many users did
    BOTH campaigns touch" from per-campaign sketch state WITHOUT
    rescanning raw keys: one sketch per year at ingest (bytes per
    group), any pairwise overlap at query time from unions of
    pre-aggregated state. The exact overlap (distinct-key semi-join)
    is emitted alongside so the estimate's error is VISIBLE in the
    output — and pinned ≤5% relative in tests/test_scale_paths.py
    (inclusion-exclusion compounds the three estimates' errors; that
    compounding is why the contract is looser than raw HLL's ≤2%)."""
    # NOTE (r12): the sketch aggregate must stay byte-identical to the
    # original raw-input form — a distinct pre-pass was prototyped
    # (registers are duplicate-insensitive) and REVERTED because the
    # DataSketches HLL *estimate* is insertion-order / merge-tree
    # dependent (HIP accumulator), so the emitted estimates changed.
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"), "o_custkey"
    )
    sk = (
        o.groupBy("yr")
        .agg(
            F.hll_sketch_agg("o_custkey", 14).alias("sk"),
            F.countDistinct("o_custkey").cast("long").alias("exact_n"),
        )
        # kept for values: unpinned, sf0.1 HLL estimates drift
        # (est_a 11722 → 11720, est_intersection 9149 → 9170)
        .transform(pin)
    )
    # the EXACT branch is estimate-free: it can (and does) run on one
    # distinct (yr, custkey) pass instead of two raw orders scans +
    # a countDistinct Expand — integer outputs identical (guide §2.3)
    oc = o.distinct()
    a = sk.select(
        F.col("yr").alias("yr_a"), F.col("sk").alias("sk_a"),
        F.col("exact_n").alias("exact_a"),
    )
    b = sk.select(
        (F.col("yr") - 1).alias("yr_a"), F.col("sk").alias("sk_b"),
        F.col("exact_n").alias("exact_b"),
    )
    pairs = a.join(b, "yr_a").select(
        "yr_a",
        (F.col("yr_a") + 1).alias("yr_b"),
        F.hll_sketch_estimate("sk_a").alias("est_a"),
        F.hll_sketch_estimate("sk_b").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias(
            "est_union"
        ),
    )
    exact = (
        oc.select((F.col("yr") - 1).alias("yr_a"), "o_custkey")
        .join(
            oc.select(F.col("yr").alias("yr_a"), "o_custkey"),
            ["yr_a", "o_custkey"],
            "left_semi",
        )
        # left side is distinct on (yr_a, o_custkey), so plain count
        # equals the former countDistinct exactly
        .groupBy("yr_a")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    return (
        pairs.join(exact, "yr_a", "left")
        .select(
            "yr_a",
            "yr_b",
            F.col("est_a").cast("long").alias("est_a"),
            F.col("est_b").cast("long").alias("est_b"),
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("long")
            .alias("est_intersection"),
            F.coalesce("exact_intersection", F.lit(0)).alias(
                "exact_intersection"
            ),
        )
        .orderBy("yr_a")
    )


@query(
    "agg_higher_moments",
    oracle="""
    WITH m AS (
        SELECT p_type,
               CAST(count(*) AS DOUBLE)                       AS n,
               CAST(sum(p_size) AS DOUBLE)                    AS s1,
               CAST(sum(p_size * p_size) AS DOUBLE)           AS s2,
               CAST(sum(p_size * p_size * p_size) AS DOUBLE)  AS s3,
               CAST(sum(p_size * p_size * p_size * p_size) AS DOUBLE) AS s4
        FROM part GROUP BY p_type
    )
    SELECT p_type,
           CAST(n AS BIGINT) AS n,
           round(s1 / n, 6) AS mean,
           round(s2 / n - (s1 / n) * (s1 / n), 6) AS var_pop,
           round((s3 / n - 3 * (s1 / n) * (s2 / n)
                  + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
           round((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 6)
               AS kurtosis_excess
    FROM m ORDER BY p_type
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shape (skewness, excess kurtosis) from RAW POWER
    SUMS — the single-pass mergeable formulation: (n, Σx, Σx², Σx³,
    Σx⁴) is a monoid, so partial aggregates combine across partitions,
    batches, or days exactly like etl_incremental_agg_merge's
    (sum, count) state, and every shape statistic derives at read
    time. Integer inputs keep all five sums EXACT in doubles, which is
    why an engine-portable oracle is possible at all (power sums of
    large floats would be accumulation-order-dependent — the float
    caveat text_bm25_search documents). Spark's built-in
    skewness()/kurtosis() compute the same population moments via
    streaming central-moment updates; tests pin builtin ≡ this formula
    to 1e-9, making the builtins certified-by-proxy. The catastrophic-
    cancellation hazard of power sums on large-mean data is real and
    documented — the builtin's shifted accumulation is the production
    answer there; this query's p_size domain (1..50) is safely
    conditioned."""
    p = load_table(spark, sf_dir, "part")
    x = F.col("p_size").cast("double")
    m = p.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = F.col("s3") / F.col("n") - 3 * mu * (F.col("s2") / F.col("n")) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mu * (F.col("s3") / F.col("n"))
        + 6 * mu * mu * (F.col("s2") / F.col("n"))
        - 3 * mu * mu * mu * mu
    )
    return m.select(
        "p_type",
        F.col("n").cast("long").alias("n"),
        F.round(mu, 6).alias("mean"),
        F.round(m2, 6).alias("var_pop"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / F.pow(m2, 2.0) - 3, 6).alias("kurtosis_excess"),
    ).orderBy("p_type")


#: Count-min sizing: d hash rows × w counters. At ~100 distinct
#: suppliers over w=256 counters collisions are present but sparse —
#: large enough to OBSERVE nonzero overestimates, which is what the
#: audit measures (same philosophy as BLOOM_M_BITS above).
CM_W = 256
CM_D = 3


@query(
    "agg_countmin_heavyhitters",
    oracle=f"""
    WITH exact AS (
        SELECT l_suppkey, count(*) AS exact_n FROM lineitem GROUP BY l_suppkey
    ),
    keyed AS (
        SELECT l_suppkey, exact_n, seed,
               CAST('0x' || substring(md5(CAST(seed AS VARCHAR) || ':'
                        || CAST(l_suppkey AS VARCHAR)), 1, 8) AS BIGINT)
                   % {CM_W} AS pos
        FROM exact, (SELECT unnest(range({CM_D})) AS seed)
    ),
    counters AS (
        SELECT seed, pos, sum(exact_n) AS c FROM keyed GROUP BY seed, pos
    ),
    est AS (
        SELECT p.l_suppkey, min(c.c) AS cm_estimate
        FROM keyed p JOIN counters c USING (seed, pos)
        GROUP BY p.l_suppkey
    )
    SELECT l_suppkey,
           CAST(exact_n AS BIGINT) AS exact_n,
           CAST(cm_estimate AS BIGINT) AS cm_estimate,
           CAST(cm_estimate - exact_n AS BIGINT) AS overestimate
    FROM exact JOIN est USING (l_suppkey)
    ORDER BY exact_n DESC, l_suppkey
    LIMIT 20
    """,
)
def agg_countmin_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan '05) as a relational
    plan, audited against exact counts: per-supplier lineitem
    frequencies estimated from a d×w counter grid ({CM_D}×{CM_W}),
    top-20 heavy hitters reported with their guaranteed-one-sided
    overestimate made visible. Completes the mergeable-sketch family:
    HLL (distinct), bloom (membership), bitmap (exact distinct),
    count-min (frequency).

    Sketch state is the d×w counter table — CONSTANT-size (768 rows
    here) regardless of fact volume. Counter sums COMMUTE with
    pre-aggregation (counter[j,p] = Σ of the counts of the keys
    hashing to p), so the plan's single fact-sized operation is the
    per-key hash aggregate it needs for the exact audit anyway;
    hashing, the d-way expansion, the grid build, and the probe join
    all run on the key-sized table (one md5 per key×seed, not per
    row×seed — this halved-and-more the measured cost vs the
    row-expansion formulation, 3.2 s → key-bounded at sf0.1). The
    positions are the bloom audit's engine-portable md5 idiom
    (seed ‖ ':' ‖ key), so the DuckDB hash match pins every counter
    cell, not just the top line. The same commutativity is the 100 TB
    merge story: shards/days maintain local d×w grids built from
    their partial counts and combine by addition without revisiting
    rows; the min-over-d estimate never undercounts, and the audit
    column shows exactly where collisions inflated it."""
    li = load_table(spark, sf_dir, "lineitem")
    # key-bounded, feeds three consumers (grid build, probe, audit
    # join) — pin it so the fact table is scanned exactly once
    exact = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .transform(pin)
    )
    seeds = F.explode(
        F.array(*[F.lit(s) for s in range(CM_D)])
    ).alias("seed")
    pos = F.expr(
        "cast(conv(substring(md5(concat(cast(seed as string), ':', "
        f"cast(l_suppkey as string))), 1, 8), 16, 10) as bigint) % {CM_W}"
    ).alias("pos")
    keyed = exact.select("l_suppkey", "exact_n", seeds).select(
        "l_suppkey", "exact_n", "seed", pos
    )
    counters = keyed.groupBy("seed", "pos").agg(
        F.sum("exact_n").alias("c")
    )
    est = (
        keyed.join(counters, ["seed", "pos"])
        .groupBy("l_suppkey")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return (
        exact.join(est, "l_suppkey")
        .select(
            "l_suppkey",
            F.col("exact_n").cast("long").alias("exact_n"),
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("exact_n"))
            .cast("long")
            .alias("overestimate"),
        )
        .orderBy(F.col("exact_n").desc(), "l_suppkey")
        .limit(20)
    )


@query(
    "agg_regression_trend",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(value, epoch_us(ts) / 86400000000.0), 6)
               AS slope_per_day,
           round(regr_intercept(value, epoch_us(ts) / 86400000000.0), 4)
               AS intercept,
           round(regr_r2(value, epoch_us(ts) / 86400000000.0), 6) AS r2
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend line: slope, intercept,
    and R² of event value against time (in days), one line per event
    type — the "is this metric drifting" primitive behind monitoring
    dashboards and the regression tests data pipelines run on
    themselves.

    OLS over (x, y) is a pure function of six power sums
    (n, Σx, Σy, Σx², Σy², Σxy), so the built-in regr_* aggregates are
    single-pass, map-side-combinable, and MERGEABLE across shards —
    the same algebraic-aggregate property agg_higher_moments exploits,
    here for the bivariate case. One hash aggregate on a
    low-cardinality key, output bounded by group count at any fact
    volume; no window, no second pass. Slope/R² round at 6 dp so the
    two engines' accumulation orders can't flip the hash."""
    # x is projected once: the three regr_* aggregates read it several
    # times per row each, and an inline timestampdiff runs per read
    # (0.71 s against 0.21 s at sf0.1).
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            )
            / F.lit(86_400_000_000.0)
        ).alias("x"),
    )
    x = F.col("x")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.regr_slope("value", x), 6).alias("slope_per_day"),
            F.round(F.regr_intercept("value", x), 4).alias("intercept"),
            F.round(F.regr_r2("value", x), 6).alias("r2"),
        )
        .orderBy("event_type")
    )


#: histogram-quantile sketch: B equi-width bins over the observed
#: range. 128 bins ≈ 1% rank resolution — enough to SEE nonzero
#: quantile error against the exact order statistic, which is what
#: the audit reports.
HISTQ_B = 128
HISTQ_QS = (0.25, 0.5, 0.75, 0.9)


@query(
    "agg_histogram_quantile_sketch",
    oracle=f"""
    WITH b AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi,
               count(*) AS n
        FROM orders
    ),
    binned AS (
        SELECT least(CAST(floor((o_totalprice - lo) / (hi - lo)
                                * {HISTQ_B}) AS BIGINT),
                     {HISTQ_B - 1}) AS bin
        FROM orders, b
    ),
    hist AS (
        SELECT bin, count(*) AS c FROM binned GROUP BY bin
    ),
    cum AS (
        SELECT bin, c,
               sum(c) OVER (ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum_c
        FROM hist
    ),
    qs AS (SELECT unnest([{", ".join(str(q) for q in HISTQ_QS)}]) AS q),
    pick AS (
        SELECT q, min(bin) AS qbin
        FROM qs JOIN cum ON cum.cum_c >= q * (SELECT n FROM b)
        GROUP BY q
    ),
    est AS (
        SELECT q,
               lo + (qbin + (q * n - (cum_c - c)) / c) / {HISTQ_B}
                    * (hi - lo) AS est_val
        FROM pick JOIN cum ON pick.qbin = cum.bin CROSS JOIN b
    ),
    exact AS (
        SELECT unnest([{", ".join(str(q) for q in HISTQ_QS)}]) AS q,
               unnest(quantile_cont(o_totalprice,
                      [{", ".join(str(q) for q in HISTQ_QS)}])) AS exact_val
        FROM orders
    )
    SELECT est.q,
           round(est_val, 4)                    AS est_val,
           round(exact_val, 4)                  AS exact_val,
           round(abs(est_val - exact_val), 4)   AS abs_err
    FROM est JOIN exact ON est.q = exact.q
    ORDER BY est.q
    """,
)
def agg_histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile estimation, fully oracled: an equi-width
    128-bin histogram over the observed range estimates four order
    statistics by within-bin linear interpolation, reported next to
    the exact percentile with the absolute error made visible. This
    closes the one gap in the sketch family's oracle coverage —
    percentile_approx (KLL-style) can never hash-match another
    engine's sketch (the verify skill records the measured mismatch),
    but a DETERMINISTIC histogram sketch can, so the driver pins
    every bin count and both engines' interpolation arithmetic.

    Why this is the 100 TB quantile path: per-bin counts are plain
    sums — map-side combinable within a scan and MERGEABLE across
    shards/days by addition (the same property as the HLL, bloom,
    bitmap, and count-min state), so a corpus can maintain per-
    partition histograms and answer any quantile later without
    revisiting rows. The plan is two 1-row/bounded aggregates (range
    bounds, histogram), a ≤128-row cumulative window (whitelisted
    ordering-only — grid-sized by construction, like agg_ks_drift),
    and broadcast joins of 4-row quantile specs. Accuracy is
    range/B per bin worst-case — the audit column shows the actual
    error, and tightening B is a constant-factor knob, not a plan
    change."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    b = F.broadcast(
        o.agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    binned = o.crossJoin(b).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * HISTQ_B
            ).cast("long"),
            F.lit(HISTQ_B - 1),
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.select(
        "bin",
        "c",
        F.sum("c")
        .over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_c"),
    )
    qs = F.broadcast(
        spark.createDataFrame([(q,) for q in HISTQ_QS], "q double")
    )
    pick = (
        qs.join(cum.crossJoin(b.select("n")), F.col("cum_c") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bin").alias("qbin"))
    )
    est = (
        pick.join(cum, pick["qbin"] == cum["bin"])
        .crossJoin(b)
        .select(
            "q",
            (
                F.col("lo")
                + (
                    F.col("qbin")
                    + (F.col("q") * F.col("n") - (F.col("cum_c") - F.col("c")))
                    / F.col("c")
                )
                / HISTQ_B
                * (F.col("hi") - F.col("lo"))
            ).alias("est_val"),
        )
    )
    exact = o.agg(
        F.percentile("o_totalprice", F.array(*[F.lit(q) for q in HISTQ_QS])).alias(
            "ex"
        )
    ).select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in HISTQ_QS]).alias("q"),
                F.col("ex").alias("exact_val"),
            )
        ).alias("z")
    ).select(F.col("z.q").alias("q"), F.col("z.exact_val").alias("exact_val"))
    return (
        est.join(exact, "q")
        .select(
            "q",
            F.round("est_val", 4).alias("est_val"),
            F.round("exact_val", 4).alias("exact_val"),
            F.round(F.abs(F.col("est_val") - F.col("exact_val")), 4).alias(
                "abs_err"
            ),
        )
        .orderBy("q")
    )


@query(
    "agg_winsorize_stats",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(o_totalprice, 0.01) AS p01,
               quantile_cont(o_totalprice, 0.99) AS p99
        FROM orders
    )
    SELECT round(p01, 4)                                   AS p01,
           round(p99, 4)                                   AS p99,
           CAST(count(*) AS BIGINT)                        AS n,
           CAST(sum(CASE WHEN o_totalprice < p01
                           OR o_totalprice > p99
                         THEN 1 ELSE 0 END) AS BIGINT)     AS n_clamped,
           round(avg(o_totalprice), 4)                     AS mean_raw,
           round(avg(greatest(p01, least(p99, o_totalprice))), 4)
               AS mean_winsorized,
           round(stddev_samp(o_totalprice), 4)             AS std_raw,
           round(stddev_samp(greatest(p01, least(p99, o_totalprice))), 4)
               AS std_winsorized
    FROM orders, b
    GROUP BY p01, p99
    """,
)
def agg_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized statistics — clamp the tails at p01/p99, then
    compare mean/std before and after: the outlier-robust
    normalization constants a training pipeline should fit on heavy-
    tailed features instead of raw moments (one corrupt magnitude in
    100 TB of logs otherwise owns the z-score scale; the MAD query is
    the detection side of this coin, winsorization the treatment).

    Two passes by necessity (the exact cutpoints must exist before
    clamping) but both single aggregates: pass 1 is the same one-pass
    percentile buffer agg_percentiles uses, broadcast as a 1-row
    bound; pass 2 computes raw and clamped moments TOGETHER in one
    map-side-combinable aggregate over the fact scan (the clamp is a
    codegen'd greatest/least — no extra scan for the 'after'
    statistics). n_clamped makes the affected mass visible. At scale
    pass 1 downgrades gracefully to the histogram sketch's cutpoints
    (agg_histogram_quantile_sketch) when an exact order statistic is
    too expensive — the treatment pass is unchanged."""
    o = load_table(spark, sf_dir, "orders")
    b = F.broadcast(
        o.agg(
            F.expr("percentile(o_totalprice, 0.01)").alias("p01"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
        )
    )
    x = F.col("o_totalprice")
    clamped = F.greatest(F.col("p01"), F.least(F.col("p99"), x))
    return (
        o.crossJoin(b)
        .groupBy("p01", "p99")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when((x < F.col("p01")) | (x > F.col("p99")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_clamped"),
            F.round(F.avg(x), 4).alias("mean_raw"),
            F.round(F.avg(clamped), 4).alias("mean_winsorized"),
            F.round(F.stddev_samp(x), 4).alias("std_raw"),
            F.round(F.stddev_samp(clamped), 4).alias("std_winsorized"),
        )
        .select(
            F.round("p01", 4).alias("p01"),
            F.round("p99", 4).alias("p99"),
            "n",
            "n_clamped",
            "mean_raw",
            "mean_winsorized",
            "std_raw",
            "std_winsorized",
        )
    )


@query(
    "agg_argmax_minby",
    oracle="""
    WITH keyed AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                    AS VARCHAR), 15, '0')
                 || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS ord
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)          AS n_orders,
           arg_max(o_orderkey, ord)          AS priciest_key,
           round(max(o_totalprice), 2)       AS priciest_price,
           arg_min(o_orderkey, ord)          AS cheapest_key,
           round(min(o_totalprice), 2)       AS cheapest_price
    FROM keyed
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_argmax_minby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max/arg-min surface (``max_by``/``min_by`` ≙ DuckDB
    ``arg_max``/``arg_min``): the WHICH-row-wins companion to plain
    max/min — one hash aggregate, no self-join back to the fact table
    and no per-group window sort (the two plans this builtin
    replaces). The ordering value is the fixed-width string
    ``lpad(cents)||lpad(key)``: lexicographic order on it equals
    numeric (price, key) order, which makes ties IMPOSSIBLE (the key
    is unique) and therefore the winner engine-independent — max_by on
    a raw double with duplicate prices is free to return either row,
    which is exactly the nondeterminism an oracled query can't carry.

    At 100 TB: partial max_by keeps one (ord, key) pair per group per
    partition — same mergeable-state shape as max itself."""
    o = load_table(spark, sf_dir, "orders")
    ord_s = F.concat(
        F.lpad(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            15,
            "0",
        ),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
    )
    return (
        o.withColumn("ord", ord_s)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max_by("o_orderkey", F.col("ord")).alias("priciest_key"),
            F.round(F.max("o_totalprice"), 2).alias("priciest_price"),
            F.min_by("o_orderkey", F.col("ord")).alias("cheapest_key"),
            F.round(F.min("o_totalprice"), 2).alias("cheapest_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_mutual_information",
    oracle="""
    WITH joint AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               count(*) AS nxy
        FROM orders GROUP BY 1, 2
    ),
    mx AS (SELECT x, sum(nxy) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, sum(nxy) AS ny FROM joint GROUP BY y),
    n AS (SELECT sum(nxy) AS n FROM joint)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           round(sum((nxy::DOUBLE / n) * ln((nxy::DOUBLE * n)
                 / (nx::DOUBLE * ny::DOUBLE))), 6) AS mutual_info,
           round(-sum((nxy::DOUBLE / n) * ln(nxy::DOUBLE / n)), 6)
               AS joint_entropy
    FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + joint entropy between two categorical
    columns — the dependence screen of a profiling pass (does order
    priority carry information about status?), the bivariate
    companion to text_entropy_kl's univariate entropy.

    Plan: ONE fact scan reduces to the |X|×|Y| joint contingency
    table; marginals re-aggregate that bounded table (never the fact
    table) and broadcast back; the MI sum runs over ≤|X|·|Y| rows.
    At 100 TB the only data-sized work is the first hash aggregate —
    everything after is cardinality-sized. Float policy: every term
    is a ratio of exact integer counts, the ~25-term sum drifts only
    in the last ulp, 6-dp rounding is 7 orders above it."""
    o = load_table(spark, sf_dir, "orders")
    joint = (
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("nxy"))
        .transform(pin)
    )
    mx = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    n = joint.agg(F.sum("nxy").alias("n"))
    j = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
    )
    pxy = F.col("nxy").cast("double") / F.col("n")
    lift = (F.col("nxy").cast("double") * F.col("n")) / (
        F.col("nx").cast("double") * F.col("ny").cast("double")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum(pxy * F.log(lift)), 6).alias("mutual_info"),
        F.round(-F.sum(pxy * F.log(pxy)), 6).alias("joint_entropy"),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
        SELECT o_orderpriority AS grp, o_orderstatus AS val,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    )
    SELECT grp,
           arg_max(val, lpad(CAST(c AS VARCHAR), 12, '0') || val) AS mode_val,
           CAST(max(c) AS BIGINT)       AS mode_count,
           CAST(sum(c) AS BIGINT)       AS n_rows,
           round(max(c)::DOUBLE / sum(c), 6) AS mode_share
    FROM counts
    GROUP BY grp
    ORDER BY grp
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (most frequent value) per group — the
    categorical central-tendency aggregate. Both engines ship a
    native ``mode()`` whose TIE behavior is undefined (Spark picks an
    arbitrary winner, DuckDB an implementation-defined one), which is
    exactly the nondeterminism an oracled query cannot carry; the
    portable form is max_by over the value-count table with the
    fixed-width (count, value) ordering string, so ties break to the
    lexicographically largest value IDENTICALLY everywhere.

    Plan: one fact-scan hash aggregate to the bounded (group, value)
    count table, then a bounded max_by rollup — two mergeable
    aggregates, no sort, the same shape a 100 TB mode computation
    must take (native mode's in-memory value map per group is the
    thing this decomposition replaces)."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderstatus").alias("val"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    ord_s = F.concat(
        F.lpad(F.col("c").cast("string"), 12, "0"), F.col("val")
    )
    return (
        counts.groupBy("grp")
        .agg(
            F.max_by("val", ord_s).alias("mode_val"),
            F.max("c").cast("long").alias("mode_count"),
            F.sum("c").cast("long").alias("n_rows"),
            F.round(
                F.max("c").cast("double") / F.sum("c"), 6
            ).alias("mode_share"),
        )
        .orderBy("grp")
    )


@query(
    "agg_grouping_id_rollup",
    oracle="""
    SELECT coalesce(o_orderpriority, '(all)')          AS prio,
           coalesce(o_orderstatus, '(all)')            AS status,
           CAST(GROUPING(o_orderpriority) AS BIGINT)   AS g_prio,
           CAST(GROUPING(o_orderstatus) AS BIGINT)     AS g_status,
           CAST(count(*) AS BIGINT)                    AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               / 100.0                                 AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    ORDER BY g_prio, g_status, prio, status
    """,
)
def agg_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() disambiguation — the SQL-surface detail
    that separates "this key is genuinely NULL in the data" from
    "this row is a subtotal": grouping flags are part of the rollup
    contract (agg_rollup pins the totals; this pins the FLAGS), and
    coalescing the display label through '(all)' is only safe
    BECAUSE the flag travels alongside it.

    Plan: Spark expands the rollup to grouping sets in one Expand +
    hash aggregate over a single fact scan — the flags are literals
    per grouping set, costing nothing. Revenue aggregates as exact
    integer cents."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("revenue"),
            F.grouping("o_orderpriority").cast("long").alias("g_prio"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias("prio"),
            F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("status"),
            "g_prio",
            "g_status",
            "n",
            "revenue",
        )
        .orderBy("g_prio", "g_status", "prio", "status")
    )
