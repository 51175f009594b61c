"""SQL-text surface + subqueries + pivot/unpivot + vectorized UDFs.

The reference's README promises analytics its code never implements
(README.md:21-36); a user migrating from it gets them here either as
DataFrame plans or as PLAIN SQL text — the same Catalyst engine
underneath. SQL text names the catalog frames as ``{orders}`` and so
on; ``spark.sql(text, **tables(spark, sf_dir))`` binds each one under
a uuid view name and drops it once the query is analyzed, so no query
leaves a view behind in the caller's session.

This module also carries the deliberately-small Python-UDF surface
(SURVEY.md §2.2 'UDF/UDAF'): Arrow-batched pandas UDFs only, and only
where they demonstrate the boundary — every other operator in the
engine stays built-in.
"""

from __future__ import annotations

import datetime

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from dataextractor_spark.catalog import load_table, tables
from dataextractor_spark.registry import query


@query(
    "sql_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped query expressed as SQL TEXT over the catalog
    frames — same Catalyst plan as the DataFrame form, proving the SQL
    entry point end-to-end."""
    return spark.sql(
        """
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               o_orderdate
        FROM {customer}
        JOIN {orders}   ON c_custkey = o_custkey
        JOIN {lineitem} ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """,
        **tables(spark, sf_dir),
    )


@query(
    "subquery_exists_correlated",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers,
           (SELECT count(*) FROM orders
            WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders))
               AS n_orders_above_avg
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
          AND o.o_totalprice > 100000
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + uncorrelated scalar subquery in one query.
    Catalyst decorrelates the EXISTS into a left-semi join on the
    correlation key (one shuffle, never a per-row probe); the nested
    scalar subquery (orders above global average) is evaluated once and
    broadcast as a literal — two extra narrow passes over orders, no
    pairwise work, scale-safe."""
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers,
               (SELECT count(*) FROM {orders}
                WHERE o_totalprice > (SELECT avg(o_totalprice) FROM {orders}))
                   AS n_orders_above_avg
        FROM {customer} c
        WHERE EXISTS (
            SELECT 1 FROM {orders} o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
              AND o.o_totalprice > 100000
        )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """,
        **tables(spark, sf_dir),
    )


@query(
    "subquery_not_in_null_semantics",
    oracle="""
    WITH maybe_null AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN o_custkey END AS k
        FROM orders
    )
    SELECT
        (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM maybe_null))
            AS n_not_in,
        (SELECT count(*) FROM customer c WHERE NOT EXISTS (
            SELECT 1 FROM maybe_null m WHERE m.k = c.c_custkey))
            AS n_not_exists
    """,
)
def subquery_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN vs NOT EXISTS under NULLs — the three-valued-logic trap
    every SQL engine must honor: one NULL in the NOT IN list makes the
    predicate UNKNOWN for every row (n_not_in = 0), while NOT EXISTS
    is null-safe and returns the real complement. Catalyst plans NOT
    IN as a null-aware anti join and NOT EXISTS as a plain left-anti
    join; this query pins both results against the oracle so the
    semantic difference can never silently regress."""
    return spark.sql(
        """
        WITH maybe_null AS (
            SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN o_custkey END AS k
            FROM {orders}
        )
        SELECT
            (SELECT count(*) FROM {customer} WHERE c_custkey NOT IN (SELECT k FROM maybe_null))
                AS n_not_in,
            (SELECT count(*) FROM {customer} c WHERE NOT EXISTS (
                SELECT 1 FROM maybe_null m WHERE m.k = c.c_custkey))
                AS n_not_exists
        """,
        **tables(spark, sf_dir),
    )


@query(
    "pivot_unpivot_roundtrip",
    oracle="""
    WITH p AS (SELECT DISTINCT o_orderpriority FROM orders),
         s AS (SELECT unnest(['F', 'O', 'P']) AS status),
         agg AS (
             SELECT o_orderpriority, o_orderstatus AS status,
                    sum(o_totalprice) AS t
             FROM orders GROUP BY 1, 2
         )
    SELECT p.o_orderpriority, s.status,
           round(coalesce(agg.t, 0), 2) AS total
    FROM p CROSS JOIN s
    LEFT JOIN agg ON agg.o_orderpriority = p.o_orderpriority
                 AND agg.status = s.status
    ORDER BY p.o_orderpriority, s.status
    """,
)
def pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) then unpivot (wide→long) in one plan: spend
    per priority × status pivots to explicit F/O/P columns (explicit
    pivot values = one pass, no distinct-values pre-query — the form
    you want at scale), then the native unpivot operator (an Expand
    node — one pass, no join) melts it back to (priority, status,
    total) rows, zero-filled for absent cells. The oracle computes the
    same dense grid relationally, proving the roundtrip is lossless."""
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)))
    )
    return (
        wide.unpivot(["o_orderpriority"], ["F", "O", "P"], "status", "total")
        .select(
            "o_orderpriority",
            "status",
            F.round(F.coalesce("total", F.lit(0.0)), 2).alias("total"),
        )
        .orderBy("o_orderpriority", "status")
    )


def _zscore_udf():
    """Arrow-batched scalar pandas UDF — the sanctioned Python-boundary
    shape (vectorized per batch, never per row). Built lazily: the
    decorator parses its DDL type against the ACTIVE session, so module
    import must stay session-free."""

    @pandas_udf("double")
    def z(x: pd.Series, mean: pd.Series, std: pd.Series) -> pd.Series:
        return (x - mean) / std

    return z


def _median_udf():
    """Grouped-aggregate pandas UDF (numpy median per group); lazy for
    the same session-at-import reason as _zscore_udf."""

    @pandas_udf("double")
    def median(v: pd.Series) -> float:
        import numpy as np

        return float(np.median(v))

    return median


@query(
    "udf_zscore_median",
    oracle="""
    WITH stats AS (
        SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sigma
        FROM orders
    )
    SELECT o_orderstatus,
           round(quantile_cont((o_totalprice - mu) / sigma, 0.5), 4)
               AS median_zscore
    FROM orders, stats
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def udf_zscore_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sanctioned pandas-UDF shapes chained in one plan: a SCALAR
    pandas UDF computes each order's z-score against broadcast global
    stats (tiny agg cross-joined in — the UDF stage is a narrow Arrow
    pass), then a GROUPED-AGGREGATE pandas UDF takes the numpy median
    of those z-scores per status (≡ linear-interpolated quantile_cont
    0.5 — the oracle proves both UDFs agree with the SQL definition).
    A grouped-agg pandas UDF cannot share an agg with JVM aggregates
    (INVALID_PANDAS_UDF_PLACEMENT), so the median is the lone agg."""
    o = load_table(spark, sf_dir, "orders")
    stats = F.broadcast(
        o.agg(
            F.avg("o_totalprice").alias("mu"),
            F.stddev_samp("o_totalprice").alias("sigma"),
        )
    )
    z = o.crossJoin(stats).select(
        "o_orderstatus",
        _zscore_udf()(F.col("o_totalprice"), F.col("mu"), F.col("sigma")).alias(
            "zscore"
        ),
    )
    return (
        z.groupBy("o_orderstatus")
        .agg(F.round(_median_udf()("zscore"), 4).alias("median_zscore"))
        .orderBy("o_orderstatus")
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT o_orderstatus,
           floor(quantile_cont(o_totalprice, 0.25) * 100 + 0.5) / 100.0 AS p25_exact,
           floor(quantile_cont(o_totalprice, 0.50) * 100 + 0.5) / 100.0 AS p50_exact,
           floor(quantile_cont(o_totalprice, 0.75) * 100 + 0.5) / 100.0 AS p75_exact,
           floor(quantile_cont(o_totalprice, 0.90) * 100 + 0.5) / 100.0 AS p90_exact,
           TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75, TRUE AS ok_p90
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the 100 TB path for order statistics (fixed
    memory, no global sort) — now with a SELF-AUDITING oracle: the
    sketch value itself can't hash-match a different engine's sketch
    (Spark's GK summary and DuckDB's quantile_disc disagree by a rank
    even at accuracy ≫ n — round-2 lesson), so the query emits the
    EXACT percentiles (oracle-checkable, same idiom as
    agg_percentiles) plus one boolean per quantile asserting the
    approx value sits within 0.5% of the exact one — the same bound
    tests/test_scale_paths.py pins. The oracle pins those booleans to
    TRUE, so a sketch drifting out of tolerance is a driver-visible
    hash FAIL, not an unchecked rows-only row."""
    o = load_table(spark, sf_dir, "orders")
    probs = [0.25, 0.5, 0.75, 0.9]
    names = ["p25", "p50", "p75", "p90"]
    g = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", probs, 10000).alias("apx"),
        F.percentile(
            "o_totalprice", F.array(*[F.lit(p) for p in probs])
        ).alias("ext"),
    )
    # floor(x*100+0.5)/100, not F.round: interpolated quantiles are
    # doubles that can land within an ulp of a half-cent, where Spark's
    # BigDecimal-HALF_UP and DuckDB's binary rounding disagree — the
    # same engine-divergence time_interpolate_linear hit. Pure IEEE
    # ops round identically in both engines (values here are positive).
    cols = [
        (F.floor(F.element_at("ext", i + 1) * 100 + F.lit(0.5)) / F.lit(100.0))
        .alias(f"{n}_exact")
        for i, n in enumerate(names)
    ] + [
        (
            F.abs(F.element_at("apx", i + 1) - F.element_at("ext", i + 1))
            <= 0.005 * F.abs(F.element_at("ext", i + 1))
        ).alias(f"ok_{n}")
        for i, n in enumerate(names)
    ]
    return g.select("o_orderstatus", *cols).orderBy("o_orderstatus")


@query(
    "sql_recursive_months",
    oracle="""
    WITH RECURSIVE months(m) AS (
        SELECT date_trunc('month', (SELECT min(o_orderdate) FROM orders))
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months
        WHERE m < date_trunc('month', (SELECT max(o_orderdate) FROM orders))
    )
    SELECT strftime(m, '%Y-%m') AS month,
           coalesce(n_orders, 0) AS n_orders
    FROM months
    LEFT JOIN (
        SELECT date_trunc('month', o_orderdate) AS om, count(*) AS n_orders
        FROM orders GROUP BY 1
    ) o ON om = m
    ORDER BY month
    """,
)
def sql_recursive_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE) generating the dense
    month series spanning the orders table, left-joined to per-month
    order counts with zero-fill — the gap-free time-series pattern
    dashboards need (a month with no orders still appears). The
    recursion is driver-bounded (one row per month); the per-month
    aggregate is the only distributed work, so this stays scan-bound
    at any scale.
    """
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT date_trunc('month', (SELECT min(o_orderdate) FROM {orders}))
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM months
            WHERE m < date_trunc('month', (SELECT max(o_orderdate) FROM {orders}))
        )
        SELECT date_format(m, 'yyyy-MM') AS month,
               coalesce(n_orders, 0) AS n_orders
        FROM months
        LEFT JOIN (
            SELECT date_trunc('month', o_orderdate) AS om, count(*) AS n_orders
            FROM {orders} GROUP BY 1
        ) o ON om = m
        ORDER BY month
        """,
        **tables(spark, sf_dir),
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS rev
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4): the same scan→filter→agg→sort spine
    written as a |> chain. Parses to the identical Catalyst plan as
    the classic form — the surface is syntax, not a new engine path —
    which the oracle hash (classic ANSI on DuckDB) proves."""
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderpriority = '1-URGENT'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     round(sum(o_totalprice), 2) AS rev
           GROUP BY o_orderstatus
        |> ORDER BY o_orderstatus
        """,
        **tables(spark, sf_dir),
    ).select("o_orderstatus", "n", "rev")


@query(
    "sql_lateral_topn",
    oracle="""
    SELECT c.c_mktsegment, t.o_orderkey, t.o_totalprice
    FROM (SELECT DISTINCT c_mktsegment FROM customer) c
    CROSS JOIN LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o JOIN customer cc ON o.o_custkey = cc.c_custkey
        WHERE cc.c_mktsegment = c.c_mktsegment
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    ORDER BY c.c_mktsegment, t.o_totalprice DESC, t.o_orderkey
    """,
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 orders per market segment,
    the per-group-top-N idiom in its SQL form (the window row_number
    form is window_rank_topn — both engines must agree). Catalyst
    decorrelates the lateral into a join + per-group limit; ties are
    broken by o_orderkey so the result is deterministic."""
    return spark.sql(
        """
        SELECT c.c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM (SELECT DISTINCT c_mktsegment FROM {customer}) c,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM {orders} o JOIN {customer} cc ON o.o_custkey = cc.c_custkey
            WHERE cc.c_mktsegment = c.c_mktsegment
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        ORDER BY c.c_mktsegment, t.o_totalprice DESC, t.o_orderkey
        """,
        **tables(spark, sf_dir),
    )


@query(
    "udtf_bigram_explode",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 10
    ),
    n AS (
        SELECT doc_id, unnest(range(0, greatest(len(toks) - 1, 0))) AS i,
               toks
        FROM tok
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS pos,
           toks[i + 1] || ' ' || toks[i + 2] AS bigram
    FROM n
    ORDER BY doc_id, pos
    """,
)
def udtf_bigram_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) consumed via
    LATERAL — the third leg of the UDF surface next to the scalar and
    grouped-agg pandas UDFs (udf_zscore_median): one input row yields
    n output rows from arbitrary Python. The oracle is the identical
    expansion in pure SQL, which is also the honest engineering note:
    when the expansion IS expressible with explode/sequence (as here),
    the built-in runs in codegen and the UDTF is the slow path — a
    UDTF earns its place only for logic Catalyst can't express
    (tokenizers with state, external library calls). Bounded to
    doc_id < 10 per the registry's no-row-dump convention."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos BIGINT, bigram STRING")
    class Bigrams:
        def eval(self, text: str):
            toks = (text or "").split(" ")
            for i in range(len(toks) - 1):
                yield i, f"{toks[i]} {toks[i + 1]}"

    spark.udtf.register("bigrams_udtf", Bigrams)
    return spark.sql(
        """
        SELECT s.doc_id, b.pos, b.bigram
        FROM {docs} s, LATERAL bigrams_udtf(s.text) b
        ORDER BY s.doc_id, b.pos
        """,
        docs=load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10),
    )


#: one text for both engines: the oracle binds ``{part}`` to DuckDB's
#: table name, the query to the catalog frame
_SCALAR_CORR_SQL = """
SELECT p.p_brand,
       p.p_partkey,
       p.p_name,
       p.p_retailprice AS top_price
FROM {part} p
WHERE p.p_retailprice = (SELECT max(p2.p_retailprice)
                         FROM {part} p2
                         WHERE p2.p_brand = p.p_brand)
ORDER BY p.p_brand, p.p_partkey
"""


@query("subquery_scalar_correlated", oracle=_SCALAR_CORR_SQL.format(part="part"))
def subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (the TPC-H Q2 'min-cost supplier'
    shape: row qualifies iff its value equals a per-group extreme
    computed by a subquery referencing the outer row). Completes the
    subquery surface next to EXISTS (subquery_exists_correlated) and
    NOT IN (subquery_not_in_null_semantics).

    Catalyst de-correlates this to a per-brand max aggregate joined
    back on p_brand — the rewrite a user would hand-write with
    groupBy+join, but derived by the optimizer from declarative SQL
    (RewriteCorrelatedScalarSubquery). At 100 TB that is one map-side
    partial agg over brands (tiny) broadcast back over the scan — no
    per-row re-execution, which is what a naive engine would do with
    a correlated subquery. Identical text runs on both engines."""
    return spark.sql(_SCALAR_CORR_SQL, **tables(spark, sf_dir))


@query(
    "udf_grouped_minmax_norm",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS prio,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    ext AS (
        SELECT prio, CAST(min(cents) AS BIGINT) AS mn,
               CAST(max(cents) AS BIGINT) AS mx
        FROM base GROUP BY prio
    ),
    normed AS (
        SELECT b.prio,
               CASE WHEN e.mx = e.mn THEN CAST(0 AS BIGINT)
                    ELSE CAST((b.cents - e.mn) * 1000000
                              // (e.mx - e.mn) AS BIGINT)
               END AS inorm
        FROM base b JOIN ext e ON b.prio = e.prio
    )
    SELECT prio,
           CAST(count(*) AS BIGINT)    AS n,
           CAST(min(inorm) AS BIGINT)  AS min_inorm,
           CAST(max(inorm) AS BIGINT)  AS max_inorm,
           round(CAST(sum(inorm) AS BIGINT)::DOUBLE / count(*)
                 / 1000000.0, 6)       AS mean_norm
    FROM normed
    GROUP BY prio
    ORDER BY prio
    """,
)
def udf_grouped_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED-MAP pandas UDF (``applyInPandas``) — the fourth and
    last sanctioned Python-UDF shape, now under an exact oracle (the
    scalar, grouped-aggregate, and table-function shapes are pinned
    by udf_zscore_median / udtf_bigram_explode; the engine's other
    applyInPandas uses live in rows-only ANN queries): each
    priority's order totals are min-max normalized INSIDE an
    Arrow-batched pandas function, and the result is hash-matched
    against the pure-SQL replay.

    The normalization emits scaled INTEGERS — floor((cents−min)·10⁶ /
    (max−min)) in int64 — because the honest float form would hand
    pandas a vectorized double division whose per-row results are
    fine but whose downstream float SUM is accumulation-order
    dependent; integer outputs make the cross-engine comparison
    exact with zero tolerance games.

    Scale notes: applyInPandas shuffles once on the group key and
    streams each group through Arrow; per-group state is one pandas
    frame, so group cardinality (5 here) is the parallelism bound —
    the docstringed caveat that grouped-map UDFs need
    many-more-groups-than-cores to scale, which is exactly why the
    engine's hot paths prefer JVM expressions."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf["cents"]
        mn, mx = c.min(), c.max()
        # degenerate group (all values equal): floordiv by zero would
        # yield inf/NaN and break the declared `inorm long` Arrow
        # schema, while the SQL replay's integer //0 fails differently
        # — pin both sides to inorm=0 instead
        if mx == mn:
            inorm = pd.Series(0, index=c.index, dtype="int64")
        else:
            inorm = (c - mn) * 1000000 // (mx - mn)
        return pd.DataFrame({"prio": pdf["prio"], "inorm": inorm})

    normed = base.groupBy("prio").applyInPandas(
        norm, "prio string, inorm long"
    )
    return (
        normed.groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("inorm").cast("long").alias("min_inorm"),
            F.max("inorm").cast("long").alias("max_inorm"),
            F.round(
                F.sum("inorm").cast("double") / F.count(F.lit(1)) / 1000000.0,
                6,
            ).alias("mean_norm"),
        )
        .orderBy("prio")
    )


@query(
    "sql_udf_scalar_tvf",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('low', 1, 15), ('mid', 16, 35), ('high', 36, 50)
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                * (1 + l_tax) * 100) AS BIGINT))
                AS BIGINT) AS net_cents
    FROM lineitem
    JOIN bands
      ON CAST(l_quantity AS BIGINT) BETWEEN lo AND hi
    GROUP BY band
    ORDER BY band
    """,
)
def sql_udf_scalar_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4.0, SPARK-46828): a scalar function
    and a TABLE function declared in pure SQL — the user-extension
    surface that beats Python UDFs at any scale because the body is
    INLINED into the plan by Catalyst (fully codegen, optimizer sees
    through it; a Python UDF is an opaque Arrow exchange). The scalar
    UDF computes exact net-price cents per lineitem; the table UDF
    emits the quantity-band dimension, range-joined (broadcast) to the
    fact. The oracle replays both bodies inline, proving the
    definition/invocation indirection loses nothing. One lineitem
    scan, one broadcast range join, one hash aggregate."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_cents(
            ep DOUBLE, disc DOUBLE, tax DOUBLE
        ) RETURNS BIGINT
        RETURN CAST(round(ep * (1 - disc) * (1 + tax) * 100) AS BIGINT)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION qty_bands()
        RETURNS TABLE(band STRING, lo BIGINT, hi BIGINT)
        RETURN SELECT * FROM VALUES
            ('low', 1, 15), ('mid', 16, 35), ('high', 36, 50)
            AS t(band, lo, hi)
        """
    )
    return spark.sql(
        """
        SELECT band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(net_cents(l_extendedprice, l_discount, l_tax))
                    AS BIGINT) AS net_cents
        FROM {lineitem}
        JOIN qty_bands()
          ON CAST(l_quantity AS BIGINT) BETWEEN lo AND hi
        GROUP BY band
        ORDER BY band
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "udf_arrow_map_tokencount",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def udf_arrow_map_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the LOWEST-overhead Python extension point (the
    Arrow RecordBatch itself crosses the boundary; no pandas
    conversion on either side): whitespace token counts computed
    against raw Arrow arrays, then rolled up per language in the JVM.
    Completes the Python-UDF ladder the repo demonstrates: row UDF
    (never) < pandas_udf < mapInPandas < mapInArrow, each shaving a
    serialization layer. The oracle recomputes the counts relationally
    (string_split length), so the Arrow path is value-checked — and
    the token counts are exact integers, immune to every float
    portability concern. One scan, one Arrow stage, one hash
    aggregate."""
    import pyarrow as pa

    d = load_table(spark, sf_dir, "documents")

    def count_tokens(batches):
        for batch in batches:
            texts = batch.column("text").to_pylist()
            yield pa.RecordBatch.from_pydict(
                {
                    "lang": batch.column("lang"),
                    "n": pa.array(
                        [len(t.split(" ")) for t in texts], pa.int64()
                    ),
                }
            )

    per = d.select("lang", "text").mapInArrow(
        count_tokens, "lang STRING, n BIGINT"
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "sql_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f_status
    FROM orders
    """,
)
def sql_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.observe`` — Spark's zero-extra-pass metric
    collection: named aggregates piggyback on a query's execution as
    AggregatingAccumulators, so data-quality counters (row counts,
    conditional counts, control totals) ride along with the real job
    instead of costing a second scan — at 100 TB the difference
    between free observability and doubling the read bill. Here the
    observed metrics ARE the result (re-emitted as a 1-row
    DataFrame), and the oracle recomputes the same three controls
    relationally, proving the accumulator path loses nothing. The
    observed query itself is a noop-ish narrow pass (the metrics
    attach to the scan); all values exact BIGINT."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("dq_controls")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_cents"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_f_status"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["total_cents"]), int(m["n_f_status"]))],
        "n_rows BIGINT, total_cents BIGINT, n_f_status BIGINT",
    )


@query(
    "sql_parameterized_args",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1998-01-01'
      AND o_totalprice >= 100000.0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_parameterized_args(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (SPARK-44066): the query text carries
    ``:from_date`` / ``:min_price`` markers and values bind at
    execution — the injection-safe template surface a query service
    exposes instead of f-string SQL (parameters are typed literals in
    the plan, never string splices, so Catalyst constant-folds and
    pushes them down exactly like hand-written literals). The oracle
    inlines the same literals, proving the binding is lossless."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(o_totalprice), 2) AS revenue
        FROM {orders}
        WHERE o_orderdate >= :from_date
          AND o_orderdate < :to_date
          AND o_totalprice >= :min_price
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={
            "from_date": datetime.date(1996, 1, 1),
            "to_date": datetime.date(1998, 1, 1),
            "min_price": 100000.0,
        },
        orders=load_table(spark, sf_dir, "orders"),
    )
