"""Statistical-analysis operators — round-5 seventh batch (part 1).

The reference promises "skill-bracket analysis, gold/XP distribution,
individual performance" style analytics (reference README.md:21-36);
these are the inferential/diagnostic companions a profiling pass runs
over the same star schema: independence testing (chi-square /
Cramér's V, the significance-test sibling of agg_mutual_information),
inequality/concentration (Gini + Lorenz top-decile share), survival
analysis (Kaplan-Meier over customer lifetimes), RFM quantile
segmentation, Benford first-digit auditing (a DQ fraud screen), and
the percent_rank/cume_dist window surface.

Engine-portability rules inherited from earlier rounds: money is
integer cents (``CAST(round(x*100) AS BIGINT)``), DuckDB integer
window/aggregate sums are HUGEINT and must be cast back to BIGINT
before arithmetic reaches pandas, ratios of exact integers round to 6
decimals, money-grade roundings use ``floor(x*10^k + 0.5)/10^k``, and
any ordering fed to max_by/arg_max is a fixed-width string so
lexicographic == numeric and ties are impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.pins import pin
from dataextractor_spark.registry import query

def _cents():
    """o_totalprice as exact integer cents (lazy: column construction
    needs an active session)."""
    return F.round(F.col("o_totalprice") * 100).cast("long")


@query(
    "agg_chi_square_independence",
    oracle="""
    WITH joint AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               CAST(count(*) AS BIGINT) AS nxy
        FROM orders GROUP BY 1, 2
    ),
    mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM joint GROUP BY y),
    n AS (SELECT CAST(sum(nxy) AS BIGINT) AS n,
                 CAST(count(DISTINCT x) AS BIGINT) AS dx,
                 CAST(count(DISTINCT y) AS BIGINT) AS dy
          FROM joint)
    SELECT CAST(count(*) AS BIGINT)                       AS n_cells,
           CAST(max(n) AS BIGINT)                         AS n_rows,
           CAST(max((dx - 1) * (dy - 1)) AS BIGINT)       AS dof,
           round(sum(power(nxy - nx::DOUBLE * ny / n, 2)
                     / (nx::DOUBLE * ny / n)), 6)         AS chi2,
           round(sqrt(sum(power(nxy - nx::DOUBLE * ny / n, 2)
                          / (nx::DOUBLE * ny / n))
                      / (max(n) * (least(max(dx), max(dy)) - 1))), 6)
               AS cramers_v
    FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n
    """,
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test + Cramér's V between two
    categorical columns — the significance-test companion to
    agg_mutual_information (MI says how MUCH dependence there is;
    chi-square says whether it clears noise; V normalizes to [0,1]).

    Plan shape is identical to MI and scale-safe the same way: ONE
    fact scan → the |X|×|Y| contingency table; marginals re-aggregate
    the bounded table (never the facts) and broadcast back; the
    statistic sums ≤|X|·|Y| terms. Every expected count is a ratio of
    exact integer counts, so 6-dp rounding sits far above ulp drift."""
    o = load_table(spark, sf_dir, "orders")
    joint = (
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("nxy"))
        .transform(pin)
    )
    mx = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    n = joint.agg(
        F.sum("nxy").alias("n"),
        F.countDistinct("x").alias("dx"),
        F.countDistinct("y").alias("dy"),
    )
    j = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
    )
    expected = F.col("nx").cast("double") * F.col("ny") / F.col("n")
    contrib = F.pow(F.col("nxy") - expected, F.lit(2)) / expected
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("n").cast("long").alias("n_rows"),
        F.max((F.col("dx") - 1) * (F.col("dy") - 1)).cast("long").alias("dof"),
        F.round(F.sum(contrib), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum(contrib)
                / (F.max("n") * (F.least(F.max("dx"), F.max("dy")) - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "agg_gini_concentration",
    oracle="""
    WITH percust AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT c.c_mktsegment AS segment, p.rev_cents,
               CAST(row_number() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY p.rev_cents, p.o_custkey
               ) AS BIGINT) AS i,
               CAST(count(*) OVER (
                   PARTITION BY c.c_mktsegment
               ) AS BIGINT) AS n
        FROM percust p JOIN customer c ON p.o_custkey = c.c_custkey
    )
    SELECT segment,
           CAST(count(*) AS BIGINT)                        AS n_customers,
           CAST(sum(rev_cents) AS BIGINT) / 100.0          AS total_rev,
           round((2.0 * CAST(sum(i * rev_cents) AS BIGINT)
                  - (max(n) + 1.0) * CAST(sum(rev_cents) AS BIGINT))
                 / (CAST(max(n) AS DOUBLE)
                    * CAST(sum(rev_cents) AS BIGINT)), 6)  AS gini,
           round(CAST(sum(CASE WHEN i > n - CAST(ceil(0.1 * n) AS BIGINT)
                               THEN rev_cents ELSE 0 END) AS BIGINT)::DOUBLE
                 / CAST(sum(rev_cents) AS BIGINT), 6)      AS top_decile_share
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient + Lorenz top-decile share of customer revenue
    per market segment — the inequality/concentration profile of a
    corpus ("do 10% of the customers carry 60% of the revenue?"), the
    same statistic a data-mixing pass computes over per-source token
    counts to see how skewed a pretraining mixture is.

    Revenue is exact integer cents, so the rank-weighted Gini identity
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) is integer arithmetic until the
    final division: ties in revenue are broken by custkey, and because
    swapping equal values across adjacent ranks leaves Σi·xᵢ
    unchanged, the statistic is ordering-deterministic across engines.

    Plan: one fact-scan hash aggregate to per-customer cents, a
    key-key hash join for the segment label, ONE partitioned window
    pass (rank + per-segment count together), one final hash
    aggregate. At 100 TB the 5-value segment partitioning makes the
    window a near-global sort per segment — the scale path is the
    two-pass range-partitioned ranking window_deciles pins (per-range
    row_number + broadcast prefix offsets); the statistic itself is
    unchanged since it only needs ranks."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    percust = (
        o.select("o_custkey", _cents().alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    seg = percust.join(c, percust.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "rev_cents", "o_custkey"
    )
    w = Window.partitionBy("segment").orderBy("rev_cents", "o_custkey")
    ranked = seg.select(
        "segment",
        "rev_cents",
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy("segment"))
        .cast("long")
        .alias("n"),
    )
    top_cut = F.col("n") - F.ceil(F.lit(0.1) * F.col("n"))
    return (
        ranked.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("rev_cents") / F.lit(100.0)).alias("total_rev"),
            F.round(
                (
                    F.lit(2.0) * F.sum(F.col("i") * F.col("rev_cents"))
                    - (F.max("n") + F.lit(1.0)) * F.sum("rev_cents")
                )
                / (F.max("n").cast("double") * F.sum("rev_cents")),
                6,
            ).alias("gini"),
            F.round(
                F.sum(
                    F.when(F.col("i") > top_cut, F.col("rev_cents")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum("rev_cents"),
                6,
            ).alias("top_decile_share"),
        )
        .orderBy("segment")
    )


@query(
    "agg_survival_km",
    oracle="""
    WITH bounds AS (SELECT max(o_orderdate) AS max_d FROM orders),
    cust AS (
        SELECT o_custkey, min(o_orderdate) AS first_d,
               max(o_orderdate) AS last_d
        FROM orders GROUP BY o_custkey
    ),
    life AS (
        SELECT c.c_mktsegment AS segment,
               CAST(date_diff('day', first_d, last_d) AS BIGINT)
                   AS duration_days,
               CASE WHEN last_d <= max_d - INTERVAL 180 DAY
                    THEN 1 ELSE 0 END AS ev
        FROM cust JOIN customer c ON cust.o_custkey = c.c_custkey
        CROSS JOIN bounds
    ),
    grp AS (
        SELECT segment, duration_days,
               CAST(count(*) AS BIGINT) AS n_dur,
               CAST(sum(ev) AS BIGINT) AS d_events
        FROM life GROUP BY 1, 2
    ),
    km AS (
        SELECT segment, duration_days, d_events,
               CAST(sum(n_dur) OVER (
                   PARTITION BY segment ORDER BY duration_days
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS BIGINT) AS n_at_risk
        FROM grp
    )
    SELECT segment, duration_days, n_at_risk, d_events,
           round(exp(sum(CASE WHEN d_events >= n_at_risk THEN -1e9
                              ELSE ln(1.0 - d_events::DOUBLE / n_at_risk)
                         END) OVER (
               PARTITION BY segment ORDER BY duration_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )), 6) AS survival
    FROM km
    QUALIFY d_events > 0
    ORDER BY segment, duration_days
    """,
)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over customer lifetimes per
    segment (lifetime = first→last order span; a lifetime is an
    observed "churn event" only when the last order predates the
    dataset horizon by 180 days, else right-censored) — the standard
    retention/survival curve, here expressed entirely as relational
    algebra: S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) becomes exp of a running sum
    of logs over the bounded per-duration table.

    The d≥n edge (last event time takes the survivor set to zero) maps
    ln(0) to a −1e9 sentinel because Spark's ``log`` returns NULL at 0
    while DuckDB returns −inf — exp of the sentinel underflows to
    exactly 0.0 in both engines, and SQL sum-over-window would
    silently SKIP a NULL term (wrong curve) rather than propagate it.

    Plan: per-customer min/max (one fact scan), segment join, then
    every window runs over the per-(segment, duration) aggregate —
    bounded by the date range, never data-sized. The risk-set count is
    a reversed cumulative frame instead of a self-join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    bounds = F.broadcast(o.agg(F.max("o_orderdate").alias("max_d")))
    cust = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_d"),
        F.max("o_orderdate").alias("last_d"),
    )
    life = (
        cust.join(c, cust.o_custkey == c.c_custkey)
        .crossJoin(bounds)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff("last_d", "first_d").cast("long").alias(
                "duration_days"
            ),
            F.when(
                F.col("last_d") <= F.col("max_d") - F.expr("INTERVAL 180 DAYS"),
                1,
            )
            .otherwise(0)
            .alias("ev"),
        )
    )
    grp = life.groupBy("segment", "duration_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_dur"),
        F.sum("ev").cast("long").alias("d_events"),
    )
    w_risk = (
        Window.partitionBy("segment")
        .orderBy("duration_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    km = grp.select(
        "segment",
        "duration_days",
        "d_events",
        F.sum("n_dur").over(w_risk).cast("long").alias("n_at_risk"),
    )
    w_surv = (
        Window.partitionBy("segment")
        .orderBy("duration_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    log_term = F.when(
        F.col("d_events") >= F.col("n_at_risk"), F.lit(-1e9)
    ).otherwise(
        F.log(F.lit(1.0) - F.col("d_events").cast("double") / F.col("n_at_risk"))
    )
    return (
        km.select(
            "segment",
            "duration_days",
            "n_at_risk",
            "d_events",
            F.round(F.exp(F.sum(log_term).over(w_surv)), 6).alias("survival"),
        )
        .filter(F.col("d_events") > 0)
        .orderBy("segment", "duration_days")
    )


@query(
    "agg_rfm_segments",
    oracle="""
    WITH bounds AS (SELECT max(o_orderdate) AS max_d FROM orders),
    percust AS (
        SELECT o_custkey, max(o_orderdate) AS last_d,
               CAST(count(*) AS BIGINT) AS f_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS m_cents
        FROM orders GROUP BY o_custkey
    ),
    rfm AS (
        SELECT o_custkey,
               CAST(date_diff('day', last_d, max_d) AS BIGINT) AS r_days,
               f_orders, m_cents
        FROM percust CROSS JOIN bounds
    ),
    cuts AS (
        SELECT quantile_cont(r_days, 0.25) AS r25,
               quantile_cont(r_days, 0.50) AS r50,
               quantile_cont(r_days, 0.75) AS r75,
               quantile_cont(f_orders, 0.25) AS f25,
               quantile_cont(f_orders, 0.50) AS f50,
               quantile_cont(f_orders, 0.75) AS f75,
               quantile_cont(m_cents, 0.25) AS m25,
               quantile_cont(m_cents, 0.50) AS m50,
               quantile_cont(m_cents, 0.75) AS m75
        FROM rfm
    ),
    scored AS (
        SELECT CAST(1 + CAST(r_days > r25 AS INTEGER)
                      + CAST(r_days > r50 AS INTEGER)
                      + CAST(r_days > r75 AS INTEGER) AS BIGINT) AS r_q,
               CAST(1 + CAST(f_orders > f25 AS INTEGER)
                      + CAST(f_orders > f50 AS INTEGER)
                      + CAST(f_orders > f75 AS INTEGER) AS BIGINT) AS f_q,
               CAST(1 + CAST(m_cents > m25 AS INTEGER)
                      + CAST(m_cents > m50 AS INTEGER)
                      + CAST(m_cents > m75 AS INTEGER) AS BIGINT) AS m_q,
               f_orders, m_cents
        FROM rfm CROSS JOIN cuts
    )
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT)      AS n_customers,
           CAST(sum(f_orders) AS BIGINT) AS sum_orders,
           floor(CAST(sum(m_cents) AS BIGINT)::DOUBLE / count(*) + 0.5)
               / 100.0                   AS avg_monetary
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quartile segmentation — the
    classic behavioral-cohort operator: label every customer 1-4 on
    each of days-since-last-order, order count, and lifetime spend,
    then profile the 4×4×4 segment grid. (Quartile 4 = highest VALUE
    of the metric, so r_q=4 means LONGEST recency gap; semantic
    inversion is a labeling choice left to the consumer.)

    Exact quartile cutpoints are computed in ONE one-pass percentile
    aggregate over the per-customer table and broadcast back (the
    winsorize pattern; at 100 TB the documented graceful downgrade is
    the mergeable histogram sketch's cutpoints). Quartile assignment
    is three codegen comparisons per metric — no ntile window, no
    global sort, so the plan is two hash aggregates + a broadcast.
    avg_monetary uses the floor(x+0.5) idiom on exact integer-cent
    sums, avoiding the engines' half-point round() divergence."""
    o = load_table(spark, sf_dir, "orders")
    bounds = F.broadcast(o.agg(F.max("o_orderdate").alias("max_d")))
    percust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("f_orders"),
        F.sum(_cents()).alias("m_cents"),
    )
    rfm = percust.crossJoin(bounds).select(
        "o_custkey",
        F.datediff("max_d", "last_d").cast("long").alias("r_days"),
        "f_orders",
        "m_cents",
    ).transform(pin)
    cuts = F.broadcast(
        rfm.agg(
            *[
                F.expr(f"percentile({m}, {p})").alias(f"{m[0]}{int(p * 100)}")
                for m in ("r_days", "f_orders", "m_cents")
                for p in (0.25, 0.50, 0.75)
            ]
        )
    )

    def _q(metric: str, pfx: str):
        col = F.lit(1)
        for p in (25, 50, 75):
            col = col + (F.col(metric) > F.col(f"{pfx}{p}")).cast("int")
        return col.cast("long")

    scored = rfm.crossJoin(cuts).select(
        _q("r_days", "r").alias("r_q"),
        _q("f_orders", "f").alias("f_q"),
        _q("m_cents", "m").alias("m_q"),
        "f_orders",
        "m_cents",
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("f_orders").cast("long").alias("sum_orders"),
            (
                F.floor(
                    F.sum("m_cents").cast("double") / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("avg_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@query(
    "agg_benford_digit_audit",
    oracle="""
    WITH b AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
    d AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
    )
    SELECT digit,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(count(*)::DOUBLE / max(n), 6) AS obs_freq,
           round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS exp_freq,
           round(abs(count(*)::DOUBLE / max(n)
                     - ln(1.0 + 1.0 / digit) / ln(10.0)), 6) AS abs_dev
    FROM d CROSS JOIN b
    GROUP BY digit ORDER BY digit
    """,
)
def agg_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals —
    the data-quality fraud/fabrication screen: natural multi-scale
    amounts follow P(d) = log10(1+1/d); synthetic or truncated data
    does not, and the per-digit deviation column shows exactly where.

    The digit is extracted from the INTEGER CENTS string (first char
    of cents = first significant digit of the price for any price
    ≥ $0.01, since ×100 only shifts the decimal point) — no log10/
    floor(log10(x)) on doubles, whose value at exact powers of ten is
    an engine-divergence trap. Total row count arrives by broadcast
    (no unpartitioned window). One fact scan, 9-row output; expected
    frequency is a closed-form log both engines evaluate identically
    to well under the 6-dp rounding."""
    o = load_table(spark, sf_dir, "orders")
    b = F.broadcast(o.agg(F.count(F.lit(1)).cast("long").alias("n")))
    d = o.select(
        F.substring(_cents().cast("string"), 1, 1).cast("long").alias("digit")
    )
    exp_freq = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(
        F.lit(10.0)
    )
    obs_freq = F.count(F.lit(1)).cast("double") / F.max("n")
    return (
        d.crossJoin(b)
        .groupBy("digit")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.round(obs_freq, 6).alias("obs_freq"),
            F.round(exp_freq, 6).alias("exp_freq"),
            F.round(F.abs(obs_freq - exp_freq), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@query(
    "window_pctrank_cumedist",
    oracle="""
    SELECT c_mktsegment AS segment, c_custkey, c_acctbal AS acctbal,
           round(percent_rank() OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal
           ), 6) AS pct_rank,
           round(cume_dist() OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal
           ), 6) AS cume_dist
    FROM customer
    ORDER BY segment, c_custkey
    """,
)
def window_pctrank_cumedist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist window surface: the normalized-rank
    pair ("this customer's balance beats X% of their segment") that
    completes the ranking-window family next to row_number/rank/
    dense_rank/ntile. Both are tie-correct by definition (percent_rank
    shares rank across ties, cume_dist counts peers ≤ current), and
    both are ratios of exact integers — deterministic across engines
    at 6 dp.

    The window partitions by segment; at 100 TB the per-segment sort
    is the same distributed-ranking problem window_deciles solves with
    the two-pass range-partition + broadcast-offsets plan — the
    normalized rank formulas only need (rank, n) per row, both of
    which that pattern provides."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        F.col("c_mktsegment").alias("segment"),
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    ).orderBy("segment", "c_custkey")


#: Poisson(1) CDF cutoffs as 8-hex-char thresholds: an md5-derived
#: uniform u (first 8 hex chars) maps to weight k = #{cutoffs < u}.
#: Fixed-width lowercase hex compares lexicographically ≡ numerically
#: (the repo's portable-randomness idiom), so both engines derive the
#: IDENTICAL Poisson weight for every (row, replicate) pair.
_POIS_CUTS = (
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
    "ff1025f5", "ffd90f3b", "fffa8b71",
)
_N_BOOT = 20


def _bootstrap_oracle() -> str:
    w = "(" + " + ".join(
        f"CASE WHEN h >= '{c}' THEN 1 ELSE 0 END" for c in _POIS_CUTS
    ) + ")"
    return f"""
    WITH expanded AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               b,
               substring(md5(CAST(o_orderkey AS VARCHAR) || '#'
                             || CAST(b AS VARCHAR)), 1, 8) AS h
        FROM orders, range({_N_BOOT}) t(b)
    ),
    reps AS (
        SELECT b,
               CAST(sum({w} * cents) AS BIGINT)::DOUBLE
                   / CAST(sum({w}) AS BIGINT) / 100.0 AS mean_b
        FROM expanded GROUP BY b
    ),
    base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS s_cents
        FROM orders
    )
    SELECT n_rows,
           floor(s_cents::DOUBLE / n_rows / 100.0 * 10000 + 0.5) / 10000.0
               AS mean,
           floor(quantile_cont(mean_b, 0.025) * 10000 + 0.5) / 10000.0
               AS ci_lo,
           floor(quantile_cont(mean_b, 0.975) * 10000 + 0.5) / 10000.0
               AS ci_hi,
           round(stddev_samp(mean_b), 6) AS boot_se
    FROM reps CROSS JOIN base
    GROUP BY n_rows, s_cents
    """


@query("sample_bootstrap_ci", oracle=_bootstrap_oracle())
def sample_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order total
    — the standard-error machinery a profiling pass needs to say "the
    mean is 151,230 ± 740" instead of a bare point estimate. Each of
    the 20 replicates reweights every row by an independent
    Poisson(1) draw (the classic streaming bootstrap: at n→∞,
    multinomial resampling converges to i.i.d. Poisson weights), and
    the CI is the 2.5%/97.5% empirical quantiles of the replicate
    means.

    Randomness is md5(o_orderkey # replicate) mapped through the
    Poisson CDF as fixed-width HEX THRESHOLD compares — seedless,
    partition-independent, and bit-identical in any engine, so the
    oracle reproduces every weight exactly.

    Scale shape: the oracle materializes the 20× row expansion
    (honest at sf0.01); the Spark plan instead evaluates all 20
    replicates as 40 CODEGEN'D AGGREGATE COLUMNS in ONE pass over the
    fact table — no expansion, mergeable integer sums, 20 replicate
    means in a single row; the quantile runs over 20 numbers. At
    100 TB that is one fact scan with a 40-column partial aggregate,
    identical cost profile to a plain mean."""
    o = load_table(spark, sf_dir, "orders")
    cents_sql = "CAST(round(o_totalprice * 100) AS BIGINT)"

    # Column-tree cost is DRIVER cost (guide §5): the 20-replicate
    # weight tree built operator-by-operator through py4j was ~1.5 s
    # of the query's ~2.8 s bench time (~500 gateway round-trips,
    # re-paid every invocation). The SAME expressions as SQL strings
    # parse+analyze in ~0.1 s — this is the kmeans _centroid_sql
    # lesson applied to the statistics family. Expressions are
    # integer-exact, so the change cannot perturb results.
    def w(b: int) -> str:
        h = (
            f"substring(md5(concat(CAST(o_orderkey AS STRING), '#', "
            f"'{b}')), 1, 8)"
        )
        terms = " + ".join(
            f"CAST(({h} >= '{c}') AS INT)" for c in _POIS_CUTS
        )
        return f"CAST(0 + {terms} AS BIGINT)"

    aggs = [
        F.expr("CAST(count(1) AS BIGINT)").alias("n_rows"),
        F.expr(f"sum({cents_sql})").alias("s_cents"),
    ]
    for b in range(_N_BOOT):
        wb = w(b)
        aggs.append(F.expr(f"sum({wb} * {cents_sql})").alias(f"ws_{b}"))
        aggs.append(F.expr(f"sum({wb})").alias(f"wn_{b}"))
    one = o.agg(*aggs)
    mean_terms = ", ".join(
        f"CAST(ws_{b} AS DOUBLE) / wn_{b} / 100.0" for b in range(_N_BOOT)
    )
    reps = one.select(
        "n_rows",
        "s_cents",
        F.expr(f"stack({_N_BOOT}, {mean_terms}) AS mean_b"),
    )
    return reps.groupBy("n_rows", "s_cents").agg(
        (
            F.floor(
                F.col("s_cents").cast("double")
                / F.col("n_rows")
                / 100.0
                * 10000
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("mean"),
        (
            F.floor(F.expr("percentile(mean_b, 0.025)") * 10000 + F.lit(0.5))
            / F.lit(10000.0)
        ).alias("ci_lo"),
        (
            F.floor(F.expr("percentile(mean_b, 0.975)") * 10000 + F.lit(0.5))
            / F.lit(10000.0)
        ).alias("ci_hi"),
        F.round(F.stddev_samp("mean_b"), 6).alias("boot_se"),
    ).select("n_rows", "mean", "ci_lo", "ci_hi", "boot_se")


@query(
    "agg_hhi_concentration",
    oracle="""
    WITH persup AS (
        SELECT s.s_nationkey,
               l.l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount))
                             AS BIGINT)) AS BIGINT) AS rev
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(rev) AS BIGINT) AS total_rev,
           round(10000.0 * CAST(sum(rev * rev) AS BIGINT)
                 / CAST(sum(rev) AS BIGINT)
                 / CAST(sum(rev) AS BIGINT), 4) AS hhi,
           round(CAST(max(rev) AS BIGINT)::DOUBLE
                 / CAST(sum(rev) AS BIGINT), 6) AS top_share
    FROM persup p JOIN nation n ON p.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index per nation over
    supplier revenue shares (HHI in points, 0..10000) plus the top
    supplier's share — the antitrust-style concentration screen, and
    next to agg_gini_concentration the second standard inequality
    measure (HHI weighs the LARGEST shares quadratically; Gini weighs
    the whole distribution).

    Float discipline: Σshareᵢ² is computed as Σrᵢ²/R² with rᵢ =
    supplier revenue in exact INTEGER DOLLARS, so the numerator is an
    integer sum (order-free across engines) and the only float op is
    the final division — no accumulation-order drift on a sum of
    double squares. Integer-dollar granularity is part of the metric
    definition; headroom: rᵢ² stays under 2⁶³ through ~10⁹-dollar
    suppliers.

    Plan: fact-scan hash aggregate keyed (nation, suppkey) after a
    key-key supplier join, then a bounded per-nation aggregate; the
    25-row nation dim broadcasts onto the bounded per-supplier
    table. One shuffle on the fact table at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    ).cast("long")
    persup = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(rev).alias("rev"))
    )
    return (
        persup.join(F.broadcast(n), persup.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("rev").cast("long").alias("total_rev"),
            F.round(
                F.lit(10000.0)
                * F.sum(F.col("rev") * F.col("rev"))
                / F.sum("rev")
                / F.sum("rev"),
                4,
            ).alias("hhi"),
            F.round(
                F.max("rev").cast("double") / F.sum("rev"), 6
            ).alias("top_share"),
        )
        .orderBy("nation")
    )


_N_PERM = 20


def _perm_oracle() -> str:
    return f"""
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS is_a
        FROM orders
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT)          AS n,
               CAST(sum(is_a) AS BIGINT)         AS n_a,
               CAST(sum(cents) AS BIGINT)        AS s,
               CAST(sum(is_a * cents) AS BIGINT) AS s_a,
               CAST(floor(sum(is_a)::DOUBLE / count(*) * 4294967296.0)
                    AS BIGINT)                   AS cutoff
        FROM base
    ),
    perms AS (
        SELECT b,
               CAST(sum(CASE WHEN CAST('0x' || substring(
                       md5(CAST(k AS VARCHAR) || '#p' || CAST(b AS VARCHAR)),
                       1, 8) AS BIGINT) < cutoff THEN cents ELSE 0 END)
                    AS BIGINT) AS ps,
               CAST(sum(CASE WHEN CAST('0x' || substring(
                       md5(CAST(k AS VARCHAR) || '#p' || CAST(b AS VARCHAR)),
                       1, 8) AS BIGINT) < cutoff THEN 1 ELSE 0 END)
                    AS BIGINT) AS pn
        FROM base CROSS JOIN tot, range({_N_PERM}) t(b)
        GROUP BY b
    ),
    scored AS (
        SELECT CASE WHEN pn > 0 AND pn < n THEN
                   abs(ps::DOUBLE / pn - (s - ps)::DOUBLE / (n - pn))
                   >= abs(s_a::DOUBLE / n_a - (s - s_a)::DOUBLE / (n - n_a))
               ELSE FALSE END AS extreme
        FROM perms CROSS JOIN tot
    )
    SELECT n_a,
           n - n_a AS n_b,
           floor((s_a::DOUBLE / n_a - (s - s_a)::DOUBLE / (n - n_a))
                 / 100.0 * 10000 + 0.5) / 10000.0 AS diff_obs,
           round((1.0 + (SELECT sum(CASE WHEN extreme THEN 1 ELSE 0 END)
                         FROM scored)) / ({_N_PERM} + 1.0), 6) AS p_value,
           CAST({_N_PERM} AS BIGINT) AS k_perms
    FROM tot
    """


@query("agg_permutation_test", oracle=_perm_oracle())
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample permutation test for the difference in mean order
    totals between URGENT and non-urgent orders — the exact-inference
    companion to sample_bootstrap_ci (the bootstrap quantifies
    uncertainty of an estimate; the permutation test asks whether the
    observed group difference survives random relabeling). Each of
    the 20 pseudo-permutations reassigns rows to group A with the
    observed group-A probability via the md5 HEX→INT threshold (the
    random-allocation variant of the label-shuffle test; group sizes
    are binomial around n_a, which is the standard large-n
    approximation), and p = (1 + #extreme)/(K+1) with the +1
    smoothing that keeps p valid.

    Every replicate mean is a ratio of exact integer-cent sums, so
    the |diff_k| ≥ |diff_obs| comparisons are deterministic across
    engines; the md5-derived assignment is bit-identical (DuckDB
    parses '0x'-hex, Spark conv(, 16, 10) — same 32-bit integer).

    Scale shape: pass 1 is one aggregate (sizes + cutoff, broadcast
    back); pass 2 evaluates all 20 permutations as 40 codegen'd
    aggregate columns in ONE fact scan — the oracle honestly replays
    the 20× expansion instead."""
    o = load_table(spark, sf_dir, "orders")
    cents = _cents()
    is_a = (F.col("o_orderpriority") == "1-URGENT").cast("int")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        cents.alias("cents"),
        is_a.alias("is_a"),
    )
    tot = F.broadcast(
        base.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("is_a").cast("long").alias("n_a"),
            F.sum("cents").alias("s"),
            F.sum(F.col("is_a") * F.col("cents")).alias("s_a"),
            F.floor(
                F.sum("is_a").cast("double")
                / F.count(F.lit(1))
                * F.lit(4294967296.0)
            )
            .cast("long")
            .alias("cutoff"),
        )
    )

    # SQL-string expression build, not per-operator py4j Columns: the
    # 20-permutation flag/score trees were ~1.9 s of driver time per
    # invocation (guide §5; see sample_bootstrap_ci for the numbers).
    # Every arithmetic step and cast is spelled identically to the
    # former Column form, so the values are bit-identical.
    def flag(b: int) -> str:
        h = (
            f"substring(md5(concat(CAST(k AS STRING), '#p{b}')), 1, 8)"
        )
        return f"CAST((CAST(conv({h}, 16, 10) AS BIGINT) < cutoff) AS INT)"

    aggs = [
        F.max("n").alias("n"),
        F.max("n_a").alias("n_a"),
        F.max("s").alias("s"),
        F.max("s_a").alias("s_a"),
    ]
    for b in range(_N_PERM):
        fb = flag(b)
        aggs.append(F.expr(f"sum({fb} * cents)").alias(f"ps_{b}"))
        aggs.append(F.expr(f"CAST(sum({fb}) AS BIGINT)").alias(f"pn_{b}"))
    row = base.crossJoin(tot).agg(*aggs)
    d_obs_sql = (
        "abs(CAST(s_a AS DOUBLE) / n_a"
        " - CAST(s - s_a AS DOUBLE) / (n - n_a))"
    )

    def d_b_sql(b: int) -> str:
        return (
            f"abs(CAST(ps_{b} AS DOUBLE) / pn_{b}"
            f" - CAST(s - ps_{b} AS DOUBLE) / (n - pn_{b}))"
        )

    extreme_sum = F.expr(
        "0 + " + " + ".join(
            f"(CASE WHEN pn_{b} > 0 AND pn_{b} < n"
            f" AND {d_b_sql(b)} >= {d_obs_sql} THEN 1 ELSE 0 END)"
            for b in range(_N_PERM)
        )
    )
    signed_obs = (
        F.col("s_a").cast("double") / F.col("n_a")
        - (F.col("s") - F.col("s_a")).cast("double")
        / (F.col("n") - F.col("n_a"))
    )
    return row.select(
        F.col("n_a"),
        (F.col("n") - F.col("n_a")).alias("n_b"),
        (
            F.floor(signed_obs / F.lit(100.0) * 10000 + F.lit(0.5))
            / F.lit(10000.0)
        ).alias("diff_obs"),
        F.round(
            (F.lit(1.0) + extreme_sum) / F.lit(float(_N_PERM + 1)), 6
        ).alias("p_value"),
        F.lit(_N_PERM).cast("long").alias("k_perms"),
    )


@query(
    "agg_tail_cvar",
    oracle="""
    WITH cuts AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.95) AS p95
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           floor(max(c.p95) * 10000 + 0.5) / 10000.0 AS var_p95,
           CAST(sum(CASE WHEN o.o_totalprice > c.p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS tail_n,
           floor(CAST(sum(CASE WHEN o.o_totalprice > c.p95
                          THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                          ELSE 0 END) AS BIGINT)::DOUBLE
                 / nullif(sum(CASE WHEN o.o_totalprice > c.p95
                              THEN 1 ELSE 0 END), 0)
                 / 100.0 * 10000 + 0.5) / 10000.0 AS cvar
    FROM orders o JOIN cuts c ON o.o_orderpriority = c.o_orderpriority
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def agg_tail_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk (p95) + conditional VaR (expected shortfall: the
    mean of everything BEYOND p95) per order priority — the
    tail-risk pair that answers "when it's bad, how bad?", and the
    tail-conditional complement to agg_winsorize_stats (winsorize
    clamps the tail away; CVaR characterizes it).

    Same two-pass shape as winsorize, per group: pass 1 computes the
    exact per-group p95 in one percentile aggregate and BROADCASTS
    the ≤|groups| cutpoints back; pass 2 is one fact scan computing
    the tail membership, count, and integer-cent tail sum together.
    Both engines interpolate the same cutpoint from the same sorted
    values, so tail membership is identical; the tail mean uses the
    floor-rounding idiom on exact cent sums. At 100 TB pass 1
    downgrades to the mergeable histogram sketch's cutpoint, pass 2
    unchanged."""
    o = load_table(spark, sf_dir, "orders")
    cuts = F.broadcast(
        o.groupBy("o_orderpriority").agg(
            F.expr("percentile(o_totalprice, 0.95)").alias("p95")
        )
    )
    tail = F.col("o_totalprice") > F.col("p95")
    return (
        o.join(cuts, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.floor(F.max("p95") * 10000 + F.lit(0.5)) / F.lit(10000.0)
            ).alias("var_p95"),
            F.sum(tail.cast("int")).cast("long").alias("tail_n"),
            (
                F.floor(
                    F.sum(F.when(tail, _cents()).otherwise(0)).cast("double")
                    / F.nullif(F.sum(tail.cast("int")), F.lit(0))
                    / 100.0
                    * 10000
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("cvar"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_skyline_pareto",
    oracle="""
    WITH pts AS (
        SELECT p_brand, p_partkey, CAST(p_size AS BIGINT) AS p_size,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
        FROM part
    ),
    scored AS (
        SELECT *,
               max(p_size) OVER (
                   PARTITION BY p_brand ORDER BY price_cents
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS m_cheaper,
               max(p_size) OVER (
                   PARTITION BY p_brand, price_cents
               ) AS m_same
        FROM pts
    )
    SELECT p_brand, p_partkey, p_size,
           price_cents / 100.0 AS retailprice
    FROM scored
    WHERE (m_cheaper IS NULL OR m_cheaper < p_size)
      AND m_same <= p_size
    ORDER BY p_brand, price_cents, p_partkey
    """,
)
def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator: per brand, the parts not
    dominated on (price ↓, size ↑) — no other part is both at-most-
    as-expensive and at-least-as-big with strictness in one
    dimension. The classic multi-objective query (Börzsönyi et al.'s
    SKYLINE OF) that nested-loop formulations solve in O(n²); in 2-D
    it collapses to ONE sorted window pass: sort by price, keep a row
    iff its size beats the running max size of every strictly-cheaper
    row (and no same-price row is strictly bigger).

    Integer domains only (cents, size), so dominance comparisons
    cannot drift. The RANGE frame keyed on price_cents handles
    price ties exactly: the strictly-cheaper max excludes the whole
    tied group, the same-price max resolves within it.

    Plan: one scan, two windows over the same brand-partitioned sort
    (a single exchange + sort serves both), one filter. At 100 TB
    with few partitions the same plan runs on a range-partitioned
    sort (the window_deciles two-pass path) — still one data pass."""
    p = load_table(spark, sf_dir, "part")
    pts = p.select(
        "p_brand",
        "p_partkey",
        F.col("p_size").cast("long").alias("p_size"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias(
            "price_cents"
        ),
    )
    w_cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("p_brand", "price_cents")
    scored = pts.select(
        "p_brand",
        "p_partkey",
        "p_size",
        "price_cents",
        F.max("p_size").over(w_cheaper).alias("m_cheaper"),
        F.max("p_size").over(w_same).alias("m_same"),
    )
    return (
        scored.filter(
            (F.col("m_cheaper").isNull() | (F.col("m_cheaper") < F.col("p_size")))
            & (F.col("m_same") <= F.col("p_size"))
        )
        .select(
            "p_brand",
            "p_partkey",
            "p_size",
            (F.col("price_cents") / F.lit(100.0)).alias("retailprice"),
        )
        .orderBy("p_brand", "retailprice", "p_partkey")
    )


@query(
    "agg_share_of_parent",
    oracle="""
    WITH leaf AS (
        SELECT o_orderpriority AS prio, o_orderstatus AS status,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    parent AS (
        SELECT prio, CAST(sum(cents) AS BIGINT) AS p_cents
        FROM leaf GROUP BY prio
    ),
    total AS (SELECT CAST(sum(cents) AS BIGINT) AS t_cents FROM leaf)
    SELECT l.prio, l.status,
           l.cents / 100.0 AS revenue,
           round(l.cents::DOUBLE / p.p_cents, 6) AS share_of_parent,
           round(l.cents::DOUBLE / t.t_cents, 6) AS share_of_total
    FROM leaf l JOIN parent p ON l.prio = p.prio CROSS JOIN total t
    ORDER BY l.prio, l.status
    """,
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical contribution analysis — each (priority, status)
    leaf's revenue share of its priority PARENT and of the grand
    total, the "% of parent" column every OLAP drill-down shows next
    to the rollup subtotals (agg_grouping_id_rollup pins the subtotal
    rows themselves; this pins the ratios between levels).

    Plan: ONE fact scan to the bounded leaf table; parent and total
    re-aggregate the leaf table (never the facts) and broadcast back
    — the same bounded-reaggregation shape as the MI/chi-square
    contingency queries. All shares are ratios of exact integer-cent
    sums."""
    o = load_table(spark, sf_dir, "orders")
    leaf = (
        o.groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.sum(_cents()).alias("cents"))
        .transform(pin)
    )
    parent = leaf.groupBy("prio").agg(F.sum("cents").alias("p_cents"))
    total = leaf.agg(F.sum("cents").alias("t_cents"))
    return (
        leaf.join(F.broadcast(parent), "prio")
        .crossJoin(F.broadcast(total))
        .select(
            "prio",
            "status",
            (F.col("cents") / F.lit(100.0)).alias("revenue"),
            F.round(
                F.col("cents").cast("double") / F.col("p_cents"), 6
            ).alias("share_of_parent"),
            F.round(
                F.col("cents").cast("double") / F.col("t_cents"), 6
            ).alias("share_of_total"),
        )
        .orderBy("prio", "status")
    )


@query(
    "agg_pareto_8020",
    oracle="""
    WITH percust AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT c.c_mktsegment AS segment, p.cents,
               CAST(row_number() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY p.cents DESC, p.o_custkey
               ) AS BIGINT) AS i,
               CAST(sum(p.cents) OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY p.cents DESC, p.o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum,
               CAST(sum(p.cents) OVER (
                   PARTITION BY c.c_mktsegment
               ) AS BIGINT) AS tot,
               CAST(count(*) OVER (
                   PARTITION BY c.c_mktsegment
               ) AS BIGINT) AS n
        FROM percust p JOIN customer c ON p.o_custkey = c.c_custkey
    )
    SELECT segment,
           CAST(max(n) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN 5 * cum >= 4 * tot THEN i END) AS BIGINT)
               AS n_to_80pct,
           round(min(CASE WHEN 5 * cum >= 4 * tot THEN i END)::DOUBLE
                 / max(n), 6) AS frac_to_80pct
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """,
)
def agg_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 readout: per segment, how many top customers (by
    revenue, descending) it takes to reach 80% of segment revenue —
    the headline scalar the Lorenz curve (agg_gini_concentration)
    compresses to, and the number a data-mixing pass quotes when
    deciding whether a long tail of sources is worth keeping.

    The crossing test is the INTEGER inequality 5·cum ≥ 4·total (no
    0.8·total float threshold to straddle an ulp), and the crossing
    rank is the min rank satisfying it — deterministic because
    descending revenue ties break by custkey identically in both
    engines.

    Plan: the gini/skyline shape — per-customer hash aggregate,
    segment join, ONE partitioned window pass (rank + running sum +
    per-segment totals fused over the same sort), bounded rollup; the
    100 TB path swaps the per-segment sort for the range-partitioned
    two-pass ranking, unchanged arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    percust = o.groupBy("o_custkey").agg(F.sum(_cents()).alias("cents"))
    seg = percust.join(c, percust.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "cents", "o_custkey"
    )
    by_seg = Window.partitionBy("segment")
    w_ord = by_seg.orderBy(F.desc("cents"), "o_custkey")
    ranked = seg.select(
        "segment",
        F.row_number().over(w_ord).cast("long").alias("i"),
        F.sum("cents")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum"),
        F.sum("cents").over(by_seg).cast("long").alias("tot"),
        F.count(F.lit(1)).over(by_seg).cast("long").alias("n"),
    )
    crossing = F.min(
        F.when(5 * F.col("cum") >= 4 * F.col("tot"), F.col("i"))
    )
    return (
        ranked.groupBy("segment")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            crossing.cast("long").alias("n_to_80pct"),
            F.round(crossing.cast("double") / F.max("n"), 6).alias(
                "frac_to_80pct"
            ),
        )
        .orderBy("segment")
    )


@query(
    "agg_fulfillment_latency",
    oracle="""
    WITH lat AS (
        SELECT o.o_orderpriority AS prio,
               CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
                    AS BIGINT) AS days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT prio,
           CAST(count(*) AS BIGINT) AS n_lines,
           floor(quantile_cont(days, 0.50) * 100 + 0.5) / 100.0 AS p50_days,
           floor(quantile_cont(days, 0.90) * 100 + 0.5) / 100.0 AS p90_days,
           CAST(max(days) AS BIGINT) AS max_days,
           round(CAST(sum(days) AS BIGINT)::DOUBLE / count(*), 4)
               AS mean_days
    FROM lat
    GROUP BY prio
    ORDER BY prio
    """,
)
def agg_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment latency distribution (order date → line
    ship date) per priority: p50/p90/max/mean days — the operational
    SLA lens on the fact table (does URGENT actually ship faster?),
    and a percentile query whose input is INTEGER DAYS, so the
    interpolated quantiles are exact ratios of small integers and
    the floor idiom closes the last half-point gap.

    Plan: one key-key fact join (lineitem ⋈ orders on the order key —
    the star schema's co-partitionable edge, bucketable at scale),
    then a single percentile+moments aggregate per bounded priority
    group. At 100 TB pass-1 percentile state downgrades to the
    histogram sketch as usual; integer-day granularity means the
    sketch is exact anyway (bounded distinct values)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("days"),
    )
    return (
        lat.groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            (
                F.floor(F.expr("percentile(days, 0.50)") * 100 + F.lit(0.5))
                / F.lit(100.0)
            ).alias("p50_days"),
            (
                F.floor(F.expr("percentile(days, 0.90)") * 100 + F.lit(0.5))
                / F.lit(100.0)
            ).alias("p90_days"),
            F.max("days").cast("long").alias("max_days"),
            F.round(
                F.sum("days").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_days"),
        )
        .orderBy("prio")
    )


@query(
    "join_basket_affinity",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
    ),
    item_n AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
        FROM items GROUP BY l_partkey
    ),
    pair_n AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(count(*) AS BIGINT) AS cab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    ),
    scored AS (
        SELECT p.pa, p.pb, p.cab, ia.c AS ca, ib.c AS cb, n.n,
               round(p.cab::DOUBLE * n.n / (ia.c * ib.c), 6) AS lift,
               lpad(CAST(CAST(round(p.cab::DOUBLE * n.n * 1000000
                                    / (ia.c * ib.c)) AS BIGINT)
                         AS VARCHAR), 18, '0')
                 || lpad(CAST(p.pa AS VARCHAR), 12, '0')
                 || lpad(CAST(p.pb AS VARCHAR), 12, '0') AS ord
        FROM pair_n p
        JOIN item_n ia ON p.pa = ia.l_partkey
        JOIN item_n ib ON p.pb = ib.l_partkey
        CROSS JOIN n_orders n
    )
    SELECT pa, pb, cab AS n_cooccur,
           round(cab::DOUBLE / n, 6)  AS support,
           round(cab::DOUBLE / ca, 6) AS confidence_a_b,
           lift
    FROM scored
    ORDER BY ord DESC
    LIMIT 20
    """,
)
def join_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity mining: support, confidence, and LIFT
    for part pairs co-occurring in an order (reference README.md:26
    "most efficient hero combinations" is exactly this shape) — the
    association-rule layer on top of join_selfpair_parts' raw pair
    join: selfpair demonstrates the join, this ranks the top-20 pairs
    by how much MORE often they co-occur than independence predicts.

    Determinism: the ranking key is the fixed-width string of
    round(lift·10⁶) (an exact integer ratio scaled before rounding)
    + both part keys, so the top-20 cut cannot be reordered or split
    by float ties. The min-support HAVING (≥3 co-occurrences) is the
    standard Apriori support prune and keeps the scored set small.

    At 100 TB: per-order pair enumeration is bounded by basket size
    (TPC-H ≤7 lines/order — quadratic only in the small basket, the
    same bound every frequent-itemset miner relies on); item and
    pair counts are hash aggregates; the n_orders scalar broadcasts;
    the final top-20 is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct().transform(pin)
    n_orders = F.broadcast(
        items.agg(F.countDistinct("l_orderkey").cast("long").alias("n"))
    )
    item_n = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .filter(F.col("cab") >= 3)
    )
    scored = (
        pairs.join(item_n.withColumnRenamed("l_partkey", "pa"), "pa")
        .withColumnRenamed("c", "ca")
        .join(
            item_n.withColumnRenamed("l_partkey", "pb").withColumnRenamed(
                "c", "cb"
            ),
            "pb",
        )
        .crossJoin(n_orders)
    )
    lift_scaled = F.round(
        F.col("cab").cast("double") * F.col("n") * 1000000
        / (F.col("ca") * F.col("cb"))
    ).cast("long")
    ord_s = F.concat(
        F.lpad(lift_scaled.cast("string"), 18, "0"),
        F.lpad(F.col("pa").cast("string"), 12, "0"),
        F.lpad(F.col("pb").cast("string"), 12, "0"),
    )
    return (
        scored.withColumn("ord", ord_s)
        .orderBy(F.desc("ord"))
        .limit(20)
        .select(
            "pa",
            "pb",
            F.col("cab").alias("n_cooccur"),
            F.round(F.col("cab").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(F.col("cab").cast("double") / F.col("ca"), 6).alias(
                "confidence_a_b"
            ),
            F.round(
                F.col("cab").cast("double") * F.col("n")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "agg_reorder_rate",
    oracle="""
    WITH cp AS (
        SELECT l.l_partkey, o.o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    per_part AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_buyers,
               CAST(sum(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_repeat
        FROM cp GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(n_buyers) AS BIGINT) AS n_buyer_pairs,
           CAST(sum(n_repeat) AS BIGINT) AS n_repeat_pairs,
           round(CAST(sum(n_repeat) AS BIGINT)::DOUBLE
                 / CAST(sum(n_buyers) AS BIGINT), 6) AS repeat_rate,
           CAST(sum(CASE WHEN n_repeat > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_parts_with_repeat,
           round(sum(CASE WHEN n_repeat > 0 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS part_repeat_frac
    FROM per_part
    """,
)
def agg_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase (reorder) profile: what fraction of
    (customer, part) relationships involve more than one order, and
    what fraction of parts have ANY repeat buyer — the loyalty/
    consumable-vs-durable diagnostic next to join_basket_affinity
    (affinity asks what sells TOGETHER; reorder asks what sells
    AGAIN).

    Plan: the co-partitionable lineitem⋈orders key join, a hash
    aggregate to the (customer, part) relationship table, a
    re-aggregate to per-part counts, and a final 1-row rollup — each
    stage strictly smaller than the last, all counts exact
    integers."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_partkey", "o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    per_part = cp.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_buyers"),
        F.sum(F.when(F.col("n_orders") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_repeat"),
    )
    return per_part.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("n_buyers").cast("long").alias("n_buyer_pairs"),
        F.sum("n_repeat").cast("long").alias("n_repeat_pairs"),
        F.round(
            F.sum("n_repeat").cast("double") / F.sum("n_buyers"), 6
        ).alias("repeat_rate"),
        F.sum(F.when(F.col("n_repeat") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_parts_with_repeat"),
        F.round(
            F.sum(F.when(F.col("n_repeat") > 0, 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("part_repeat_frac"),
    )


# --- experimentation: CUPED variance reduction ------------------------

#: pre/post experiment boundary for the synthetic A/B assignment.
_CUPED_CUT = "1998-01-01"


@query(
    "ab_cuped_adjustment",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey AS k,
               CAST('0x' || substr(md5('t:' || CAST(o_custkey AS VARCHAR)),
                                   1, 4) AS BIGINT) % 2 AS t,
               CAST(sum(CASE WHEN o_orderdate < DATE '{_CUPED_CUT}'
                             THEN CAST(round(o_totalprice) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN o_orderdate >= DATE '{_CUPED_CUT}'
                             THEN CAST(round(o_totalprice) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(t) AS BIGINT) AS n_t,
               CAST(sum(t * x) AS BIGINT) AS sx_t,
               CAST(sum(t * y) AS BIGINT) AS sy_t
        FROM cust
    )
    SELECT n_t AS n_treat,
           CAST(n - n_t AS BIGINT) AS n_ctrl,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n),
                 6) AS theta,
           round(CAST(sy_t AS DOUBLE) / n_t
                 - CAST(sy - sy_t AS DOUBLE) / (n - n_t), 6) AS raw_diff,
           round(CAST(sy_t AS DOUBLE) / n_t
                 - CAST(sy - sy_t AS DOUBLE) / (n - n_t)
                 - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                   * (CAST(sx_t AS DOUBLE) / n_t
                      - CAST(sx - sx_t AS DOUBLE) / (n - n_t)),
                 6) AS adjusted_diff,
           round(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                  * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n))
                 / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)),
                 6) AS rho2
    FROM s
    """,
)
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. WSDM'13) for a deterministic synthetic A/B test on customers:
    treatment = md5-parity of the customer key, metric Y = post-1998
    spend, covariate X = pre-1998 spend. Reports theta = cov(X,Y)/
    var(X), the raw treatment-control difference of Y, the
    CUPED-adjusted difference Y - theta*X, and rho^2 = the fraction of
    metric variance the covariate removes — the number that tells an
    experimentation platform how much smaller its confidence
    intervals get for free.

    Engine-portability: all moments are integer-DOLLAR sums (cents
    would overflow int64 in sum(x*y) at the 100 TB scale this is
    meant for; dollars keep sum(x*y) ~ 1e16 with int64 headroom to
    ~1e18, and the overflow guard is the same argument
    agg_hhi_concentration documents); theta/rho^2 are computed from
    those sums with one fixed expression — identical doubles both
    engines, rounded 6dp. Precision note: the single-pass form's
    sx*sy cross-product exceeds 2^53, costing ~1e-5 RELATIVE double
    rounding vs exact rational math — bit-identical on both engines
    (so the hash is safe), negligible for a variance-reduction
    estimate, and the price of one pass; a deployment needing exact
    moments would center on broadcast means in a second pass. One orders scan, one customer-keyed
    aggregate, one scalar row. Assignment hashes the key with a salt
    ('t:') so it is independent of every other md5 use in the repo."""
    o = load_table(spark, sf_dir, "orders")
    t = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("t:"), F.col("o_custkey").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    dollars = F.round(F.col("o_totalprice")).cast("long")
    pre = F.col("o_orderdate") < F.lit(_CUPED_CUT).cast("date")
    cust = o.groupBy("o_custkey").agg(
        F.max(t).alias("t"),  # t is a function of the key: max == value
        F.sum(F.when(pre, dollars).otherwise(F.lit(0)))
        .cast("long")
        .alias("x"),
        F.sum(F.when(~pre, dollars).otherwise(F.lit(0)))
        .cast("long")
        .alias("y"),
    )
    s = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum("t").cast("long").alias("n_t"),
        F.sum(F.col("t") * F.col("x")).cast("long").alias("sx_t"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sy_t"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov = d("sxy") - d("sx") * F.col("sy") / F.col("n")
    varx = d("sxx") - d("sx") * F.col("sx") / F.col("n")
    vary = d("syy") - d("sy") * F.col("sy") / F.col("n")
    theta = cov / varx
    mean_y_t = d("sy_t") / F.col("n_t")
    mean_y_c = (d("sy") - d("sy_t")) / (F.col("n") - F.col("n_t"))
    mean_x_t = d("sx_t") / F.col("n_t")
    mean_x_c = (d("sx") - d("sx_t")) / (F.col("n") - F.col("n_t"))
    return s.select(
        F.col("n_t").alias("n_treat"),
        (F.col("n") - F.col("n_t")).cast("long").alias("n_ctrl"),
        F.round(theta, 6).alias("theta"),
        F.round(mean_y_t - mean_y_c, 6).alias("raw_diff"),
        F.round(
            mean_y_t - mean_y_c - theta * (mean_x_t - mean_x_c), 6
        ).alias("adjusted_diff"),
        F.round(cov * cov / (varx * vary), 6).alias("rho2"),
    )


# --- one-way ANOVA ----------------------------------------------------

#: the five o_orderpriority levels, FIXED order — the pivot that keeps
#: every cross-group double sum accumulation-order-free.
_ANOVA_LEVELS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _anova_sql() -> str:
    per = []
    for i, lvl in enumerate(_ANOVA_LEVELS, 1):
        per.append(
            f"CAST(coalesce(sum(CASE WHEN o_orderpriority = '{lvl}' "
            f"THEN 1 END), 0) AS BIGINT) AS n{i}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN o_orderpriority = '{lvl}' "
            f"THEN CAST(round(o_totalprice) AS BIGINT) END), 0) "
            f"AS BIGINT) AS s{i}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN o_orderpriority = '{lvl}' "
            f"THEN CAST(round(o_totalprice) AS BIGINT) "
            f"* CAST(round(o_totalprice) AS BIGINT) END), 0) "
            f"AS BIGINT) AS q{i}"
        )
    cols = ",\n               ".join(per)
    grp = " + ".join(f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(1, 6))
    n = " + ".join(f"n{i}" for i in range(1, 6))
    s = " + ".join(f"s{i}" for i in range(1, 6))
    q = " + ".join(f"q{i}" for i in range(1, 6))
    means = ",\n           ".join(
        f"round(CAST(s{i} AS DOUBLE) / n{i}, 6) AS mean_p{i}"
        for i in range(1, 6)
    )
    return f"""
    WITH s AS (
        SELECT {cols}
        FROM orders
    ),
    m AS (
        SELECT *,
               CAST({n} AS BIGINT) AS n,
               CAST({s} AS BIGINT) AS st,
               CAST({q} AS BIGINT) AS qt,
               ({grp}) AS grp_term
        FROM s
    )
    SELECT n AS n_total,
           CAST(5 AS BIGINT) AS k_groups,
           {means},
           round(grp_term - CAST(st AS DOUBLE) * st / n, 2) AS ss_between,
           round(CAST(qt AS DOUBLE) - grp_term, 2) AS ss_within,
           round(((grp_term - CAST(st AS DOUBLE) * st / n) / 4)
                 / ((CAST(qt AS DOUBLE) - grp_term) / (n - 5)), 6)
               AS f_stat,
           round((grp_term - CAST(st AS DOUBLE) * st / n)
                 / (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / n), 6)
               AS eta_squared
    FROM m
    """


@query("stats_anova_oneway", oracle=_anova_sql())
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the five order-priority
    levels: per-level means, between/within sums of squares, the F
    statistic, and eta^2 (variance explained) — the inferential test
    behind every "does segment matter?" dashboard question.

    Portability is the interesting part: SSB = sum over groups of
    S_g^2/n_g is a sum of five DOUBLES, and float addition is
    accumulation-order-dependent — a GROUP BY then SUM would let the
    two engines add in different orders and diverge in the last ulp.
    So the five levels are PIVOTED into fixed columns in ONE
    aggregate pass (the text_bm25_search idiom) and every cross-group
    sum is written as an explicit left-to-right chain — identical
    doubles on both engines, no group-hash order anywhere. Inputs are
    integer dollars (int64 headroom argument as ab_cuped_adjustment);
    S_g^2 exceeds int64 so the squares move to double AFTER the exact
    integer sums. One orders scan, one aggregate row.

    r12: the 15 pivot aggregates and the cross-group chains are built
    as SQL strings parsed by F.expr instead of operator-by-operator
    Column trees — the sample_bootstrap_ci lesson (guide §5: large
    query-plan construction is driver-side cost; one parse replaces
    ~150 py4j round-trips). Every literal, cast, and left-to-right
    accumulation order is spelled identically to the former Column
    form, so results are bit-identical (oracle hash pins it)."""
    o = load_table(spark, sf_dir, "orders")
    dlr = "CAST(round(o_totalprice, 0) AS BIGINT)"
    aggs = []
    for i, lvl in enumerate(_ANOVA_LEVELS, 1):
        hit = f"o_orderpriority = '{lvl}'"
        aggs += [
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN 1 END), 0)"
            f" AS BIGINT) AS n{i}",
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN {dlr} END), 0)"
            f" AS BIGINT) AS s{i}",
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN {dlr} * {dlr} END),"
            f" 0) AS BIGINT) AS q{i}",
        ]
    s = o.agg(*[F.expr(a) for a in aggs])
    grp = " + ".join(
        f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(1, 6)
    )
    m = s.select(
        *[F.col(f"{c}{i}") for i in range(1, 6) for c in ("n", "s", "q")],
        F.expr(
            f"CAST({' + '.join(f'n{i}' for i in range(1, 6))} AS BIGINT)"
            " AS n"
        ),
        F.expr(
            f"CAST({' + '.join(f's{i}' for i in range(1, 6))} AS BIGINT)"
            " AS st"
        ),
        F.expr(
            f"CAST({' + '.join(f'q{i}' for i in range(1, 6))} AS BIGINT)"
            " AS qt"
        ),
        F.expr(f"({grp}) AS grp_term"),
    )
    ssb = "(grp_term - CAST(st AS DOUBLE) * st / n)"
    ssw = "(CAST(qt AS DOUBLE) - grp_term)"
    sst = "(CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / n)"
    return m.select(
        F.col("n").alias("n_total"),
        F.expr("CAST(5 AS BIGINT) AS k_groups"),
        *[
            F.expr(
                f"round(CAST(s{i} AS DOUBLE) / n{i}, 6) AS mean_p{i}"
            )
            for i in range(1, 6)
        ],
        F.expr(f"round({ssb}, 2) AS ss_between"),
        F.expr(f"round({ssw}, 2) AS ss_within"),
        F.expr(
            f"round(({ssb} / 4) / ({ssw} / (n - 5)), 6) AS f_stat"
        ),
        F.expr(f"round({ssb} / {sst}, 6) AS eta_squared"),
    )


# --- Welch two-sample t-test ------------------------------------------

#: the two priority levels Welch compares — extreme ends of the
#: urgency scale so the "does urgency shift order value?" question is
#: the sharpest available two-sample contrast.
_WELCH_A = "1-URGENT"
_WELCH_B = "5-LOW"


def _welch_sql() -> str:
    per = []
    for tag, lvl in (("a", _WELCH_A), ("b", _WELCH_B)):
        per.append(
            f"CAST(coalesce(sum(CASE WHEN o_orderpriority = '{lvl}' "
            f"THEN 1 END), 0) AS BIGINT) AS n_{tag}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN o_orderpriority = '{lvl}' "
            f"THEN CAST(round(o_totalprice) AS BIGINT) END), 0) "
            f"AS BIGINT) AS s_{tag}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN o_orderpriority = '{lvl}' "
            f"THEN CAST(round(o_totalprice) AS BIGINT) "
            f"* CAST(round(o_totalprice) AS BIGINT) END), 0) "
            f"AS BIGINT) AS q_{tag}"
        )
    cols = ",\n               ".join(per)
    return f"""
    WITH s AS (
        SELECT {cols}
        FROM orders
    ),
    m AS (
        SELECT *,
               (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a)
                   / (n_a - 1) AS v_a,
               (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b)
                   / (n_b - 1) AS v_b
        FROM s
    )
    SELECT n_a AS n_urgent,
           n_b AS n_low,
           round(CAST(s_a AS DOUBLE) / n_a, 6) AS mean_urgent,
           round(CAST(s_b AS DOUBLE) / n_b, 6) AS mean_low,
           round(CAST(s_a AS DOUBLE) / n_a
                 - CAST(s_b AS DOUBLE) / n_b, 6) AS mean_diff,
           round((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
                 / sqrt(v_a / n_a + v_b / n_b), 6) AS t_stat,
           round((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
                 / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                    + (v_b / n_b) * (v_b / n_b) / (n_b - 1)), 6)
               AS df_welch
    FROM m
    """


@query("stats_ttest_welch", oracle=_welch_sql())
def stats_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test of order value,
    1-URGENT vs 5-LOW priority: group means, mean difference, the t
    statistic, and the Welch–Satterthwaite degrees of freedom — the
    default (variance-robust) A/B significance test.

    Portability follows stats_anova_oneway exactly: the two groups
    are PIVOTED into fixed columns in ONE aggregate pass over integer
    DOLLARS (int64 headroom argument as ab_cuped_adjustment), so no
    double is ever accumulated in engine-dependent order; sample
    variances (ddof=1), t, and df are single fixed expressions over
    those exact sums — identical doubles both engines, rounded 6dp.
    One orders scan, one aggregate row, fully codegen."""
    o = load_table(spark, sf_dir, "orders")
    dollars = F.round(F.col("o_totalprice")).cast("long")
    aggs = []
    for tag, lvl in (("a", _WELCH_A), ("b", _WELCH_B)):
        hit = F.col("o_orderpriority") == lvl
        aggs += [
            F.coalesce(F.sum(F.when(hit, F.lit(1))), F.lit(0))
            .cast("long")
            .alias(f"n_{tag}"),
            F.coalesce(F.sum(F.when(hit, dollars)), F.lit(0))
            .cast("long")
            .alias(f"s_{tag}"),
            F.coalesce(F.sum(F.when(hit, dollars * dollars)), F.lit(0))
            .cast("long")
            .alias(f"q_{tag}"),
        ]
    s = o.agg(*aggs)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    v_a = (d("q_a") - d("s_a") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    v_b = (d("q_b") - d("s_b") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    m = s.select("*", v_a.alias("v_a"), v_b.alias("v_b"))
    mean_a = d("s_a") / F.col("n_a")
    mean_b = d("s_b") / F.col("n_b")
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    return m.select(
        F.col("n_a").alias("n_urgent"),
        F.col("n_b").alias("n_low"),
        F.round(mean_a, 6).alias("mean_urgent"),
        F.round(mean_b, 6).alias("mean_low"),
        F.round(mean_a - mean_b, 6).alias("mean_diff"),
        F.round((mean_a - mean_b) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            se2
            * se2
            / (
                (F.col("v_a") / F.col("n_a"))
                * (F.col("v_a") / F.col("n_a"))
                / (F.col("n_a") - 1)
                + (F.col("v_b") / F.col("n_b"))
                * (F.col("v_b") / F.col("n_b"))
                / (F.col("n_b") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


# --- Mann-Whitney U (tie-corrected) -----------------------------------


def _mwu_sql() -> str:
    return f"""
    WITH vals AS (
        SELECT CAST(round(o_totalprice) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(coalesce(sum(CASE WHEN o_orderpriority = '{_WELCH_A}'
                    THEN 1 END), 0) AS BIGINT) AS n1v
        FROM orders
        WHERE o_orderpriority IN ('{_WELCH_A}', '{_WELCH_B}')
        GROUP BY 1
    ),
    ranked AS (
        SELECT v, cnt, n1v,
               CAST(coalesce(sum(cnt) OVER (
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM vals
    ),
    s AS (
        SELECT CAST(sum(n1v) AS BIGINT) AS n1,
               CAST(sum(cnt - n1v) AS BIGINT) AS n2,
               CAST(sum(n1v * (2 * cum_before + cnt + 1)) AS BIGINT)
                   AS r1x2,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term,
               CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tie_values
        FROM ranked
    )
    SELECT n1 AS n_urgent,
           n2 AS n_low,
           tie_values,
           round((CAST(r1x2 AS DOUBLE) - n1 * (CAST(n1 AS DOUBLE) + 1))
                 / 2, 2) AS u_stat,
           round(((CAST(r1x2 AS DOUBLE) - n1 * (CAST(n1 AS DOUBLE) + 1))
                    / 2
                  - CAST(n1 AS DOUBLE) * n2 / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                        * ((n1 + n2 + 1)
                           - CAST(tie_term AS DOUBLE)
                             / ((CAST(n1 AS DOUBLE) + n2)
                                * (n1 + n2 - 1)))), 6) AS z_stat
    FROM s
    """


@query("stats_mann_whitney_u", oracle=_mwu_sql())
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (normal approximation, tie
    correction) of order value between 1-URGENT and 5-LOW priorities —
    the nonparametric sibling of stats_ttest_welch for when dollar
    distributions are too skewed to trust a mean.

    The scale design is the interesting part: naive rank-sum ranks
    every ROW (a global sort of the fact table). Here ranks are
    recovered from the DISTINCT-VALUE frequency table instead — group
    by integer dollar value (bounded cardinality: the price grid, not
    the row count), one cumulative count over that small table, and
    the average rank of a tied block is (2*cum_before + cnt + 1)/2.
    Summing n1v * (2*avg_rank) keeps everything in exact BIGINT
    (doubled ranks stay integral), so U, the tie-corrected variance,
    and z are single fixed expressions over exact integer scalars —
    identical doubles both engines, rounded 6dp / 2dp. One orders
    scan, one value-keyed shuffle, one tiny window, one scalar row."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin(_WELCH_A, _WELCH_B)
    )
    dollars = F.round(F.col("o_totalprice")).cast("long")
    vals = o.select(
        dollars.alias("v"),
        (F.col("o_orderpriority") == _WELCH_A).cast("long").alias("is1"),
    ).groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("is1").cast("long").alias("n1v"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "v",
        "cnt",
        "n1v",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("long")
        .alias("cum_before"),
    )
    s = ranked.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("n1v")).cast("long").alias("n2"),
        F.sum(
            F.col("n1v") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("r1x2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_term"),
        F.sum(F.when(F.col("cnt") > 1, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("tie_values"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    u = (d("r1x2") - F.col("n1") * (d("n1") + 1)) / 2
    mu = d("n1") * F.col("n2") / 2
    sigma = F.sqrt(
        d("n1")
        * F.col("n2")
        / 12
        * (
            (F.col("n1") + F.col("n2") + 1)
            - d("tie_term")
            / ((d("n1") + F.col("n2")) * (F.col("n1") + F.col("n2") - 1))
        )
    )
    return s.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_low"),
        F.col("tie_values"),
        F.round(u, 2).alias("u_stat"),
        F.round((u - mu) / sigma, 6).alias("z_stat"),
    )


# --- Spearman rank correlation ----------------------------------------


def _spearman_sql() -> str:
    return """
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    xv AS (
        SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1
    ),
    xr AS (
        SELECT x,
               2 * CAST(coalesce(sum(cnt) OVER (
                   ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) + cnt + 1 AS rx2
        FROM xv
    ),
    yv AS (
        SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1
    ),
    yr AS (
        SELECT y,
               2 * CAST(coalesce(sum(cnt) OVER (
                   ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) + cnt + 1 AS ry2
        FROM yv
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rx2) AS BIGINT) AS sx,
               CAST(sum(ry2) AS BIGINT) AS sy,
               CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
               CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
               CAST(sum(rx2 * ry2) AS BIGINT) AS sxy
        FROM base
        JOIN xr USING (x)
        JOIN yr USING (y)
    )
    SELECT n AS n_rows,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                        * (CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy / n)), 6)
               AS spearman_rho
    FROM s
    """


@query("stats_spearman_corr", oracle=_spearman_sql())
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between lineitem quantity and
    extended price — the monotone-association measure that survives
    the heavy ties (50 distinct quantities) and skew that break
    Pearson's linearity assumption.

    Average ranks come from DISTINCT-VALUE frequency tables (the
    stats_mann_whitney_u idiom): one groupBy per variable, one
    cumulative count over each small distinct table, then DOUBLED
    average ranks 2r = 2*cum_before + cnt + 1 stay exact BIGINT.
    Ranks join back to the fact rows (quantity side broadcast — 50
    rows; price side a value-keyed hash join), and rho is Pearson on
    the doubled ranks: six exact int64 sums (sum(2rx*2ry) peaks
    ~8.6e17 at sf0.1 — int64 headroom documented like
    agg_hhi_concentration) collapsed by one fixed double expression —
    identical on both engines, rounded 6dp. Two distinct-value
    shuffles + one fact-side join each; no global row sort anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    w = lambda c: Window.orderBy(c).rowsBetween(  # noqa: E731
        Window.unboundedPreceding, -1
    )
    xr = (
        li.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "x",
            (
                2 * F.coalesce(F.sum("cnt").over(w("x")), F.lit(0))
                + F.col("cnt")
                + 1
            )
            .cast("long")
            .alias("rx2"),
        )
    )
    yr = (
        li.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "y",
            (
                2 * F.coalesce(F.sum("cnt").over(w("y")), F.lit(0))
                + F.col("cnt")
                + 1
            )
            .cast("long")
            .alias("ry2"),
        )
    )
    joined = li.join(F.broadcast(xr), "x").join(yr, "y")
    s = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("ry2").cast("long").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov = d("sxy") - d("sx") * F.col("sy") / F.col("n")
    varx = d("sxx") - d("sx") * F.col("sx") / F.col("n")
    vary = d("syy") - d("sy") * F.col("sy") / F.col("n")
    return s.select(
        F.col("n").alias("n_rows"),
        F.round(cov / F.sqrt(varx * vary), 6).alias("spearman_rho"),
    )


# --- sample-ratio-mismatch guardrail ----------------------------------

#: 95th percentile of chi-square with 1 df — the standard SRM alarm
#: threshold experimentation platforms page on.
_SRM_CHI2_95 = 3.841459


def _srm_sql() -> str:
    return f"""
    WITH assigned AS (
        SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d')
                   AS week,
               CAST('0x' || substr(md5('srm:'
                    || CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT) % 2
                   AS t
        FROM orders
    ),
    weekly AS (
        SELECT week,
               CAST(sum(t) AS BIGINT) AS n_t,
               CAST(count(*) - sum(t) AS BIGINT) AS n_c
        FROM assigned GROUP BY week
    ),
    scored AS (
        SELECT week, n_t, n_c,
               CAST(n_t - n_c AS DOUBLE) * (n_t - n_c) / (n_t + n_c)
                   AS chi2
        FROM weekly
    )
    SELECT CAST(count(*) AS BIGINT) AS n_weeks,
           CAST(sum(CASE WHEN chi2 > {_SRM_CHI2_95} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(sum(n_t) AS BIGINT) AS n_treat,
           CAST(sum(n_c) AS BIGINT) AS n_ctrl,
           round(CAST(sum(n_t) - sum(n_c) AS DOUBLE)
                 * (sum(n_t) - sum(n_c))
                 / (sum(n_t) + sum(n_c)), 6) AS overall_chi2,
           round(max(chi2), 6) AS max_chi2,
           substr(max(lpad(CAST(CAST(round(chi2 * 1000000) AS BIGINT)
                               AS VARCHAR), 18, '0') || '|' || week),
                  20, 10) AS worst_week
    FROM scored
    """


@query("ab_srm_guardrail", oracle=_srm_sql())
def ab_srm_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: per experiment week, a 1-df
    chi-square of treatment-vs-control assignment counts against the
    designed 50/50 split, plus the overall test — THE health check an
    experimentation platform runs before believing any A/B readout
    (an SRM means the randomizer, logging, or filtering is biased and
    every downstream metric is suspect).

    Assignment is the portable md5 idiom (salt 'srm:', per-order so
    weekly counts are independent draws); (n_t - n_c)^2 / n keeps the
    chi-square a single fixed expression over exact BIGINT counts —
    identical doubles both engines, rounded 6dp. The worst week is
    recovered with the lpad-argmax idiom (chi2 scaled to an integer
    key, week as tiebreak) so ties are impossible. One orders scan,
    one week-keyed aggregate, one scalar row."""
    o = load_table(spark, sf_dir, "orders")
    t = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("srm:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    weekly = (
        o.select(
            F.date_format(
                F.date_trunc("week", F.col("o_orderdate")), "yyyy-MM-dd"
            ).alias("week"),
            t.alias("t"),
        )
        .groupBy("week")
        .agg(
            F.sum("t").cast("long").alias("n_t"),
            (F.count(F.lit(1)) - F.sum("t")).cast("long").alias("n_c"),
        )
    )
    chi2 = (
        (F.col("n_t") - F.col("n_c")).cast("double")
        * (F.col("n_t") - F.col("n_c"))
        / (F.col("n_t") + F.col("n_c"))
    )
    scored = weekly.select("week", "n_t", "n_c", chi2.alias("chi2"))
    key = F.concat(
        F.lpad(
            F.round(F.col("chi2") * 1000000).cast("long").cast("string"),
            18,
            "0",
        ),
        F.lit("|"),
        F.col("week"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.sum(
            F.when(F.col("chi2") > _SRM_CHI2_95, F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_flagged"),
        F.sum("n_t").cast("long").alias("n_treat"),
        F.sum("n_c").cast("long").alias("n_ctrl"),
        F.round(
            (F.sum("n_t") - F.sum("n_c")).cast("double")
            * (F.sum("n_t") - F.sum("n_c"))
            / (F.sum("n_t") + F.sum("n_c")),
            6,
        ).alias("overall_chi2"),
        F.round(F.max("chi2"), 6).alias("max_chi2"),
        F.substring(F.max(key), 20, 10).alias("worst_week"),
    )


# --- two-feature OLS via normal equations ------------------------------


def _ols2_sql() -> str:
    return """
    WITH feat AS (
        SELECT l.l_orderkey AS k,
               CAST(count(*) AS BIGINT) AS x1,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2
        FROM lineitem l GROUP BY l.l_orderkey
    ),
    obs AS (
        SELECT f.x1, f.x2,
               CAST(round(o.o_totalprice) AS BIGINT) AS y
        FROM orders o JOIN feat f ON f.k = o.o_orderkey
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT)      AS n,
               CAST(sum(x1) AS BIGINT)       AS s1,
               CAST(sum(x2) AS BIGINT)       AS s2,
               CAST(sum(y) AS BIGINT)        AS sy,
               CAST(sum(x1 * x1) AS BIGINT)  AS s11,
               CAST(sum(x2 * x2) AS BIGINT)  AS s22,
               CAST(sum(x1 * x2) AS BIGINT)  AS s12,
               CAST(sum(x1 * y) AS BIGINT)   AS s1y,
               CAST(sum(x2 * y) AS BIGINT)   AS s2y,
               CAST(sum(y * y) AS BIGINT)    AS syy
        FROM obs
    ),
    c AS (
        SELECT n, s1, s2, sy,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12,
               CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n AS c1y,
               CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n AS c2y,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy
        FROM s
    )
    SELECT n AS n_orders,
           round((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12), 6)
               AS beta_lines,
           round((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12), 6)
               AS beta_qty,
           round(CAST(sy AS DOUBLE) / n
                 - ((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12))
                   * (CAST(s1 AS DOUBLE) / n)
                 - ((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12))
                   * (CAST(s2 AS DOUBLE) / n), 6) AS intercept,
           round((((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12))
                    * c1y
                  + ((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12))
                    * c2y) / cyy, 6) AS r_squared
    FROM c
    """


@query("agg_ols_two_features", oracle=_ols2_sql())
def agg_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ordinary least squares by NORMAL EQUATIONS: regress
    order value (integer dollars) on line count and total quantity,
    returning both coefficients, the intercept, and R² — the
    multivariate step past agg_regression_trend's single-feature
    slope, and the closed form a 100 TB pipeline prefers over
    iterative solvers when the feature count is tiny (the Gram matrix
    is k×k; here a 2×2 solved by Cramer's rule in ONE expression).

    Every moment is an exact BIGINT sum over integer features (y ≤
    ~6e5 dollars, x2 ≤ ~350, so cross-moments peak ~3e13 at sf0.1 —
    int64 headroom per the agg_hhi_concentration argument); the
    centered covariances, determinant, betas, and R² = explained/total
    are fixed double expressions over those sums — identical both
    engines, rounded 6dp. Plan: one lineitem scan + orderkey
    aggregate, one key join to orders, one scalar row."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    feat = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("x1"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("x2"),
    )
    obs = o.join(feat, o.o_orderkey == feat.k).select(
        "x1", "x2", F.round(F.col("o_totalprice")).cast("long").alias("y")
    )
    s = obs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    c = s.select(
        "n",
        "s1",
        "s2",
        "sy",
        (d("s11") - d("s1") * F.col("s1") / F.col("n")).alias("c11"),
        (d("s22") - d("s2") * F.col("s2") / F.col("n")).alias("c22"),
        (d("s12") - d("s1") * F.col("s2") / F.col("n")).alias("c12"),
        (d("s1y") - d("s1") * F.col("sy") / F.col("n")).alias("c1y"),
        (d("s2y") - d("s2") * F.col("sy") / F.col("n")).alias("c2y"),
        (d("syy") - d("sy") * F.col("sy") / F.col("n")).alias("cyy"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b1 = (F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")) / det
    b2 = (F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")) / det
    return c.select(
        F.col("n").alias("n_orders"),
        F.round(b1, 6).alias("beta_lines"),
        F.round(b2, 6).alias("beta_qty"),
        F.round(
            d("sy") / F.col("n")
            - b1 * (d("s1") / F.col("n"))
            - b2 * (d("s2") / F.col("n")),
            6,
        ).alias("intercept"),
        F.round((b1 * F.col("c1y") + b2 * F.col("c2y")) / F.col("cyy"), 6)
        .alias("r_squared"),
    )


# --- two-proportion z-test ---------------------------------------------


def _prop_ztest_sql() -> str:
    return """
    WITH per_user AS (
        SELECT user_id,
               CAST('0x' || substr(md5('pz:'
                    || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2
                   AS t,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END)
                       > sum(CASE WHEN event_type = 'error'
                                  THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(sum(t) AS BIGINT) AS n_t,
               CAST(count(*) - sum(t) AS BIGINT) AS n_c,
               CAST(sum(t * converted) AS BIGINT) AS x_t,
               CAST(sum((1 - t) * converted) AS BIGINT) AS x_c
        FROM per_user
    )
    SELECT n_t AS n_treat, n_c AS n_ctrl,
           x_t AS conv_treat, x_c AS conv_ctrl,
           round(CAST(x_t AS DOUBLE) / n_t, 6) AS rate_treat,
           round(CAST(x_c AS DOUBLE) / n_c, 6) AS rate_ctrl,
           round((CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c)
                 / sqrt((CAST(x_t + x_c AS DOUBLE) / (n_t + n_c))
                        * (1 - CAST(x_t + x_c AS DOUBLE) / (n_t + n_c))
                        * (1.0 / n_t + 1.0 / n_c)), 6) AS z_stat
    FROM s
    """


@query("stats_proportion_ztest", oracle=_prop_ztest_sql())
def stats_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test with the POOLED standard error: did the
    treatment arm "convert" at a different rate than control — the
    binary-outcome A/B readout that pairs with stats_ttest_welch's
    continuous one and ab_srm_guardrail's assignment health check
    (same md5 assignment idiom, salt 'pz:', per-user so conversion is
    measured once per unit). Conversion = more purchase events than
    error events: with ~equal event-type rates this stays near 50% at
    EVERY scale factor, so the pooled SE never degenerates (the naive
    "≥1 purchase" definition saturates to 100% and divides by zero —
    which ANSI mode correctly refuses to hide).

    Conversion collapses to one conditional-sum comparison in the
    per-user aggregate (no distinct, combiner-friendly); the cell counts
    are exact BIGINT and rate difference / pooled SE / z are one
    fixed double expression — identical both engines, rounded 6dp.
    One events scan, one user-keyed aggregate, one scalar row."""
    e = load_table(spark, sf_dir, "events")
    t = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("pz:"), F.col("user_id").cast("string"))
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    n_of = lambda et: F.sum(  # noqa: E731
        F.when(F.col("event_type") == et, F.lit(1)).otherwise(F.lit(0))
    )
    per_user = e.groupBy("user_id").agg(
        F.max(t).alias("t"),  # t is a function of the key
        F.when(n_of("purchase") > n_of("error"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("converted"),
    )
    s = per_user.agg(
        F.sum("t").cast("long").alias("n_t"),
        (F.count(F.lit(1)) - F.sum("t")).cast("long").alias("n_c"),
        F.sum(F.col("t") * F.col("converted")).cast("long").alias("x_t"),
        F.sum((1 - F.col("t")) * F.col("converted"))
        .cast("long")
        .alias("x_c"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pooled = (d("x_t") + F.col("x_c")) / (F.col("n_t") + F.col("n_c"))
    return s.select(
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_ctrl"),
        F.col("x_t").alias("conv_treat"),
        F.col("x_c").alias("conv_ctrl"),
        F.round(d("x_t") / F.col("n_t"), 6).alias("rate_treat"),
        F.round(d("x_c") / F.col("n_c"), 6).alias("rate_ctrl"),
        F.round(
            (d("x_t") / F.col("n_t") - d("x_c") / F.col("n_c"))
            / F.sqrt(
                pooled
                * (1 - pooled)
                * (1.0 / F.col("n_t") + 1.0 / F.col("n_c"))
            ),
            6,
        ).alias("z_stat"),
    )


# --- Theil-Sen robust trend --------------------------------------------


def _theil_sen_sql() -> str:
    return """
    WITH daily AS (
        SELECT date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    slopes AS (
        SELECT CAST(b.cents - a.cents AS DOUBLE) / (b.d - a.d) AS slope
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    ranked AS (
        SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
               count(*) OVER () AS k
        FROM slopes
    ),
    med AS (
        SELECT avg(slope) AS ts_slope,
               CAST(max(k) AS BIGINT) AS n_pairs
        FROM ranked
        WHERE rn IN (CAST(floor((k + 1) / 2.0) AS BIGINT),
                     CAST(ceil((k + 1) / 2.0) AS BIGINT))
    ),
    ols AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d) AS BIGINT) AS sx,
               CAST(sum(cents) AS BIGINT) AS sy,
               CAST(sum(d * d) AS BIGINT) AS sxx,
               CAST(sum(d * cents) AS BIGINT) AS sxy
        FROM daily
    )
    SELECT ols.n AS n_days,
           med.n_pairs,
           round(med.ts_slope, 6) AS theil_sen_slope,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n),
                 6) AS ols_slope
    FROM med CROSS JOIN ols
    """


def theil_sen_trend_from_daily(daily: DataFrame) -> DataFrame:
    """Theil-Sen + OLS slopes of an integer series: ``daily`` must be
    (d long/int, cents long) with DISTINCT d values (it is the output
    of a day-keyed aggregate in the registry query), ideally
    checkpointed by the caller since it feeds both estimators.
    Returns one row: n_days, n_pairs, theil_sen_slope, ols_slope
    (both rounded to 6 dp).

    This is the distributed-ranking median-of-pairwise-slopes kernel
    documented on agg_theil_sen_trend (which supplies the daily
    revenue series); factored out so the randomized oracle in
    tests/test_properties.py can drive it with arbitrary small series
    against a brute-force pairwise-slope replica."""
    # r12: the pair generation is a non-equi join → nested-loop with
    # one side broadcast. `daily` is an aggregate output that AQE
    # coalesces to ONE partition, so without the spread the Θ(n²)
    # pair enumeration ran on one core — twice, because
    # repartitionByRange below executes its input once to SAMPLE
    # range boundaries and once to shuffle (the two single-task
    # 0.6 s/1.1 s jobs in the r12 profile). Broadcasting the a-side
    # and round-robin-spreading the b-side (n day rows — trivial to
    # exchange) parallelizes both passes; the join's output multiset
    # is partitioning-invariant, so results are byte-identical.
    p = int(daily.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a, b = daily.alias("a"), daily.repartition(p).alias("b")
    slopes = F.broadcast(a).join(b, F.col("a.d") < F.col("b.d")).select(
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / (F.col("b.d") - F.col("a.d"))
        ).alias("slope")
    )
    # pinned: counts/offsets/total AND ranked all consume `parts`, and
    # global ranks are only coherent if every consumer reads the SAME
    # range shuffle (same sampled boundaries, same partition ids).
    # Exchange reuse usually guarantees that, but it is an optimizer
    # choice — the pin makes the single materialization a plan
    # property instead of a config dependency (the caller pins `daily`
    # and pq.py pins `segs` the same way).
    # r13 scale-knob sweep: the range fan-out follows the session conf
    # like the pair spread above (was a hardcoded 32). Global ranks =
    # offset + local row_number are partition-count-invariant, so the
    # result is unchanged for any value.
    parts = (
        slopes.repartitionByRange(p, "slope")
        .withColumn("pid", F.spark_partition_id())
        .transform(pin)
    )
    counts = parts.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    rhs = counts.select(
        F.col("pid").alias("pid_b"), F.col("cnt").alias("cnt_b")
    )
    offsets = (
        counts.join(F.broadcast(rhs), F.col("pid_b") < F.col("pid"), "left")
        .groupBy("pid")
        .agg(F.coalesce(F.sum("cnt_b"), F.lit(0)).alias("off"))
    )
    total = counts.agg(F.sum("cnt").cast("long").alias("k"))
    lw = Window.partitionBy("pid").orderBy("slope")
    ranked = (
        parts.withColumn("lrn", F.row_number().over(lw))
        .join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(total))
        .withColumn("rn", F.col("off") + F.col("lrn"))
    )
    med = ranked.where(
        (F.col("rn") == F.floor((F.col("k") + 1) / 2.0).cast("long"))
        | (F.col("rn") == F.ceil((F.col("k") + 1) / 2.0).cast("long"))
    ).agg(
        F.avg("slope").alias("ts_slope"),
        F.max("k").cast("long").alias("n_pairs"),
    )
    ols = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
        F.sum(F.col("d") * F.col("cents")).cast("long").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return med.crossJoin(ols).select(
        F.col("n").alias("n_days"),
        "n_pairs",
        F.round(F.col("ts_slope"), 6).alias("theil_sen_slope"),
        F.round(
            (d("sxy") - d("sx") * F.col("sy") / F.col("n"))
            / (d("sxx") - d("sx") * F.col("sx") / F.col("n")),
            6,
        ).alias("ols_slope"),
    )


@query("agg_theil_sen_trend", oracle=_theil_sen_sql())
def agg_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen ROBUST trend of daily revenue — the median of all
    pairwise day-slopes, the estimator that shrugs off the outlier
    days that drag an OLS slope around (both are reported so the gap
    itself is the robustness diagnostic).

    The scale argument is the design: slopes are taken over the DAILY
    AGGREGATE, so the pair count is calendar-bounded (~2.9M for ~2400
    days) and INDEPENDENT of fact-table size — at 100 TB the only
    thing that grows is the one day-keyed pre-aggregate. The median is
    an exact order statistic computed with the window_deciles two-pass
    distributed ranking (repartitionByRange on slope, per-partition
    row_number, broadcast prefix offsets, global rank = offset +
    local rank) — NO single-task global sort anywhere in the plan:
    the heaviest task sorts ~pairs/32 rows, and the range-partition
    count scales if the calendar ever widens. Slope DOUBLES are
    identical on both engines (exact integer cents / exact integer
    day gaps, one division); the range partitioner sends equal keys
    to one partition, so tie ranks stay contiguous and the VALUE at
    the median rank (average of the two middle values when the pair
    count is even) is well-defined and engine-independent."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            ).alias("d")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .transform(pin)
    )
    return theil_sen_trend_from_daily(daily)


# --- delta-method ratio-metric test ------------------------------------


def _delta_ratio_sql() -> str:
    return """
    WITH per_user AS (
        SELECT user_id,
               CAST('0x' || substr(md5('dr:'
                    || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2
                   AS t,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT t,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM per_user GROUP BY t
    ),
    m AS (
        SELECT t, n, sx, sy,
               CAST(sx AS DOUBLE) / sy AS r,
               ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
                - 2 * (CAST(sx AS DOUBLE) / sy)
                    * ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                       / (n - 1))
                + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)
                    * ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                       / (n - 1)))
               / (n * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                   AS var_r
        FROM s
    )
    SELECT t1.n AS n_treat, t0.n AS n_ctrl,
           round(t1.r, 6) AS ratio_treat,
           round(t0.r, 6) AS ratio_ctrl,
           round(t1.r - t0.r, 6) AS ratio_diff,
           round((t1.r - t0.r) / sqrt(t1.var_r + t0.var_r), 6) AS z_stat
    FROM (SELECT * FROM m WHERE t = 1) t1
    CROSS JOIN (SELECT * FROM m WHERE t = 0) t0
    """


@query("ab_delta_method_ratio", oracle=_delta_ratio_sql())
def ab_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method test for a RATIO metric (revenue cents per event):
    ratio metrics violate the per-user-i.i.d. assumption behind a
    plain t-test because both numerator and denominator are random per
    user, so experimentation platforms linearize — Var(X̄/Ȳ) ≈
    (σx² − 2R·σxy + R²σy²) / (n·μy²) — and z-test the linearized
    variance. This is the standard readout for per-session/per-event
    metrics where stats_ttest_welch (per-user means) doesn't apply.

    All nine moments per arm are exact BIGINT sums of integer cents
    and counts (x ≤ ~4e7 cents/user at sf0.1; sum(x·x) ≤ ~2e17 —
    int64 headroom per agg_hhi_concentration); R, var_R, and z are
    fixed double expressions over them, rounded 6dp. One events scan,
    one user-keyed aggregate, one 2-row arm aggregate, one scalar
    row."""
    e = load_table(spark, sf_dir, "events")
    t = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("dr:"), F.col("user_id").cast("string"))
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_user = e.groupBy("user_id").agg(
        F.max(t).alias("t"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    )
    s = per_user.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = d("sx") / F.col("sy")
    var_r = (
        (d("sxx") - d("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
        - 2 * r * ((d("sxy") - d("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1))
        + r * r * ((d("syy") - d("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1))
    ) / (F.col("n") * (d("sy") / F.col("n")) * (d("sy") / F.col("n")))
    m = s.select("t", "n", r.alias("r"), var_r.alias("var_r"))
    t1 = m.where("t = 1").select(
        F.col("n").alias("n_treat"),
        F.col("r").alias("r1"),
        F.col("var_r").alias("v1"),
    )
    t0 = m.where("t = 0").select(
        F.col("n").alias("n_ctrl"),
        F.col("r").alias("r0"),
        F.col("var_r").alias("v0"),
    )
    return t1.crossJoin(t0).select(
        "n_treat",
        "n_ctrl",
        F.round(F.col("r1"), 6).alias("ratio_treat"),
        F.round(F.col("r0"), 6).alias("ratio_ctrl"),
        F.round(F.col("r1") - F.col("r0"), 6).alias("ratio_diff"),
        F.round(
            (F.col("r1") - F.col("r0"))
            / F.sqrt(F.col("v1") + F.col("v0")),
            6,
        ).alias("z_stat"),
    )


# --- Kendall tau-b from the joint frequency grid ------------------------


def _kendall_sql() -> str:
    return """
    WITH joint AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_discount * 100) AS BIGINT) AS y,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
        SELECT CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
               CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc
        FROM joint a CROSS JOIN joint b
    ),
    margins AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * (c - 1)) AS BIGINT) AS tboth2
        FROM joint
    ),
    xt AS (
        SELECT CAST(sum(cx * (cx - 1)) AS BIGINT) AS tx2
        FROM (SELECT CAST(sum(c) AS BIGINT) AS cx FROM joint GROUP BY x)
    ),
    yt AS (
        SELECT CAST(sum(cy * (cy - 1)) AS BIGINT) AS ty2
        FROM (SELECT CAST(sum(c) AS BIGINT) AS cy FROM joint GROUP BY y)
    )
    SELECT n AS n_rows, conc AS concordant, disc AS discordant,
           round((CAST(conc AS DOUBLE) - disc)
                 / sqrt((CAST(n AS DOUBLE) * (n - 1) / 2
                         - CAST(tx2 AS DOUBLE) / 2)
                        * (CAST(n AS DOUBLE) * (n - 1) / 2
                           - CAST(ty2 AS DOUBLE) / 2)), 6) AS kendall_tau_b
    FROM pairs CROSS JOIN margins CROSS JOIN xt CROSS JOIN yt
    """


@query("stats_kendall_tau", oracle=_kendall_sql())
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (tie-corrected) between lineitem quantity and
    discount — the concordance-based rank correlation that stays
    meaningful on a 50×11 heavily-tied grid where Spearman's
    average-rank construction (stats_spearman_corr) starts leaning on
    tie conventions.

    The scale design is the whole point: concordant/discordant pairs
    are counted on the JOINT FREQUENCY GRID, not the rows — the
    all-pairs double loop collapses to a ≤550×550 grid self-join with
    integer products n_a·n_b, so cost is the square of the GRID, not
    of the corpus (the naive row-pair count at sf0.1 would be 1.8e11
    comparisons). Everything until the final tau is exact BIGINT
    (pair totals peak ~1.8e11 — int64 headroom); tau-b is one fixed
    double expression, rounded 6dp. One fact scan, one grid
    aggregate, one tiny cross join."""
    li = load_table(spark, sf_dir, "lineitem")
    joint = (
        li.groupBy(
            F.col("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_discount") * 100).cast("long").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(pin)
    )
    a = joint.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("c").alias("ca")
    )
    b = joint.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("c").alias("cb")
    )
    pairs = a.crossJoin(b).agg(
        F.sum(
            F.when(
                (F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")),
                F.col("ca") * F.col("cb"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("conc"),
        F.sum(
            F.when(
                (F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")),
                F.col("ca") * F.col("cb"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("disc"),
    )
    margins = joint.agg(
        F.sum("c").cast("long").alias("n"),
    )
    xt = (
        joint.groupBy("x")
        .agg(F.sum("c").cast("long").alias("cx"))
        .agg(
            F.sum(F.col("cx") * (F.col("cx") - 1)).cast("long").alias("tx2")
        )
    )
    yt = (
        joint.groupBy("y")
        .agg(F.sum("c").cast("long").alias("cy"))
        .agg(
            F.sum(F.col("cy") * (F.col("cy") - 1)).cast("long").alias("ty2")
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n0 = d("n") * (F.col("n") - 1) / 2
    return (
        pairs.crossJoin(margins)
        .crossJoin(xt)
        .crossJoin(yt)
        .select(
            F.col("n").alias("n_rows"),
            F.col("conc").alias("concordant"),
            F.col("disc").alias("discordant"),
            F.round(
                (d("conc") - F.col("disc"))
                / F.sqrt(
                    (n0 - d("tx2") / 2) * (n0 - d("ty2") / 2)
                ),
                6,
            ).alias("kendall_tau_b"),
        )
    )


# --- Wald-Wolfowitz runs test -------------------------------------------


def _runs_sql() -> str:
    return """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS v
        FROM orders GROUP BY 1
    ),
    med AS (
        SELECT avg(v) AS m FROM (
            SELECT v, row_number() OVER (ORDER BY v, day) AS rn,
                   count(*) OVER () AS k
            FROM daily
        ) WHERE rn IN (CAST(floor((k + 1) / 2.0) AS BIGINT),
                       CAST(ceil((k + 1) / 2.0) AS BIGINT))
    ),
    signs AS (
        SELECT day, CASE WHEN v > (SELECT m FROM med) THEN 1 ELSE 0 END
                        AS s
        FROM daily WHERE v <> (SELECT m FROM med)
    ),
    runs AS (
        SELECT s,
               CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                      OR lag(s) OVER (ORDER BY day) <> s
                    THEN 1 ELSE 0 END AS new_run
        FROM signs
    ),
    agg AS (
        SELECT CAST(sum(new_run) AS BIGINT) AS r,
               CAST(sum(s) AS BIGINT) AS n1,
               CAST(count(*) - sum(s) AS BIGINT) AS n2
        FROM runs
    )
    SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
           round(1 + 2.0 * n1 * n2 / (n1 + n2), 6) AS expected_runs,
           round((r - (1 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt((2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2)
                        / ((CAST(n1 + n2 AS DOUBLE))
                           * (n1 + n2) * (n1 + n2 - 1))), 6) AS z_stat
    FROM agg
    """


@query("stats_runs_test", oracle=_runs_sql())
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily-revenue
    series: split days into above/below the exact median, count
    maximal same-sign RUNS in day order, and z-test the count against
    the random-arrangement expectation — too FEW runs means the
    series trends or clusters (autocorrelation confirms with its
    lag profile); too many means oscillation.

    The median is an exact order statistic (the agg_theil_sen_trend
    rank idiom, day tiebreak); equal-to-median days are excluded (the
    standard convention, and the only choice that is reproducible
    cross-engine); run starts are one lag() over the calendar-bounded
    day series; mu and sigma are fixed double expressions over the
    exact (n1, n2, R) integers, rounded 6dp."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice")).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    wr = Window.orderBy("v", "day")
    ranked = daily.select(
        "v",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("k"),
    )
    med = ranked.where(
        (F.col("rn") == F.floor((F.col("k") + 1) / 2.0).cast("long"))
        | (F.col("rn") == F.ceil((F.col("k") + 1) / 2.0).cast("long"))
    ).agg(F.avg("v").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("v") != F.col("m"))
        .select(
            "day",
            F.when(F.col("v") > F.col("m"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("s"),
        )
    )
    wd = Window.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("long").alias("r"),
        F.sum("s").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mu = 1 + 2.0 * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2"))
    num = (2.0 * F.col("n1") * F.col("n2")) * (
        2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2")
    )
    den = (
        (d("n1") + F.col("n2"))
        * (F.col("n1") + F.col("n2"))
        * (F.col("n1") + F.col("n2") - 1)
    )
    return agg.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.round(mu, 6).alias("expected_runs"),
        F.round((F.col("r") - mu) / F.sqrt(num / den), 6).alias("z_stat"),
    )


# --- chi-square cell residuals ------------------------------------------


@query(
    "agg_chi2_cell_residuals",
    oracle="""
    WITH joint AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               CAST(count(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2
    ),
    m AS (
        SELECT x, y, o,
               CAST(sum(o) OVER (PARTITION BY x) AS BIGINT) AS rx,
               CAST(sum(o) OVER (PARTITION BY y) AS BIGINT) AS cy,
               CAST(sum(o) OVER () AS BIGINT) AS n
        FROM joint
    )
    SELECT x AS priority, y AS status, o AS observed,
           round(CAST(rx AS DOUBLE) * cy / n, 6) AS expected,
           round((o - CAST(rx AS DOUBLE) * cy / n)
                 / sqrt(CAST(rx AS DOUBLE) * cy / n), 6) AS std_residual,
           round((o - CAST(rx AS DOUBLE) * cy / n)
                 / sqrt(CAST(rx AS DOUBLE) * cy / n
                        * (1 - CAST(rx AS DOUBLE) / n)
                        * (1 - CAST(cy AS DOUBLE) / n)), 6)
               AS adj_residual
    FROM m
    ORDER BY priority, status
    """,
)
def agg_chi2_cell_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell diagnostics for the priority×status contingency
    table: observed vs expected counts, standardized residuals, and
    Haberman's ADJUSTED residuals (which are ~N(0,1) under
    independence, so |adj| > 2 flags the specific cells driving a
    significant agg_chi_square_independence verdict — the drill-down
    that turns "the table is dependent" into "URGENT orders are
    over-represented among cancellations").

    All margins are exact BIGINT window sums over the 15-cell joint
    table (bounded by the category product, never the fact size);
    expected counts and both residual forms are fixed double
    expressions, rounded 6dp. One fact scan, one grid aggregate,
    three tiny windows."""
    o = load_table(spark, sf_dir, "orders")
    joint = (
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .transform(pin)
    )
    m = joint.select(
        "x",
        "y",
        "o",
        F.sum("o").over(Window.partitionBy("x")).cast("long").alias("rx"),
        F.sum("o").over(Window.partitionBy("y")).cast("long").alias("cy"),
        F.sum("o")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    exp = d("rx") * F.col("cy") / F.col("n")
    return m.select(
        F.col("x").alias("priority"),
        F.col("y").alias("status"),
        F.col("o").alias("observed"),
        F.round(exp, 6).alias("expected"),
        F.round((F.col("o") - exp) / F.sqrt(exp), 6).alias("std_residual"),
        F.round(
            (F.col("o") - exp)
            / F.sqrt(
                exp
                * (1 - d("rx") / F.col("n"))
                * (1 - d("cy") / F.col("n"))
            ),
            6,
        ).alias("adj_residual"),
    ).orderBy("priority", "status")


# --- experiment power / MDE planning -------------------------------------

#: two-sided alpha=0.05 and power=0.80 normal quantiles (fixed design
#: constants — the only two z-values every power calculator hardcodes)
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621


def _power_sql() -> str:
    return f"""
    WITH per_user AS (
        SELECT user_id,
               CAST('0x' || substr(md5('pz:'
                    || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2
                   AS t,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END)
                       > sum(CASE WHEN event_type = 'error'
                                  THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(sum(t) AS BIGINT) AS n_t,
               CAST(count(*) - sum(t) AS BIGINT) AS n_c,
               CAST(sum(converted) AS BIGINT) AS x
        FROM per_user
    )
    SELECT n_t AS n_treat, n_c AS n_ctrl,
           round(CAST(x AS DOUBLE) / (n_t + n_c), 6) AS base_rate,
           round(({_Z_ALPHA} + {_Z_BETA})
                 * sqrt((CAST(x AS DOUBLE) / (n_t + n_c))
                        * (1 - CAST(x AS DOUBLE) / (n_t + n_c))
                        * (1.0 / n_t + 1.0 / n_c)), 6) AS mde_abs,
           round(({_Z_ALPHA} + {_Z_BETA})
                 * sqrt((CAST(x AS DOUBLE) / (n_t + n_c))
                        * (1 - CAST(x AS DOUBLE) / (n_t + n_c))
                        * (1.0 / n_t + 1.0 / n_c))
                 / (CAST(x AS DOUBLE) / (n_t + n_c)), 6) AS mde_rel,
           CAST(ceil(({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})
                 * 2 * (CAST(x AS DOUBLE) / (n_t + n_c))
                 * (1 - CAST(x AS DOUBLE) / (n_t + n_c)) / 0.0001)
                AS BIGINT) AS n_per_arm_for_1pp
    FROM s
    """


@query("ab_power_mde", oracle=_power_sql())
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power planning for the conversion experiment: with the CURRENT
    arm sizes and base rate, what absolute/relative effect is
    detectable at alpha=0.05 two-sided with 80% power — and how many
    users per arm would a 1-percentage-point MDE require? This is the
    pre-experiment sizing table (the before-picture to
    stats_proportion_ztest's readout and ab_srm_guardrail's health
    check; same assignment idiom, same conversion definition).

    All counts exact BIGINT from one user-keyed aggregate; the MDE
    formulas are fixed double expressions with the two standard
    normal quantiles as literal design constants, rounded 6dp; the
    required-n uses ceil (you can't recruit a fraction of a user).
    One events scan, one scalar row."""
    e = load_table(spark, sf_dir, "events")
    t = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("pz:"), F.col("user_id").cast("string"))
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    n_of = lambda et: F.sum(  # noqa: E731
        F.when(F.col("event_type") == et, F.lit(1)).otherwise(F.lit(0))
    )
    per_user = e.groupBy("user_id").agg(
        F.max(t).alias("t"),
        F.when(n_of("purchase") > n_of("error"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("converted"),
    )
    s = per_user.agg(
        F.sum("t").cast("long").alias("n_t"),
        (F.count(F.lit(1)) - F.sum("t")).cast("long").alias("n_c"),
        F.sum("converted").cast("long").alias("x"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p = d("x") / (F.col("n_t") + F.col("n_c"))
    zsum = _Z_ALPHA + _Z_BETA
    mde = zsum * F.sqrt(
        p * (1 - p) * (1.0 / F.col("n_t") + 1.0 / F.col("n_c"))
    )
    return s.select(
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_ctrl"),
        F.round(p, 6).alias("base_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 6).alias("mde_rel"),
        F.ceil(zsum * zsum * 2 * p * (1 - p) / 0.0001)
        .cast("long")
        .alias("n_per_arm_for_1pp"),
    )


# --- Brown-Forsythe variance-homogeneity test ---------------------------


def _bf_sql() -> str:
    per = []
    for i, lvl in enumerate(_ANOVA_LEVELS, 1):
        hit = f"p = '{lvl}'"
        per.append(
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN 1 END), 0)"
            f" AS BIGINT) AS n{i}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN z END), 0)"
            f" AS BIGINT) AS s{i}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN z * z END), 0)"
            f" AS BIGINT) AS q{i}"
        )
    cols = ",\n               ".join(per)
    grp = " + ".join(
        f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(1, 6)
    )
    n = " + ".join(f"n{i}" for i in range(1, 6))
    s = " + ".join(f"s{i}" for i in range(1, 6))
    q = " + ".join(f"q{i}" for i in range(1, 6))
    return f"""
    WITH vals AS (
        SELECT o_orderpriority AS p,
               CAST(round(o_totalprice) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT p, v, cnt,
               CAST(coalesce(sum(cnt) OVER (
                   PARTITION BY p ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before,
               CAST(sum(cnt) OVER (PARTITION BY p) AS BIGINT) AS ng
        FROM vals
    ),
    med AS (
        SELECT p,
               CAST(sum(CASE WHEN cum_before
                                  < CAST(floor((ng + 1) / 2.0) AS BIGINT)
                              AND cum_before + cnt
                                  >= CAST(floor((ng + 1) / 2.0) AS BIGINT)
                             THEN v ELSE 0 END)
                    + sum(CASE WHEN cum_before
                                    < CAST(ceil((ng + 1) / 2.0) AS BIGINT)
                                AND cum_before + cnt
                                    >= CAST(ceil((ng + 1) / 2.0) AS BIGINT)
                               THEN v ELSE 0 END) AS BIGINT) AS med2
        FROM ranked GROUP BY p
    ),
    devs AS (
        SELECT o.o_orderpriority AS p,
               abs(2 * CAST(round(o.o_totalprice) AS BIGINT) - m.med2)
                   AS z
        FROM orders o JOIN med m ON m.p = o.o_orderpriority
    ),
    piv AS (
        SELECT {cols}
        FROM devs
    ),
    m2 AS (
        SELECT *,
               CAST({n} AS BIGINT) AS n,
               CAST({s} AS BIGINT) AS st,
               CAST({q} AS BIGINT) AS qt,
               ({grp}) AS grp_term
        FROM piv
    )
    SELECT n AS n_total,
           round((grp_term - CAST(st AS DOUBLE) * st / n) / 4
                 / ((CAST(qt AS DOUBLE) - grp_term) / (n - 5)), 6)
               AS bf_f_stat,
           round((grp_term - CAST(st AS DOUBLE) * st / n), 2)
               AS ss_between_dev,
           round((CAST(qt AS DOUBLE) - grp_term), 2) AS ss_within_dev
    FROM m2
    """


@query("stats_brown_forsythe", oracle=_bf_sql())
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for variance homogeneity across the five
    priority strata: one-way ANOVA on |x − group MEDIAN| — the
    robust Levene variant, and the pre-check that says whether
    pooled-variance methods are safe or you reach for
    stats_ttest_welch (which assumes nothing about equal spread).

    Two exact passes: per-group medians come from the distinct-value
    rank tables (the stats_mann_whitney_u idiom; med2 = 2×median
    stays integral through even-count averaging), broadcast back onto
    the fact scan, where deviations z = |2x − med2| are exact BIGINT
    (the ×2 scale avoids .5 fractions entirely — F is scale-invariant
    so the doubling cancels). The deviation ANOVA is the
    stats_anova_oneway pivot: fixed per-stratum columns, explicit
    cross-group chains, one fixed double F at the end. Windows
    partition BY GROUP (bounded per-priority price grids)."""
    o = load_table(spark, sf_dir, "orders")
    dollars = F.round(F.col("o_totalprice")).cast("long")
    vals = (
        o.select(F.col("o_orderpriority").alias("p"), dollars.alias("v"))
        .groupBy("p", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("p")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy("p")
    ranked = vals.select(
        "p",
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
        .cast("long")
        .alias("cum_before"),
        F.sum("cnt").over(wall).cast("long").alias("ng"),
    )
    lo = F.floor((F.col("ng") + 1) / 2.0).cast("long")
    hi = F.ceil((F.col("ng") + 1) / 2.0).cast("long")
    covers = lambda r: (F.col("cum_before") < r) & (  # noqa: E731
        F.col("cum_before") + F.col("cnt") >= r
    )
    med = ranked.groupBy("p").agg(
        (
            F.sum(F.when(covers(lo), F.col("v")).otherwise(F.lit(0)))
            + F.sum(F.when(covers(hi), F.col("v")).otherwise(F.lit(0)))
        )
        .cast("long")
        .alias("med2")
    )
    devs = o.join(
        F.broadcast(med), o.o_orderpriority == med.p
    ).select(
        "p", F.abs(2 * dollars - F.col("med2")).alias("z")
    )
    # r12: pivot aggregates + cross-group chains as SQL strings (one
    # F.expr parse each) instead of ~150 py4j Column calls — the
    # stats_anova_oneway / sample_bootstrap_ci pattern; spelling
    # identical, results bit-identical (oracle hash pins it)
    aggs = []
    for i, lvl in enumerate(_ANOVA_LEVELS, 1):
        hit = f"p = '{lvl}'"
        aggs += [
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN 1 END), 0)"
            f" AS BIGINT) AS n{i}",
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN z END), 0)"
            f" AS BIGINT) AS s{i}",
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN z * z END), 0)"
            f" AS BIGINT) AS q{i}",
        ]
    piv = devs.agg(*[F.expr(a) for a in aggs])
    grp = " + ".join(
        f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(1, 6)
    )
    m2 = piv.select(
        F.expr(
            f"CAST({' + '.join(f'n{i}' for i in range(1, 6))} AS BIGINT)"
            " AS n"
        ),
        F.expr(
            f"CAST({' + '.join(f's{i}' for i in range(1, 6))} AS BIGINT)"
            " AS st"
        ),
        F.expr(
            f"CAST({' + '.join(f'q{i}' for i in range(1, 6))} AS BIGINT)"
            " AS qt"
        ),
        F.expr(f"({grp}) AS grp_term"),
    )
    ssb = "(grp_term - CAST(st AS DOUBLE) * st / n)"
    ssw = "(CAST(qt AS DOUBLE) - grp_term)"
    return m2.select(
        F.col("n").alias("n_total"),
        F.expr(
            f"round({ssb} / 4 / ({ssw} / (n - 5)), 6) AS bf_f_stat"
        ),
        F.expr(f"round({ssb}, 2) AS ss_between_dev"),
        F.expr(f"round({ssw}, 2) AS ss_within_dev"),
    )


# --- Wilcoxon signed-rank (paired pre/post) -----------------------------


def _wilcoxon_sql() -> str:
    return f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN o_orderdate < DATE '{_CUPED_CUT}'
                             THEN CAST(round(o_totalprice) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN o_orderdate >= DATE '{_CUPED_CUT}'
                             THEN CAST(round(o_totalprice) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    diffs AS (
        SELECT abs(y - x) AS ad,
               CASE WHEN y > x THEN 1 ELSE 0 END AS pos
        FROM cust WHERE y <> x
    ),
    vals AS (
        SELECT ad, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(pos) AS BIGINT) AS npos
        FROM diffs GROUP BY ad
    ),
    ranked AS (
        SELECT ad, cnt, npos,
               CAST(coalesce(sum(cnt) OVER (
                   ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM vals
    ),
    s AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(npos) AS BIGINT) AS n_pos,
               CAST(sum(npos * (2 * cum_before + cnt + 1)) AS BIGINT)
                   AS wx2,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
        FROM ranked
    )
    SELECT n AS n_nonzero, n_pos,
           CAST(n - n_pos AS BIGINT) AS n_neg,
           round(CAST(wx2 AS DOUBLE) / 2, 2) AS w_plus,
           round((CAST(wx2 AS DOUBLE) / 2
                  - CAST(n AS DOUBLE) * (n + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                        - CAST(tie_term AS DOUBLE) / 48), 6) AS z_stat
    FROM s
    """


@query("stats_wilcoxon_signed_rank", oracle=_wilcoxon_sql())
def stats_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-customer spend (total
    dollars before vs after the CUPED cut date): rank the absolute
    differences, sum the ranks of the positive ones, z-test with the
    tie-corrected variance — the nonparametric paired-samples test
    (the within-subject sibling of stats_mann_whitney_u's independent
    two-sample design), immune to the spend skew that breaks a paired
    t-test.

    Same distinct-value rank machinery as the U test: |d| ranks come
    from the |d|-frequency table (one grouped aggregate + one bounded
    cumulative window; doubled ranks stay exact BIGINT), zero
    differences are excluded (the standard convention), and W+, the
    normal approximation, and the tie term Σ(t³−t)/48 are fixed
    double expressions over exact integers — identical both engines,
    rounded 2dp/6dp. One orders scan, one customer-keyed aggregate,
    one value-keyed aggregate, one scalar row."""
    o = load_table(spark, sf_dir, "orders")
    dollars = F.round(F.col("o_totalprice")).cast("long")
    pre = F.col("o_orderdate") < F.lit(_CUPED_CUT).cast("date")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.when(pre, dollars).otherwise(F.lit(0)))
        .cast("long")
        .alias("x"),
        F.sum(F.when(~pre, dollars).otherwise(F.lit(0)))
        .cast("long")
        .alias("y"),
    )
    diffs = cust.where(F.col("y") != F.col("x")).select(
        F.abs(F.col("y") - F.col("x")).alias("ad"),
        F.when(F.col("y") > F.col("x"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
    )
    vals = diffs.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("npos"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "ad",
        "cnt",
        "npos",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("long")
        .alias("cum_before"),
    )
    s = ranked.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("npos").cast("long").alias("n_pos"),
        F.sum(
            F.col("npos") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("wx2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_term"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    wp = d("wx2") / 2
    mu = d("n") * (F.col("n") + 1) / 4
    sigma = F.sqrt(
        d("n") * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24
        - d("tie_term") / 48
    )
    return s.select(
        F.col("n").alias("n_nonzero"),
        F.col("n_pos"),
        (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        F.round(wp, 2).alias("w_plus"),
        F.round((wp - mu) / sigma, 6).alias("z_stat"),
    )


# --- McNemar paired-binary test ------------------------------------------


def _mcnemar_sql() -> str:
    return f"""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                   AND ts < TIMESTAMP '{_MCNEMAR_CUT}'
                                  THEN 1 ELSE 0 END)
                       > sum(CASE WHEN event_type = 'error'
                                   AND ts < TIMESTAMP '{_MCNEMAR_CUT}'
                                  THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS pre,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                   AND ts >= TIMESTAMP '{_MCNEMAR_CUT}'
                                  THEN 1 ELSE 0 END)
                       > sum(CASE WHEN event_type = 'error'
                                   AND ts >= TIMESTAMP '{_MCNEMAR_CUT}'
                                  THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS post
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN pre = 0 AND post = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(sum(CASE WHEN pre = 1 AND post = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(sum(CASE WHEN pre = 1 AND post = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS both_pos
        FROM per_user
    )
    SELECT n AS n_users, b AS n_gained, c AS n_lost, both_pos,
           round(CASE WHEN b + c = 0 THEN 0.0
                      ELSE (abs(CAST(b AS DOUBLE) - c) - 1)
                           * (abs(CAST(b AS DOUBLE) - c) - 1) / (b + c)
                 END, 6) AS mcnemar_chi2
    FROM s
    """


#: the pre/post boundary for the paired-binary comparison
_MCNEMAR_CUT = "1997-01-01 00:00:00"


@query("agg_mcnemar_paired", oracle=_mcnemar_sql())
def agg_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes: did each user's
    "healthy" flag (more purchases than errors — the
    stats_proportion_ztest outcome) flip between the pre- and
    post-1997 halves of their history? Only the DISCORDANT pairs
    (gained b, lost c) carry information; chi² = (|b−c|−1)²/(b+c)
    with continuity correction — the within-user before/after test a
    plain two-proportion z gets wrong because the samples are the
    same people.

    One events scan, one user-keyed aggregate building both flags,
    one scalar row; all cells exact BIGINT, the statistic one guarded
    fixed expression (0.0 when no discordant pairs — both engines by
    the same CASE)."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit(_MCNEMAR_CUT).cast("timestamp")
    flag = lambda cond: F.when(  # noqa: E731
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & cond, F.lit(1)
            ).otherwise(F.lit(0))
        )
        > F.sum(
            F.when(
                (F.col("event_type") == "error") & cond, F.lit(1)
            ).otherwise(F.lit(0))
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    per_user = e.groupBy("user_id").agg(
        flag(F.col("ts") < cut).alias("pre"),
        flag(F.col("ts") >= cut).alias("post"),
    )
    s = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when((F.col("pre") == 0) & (F.col("post") == 1), F.lit(1))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when((F.col("pre") == 1) & (F.col("post") == 0), F.lit(1))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when((F.col("pre") == 1) & (F.col("post") == 1), F.lit(1))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("both_pos"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    chi2 = F.when(F.col("b") + F.col("c") == 0, F.lit(0.0)).otherwise(
        F.round(
            (F.abs(d("b") - F.col("c")) - 1)
            * (F.abs(d("b") - F.col("c")) - 1)
            / (F.col("b") + F.col("c")),
            6,
        )
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.col("b").alias("n_gained"),
        F.col("c").alias("n_lost"),
        F.col("both_pos"),
        chi2.alias("mcnemar_chi2"),
    )


# --- capture-recapture population estimate --------------------------------

#: independent 10% "capture" probabilities (exact applied thresholds,
#: the sample_ht_estimator convention)
_CR_THRESHOLD = int(0.10 * (1 << 32))


def _capture_recapture_sql() -> str:
    u = (
        lambda salt: f"CAST('0x' || substr(md5('{salt}:' "
        f"|| CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)"
    )
    return f"""
    WITH s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN {u("cr1")} < {_CR_THRESHOLD}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN {u("cr2")} < {_CR_THRESHOLD}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN {u("cr1")} < {_CR_THRESHOLD}
                              AND {u("cr2")} < {_CR_THRESHOLD}
                             THEN 1 ELSE 0 END) AS BIGINT) AS m
        FROM orders
    )
    SELECT n_true, n1 AS n_sample1, n2 AS n_sample2, m AS n_overlap,
           round((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (m + 1) - 1, 2)
               AS chapman_estimate,
           round(((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (m + 1) - 1)
                 / n_true - 1, 6) AS rel_error
    FROM s
    """


@query("agg_capture_recapture", oracle=_capture_recapture_sql())
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman-corrected Lincoln-Petersen)
    population estimation: two INDEPENDENT 10% hash samples of the
    order stream; the overlap rate between them estimates the total
    population — N̂ = (n1+1)(n2+1)/(m+1) − 1 — with the realized
    error reported against the truth. This is how a pipeline
    estimates the size of a population it can only sample (dedup
    overlap between two crawls, log-loss rates between two taps)
    without ever counting it.

    Both capture events are md5 thresholds under different salts, so
    independence is by construction and the sample is deterministic
    (the sample_ht_estimator idiom); all four cells are exact BIGINT
    from ONE orders scan; Chapman's estimator and the error are fixed
    double expressions, rounded 2dp/6dp."""
    o = load_table(spark, sf_dir, "orders")
    u = lambda salt: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat(F.lit(f"{salt}:"), F.col("o_orderkey").cast("string"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    in1 = u("cr1") < _CR_THRESHOLD
    in2 = u("cr2") < _CR_THRESHOLD
    s = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(in1.cast("long")).cast("long").alias("n1"),
        F.sum(in2.cast("long")).cast("long").alias("n2"),
        F.sum((in1 & in2).cast("long")).cast("long").alias("m"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    est = (d("n1") + 1) * (F.col("n2") + 1) / (F.col("m") + 1) - 1
    return s.select(
        "n_true",
        F.col("n1").alias("n_sample1"),
        F.col("n2").alias("n_sample2"),
        F.col("m").alias("n_overlap"),
        F.round(est, 2).alias("chapman_estimate"),
        F.round(est / F.col("n_true") - 1, 6).alias("rel_error"),
    )


# --- Cochran's Q across three periods -------------------------------------

#: fixed period boundaries for the k=3 repeated-measures design
_COCHRAN_CUTS = ("1997-01-01", "1999-01-01")


def _cochran_sql() -> str:
    c1, c2 = _COCHRAN_CUTS
    period = (
        f"CASE WHEN o_orderdate < DATE '{c1}' THEN 1 "
        f"WHEN o_orderdate < DATE '{c2}' THEN 2 ELSE 3 END"
    )
    return f"""
    WITH spend AS (
        SELECT o_custkey,
               {period} AS pd,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS v
        FROM orders GROUP BY o_custkey, pd
    ),
    flags AS (
        SELECT o_custkey,
               CAST(coalesce(max(CASE WHEN pd = 1 THEN v END), 0)
                    AS BIGINT) AS v1,
               CAST(coalesce(max(CASE WHEN pd = 2 THEN v END), 0)
                    AS BIGINT) AS v2,
               CAST(coalesce(max(CASE WHEN pd = 3 THEN v END), 0)
                    AS BIGINT) AS v3
        FROM spend GROUP BY o_custkey
    ),
    x AS (
        SELECT CASE WHEN 3 * v1 > v1 + v2 + v3 THEN 1 ELSE 0 END AS x1,
               CASE WHEN 3 * v2 > v1 + v2 + v3 THEN 1 ELSE 0 END AS x2,
               CASE WHEN 3 * v3 > v1 + v2 + v3 THEN 1 ELSE 0 END AS x3
        FROM flags
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS c1,
               CAST(sum(x2) AS BIGINT) AS c2,
               CAST(sum(x3) AS BIGINT) AS c3,
               CAST(sum(x1 + x2 + x3) AS BIGINT) AS rsum,
               CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT)
                   AS rsq
        FROM x
    )
    SELECT n AS n_customers, c1 AS c_early, c2 AS c_mid, c3 AS c_late,
           round(6.0 * ((CAST(c1 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3)
                          * (CAST(c1 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3)
                        + (CAST(c2 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3)
                          * (CAST(c2 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3)
                        + (CAST(c3 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3)
                          * (CAST(c3 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3))
                 / (3.0 * rsum - rsq), 6) AS cochran_q
    FROM s
    """


@query("stats_cochran_q", oracle=_cochran_sql())
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across k=3 periods: per customer, a binary
    "over-indexed this period" flag (period spend strictly above
    their own three-period average — a self-normalized outcome that
    stays non-degenerate at every scale factor), tested for equal
    marginal proportions across the periods. This generalizes
    agg_mcnemar_paired's k=2 design to repeated measures: Q =
    k(k−1)·Σ_j(C_j − R̄)² / (k·ΣR_i − ΣR_i²), χ² with k−1 df under
    the null.

    The three period columns are FIXED (the stats_anova_oneway pivot
    rule), so the cross-period sum of squared deviations is an
    explicit three-term chain; every C_j, ΣR_i, ΣR_i² is exact
    BIGINT; Q is one fixed double expression, rounded 6dp. One
    orders scan, one (customer, period) aggregate, one customer
    pivot, one scalar row."""
    o = load_table(spark, sf_dir, "orders")
    c1, c2 = _COCHRAN_CUTS
    pd_ = (
        F.when(F.col("o_orderdate") < F.lit(c1).cast("date"), F.lit(1))
        .when(F.col("o_orderdate") < F.lit(c2).cast("date"), F.lit(2))
        .otherwise(F.lit(3))
    )
    spend = o.groupBy("o_custkey", pd_.alias("pd")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long"))
        .cast("long")
        .alias("v")
    )
    flags = spend.groupBy("o_custkey").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("pd") == i, F.col("v"))), F.lit(0)
            )
            .cast("long")
            .alias(f"v{i}")
            for i in (1, 2, 3)
        ]
    )
    tot = F.col("v1") + F.col("v2") + F.col("v3")
    x = flags.select(
        *[
            F.when(3 * F.col(f"v{i}") > tot, F.lit(1))
            .otherwise(F.lit(0))
            .alias(f"x{i}")
            for i in (1, 2, 3)
        ]
    )
    r = F.col("x1") + F.col("x2") + F.col("x3")
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("c1"),
        F.sum("x2").cast("long").alias("c2"),
        F.sum("x3").cast("long").alias("c3"),
        F.sum(r).cast("long").alias("rsum"),
        F.sum(r * r).cast("long").alias("rsq"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rbar = d("rsum") / 3
    ssq = None
    for c in ("c1", "c2", "c3"):
        term = (d(c) - rbar) * (d(c) - rbar)
        ssq = term if ssq is None else ssq + term
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("c1").alias("c_early"),
        F.col("c2").alias("c_mid"),
        F.col("c3").alias("c_late"),
        F.round(6.0 * ssq / (3.0 * F.col("rsum") - F.col("rsq")), 6).alias(
            "cochran_q"
        ),
    )
