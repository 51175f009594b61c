"""Behavioral / event-sequence operators — round-5 seventh batch
(part 2), over the ``events`` stream table.

The reference's README promises event-timeline and player-behavior
analyses (reference README.md:31-35); these are the sequence-shaped
operators that family needs beyond plain time windows: ordered funnel
conversion, CDC change-feed application (the streaming sibling of
etl_merge_upsert's MERGE), CUSUM changepoint detection on the daily
series, and first-order Markov transition estimation between event
types.

Determinism: event ordering is always the total order (ts, event_id);
where an ordering value feeds max_by/arg_max it is the fixed-width
string ``lpad(epoch_us)||lpad(event_id)`` so lexicographic == (ts,
event_id) and ties are impossible. Daily value series are summed as
integer cents so running sums are exact and argmax days are
engine-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.pins import pin
from dataextractor_spark.registry import query

def _ord():
    """Fixed-width (ts, event_id) ordering string — lexicographic
    order equals event-time order, ties impossible (event_id unique).
    Built lazily: column construction needs an active session."""
    return F.concat(
        F.lpad(
            F.expr(
                "CAST(timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) AS STRING)"
            ),
            20,
            "0",
        ),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
_ORD_SQL = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0')"
)


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase,
           round((SELECT count(*) FROM c)::DOUBLE
                 / nullif((SELECT count(*) FROM v), 0), 6) AS rate_click,
           round((SELECT count(*) FROM p)::DOUBLE
                 / nullif((SELECT count(*) FROM c), 0), 6) AS rate_purchase
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion view → click → purchase: a user
    counts at step k only if their first step-k event happens STRICTLY
    AFTER their first step-(k−1) qualifying event — the
    order-sensitive funnel every product-analytics engine ships, and
    the thing a naive "users who did all three" semi-join chain gets
    wrong.

    Plan: per-step hash aggregate on user_id, then a user-keyed hash
    join to gate the next step — three aggregates and two key-key
    joins, all partitioned on user_id (Spark reuses the hash
    partitioning across the chain), closing with three 1-row
    broadcasts. No windows, no per-user event sorting: each step only
    needs the MIN qualifying timestamp, which is mergeable state. At
    100 TB this is three map-side-combinable passes over the event
    type partitions of the fact table."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        # each step feeds TWO consumers (the next step's gate join and
        # its own funnel count); the pin keeps the bounded per-user
        # table to one computation instead of a fact rescan
        .transform(pin)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .transform(pin)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = F.broadcast(v.agg(F.count(F.lit(1)).cast("long").alias("n_view")))
    nc = F.broadcast(c.agg(F.count(F.lit(1)).cast("long").alias("n_click")))
    np_ = F.broadcast(
        p.agg(F.count(F.lit(1)).cast("long").alias("n_purchase"))
    )
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            F.round(
                F.col("n_click").cast("double")
                / F.nullif(F.col("n_view"), F.lit(0)),
                6,
            ).alias("rate_click"),
            F.round(
                F.col("n_purchase").cast("double")
                / F.nullif(F.col("n_click"), F.lit(0)),
                6,
            ).alias("rate_purchase"),
        )
    )


@query(
    "join_cdc_apply",
    oracle=f"""
    WITH feed AS (
        SELECT user_id, value, ts, event_id,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error' THEN 'D'
                               ELSE 'U' END AS op,
               {_ORD_SQL} AS ord
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)                      AS n_changes,
           CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
                AS BIGINT)                               AS n_deletes,
           arg_max(op, ord)                              AS last_op,
           arg_max(value, ord)                           AS last_value,
           strftime(arg_max(ts, ord), '%Y-%m-%d %H:%M:%S') AS last_ts,
           (arg_max(op, ord) <> 'D')                     AS is_live
    FROM feed GROUP BY user_id ORDER BY user_id
    """,
)
def join_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed application: interpret the event stream as a
    keyed change feed (signup→INSERT, error→DELETE, everything
    else→UPDATE) and materialize the final per-key state — the
    "apply changes" half of a CDC pipeline, and the set-based sibling
    of etl_merge_upsert (MERGE applies ONE batch against a target;
    CDC-apply folds an ARBITRARILY LONG ordered feed in one
    aggregate).

    Latest-wins resolution is a single hash aggregate with mergeable
    max_by state keyed on the fixed-width (epoch_us, event_id)
    ordering string — NO window sort over the feed and no iterative
    per-batch loop, so 100 TB of changes fold in one shuffle on the
    key. Deleted keys surface with is_live=false (an audit row)
    rather than vanishing, so the output is a full apply report."""
    e = load_table(spark, sf_dir, "events")
    feed = e.select(
        "user_id",
        "value",
        "ts",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        _ord().alias("ord"),
    )
    return (
        feed.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_changes"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
            .cast("long")
            .alias("n_deletes"),
            F.max_by("op", F.col("ord")).alias("last_op"),
            F.max_by("value", F.col("ord")).alias("last_value"),
            F.date_format(
                F.max_by("ts", F.col("ord")), "yyyy-MM-dd HH:mm:ss"
            ).alias("last_ts"),
            (F.max_by("op", F.col("ord")) != F.lit("D")).alias("is_live"),
        )
        .orderBy("user_id")
    )


@query(
    "time_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v_cents
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, day,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT) AS idx,
               CAST(sum(v_cents) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS run,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_days,
               CAST(sum(v_cents) OVER (PARTITION BY event_type) AS BIGINT)
                   AS total
        FROM daily
    ),
    sc AS (
        SELECT event_type, day, n_days,
               abs(n_days * run - idx * total) AS abs_nc,
               lpad(CAST(abs(n_days * run - idx * total) AS VARCHAR), 20, '0')
                 || lpad(CAST(n_days - idx AS VARCHAR), 10, '0') AS ord
        FROM w
    )
    SELECT event_type,
           CAST(max(n_days) AS BIGINT) AS n_days,
           floor(CAST(max(abs_nc) AS BIGINT)
                 / (100.0 * max(n_days)) * 10000 + 0.5) / 10000.0
               AS cusum_max,
           strftime(arg_max(day, ord), '%Y-%m-%d') AS change_day
    FROM sc GROUP BY event_type ORDER BY event_type
    """,
)
def time_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the per-type daily value series:
    the day where the cumulative deviation from the series mean peaks
    is the classic single-changepoint estimate (Page's CUSUM), the
    monitoring primitive behind "when did this metric's level shift?".

    All arithmetic is EXACT integers: with daily cents vᵢ, n·CUSUM(d)
    = n·Σ_{i≤d}vᵢ − d·Σvᵢ — scaling by n clears the mean's division,
    so the argmax day is integer-determined (no float comparison can
    flip it between engines); the reported magnitude divides back to
    value units only at the end. Ties break toward the earliest day
    via the fixed-width (|n·CUSUM|, n−idx) ordering string.

    Plan: one fact scan → per-(type, day) aggregate; every window runs
    over that date-range-bounded table partitioned by event_type. At
    100 TB the window input stays calendar-sized regardless of event
    volume."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("v_cents")
    )
    by_type = Window.partitionBy("event_type")
    by_day = by_type.orderBy("day")
    w = daily.select(
        "event_type",
        "day",
        F.row_number().over(by_day).cast("long").alias("idx"),
        F.sum("v_cents")
        .over(by_day.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("run"),
        F.count(F.lit(1)).over(by_type).cast("long").alias("n_days"),
        F.sum("v_cents").over(by_type).cast("long").alias("total"),
    )
    abs_nc = F.abs(
        F.col("n_days") * F.col("run") - F.col("idx") * F.col("total")
    )
    sc = w.select(
        "event_type",
        "day",
        "n_days",
        abs_nc.alias("abs_nc"),
        F.concat(
            F.lpad(abs_nc.cast("string"), 20, "0"),
            F.lpad((F.col("n_days") - F.col("idx")).cast("string"), 10, "0"),
        ).alias("ord"),
    )
    return (
        sc.groupBy("event_type")
        .agg(
            F.max("n_days").cast("long").alias("n_days"),
            (
                F.floor(
                    F.max("abs_nc")
                    / (F.lit(100.0) * F.max("n_days"))
                    * 10000
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("cusum_max"),
            F.date_format(F.max_by("day", F.col("ord")), "yyyy-MM-dd").alias(
                "change_day"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "time_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev
        FROM events
    ),
    trans AS (
        SELECT prev, cur, CAST(count(*) AS BIGINT) AS n_trans
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
    ),
    tot AS (
        SELECT prev, CAST(sum(n_trans) AS BIGINT) AS n_from
        FROM trans GROUP BY prev
    )
    SELECT t.prev AS prev_type, t.cur AS cur_type, t.n_trans,
           round(t.n_trans::DOUBLE / tot.n_from, 6) AS p_trans
    FROM trans t JOIN tot ON t.prev = tot.prev
    ORDER BY prev_type, cur_type
    """,
)
def time_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition-probability estimation between
    event types over each user's (ts, event_id)-ordered stream — the
    model behind next-action prediction and behavioral-anomaly
    scoring, and the probabilistic summary of time_session_paths'
    literal path strings.

    Plan: ONE per-user window pass (lag over the user partition — the
    natural event partitioning, no global sort), then two hash
    aggregates over the |types|² bounded transition table; row
    probabilities join back via the bounded per-prev totals. Output
    is ≤|types|² rows at any data volume, and every probability is a
    ratio of exact counts."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    )
    trans = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
        .transform(pin)
    )
    tot = trans.groupBy("prev").agg(F.sum("n_trans").alias("n_from"))
    return (
        trans.join(F.broadcast(tot), "prev")
        .select(
            F.col("prev").alias("prev_type"),
            F.col("cur").alias("cur_type"),
            "n_trans",
            F.round(
                F.col("n_trans").cast("double") / F.col("n_from"), 6
            ).alias("p_trans"),
        )
        .orderBy("prev_type", "cur_type")
    )


@query(
    "time_seasonal_anomaly",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1, 2
    ),
    wk AS (
        SELECT event_type, isodow(day) - 1 AS wd,
               CAST(count(*) AS BIGINT) AS n_wk,
               CAST(sum(v) AS BIGINT) AS sx,
               CAST(sum(v * v) AS BIGINT) AS sxx
        FROM daily GROUP BY 1, 2
    )
    SELECT d.event_type,
           strftime(d.day, '%Y-%m-%d') AS day,
           w.n_wk,
           d.v / 100.0 AS v_value,
           round(w.sx::DOUBLE / w.n_wk / 100.0, 4) AS baseline,
           CASE WHEN w.n_wk >= 2
                 AND w.n_wk::DOUBLE * w.sxx::DOUBLE
                     - w.sx::DOUBLE * w.sx::DOUBLE > 0
                THEN round((w.n_wk::DOUBLE * d.v::DOUBLE - w.sx::DOUBLE)
                           / sqrt(w.n_wk::DOUBLE
                                  * (w.n_wk::DOUBLE * w.sxx::DOUBLE
                                     - w.sx::DOUBLE * w.sx::DOUBLE)
                                  / (w.n_wk::DOUBLE - 1.0)), 4)
           END AS z,
           (w.n_wk >= 2 AND (
               (w.n_wk::DOUBLE * w.sxx::DOUBLE
                    - w.sx::DOUBLE * w.sx::DOUBLE = 0
                AND w.n_wk::DOUBLE * d.v::DOUBLE - w.sx::DOUBLE <> 0)
               OR (w.n_wk::DOUBLE - 1.0)
                  * (w.n_wk::DOUBLE * d.v::DOUBLE - w.sx::DOUBLE)
                  * (w.n_wk::DOUBLE * d.v::DOUBLE - w.sx::DOUBLE)
                  > 4.0 * w.n_wk::DOUBLE
                    * (w.n_wk::DOUBLE * w.sxx::DOUBLE
                       - w.sx::DOUBLE * w.sx::DOUBLE)
           )) AS is_anomaly
    FROM daily d JOIN wk w
      ON d.event_type = w.event_type AND isodow(d.day) - 1 = w.wd
    ORDER BY d.event_type, day
    """,
)
def time_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-seasonal anomaly detection on the per-type daily value
    series: each day is scored against ITS WEEKDAY's distribution
    (Mondays vs other Mondays), which is how production monitoring
    avoids paging on every weekend dip — the seasonal companion to
    time_changepoint_cusum's level-shift detector.

    The anomaly FLAG is decided by the cleared-denominator
    inequality |z| > 2 ⟺ (n−1)·(n·v−Σx)² > 4·n·(n·Σx²−(Σx)²), with
    every OPERAND cast to double before the products are formed —
    identical operand order on both engines means identical IEEE
    doubles, while the integer form would wrap int64 (vs DuckDB's
    HUGEINT) once daily cent sums pass ~1e9. The displayed z is
    float (deterministic: same double pipeline) at 4 dp; zero-
    variance weekdays yield NULL z and anomaly-if-any-deviation.

    Plan: one fact scan → calendar-bounded daily table; weekday
    statistics re-aggregate that bounded table and BROADCAST back
    (≤ |types|×7 rows); everything downstream is calendar-sized. At
    100 TB only the first aggregate touches data."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
        .transform(pin)
    )
    wd = F.weekday(F.col("day")).cast("long")
    wk = (
        daily.groupBy("event_type", wd.alias("wd"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_wk"),
            F.sum("v").alias("sx"),
            F.sum(F.col("v") * F.col("v")).alias("sxx"),
        )
    )
    j = daily.withColumn("wd", wd).join(F.broadcast(wk), ["event_type", "wd"])
    # z/flag arithmetic runs in DOUBLE on both engines: the integer
    # forms ((n−1)·num² vs 4·n·ssq) overflow int64 once daily cent
    # sums reach ~1e9 while DuckDB promotes to HUGEINT — casting the
    # OPERANDS (not the products) keeps both engines on identical
    # IEEE doubles at any magnitude the int64 AGGREGATES themselves
    # can hold (sx < 2^63 total cents per weekday group; sxx bounds
    # daily sums at ~3.0e9 cents ≈ $30M/day/type — the documented
    # headroom, same convention as agg_hhi_concentration).
    nd = F.col("n_wk").cast("double")
    vd = F.col("v").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    numd = nd * vd - sxd
    ssqd = nd * sxxd - sxd * sxd
    return (
        j.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_wk",
            (F.col("v") / F.lit(100.0)).alias("v_value"),
            F.round(
                F.col("sx").cast("double") / F.col("n_wk") / F.lit(100.0), 4
            ).alias("baseline"),
            F.when(
                (F.col("n_wk") >= 2) & (ssqd > 0),
                F.round(
                    numd / F.sqrt(nd * ssqd / (nd - F.lit(1.0))),
                    4,
                ),
            ).alias("z"),
            (
                (F.col("n_wk") >= 2)
                & (
                    ((ssqd == 0) & (numd != 0))
                    | (
                        (nd - F.lit(1.0)) * numd * numd
                        > F.lit(4.0) * nd * ssqd
                    )
                )
            ).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "time_interval_coverage",
    oracle="""
    WITH iv AS (
        SELECT DISTINCT l_suppkey,
               CAST(date_diff('day', DATE '1970-01-01', l_shipdate)
                    AS BIGINT) AS start_d
        FROM lineitem
    ),
    flagged AS (
        SELECT l_suppkey, start_d, start_d + 7 AS end_d,
               CASE WHEN max(start_d + 7) OVER (
                        PARTITION BY l_suppkey ORDER BY start_d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR start_d >= max(start_d + 7) OVER (
                        PARTITION BY l_suppkey ORDER BY start_d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islanded AS (
        SELECT *,
               CAST(sum(new_island) OVER (
                   PARTITION BY l_suppkey ORDER BY start_d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS island
        FROM flagged
    ),
    islands AS (
        SELECT l_suppkey, island,
               CAST(count(*) AS BIGINT) AS n_iv,
               min(start_d) AS i_start,
               max(end_d) AS i_end
        FROM islanded GROUP BY 1, 2
    )
    SELECT l_suppkey,
           CAST(sum(n_iv) AS BIGINT)              AS n_intervals,
           CAST(count(*) AS BIGINT)               AS n_islands,
           CAST(sum(i_end - i_start) AS BIGINT)   AS covered_days,
           CAST(max(i_end) - min(i_start) AS BIGINT) AS span_days,
           round(CAST(sum(i_end - i_start) AS BIGINT)::DOUBLE
                 / (max(i_end) - min(i_start)), 6) AS coverage_ratio
    FROM islands
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def time_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage per supplier (gaps-and-islands): merge
    each supplier's overlapping 7-day shipment-activity windows into
    maximal islands, then report merged coverage vs total span — the
    "how much of the timeline is actually covered, counting overlaps
    once" operator behind SLA/uptime math and validity-interval
    auditing; the generic-interval sibling of dedup_span_extract's
    token-position islands.

    Islands form in ONE supplier-partitioned window pass: an interval
    starts a new island iff its start clears the running max end of
    every EARLIER interval (ties are irrelevant: equal starts share
    the same 7-day end, so island membership is order-independent
    within a tie). All arithmetic is integer epoch-days.

    Plan: DISTINCT on (supplier, day) first — the window input is at
    most |suppliers|×|days| rows regardless of lineitem volume —
    then two bounded aggregates. Supplier keys hash-spread the
    window partitions; no global sort anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    iv = li.select(
        "l_suppkey",
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("start_d"),
    ).distinct()
    w_prev = (
        Window.partitionBy("l_suppkey")
        .orderBy("start_d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("start_d") + 7).over(w_prev)
    flagged = iv.select(
        "l_suppkey",
        "start_d",
        (F.col("start_d") + 7).alias("end_d"),
        F.when(
            prev_end.isNull() | (F.col("start_d") >= prev_end), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("l_suppkey")
        .orderBy("start_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islanded = flagged.withColumn(
        "island", F.sum("new_island").over(w_run).cast("long")
    )
    islands = islanded.groupBy("l_suppkey", "island").agg(
        F.count(F.lit(1)).cast("long").alias("n_iv"),
        F.min("start_d").alias("i_start"),
        F.max("end_d").alias("i_end"),
    )
    covered = F.sum(F.col("i_end") - F.col("i_start"))
    span = F.max("i_end") - F.min("i_start")
    return (
        islands.groupBy("l_suppkey")
        .agg(
            F.sum("n_iv").cast("long").alias("n_intervals"),
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            covered.cast("long").alias("covered_days"),
            span.cast("long").alias("span_days"),
            F.round(covered.cast("double") / span, 6).alias(
                "coverage_ratio"
            ),
        )
        .orderBy("l_suppkey")
    )


@query(
    "time_burstiness",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(c) AS BIGINT)   AS n_events,
           round(CAST(sum(c) AS BIGINT)::DOUBLE / count(*), 6) AS mean_daily,
           round((count(*) * CAST(sum(c * c) AS BIGINT)
                  - CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))::DOUBLE
                 / (count(*) * (count(*) - 1))
                 / (CAST(sum(c) AS BIGINT)::DOUBLE / count(*)), 6) AS fano,
           round((sqrt((count(*) * CAST(sum(c * c) AS BIGINT)
                        - CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))::DOUBLE
                       / (count(*) * (count(*) - 1)))
                  - CAST(sum(c) AS BIGINT)::DOUBLE / count(*))
                 / (sqrt((count(*) * CAST(sum(c * c) AS BIGINT)
                          - CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))::DOUBLE
                         / (count(*) * (count(*) - 1)))
                    + CAST(sum(c) AS BIGINT)::DOUBLE / count(*)), 6)
               AS burstiness
    FROM daily
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def time_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile of the daily event-count series per type:
    the Fano factor (variance/mean — 1 for a Poisson process, >1 for
    bursty arrivals) and the Goh–Barabási burstiness coefficient
    B = (σ−μ)/(σ+μ) ∈ (−1, 1) — the dispersion diagnostics that
    decide whether arrival-rate capacity planning can assume Poisson
    (and, for this engine, whether a key's event stream needs skew
    treatment).

    All moments derive from INTEGER power sums of integer daily
    counts ((nΣc²−(Σc)²) exactly), so variance is drift-free; the
    only float ops are the final divisions and one sqrt — identical
    on identical inputs. One fact scan to the calendar-bounded daily
    table, one bounded aggregate."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = F.count(F.lit(1))
    sc = F.sum("c")
    scc = F.sum(F.col("c") * F.col("c"))
    var = (n * scc - sc * sc).cast("double") / (n * (n - 1))
    mean = sc.cast("double") / n
    return (
        daily.groupBy("event_type")
        .agg(
            n.cast("long").alias("n_days"),
            sc.cast("long").alias("n_events"),
            F.round(mean, 6).alias("mean_daily"),
            F.round(var / mean, 6).alias("fano"),
            F.round(
                (F.sqrt(var) - mean) / (F.sqrt(var) + mean), 6
            ).alias("burstiness"),
        )
        .orderBy("event_type")
    )


@query(
    "time_lag_xcorr",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(sum(CASE WHEN event_type = 'view'
                   THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                   AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                   AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(8)),
    paired AS (
        SELECT l.lag, a.x, b.y
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + to_days(CAST(l.lag AS INTEGER))
    )
    SELECT lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round((count(*) * CAST(sum(x * y) AS BIGINT)
                  - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT))
                 / sqrt((count(*) * CAST(sum(x * x) AS BIGINT)
                         - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT))::DOUBLE
                        * (count(*) * CAST(sum(y * y) AS BIGINT)
                           - CAST(sum(y) AS BIGINT) * CAST(sum(y) AS BIGINT))::DOUBLE),
                 6) AS pearson_r
    FROM paired
    GROUP BY lag
    ORDER BY lag
    """,
)
def time_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the view and purchase daily
    value series: Pearson r of (view value on day d, purchase value
    on day d+lag) for lags 0..7 — the "does today's browsing predict
    tomorrow's buying, and with what delay?" diagnostic, and the
    bivariate-sequence companion to agg_regression_trend (same-day
    OLS) and time_seasonal_anomaly (univariate seasonality).

    Both series come out of ONE fact scan as conditional integer-cent
    sums on the shared day spine; the 8 lag alignments join the
    calendar-bounded daily table against itself through an 8-row lag
    spine, and every correlation derives from integer power sums —
    the only float ops are one sqrt and one division per lag, so r is
    drift-free across engines at 6 dp.

    At 100 TB: data-sized work is the single daily aggregate;
    everything after runs on |days|×8 rows."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = (
        e.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", cents).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", cents).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .transform(pin)
    )
    lags = spark.range(8).select(F.col("id").cast("long").alias("lag"))
    a = daily.select(F.col("day").alias("d_a"), "x")
    b = daily.select(F.col("day").alias("d_b"), "y")
    paired = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(
            b,
            F.col("d_b")
            == F.col("d_a") + F.col("lag") * F.expr("INTERVAL 1 DAY"),
        )
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    sxy = F.sum(F.col("x") * F.col("y"))
    return (
        paired.groupBy("lag")
        .agg(
            n.cast("long").alias("n_pairs"),
            F.round(
                (n * sxy - sx * sy)
                / F.sqrt(
                    (n * sxx - sx * sx).cast("double")
                    * (n * syy - sy * sy).cast("double")
                ),
                6,
            ).alias("pearson_r"),
        )
        .orderBy("lag")
    )


@query(
    "attr_last_touch",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN event_type <> 'purchase' THEN event_type END
                   AS channel
        FROM events
    ),
    carried AS (
        SELECT *,
               last_value(channel IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS attributed
        FROM tagged
    )
    SELECT coalesce(attributed, '(none)') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(count(*)::DOUBLE / (SELECT count(*) FROM events
                                     WHERE event_type = 'purchase'), 6)
               AS share,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS attributed_value
    FROM carried
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY channel
    """,
)
def attr_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the LAST
    preceding non-purchase event (channel) of the same user — the
    standard marketing-attribution operator, and the carry-forward
    sibling of the as-of family (funnel_conversion gates ordered
    steps; attribution asks which channel owned the conversion).

    One user-partitioned window pass does everything: channels carry
    forward via last_value IGNORE NULLS over the strictly-preceding
    frame (a purchase at the same instant as a channel event sees it
    iff its event_id orders later — the total (ts, event_id) order
    makes the tie deterministic), purchases read the carried value,
    and unattributed purchases surface as '(none)' instead of
    vanishing. Purchase value aggregates as exact integer cents.

    At 100 TB: one shuffle on user_id, then a bounded per-channel
    rollup — no joins at all."""
    e = load_table(spark, sf_dir, "events")
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "channel"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = tagged.withColumn(
        "attributed", F.last("channel", ignorenulls=True).over(w)
    )
    purchases = carried.filter(F.col("event_type") == "purchase")
    # aggregate FIRST, then derive the share from the bounded channel
    # table — the denominator re-aggregates ≤|channels| rows instead
    # of a second pass over the window output
    grouped = (
        purchases.groupBy(
            F.coalesce(F.col("attributed"), F.lit("(none)")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("attributed_value"),
        )
        .transform(pin)
    )
    total = F.broadcast(
        grouped.agg(F.sum("n_purchases").cast("long").alias("n_total"))
    )
    return (
        grouped.crossJoin(total)
        .select(
            "channel",
            "n_purchases",
            F.round(
                F.col("n_purchases").cast("double") / F.col("n_total"), 6
            ).alias("share"),
            "attributed_value",
        )
        .orderBy("channel")
    )


@query(
    "time_peak_detection",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1, 2
    ),
    ctx AS (
        SELECT event_type, day, v,
               lag(v)  OVER w AS prev_v,
               lead(v) OVER w AS next_v
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           v / 100.0      AS v_value,
           prev_v / 100.0 AS prev_value,
           next_v / 100.0 AS next_value
    FROM ctx
    WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
      AND v > prev_v AND v >= next_v
    ORDER BY event_type, day
    """,
)
def time_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum (peak) detection on the per-type daily series:
    a day is a peak iff it strictly beats the previous day and is at
    least the next day (the strict/non-strict asymmetry dedupes
    plateau tops to their FIRST day); series endpoints are excluded.
    The elementary signal-processing primitive under alerting and
    seasonality eyeballing, complementing time_changepoint_cusum
    (level shifts) and time_seasonal_anomaly (distributional
    outliers).

    All comparisons are exact integer cents — no float boundary can
    flip a peak between engines. One lag/lead window over the
    calendar-bounded daily table."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    ctx = daily.select(
        "event_type",
        "day",
        "v",
        F.lag("v").over(w).alias("prev_v"),
        F.lead("v").over(w).alias("next_v"),
    )
    return (
        ctx.filter(
            F.col("prev_v").isNotNull()
            & F.col("next_v").isNotNull()
            & (F.col("v") > F.col("prev_v"))
            & (F.col("v") >= F.col("next_v"))
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("v") / F.lit(100.0)).alias("v_value"),
            (F.col("prev_v") / F.lit(100.0)).alias("prev_value"),
            (F.col("next_v") / F.lit(100.0)).alias("next_value"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "time_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_eval,
           round(CAST(sum(abs(a.v - p.v)) AS BIGINT)::DOUBLE
                 / CAST(sum(abs(a.v)) AS BIGINT), 6)  AS wape,
           round(CAST(sum(a.v - p.v) AS BIGINT)::DOUBLE
                 / CAST(sum(a.v) AS BIGINT), 6)       AS bias,
           floor(CAST(sum(abs(a.v - p.v)) AS BIGINT)::DOUBLE
                 / count(*) / 100.0 * 100 + 0.5) / 100.0 AS mae
    FROM daily a
    JOIN daily p ON p.event_type = a.event_type
                AND p.day = a.day - INTERVAL 7 DAY
    GROUP BY a.event_type
    ORDER BY a.event_type
    """,
)
def time_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting: evaluate the seasonal-naive baseline
    (predict each day = same weekday last week) with WAPE, bias, and
    MAE per event type — the evaluation harness every forecasting
    pipeline needs BEFORE any model, because seasonal-naive is the
    benchmark a model must beat (and WAPE is the scale-free metric
    that survives aggregation across series, unlike MAPE's
    divide-by-small-actual blowups).

    The 7-day alignment is a CALENDAR-exact self-join on the bounded
    daily table (day = day − 7), not a lag(7) row offset — row
    offsets silently misalign when a series has gap days. Every
    metric is a ratio of exact integer-cent sums; MAE rounds through
    the floor idiom.

    At 100 TB only the daily aggregate touches data; the self-join
    and metric rollup run on calendar-bounded rows."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
        .transform(pin)
    )
    a = daily.select("event_type", "day", F.col("v").alias("actual"))
    p = daily.select(
        "event_type",
        (F.col("day") + F.expr("INTERVAL 7 DAYS")).alias("day"),
        F.col("v").alias("pred"),
    )
    err = F.col("actual") - F.col("pred")
    return (
        a.join(p, ["event_type", "day"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.round(
                F.sum(F.abs(err)).cast("double") / F.sum(F.abs("actual")), 6
            ).alias("wape"),
            F.round(
                F.sum(err).cast("double") / F.sum("actual"), 6
            ).alias("bias"),
            (
                F.floor(
                    F.sum(F.abs(err)).cast("double")
                    / F.count(F.lit(1))
                    / 100.0
                    * 100
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("mae"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_seasonality_strength",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1, 2
    ),
    wk AS (
        SELECT event_type, isodow(day) - 1 AS wd,
               CAST(count(*) AS BIGINT) AS nw,
               CAST(sum(v) AS BIGINT) AS sx,
               CAST(sum(v * v) AS BIGINT) AS sxx
        FROM daily GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(v * v) AS BIGINT) AS ss
        FROM daily GROUP BY 1
    )
    SELECT t.event_type,
           t.n AS n_days,
           round(sum(w.sxx - w.sx::DOUBLE * w.sx / w.nw)
                 / (max(t.ss) - max(t.s)::DOUBLE * max(t.s) / max(t.n)), 6)
               AS resid_frac,
           round(1.0 - sum(w.sxx - w.sx::DOUBLE * w.sx / w.nw)
                 / (max(t.ss) - max(t.s)::DOUBLE * max(t.s) / max(t.n)), 6)
               AS seasonality_strength
    FROM tot t JOIN wk w ON t.event_type = w.event_type
    GROUP BY t.event_type, t.n
    ORDER BY t.event_type
    """,
)
def agg_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-strength decomposition: the fraction of a daily
    series' variance explained by its weekday means — R² of the
    pure-seasonal model, computed as 1 − SS_within-weekday / SS_total.
    This is the quantitative answer to "is this series seasonal
    enough that time_seasonal_anomaly's weekday baseline is the right
    detector, or is time_changepoint_cusum's level model better?" —
    the model-selection statistic for the engine's own anomaly
    family.

    Both sums of squares derive from integer power sums
    (Σv², (Σv)²/n) per weekday and per series; the 7-term residual
    sum accumulates doubles but each term is an exact-integer ratio,
    so drift is ulps under the 6-dp rounding. Only the daily
    aggregate touches data; weekday and total statistics re-aggregate
    the calendar-bounded table."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
        .transform(pin)
    )
    wk = daily.groupBy(
        "event_type", F.weekday(F.col("day")).cast("long").alias("wd")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nw"),
        F.sum("v").alias("sx"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    ss_within = F.sum(
        F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("nw")
    )
    ss_total = (
        F.max("ss") - F.max("s").cast("double") * F.max("s") / F.max("n")
    )
    return (
        tot.join(wk, "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.round(ss_within / ss_total, 6).alias("resid_frac"),
            F.round(F.lit(1.0) - ss_within / ss_total, 6).alias(
                "seasonality_strength"
            ),
        )
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "resid_frac",
            "seasonality_strength",
        )
        .orderBy("event_type")
    )


@query(
    "time_new_vs_returning",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id
        FROM events
    ),
    firsts AS (
        SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id
    ),
    daily AS (
        SELECT du.day,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new
        FROM du JOIN firsts f ON du.user_id = f.user_id
        GROUP BY du.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           n_active,
           n_new,
           n_active - n_new AS n_returning,
           CAST(sum(n_new) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_unique_users
    FROM daily
    ORDER BY day
    """,
)
def time_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each day's active users decomposed into
    first-ever-seen (new) vs returning, with the running count of
    all-time unique users — the DAU decomposition every growth
    dashboard leads with, and the accounting identity behind
    time_cohort_retention (a cohort IS one day's n_new followed
    through time).

    Plan: one DISTINCT (day, user) shuffle; first-seen days
    re-aggregate that user-bounded table and join back on user_id
    (key-key); the cumulative window runs over the CALENDAR-bounded
    daily rollup (whitelisted unpartitioned window on ≤|days| rows).
    Every column is an exact integer count."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct().transform(pin)
    firsts = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        du.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new"),
        )
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w_cum).cast("long").alias("cum_unique_users"),
    ).orderBy("day")


@query(
    "time_dormancy_reactivation",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts,
               lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_ts
        FROM events
    ),
    gaps AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN prev_ts IS NOT NULL
                             AND ts - prev_ts >= INTERVAL 7 DAY
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_reactivations,
               CAST(max(CASE WHEN prev_ts IS NOT NULL
                             THEN epoch_us(ts) - epoch_us(prev_ts)
                             ELSE 0 END) AS BIGINT)
                   AS max_gap_us
        FROM seq GROUP BY user_id
    )
    SELECT user_id, n_events, n_reactivations,
           round(max_gap_us / 86400000000.0, 4) AS max_gap_days,
           (n_reactivations > 0) AS ever_dormant
    FROM gaps
    ORDER BY user_id
    """,
)
def time_dormancy_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy/reactivation accounting: per user, how many times
    they returned after ≥7 days of silence, and their longest-ever
    gap — the churn-and-resurrection counter that complements
    time_new_vs_returning (which can't distinguish a steady regular
    from a lapsing-and-returning user) and agg_survival_km (which
    sees only the final churn, not intermediate dormancy).

    The gap test compares native timestamp intervals (exact
    microsecond integers under the hood in BOTH engines), and the
    reported max gap converts exact epoch-microsecond differences —
    no float enters until the final display division.

    Plan: ONE user-partitioned lag window (the natural event
    partitioning, shared shape with time_markov_transitions), then a
    per-user hash aggregate. Nothing is calendar- or
    driver-bounded-unsafe at any event volume."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    gap_us = F.timestamp_diff("MICROSECOND", "prev_ts", "ts")
    is_react = F.when(
        F.col("prev_ts").isNotNull()
        & (F.col("ts") >= F.col("prev_ts") + F.expr("INTERVAL 7 DAYS")),
        1,
    ).otherwise(0)
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(is_react).cast("long").alias("n_reactivations"),
            F.max(
                F.when(F.col("prev_ts").isNotNull(), gap_us).otherwise(0)
            )
            .cast("long")
            .alias("max_gap_us"),
        )
        .select(
            "user_id",
            "n_events",
            "n_reactivations",
            F.round(F.col("max_gap_us") / F.lit(86400000000.0), 4).alias(
                "max_gap_days"
            ),
            (F.col("n_reactivations") > 0).alias("ever_dormant"),
        )
        .orderBy("user_id")
    )


@query(
    "time_active_streaks",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(date_diff('day', DATE '1970-01-01',
                              date_trunc('day', ts)) AS BIGINT) AS d
        FROM events
    ),
    grouped AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY d
               ) AS BIGINT) AS grp
        FROM ud
    ),
    streaks AS (
        SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        FROM grouped GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)  AS n_streaks,
           CAST(max(len) AS BIGINT)  AS longest_streak,
           CAST(sum(len) AS BIGINT)  AS active_days
    FROM streaks
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def time_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user (longest streak,
    streak count, total active days) — the engagement metric behind
    every "N-day streak" product surface, computed with the CANONICAL
    gaps-and-islands idiom: within a user's sorted distinct days,
    ``day_number − row_number()`` is CONSTANT exactly along each
    consecutive run, so one window + two hash aggregates replace any
    per-user iteration. (time_interval_coverage merges generalized
    overlapping intervals with a running-max-end flag; unit-width
    day streaks admit this strictly cheaper subtraction form — the
    engine carries both idioms deliberately.)

    All integer epoch-day arithmetic. One DISTINCT (user, day)
    shuffle bounds the window input by |users|×|days| regardless of
    event volume; the window partitions on the natural user key."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = ud.select(
        "user_id",
        "d",
        (F.col("d") - F.row_number().over(w).cast("long")).alias("grp"),
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.max("len").cast("long").alias("longest_streak"),
            F.sum("len").cast("long").alias("active_days"),
        )
        .orderBy("user_id")
    )


# --- funnel step latency ----------------------------------------------


@query(
    "funnel_step_latency",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(v.t_view) AS t_view, min(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(c.t_click) AS t_click,
               min(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    ),
    vc AS (
        SELECT CAST(count(*) AS BIGINT) AS n_vc,
               CAST(sum(epoch_us(t_click - t_view)) AS BIGINT) AS s_vc,
               quantile_cont(epoch_us(t_click - t_view), 0.5) AS p50_vc,
               quantile_cont(epoch_us(t_click - t_view), 0.9) AS p90_vc
        FROM c
    ),
    cp AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cp,
               CAST(sum(epoch_us(t_purchase - t_click)) AS BIGINT) AS s_cp,
               quantile_cont(epoch_us(t_purchase - t_click), 0.5) AS p50_cp,
               quantile_cont(epoch_us(t_purchase - t_click), 0.9) AS p90_cp
        FROM p
    )
    SELECT n_vc, n_cp,
           round(s_vc * 1.0 / (n_vc * 1e6), 6)  AS avg_view_to_click_s,
           round(p50_vc / 1e6, 6)               AS p50_view_to_click_s,
           round(p90_vc / 1e6, 6)               AS p90_view_to_click_s,
           round(s_cp * 1.0 / (n_cp * 1e6), 6)  AS avg_click_to_buy_s,
           round(p50_cp / 1e6, 6)               AS p50_click_to_buy_s,
           round(p90_cp / 1e6, 6)               AS p90_click_to_buy_s
    FROM vc CROSS JOIN cp
    """,
)
def funnel_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution between funnel steps — the
    companion to funnel_conversion's WHO with the WHEN every growth
    team asks next: exact p50/p90/avg latency from first view to
    first qualifying click, and from that click to first qualifying
    purchase (same strictly-after gating as the funnel, so the two
    queries reconcile: n_vc/n_cp here equal its n_click/n_purchase).

    Latencies are integer MICROSECONDS end-to-end (epoch differences
    — no float time math), percentiles are the linear-interpolation
    percentile ≡ quantile_cont pair both engines share, and averages
    are ratios of exact integer sums. Same plan shape as the funnel:
    per-step min-timestamp aggregates chained by user-keyed joins,
    two scalar aggregate rows broadcast together at the end."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min("ts").alias("t_click"),
        )
        .transform(pin)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(
            F.min("t_click").alias("t_click"),
            F.min("ts").alias("t_purchase"),
        )
    )
    lat_vc = F.timestamp_diff("MICROSECOND", "t_view", "t_click")
    lat_cp = F.timestamp_diff("MICROSECOND", "t_click", "t_purchase")
    vc = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_vc"),
        F.sum(lat_vc).cast("long").alias("s_vc"),
        F.percentile(lat_vc, F.lit(0.5)).alias("p50_vc"),
        F.percentile(lat_vc, F.lit(0.9)).alias("p90_vc"),
    )
    cp = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_cp"),
        F.sum(lat_cp).cast("long").alias("s_cp"),
        F.percentile(lat_cp, F.lit(0.5)).alias("p50_cp"),
        F.percentile(lat_cp, F.lit(0.9)).alias("p90_cp"),
    )
    return vc.crossJoin(F.broadcast(cp)).select(
        "n_vc",
        "n_cp",
        F.round(F.col("s_vc") * 1.0 / (F.col("n_vc") * 1e6), 6).alias(
            "avg_view_to_click_s"
        ),
        F.round(F.col("p50_vc") / 1e6, 6).alias("p50_view_to_click_s"),
        F.round(F.col("p90_vc") / 1e6, 6).alias("p90_view_to_click_s"),
        F.round(F.col("s_cp") * 1.0 / (F.col("n_cp") * 1e6), 6).alias(
            "avg_click_to_buy_s"
        ),
        F.round(F.col("p50_cp") / 1e6, 6).alias("p50_click_to_buy_s"),
        F.round(F.col("p90_cp") / 1e6, 6).alias("p90_click_to_buy_s"),
    )


# --- position-weighted multi-touch attribution ------------------------


@query(
    "attr_position_weighted",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value,
               CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                      THEN 1 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS jid
        FROM events
    ),
    buys AS (
        SELECT user_id, jid,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM seq WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, jid, event_type AS channel,
               row_number() OVER (PARTITION BY user_id, jid
                                  ORDER BY ts, event_id) AS pos,
               count(*) OVER (PARTITION BY user_id, jid) AS k
        FROM seq WHERE event_type <> 'purchase'
    ),
    credits AS (
        SELECT t.channel,
               CAST(floor(b.cents * 1000.0 *
                    CASE WHEN t.k = 1 THEN 1.0
                         WHEN t.k = 2 THEN 0.5
                         WHEN t.pos = 1 OR t.pos = t.k THEN 0.4
                         ELSE 0.2 / (t.k - 2) END + 0.5) AS BIGINT)
                   AS credit_u
        FROM touches t JOIN buys b
          ON b.user_id = t.user_id AND b.jid = t.jid
        UNION ALL
        SELECT '(none)',
               CAST(b.cents AS BIGINT) * 1000
        FROM buys b
        LEFT JOIN (SELECT DISTINCT user_id, jid FROM touches) t
          ON t.user_id = b.user_id AND t.jid = b.jid
        WHERE t.user_id IS NULL
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_credited_touches,
           CAST(sum(credit_u) AS BIGINT) AS credit_units,
           round(CAST(sum(credit_u) AS BIGINT)
                 / (SELECT CAST(sum(credit_u) AS BIGINT) * 1.0
                    FROM credits), 6) AS credit_share
    FROM credits
    GROUP BY channel
    ORDER BY channel
    """,
)
def attr_position_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution:
    each purchase's value is split across ALL the touches in its
    journey (the same-user events since the previous purchase) — 40%
    to the first touch, 40% to the last, 20% shared by the middles
    (100% / 50-50 for 1- and 2-touch journeys; touchless purchases
    credit '(none)') — the standard upgrade from attr_last_touch's
    winner-take-all, answering "which channels OPEN vs CLOSE
    journeys?" in one table.

    Credits are fixed-point integers: floor(cents * weight * 1000 +
    0.5), where the weight is the identical double on both engines —
    so every per-channel sum is exact int64 (the same no-float-
    accumulation rule as text_dsir_importance; the ≤0.5 milli-cent
    floor loss per touch is documented here and immaterial to
    attribution). Journey ids come from one user-partitioned running
    count of preceding purchases — the whole operator is two window
    passes and one (user, journey)-keyed join, no per-journey
    collection anywhere."""
    e = load_table(spark, sf_dir, "events")
    wj = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.withColumn(
        "jid",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.lit(1))
            ).over(wj),
            F.lit(0),
        ).cast("long"),
    ).transform(pin)
    buys = seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "jid",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wt = Window.partitionBy("user_id", "jid").orderBy("ts", "event_id")
    wk = Window.partitionBy("user_id", "jid")
    touches = seq.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "jid",
        F.col("event_type").alias("channel"),
        F.row_number().over(wt).alias("pos"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    weight = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("k")), F.lit(0.4)
        )
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    credited = touches.join(buys, ["user_id", "jid"]).select(
        "channel",
        F.floor(F.col("cents") * 1000.0 * weight + 0.5)
        .cast("long")
        .alias("credit_u"),
    )
    orphan = (
        buys.join(
            touches.select("user_id", "jid").distinct(),
            ["user_id", "jid"],
            "left_anti",
        )
        .select(
            F.lit("(none)").alias("channel"),
            (F.col("cents") * 1000).cast("long").alias("credit_u"),
        )
    )
    credits = credited.unionByName(orphan).transform(pin)
    total = credits.agg(F.sum("credit_u").cast("long").alias("tot"))
    return (
        credits.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credited_touches"),
            F.sum("credit_u").cast("long").alias("credit_units"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "channel",
            "n_credited_touches",
            "credit_units",
            F.round(
                F.col("credit_units") / (F.col("tot") * F.lit(1.0)), 6
            ).alias("credit_share"),
        )
        .orderBy("channel")
    )


@query(
    "ab_funnel_lift",
    oracle="""
    WITH v AS (
        SELECT user_id,
               CAST('0x' || substr(md5('fl:'
                    || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2
                   AS t,
               min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    c AS (
        SELECT e.user_id, v.t, min(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY 1, 2
    ),
    p AS (
        SELECT e.user_id, c.t
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY 1, 2
    ),
    s AS (
        SELECT v.t,
               CAST(count(*) AS BIGINT) AS n_view,
               CAST(count(c.user_id) AS BIGINT) AS n_click,
               CAST(count(p.user_id) AS BIGINT) AS n_purchase
        FROM v
        LEFT JOIN c ON c.user_id = v.user_id
        LEFT JOIN p ON p.user_id = v.user_id
        GROUP BY v.t
    )
    SELECT t1.n_view AS views_treat, t0.n_view AS views_ctrl,
           t1.n_purchase AS conv_treat, t0.n_purchase AS conv_ctrl,
           round(CAST(t1.n_purchase AS DOUBLE) / t1.n_view, 6)
               AS rate_treat,
           round(CAST(t0.n_purchase AS DOUBLE) / t0.n_view, 6)
               AS rate_ctrl,
           round(CAST(t1.n_click AS DOUBLE) / t1.n_view
                 - CAST(t0.n_click AS DOUBLE) / t0.n_view, 6)
               AS click_rate_lift,
           CASE WHEN t1.n_purchase + t0.n_purchase = 0
                  OR t1.n_purchase + t0.n_purchase
                     = t1.n_view + t0.n_view
                THEN CAST(0 AS DOUBLE)
                ELSE round((CAST(t1.n_purchase AS DOUBLE) / t1.n_view
                  - CAST(t0.n_purchase AS DOUBLE) / t0.n_view)
                 / sqrt((CAST(t1.n_purchase + t0.n_purchase AS DOUBLE)
                         / (t1.n_view + t0.n_view))
                        * (1 - CAST(t1.n_purchase + t0.n_purchase
                                    AS DOUBLE)
                               / (t1.n_view + t0.n_view))
                        * (1.0 / t1.n_view + 1.0 / t0.n_view)), 6)
           END AS z_stat
    FROM (SELECT * FROM s WHERE t = 1) t1
    CROSS JOIN (SELECT * FROM s WHERE t = 0) t0
    """,
)
def ab_funnel_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B lift on the ORDERED funnel: split users into two md5 arms
    (salt 'fl:') and compare view→click→purchase conversion between
    them, with a pooled z-test on the end-to-end rate — the
    experiment readout product teams actually ship (funnel_conversion
    measures the funnel; this measures whether a treatment MOVED it,
    respecting the same strictly-after step ordering).

    Same scale shape as funnel_conversion — per-step user-keyed min
    aggregates gated by key joins, no windows, no event sorting —
    plus one 2-row arm aggregate; the z is a fixed double expression
    over exact BIGINT funnel counts (rounded 6dp). The funnel
    denominator is step-1 entrants per arm (views), the standard
    funnel-experiment convention. When pooled conversion is 0 or 1
    (possible at tiny scale factors) the z-statistic is undefined and
    both engines emit 0.0 by the same CASE guard — ANSI mode
    correctly refuses the 0/0 a silent engine would produce."""
    e = load_table(spark, sf_dir, "events")
    t = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("fl:"), F.col("user_id").cast("string"))
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.max(t).alias("t"), F.min("ts").alias("t_view"))
        .transform(pin)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v.select("user_id", "t_view"), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .transform(pin)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.lit(1).alias("purchased"))
    )
    s = (
        v.join(
            c.select("user_id", F.lit(1).alias("clicked")), "user_id", "left"
        )
        .join(p, "user_id", "left")
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_view"),
            F.count("clicked").cast("long").alias("n_click"),
            F.count("purchased").cast("long").alias("n_purchase"),
        )
    )
    t1 = s.where("t = 1").select(
        F.col("n_view").alias("v1"),
        F.col("n_click").alias("c1"),
        F.col("n_purchase").alias("p1"),
    )
    t0 = s.where("t = 0").select(
        F.col("n_view").alias("v0"),
        F.col("n_click").alias("c0"),
        F.col("n_purchase").alias("p0"),
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    pooled = (d("p1") + F.col("p0")) / (F.col("v1") + F.col("v0"))
    z = F.when(
        (F.col("p1") + F.col("p0") == 0)
        | (F.col("p1") + F.col("p0") == F.col("v1") + F.col("v0")),
        F.lit(0.0),
    ).otherwise(
        F.round(
            (d("p1") / F.col("v1") - d("p0") / F.col("v0"))
            / F.sqrt(
                pooled
                * (1 - pooled)
                * (1.0 / F.col("v1") + 1.0 / F.col("v0"))
            ),
            6,
        )
    )
    # explicit broadcast: t0 is one row, but the localCheckpoint
    # lineage hides size stats and Spark would fall back to a
    # CartesianProduct (the plan gate forbids those)
    return t1.crossJoin(F.broadcast(t0)).select(
        F.col("v1").alias("views_treat"),
        F.col("v0").alias("views_ctrl"),
        F.col("p1").alias("conv_treat"),
        F.col("p0").alias("conv_ctrl"),
        F.round(d("p1") / F.col("v1"), 6).alias("rate_treat"),
        F.round(d("p0") / F.col("v0"), 6).alias("rate_ctrl"),
        F.round(d("c1") / F.col("v1") - d("c0") / F.col("v0"), 6).alias(
            "click_rate_lift"
        ),
        z.alias("z_stat"),
    )
