"""Event-time windows in batch form: tumbling, sliding, session
(SURVEY.md §2.2 streaming rows; timeline/teamfight analysis analogues,
README.md:31,35).

``F.window`` / ``F.session_window`` are the SAME operators Structured
Streaming uses — running them over the bounded events table gives a
deterministic, oracle-checkable definition of the streaming semantics;
dataextractor_spark.streaming wires the identical expressions into
readStream/writeStream with watermarks, and tests assert
stream-batch equivalence.

Window starts are emitted as formatted strings so the oracle hash is
engine-representation independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.pins import pin
from dataextractor_spark.registry import query

_FMT = "yyyy-MM-dd HH:mm:ss"


@query(
    "time_tumbling_window",
    oracle="""
    SELECT
        strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        event_type,
        count(*)             AS n,
        round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def time_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event type. Hash agg on
    (window, type) — partial aggregation makes this a constant-size
    shuffle per partition regardless of input volume."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _FMT).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "time_sliding_window",
    oracle="""
    WITH b AS (
        SELECT
            date_trunc('hour', ts)
              + to_minutes(30 * (minute(ts) // 30)) AS bucket,
            value
        FROM events
    ),
    w AS (
        SELECT unnest([bucket, bucket - INTERVAL 30 MINUTE]) AS ws, value
        FROM b
    )
    SELECT
        strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        count(*)                          AS n,
        round(sum(value), 2)              AS sum_value
    FROM w
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def time_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide — each event
    lands in exactly 2 windows. Spark expands via the window generator;
    the oracle expands explicitly with unnest of the two candidate
    window starts."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _FMT).alias("window_start"),
            "n",
            "sum_value",
        )
        .orderBy("window_start")
    )


@query(
    "time_session_window",
    oracle="""
    WITH marked AS (
        SELECT
            user_id, ts, event_id, value,
            CASE
                WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
                ELSE 0
            END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    )
    SELECT
        user_id,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        count(*)                               AS n_events,
        round(sum(value), 2)                   AS sum_value
    FROM sessions
    GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
    """,
)
def time_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user — the
    teamfight/session-analysis shape (README.md:35).

    Spark's session_window merges events whose [ts, ts+gap) intervals
    overlap, i.e. a session breaks when the gap is ≥ 30 minutes; the
    oracle reproduces exactly that with gaps-and-islands SQL."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.col("user_id"), F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), _FMT).alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "time_user_activity",
    oracle="""
    SELECT
        user_id,
        count(*)                                                  AS n_events,
        count(DISTINCT date_trunc('day', ts))                     AS active_days,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S')                    AS first_seen,
        strftime(max(ts), '%Y-%m-%d %H:%M:%S')                    AS last_seen,
        round(sum(CASE WHEN event_type = 'purchase' THEN value
                       ELSE 0 END), 2)                            AS purchase_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def time_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user stateful running aggregate in batch form (the
    groupBy(user) tier the streaming module maintains incrementally
    under a watermark)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(F.date_trunc("day", "ts")).alias("active_days"),
            F.date_format(F.min("ts"), _FMT).alias("first_seen"),
            F.date_format(F.max("ts"), _FMT).alias("last_seen"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                        0.0
                    )
                ),
                2,
            ).alias("purchase_value"),
        )
        .orderBy("user_id")
    )


@query(
    "time_gapfill_locf",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS d, count(*) AS n,
               round(sum(o_totalprice), 2) AS rev
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000
        GROUP BY 1
    ),
    days AS (
        SELECT unnest(generate_series((SELECT min(d) FROM daily),
                                      (SELECT max(d) FROM daily),
                                      INTERVAL 1 DAY)) AS d
    )
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
           round(last_value(rev IGNORE NULLS) OVER
                 (ORDER BY days.d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS locf_revenue
    FROM days LEFT JOIN daily ON days.d = daily.d
    ORDER BY day
    """,
)
def time_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-calendar gap-fill with last-observation-carried-forward —
    the `time_bucket_gapfill(...) + locf(...)` pattern timeseries
    databases expose, over a sparse daily series (urgent high-value
    orders: ~290 order days across a ~2,400-day span at sf0.01).

    Scale shape: the per-day aggregate over orders is the only
    data-sized work (distributed hash agg). The dense day spine is
    generated with `sequence()`/`explode` from a 1-row bounds
    aggregate — fully Catalyst-planned, unlike a driver-side loop —
    and is calendar-sized (one row per day), so the single-partition
    ordered window that carries values forward operates on a
    dimension-sized series no matter how large the fact table grows.
    Complements `sql_recursive_months`, which builds the same spine
    via a recursive CTE.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 450000)
        )
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(daily, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
            F.round(F.last("rev", ignorenulls=True).over(w), 2).alias(
                "locf_revenue"
            ),
        )
        .orderBy("day")
    )


@query(
    "time_trailing_week_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
                   AS day_num,
               strftime(o_orderdate, '%Y-%m-%d') AS day,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY 1, 2
    )
    SELECT day, revenue,
           round(avg(revenue) OVER (
               ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 6) AS trailing_7d_avg
    FROM daily
    ORDER BY day
    """,
)
def time_trailing_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: 7-day trailing average of daily
    revenue. Unlike a rowsBetween frame, the RANGE frame is gap-aware
    — missing days shrink the window instead of silently reaching
    further back, which is the correct trailing-metric semantics for
    sparse time series. Runs on the pre-aggregated daily table (one
    row per day), so the global ORDER BY sorts days, not orders —
    bounded at any fact scale."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_num"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return (
        daily.select(
            "day",
            "revenue",
            F.round(F.avg("revenue").over(w), 6).alias("trailing_7d_avg"),
        )
        .orderBy("day")
    )


@query(
    "time_cohort_retention",
    oracle="""
    WITH p AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        FROM events
        WHERE event_type = 'purchase'
    ),
    f AS (SELECT user_id, min(wk) AS cohort_wk FROM p GROUP BY user_id),
    sz AS (SELECT cohort_wk, count(*) AS cohort_size FROM f GROUP BY cohort_wk)
    SELECT strftime(f.cohort_wk, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_wk, p.wk) // 7 AS BIGINT)
               AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           round(count(*) / CAST(max(sz.cohort_size) AS DOUBLE), 6)
               AS retention_rate
    FROM p
    JOIN f USING (user_id)
    JOIN sz ON f.cohort_wk = sz.cohort_wk
    GROUP BY f.cohort_wk, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def time_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort/retention triangle: users are cohorted by the week of
    their first purchase; each cell is how many of them purchased
    again N whole weeks later, as a count and a rate of cohort size.
    The classic training-data-pipeline "did the source keep
    producing" curve (README.md:27 skill-bracket/timeline analyses are
    this shape over the reference's tables).

    Scale plan: the fact table is shuffled ONCE — a per-user
    collect_set of active weeks (map-side partial, set bounded by the
    calendar, not by event volume). Cohort = array_min of that set, so
    no second fact aggregate and no fact-sized self-join; everything
    after the first exchange is one row per user, then weeks² rows.
    Cohort size is recovered WITHOUT a join: every cohort member is by
    definition active at offset 0, so the rate divides by the
    offset-0 cell via first() over a cohort-partitioned window on the
    already-tiny triangle. Three of the four exchanges move
    weeks²-sized data; output is bounded by weeks² at any fact
    volume."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.collect_set(F.date_trunc("week", "ts")).alias("wks"))
        .select(F.array_min("wks").alias("cohort_wk"), "wks")
    )
    triangle = (
        per_user.select("cohort_wk", F.explode("wks").alias("wk"))
        .groupBy(
            "cohort_wk",
            F.expr("CAST(datediff(wk, cohort_wk) DIV 7 AS BIGINT)").alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    w = Window.partitionBy("cohort_wk").orderBy("week_offset")
    return (
        triangle.select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            F.round(
                F.col("n_active")
                / F.first("n_active").over(w).cast("double"),
                6,
            ).alias("retention_rate"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "time_scd2_versions",
    oracle="""
    WITH s AS (
        SELECT user_id, ts,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to
        FROM events
        WHERE event_type = 'signup'
    )
    SELECT CAST(count(*) AS BIGINT) AS n_versions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_current,
           round(avg(date_diff('microsecond', ts, valid_to)
                     / 3600000000.0), 6) AS avg_valid_hours
    FROM s
    """,
)
def time_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: each user's 'signup'
    events become versioned dimension rows with [valid_from, valid_to)
    intervals via lead() over the user's event-time order (event_id
    breaks timestamp ties deterministically); an open valid_to marks
    the current version. Rolled up to version counts and mean validity
    duration. This is how a mutable entity (player profile, document
    source) becomes point-in-time joinable — the other half of the
    as-of join in functions/asof.py.

    Scale plan: one shuffle on user_id, then the lead() window runs
    inside each partition with no frame buffering (lead is a
    stream-through window); the rollup is a map-side-partial global
    aggregate. No global sort anywhere."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id", "ts", F.lead("ts").over(w).alias("valid_to")
    )
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_current"),
        F.round(
            F.avg(
                F.timestamp_diff("MICROSECOND", "ts", "valid_to")
                / F.lit(3600000000.0)
            ),
            6,
        ).alias("avg_valid_hours"),
    )


@query(
    "time_downsample_ohlc",
    oracle="""
    WITH d AS (
        SELECT event_type, date_trunc('day', ts) AS day, ts, event_id, value
        FROM events
    ),
    r AS (
        SELECT *,
            row_number() OVER (PARTITION BY event_type, day
                               ORDER BY ts, event_id)            AS rn_a,
            row_number() OVER (PARTITION BY event_type, day
                               ORDER BY ts DESC, event_id DESC)  AS rn_d
        FROM d
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d')                         AS day,
           round(max(CASE WHEN rn_a = 1 THEN value END), 2)  AS open,
           round(max(value), 2)                              AS high,
           round(min(value), 2)                              AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 2)  AS close,
           round(sum(value), 2)                              AS sum_value,
           CAST(count(*) AS BIGINT)                          AS n_events
    FROM r
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def time_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to per-(series, day) OHLC candles —
    the hypertable/continuous-aggregate rollup every metrics store
    materializes (open/high/low/close/volume per bucket). Spark shape:
    ONE hash aggregate with ``min_by``/``max_by`` over a composite
    (ts, event_id) order key — open and close are arg-min/arg-max
    inside the same map-side-combinable aggregate, so the plan is a
    single fact shuffle on (series, day) with NO window sort (the
    oracle's row_number formulation is what this avoids; their
    equivalence is exactly what the hash comparison proves). The
    event_id tiebreak makes the candle deterministic under duplicate
    timestamps. At 100 TB: grouped keys are (series × days) — output-
    bounded — and partial aggregation means each executor ships one
    candidate candle per group, not its rows; the rollup is also
    re-aggregable (day → week) without revisiting the facts."""
    e = load_table(spark, sf_dir, "events")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.round(F.min_by("value", ord_key), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", ord_key), 2).alias("close"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "open", "high", "low", "close", "sum_value", "n_events",
        )
        .orderBy("event_type", "day")
    )


@query(
    "time_sliding_distinct_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id
        FROM events
        WHERE event_type = 'purchase'
    ),
    days AS (SELECT DISTINCT day FROM du),
    x AS (
        SELECT d.day, u.user_id
        FROM days d
        JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users_7d
    FROM x
    GROUP BY day
    ORDER BY day
    """,
)
def time_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day DISTINCT purchasers per day — the rolling-MAU
    shape no window frame can express (COUNT(DISTINCT) OVER RANGE is
    unsupported in Spark and most engines, because distinctness is not
    frame-incremental).

    Scale plan, in three bounded steps: (1) one fact shuffle dedups to
    (day, user) pairs — output calendar×users, not event volume;
    (2) instead of the oracle's theta range join, each (day, user) pair
    is EXPLODED into the ≤7 trailing window-days it serves
    (``sequence(day, day+6d)``) — a narrow 7× expansion of the already
    bounded pair table that turns the range predicate into a pure hash
    aggregate on (window_day, user); (3) a broadcast semi-join against
    the observed-day spine drops phantom window days after the series
    end. The distinct-users count is then a second bounded hash agg.
    No theta join, no window sort, everything after step 1 is
    calendar-sized. At 100 TB the scale lever is step 1's dedup —
    identical to dedup_exact's digest shuffle. The HLL variant of this
    query (mergeable per-day sketches OR-ed over the window,
    agg_hll_sketch_merge's machinery) trades exactness for a
    days×log-bytes state when users-per-window no longer fits; here
    the exact form is oracled."""
    e = load_table(spark, sf_dir, "events")
    du = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", "ts").alias("day"), F.col("user_id")
        )
        .distinct()
    )
    days = du.select("day").distinct()
    exploded = du.select(
        F.explode(
            F.expr("sequence(day, day + interval 6 days, interval 1 day)")
        ).alias("day"),
        "user_id",
    )
    return (
        exploded.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("active_users_7d"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "active_users_7d",
        )
        .orderBy("day")
    )


#: EWMA decay: weight on the i-th most recent observation is
#: (1-EWMA_ALPHA)^i. 0.3 is the pandas ewm(alpha=0.3) default shape.
EWMA_ALPHA = 0.3


@query(
    "time_ewma_smooth",
    oracle=f"""
    WITH r AS (
        SELECT user_id, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS i,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
        WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           round(sum(value * power({1 - EWMA_ALPHA}, n - i))
                 / sum(power({1 - EWMA_ALPHA}, n - i)), 6) AS ewma_value,
           round(avg(value), 6) AS mean_value
    FROM r
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def time_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of purchase
    value (pandas ``ewm(alpha=0.3, adjust=True)`` semantics), reported
    as each series' final smoothed level next to its flat mean.

    The recurrence ewma_i = (1-α)·ewma_{i-1} + α·x_i looks inherently
    sequential, but the adjusted closed form
    Σ x_i·(1-α)^(n-i) / Σ (1-α)^(n-i) turns it into ONE hash
    aggregate over row-numbered events: a single shuffle on user_id
    runs the row_number/count window (stream-through, no frame
    buffer), then the weighted sums fold map-side. No per-series
    iteration, no UDF, no state store. (1-α)^k underflows to +0.0
    identically in every IEEE engine, so old observations vanish the
    same way in Spark and the oracle — that float agreement is what
    the 6-dp hash match certifies. At 100 TB: cost ≡ one
    user-partitioned window + bounded agg, the same envelope as
    time_scd2_versions."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    decay = F.lit(1.0 - EWMA_ALPHA)
    r = e.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    wgt = F.pow(decay, F.col("n") - F.col("i"))
    return (
        r.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value") * wgt) / F.sum(wgt), 6
            ).alias("ewma_value"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
        .orderBy("user_id")
    )


@query(
    "time_interpolate_linear",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS d,
               round(sum(o_totalprice), 2) AS rev
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000
        GROUP BY 1
    ),
    days AS (
        SELECT unnest(generate_series((SELECT min(d) FROM daily),
                                      (SELECT max(d) FROM daily),
                                      INTERVAL 1 DAY)) AS d
    ),
    j AS (
        SELECT days.d, rev,
               last_value(rev IGNORE NULLS) OVER
                   (ORDER BY days.d ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS prev_v,
               last_value(CASE WHEN rev IS NOT NULL THEN days.d END
                          IGNORE NULLS) OVER
                   (ORDER BY days.d ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS prev_d,
               first_value(rev IGNORE NULLS) OVER
                   (ORDER BY days.d ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS next_v,
               first_value(CASE WHEN rev IS NOT NULL THEN days.d END
                           IGNORE NULLS) OVER
                   (ORDER BY days.d ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS next_d
        FROM days LEFT JOIN daily ON days.d = daily.d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CASE WHEN rev IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
           floor(CASE
               WHEN rev IS NOT NULL THEN rev
               WHEN prev_v IS NULL THEN next_v
               WHEN next_v IS NULL THEN prev_v
               ELSE prev_v + (next_v - prev_v)
                    * date_diff('day', prev_d, d)
                    / CAST(date_diff('day', prev_d, next_d) AS DOUBLE)
           END * 100 + 0.5) / 100.0 AS revenue_interp
    FROM j
    ORDER BY day
    """,
)
def time_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-calendar gap-fill with LINEAR interpolation — the
    companion to time_gapfill_locf's step-function carry: gap days get
    the straight line between the surrounding observations (endpoints
    degrade to nearest-value), and an ``interpolated`` flag keeps
    imputed points auditable downstream.

    Same scale envelope as the LOCF query: the fact table contributes
    one distributed hash aggregate; the dense day spine comes from a
    1-row bounds agg via sequence()/explode; the four carry windows
    (prev/next value and DAY) run over the calendar-sized series only.
    Forward carries and backward carries are two window specs over the
    same sort order — Catalyst runs them in one WindowExec pair
    without re-shuffling. The day arithmetic interpolates on actual
    gap width, so unevenly spaced gaps get correct slopes — the detail
    rowsBetween-only formulations silently get wrong."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 450000)
        )
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    wb = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    obs_d = F.when(F.col("rev").isNotNull(), F.col("d"))
    j = (
        days.join(daily, "d", "left")
        .select(
            "d",
            "rev",
            F.last("rev", ignorenulls=True).over(wb).alias("prev_v"),
            F.last(obs_d, ignorenulls=True).over(wb).alias("prev_d"),
            F.first("rev", ignorenulls=True).over(wf).alias("next_v"),
            F.first(obs_d, ignorenulls=True).over(wf).alias("next_d"),
        )
    )
    interp = (
        F.when(F.col("rev").isNotNull(), F.col("rev"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * F.datediff("d", "prev_d")
            / F.datediff("next_d", "prev_d").cast("double")
        )
    )
    # NOT F.round: Spark rounds via BigDecimal-HALF_UP on the double's
    # shortest repr while DuckDB rounds the binary value — on
    # interpolated values that land within an ulp of a half-cent the
    # two disagree (caught by the strict driver-mode harness at
    # sf0.01: 483565.27 vs .28). Both engines build bit-identical
    # doubles for the interpolation expression itself, so
    # floor(x*100 + 0.5)/100 — pure IEEE ops — rounds identically.
    return j.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.when(F.col("rev").isNotNull(), 0).otherwise(1).alias("interpolated"),
        (F.floor(interp * 100 + F.lit(0.5)) / F.lit(100.0)).alias(
            "revenue_interp"
        ),
    ).orderBy("day")


@query(
    "time_session_paths",
    oracle="""
    WITH marked AS (
        SELECT
            user_id, ts, event_id, event_type,
            CASE
                WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
                ELSE 0
            END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    ),
    paths AS (
        SELECT user_id, sess_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
               count(*) AS n_events
        FROM sessions
        GROUP BY user_id, sess_id
    )
    SELECT path,
           CAST(count(*) AS BIGINT)   AS n_sessions,
           round(avg(n_events), 6)    AS avg_events
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 10
    """,
)
def time_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: each user session (30-minute
    inactivity gap, time_session_window's sessionization) becomes its
    time-ordered event-type sequence ('view>click>purchase'), and the
    10 most common session shapes surface with their frequency — the
    event-timeline analysis the reference's README promises
    (README.md:31) in its most actionable form, and the input every
    funnel-discovery / next-action model trains on.

    Ordered concatenation inside a distributed aggregate is the trap
    here: collect_list alone is partition-order-dependent. The
    deterministic form collects (ts, event_id, event_type) STRUCTS,
    array_sorts inside the row (struct ordering = lexicographic on
    the fields, so time order with the event_id tiebreak), then
    projects and joins — the aggregate itself stays order-insensitive
    and therefore safe under any partitioning, while the oracle's
    ORDER BY inside string_agg spells the same contract. Plan: one
    shuffle on user_id (session_window groupBy), per-session arrays
    bounded by session length, then a path-keyed hash agg whose
    cardinality is the number of DISTINCT paths;
    TakeOrderedAndProject emits the top-10."""
    e = load_table(spark, sf_dir, "events")
    per_session = (
        e.groupBy(
            F.col("user_id"), F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return (
        per_session.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.round(F.avg("n_events"), 6).alias("avg_events"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


@query("time_sliding_distinct_hll")  # sketch estimates → rows-only;
# accuracy contract vs the exact query in tests/test_scale_paths.py
def time_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB SCALE PATH for time_sliding_distinct_users, made
    concrete: ONE HLL sketch per day (hll_sketch_agg over purchasers,
    lgK=14), then the 7-day trailing window is answered by UNIONING
    seven day-sketches (hll_union_agg) and reading the estimate —
    sketch-over-window composition. Where the exact form re-shuffles
    (day, user) pairs and its state grows with users-per-window, the
    sketch form's state is days × 16 KB REGARDLESS of user count, and
    day-sketches are reusable for any other window length, month
    rollup, or cross-shard merge without revisiting events — the
    mergeability that justifies every sketch in the family.

    Same window plumbing as the exact query (sequence-explode of each
    day into the window days it serves + broadcast semi-join against
    observed days), so the two plans differ ONLY in the aggregate
    state — which is exactly what the accuracy contract in
    tests/test_scale_paths.py measures (≤3% relative error vs the
    exact counts at lgK=14). Rows-only for the driver: sketch bytes
    are engine-specific by nature."""
    e = load_table(spark, sf_dir, "events")
    day_sk = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    )
    days = day_sk.select("day").distinct()
    exploded = day_sk.select(
        F.explode(
            F.expr("sequence(day, day + interval 6 days, interval 1 day)")
        ).alias("day"),
        "sk",
    )
    return (
        exploded.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("active_users_7d_est")
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "active_users_7d_est",
        )
        .orderBy("day")
    )


@query(
    "time_calendar_dim_join",
    oracle="""
    WITH bounds AS (
        SELECT min(date_trunc('day', o_orderdate)) AS lo,
               max(date_trunc('day', o_orderdate)) AS hi
        FROM orders
    ),
    cal AS (
        SELECT d,
               CASE WHEN isodow(d) <= 5 THEN 'business' ELSE 'weekend' END
                   AS day_class,
               CASE WHEN day(d) = 1 THEN 1 ELSE 0 END AS is_month_start
        FROM (SELECT unnest(generate_series((SELECT lo FROM bounds),
                                            (SELECT hi FROM bounds),
                                            INTERVAL 1 DAY)) AS d)
    ),
    daily AS (
        SELECT date_trunc('day', o_orderdate) AS d,
               count(*) AS n, sum(o_totalprice) AS rev
        FROM orders GROUP BY 1
    )
    SELECT cal.day_class,
           CAST(count(*) AS BIGINT)                    AS n_days,
           CAST(sum(CASE WHEN daily.d IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_days,
           CAST(coalesce(sum(n), 0) AS BIGINT)         AS n_orders,
           round(coalesce(sum(rev), 0), 2)             AS revenue,
           round(coalesce(sum(rev), 0)
                 / count(*), 4)                        AS revenue_per_day,
           CAST(sum(CASE WHEN is_month_start = 1 AND daily.d IS NOT NULL
                         THEN n ELSE 0 END) AS BIGINT) AS month_start_orders
    FROM cal LEFT JOIN daily ON cal.d = daily.d
    GROUP BY cal.day_class
    ORDER BY cal.day_class
    """,
)
def time_calendar_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension join — the warehouse pattern behind every
    'business days vs weekends' question: a GENERATED date dimension
    (ISO weekday class + month-start flag, derived attributes only —
    no fixture mutation) left-joins the daily fact rollup so
    zero-activity days are COUNTED rather than silently absent, which
    is what makes revenue-per-day denominators honest (grouping the
    fact table by its own dates can never see a day with no orders).

    Plan: the fact table contributes one distributed daily hash
    aggregate; the calendar spine is sequence()/explode from a 1-row
    bounds aggregate (calendar-sized, broadcast into the left join);
    attribute derivation is codegen'd date arithmetic — Spark's
    weekday() (0=Monday) aligns with the oracle's isodow ≤ 5 rule.
    Output is one row per day class at any fact volume. At 100 TB the
    calendar dim is exactly the kind of bounded table the catalog
    broadcast-hints; a persisted variant with holiday flags joins
    identically."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("rev")
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    ).select(
        "d",
        F.when(F.weekday("d") < 5, "business")
        .otherwise("weekend")
        .alias("day_class"),
        F.when(F.dayofmonth("d") == 1, 1).otherwise(0).alias(
            "is_month_start"
        ),
    )
    j = cal.join(daily, "d", "left")
    return (
        j.groupBy("day_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_zero_days"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_orders"),
            F.round(F.coalesce(F.sum("rev"), F.lit(0.0)), 2).alias("revenue"),
            F.round(
                F.coalesce(F.sum("rev"), F.lit(0.0)) / F.count(F.lit(1)), 4
            ).alias("revenue_per_day"),
            F.sum(
                F.when(
                    (F.col("is_month_start") == 1) & F.col("n").isNotNull(),
                    F.col("n"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("month_start_orders"),
        )
        .orderBy("day_class")
    )


@query(
    "time_yoy_growth",
    oracle="""
    WITH yearly AS (
        SELECT o_orderpriority AS prio,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    )
    SELECT prio, yr,
           cents / 100.0 AS revenue,
           round((cents - lag(cents) OVER w)::DOUBLE
                 / lag(cents) OVER w, 6) AS yoy_growth
    FROM yearly
    WINDOW w AS (PARTITION BY prio ORDER BY yr)
    ORDER BY prio, yr
    """,
)
def time_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per order priority — the BI
    staple every period-comparison dashboard runs: one lag window
    over the |priorities|×|years| yearly rollup. Growth is a ratio
    of exact integer-cent sums (first year NULL by definition).

    At 100 TB only the yearly aggregate touches data; the lag window
    runs over a few dozen rows."""
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.year("o_orderdate").cast("long").alias("yr"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("prio").orderBy("yr")
    prev = F.lag("cents").over(w)
    return yearly.select(
        "prio",
        "yr",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        F.round((F.col("cents") - prev).cast("double") / prev, 6).alias(
            "yoy_growth"
        ),
    ).orderBy("prio", "yr")


@query(
    "time_cohort_ltv",
    oracle="""
    WITH pm AS (
        SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    coh AS (
        SELECT o_custkey, min(m) AS cohort_m FROM pm GROUP BY 1
    ),
    cells AS (
        SELECT strftime(c.cohort_m, '%Y-%m') AS cohort,
               CAST(date_diff('month', c.cohort_m, pm.m) AS BIGINT)
                   AS age_months,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(pm.cents) AS BIGINT) AS cents
        FROM pm JOIN coh c ON pm.o_custkey = c.o_custkey
        GROUP BY 1, 2
    )
    SELECT cohort, age_months, n_active,
           floor(CAST(sum(cents) OVER (
                     PARTITION BY cohort ORDER BY age_months
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT)::DOUBLE
                 / first_value(n_active) OVER (
                     PARTITION BY cohort ORDER BY age_months
                 ) / 100.0 * 10000 + 0.5) / 10000.0 AS cum_ltv
    FROM cells
    ORDER BY cohort, age_months
    """,
)
def time_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by first-order
    month; each cell is the cohort's cumulative revenue per FOUNDING
    member through month N — the money-dimension companion to
    time_cohort_retention's activity triangle (retention asks "did
    they come back", LTV asks "what are they worth by age N").

    Cohort size is recovered without a join: every founding member
    has a row at age 0 (their first month has spend by definition),
    so first_value over the age-ordered cohort partition IS the
    denominator — the same trick the retention triangle uses.

    Plan: one fact shuffle to the (customer, month) table; cohorts
    re-aggregate it (customer-sized, key join back); every window
    runs over the months² triangle. Exact integer cents end-to-end;
    cum_ltv is a ratio of exact integers rounded at 4 dp."""
    o = load_table(spark, sf_dir, "orders")
    pm = (
        o.groupBy(
            "o_custkey", F.date_trunc("month", "o_orderdate").alias("m")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .transform(pin)
    )
    coh = pm.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    cells = (
        pm.join(coh, "o_custkey")
        .groupBy(
            F.date_format("cohort_m", "yyyy-MM").alias("cohort"),
            F.months_between(F.col("m"), F.col("cohort_m"))
            .cast("long")
            .alias("age_months"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum("cents").alias("cents"),
        )
    )
    w_cum = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_first = Window.partitionBy("cohort").orderBy("age_months")
    return cells.select(
        "cohort",
        "age_months",
        "n_active",
        # floor idiom, not round(): the integer quotient cents/size
        # lands exactly on 4-dp half-points (engines' round() diverges
        # there — caught by the strict harness at sf0.001)
        (
            F.floor(
                F.sum("cents").over(w_cum).cast("double")
                / F.first("n_active").over(w_first)
                / F.lit(100.0)
                * 10000
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("cum_ltv"),
    ).orderBy("cohort", "age_months")


# --- interval concurrency peak ----------------------------------------


@query(
    "time_concurrency_peak",
    oracle="""
    WITH li AS (
        SELECT date_trunc('day', o.o_orderdate) AS t0,
               date_trunc('day', l.l_shipdate) AS t1
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE date_trunc('day', l.l_shipdate)
              > date_trunc('day', o.o_orderdate)
    ),
    delta AS (
        SELECT date_trunc('day', t0) AS d, CAST(count(*) AS BIGINT) AS dv
        FROM li GROUP BY 1
        UNION ALL
        SELECT date_trunc('day', t1), CAST(-count(*) AS BIGINT)
        FROM li GROUP BY 1
    ),
    daily AS (
        SELECT d, CAST(sum(dv) AS BIGINT) AS net FROM delta GROUP BY d
    ),
    run AS (
        SELECT d,
               CAST(sum(net) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS open_now
        FROM daily
    )
    SELECT strftime(date_trunc('month', d), '%Y-%m') AS month,
           CAST(max(open_now) AS BIGINT) AS peak_open,
           CAST(min(open_now) AS BIGINT) AS min_open,
           strftime(CAST(substr(max(
               lpad(CAST(open_now AS VARCHAR), 12, '0')
               || strftime(d, '%Y-%m-%d')), 13, 10) AS DATE),
               '%Y-%m-%d') AS peak_day,
           round(avg(open_now), 2) AS avg_open
    FROM run
    GROUP BY 1
    ORDER BY month
    """,
)
def time_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent open intervals per month — how many lineitems
    are simultaneously in flight between order placement and ship, the
    interval-stabbing statistic behind capacity planning (warehouse
    slots, open-order limits), computed WITHOUT expanding intervals
    into per-day rows: +1/−1 boundary deltas per day, one
    calendar-bounded running sum, then a monthly rollup with the
    peak day recovered through the fixed-width lpad argmax (ties →
    latest day, deterministically).

    The running sum's window is ordering-only but runs over the
    bounded DAILY table (≤ a few thousand rows at any SF — the same
    whitelisted shape as the other calendar rollups), never over
    lineitems; the fact side contributes one orderkey join and two
    grouped scans merged by unionAll. Concurrency counts intervals
    open at end-of-day (order day counts, ship day releases);
    day-inverted spans (ship before order — half this synthetic
    fixture) are excluded as invalid, identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    spans = (
        li.join(o, "l_orderkey")
        .select(
            F.date_trunc("day", "o_orderdate").alias("t0"),
            F.date_trunc("day", "l_shipdate").alias("t1"),
        )
        # data-quality guard: this synthetic fixture ships ~half its
        # lines before the order date; day-positive spans only, or the
        # +1/-1 deltas would go negative before they open
        .filter(F.col("t1") > F.col("t0"))
        .transform(pin)
    )
    delta = (
        spans.groupBy(F.date_trunc("day", "t0").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("dv"))
        .unionAll(
            spans.groupBy(F.date_trunc("day", "t1").alias("d")).agg(
                (-F.count(F.lit(1))).cast("long").alias("dv")
            )
        )
    )
    daily = delta.groupBy("d").agg(F.sum("dv").cast("long").alias("net"))
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = daily.withColumn(
        "open_now", F.sum("net").over(w).cast("long")
    )
    argmax = F.max(
        F.concat(
            F.lpad(F.col("open_now").cast("string"), 12, "0"),
            F.date_format("d", "yyyy-MM-dd"),
        )
    )
    return (
        run.groupBy(F.date_format(F.date_trunc("month", "d"), "yyyy-MM").alias("month"))
        .agg(
            F.max("open_now").cast("long").alias("peak_open"),
            F.min("open_now").cast("long").alias("min_open"),
            F.substring(argmax, 13, 10).alias("peak_day"),
            F.round(F.avg("open_now"), 2).alias("avg_open"),
        )
        .orderBy("month")
    )


@query(
    "time_max_drawdown",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT day,
               CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS idx
        FROM daily
    ),
    dd AS (
        SELECT day, idx,
               CAST(max(idx) OVER (ORDER BY day) AS BIGINT) AS peak,
               CAST(max(idx) OVER (ORDER BY day) - idx AS BIGINT)
                   AS drawdown
        FROM cum
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(drawdown) AS BIGINT) AS max_drawdown_cents,
           substr(max(lpad(CAST(drawdown AS VARCHAR), 18, '0') || '|'
                      || strftime(day, '%Y-%m-%d')), 20, 10)
               AS worst_day,
           round(max(CAST(drawdown AS DOUBLE) / peak), 6)
               AS max_drawdown_frac
    FROM dd
    """,
)
def time_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily-revenue index — the
    peak-to-trough risk statistic (finance's standard "how bad did it
    get") applied to the revenue run-rate: drawdown(d) = max over
    days ≤ d of the cumulative index minus the index at d; report the
    worst absolute drawdown, the day it bottomed, and the worst
    RELATIVE drawdown (fraction of the then-peak).

    Cumulative sum and running max are two frames over ONE
    calendar-bounded day series (the windows_time precedent: ~2400
    rows regardless of fact size, so the single-partition window is
    bounded by the calendar, not the data). Integer cents end-to-end;
    the worst day is recovered with the lpad-argmax idiom (zero-padded
    drawdown || day, latest day wins ties — identical lexicographic
    rule both engines); the fraction is one division rounded 6dp.

    Note max(drawdown/peak) is taken over DAYS (each day's own
    relative drawdown), which can bottom on a different day than the
    absolute maximum — both are reported deliberately."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("day")
    cum = daily.select(
        "day", F.sum("cents").over(w).cast("long").alias("idx")
    )
    dd = cum.select(
        "day",
        "idx",
        F.max("idx").over(w).cast("long").alias("peak"),
        (F.max("idx").over(w) - F.col("idx")).cast("long").alias(
            "drawdown"
        ),
    )
    key = F.concat(
        F.lpad(F.col("drawdown").cast("string"), 18, "0"),
        F.lit("|"),
        F.date_format("day", "yyyy-MM-dd"),
    )
    return dd.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("drawdown").cast("long").alias("max_drawdown_cents"),
        F.substring(F.max(key), 20, 10).alias("worst_day"),
        F.round(
            F.max(F.col("drawdown").cast("double") / F.col("peak")), 6
        ).alias("max_drawdown_frac"),
    )


#: the intervention date for the interrupted-time-series readout —
#: mid-series so both segments have years of support at every sf
_ITS_CUT = "1998-01-01"


def _its_sql() -> str:
    seg = lambda tag, cond: f"""
        SELECT CAST(count(*) AS BIGINT) AS n_{tag},
               CAST(sum(d) AS BIGINT) AS sx_{tag},
               CAST(sum(cents) AS BIGINT) AS sy_{tag},
               CAST(sum(d * d) AS BIGINT) AS sxx_{tag},
               CAST(sum(d * cents) AS BIGINT) AS sxy_{tag}
        FROM daily WHERE {cond}
    """  # noqa: E731
    slope = (
        lambda t: f"((CAST(sxy_{t} AS DOUBLE) - CAST(sx_{t} AS DOUBLE)"
        f" * sy_{t} / n_{t}) / (CAST(sxx_{t} AS DOUBLE)"
        f" - CAST(sx_{t} AS DOUBLE) * sx_{t} / n_{t}))"
    )  # noqa: E731
    icept = (
        lambda t: f"(CAST(sy_{t} AS DOUBLE) / n_{t} - {slope(t)}"
        f" * CAST(sx_{t} AS DOUBLE) / n_{t})"
    )  # noqa: E731
    return f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '{_ITS_CUT}',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    pre AS ({seg("pre", "d < 0")}),
    post AS ({seg("post", "d >= 0")})
    SELECT n_pre AS n_days_pre,
           n_post AS n_days_post,
           round({slope("pre")}, 6) AS slope_pre,
           round({slope("post")}, 6) AS slope_post,
           round({slope("post")} - {slope("pre")}, 6) AS slope_change,
           round({icept("post")} - {icept("pre")}, 6) AS level_change
    FROM pre CROSS JOIN post
    """


@query("time_interrupted_series", oracle=_its_sql())
def time_interrupted_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series (ITS) readout around a fixed
    intervention date: fit the daily-revenue trend separately BEFORE
    and AFTER the cut and report the slope change and the level
    change at the cut (the post intercept minus the pre line's
    prediction, both evaluated at d = 0 by centering the day index on
    the cut) — the standard quasi-experimental answer to "did the
    launch bend the curve?" when there is no control group.

    Each segment is a one-feature OLS over the calendar-bounded daily
    aggregate (the agg_theil_sen_trend scale shape): exact BIGINT
    moments per segment from ONE day-keyed pre-aggregate, slopes and
    intercepts as fixed double expressions, rounded 6dp. Centering on
    the cut makes level_change a simple intercept difference — no
    extrapolation arithmetic to disagree on."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit(_ITS_CUT).cast("date"),
            ).alias("d")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .transform(pin)
    )

    def seg(tag: str, cond):
        return daily.where(cond).agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
            F.sum("d").cast("long").alias(f"sx_{tag}"),
            F.sum("cents").cast("long").alias(f"sy_{tag}"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias(f"sxx_{tag}"),
            F.sum(F.col("d") * F.col("cents"))
            .cast("long")
            .alias(f"sxy_{tag}"),
        )

    def slope(t: str):
        d = lambda c: F.col(c).cast("double")  # noqa: E731
        return (
            d(f"sxy_{t}") - d(f"sx_{t}") * F.col(f"sy_{t}") / F.col(f"n_{t}")
        ) / (
            d(f"sxx_{t}") - d(f"sx_{t}") * F.col(f"sx_{t}") / F.col(f"n_{t}")
        )

    def icept(t: str):
        d = lambda c: F.col(c).cast("double")  # noqa: E731
        return d(f"sy_{t}") / F.col(f"n_{t}") - slope(t) * (
            d(f"sx_{t}") / F.col(f"n_{t}")
        )

    pre = seg("pre", F.col("d") < 0)
    post = seg("post", F.col("d") >= 0)
    return pre.crossJoin(post).select(
        F.col("n_pre").alias("n_days_pre"),
        F.col("n_post").alias("n_days_post"),
        F.round(slope("pre"), 6).alias("slope_pre"),
        F.round(slope("post"), 6).alias("slope_post"),
        F.round(slope("post") - slope("pre"), 6).alias("slope_change"),
        F.round(icept("post") - icept("pre"), 6).alias("level_change"),
    )


_ACF_MAX_LAG = 14


def _acf_sql() -> str:
    return f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                    AS BIGINT) AS dollars
        FROM orders GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
        SELECT l.lag, CAST(a.dollars AS HUGEINT) AS x,
               CAST(b.dollars AS HUGEINT) AS y
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.d = a.d + l.lag
    ),
    s AS (
        SELECT lag,
               CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / sqrt((CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx / n)
                        * (CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy / n)), 6) AS acf
    FROM s
    ORDER BY lag
    """


@query("time_autocorrelation", oracle=_acf_sql())
def time_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..14 — the
    diagnostic that says whether yesterday predicts today (lag-1) and
    whether the week repeats (lag-7 spike), i.e. which ARIMA/seasonal
    terms a forecast needs. time_lag_xcorr correlates TWO series;
    this is the same-series memory profile.

    Pearson at each lag over the lag-aligned day pairs (the
    statistics literature's acf-with-pairwise-complete convention),
    every moment an exact DECIMAL(38,0) sum (HUGEINT in the oracle):
    the daily aggregate is
    calendar-bounded, the 14-row lag spine broadcasts, and the
    self-alignment is one day+lag equi-join — so the whole plan is
    independent of fact-table size after the first day-keyed
    aggregate. r is a fixed double expression, rounded 6dp. The
    series is integer DOLLARS: sum(x·x) over ~2400 daily values peaks
    ~5e17 at sf0.1, and at 8× the fixture it passes int64 (64 × 5e17),
    so the moments sum as 38-digit decimals, exact far past any scale
    the repo runs."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            ).alias("d")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice")).cast("long"))
            .cast("long")
            .alias("dollars")
        )
    )
    lags = F.broadcast(
        spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    )
    dollars = F.col("dollars").cast("decimal(38,0)")
    a = daily.select(F.col("d").alias("da"), dollars.alias("x"))
    b = daily.select(F.col("d").alias("db"), dollars.alias("y"))
    pairs = (
        a.crossJoin(lags)
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .select("lag", "x", "y")
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.round(
            (d("sxy") - d("sx") * F.col("sy") / F.col("n"))
            / F.sqrt(
                (d("sxx") - d("sx") * F.col("sx") / F.col("n"))
                * (d("syy") - d("sy") * F.col("sy") / F.col("n"))
            ),
            6,
        ).alias("acf"),
    ).orderBy("lag")


@query(
    "time_rolling_median",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS v
        FROM orders GROUP BY 1
    ),
    nb AS (
        SELECT a.d, a.v, list_sort(list(b.v)) AS w
        FROM daily a
        JOIN daily b ON b.d BETWEEN a.d - 3 AND a.d + 3
        GROUP BY a.d, a.v
    ),
    med AS (
        SELECT d, v,
               CAST(len(w) AS BIGINT) AS n_window,
               (w[CAST(floor((len(w) + 1) / 2.0) AS BIGINT)]
                + w[CAST(ceil((len(w) + 1) / 2.0) AS BIGINT)]) / 2.0
                   AS rolling_med
        FROM nb
    )
    SELECT CAST(d AS BIGINT) AS day_index, v AS dollars,
           round(rolling_med, 1) AS rolling_median,
           n_window,
           CAST(round(abs(v - rolling_med) * 10) AS BIGINT)
               AS abs_dev_x10
    FROM med
    ORDER BY abs_dev_x10 DESC, day_index
    LIMIT 10
    """,
)
def time_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day MEDIAN smoother over daily revenue with the ten
    largest deviations surfaced — the robust outlier screen a
    moving AVERAGE can't provide (one spike day drags the mean and
    masks itself; the median shrugs it off, so spike days stand out
    against their own neighborhood).

    The window is by CALENDAR DAY (a.d±3 via a bounded self-join on
    the daily aggregate — gap days simply shrink the window, honest
    behavior a row-frame would fake). The median of ≤7 exact integer
    dollars is an exact order statistic off one sorted list —
    integer-or-half values only, so abs deviations ×10 are exact
    BIGINTs and the top-10 ordering (deviation desc, day) is
    deterministic on both engines with no float comparison anywhere
    near the cut. Calendar-bounded end to end after the day-keyed
    pre-aggregate."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            ).alias("d")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice")).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    a = daily.select(F.col("d").alias("ad"), F.col("v").alias("av"))
    b = daily.select(F.col("d").alias("bd"), F.col("v").alias("bv"))
    nb = (
        a.join(
            b,
            (F.col("bd") >= F.col("ad") - 3) & (F.col("bd") <= F.col("ad") + 3),
        )
        .groupBy("ad", "av")
        .agg(F.array_sort(F.collect_list("bv")).alias("w"))
    )
    n = F.size("w")
    lo = F.floor((n + 1) / 2.0).cast("int")
    hi = F.ceil((n + 1) / 2.0).cast("int")
    med = (
        F.element_at("w", lo) + F.element_at("w", hi)
    ) / 2.0
    scored = nb.select(
        F.col("ad").cast("long").alias("day_index"),
        F.col("av").alias("dollars"),
        F.round(med, 1).alias("rolling_median"),
        n.cast("long").alias("n_window"),
        F.round(F.abs(F.col("av") - med) * 10)
        .cast("long")
        .alias("abs_dev_x10"),
    )
    return scored.orderBy(
        F.col("abs_dev_x10").desc(), "day_index"
    ).limit(10)


@query(
    "time_interevent_gaps",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) // 1000000 AS gap_s
        FROM events
    ),
    binned AS (
        SELECT user_id, gap_s,
               CAST(CASE WHEN gap_s <= 0 THEN 0
                         ELSE length(bin(CAST(gap_s AS BIGINT))) END
                    AS BIGINT) AS b
        FROM gaps WHERE gap_s IS NOT NULL
    )
    SELECT b AS gap_log2_bin,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM binned
    GROUP BY b
    ORDER BY b
    """,
)
def time_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution on a log2 grid: per user, the
    seconds between consecutive events, bucketed by the gap's binary
    length — the heavy-tail fingerprint that picks session timeout
    thresholds (time_session_window's 30 minutes should sit in the
    valley between the intra-session and inter-session modes) and
    feeds time_burstiness with its distributional backdrop.

    One user-keyed sort window produces the lags (per-user partitions
    are activity-bounded, the established events-window shape); the
    log2 bin is the graph_degree_distribution binary-length idiom —
    integer, portable, no log() float anywhere; all outputs exact
    BIGINT. The DuckDB twin of Spark's bin() is bin() too via
    length(bin(x)) ≡ bit length for positive x. Gaps are
    FLOOR(microsecond delta / 1e6) on BOTH sides — DuckDB's
    date_diff('second') counts boundary CROSSINGS, not elapsed time,
    so the exact microsecond delta is divided instead."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (
            F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), "ts")
            / 1000000
        )
        .cast("long")
        .alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    b = (
        F.when(F.col("gap_s") <= 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("gap_s"))))
        .cast("long")
    )
    return (
        gaps.groupBy(b.alias("gap_log2_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("gap_log2_bin")
    )
