"""Event-time streaming over the events table: tumbling/sliding/
session windows under watermarks, plus an arbitrary-stateful operator
(README.md:31,35 timeline/teamfight analogues — SURVEY.md §7 M5).

Determinism strategy (SURVEY.md §7 hard part a): tests replay a staged
file stream with Trigger.AvailableNow — bounded input, full replay, no
wall-clock dependence — and assert the streaming result equals the
batch computation of the identical expressions.

Scale notes: watermark + append mode bound state size (windows close
and evict); maxFilesPerTrigger bounds per-micro-batch work. On a real
cluster the same code points at a Kafka source and an exactly-once
sink via checkpointLocation — nothing here is local-mode-specific.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataextractor_spark.catalog import SCHEMAS, load_table

_FMT = "yyyy-MM-dd HH:mm:ss"


def sentinel_ts_for(events: DataFrame) -> str:
    """Timestamp for the sentinel event appended after all real data:
    pushes the watermark past every real window so append mode emits
    them all by end of an AvailableNow replay. DERIVED from the staged
    data (max ts + 60 days — far beyond any watermark+window spec used
    here) rather than a constant, so a fixture whose time range grows
    can never silently park the watermark short of the final windows.
    Consumers filter event_type = 'sentinel' / user_id < 0."""
    from datetime import timedelta

    max_ts = events.agg(F.max("ts")).first()[0]
    return (max_ts + timedelta(days=60)).strftime("%Y-%m-%d %H:%M:%S")


def stage_stream_input(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 8,
    with_sentinel: bool = True,
) -> str:
    """Stage the events table as ``n_chunks`` parquet files written
    SEQUENTIALLY in event-time order, so the file source's
    mtime-ordered listing replays them as an in-order stream (one file
    per micro-batch with maxFilesPerTrigger=1).

    Out-of-order arrival would make the watermark leap ahead and drop
    earlier chunks as late data — exactly the failure mode watermarks
    exist to bound; staging in order keeps the replay deterministic
    (SURVEY.md §7 hard part a).
    """
    import time as _time

    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    chunked = events.withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, n_chunks + 1):
        (
            chunked.filter(F.col("_chunk") == i)
            .drop("_chunk")
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )
        _time.sleep(0.05)  # distinct mtimes → deterministic source order
    if with_sentinel:
        sentinel = spark.createDataFrame(
            [(-1, -1, "sentinel", 0.0, "{}")],
            "event_id long, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            F.lit(sentinel_ts_for(events)).cast("timestamp_ntz").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        sentinel.coalesce(1).write.mode("append").parquet(out_dir)
    return out_dir


def events_stream(
    spark: SparkSession, staged_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream with the catalog's explicit events schema.

    A watermark needs its event time as an instant (TIMESTAMP), so the
    catalog's TIMESTAMP_NTZ ``ts`` (a UTC wall clock) becomes the instant
    at that wall clock: the epoch instant plus the NTZ distance from the
    NTZ epoch, arithmetic that reads no session timezone."""
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staged_dir)
        .withColumn(
            "ts",
            F.expr(
                "timestamp_micros(0) + (ts - TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ),
        )
    )


def tumbling_aggregate(
    stream: DataFrame, *, window: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time counts/sums per event type under a
    watermark; append mode emits each window exactly once when the
    watermark passes it."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
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
    )


def sliding_aggregate(
    stream: DataFrame,
    *,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _FMT).alias("window_start"),
            "n",
            "sum_value",
        )
    )


def session_aggregate(
    stream: DataFrame, *, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows (30-min inactivity gap) — streaming
    session state merges as events arrive and evicts once the
    watermark passes session end."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("sw"))
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
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total maintained across micro-batches
    (the 'per-user running aggregates' row of SURVEY.md §2.2).

    State is one (count, total) pair per user — O(|users|), the
    streaming-safe kind. Output (update mode) re-emits a user's row
    whenever a batch touches them.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [count], "total_value": [round(total, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
        stateStructType="count BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_events_stream(stream: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Streaming deduplication by event_id under a watermark — the
    stream-side half of the dedup tier (SURVEY.md §2.3): a first
    occurrence is emitted immediately; re-deliveries arriving within
    the watermark delay hit state and are suppressed; older
    re-deliveries are discarded as late input. State is bounded:
    dropDuplicatesWithinWatermark evicts ids once the watermark passes
    them, so memory is O(events per watermark window), not O(stream) —
    the property that makes at-least-once sources (Kafka, file
    redelivery) safe to exactly-once-dedup at 100 TB/day.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_available_now(
    stream_df: DataFrame,
    *,
    query_name: str,
    output_mode: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Execute a streaming query over ALL currently-available input
    (Trigger.AvailableNow — the reference's monthly batch cadence A22
    expressed as an incremental, checkpointed, resumable run), sink to
    memory, return the materialized result table."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def funnel_user_stage(stream: DataFrame) -> DataFrame:
    """Streaming form of the ordered view→click→purchase funnel
    (operators/behavior.py funnel_conversion) as a custom stateful
    operator: per-user state is the three first-qualifying-event
    timestamps, advanced monotonically as micro-batches arrive, and
    each update emits the user's current funnel stage (0 none … 3
    purchased).

    State is three integers per user — O(|users|), never event
    history. The operator assumes in-order delivery per user (the
    staged replay guarantees it; a production deployment would put a
    watermark-sorted buffer in front, or accept the standard
    streaming-funnel approximation where a late step-k event cannot
    retroactively qualify). The BATCH funnel_conversion is the
    definitional truth the equivalence test pins this against.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        t_view, t_click, t_purchase = (
            state.get if state.exists else (None, None, None)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        for ts, etype in zip(batch["ts"], batch["event_type"]):
            t = int(ts.value // 1000)  # epoch micros
            if etype == "view":
                if t_view is None:
                    t_view = t
            elif etype == "click":
                if t_view is not None and t > t_view and t_click is None:
                    t_click = t
            elif etype == "purchase":
                if t_click is not None and t > t_click and t_purchase is None:
                    t_purchase = t
        state.update((t_view, t_click, t_purchase))
        stage = (
            3 if t_purchase is not None
            else 2 if t_click is not None
            else 1 if t_view is not None
            else 0
        )
        yield pd.DataFrame({"user_id": [user_id], "stage": [stage]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, stage INT",
        stateStructType="t_view BIGINT, t_click BIGINT, t_purchase BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def merge_islands(
    islands: list[list[int]], gap_us: int
) -> list[list[int]]:
    """Merge (start, last, n, cents) islands/points whose gap is
    ≤ ``gap_us``. Pure, commutative, associative in the input SET —
    the property the sessionizer's order-independence (and therefore
    its closed-form batch oracle) rests on; pinned by a property test
    in tests/test_streaming.py over random interleavings."""
    out: list[list[int]] = []
    for isl in sorted(islands, key=lambda x: (x[0], x[1])):
        if out and isl[0] - out[-1][1] <= gap_us:
            m = out[-1]
            m[1] = max(m[1], isl[1])
            m[2] += isl[2]
            m[3] += isl[3]
        else:
            out.append(list(isl))
    return out


def sessionize_user_events(
    stream: DataFrame, *, gap_s: int = 14400, watermark: str = "1 hour"
) -> DataFrame:
    """ARBITRARY-state sessionizer (the flatMapGroupsWithState /
    transformWithState surface, VERDICT r6 item 5) via
    applyInPandasWithState + EventTimeTimeout: per-user sessions with
    idle gap ``gap_s``, each emitted exactly once as (user_id,
    session_start, session_end, n_events, value_cents) when the
    watermark proves the session can no longer grow.

    Design for deterministic, order-independent semantics — the
    property that makes a closed-form batch oracle possible
    (operators/streaming_audit.py ``streaming_session_state_audit``):

    - State is the user's set of OPEN islands (variable-length arrays
      — a genuinely custom state schema, not a fixed tuple): interval
      merging of a point set is commutative and associative, so the
      state after any batch is a pure function of the SET of
      non-late events seen, independent of arrival interleaving.
    - An island is finalized (emitted + evicted) only when
      ``last + gap < watermark``: every future non-late input has
      ``ts >= watermark > last + gap``, so it can neither extend the
      island from above, attach below it (it is entirely above it),
      nor land inside it — the island is provably complete. Emission
      may be DELAYED a batch (the engine's timeout check uses the
      batch's eviction watermark, a batch ahead of
      getCurrentWatermarkMs — SPARK-40925), but the emitted SET is
      exactly the gap-islands of the kept events, which is what the
      batch audit replays.
    - Late inputs (``ts < getCurrentWatermarkMs()``) are dropped in
      the update function as well as by the engine's own late filter,
      so the kept-set rule is explicit and testable rather than
      inherited.

    State is O(open islands per user) — bounded by gap/watermark, not
    by history; timeouts re-arm to the earliest open ``last + gap`` so
    idle users flush without new input. ``transformWithStateInPandas``
    would be the Spark-4 spelling, but its state-server protocol needs
    google.protobuf, broken in this container (COVERAGE.md) —
    applyInPandasWithState is the supported arbitrary-state API here.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_s * 1_000_000

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        wm_us = state.getCurrentWatermarkMs() * 1000
        islands: list[list[int]] = []
        if state.exists:
            starts, lasts, ns, cents = state.get
            islands = [list(t) for t in zip(starts, lasts, ns, cents)]
        for pdf in pdfs:
            for ts, val in zip(pdf["ts"], pdf["value"]):
                t = int(ts.value // 1000)  # epoch micros
                if wm_us > 0 and t < wm_us:
                    continue  # late input — explicit drop (see docstring)
                islands.append([t, t, 1, int(round(float(val) * 100))])
        merged = merge_islands(islands, gap_us)
        closed = wm_us > 0
        done = [m for m in merged if closed and m[1] + gap_us < wm_us]
        live = [m for m in merged if not (closed and m[1] + gap_us < wm_us)]
        if live:
            state.update(
                (
                    [m[0] for m in live],
                    [m[1] for m in live],
                    [m[2] for m in live],
                    [m[3] for m in live],
                )
            )
            timeout_ms = (min(m[1] for m in live) + gap_us) // 1000
            state.setTimeoutTimestamp(
                max(timeout_ms, state.getCurrentWatermarkMs() + 1)
            )
        else:
            state.remove()
        if done:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(done),
                    "session_start": [
                        pd.Timestamp(m[0], unit="us") for m in done
                    ],
                    "session_end": [
                        pd.Timestamp(m[1], unit="us") for m in done
                    ],
                    "n_events": [m[2] for m in done],
                    "value_cents": [m[3] for m in done],
                }
            )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id BIGINT, session_start TIMESTAMP, "
                "session_end TIMESTAMP, n_events BIGINT, value_cents BIGINT"
            ),
            stateStructType=(
                "starts ARRAY<BIGINT>, lasts ARRAY<BIGINT>, "
                "ns ARRAY<BIGINT>, cents ARRAY<BIGINT>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
