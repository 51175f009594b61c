"""Streaming tests: deterministic replay (AvailableNow over staged
files) + stream-batch equivalence against the oracled batch window
queries (SURVEY.md §7 hard part a: no wall-clock dependence)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataextractor_spark.pins import pin
from dataextractor_spark.registry import load_all
from dataextractor_spark.streaming import (
    events_stream,
    run_available_now,
    session_aggregate,
    sliding_aggregate,
    stage_stream_input,
    tumbling_aggregate,
)
from dataextractor_spark.streaming.windows import running_user_totals
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    stage_stream_input(spark, SF_SMALL, str(d / "input"), n_chunks=6)
    return d


def _normalized(df, sort_cols):
    return [tuple(r) for r in df.orderBy(*sort_cols).collect()]


def test_tumbling_stream_equals_batch(spark, staged):
    """Append-mode tumbling windows replayed over the full input must
    equal the batch time_tumbling_window registry query (same
    expressions, same data)."""
    out = run_available_now(
        tumbling_aggregate(events_stream(spark, str(staged / "input"))),
        query_name="t_tumbling",
        output_mode="append",
        checkpoint_dir=str(staged / "ckpt_tumbling"),
    ).filter(F.col("event_type") != "sentinel")
    batch = load_all()["time_tumbling_window"].fn(spark, SF_SMALL)
    assert _normalized(out, ["window_start", "event_type"]) == _normalized(
        batch, ["window_start", "event_type"]
    )


def test_sliding_stream_equals_batch(spark, staged):
    out = run_available_now(
        sliding_aggregate(events_stream(spark, str(staged / "input"))),
        query_name="t_sliding",
        output_mode="append",
        checkpoint_dir=str(staged / "ckpt_sliding"),
    ).filter(F.col("window_start") < "2024-05")
    batch = load_all()["time_sliding_window"].fn(spark, SF_SMALL)
    assert _normalized(out, ["window_start"]) == _normalized(batch, ["window_start"])


def test_session_stream_equals_batch(spark, staged):
    out = run_available_now(
        session_aggregate(events_stream(spark, str(staged / "input"))),
        query_name="t_session",
        output_mode="append",
        checkpoint_dir=str(staged / "ckpt_session"),
    ).filter(F.col("user_id") >= 0)
    batch = load_all()["time_session_window"].fn(spark, SF_SMALL)
    assert _normalized(out, ["user_id", "session_start"]) == _normalized(
        batch, ["user_id", "session_start"]
    )


def test_stateful_running_totals(spark, staged):
    """applyInPandasWithState: final per-user state after full replay
    equals the batch per-user aggregate."""
    out = run_available_now(
        running_user_totals(events_stream(spark, str(staged / "input"))),
        query_name="t_state",
        output_mode="update",
        checkpoint_dir=str(staged / "ckpt_state"),
    ).filter(F.col("user_id") >= 0)
    # update mode re-emits rows over batches → keep each user's LAST
    # (max n_events) emission as final state
    final = (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    batch = (
        load_all()["time_user_activity"]
        .fn(spark, SF_SMALL)
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
    got = {r.user_id: r.n_events for r in final.collect()}
    want = {r.user_id: r.n_events for r in batch.collect()}
    assert got == want


def test_incremental_progress(spark, staged):
    """The staged stream really is incremental: with
    maxFilesPerTrigger=1 an AvailableNow run executes multiple
    micro-batches, not one mega-batch."""
    stream = tumbling_aggregate(events_stream(spark, str(staged / "input")))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_progress")
        .outputMode("append")
        .option("checkpointLocation", str(staged / "ckpt_progress"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 7  # one per staged file (chunks + sentinel)


def test_stream_static_join(spark, staged):
    """Stream-static enrichment: streaming events joined to the static
    customer dim must equal the batch join_stream_dim_enrich query."""
    from dataextractor_spark.catalog import load_table

    c = F.broadcast(load_table(spark, SF_SMALL, "customer"))
    stream = events_stream(spark, str(staged / "input"))
    joined = (
        stream.join(c, stream.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    out = run_available_now(
        joined,
        query_name="t_streamdim",
        output_mode="complete",
        checkpoint_dir=str(staged / "ckpt_streamdim"),
    ).filter(F.col("event_type") != "sentinel")
    batch = load_all()["join_stream_dim_enrich"].fn(spark, SF_SMALL)
    assert _normalized(out, ["c_mktsegment", "event_type"]) == _normalized(
        batch, ["c_mktsegment", "event_type"]
    )


def test_foreachbatch_partition_overwrite_idempotent(spark, staged, tmp_path):
    """foreachBatch dynamic partition overwrite: replaying the whole
    stream into the same sink leaves row counts unchanged (the A18
    idempotent-full-load property, streaming edition)."""
    from dataextractor_spark.streaming.sinks import partition_overwrite_sink

    out = str(tmp_path / "lake")

    def run(ck):
        stream = events_stream(spark, str(staged / "input")).withColumn(
            "dt", F.date_format("ts", "yyyy-MM-dd")
        )
        q = (
            stream.writeStream.foreachBatch(partition_overwrite_sink(out, ["dt"]))
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("ck1")
    n1 = spark.read.parquet(out).count()
    run("ck2")  # fresh checkpoint → full REPLAY into the same sink
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0
    # partitioned layout really materialized
    import os
    assert any(p.startswith("dt=") for p in os.listdir(out))


def test_stream_stream_join(spark, staged):
    """Stream-stream interval join: purchases following clicks by the
    same user within 1 hour — both sides watermarked, join condition
    time-bounded so state is evictable. Verified against the identical
    batch join."""
    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"), F.col("value").alias("p_value"),
        )
        return clicks, buys

    s = events_stream(spark, str(staged / "input"))
    sc, sp = sides(s)
    joined = sc.withWatermark("c_ts", "1 hour").join(
        sp.withWatermark("p_ts", "1 hour"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("c_id", "p_id", "p_value")
    out = run_available_now(
        joined,
        query_name="t_ss_join",
        output_mode="append",
        checkpoint_dir=str(staged / "ckpt_ssjoin"),
    )
    from dataextractor_spark.catalog import load_table
    b = load_table(spark, SF_SMALL, "events")
    bc, bp = sides(b)
    batch = bc.join(
        bp,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("c_id", "p_id", "p_value")
    assert _normalized(out, ["c_id", "p_id"]) == _normalized(batch, ["c_id", "p_id"])


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming dedup contract: replaying the event chunks PLUS a
    trailing file that re-delivers the newest 150 events must emit
    every event_id exactly once (re-deliveries are either suppressed
    by dedup state or discarded as late — both exactly-once)."""
    from dataextractor_spark.catalog import load_table
    from dataextractor_spark.streaming import dedup_events_stream

    d = str(tmp_path / "input")
    stage_stream_input(spark, SF_SMALL, d, n_chunks=4, with_sentinel=False)
    events = load_table(spark, SF_SMALL, "events")
    import time as _t

    _t.sleep(0.05)
    redelivered = events.orderBy(F.col("ts").desc(), "event_id").limit(150)
    redelivered.select(*events.columns).coalesce(1).write.mode("append").parquet(d)

    out = run_available_now(
        dedup_events_stream(events_stream(spark, d)),
        query_name="t_dedup",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt_dedup"),
    )
    got = sorted(r.event_id for r in out.select("event_id").collect())
    want = sorted(r.event_id for r in events.select("event_id").collect())
    assert got == want


def test_events_replay_datasource_full_drain(spark):
    """Custom Python streaming source: row-position offsets drain the
    whole fixture in deterministic micro-batches, and the streamed
    content equals the batch table exactly."""
    import time

    from pyspark.sql import functions as F

    from dataextractor_spark.catalog import load_table
    from dataextractor_spark.sources.events_stream import register
    from tests.conftest import SF_SMALL

    register(spark)
    df = (
        spark.readStream.format("events_replay")
        .option("path", SF_SMALL + "/events.parquet")
        .option("batch_rows", "300")
        .load()
    )
    q = df.writeStream.format("memory").queryName("ev_replay_t").start()
    batch = load_table(spark, SF_SMALL, "events")
    expected = batch.count()
    deadline = time.time() + 120
    while time.time() < deadline and spark.table("ev_replay_t").count() < expected:
        time.sleep(0.5)
    q.stop()
    got = spark.table("ev_replay_t")
    assert got.count() == expected
    assert got.select("event_id").distinct().count() == expected
    # content equality: value sum and timestamp range match the batch
    # table (ts_ns is epoch-nanos; catalog converts via micros)
    b = batch.agg(
        F.round(F.sum("value"), 2).alias("s"),
        F.expr(
            "min(timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts))"
        ).alias("lo"),
        F.expr(
            "max(timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts))"
        ).alias("hi"),
    ).first()
    s = got.agg(
        F.round(F.sum("value"), 2).alias("s"),
        F.min(F.expr("ts_ns div 1000")).alias("lo"),
        F.max(F.expr("ts_ns div 1000")).alias("hi"),
    ).first()
    assert (b.s, b.lo, b.hi) == (s.s, s.lo, s.hi)


def test_streaming_funnel_equals_batch(spark, staged):
    """The stateful streaming funnel's final per-user stages must
    reproduce the batch funnel_conversion counts exactly: users at
    stage ≥1 == n_view, ≥2 == n_click, ==3 == n_purchase (in-order
    staged replay; sentinel user filtered)."""
    from dataextractor_spark.streaming.windows import funnel_user_stage

    out = run_available_now(
        funnel_user_stage(events_stream(spark, str(staged / "input"))),
        query_name="t_funnel_stage",
        output_mode="update",
        checkpoint_dir=str(staged / "ckpt_funnel"),
    )
    # update mode re-emits per micro-batch; stage is monotone, so the
    # user's final stage is the max emitted
    final = (
        out.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(F.max("stage").alias("stage"))
        .collect()
    )
    n1 = sum(1 for r in final if r.stage >= 1)
    n2 = sum(1 for r in final if r.stage >= 2)
    n3 = sum(1 for r in final if r.stage >= 3)
    batch = load_all()["funnel_conversion"].fn(spark, SF_SMALL).first()
    assert (n1, n2, n3) == (batch.n_view, batch.n_click, batch.n_purchase)


def test_late_discard_audit_matches_streaming_engine(spark, tmp_path):
    """The oracled batch watermark audit (streaming_late_discard_audit)
    must agree with the REAL streaming engine: stage the deterministic
    arrival replay as one file per micro-batch, run an actual
    readStream → withWatermark → tumbling aggregation in append mode,
    and assert the engine's emitted per-window counts equal the
    audit's per-window kept counts — including ≥1 genuinely DROPPED
    straggler, so the discard accounting is exercised, not vacuous."""
    from dataextractor_spark.catalog import load_table
    from dataextractor_spark.operators.streaming_audit import (
        _batch_watermarks,
        _with_arrival,
        stage_arrival_replay,
    )

    # first week of sf0.001 ≈ 30 micro-batches, contains two straggler
    # redeliveries whose 1-day windows close before they arrive
    events = load_table(spark, SF_SMALL, "events").filter(
        F.col("ts") < F.lit("2024-01-08").cast("timestamp")
    )

    # batch-audit side: same construction as the registry query
    arr = _with_arrival(events)
    wm = _batch_watermarks(arr).select("batch_id", "wm_late_ts")
    ev = (
        arr.join(F.broadcast(wm), "batch_id")
        .withColumn(
            "win_end", F.expr("timestampadd(DAY, 1, date_trunc('DAY', ts))")
        )
    )
    kept_pred = F.col("wm_late_ts").isNull() | (
        F.col("win_end") > F.col("wm_late_ts")
    )
    n_total = ev.count()
    kept = ev.filter(kept_pred)
    n_kept = kept.count()
    assert n_total - n_kept >= 1, "fixture must exercise the discard path"
    expected = sorted(
        (r.window_start, r.n)
        for r in kept.groupBy(F.date_trunc("day", "ts").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
        .collect()
    )

    # engine side: real file-source replay of the same arrival model
    input_dir = str(tmp_path / "arrival_input")
    stage_arrival_replay(spark, events, input_dir)
    agg = (
        events_stream(spark, input_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
        )
    )
    out = run_available_now(
        agg,
        query_name="t_wm_audit",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt_wm_audit"),
    ).filter(F.col("window_start") < "2024-02")  # drop sentinel window
    # a straggler in the one-batch gap between the late-filter and
    # eviction watermarks re-opens its evicted window, so the engine
    # may emit a window TWICE — sum emissions per window (the audit's
    # "kept" definition) before comparing
    got = sorted(
        (r.window_start, r.n)
        for r in out.groupBy("window_start")
        .agg(F.sum("n").cast("long").alias("n"))
        .collect()
    )
    assert got == expected


def test_dedup_replay_audit_matches_streaming_engine(spark, tmp_path):
    """The oracled redelivery audit (streaming_dedup_replay_audit)
    must agree with the REAL dropDuplicatesWithinWatermark: stage the
    duplicated-copy replay as one file per micro-batch, run the actual
    readStream dedup pipeline, and assert the engine's emitted
    (event_id, ts) multiset equals the audit's kept set — with every
    duplicate fate (suppressed, late-dropped, RE-EMITTED leak)
    non-vacuously present in the fixture slice."""
    from dataextractor_spark.catalog import load_table
    from dataextractor_spark.operators.streaming_audit import (
        WM_DELAY_S,
        _batch_watermarks,
        _with_redelivery,
        stage_arrival_replay,
    )
    from dataextractor_spark.streaming import dedup_events_stream

    events = load_table(spark, SF_SMALL, "events").filter(
        F.col("ts") < F.lit("2024-01-15").cast("timestamp")
    )

    # model side: same construction as the registry query (rule: both
    # the late filter and state visibility use the PREVIOUS batch's
    # watermark — SPARK-40925 two-watermark semantics)
    both = _with_redelivery(events)
    wm = _batch_watermarks(both).select("batch_id", "wm_late_ts")
    cl = both.join(F.broadcast(wm), "batch_id")
    o2 = cl.filter(F.col("copy_no") == 0).select(
        "event_id",
        F.col("ts").alias("ts1"),
        F.col("wm_late_ts").alias("wm1"),
    )
    d2 = cl.filter(F.col("copy_no") == 1).select(
        "event_id",
        F.col("ts").alias("ts2"),
        F.col("wm_late_ts").alias("wm2"),
    )
    orig_kept = F.col("wm1").isNull() | (F.col("ts1") >= F.col("wm1"))
    state_alive = F.col("wm2").isNull() | (
        F.col("wm2") <= F.expr(f"timestampadd(SECOND, {WM_DELAY_S}, ts1)")
    )
    dup_late = F.col("wm2").isNotNull() & (F.col("ts2") < F.col("wm2"))
    j = o2.join(d2, "event_id", "left").withColumn(
        "dup_cls",
        F.when(F.col("ts2").isNull(), F.lit(None).cast("string"))
        .when(
            orig_kept,
            F.when(dup_late, F.lit("late"))
            .when(state_alive, F.lit("suppressed"))
            .otherwise(F.lit("reemitted")),
        )
        .otherwise(
            F.when(dup_late, F.lit("late")).otherwise(F.lit("promoted"))
        ),
    ).transform(pin)
    fates = {
        r.dup_cls: r.n
        for r in j.groupBy("dup_cls").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert fates.get("suppressed", 0) >= 1, fates
    assert fates.get("late", 0) >= 1, fates
    assert fates.get("reemitted", 0) >= 1, fates
    expected = sorted(
        [(r.event_id, r.ts1) for r in j.filter(orig_kept).collect()]
        + [
            (r.event_id, r.ts2)
            for r in j.filter(
                F.col("dup_cls").isin("reemitted", "promoted")
            ).collect()
        ]
    )

    # engine side: real file-source replay of the duplicated arrivals
    input_dir = str(tmp_path / "redeliv_input")
    stage_arrival_replay(spark, events, input_dir, arrivals=both)
    out = run_available_now(
        dedup_events_stream(events_stream(spark, input_dir)),
        query_name="t_dedup_replay",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt_dedup_replay"),
    ).filter(F.col("event_id") >= 0)  # drop the sentinel row
    got = sorted((r.event_id, r.ts) for r in out.select("event_id", "ts").collect())
    assert got == expected


def test_join_state_audit_matches_streaming_engine(spark, tmp_path):
    """The oracled stream-stream join audit (streaming_join_state_audit)
    must agree with the REAL engine: stage the arrival replay, run an
    actual twin readStream watermarked interval join, and assert the
    emitted (c_id, p_id) set equals the audit's 'matched' class — with
    at least one genuinely LOST pair in the fixture so the loss
    accounting is exercised. Uses sf0.01 (sf0.001 has no late pairs).
    Passing also re-confirms the buffer-eviction theorem in the query
    docstring: if eviction ever outran the late filter, the engine
    would emit fewer pairs than the model's matched set."""
    import dataextractor_spark.operators.streaming_audit as SA

    sf = "/root/testdata/sf0.01"
    from dataextractor_spark.catalog import load_table

    events = load_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value", "props", "ts"
    )
    # model side: same construction as the registry query
    arr = SA._with_arrival(events)
    wm = SA._batch_watermarks(arr).select("batch_id", "wm_late_ts")
    ann = arr.join(F.broadcast(wm), "batch_id")
    c = ann.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("wm_late_ts").alias("c_wm"),
    )
    p = ann.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("wm_late_ts").alias("p_wm"),
    )
    c_end = F.expr(f"timestampadd(SECOND, {SA.JOIN_WINDOW_S}, c_ts)")
    pairs = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= c_end),
    )
    c_late = F.col("c_wm").isNotNull() & (F.col("c_ts") < F.col("c_wm"))
    p_late = F.col("p_wm").isNotNull() & (F.col("p_ts") < F.col("p_wm"))
    matched = pairs.filter(~c_late & ~p_late)
    n_lost = pairs.count() - matched.count()
    assert n_lost >= 1, "fixture must exercise the loss path"
    expected = sorted((r.c_id, r.p_id) for r in matched.collect())

    # engine side: twin readStream over one staged arrival replay
    input_dir = str(tmp_path / "ssj_input")
    SA.stage_arrival_replay(spark, events, input_dir)
    s = events_stream(spark, input_dir)
    sc = s.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    sp = s.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = sc.withWatermark("c_ts", "1 hour").join(
        sp.withWatermark("p_ts", "1 hour"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (
            F.col("p_ts")
            <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")
        ),
    ).select("c_id", "p_id")
    out = run_available_now(
        joined,
        query_name="t_ssj_audit",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt_ssj_audit"),
    )
    got = sorted((r.c_id, r.p_id) for r in out.collect())
    assert got == expected


def test_session_state_audit_matches_streaming_engine(spark, tmp_path):
    """The oracled arbitrary-state sessionizer audit
    (streaming_session_state_audit) must agree with the REAL
    applyInPandasWithState pipeline: stage the deterministic arrival
    replay, run sessionize_user_events (EventTimeTimeout, custom
    array-valued state) end-to-end, and assert the engine's emitted
    (user, start, end, n, cents) multiset equals the batch
    session_table exactly — with the late-drop, multi-event-session,
    and singleton populations all non-vacuously present."""
    from dataextractor_spark.catalog import load_table
    from dataextractor_spark.operators.streaming_audit import (
        SESSION_GAP_S,
        _batch_watermarks,
        _with_arrival,
        sessions_from,
        stage_arrival_replay,
    )
    from dataextractor_spark.streaming.windows import sessionize_user_events

    events = load_table(spark, SF_SMALL, "events").filter(
        F.col("ts") < F.lit("2024-01-11").cast("timestamp")
    )

    # batch-audit side: same construction as the registry query
    sess = sessions_from(events).cache()
    expected = sorted(
        (r.user_id, r.start_us, r.end_us, r.n, r.cents)
        for r in sess.collect()
    )
    assert any(t[3] > 1 for t in expected), "need a multi-event session"
    assert any(t[3] == 1 for t in expected), "need a singleton session"
    arr = _with_arrival(events)
    wm = _batch_watermarks(arr).select("batch_id", "wm_late_ts")
    n_late = (
        arr.join(F.broadcast(wm), "batch_id")
        .filter(
            F.col("wm_late_ts").isNotNull()
            & (F.col("ts") < F.col("wm_late_ts"))
        )
        .count()
    )
    assert n_late >= 1, "fixture must exercise the late-drop path"
    assert sum(t[3] for t in expected) == events.count() - n_late

    # engine side: real file-source replay through the stateful op
    input_dir = str(tmp_path / "session_input")
    stage_arrival_replay(spark, events, input_dir)
    out = run_available_now(
        sessionize_user_events(
            events_stream(spark, input_dir), gap_s=SESSION_GAP_S
        ),
        query_name="t_session_audit",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt_session_audit"),
    ).filter(F.col("user_id") >= 0)  # sentinel never finalizes anyway
    got = sorted(
        (r.user_id, r.start_us, r.end_us, r.n_events, r.value_cents)
        for r in out.select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            F.unix_micros("session_end").alias("end_us"),
            "n_events",
            "value_cents",
        ).collect()
    )
    assert got == expected


def test_merge_islands_order_independent():
    """The sessionizer's closed-form-oracle argument rests on island
    merging being a pure function of the point SET. Pin it: for random
    point sets, every random partition of the points into 'batches'
    (arrival interleavings), folded through merge_islands exactly as
    the update function does, yields identical islands — and they
    equal the single-shot gaps-and-islands of the sorted set."""
    import random

    from dataextractor_spark.streaming.windows import merge_islands

    rng = random.Random(0xC0FFEE)
    gap = 50
    for _case in range(200):
        pts = [rng.randrange(0, 1000) for _ in range(rng.randrange(1, 40))]
        ref = merge_islands([[p, p, 1, p % 7] for p in pts], gap)
        # brute-force islands of the sorted multiset
        exp = []
        for p in sorted(pts):
            if exp and p - exp[-1][1] <= gap:
                exp[-1][1] = p
                exp[-1][2] += 1
                exp[-1][3] += p % 7
            else:
                exp.append([p, p, 1, p % 7])
        assert ref == exp
        # arbitrary interleaving: shuffle, split into batches, fold
        shuffled = pts[:]
        rng.shuffle(shuffled)
        state = []
        while shuffled:
            k = rng.randrange(1, len(shuffled) + 1)
            batch, shuffled = shuffled[:k], shuffled[k:]
            state = merge_islands(
                state + [[p, p, 1, p % 7] for p in batch], gap
            )
        assert state == exp
