"""Streaming surface tests: the batch aggregations are the oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.plans import llm_demo
from sales_data_etl_pipeline_spark.streaming import events as streaming

SF_DIR = "/root/testdata/sf0.001"


def test_windowed_counts_matches_batch(spark):
    stream = streaming.stream_events(spark, SF_DIR)
    assert stream.isStreaming
    result = streaming.run_stream_to_memory(
        streaming.windowed_counts(stream), "t_windowed", output_mode="complete"
    )
    got = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in result.collect()
    }
    batch = llm_demo.events_windowed_agg(spark, SF_DIR)
    want = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_session_counts_runs_and_covers_all_events(spark):
    stream = streaming.stream_events(spark, SF_DIR)
    result = streaming.run_stream_to_memory(
        streaming.session_counts(stream), "t_sessions", output_mode="complete"
    )
    total = result.agg(F.sum("n_events")).first()[0]
    batch_total = llm_demo._events(spark, SF_DIR).count()
    assert total == batch_total
    # sessions are disjoint per user and each holds ≥1 event
    assert result.filter(F.col("n_events") < 1).count() == 0


def test_stream_to_parquet_sink(spark, tmp_path):
    stream = streaming.stream_events(spark, SF_DIR)
    agg = streaming.windowed_counts(stream)
    q = streaming.stream_to_parquet(
        agg,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode emits only watermark-closed windows; with a bounded file
    # source the final window may be withheld — check files exist & schema
    out = spark.read.parquet(str(tmp_path / "out"))
    assert set(out.columns) == {"window_start", "event_type", "n_events", "total_value"}


def test_stream_to_parquet_stateless_matches_batch(spark, tmp_path):
    """End-to-end exactly-once file sink on a stateless transform (the
    bronze-ingestion shape): every input row reaches the parquet dir —
    no watermark withholding — so counts and values must equal the batch
    run of the same projection."""
    stream = streaming.stream_events(spark, SF_DIR).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = streaming.stream_to_parquet(
        stream,
        str(tmp_path / "bronze"),
        str(tmp_path / "bronze_ckpt"),
        output_mode="append",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(str(tmp_path / "bronze"))
    batch = llm_demo._events(spark, SF_DIR).select(
        "event_id", "user_id", "event_type", "value"
    )
    assert out.count() == batch.count()
    # exactly-once content parity, not just cardinality
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_stateful_user_totals(spark):
    stream = streaming.stream_events(spark, SF_DIR)
    result = streaming.run_stream_to_memory(
        streaming.stateful_user_totals(stream), "t_stateful", output_mode="update"
    )
    # with one input batch, the final state per user equals the batch agg
    batch = (
        llm_demo._events(spark, SF_DIR)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    got = {
        (r.user_id, r.n_events, r.total_value)
        for r in result.select(
            "user_id", "n_events", F.round("total_value", 2).alias("total_value")
        ).collect()
    }
    want = {(r.user_id, r.n_events, r.total_value) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_dedup_within_watermark_bounded_state(spark):
    """A doubled stream deduped on event_id collapses back to the
    original row count (exact streaming dedup, state bounded by the
    watermark horizon)."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    sf_dir = "/root/testdata/sf0.001"
    stream = streaming.stream_events(spark, sf_dir)
    doubled = stream.unionByName(stream)
    out = streaming.run_stream_to_memory(
        streaming.dedup_within_watermark(doubled, watermark="24 hours")
        .select("event_id"),
        "t_stream_dedup",
        output_mode="append",
    )
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    got = out.count()
    assert got == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Two-micro-batch run proving the watermark actually drops late
    rows: batch 1 advances event time to 12:00 (watermark 11:50 at a
    10-minute delay); batch 2 delivers a 10:30 straggler. The finalized
    10:00 window must hold only batch 1's three events — a broken
    watermark (e.g. the ns-vs-µs 1000× time compression) would either
    admit the straggler (n=4) or re-emit the window."""
    import datetime as dt

    ddl = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    base = dt.datetime(2024, 3, 1, 10, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(
            [
                (i, base + dt.timedelta(minutes=m), 1, "x", 1.0, "{}")
                for i, m in rows
            ],
            ddl,
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))

    write_batch([(1, 0), (2, 3), (3, 5), (4, 120)])
    stream = (
        spark.readStream.format("parquet").schema(ddl).load(str(tmp_path / "src"))
    )
    agg = streaming.windowed_counts(stream, window="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 → watermark 11:50
        write_batch([(5, 30), (6, 125), (7, 126)])  # 10:30 is late
        q.processAllAvailable()  # batch 2: straggler dropped
    finally:
        q.stop()
    rows = [
        (str(r.window_start), r.n_events)
        for r in spark.table("t_late").collect()
    ]
    # exactly one finalized window: 10:00 with batch 1's three events;
    # the 12:00 window stays open (watermark 11:55 < 13:00) and the
    # late 10:30 row is nowhere
    assert rows == [(str(base), 3)]


def test_session_funnel_two_batch_late_step_dropped(spark, tmp_path):
    """Two-micro-batch session-funnel run: batch 1 gives user 1 a
    view→click session and advances the watermark past it; batch 2
    delivers the user's purchase LATE (behind the watermark) plus a
    fresh event that closes the session. The finalized session must
    show t2 (purchase) NULL — a broken watermark would complete the
    funnel with the late row."""
    import datetime as dt

    ddl = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    base = dt.datetime(2024, 3, 1, 10, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(
            [
                (i, base + dt.timedelta(minutes=m), u, e, 1.0, "{}")
                for i, m, u, e in rows
            ],
            ddl,
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))

    # user 1: view 10:00, click 10:05; user 2 at 12:00 pushes the
    # watermark to 11:50 (10-minute delay)
    write_batch([(1, 0, 1, "view"), (2, 5, 1, "click"), (3, 120, 2, "view")])
    stream = (
        spark.readStream.format("parquet")
        .schema(ddl)
        .load(str(tmp_path / "src"))
    )
    agg = streaming.session_funnel(
        stream, ("view", "click", "purchase"), gap="30 minutes",
        watermark="10 minutes",
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sess_funnel")
        .start()
    )
    try:
        q.processAllAvailable()
        # 10:10 purchase is behind the 11:50 watermark → dropped;
        # 14:00 advances the watermark to 13:50, finalizing sessions
        write_batch([(4, 10, 1, "purchase"), (5, 240, 2, "view")])
        q.processAllAvailable()
    finally:
        q.stop()
    u1 = [
        r for r in spark.table("t_sess_funnel").collect() if r.user_id == 1
    ]
    assert len(u1) == 1
    r = u1[0]
    assert r.t0 == base and r.t1 == base + dt.timedelta(minutes=5)
    assert r.t2 is None


def test_stateful_user_totals_tws_matches_batch(spark):
    pytest.importorskip(
        "google.protobuf", reason="TWS state protocol needs protobuf"
    )
    stream = streaming.stream_events(spark, SF_DIR)
    result = streaming.run_stream_to_memory(
        streaming.stateful_user_totals_tws(stream),
        "t_stateful_tws",
        output_mode="update",
    )
    batch = (
        llm_demo._events(spark, SF_DIR)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    got = {
        (r.user_id, r.n_events, r.total_value)
        for r in result.select(
            "user_id", "n_events", F.round("total_value", 2).alias("total_value")
        ).collect()
    }
    want = {(r.user_id, r.n_events, r.total_value) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stream_stream_join_matches_batch(spark):
    """The stream-stream interval join equals the batch join pair set."""
    got = {
        (r.purchase_event_id, r.view_event_id)
        for r in streaming.run_stream_to_memory(
            streaming.purchases_with_recent_views(spark, SF_DIR),
            "t_ssjoin",
            output_mode="append",
        ).collect()
    }
    ev = llm_demo._events(spark, SF_DIR)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"),
        F.col("user_id").alias("vuser"),
        F.col("ts").alias("vts"),
    )
    want = {
        (r.pid, r.vid)
        for r in p.join(
            v,
            (p.user_id == v.vuser)
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 60 MINUTES"))
            & (F.col("vts") <= F.col("pts")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: a second query started on the SAME
    checkpoint must resume from the recorded offsets — batch 1's file is
    not reprocessed, batch 2's file is picked up, and the sink holds
    each input row exactly once."""
    ddl = "event_id long, value double"

    def write_batch(rows):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / "src"))

    def run_once():
        stream = (
            spark.readStream.format("parquet")
            .schema(ddl)
            .load(str(tmp_path / "src"))
        )
        q = streaming.stream_to_parquet(
            stream,
            str(tmp_path / "sink"),
            str(tmp_path / "ckpt"),
            output_mode="append",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_batch([(1, 1.0), (2, 2.0), (3, 3.0)])
    run_once()
    write_batch([(4, 4.0), (5, 5.0)])
    run_once()  # restart from the same checkpoint

    out = spark.read.parquet(str(tmp_path / "sink"))
    assert out.count() == 5
    assert {r.event_id for r in out.collect()} == {1, 2, 3, 4, 5}


def test_ephemeral_checkpoint_dir_ignores_missing_override(monkeypatch, tmp_path):
    """An override naming a missing directory falls back to the
    /dev/shm-or-None path instead of failing inside mkdtemp; an
    existing override is used as given."""
    import os
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_BASE", str(tmp_path / "gone"))
    got = streaming._ephemeral_checkpoint_dir("q")
    if os.path.isdir("/dev/shm"):
        assert os.path.dirname(got) == "/dev/shm"
        shutil.rmtree(got)
    else:
        assert got is None
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_BASE", str(tmp_path))
    assert os.path.dirname(streaming._ephemeral_checkpoint_dir("q")) == str(tmp_path)
