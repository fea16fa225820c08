"""M4 streaming tests: stateful seq-gap monitor (applyInPandasWithState),
telemetry listener (R14), and cross-batch state carry-over through real
streaming queries."""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import Window

from spark_ibm_mq_spark.streaming.monitor import MQTelemetryListener
from spark_ibm_mq_spark.streaming.readers import events_file_stream
import pytest

from spark_ibm_mq_spark.streaming.stateful import (
    seq_gap_monitor,
    seq_gap_monitor_tws,
    tws_runtime_available,
)

_TWS_SKIP = pytest.mark.skipif(
    not tws_runtime_available(),
    reason="transformWithStateInPandas state server needs protobuf at runtime "
    "(absent in this image); plan-construction coverage still runs",
)
from spark_ibm_mq_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _drain_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_seq_gap_monitor_matches_batch_lag(spark):
    """The stateful monitor over the stream finds exactly the gaps the
    batch lag() formulation finds."""
    ev = events_file_stream(spark, SF_DIR)
    _drain_to_memory(seq_gap_monitor(ev, threshold=50), "gapsink")
    got = {
        (r.user_id, r.prev_id, r.event_id, r.gap)
        for r in spark.sql("select * from gapsink").collect()
    }
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = load_table(spark, SF_DIR, "events").select(
        "user_id",
        F.lag("event_id").over(w).alias("prev_id"),
        "event_id",
        (F.col("event_id") - F.lag("event_id").over(w)).alias("gap"),
    ).filter(F.col("gap") >= 50)
    expected = {
        (r.user_id, r.prev_id, r.event_id, r.gap) for r in batch.collect()
    }
    assert got and got == expected, f"stateful={len(got)} batch={len(expected)}"


def test_seq_gap_monitor_chunk_spanning_group(spark, tmp_path):
    """A group whose rows span several Arrow record batches must be
    gap-scanned once over ALL its ids, not per chunk (ADVICE r5): with
    per-chunk sorting these deliberately interleaved ids would emit phantom
    gaps (e.g. 3→1000) and miss real ones."""
    ids = [1000, 1, 2, 3, 600, 4, 5, 6, 7, 8, 2000, 9, 10, 11, 12]
    src = tmp_path / "src"
    spark.createDataFrame(
        [(7, i) for i in ids], "user_id bigint, event_id bigint"
    ).coalesce(1).write.parquet(str(src))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "4")  # force the 15-row group across 4 chunks
        stream = (
            spark.readStream.schema("user_id bigint, event_id bigint")
            .parquet(str(src))
        )
        _drain_to_memory(seq_gap_monitor(stream, threshold=50), "gapsink_chunks")
    finally:
        spark.conf.set(key, prev)
    got = {
        (r.prev_id, r.event_id, r.gap)
        for r in spark.sql("select * from gapsink_chunks").collect()
    }
    assert got == {(12, 600, 588), (600, 1000, 400), (1000, 2000, 1000)}, got


def test_seq_gap_monitor_tws_plan_constructs(spark):
    """Analysis-time coverage that runs everywhere: the TWS plan builds
    against the streaming source and resolves to the declared output schema
    (runtime execution additionally needs protobuf — see _TWS_SKIP)."""
    ev = events_file_stream(spark, SF_DIR)
    df = seq_gap_monitor_tws(ev, threshold=50)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["user_id", "prev_id", "event_id", "gap"]


@_TWS_SKIP
def test_seq_gap_monitor_tws_matches_batch_lag(spark):
    """The transformWithStateInPandas form produces exactly the same gap set
    as the applyInPandasWithState form and the batch lag() formulation."""
    ev = events_file_stream(spark, SF_DIR)
    _drain_to_memory(seq_gap_monitor_tws(ev, threshold=50), "gapsink_tws")
    got = {
        (r.user_id, r.prev_id, r.event_id, r.gap)
        for r in spark.sql("select * from gapsink_tws").collect()
    }
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = load_table(spark, SF_DIR, "events").select(
        "user_id",
        F.lag("event_id").over(w).alias("prev_id"),
        "event_id",
        (F.col("event_id") - F.lag("event_id").over(w)).alias("gap"),
    ).filter(F.col("gap") >= 50)
    expected = {
        (r.user_id, r.prev_id, r.event_id, r.gap) for r in batch.collect()
    }
    assert got and got == expected, f"tws={len(got)} batch={len(expected)}"


@_TWS_SKIP
def test_gap_state_tws_carries_across_batches(spark, tmp_path):
    """Cross-batch (and cross-restart) state carry-over through the
    transformWithStateInPandas checkpointed ValueState."""
    d = str(tmp_path / "stream_in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, 10), (1, 11)], "user_id bigint, event_id bigint") \
        .coalesce(1).write.parquet(d)

    def run_once():
        stream = (
            spark.readStream.schema("user_id bigint, event_id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            seq_gap_monitor_tws(stream, threshold=500)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 0
    spark.createDataFrame([(1, 900)], "user_id bigint, event_id bigint") \
        .coalesce(1).write.mode("append").parquet(d)
    run_once()
    rows = spark.read.parquet(out).collect()
    assert [(r.user_id, r.prev_id, r.event_id, r.gap) for r in rows] == [(1, 11, 900, 889)]


def test_gap_state_carries_across_batches(spark, tmp_path):
    """A gap spanning a micro-batch boundary (and a query restart) is still
    detected — the lastSeqNo carry-over the reference keeps in receiver
    fields (IBMMQReceiver.java:266-267), here in checkpointed state."""
    d = str(tmp_path / "stream_in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, 10), (1, 11)], "user_id bigint, event_id bigint") \
        .coalesce(1).write.parquet(d)

    def run_once():
        stream = (
            spark.readStream.schema("user_id bigint, event_id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            seq_gap_monitor(stream, threshold=500)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 0
    # second wave arrives later; restarted query reloads per-user state
    spark.createDataFrame([(1, 900)], "user_id bigint, event_id bigint") \
        .coalesce(1).write.mode("append").parquet(d)
    run_once()
    rows = spark.read.parquet(out).collect()
    assert [(r.user_id, r.prev_id, r.event_id, r.gap) for r in rows] == [(1, 11, 900, 889)]


def test_telemetry_listener_collects_progress(spark):
    listener = MQTelemetryListener()
    spark.streams.addListener(listener)
    try:
        ev = events_file_stream(spark, SF_DIR)
        _drain_to_memory(ev.select("event_id"), "telemsink")
        deadline = time.monotonic() + 30
        while not listener.progress and time.monotonic() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert listener.progress, "no progress events captured"
    mdf = listener.metrics(spark)
    row = mdf.agg(F.sum("num_input_rows").alias("total")).collect()[0]
    assert row.total >= 1000  # sf0.001 events
    assert listener.started
    phases = ["latest_offset_ms", "wal_commit_ms", "add_batch_ms", "commit_offsets_ms"]
    assert set(phases) <= set(mdf.columns)
    # addBatch is one phase of triggerExecution, never longer than it
    assert all(r.add_batch_ms <= r.batch_duration_ms for r in mdf.collect())
