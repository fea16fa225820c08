"""Write-side scale primitives: partitioned parquet layout with partition
pruning on re-read, and update output mode for streaming aggregations."""

from __future__ import annotations

import pyspark.sql.functions as F

from spark_ibm_mq_spark.plans import formatted_explain
from spark_ibm_mq_spark.streaming.readers import events_file_stream
from spark_ibm_mq_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """partitionBy layout → reading one partition touches one directory:
    PartitionFilters in the scan, not a full-data filter. The physical
    layout decision that makes 100 TB date-range queries cheap."""
    out = str(tmp_path / "by_type")
    ev = load_table(spark, SF_DIR, "events")
    ev.write.partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    text = formatted_explain(back)
    assert "PartitionFilters" in text and "purchase" in text, text[:1500]
    expected = ev.filter(F.col("event_type") == "purchase").count()
    assert back.count() == expected > 0


def test_update_output_mode_emits_changed_groups(spark, tmp_path):
    """Update mode re-emits only groups changed in each micro-batch — the
    middle ground between append (withheld until watermark) and complete
    (everything every batch)."""
    src = str(tmp_path / "in")
    spark.createDataFrame([(i % 3, float(i)) for i in range(30)], "k bigint, v double") \
        .coalesce(1).write.parquet(src)
    q = (
        spark.readStream.schema("k bigint, v double")
        .parquet(src)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 4).alias("s"))
        .writeStream.format("memory")
        .queryName("updsink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.k: (r.n, r.s) for r in spark.sql("select * from updsink").collect()}
    assert rows == {0: (10, 135.0), 1: (10, 145.0), 2: (10, 155.0)}


def _mk_df(spark, lo, hi):
    return spark.createDataFrame(
        [(1_700_000_000_000 + i, i, f'{{"n": {i}}}') for i in range(lo, hi)],
        "put_ms bigint, seq_no bigint, value string",
    )


def test_mq_sink_writes_ordered_messages(spark, tmp_path):
    from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker
    from spark_ibm_mq_spark.streaming.mq_sink import MQWritebackSink

    sink = MQWritebackSink(str(tmp_path), "OUT.Q")
    sink(_mk_df(spark, 0, 50), 0)
    broker = FakeMQBroker(str(tmp_path), "OUT.Q")
    msgs = broker.messages(0)
    assert [m["seq_no"] for m in msgs] == list(range(50))
    assert msgs[7]["body"] == '{"n": 7}'


def test_mq_sink_replay_of_committed_batch_is_noop(spark, tmp_path):
    from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker
    from spark_ibm_mq_spark.streaming.mq_sink import MQWritebackSink

    sink = MQWritebackSink(str(tmp_path), "OUT.Q")
    df = _mk_df(spark, 0, 20)
    sink(df, 0)
    sink(df, 0)  # Spark replays batch 0 after recovery
    sink(_mk_df(spark, 20, 30), 1)
    broker = FakeMQBroker(str(tmp_path), "OUT.Q")
    assert [m["seq_no"] for m in broker.messages(0)] == list(range(30))


def test_mq_sink_rolls_back_torn_batch(spark, tmp_path):
    """A crash mid-append leaves a pending marker; the retry must truncate
    the torn tail (backout) before re-putting, so no message appears twice."""
    import json
    import os

    from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker
    from spark_ibm_mq_spark.streaming.mq_sink import MQWritebackSink

    sink = MQWritebackSink(str(tmp_path), "OUT.Q")
    sink(_mk_df(spark, 0, 10), 0)
    qfile = os.path.join(str(tmp_path), "OUT.Q.jsonl")
    len_before = os.path.getsize(qfile)
    # simulate a torn batch 1: pending marker written, append half-finished,
    # process dies before the committed marker
    with open(os.path.join(str(tmp_path), "OUT.Q.sink_pending"), "w") as f:
        json.dump({"batch": 1, "len_before": len_before}, f)
    with open(qfile, "a") as f:
        f.write('{"put_ms": 1700000000010, "seq_no": 10, "body": "torn"}\n')
    sink(_mk_df(spark, 10, 25), 1)  # retry of batch 1
    broker = FakeMQBroker(str(tmp_path), "OUT.Q")
    msgs = broker.messages(0)
    assert [m["seq_no"] for m in msgs] == list(range(25))
    assert all(m["body"] != "torn" for m in msgs)


def test_mq_sink_orders_partitioned_batch_and_keeps_binary_bodies(spark, tmp_path):
    """The sink orders a batch by (put_ms, seq_no) whatever its partitioning
    (ties on put_ms, seq_no descending in input order, three partitions), a
    binary body goes on the queue as bytes that decode back, and an empty
    batch commits its id and puts nothing."""
    import os

    from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker
    from spark_ibm_mq_spark.streaming.mq_sink import MQWritebackSink

    rows = [
        (1_700_000_000_000 + i // 10, 10 - i % 10, f"msg {i} £".encode("cp037"))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "put_ms bigint, seq_no bigint, value binary").repartition(3)
    sink = MQWritebackSink(str(tmp_path), "OUT.Q")
    sink(df, 0)
    broker = FakeMQBroker(str(tmp_path), "OUT.Q")
    msgs = broker.messages(0)
    assert [(m["put_ms"], m["seq_no"]) for m in msgs] == sorted((r[0], r[1]) for r in rows)
    want = {(ms, seq): body.decode("cp037") for ms, seq, body in rows}
    assert all(broker.decode_body(m, "cp037") == want[(m["put_ms"], m["seq_no"])] for m in msgs)

    sink(df.limit(0), 1)
    assert broker.depth() == len(rows)
    with open(os.path.join(str(tmp_path), "OUT.Q.sink_committed")) as f:
        assert f.read().split() == ["0", "1"]
    assert not os.path.exists(os.path.join(str(tmp_path), "OUT.Q.sink_pending"))


def test_mq_relay_progress_counts_each_message_once(spark, tmp_path):
    """An ibmmq browse stream relayed through the sink reports, in progress
    `numInputRows`, each message it puts on OUT exactly once: the relay
    reads its batch in a single scan."""
    from spark_ibm_mq_spark.sources import FakeMQBroker, register_ibmmq
    from spark_ibm_mq_spark.streaming.mq_sink import MQWritebackSink

    total = 3_000
    inq = FakeMQBroker(str(tmp_path / "broker"), "IN")
    # runs of 7 messages share a put_ms, so the source repairs their seq
    inq.put_all((1_700_000_000_000 + i // 7, 1, f"m{i}") for i in range(total))
    register_ibmmq(spark)
    sink = MQWritebackSink(str(tmp_path / "broker"), "OUT")

    def relay(df, batch_id):
        sink(df.withColumn("put_ms", F.unix_millis(F.col("put_ts").cast("timestamp"))), batch_id)

    stream = (
        spark.readStream.format("ibmmq")
        .option("path", inq.path)
        .option("queue", "IN")
        .option("keepMessages", "true")
        .option("maxMessagesPerBatch", "1000")
        .load()
        .writeStream.foreachBatch(relay)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    input_rows = 0
    # availableNow runs one capped batch per start; restart until OUT is full
    for _ in range(5):
        q = stream.start()
        q.awaitTermination()
        input_rows += sum(int(p["numInputRows"]) for p in q.recentProgress)
        if sink.broker.depth() >= total:
            break
    assert sink.broker.depth() == total
    assert input_rows == total
