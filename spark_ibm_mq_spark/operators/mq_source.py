"""Driver-checkable queries over the `ibmmq` DataSource (SURVEY.md §7 M3).

A fake broker queue is materialized deterministically from the `events`
fixture (arrival order = (ts, event_id), put_ms = epoch_ms(ts),
seq_no = event_id, body = props), so both the batch reader and the
streaming reader produce rows that a plain SQL oracle over `events` can
reproduce — full value parity for the custom source, not just rows-only.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from spark_ibm_mq_spark.operators.projections import EVENTS_CTE
from spark_ibm_mq_spark.registry import declare_helper_deps, register
from spark_ibm_mq_spark.session import scratch_dir
from spark_ibm_mq_spark.sources import MQ_SCHEMA, FakeMQBroker, register_ibmmq
from spark_ibm_mq_spark.tables import fixture_cache

_QUEUE = "EVENTS.Q"

_DRAIN_ORACLE = f"""
    {EVENTS_CTE}
    SELECT concat(CAST(epoch_ms(ts) AS VARCHAR), '_', CAST(event_id AS VARCHAR)) AS key,
           props                                AS value,
           make_timestamp(epoch_ms(ts) * 1000)  AS put_ts,
           event_id                             AS seq_no,
           '{_QUEUE}'                           AS queue
    FROM ev
"""


def _events_broker(sf_dir: str, name: str, queues: dict[str, str]) -> str:
    """A fake-broker directory mirroring `events`, built once per fixture
    version: each queue holds the rows its SQL predicate selects, in
    (ts, event_id) order. DuckDB does the export, so the fixture needs no
    Spark job and its line order is deterministic; `FakeMQBroker.put_all`
    writes the queue files."""

    def build(d: str) -> None:
        import duckdb

        con = duckdb.connect()
        for queue, where in queues.items():
            FakeMQBroker(d, queue).put_all(
                con.execute(
                    f"""SELECT epoch_ms(CAST(ts AS TIMESTAMP)), event_id, props
                        FROM read_parquet('{sf_dir}/events.parquet')
                        WHERE {where}
                        ORDER BY ts, event_id"""
                ).fetchall()
            )
        con.close()

    return fixture_cache(sf_dir, ("events",), name, build)


def _broker_dir_for(sf_dir: str) -> str:
    """The one-queue broker fixture: every event on `_QUEUE`."""
    return _events_broker(sf_dir, "ibmmq_fake_broker", {_QUEUE: "true"})


_FLUSH_SENTINEL = "__flush__"


def _drain(reader, work: str, total: int, label: str, flush: FakeMQBroker | None = None) -> str:
    """Run ``reader`` into a parquet sink under ``work`` until the source
    has handed ``total`` rows to committed micro-batches; returns the sink
    path.

    availableNow processes the one prefetched batch per run, so the loop
    restarts from the checkpoint until the cursor has covered the queue.
    The covered-the-queue check reads the query's own progress counters
    instead of re-counting the sink, which would re-read everything
    drained so far once per run. A loop that runs out of restarts, or rows
    counted twice, fails loudly rather than returning a short or padded
    sink.

    ``flush``: a destructive read acks a batch only when the next batch is
    constructed, so a drained availableNow run leaves its last batch
    read-but-unacked. On a live queue the next arrival closes that window;
    here one `_FLUSH_SENTINEL` is put on ``flush`` and one more run is
    made, whose batch construction fires the final commit."""
    out = os.path.join(work, "out")

    def run() -> int:
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(int(p["numInputRows"]) for p in q.recentProgress)

    drained_rows = 0
    for _ in range(8):
        drained_rows += run()
        if drained_rows >= total:
            break
    assert drained_rows == total, f"{label} read {drained_rows} of {total} rows"
    if flush is not None:
        flush.put(9_999_999_999_999, 0, _FLUSH_SENTINEL)
        run()
    return out


@register("mq_source_batch_drain", oracle=_DRAIN_ORACLE)
def mq_source_batch_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch browse snapshot through spark.read.format("ibmmq") — the R3
    cursor scan (IBMMQReceiver.java:203-205) as a bounded relation, value-
    checked against SQL over the same events."""
    d = _broker_dir_for(sf_dir)
    register_ibmmq(spark)
    return (
        spark.read.format("ibmmq")
        .schema(MQ_SCHEMA)
        .option("path", d)
        .option("queue", _QUEUE)
        .load()
    )


@register("mq_source_stream_drain", oracle=_DRAIN_ORACLE)
def mq_source_stream_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming path: readStream.format("ibmmq") in browse mode, drained
    with Trigger.AvailableNow into a parquet sink, then read back — proves
    the R1-R8 micro-batch loop end-to-end with full value parity.

    Browse mode keeps the shared fixture queue intact (non-destructive,
    IBMMQReceiver.java:131-134); checkpoint/sink dirs are fresh per call."""
    d = _broker_dir_for(sf_dir)
    register_ibmmq(spark)
    total = FakeMQBroker(d, _QUEUE).depth()
    reader = (
        spark.readStream.format("ibmmq")
        .schema(MQ_SCHEMA)
        .option("path", d)
        .option("queue", _QUEUE)
        .option("keepMessages", "true")
        .option("maxMessagesPerBatch", str(max(total, 1)))
    )
    work = scratch_dir("ibmmq_stream_drain_")
    return spark.read.parquet(_drain(reader, work, total, "stream drain"))


@register("mq_source_destructive_drain", oracle=_DRAIN_ORACLE)
def mq_source_destructive_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Destructive GET under syncpoint, end-to-end: the R2 consume path with
    the R7 commit-after-durable contract (IBMMQReceiver.java:206-211,
    357-393) — messages are removed from the queue only after the
    micro-batch that read them has been durably committed.

    Runs against a per-call COPY of the broker fixture (destructive reads
    mutate the queue; the shared browse fixture must stay intact) and drains
    with keepMessages=false, closing the last batch's at-least-once
    redelivery window with `_drain`'s flush sentinel. Asserts every real
    message ends consumed (acked == puts, only the sentinel left) — the
    driver row therefore witnesses both the row values AND the destructive
    semantics."""
    src = _broker_dir_for(sf_dir)
    d = scratch_dir("ibmmq_destructive_")
    shutil.copytree(src, d, dirs_exist_ok=True)
    register_ibmmq(spark)
    broker = FakeMQBroker(d, _QUEUE)
    total = broker.depth()
    reader = (
        spark.readStream.format("ibmmq")
        .schema(MQ_SCHEMA)
        .option("path", d)
        .option("queue", _QUEUE)
        .option("keepMessages", "false")
        .option("maxMessagesPerBatch", str(max(total, 1)))
    )
    work = scratch_dir("ibmmq_destructive_work_")
    out = _drain(reader, work, total, "destructive drain", flush=broker)
    assert broker.acked() == total and broker.depth() == 1, (
        f"destructive drain left acked={broker.acked()} depth={broker.depth()} "
        f"of {total} (+1 sentinel)"
    )
    from pyspark.sql import functions as F

    return spark.read.parquet(out).filter(F.col("value") != _FLUSH_SENTINEL)


_MULTI_QUEUES = ("EVENTS.EVEN", "EVENTS.ODD")


def _broker_dir_multi(sf_dir: str) -> str:
    """Two-queue broker fixture: events split by user_id parity, each queue
    in its own (ts, event_id)-ordered stream — the reference's
    one-receiver-per-queue topology (IBMMQReceiver.java:425)."""
    return _events_broker(
        sf_dir,
        "ibmmq_fake_broker_multi",
        {queue: f"user_id % 2 = {parity}" for parity, queue in enumerate(_MULTI_QUEUES)},
    )


@register(
    "mq_source_multi_queue_union",
    oracle=f"""
    {EVENTS_CTE}
    SELECT concat(CAST(epoch_ms(ts) AS VARCHAR), '_', CAST(event_id AS VARCHAR)) AS key,
           props                                AS value,
           make_timestamp(epoch_ms(ts) * 1000)  AS put_ts,
           event_id                             AS seq_no,
           CASE WHEN user_id % 2 = 0 THEN '{_MULTI_QUEUES[0]}'
                ELSE '{_MULTI_QUEUES[1]}' END   AS queue
    FROM ev
    """,
)
def mq_source_multi_queue_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-queue merge: one `ibmmq` relation per queue, combined with
    `unionByName` — the SURVEY §1.2 mapping of the reference's
    one-receiver-per-queue model (`IBMMQReceiver.java:425`; union replaces
    running N receivers). Each queue keeps its own cursor/ordering; the
    union is a zero-shuffle bag merge, and per-key order is recovered
    downstream by (put_ts, seq_no) exactly as in mq_ordered_replay."""
    d = _broker_dir_multi(sf_dir)
    register_ibmmq(spark)

    def q(name: str) -> DataFrame:
        return (
            spark.read.format("ibmmq")
            .schema(MQ_SCHEMA)
            .option("path", d)
            .option("queue", name)
            .load()
        )

    return q(_MULTI_QUEUES[0]).unionByName(q(_MULTI_QUEUES[1]))


@register("mq_sink_roundtrip", oracle=_DRAIN_ORACLE)
def mq_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUT-side completion of the connector surface: the events fixture is
    delivered onto a fresh queue through the MQWritebackSink (a streaming
    foreachBatch query with the WAL pending/committed markers — the
    reference opens its handle with MQOO_OUTPUT, IBMMQReceiver.java:132-135,
    but never puts), then read back through the ibmmq batch source. Full
    value parity against the same SQL envelope oracle as the GET-side
    drains proves the sink's put path and the reader's key synthesis
    compose to the identity."""
    import pyspark.sql.functions as F

    from spark_ibm_mq_spark.streaming.mq_sink import MQWritebackSink
    from spark_ibm_mq_spark.tables import load_table

    d = scratch_dir("mq_sink_rt_")
    src = os.path.join(d, "outbound")
    load_table(spark, sf_dir, "events").select(
        F.unix_millis(F.col("ts").cast("timestamp")).alias("put_ms"),
        F.col("event_id").alias("seq_no"),
        F.col("props").alias("value"),
    ).write.parquet(src)

    sink = MQWritebackSink(d, _QUEUE)
    q = (
        spark.readStream.schema("put_ms bigint, seq_no bigint, value string")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    register_ibmmq(spark)
    return (
        spark.read.format("ibmmq").schema(MQ_SCHEMA).option("path", d).option("queue", _QUEUE).load()
    )


@register(
    "mq_dlq_split",
    oracle=f"""
    {EVENTS_CTE},
    parsed AS (
        SELECT event_id AS seq_no,
               TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM ev
    ),
    routed AS (
        SELECT seq_no,
               CASE WHEN k IS NULL THEN 'dlq'
                    WHEN k BETWEEN 0 AND 89 THEN 'main'
                    ELSE 'dlq' END AS route,
               CASE WHEN k IS NULL THEN 'parse_error'
                    WHEN k BETWEEN 0 AND 89 THEN 'ok'
                    ELSE 'domain_violation' END AS reason
        FROM parsed
    )
    SELECT route, reason, CAST(count(*) AS BIGINT) AS n,
           min(seq_no) AS min_seq, max(seq_no) AS max_seq
    FROM routed GROUP BY 1, 2
    """,
)
def mq_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing on the consume path — the R16 consumer-parse
    behavior (IBMMQReceiver.java:306-312's (key, body) records) extended
    with the standard poison-message discipline every production MQ
    consumer needs: each drained message's body is parsed against the
    envelope contract (JSON with an integer `k`) and VALIDATED
    (0 ≤ k < 90); contract violations route to the dead-letter queue with
    a reason code instead of failing the batch or silently passing
    garbage downstream. Output is the routing audit: per (route, reason)
    message count and seq_no span. Bodies that fail to parse at all take
    the `parse_error` branch — the fixture's bodies all parse, so that
    branch is exercised by `test_dlq_routes_corrupt_bodies` with a
    deliberately corrupted broker queue.

    Plan shape: parse + validate are row-local expressions over the
    parallel browse read (no shuffle); the audit rollup reduces to
    ≤3 rows. In a live deployment the same routed frame feeds two
    `foreachBatch` putters (main topic + DLQ) via the
    `mq_sink_roundtrip` machinery — routing is a projection, so the
    split costs one scan."""
    return dlq_route(spark, _broker_dir_for(sf_dir))


def dlq_route(spark: SparkSession, broker_dir: str) -> DataFrame:
    """Routing core of `mq_dlq_split` over an arbitrary broker dir —
    separated so tests can point it at a deliberately poisoned queue."""
    register_ibmmq(spark)
    msgs = (
        spark.read.format("ibmmq")
        .schema(MQ_SCHEMA)
        .option("path", broker_dir)
        .option("queue", _QUEUE)
        .load()
    )
    import pyspark.sql.functions as F

    k = F.from_json(F.col("value"), "k BIGINT")["k"]
    routed = msgs.select(
        "seq_no",
        F.when(k.isNull(), "dlq")
        .when(k.between(0, 89), "main")
        .otherwise("dlq")
        .alias("route"),
        F.when(k.isNull(), "parse_error")
        .when(k.between(0, 89), "ok")
        .otherwise("domain_violation")
        .alias("reason"),
    )
    return routed.groupBy("route", "reason").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("seq_no").alias("min_seq"),
        F.max("seq_no").alias("max_seq"),
    )


# each drain's loop and asserts live in _drain, so an edit there must
# change both queries' stable-tier fingerprints
for _drain_query in ("mq_source_stream_drain", "mq_source_destructive_drain"):
    declare_helper_deps(_drain_query, _drain)
