"""Driver-checkable queries over the `ibmmq` DataSource (SURVEY.md §7 M3).

A fake broker queue is materialized deterministically from the `events`
fixture (arrival order = (ts, event_id), put_ms = epoch_ms(ts),
seq_no = event_id, body = props), so both the batch reader and the
streaming reader produce rows that a plain SQL oracle over `events` can
reproduce — full value parity for the custom source, not just rows-only.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from spark_ibm_mq_spark.operators.projections import EVENTS_CTE
from spark_ibm_mq_spark.registry import register
from spark_ibm_mq_spark.session import scratch_base
from spark_ibm_mq_spark.sources import MQ_SCHEMA, FakeMQBroker, register_ibmmq

_QUEUE = "EVENTS.Q"

_SCRATCH: list[str] = []


def _scratch(prefix: str) -> str:
    """Per-call scratch dir, removed at interpreter exit. Results are read
    lazily from these dirs after the query returns, so cleanup must outlive
    the call — atexit, not try/finally (repeated bench/correctness runs were
    leaking one broker copy + sink per invocation, ADVICE r4)."""
    return _track_dir(tempfile.mkdtemp(prefix=prefix, dir=scratch_base()))


def _track_dir(d: str) -> str:
    if not _SCRATCH:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH]
        )
    _SCRATCH.append(d)
    return d

_DRAIN_ORACLE = f"""
    {EVENTS_CTE}
    SELECT concat(CAST(epoch_ms(ts) AS VARCHAR), '_', CAST(event_id AS VARCHAR)) AS key,
           props                                AS value,
           make_timestamp(epoch_ms(ts) * 1000)  AS put_ts,
           event_id                             AS seq_no,
           '{_QUEUE}'                           AS queue
    FROM ev
"""


def _broker_dir_for(sf_dir: str) -> str:
    """Materialize (once per fixture version) a fake-broker queue mirroring
    `events`.

    DuckDB does the export — no Spark job needed to build the fixture, and
    the line order (ts, event_id) is deterministic.  The cache key is the
    file_sources._tag convention (ADVICE r9): sf_dir PLUS size+mtime_ns of
    events.parquet, so a regenerated fixture at the same path rebuilds the
    queue instead of silently serving stale messages while the oracle reads
    the fresh parquet.  Freshly-built dirs are atexit-tracked like every
    other derived export (_track_scratch in file_sources.py)."""
    from spark_ibm_mq_spark.operators.file_sources import _tag

    tag = _tag(sf_dir, ("events",))
    d = os.path.join(tempfile.gettempdir(), f"ibmmq_fake_broker_{tag}")
    marker = os.path.join(d, ".complete")
    if os.path.exists(marker):
        return d
    import duckdb

    os.makedirs(d, exist_ok=True)
    qfile = os.path.join(d, f"{_QUEUE}.jsonl")
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT epoch_ms(CAST(ts AS TIMESTAMP)), event_id, props
            FROM read_parquet('{sf_dir}/events.parquet')
            ORDER BY ts, event_id"""
    ).fetchall()
    con.close()
    tmp = qfile + ".tmp"
    import json

    with open(tmp, "w", encoding="utf-8") as f:
        for put_ms, seq_no, body in rows:
            f.write(json.dumps({"put_ms": int(put_ms), "seq_no": int(seq_no), "body": body}) + "\n")
    os.replace(tmp, qfile)
    open(marker, "w").close()
    return _track_dir(d)


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
    work = _scratch("ibmmq_stream_drain_")
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    total = FakeMQBroker(d, _QUEUE).depth()
    reader = (
        spark.readStream.format("ibmmq")
        .schema(MQ_SCHEMA)
        .option("path", d)
        .option("queue", _QUEUE)
        .option("keepMessages", "true")
        .option("maxMessagesPerBatch", str(max(total, 1)))
    )
    # availableNow processes the one prefetched batch per run; loop restarts
    # from the checkpoint until the cursor has covered the queue. The
    # covered-the-queue check reads the query's own progress counters
    # (rows the source handed to committed micro-batches) instead of
    # re-counting the parquet sink, which would re-read everything drained
    # so far once per iteration.
    drained_rows = 0
    for _ in range(8):
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        drained_rows += sum(int(p["numInputRows"]) for p in q.recentProgress)
        if drained_rows >= total:
            break
    # a loop that ran out of restarts, or rows counted twice, fails loudly
    # rather than returning a short or padded sink
    assert drained_rows == total, f"stream drain read {drained_rows} of {total} rows"
    return spark.read.parquet(out)


@register("mq_source_destructive_drain", oracle=_DRAIN_ORACLE)
def mq_source_destructive_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Destructive GET under syncpoint, end-to-end: the R2 consume path with
    the R7 commit-after-durable contract (IBMMQReceiver.java:206-211,
    357-393) — messages are removed from the queue only after the
    micro-batch that read them has been durably committed.

    Runs against a per-call COPY of the broker fixture (destructive reads
    mutate the queue; the shared browse fixture must stay intact) and drains
    with keepMessages=false. Spark only calls `commit(end_N)` when batch N+1
    is CONSTRUCTED — an empty prefetch plans no batch, so a fully-drained
    availableNow run leaves the final batch read-but-unacked (exactly the
    at-least-once redelivery window the contract allows). On a live queue
    the next arrival closes that window; the fixture models it by putting
    one flush sentinel after the drain and running one more cycle, whose
    batch construction fires the final commit. Asserts every real message
    ends consumed (acked == puts, only the sentinel left) — the driver row
    therefore witnesses both the row values AND the destructive semantics."""
    src = _broker_dir_for(sf_dir)
    d = _scratch("ibmmq_destructive_")
    shutil.copy(os.path.join(src, f"{_QUEUE}.jsonl"), os.path.join(d, f"{_QUEUE}.jsonl"))
    register_ibmmq(spark)
    broker = FakeMQBroker(d, _QUEUE)
    total = broker.depth()
    work = _scratch("ibmmq_destructive_work_")
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    reader = (
        spark.readStream.format("ibmmq")
        .schema(MQ_SCHEMA)
        .option("path", d)
        .option("queue", _QUEUE)
        .option("keepMessages", "false")
        .option("maxMessagesPerBatch", str(max(total, 1)))
    )
    sentinel = "__flush__"
    drained = False
    drained_rows = 0
    for _ in range(10):
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if drained:  # extra cycle: sentinel batch construction acks the rest
            break
        # covered-the-queue via the query's own progress counters, as in
        # mq_source_stream_drain; the asserts below also check the broker's
        # acked/depth state, which witnesses the destructive semantics
        drained_rows += sum(int(p["numInputRows"]) for p in q.recentProgress)
        if drained_rows >= total:
            drained = True
            broker.put(9_999_999_999_999, 0, sentinel)
    assert drained_rows == total, f"destructive drain read {drained_rows} of {total} rows"
    assert broker.acked() == total and broker.depth() == 1, (
        f"destructive drain left acked={broker.acked()} depth={broker.depth()} "
        f"of {total} (+1 sentinel)"
    )
    from pyspark.sql import functions as F

    return spark.read.parquet(out).filter(F.col("value") != sentinel)


_MULTI_QUEUES = ("EVENTS.EVEN", "EVENTS.ODD")


def _broker_dir_multi(sf_dir: str) -> str:
    """Two-queue broker fixture: events split by user_id parity, each queue
    in its own (ts, event_id)-ordered stream — the reference's
    one-receiver-per-queue topology (IBMMQReceiver.java:425).  Same
    size+mtime fingerprint key as _broker_dir_for (ADVICE r9)."""
    from spark_ibm_mq_spark.operators.file_sources import _tag

    tag = hashlib.md5((_tag(sf_dir, ("events",)) + ":multi").encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"ibmmq_fake_broker_{tag}")
    marker = os.path.join(d, ".complete")
    if os.path.exists(marker):
        return d
    import json

    import duckdb

    os.makedirs(d, exist_ok=True)
    con = duckdb.connect()
    for qname, parity in ((_MULTI_QUEUES[0], 0), (_MULTI_QUEUES[1], 1)):
        rows = con.execute(
            f"""SELECT epoch_ms(CAST(ts AS TIMESTAMP)), event_id, props
                FROM read_parquet('{sf_dir}/events.parquet')
                WHERE user_id % 2 = {parity}
                ORDER BY ts, event_id"""
        ).fetchall()
        tmp = os.path.join(d, f"{qname}.jsonl.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            for put_ms, seq_no, body in rows:
                f.write(
                    json.dumps(
                        {"put_ms": int(put_ms), "seq_no": int(seq_no), "body": body}
                    )
                    + "\n"
                )
        os.replace(tmp, os.path.join(d, f"{qname}.jsonl"))
    con.close()
    open(marker, "w").close()
    return _track_dir(d)


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

    d = _scratch("mq_sink_rt_")
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
