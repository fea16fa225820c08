"""`mq_drain`: catch-up after an outage, relayed from queue IN to queue OUT.

Queue IN holds a backlog of CDC-style messages with EBCDIC (CCSID 37)
bodies. Runs of messages share a ``put_ms`` with raw seq 1, so the source's
seq repair renumbers them. A stream drains IN destructively at a fixed
batch cap under the default trigger (a closed loop: the next batch is
planned as soon as the last one commits) and relays every batch to OUT
through ``MQWritebackSink`` under ``foreachBatch``.

Nothing puts onto IN while a drain runs. The fake broker has no put/read
atomicity: a read that meets a half-appended line fails the stream (see
README.md), so a benchmark with a concurrent producer fails at random.

Every drain starts from a fresh copy of the same backlog and a fresh
checkpoint, so the drains of a run are identical and the read cost, which
grows with the queue position (the broker re-scans the consumed prefix),
has the same profile in each.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import time

import numpy as np

from perfbench import metrics

# 50 batches a drain, so the two measured drains give p90 ten batches
# beyond it. At this cap the fixed per-batch cost (offset WAL, commit log,
# ack, planning, the sink's sort) is over half of a batch.
QUEUE_MSGS = 100_000
BATCH_CAP = 2_000
WARM_MSGS = 20_000
MIN_DRAINS = 2
CCSID = 37
CODEC = "cp037"
PUT_MS0 = 1_790_000_000_000
DRAIN_TIMEOUT_S = 120

_OPS = ("I", "U", "U", "U", "D")
_STATUS = ("NEW", "PICKED", "PACKED", "SHIPPED", "DELIVERED", "RETURNED")


def backlog(seed: int, n: int) -> tuple[list[int], list[str]]:
    """``put_ms`` and body text of ``n`` CDC-style messages. ``put_ms``
    rises in runs of 1-40 messages that share it."""
    rng = np.random.default_rng(seed)
    runs = rng.integers(1, 41, size=n)
    steps = rng.integers(1, 4, size=n)
    run_of = np.repeat(np.arange(n), runs)[:n]
    put_ms = (PUT_MS0 + np.concatenate([[0], np.cumsum(steps)])[run_of]).tolist()
    ops = rng.integers(0, len(_OPS), size=n)
    pks = rng.integers(0, 10**6, size=n)
    status = rng.integers(0, len(_STATUS), size=n)
    qty = rng.integers(1, 100, size=n)
    cents = rng.integers(100, 10**6, size=n)
    cust = rng.integers(0, 10**7, size=n)
    note = rng.integers(40, 90, size=n)
    bodies = [
        f'{{"op":"{_OPS[ops[i]]}","table":"ORDERS","pk":{pks[i]},"lsn":{i},'
        f'"after":{{"status":"{_STATUS[status[i]]}","qty":{qty[i]},'
        f'"price":{cents[i] / 100},"cust":"C{cust[i]:07d}","note":"{"x" * note[i]}"}}}}'
        for i in range(n)
    ]
    return put_ms, bodies


def write_queue(path: str, put_ms: list[int], bodies: list[str]) -> None:
    from spark_ibm_mq_spark.sources import FakeMQBroker

    FakeMQBroker(path, "IN").put_all(
        (ms, 1, text.encode(CODEC)) for ms, text in zip(put_ms, bodies)
    )


class Relay:
    """One IN→OUT drain over a fresh copy of the backlog and a fresh
    checkpoint."""

    def __init__(self, spark, progress, queue_file: str, run_dir: str, traced: bool) -> None:
        from pyspark.sql import functions as F

        from perfbench import spans
        from spark_ibm_mq_spark.sources import MQ_SCHEMA, FakeMQBroker
        from spark_ibm_mq_spark.streaming.mq_sink import MQWritebackSink

        broker = os.path.join(run_dir, "broker")
        self.inq = FakeMQBroker(broker, "IN")
        self.outq = FakeMQBroker(broker, "OUT")
        shutil.copyfile(queue_file, self.inq._f("jsonl"))
        self.progress = progress
        sink = MQWritebackSink(self.outq.path, "OUT")
        handler = spans.TracedSink(sink, spans.span_log_from_env()) if traced else sink

        def relay(df, batch_id):
            handler(df.withColumn("put_ms", F.unix_millis(F.col("put_ts").cast("timestamp"))), batch_id)

        self.started = time.perf_counter()
        self.query = (
            spark.readStream.format("ibmmq_traced" if traced else "ibmmq")
            .schema(MQ_SCHEMA)
            .option("path", self.inq.path)
            .option("queue", "IN")
            .option("keepMessages", "false")
            .option("maxMessagesPerBatch", str(BATCH_CAP))
            .option("ccsid", str(CCSID))
            .load()
            .writeStream.foreachBatch(relay)
            .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
            .start()
        )

    def wait_rows(self, n: int, timeout_s: float) -> bool:
        """Wait until batches covering ``n`` messages have committed, which
        is after the sink has put them: completion is read from the sink
        side, since the last destructive batch is acked only when the next
        one is planned."""
        deadline = time.monotonic() + timeout_s
        while self.progress.committed(self.query.id) < n:
            if not self.query.isActive or time.monotonic() > deadline:
                return False
            time.sleep(0.02)
        return True

    def stop(self) -> str | None:
        """Stop the stream; returns its error, if it died."""
        error = None if self.query.isActive else f"stopped: {self.query.exception()}"
        self.query.stop()
        return error


def expected_keys(put_ms: list[int]) -> list[str]:
    """Keys the source must mint: `repair_seq` chained serially from the
    initial offset's (0, 0) state over the generated (put_ms, raw seq 1)
    list."""
    from spark_ibm_mq_spark.sources.mq import repair_seq

    keys, last_ms, last_seq = [], 0, 0
    for ms in put_ms:
        seq = repair_seq(ms, 1, last_ms, last_seq)
        keys.append(f"{ms}_{seq}")
        last_ms, last_seq = ms, seq
    return keys


def check_out(outq, put_ms: list[int], bodies: list[str]) -> int:
    """Failed messages on OUT: every IN message must appear exactly once,
    in put order, with its key and decoded body. Each message that is
    missing, duplicated, mis-keyed, carries a wrong body or comes before
    one put ahead of it counts once."""
    path = outq._f("jsonl")
    got = []
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            got = [json.loads(line) for line in f]
    want = list(zip(expected_keys(put_ms), bodies))
    index = {key: i for i, (key, _) in enumerate(want)}
    seen, failed, last = set(), 0, -1
    for r in got:
        key = f"{r['put_ms']}_{r['seq_no']}"
        i = index.get(key)
        if i is None or key in seen or want[i][1] != outq.decode_body(r) or i < last:
            failed += 1
        else:
            last = i
        seen.add(key)
    return failed + len(index.keys() - seen)


def drain(spark, progress, queue_file: str, run_dir: str, put_ms, bodies, traced: bool) -> dict:
    """One drain of the backlog in ``queue_file``. Returns its start-up time
    (stream start to the first committed batch), its progress events and
    its failed messages."""
    relay = Relay(spark, progress, queue_file, run_dir, traced)
    relay.wait_rows(len(put_ms), DRAIN_TIMEOUT_S)  # what is not on OUT then is failed
    error = relay.stop()
    if error is not None:  # a stream that dies is counted, never retried
        print(f"mq_drain: stream failed: {error}", file=sys.stderr, flush=True)
    events = progress.of(relay.query.id)
    first = min((end_ms for _, _, end_ms in metrics.batch_spans(events)), default=None)
    started_ms = time.time() * 1000.0 - (time.perf_counter() - relay.started) * 1000.0
    return {
        "events": events,
        "startup_s": (first - started_ms) / 1000.0 if first is not None else float("nan"),
        "failed": check_out(relay.outq, put_ms, bodies) + int(error is not None),
    }


def run(spark, progress, host, work: str, seed: int, seconds: float, traced: bool) -> dict:
    t = time.perf_counter()
    put_ms, bodies = backlog(seed, QUEUE_MSGS)
    queue_file = os.path.join(work, "backlog", "IN.jsonl")
    write_queue(os.path.dirname(queue_file), put_ms, bodies)
    warm_file = os.path.join(work, "backlog", "warm.jsonl")
    with open(queue_file, "rb") as f, open(warm_file, "wb") as w:
        w.writelines(itertools.islice(f, WARM_MSGS))
    build_s = time.perf_counter() - t

    # One warm drain of a prefix of the backlog: the Python workers start
    # and the JIT compiles here rather than in the measured drains.
    t = time.perf_counter()
    res = drain(
        spark, progress, warm_file, os.path.join(work, "warm"),
        put_ms[:WARM_MSGS], bodies[:WARM_MSGS], traced,
    )
    warm_s = time.perf_counter() - t
    failed = res["failed"]

    # Measured window: whole drains until `seconds` have gone by, and at
    # least MIN_DRAINS.
    drains = []
    host.window_start()
    t0 = time.perf_counter()
    while len(drains) < MIN_DRAINS or time.perf_counter() - t0 < seconds:
        run_dir = os.path.join(work, f"drain{len(drains)}")
        drains.append(drain(spark, progress, queue_file, run_dir, put_ms, bodies, traced))
    host_stamp = host.window_end()
    failed += sum(d["failed"] for d in drains)

    events = [p for d in drains for p in d["events"]]
    batch_ms = metrics.batch_durations_ms(events)
    rates = [metrics.drain_rate(d["events"]) for d in drains]
    layers = engine_layers(events)
    print(
        "mq_drain: build_s=%.2f warm_s=%.2f startup_s=%s rates=%s engine=%s"
        % (
            build_s, warm_s, [round(d["startup_s"], 3) for d in drains],
            [round(r) for r in rates], json.dumps(layers),
        ),
        file=sys.stderr,
    )
    return {
        # Set-up is the backlog build and the warm drain, once per run, plus
        # each measured drain's own start: stream start to first commit.
        "setup_runs_s": [build_s + warm_s + d["startup_s"] for d in drains],
        "throughput_per_s": metrics.median(rates),
        "latency_p50_ms": metrics.percentile(batch_ms, 0.5),
        "latency_p90_ms": metrics.percentile(batch_ms, 0.9),
        "samples": len(batch_ms),
        "attempted": WARM_MSGS + QUEUE_MSGS * len(drains),
        "failed": failed,
        "correct": failed == 0,
        "host": host_stamp,
        "layers": layers,
    }


ENGINE_PHASES = {
    "latestOffset": "engine.latest_offset_ms",
    "queryPlanning": "engine.query_planning_ms",
    "walCommit": "engine.wal_commit_ms",
    "addBatch": "engine.add_batch_ms",
    "commitOffsets": "engine.commit_offsets_ms",
    "triggerExecution": "engine.trigger_ms",
}


def engine_layers(events: list[dict]) -> dict[str, float]:
    """Median per-batch phase times of the batches that moved the queue."""
    rows = [p for p in events if metrics.batch_spans([p])]
    out = {
        name: metrics.median([p["durationMs"].get(k, 0) for p in rows])
        for k, name in ENGINE_PHASES.items()
    }
    out["engine.batches"] = len(rows)
    return out
