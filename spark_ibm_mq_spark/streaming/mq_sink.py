"""MQ writeback sink: deliver micro-batch results back onto an MQ queue.

The reference opens its queue handle with ``MQOO_OUTPUT``
(IBMMQReceiver.java:132-135) but only ever GETs; this module completes
that surface — the natural "route the derived stream back into MQ" path a
connector user expects — as a ``foreachBatch`` handler, Spark's escape
hatch for sinks it lacks natively.

Delivery contract (the PUT-side mirror of the reference's
``MQGMO_SYNCPOINT`` + backout consume path, IBMMQReceiver.java:209,283):

* Every batch append is bracketed by a write-ahead *pending* marker
  recording the queue file length before the batch. If the process dies
  mid-append, the next invocation finds the marker and TRUNCATES the queue
  back to that length (backout) before re-putting — a torn batch is never
  visible twice.
* A batch id is recorded *committed* only after its messages are fully
  appended. Spark replays a foreachBatch batch id after recovery; a
  committed id is skipped idempotently, so the sink is exactly-once end to
  end (offset log ∧ committed-marker, the same two-phase ordering as the
  source's ``commit(end)``).

Scale shape: an MQ queue is a serial ordered stream — one putter per
queue, exactly like the reference's one-receiver-per-queue GET side — so
each micro-batch is taken to the driver once, as one Arrow table, sorted
there by ``(put_ms, seq_no)`` and put in that order. The sink's memory is
therefore one whole micro-batch on the driver:

* behind an ``ibmmq`` source that is at most ``maxMessagesPerBatch``
  messages, the unit the reference buffers before ``store()``
  (IBMMQReceiver.java:349-393);
* behind any other source it is whatever batch Spark hands to
  ``foreachBatch`` — ``availableNow`` over files, for example, hands over
  the whole input in one batch (as ``mq_sink_roundtrip`` does).

Parallelism at 100 TB is per-queue, not per-row: partition the result by
target queue and attach one sink per queue (the same story as the
source's multi-queue union).
"""

from __future__ import annotations

import json
import os

import pyarrow.compute as pc
from pyspark.sql import DataFrame

from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker


class MQWritebackSink:
    """``foreachBatch``-compatible exactly-once writer onto a fake-broker
    queue."""

    def __init__(
        self,
        broker_dir: str,
        queue: str,
        *,
        put_ms_col: str = "put_ms",
        seq_no_col: str = "seq_no",
        body_col: str = "value",
    ) -> None:
        self.broker = FakeMQBroker(broker_dir, queue)
        self.put_ms_col = put_ms_col
        self.seq_no_col = seq_no_col
        self.body_col = body_col

    # ---- marker files (sidecars next to the queue file) ----
    def _committed_path(self) -> str:
        return self.broker._f("sink_committed")

    def _pending_path(self) -> str:
        return self.broker._f("sink_pending")

    def _committed_ids(self) -> set[int]:
        p = self._committed_path()
        if not os.path.exists(p):
            return set()
        with open(p, encoding="utf-8") as f:
            return {int(line) for line in f if line.strip()}

    def _rollback_torn_batch(self) -> None:
        p = self._pending_path()
        if not os.path.exists(p):
            return
        with open(p, encoding="utf-8") as f:
            pend = json.load(f)
        # A marker of a committed batch is left by a crash after the commit
        # but before the marker's removal: that batch is whole, keep it.
        torn = pend["batch"] not in self._committed_ids()
        qfile = self.broker._f("jsonl")
        if torn and os.path.exists(qfile) and os.path.getsize(qfile) > pend["len_before"]:
            with open(qfile, "r+", encoding="utf-8") as f:
                f.truncate(pend["len_before"])
        os.remove(p)

    # ---- the foreachBatch handler ----
    def __call__(self, df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed_ids():
            return  # replay of a committed batch: exactly-once skip
        self._rollback_torn_batch()

        qfile = self.broker._f("jsonl")
        len_before = os.path.getsize(qfile) if os.path.exists(qfile) else 0
        with open(self._pending_path(), "w", encoding="utf-8") as f:
            json.dump({"batch": int(batch_id), "len_before": len_before}, f)

        # One collect and a driver-side sort: a Spark sort would sample the
        # batch in a job of its own (scanning it twice) and then run one
        # job per partition to hand over a Row per message.
        t = df.select(self.put_ms_col, self.seq_no_col, self.body_col).toArrow()
        t = t.take(
            pc.sort_indices(t, [(self.put_ms_col, "ascending"), (self.seq_no_col, "ascending")])
        )
        self.broker.put_all(zip(*(c.to_pylist() for c in t.columns)))

        with open(self._committed_path(), "a", encoding="utf-8") as f:
            f.write(f"{int(batch_id)}\n")
        os.remove(self._pending_path())
