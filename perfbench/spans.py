"""Traced wrappers around the MQ source, the fake broker and the writeback
sink, used only by ``--trace 1`` runs.

Each wrapper calls the real code through ``super()`` (or the wrapped
object) and records a span: name, start, end, parent span and batch id.
The batch id is the queue position at which the batch starts, so the
read and the commit of one stream batch share it.

Spans stay in memory and are appended to ``$PERFBENCH_SPAN_DIR/
spans-<pid>.jsonl`` when a top-level span closes. Spark ends its Python
workers with ``os._exit``, which skips exit hooks, so a worker cannot
wait for the end of the run to write its spans.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections.abc import Iterable
from contextlib import contextmanager

from spark_ibm_mq_spark.sources import mq
from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker
from spark_ibm_mq_spark.streaming.mq_sink import MQWritebackSink

SPAN_DIR_ENV = "PERFBENCH_SPAN_DIR"

# The readers call this module-level function by name, so the traced reader
# rebinds ``mq.arrow_batch_from_block``; keep the original to wrap.
_ARROW_BATCH_FROM_BLOCK = mq.arrow_batch_from_block


class SpanLog:
    """Spans of one process, flushed to ``<out_dir>/spans-<pid>.jsonl``."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, batch=None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": f"{os.getpid()}-{next(self._ids)}",
            "parent": parent["id"] if parent else None,
            "batch": batch if batch is not None or parent is None else parent["batch"],
            "start": time.time(),
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if not self._stack:
                self.flush()

    def flush(self) -> None:
        if not self.spans:
            return
        path = os.path.join(self.out_dir, f"spans-{os.getpid()}.jsonl")
        with open(path, "a", encoding="utf-8") as f:
            f.writelines(json.dumps(s) + "\n" for s in self.spans)
        self.spans.clear()


def span_log_from_env() -> SpanLog:
    out_dir = os.environ[SPAN_DIR_ENV]
    os.makedirs(out_dir, exist_ok=True)
    return SpanLog(out_dir)


def read_spans(out_dir: str) -> list[dict]:
    spans: list[dict] = []
    for fn in sorted(os.listdir(out_dir)):
        if fn.startswith("spans-") and fn.endswith(".jsonl"):
            with open(os.path.join(out_dir, fn), encoding="utf-8") as f:
                spans.extend(json.loads(line) for line in f)
    return spans


class TracedBroker(FakeMQBroker):
    def __init__(self, path: str, queue: str, log: SpanLog) -> None:
        super().__init__(path, queue)
        self.log = log

    def message_block(self, from_pos, limit=None, byte_off=None):
        with self.log.span("broker.read") as s:
            block = super().message_block(from_pos, limit, byte_off)
            s["bytes"] = len(block)
        return block

    def ack(self, upto_pos: int) -> None:
        with self.log.span("broker.ack"):
            super().ack(upto_pos)

    def put_all(self, messages: Iterable) -> None:
        with self.log.span("broker.put") as s:
            s["rows"] = 0

            def counted():
                for m in messages:
                    s["rows"] += 1
                    yield m

            super().put_all(counted())


def _trace_parse(log: SpanLog) -> None:
    def traced(block, queue, encoding, last_ms, last_seq):
        with log.span("source.parse") as s:
            out = _ARROW_BATCH_FROM_BLOCK(block, queue, encoding, last_ms, last_seq)
            s["rows"] = 0 if out[0] is None else out[0].num_rows
        return out

    mq.arrow_batch_from_block = traced


def _trace_broker(opts, log: SpanLog) -> None:
    opts.broker = lambda: TracedBroker(opts.path, opts.queue, log)


class TracedStreamReader(mq.MQSimpleStreamReader):
    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.log = span_log_from_env()
        self._batch_of_end: dict[int, int] = {}
        _trace_broker(self.opts, self.log)
        _trace_parse(self.log)

    def read(self, start: dict):
        with self.log.span("source.read", batch=start["pos"]) as s:
            it, end = super().read(start)
            s["rows"] = end["pos"] - start["pos"]
        self._batch_of_end[end["pos"]] = start["pos"]
        return it, end

    def commit(self, end: dict) -> None:
        with self.log.span("source.commit", batch=self._batch_of_end.pop(end["pos"], None)):
            super().commit(end)


class TracedBatchReader(mq.MQBatchReader):
    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.log = span_log_from_env()
        _trace_broker(self.opts, self.log)

    def partitions(self):
        with self.log.span("source.partitions") as s:
            parts = super().partitions()
            s["splits"] = len(parts)
        return parts

    def read(self, partition):
        _trace_parse(self.log)  # runs in the executor's worker, not where __init__ ran
        with self.log.span("source.read", batch=partition.from_pos) as s:
            batches = list(super().read(partition))
            s["rows"] = sum(b.num_rows for b in batches)
        yield from batches


class TracedIBMMQ(mq.IBMMQDataSource):
    """The `ibmmq` source with spans, registered as `ibmmq_traced`."""

    @classmethod
    def name(cls) -> str:
        return "ibmmq_traced"

    def reader(self, schema) -> TracedBatchReader:
        return TracedBatchReader(self.options)

    def simpleStreamReader(self, schema) -> TracedStreamReader:
        return TracedStreamReader(self.options)


class TracedIBMMQAsPlain(TracedIBMMQ):
    """Registered as `ibmmq` in traced panel runs: the panel's queries name
    the format themselves, so this is the only way to trace their reads."""

    @classmethod
    def name(cls) -> str:
        return "ibmmq"


class TracedSink:
    """``foreachBatch`` handler: the writeback sink with a span per call and
    a traced broker under it."""

    def __init__(self, sink: MQWritebackSink, log: SpanLog) -> None:
        sink.broker = TracedBroker(sink.broker.path, sink.broker.queue, log)
        self.sink = sink
        self.log = log

    def __call__(self, df, batch_id: int) -> None:
        with self.log.span("sink.call", batch=batch_id):
            self.sink(df, batch_id)
