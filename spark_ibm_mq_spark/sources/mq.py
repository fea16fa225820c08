"""The `ibmmq` DataSource (PySpark Python Data Source API, Spark ≥ 4).

A Structured-Streaming-native replacement for the reference's DStream
``Receiver<String>`` (IBMMQReceiver.java) with the same ordering, delivery,
and flow-control semantics:

- browse vs destructive consumption  (IBMMQReceiver.java:131-136,203-211)
- key = `<putMillis>_<seqNo>` with sequence-collision repair
  (IBMMQReceiver.java:250-254,259)
- commit-after-durable: Spark persists the offset, then `commit(end)` acks
  MQ — the store()→qmgr.commit() ordering of IBMMQReceiver.java:349-393,
  with the checkpoint offset log replacing the receiver WAL (README.md:71-75)
- halt-file kill-switch (IBMMQReceiver.java:457-479) and GET-inhibited
  respect (IBMMQReceiver.java:232-235) → empty micro-batches
- maxMessagesPerBatch — an *honored* rate cap (the reference parses
  mqRateLimit but never uses it, IBMMQReceiver.java:120-124; actual limiting
  was delegated to spark.streaming.receiver.maxRate, README.md:62)
- reconnect with configurable backoff (reference hardcodes 600 s,
  IBMMQReceiver.java:193-198)
- CCSID/encoding decode of the message body (IBMMQReceiver.java:242-244)

Unlike the reference, the source emits TYPED columns
(key, value, put_ts, seq_no, queue) instead of a stringly JSON envelope —
the envelope projection is a `select`, not a parse (SURVEY.md §1.2).

Scale / ordering: one STREAM reader instance per queue, mirroring the
reference's one-receiver-per-queue ordering contract (README.md:60-65). The
SimpleDataSourceStreamReader runs driver-side — correct for a serial
protocol like MQ; streaming parallelism comes from unioning per-queue
streams, and everything downstream of the source is fully distributed. The
BATCH path reads a bounded snapshot and does fan out: the seq-repair chain
resets at put_ms boundaries, so MQBatchReader splits the snapshot at
timestamp changes into independent executor-side slices (plan_splits).

Deterministic replay: the synthesized-seq state (last_ms, last_seq) is part
of the offset JSON, so a replayed batch mints identical keys (SURVEY.md §7
"hard parts" — this is what keeps exactly-once dedup sound across restarts).

Every read (stream `read`, replay `readBetweenOffsets`, batch `read`) goes
through `read_block`: one broker fetch under the one reconnect policy
(`_with_reconnect`), then one arrow parse. The broker is the file-backed
FakeMQBroker, whose docstring lists the calls a live-broker client would
implement.
"""

from __future__ import annotations

import itertools
import os
import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker

SCHEMA = "key string, value string, put_ts timestamp_ntz, seq_no bigint, queue string"


def repair_seq(put_ms: int, raw_seq: int, last_ms: int, last_seq: int) -> int:
    """The reference's sequence-collision rule (IBMMQReceiver.java:252-254):
    consecutive messages sharing a put timestamp where the incoming MQ seqNo
    reset to 1 (non-grouped messages always report 1) get a synthesized
    monotone seq = lastSeqNo + 1, keeping keys unique and ordered."""
    if last_ms == put_ms and raw_seq == 1:
        return last_seq + 1
    return raw_seq


def seeded_repair_seq(put_ms, raw_seq, last_ms: int, last_seq: int):
    """Closed-form batch equivalent of chaining `repair_seq` over a slice
    from the carry-in state (last_ms, last_seq): the stream offset's state,
    or (0, 0) at a batch split's put_ms boundary (see `plan_splits`).

    The carry-in becomes a virtual row 0. Row i is a RESET when its chain
    restarts: the put_ms changed (repair never consults the previous
    message across a timestamp change) or the raw seq is not the
    reset-to-1 sentinel (a genuine MQ group seq is kept verbatim and later
    collisions count up from it). Between resets each raw_seq==1 message
    increments by one, so with r = the nearest reset at or before i (a
    running maximum), seq[i] = raw_seq[r] + (i - r). The virtual row is
    always a reset, so a run anchored at it counts up from last_seq:
    precisely `repair_seq`'s two branches, with no Python loop.
    Property-tested against the serial chain in test_mq_source.py."""
    import numpy as np

    pm = np.concatenate((np.asarray([last_ms], dtype="int64"), put_ms))
    rs = np.concatenate((np.asarray([last_seq], dtype="int64"), raw_seq))
    idx = np.arange(len(pm), dtype="int64")
    reset = np.empty(len(pm), dtype=bool)
    reset[0] = True
    np.not_equal(pm[1:], pm[:-1], out=reset[1:])
    reset[1:] |= rs[1:] != 1
    last_reset = np.maximum.accumulate(np.where(reset, idx, 0))
    return (rs[last_reset] + (idx - last_reset))[1:]


def arrow_batch_from_block(
    block: bytes, queue: str, encoding: str, last_ms: int, last_seq: int
):
    """One columnar pass from raw broker bytes to a pyarrow RecordBatch:
    pyarrow's C++ JSON reader parses the whole line block (no per-message
    Python dicts), the seq-collision repair runs as the closed-form numpy
    pass, and the key column is an arrow binary_join, so the common
    text-body path has no per-row Python. Spark takes the RecordBatch onto
    its arrow stream as is, instead of converting Python rows field by
    field.

    Returns (batch, last_ms, last_seq), the carry-out repair state the
    stream reader stores in its end offset, or (None, last_ms, last_seq)
    for a block with no messages."""
    import io

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj

    if not block:
        return None, last_ms, last_seq
    parsed = pj.read_json(
        io.BytesIO(block),
        parse_options=pj.ParseOptions(
            explicit_schema=pa.schema(
                [
                    ("put_ms", pa.int64()),
                    ("seq_no", pa.int64()),
                    ("body", pa.string()),
                    ("body_b64", pa.string()),
                ]
            ),
            unexpected_field_behavior="ignore",
        ),
    )
    if not parsed.num_rows:
        return None, last_ms, last_seq
    put_ms = parsed["put_ms"].combine_chunks().to_numpy()
    seq = seeded_repair_seq(
        put_ms, parsed["seq_no"].combine_chunks().to_numpy(), last_ms, last_seq
    )
    b64 = parsed["body_b64"]
    if b64.null_count == len(parsed):
        values = parsed["body"].combine_chunks()
    else:
        # bytes bodies present: CCSID decode row-at-a-time (rare path —
        # encoding tests; a production binary queue would decode via a
        # vectorized pc.binary decode for fixed codecs)
        bodies = parsed["body"].to_pylist()
        b64l = b64.to_pylist()
        values = pa.array(
            [
                FakeMQBroker.decode_body(
                    {"body_b64": b} if b is not None else {"body": t},
                    encoding,
                )
                for t, b in zip(bodies, b64l)
            ],
            pa.string(),
        )
    seq_arr = pa.array(seq, pa.int64())
    keys = pc.binary_join_element_wise(
        pc.cast(parsed["put_ms"].combine_chunks(), pa.string()),
        pc.cast(seq_arr, pa.string()),
        "_",
    )
    batch = pa.RecordBatch.from_arrays(
        [
            keys,
            values,
            pa.array(put_ms * 1000, pa.timestamp("us")),
            seq_arr,
            pa.nulls(len(parsed), pa.string()).fill_null(queue),
        ],
        schema=pa.schema(
            [
                ("key", pa.string()),
                ("value", pa.string()),
                ("put_ts", pa.timestamp("us")),
                ("seq_no", pa.int64()),
                ("queue", pa.string()),
            ]
        ),
    )
    return batch, int(put_ms[-1]), int(seq[-1])


# IBM MQ coded character set id → Python codec. The commonly-deployed CCSIDs
# (public IBM MQ documentation); anything unmapped raises rather than
# silently mojibake-ing message bodies.
_CCSID_CODECS: dict[int, str] = {
    37: "cp037",        # EBCDIC US/Canada
    273: "cp273",       # EBCDIC Germany/Austria
    500: "cp500",       # EBCDIC International
    819: "latin-1",     # ISO 8859-1
    850: "cp850",       # DOS Latin-1
    1047: "cp1047",     # EBCDIC Latin-1/Open Systems
    1200: "utf-16-mq",  # UTF-16: BOM-sniffed, BOM-less defaults to BE
                        # (pseudo-codec handled in FakeMQBroker.decode_body —
                        # Python's bare 'utf-16' assumes LE without a BOM)
    1208: "utf-8",      # UTF-8 (MQ default for text)
    1252: "cp1252",     # Windows Latin-1
    5348: "cp1252",     # Windows Latin-1 (euro update)
    13488: "utf-16-be", # UCS-2/UTF-16BE
    17584: "utf-16-be", # UTF-16BE with supplementary chars
}


def ccsid_to_codec(ccsid: int) -> str:
    try:
        return _CCSID_CODECS[ccsid]
    except KeyError:
        raise ValueError(
            f"unsupported CCSID {ccsid}; known: {sorted(_CCSID_CODECS)}"
        ) from None


class _Options:
    def __init__(self, options: dict) -> None:
        get = options.get
        self.path: str = get("path") or ""
        if not self.path:
            raise ValueError("ibmmq source requires option 'path' (broker directory)")
        self.queue: str = get("queue", "DEV.QUEUE.1")
        # browse (non-destructive) vs destructive GET — IBMMQReceiver.java:131-136
        self.keep_messages: bool = str(get("keepmessages", "true")).lower() == "true"
        self.max_per_batch: int = int(get("maxmessagesperbatch", "5000"))
        self.halt_file: str | None = get("haltfile")
        # body decode: either a Python codec name ('encoding') or an IBM MQ
        # numeric CCSID ('ccsid', IBMMQReceiver.java:95,242-244 — the
        # reference takes only the integer form). ccsid wins if both given.
        ccsid = get("ccsid")
        if ccsid is not None:
            self.encoding = ccsid_to_codec(int(ccsid))
        else:
            self.encoding = get("encoding", "utf-8")
        self.reconnect_wait_s: float = float(get("reconnectwaitms", "100")) / 1000.0
        self.max_reconnects: int = int(get("maxreconnects", "3"))

    def broker(self) -> FakeMQBroker:
        return FakeMQBroker(self.path, self.queue)


def _with_reconnect(opts: _Options, call):
    """Run one broker call under the reconnect policy: on a broken
    connection, wait `reconnectWaitMs` and retry, up to `maxReconnects`
    times, then raise to Spark, which restarts the micro-batch from the
    checkpoint. The reference retries the same way with a fixed 600 s wait
    (IBMMQReceiver.java:154-198)."""
    for attempt in itertools.count(1):
        try:
            return call()
        except ConnectionError:
            if attempt > opts.max_reconnects:
                raise
            time.sleep(opts.reconnect_wait_s)


def read_block(
    opts: _Options,
    pos: int,
    limit: int,
    last_ms: int,
    last_seq: int,
    byte_off: int | None = None,
):
    """The one broker read path: up to ``limit`` messages from queue
    position ``pos`` (or byte offset ``byte_off``), parsed with the repair
    chain seeded from (last_ms, last_seq). Live reads and replays share it,
    so a replayed range mints byte-identical keys. Returns what
    `arrow_batch_from_block` returns."""
    broker = opts.broker()
    block = _with_reconnect(opts, lambda: broker.message_block(pos, limit, byte_off))
    return arrow_batch_from_block(block, opts.queue, opts.encoding, last_ms, last_seq)


class MQSplit(InputPartition):
    """One put_ms-aligned slice of the browse snapshot. ``byte_off`` (when
    the planner knows it) lets the executor SEEK to its slice instead of
    skipping the queue prefix line-by-line."""

    def __init__(self, from_pos: int, count: int, byte_off: int | None = None) -> None:
        self.from_pos = from_pos
        self.count = count
        self.byte_off = byte_off


def plan_splits(put_ms: list[int], target_rows: int, max_splits: int) -> list[tuple[int, int]]:
    """Split a browse snapshot into (offset, count) slices that each start
    at a put_ms BOUNDARY (the first message of a run of equal timestamps).

    The seq-collision repair (repair_seq) consults the previous message
    only when ``last_ms == put_ms`` — and last_ms is always the previous
    message's put_ms — so the synthesized-seq chain RESETS at every
    timestamp change. A reader seeded with (last_ms=0, last_seq=0) at a
    boundary therefore mints byte-identical keys to the serial scan; the
    split is exactness-preserving, not approximate. A snapshot whose
    messages all share one put_ms degenerates to a single slice (correct:
    that chain really is serial)."""
    n = len(put_ms)
    if n == 0:
        return []
    target = max(1, target_rows)
    points = [0]
    i = target
    while i < n and len(points) < max_splits:
        j = i
        while j < n and put_ms[j] == put_ms[j - 1]:
            j += 1  # slide right to the next timestamp change
        if j >= n:
            break
        points.append(j)
        i = j + target
    return [
        (p, (points[k + 1] if k + 1 < len(points) else n) - p)
        for k, p in enumerate(points)
    ]


class MQBatchReader(DataSourceReader):
    """Batch path: a browse snapshot of the queue (drain-without-consume),
    the R3 cursor scan as a bounded relation.

    Unlike the streaming reader (driver-side by protocol — a live MQ browse
    cursor is serial), a bounded SNAPSHOT can be read in parallel: the only
    cross-message state is the seq-repair chain, which resets at put_ms
    boundaries (see plan_splits), so partitions() cuts the snapshot at
    timestamp changes and each executor reads its slice independently with
    freshly-seeded state. Planning costs one driver-side metadata scan of
    put_ms values (no body decode/JSON parse); the expensive work — JSON
    parse, CCSID decode, key mint, Arrow assembly — fans out across the
    cluster. `batchSplitRows` tunes slice size (default 10k rows),
    `maxBatchPartitions` caps the fan-out."""

    def __init__(self, options: dict) -> None:
        self.opts = _Options(options)
        self._split_rows = int(options.get("batchsplitrows", "10000"))
        self._max_splits = int(options.get("maxbatchpartitions", "64"))

    def partitions(self):
        broker = self.opts.broker()
        start = broker.acked()
        ms, offs = _with_reconnect(
            self.opts, lambda: broker.put_ms_index_with_offsets(start)
        )
        splits = plan_splits(ms, self._split_rows, self._max_splits)
        if not splits:
            return [MQSplit(start, 0)]
        return [MQSplit(start + off, cnt, offs[off]) for off, cnt in splits]

    def read(self, partition: MQSplit):
        """Emits one pyarrow RecordBatch for the split. Seq state seeds to
        zero: the slice starts at a put_ms boundary, where the repair chain
        has no carry-over by construction."""
        if partition.count <= 0:
            return
        batch, _, _ = read_block(
            self.opts, partition.from_pos, partition.count, 0, 0, partition.byte_off
        )
        if batch is not None:
            yield batch


class MQSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming path. Offset JSON carries (pos, last_ms, last_seq): queue
    position plus the collision-repair state, so read/replay are bit-identical
    (deterministic keys across restarts)."""

    def __init__(self, options: dict) -> None:
        self.opts = _Options(options)

    def initialOffset(self) -> dict:
        start = self.opts.broker().acked() if not self.opts.keep_messages else 0
        return {"pos": start, "last_ms": 0, "last_seq": 0}

    def _paused(self) -> bool:
        # the halt file and GET-inhibited both pause the stream: empty
        # batches, nothing read
        if self.opts.halt_file and os.path.exists(self.opts.halt_file):
            return True
        return self.opts.broker().get_inhibited()

    def read(self, start: dict) -> tuple:
        """One prefetched micro-batch as a single pyarrow RecordBatch,
        which Spark's simple-reader wrapper passes straight onto its arrow
        stream. The end offset advances by the rows parsed and carries the
        repair state out."""
        if self._paused():
            return iter([]), dict(start)
        batch, last_ms, last_seq = read_block(
            self.opts, start["pos"], self.opts.max_per_batch,
            start["last_ms"], start["last_seq"],
        )
        if batch is None:
            return iter([]), dict(start)
        end = {
            "pos": start["pos"] + batch.num_rows,
            "last_ms": last_ms,
            "last_seq": last_seq,
        }
        return iter([batch]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay path (query restart): the same read as `read`, seeded
        with the START offset's repair state, so the keys are
        byte-identical to the original read (the deterministic-replay
        contract)."""
        n = end["pos"] - start["pos"]
        if n <= 0:
            return iter([])
        batch, _, _ = read_block(
            self.opts, start["pos"], n, start["last_ms"], start["last_seq"]
        )
        return iter([] if batch is None else [batch])

    def commit(self, end: dict) -> None:
        # Commit-after-durable: Spark has persisted `end` to the offset
        # log before calling this; acking MQ now means a crash in between
        # redelivers (at-least-once), never loses. Browse mode never acks.
        if not self.opts.keep_messages:
            self.opts.broker().ack(end["pos"])


class IBMMQDataSource(DataSource):
    """spark.read[Stream].format("ibmmq") — see module docstring for the
    option surface (mirrors the reference ctor args IBMMQReceiver.java:101-102)."""

    @classmethod
    def name(cls) -> str:
        return "ibmmq"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> MQBatchReader:
        return MQBatchReader(self.options)

    def simpleStreamReader(self, schema) -> MQSimpleStreamReader:
        return MQSimpleStreamReader(self.options)


_REGISTERED_SESSIONS: set[int] = set()


def register_ibmmq(spark) -> None:
    """Register the source and ship the package to worker Python processes.

    The DataSource class is pickled by reference, so the Python workers
    (driver-side planner for the stream reader, executors for the batch
    reader) must be able to import spark_ibm_mq_spark — addPyFile'ing a
    package zip is the standard way to guarantee that for an externally
    created session (e.g. the correctness driver's)."""
    key = id(spark)
    if key in _REGISTERED_SESSIONS:
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join("/tmp", "spark_ibm_mq_spark_pkg.zip")
    tmp = zip_path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:  # rebuilt each time: must track code
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    spark.dataSource.register(IBMMQDataSource)
    _REGISTERED_SESSIONS.add(key)
