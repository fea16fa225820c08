"""Source-semantics tests for the `ibmmq` DataSource against the fake broker
(SURVEY.md §5.2 item 3): key synthesis + collision repair, browse vs
destructive delivery, ack lag, flow control (halt/inhibit), batch cap,
encoding, reconnect backoff, and deterministic replay."""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from spark_ibm_mq_spark.sources import FakeMQBroker, register_ibmmq
from spark_ibm_mq_spark.sources.mq import (
    MQBatchReader,
    MQSimpleStreamReader,
    arrow_batch_from_block,
    repair_seq,
)


@pytest.fixture()
def broker(tmp_path):
    return FakeMQBroker(str(tmp_path), "Q.TEST")


def _reader(spark, broker, **opts):
    r = (
        spark.readStream.format("ibmmq")
        .option("path", broker.path)
        .option("queue", broker.queue)
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r


# ---------------------------------------------------------------- key synthesis


@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=50), st.integers(min_value=1, max_value=3)),
        min_size=1,
        max_size=200,
    )
)
@settings(max_examples=200, deadline=None)
def test_keys_unique_and_monotone_under_collisions(stream):
    """Property (reference invariant, IBMMQReceiver.java:252-254): for any
    non-decreasing put-time stream where non-grouped messages report seq 1,
    synthesized (put_ms, seq) pairs are strictly increasing → keys unique."""
    # put times must be non-decreasing like a real queue's put order
    ts_sorted = sorted(ms for ms, _ in stream)
    seqs = [s for _, s in stream]
    last_ms, last_seq = 0, 0
    produced = []
    for put_ms, raw_seq in zip(ts_sorted, seqs):
        seq = repair_seq(put_ms, raw_seq, last_ms, last_seq)
        produced.append((put_ms, seq))
        last_ms, last_seq = put_ms, seq
    # collisions only repaired for the always-1 (non-grouped) case, which is
    # the reference's guarantee; filter to that case for strict monotonicity
    non_grouped = all(s == 1 for s in seqs)
    if non_grouped:
        assert all(a < b for a, b in zip(produced, produced[1:]))
        assert len(set(produced)) == len(produced)


@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=50), st.integers(min_value=1, max_value=3)),
        min_size=0,
        max_size=200,
    )
)
@settings(max_examples=200, deadline=None)
def test_vectorized_repair_matches_serial_chain(stream):
    """The batch reader's closed-form numpy repair must be bit-identical to
    chaining `repair_seq` from the boundary seed (last_ms=0, last_seq=0) —
    the exactness claim `plan_splits` relies on."""
    import numpy as np

    from spark_ibm_mq_spark.sources.mq import seeded_repair_seq

    ts_sorted = sorted(ms for ms, _ in stream)
    seqs = [s for _, s in stream]
    last_ms, last_seq, serial = 0, 0, []
    for put_ms, raw_seq in zip(ts_sorted, seqs):
        seq = repair_seq(put_ms, raw_seq, last_ms, last_seq)
        serial.append(seq)
        last_ms, last_seq = put_ms, seq
    vec = seeded_repair_seq(
        np.array(ts_sorted, dtype="int64"), np.array(seqs, dtype="int64"), 0, 0
    )
    assert list(vec) == serial


def test_repair_matches_reference_rule():
    # exact scenario from IBMMQReceiver.java:252-254
    assert repair_seq(1004, 1, 1004, 1) == 2  # same ms, reset seq → lastSeq+1
    assert repair_seq(1004, 1, 1004, 2) == 3
    assert repair_seq(1005, 1, 1004, 3) == 1  # new ms → raw seq kept
    assert repair_seq(1004, 7, 1004, 3) == 7  # grouped seq ≠ 1 → kept


# ---------------------------------------------------------------- batch reader


def test_batch_browse_snapshot(spark, broker):
    broker.put_all([(1000, 1, "a"), (1000, 1, "b"), (2000, 1, "c")])
    register_ibmmq(spark)
    df = (
        spark.read.format("ibmmq")
        .option("path", broker.path)
        .option("queue", broker.queue)
        .load()
    )
    rows = sorted((r.key, r.value, r.seq_no) for r in df.collect())
    assert rows == [("1000_1", "a", 1), ("1000_2", "b", 2), ("2000_1", "c", 1)]
    assert broker.depth() == 3  # browse is non-destructive


def test_plan_splits_respects_put_ms_boundaries():
    from spark_ibm_mq_spark.sources.mq import plan_splits

    # runs of equal put_ms must never be cut: target 2 would cut inside the
    # 3-run at index 2..4, so the split slides right to the boundary at 5
    ms = [1, 1, 2, 2, 2, 3, 3, 4]
    splits = plan_splits(ms, target_rows=2, max_splits=64)
    assert splits == [(0, 2), (2, 3), (5, 2), (7, 1)]
    for off, _cnt in splits[1:]:
        assert ms[off] != ms[off - 1]
    assert sum(c for _, c in splits) == len(ms)
    # single-timestamp snapshot degenerates to one serial slice
    assert plan_splits([9, 9, 9, 9], 1, 64) == [(0, 4)]
    assert plan_splits([], 10, 64) == []
    # max_splits caps fan-out
    assert len(plan_splits(list(range(100)), 1, 4)) == 4


def test_batch_read_parallel_splits_match_serial(spark, broker):
    """The put_ms-boundary-split batch read must mint byte-identical keys
    to the serial scan — including synthesized seqs inside collision runs
    that a naive row-count split would sever — and actually fan out."""
    msgs = []
    for t in range(50):  # 50 timestamps × 4-message collision runs
        msgs.extend((10_000 + t, 1, f"m{t}:{i}") for i in range(4))
    broker.put_all(msgs)
    register_ibmmq(spark)

    def load(**extra):
        r = (
            spark.read.format("ibmmq")
            .option("path", broker.path)
            .option("queue", broker.queue)
        )
        for k, v in extra.items():
            r = r.option(k, v)
        return r.load()

    serial = load(batchSplitRows=str(10**9))
    assert serial.rdd.getNumPartitions() == 1
    split = load(batchSplitRows="10")
    assert split.rdd.getNumPartitions() > 1
    rows_serial = sorted(map(tuple, serial.collect()))
    rows_split = sorted(map(tuple, split.collect()))
    assert rows_split == rows_serial and len(rows_split) == 200
    # collision repair produced seqs 1..4 within each timestamp run
    seqs = sorted(r.seq_no for r in split.collect() if r.key.startswith("10000_"))
    assert seqs == [1, 2, 3, 4]


def test_batch_encoding_ccsid(spark, broker):
    broker.put(1000, 1, "café".encode("latin-1"))
    register_ibmmq(spark)
    df = (
        spark.read.format("ibmmq")
        .option("path", broker.path)
        .option("queue", broker.queue)
        .option("encoding", "latin-1")
        .load()
    )
    assert df.collect()[0].value == "café"


def test_batch_numeric_ccsid_option(spark, broker):
    """Integer CCSID option maps to the right codec (the reference's only
    encoding surface, IBMMQReceiver.java:95,242-244): 819 = ISO 8859-1,
    1208 = UTF-8; unknown CCSIDs fail loudly."""
    import pytest as _pytest

    from spark_ibm_mq_spark.sources.mq import ccsid_to_codec

    broker.put(1000, 1, "café".encode("latin-1"))
    broker.put(2000, 1, "naïve".encode("cp037"))
    register_ibmmq(spark)

    def read(ccsid):
        return (
            spark.read.format("ibmmq")
            .option("path", broker.path)
            .option("queue", broker.queue)
            .option("ccsid", str(ccsid))
            .load()
            .collect()
        )

    assert read(819)[0].value == "café"          # ISO 8859-1
    assert read(37)[1].value == "naïve"          # EBCDIC US
    assert ccsid_to_codec(1208) == "utf-8"
    with _pytest.raises(ValueError, match="unsupported CCSID"):
        ccsid_to_codec(424242)


# ------------------------------------------------------------- streaming reader


def _drain(spark, reader, work, runs=8):
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    counts = []
    for _ in range(runs):
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        counts.append(spark.read.parquet(out).count())
        if len(counts) >= 2 and counts[-1] == counts[-2]:
            break
    return spark.read.parquet(out), counts


def test_stream_destructive_exactly_once_with_ack_lag(spark, broker, tmp_path):
    broker.put_all([(1000 + i, 1, f"m{i}") for i in range(10)])
    register_ibmmq(spark)
    df, counts = _drain(
        spark,
        _reader(spark, broker, keepMessages="false", maxMessagesPerBatch="4"),
        str(tmp_path / "work"),
    )
    keys = [r.key for r in df.collect()]
    assert len(keys) == 10 and len(set(keys)) == 10  # exactly-once into sink
    # maxMessagesPerBatch honored: cumulative counts step by ≤4
    assert all(b - a <= 4 for a, b in zip(counts, counts[1:]))
    # commit-after-durable: acks trail by at most one batch, never exceed reads
    assert 10 - 4 <= broker.acked() <= 10


def test_stream_browse_never_acks(spark, broker, tmp_path):
    broker.put_all([(1000 + i, 1, f"m{i}") for i in range(6)])
    register_ibmmq(spark)
    df, _ = _drain(
        spark,
        _reader(spark, broker, keepMessages="true", maxMessagesPerBatch="3"),
        str(tmp_path / "work"),
    )
    assert df.count() == 6
    assert broker.acked() == 0 and broker.depth() == 6


def test_stream_halt_file_pauses(spark, broker, tmp_path):
    halt = str(tmp_path / "q.halt")
    open(halt, "w").close()
    broker.put_all([(1000, 1, "m0"), (1001, 1, "m1")])
    register_ibmmq(spark)
    df, _ = _drain(
        spark,
        _reader(spark, broker, haltFile=halt),
        str(tmp_path / "w1"),
        runs=2,
    )
    assert df.count() == 0  # halted → empty batches (R9)
    os.remove(halt)
    df, _ = _drain(spark, _reader(spark, broker, haltFile=halt), str(tmp_path / "w2"))
    assert df.count() == 2


def test_stream_get_inhibited_pauses(spark, broker, tmp_path):
    broker.put_all([(1000, 1, "m0")])
    broker.set_inhibited(True)
    register_ibmmq(spark)
    df, _ = _drain(spark, _reader(spark, broker), str(tmp_path / "w1"), runs=2)
    assert df.count() == 0  # MQQA_GET_INHIBITED respected (R10)
    broker.set_inhibited(False)
    df, _ = _drain(spark, _reader(spark, broker), str(tmp_path / "w2"))
    assert df.count() == 1


# ------------------------------------------------------------------- reconnect


def _stream_read(opts):
    r = MQSimpleStreamReader(opts)
    start = r.initialOffset()
    return lambda: r.read(start)[1]["pos"]


def _batch_partitions(opts):
    r = MQBatchReader(opts)
    return lambda: sum(p.count for p in r.partitions())


def _batch_read(opts):
    r = MQBatchReader(opts)
    (split,) = r.partitions()
    return lambda: sum(b.num_rows for b in r.read(split))


@pytest.mark.parametrize(
    "call_site",
    [_stream_read, _batch_partitions, _batch_read],
    ids=["stream_read", "batch_partitions", "batch_read"],
)
def test_reader_reconnect(broker, call_site):
    """Every production broker call backs off and retries on a broken
    connection: it raises ConnectionError once `maxReconnects` retries are
    spent, and recovers when the connection returns mid-retry. Each call is
    planned while the connection is up; its message count is returned."""
    broker.put(1000, 1, "m")
    base = {"path": broker.path, "queue": broker.queue}
    give_up = call_site(dict(base, reconnectwaitms="10", maxreconnects="2"))
    recover = call_site(dict(base, reconnectwaitms="50", maxreconnects="20"))
    broker.set_connection_broken(True)
    t0 = time.monotonic()
    with pytest.raises(ConnectionError):
        give_up()
    assert time.monotonic() - t0 >= 0.02  # backed off between attempts
    t = threading.Timer(0.15, broker.set_connection_broken, args=(False,))
    t.start()
    try:
        assert recover() == 1
    finally:
        t.cancel()


# ------------------------------------------------------------------- replay


def _flatten_stream(it) -> list[tuple]:
    """Row tuples from the stream reader's iterator, which yields pyarrow
    RecordBatches; flattened for value-level assertions."""
    rows: list[tuple] = []
    for el in it:
        rows.extend(tuple(r.values()) for r in el.to_pylist())
    return rows


def test_read_between_offsets_deterministic(broker):
    """Replayed ranges mint identical keys because collision-repair state
    lives in the offset (SURVEY.md §7 hard-parts)."""
    broker.put_all([(1000, 1, "a"), (1000, 1, "b"), (1000, 1, "c"), (2000, 1, "d")])
    r = MQSimpleStreamReader({"path": broker.path, "queue": broker.queue})
    start = r.initialOffset()
    it1, end = r.read(start)
    rows1 = _flatten_stream(it1)
    rows2 = _flatten_stream(r.readBetweenOffsets(start, end))
    assert rows1 == rows2
    assert [x[0] for x in rows1] == ["1000_1", "1000_2", "1000_3", "2000_1"]
    size = os.path.getsize(broker._f("jsonl"))
    assert end == {"pos": 4, "byte": size, "last_ms": 2000, "last_seq": 1}
    # an offset without the byte cursor (an older checkpoint) reads and
    # replays the same rows, and the end offset carries the cursor again
    r2 = MQSimpleStreamReader(
        {"path": broker.path, "queue": broker.queue, "maxmessagesperbatch": "2"}
    )
    _, mid = r2.read(r2.initialOffset())
    it_new, end2 = r2.read(mid)
    legacy = {k: v for k, v in mid.items() if k != "byte"}
    it_old, end2_old = r2.read(legacy)
    assert end2_old == end2 == end
    rows_new = _flatten_stream(it_new)
    assert _flatten_stream(it_old) == rows_new == rows1[2:]
    assert _flatten_stream(r2.readBetweenOffsets(legacy, end2)) == rows_new
    # a block with no messages leaves the carry state as it was
    for block in (b"", b"\n"):
        assert arrow_batch_from_block(block, "Q", "utf-8", 2000, 1) == (None, 2000, 1)


def test_torn_tail_is_read_once_complete(broker):
    """A message counts only once its newline is written: a half-appended
    last line is invisible to the stream read, the batch planner and the
    batch read, and the stream picks it up, with the serial-chain key, once
    the line is finished."""
    broker.put_all([(1000, 1, "a"), (1000, 1, "b")])
    tail = b'{"put_ms": 1000, "seq_no": 1, "body": "c"}\n'
    with open(broker._f("jsonl"), "ab") as f:
        f.write(tail[:20])
    opts = {"path": broker.path, "queue": broker.queue}
    stream = MQSimpleStreamReader(opts)
    it, end = stream.read(stream.initialOffset())
    assert [x[0] for x in _flatten_stream(it)] == ["1000_1", "1000_2"]
    assert end == {"pos": 2, "byte": 2 * len(tail), "last_ms": 1000, "last_seq": 2}
    batch = MQBatchReader(opts)
    parts = batch.partitions()
    assert sum(p.count for p in parts) == 2
    keys = [k for p in parts for b in batch.read(p) for k in b.column("key").to_pylist()]
    assert keys == ["1000_1", "1000_2"]
    assert broker.depth() == 2
    with open(broker._f("jsonl"), "ab") as f:
        f.write(tail[20:])
    it, end = stream.read(end)
    assert [x[0] for x in _flatten_stream(it)] == ["1000_3"]
    assert end == {"pos": 3, "byte": 3 * len(tail), "last_ms": 1000, "last_seq": 3}


@given(
    bodies=st.lists(
        st.one_of(st.text(max_size=12), st.binary(max_size=12)), min_size=0, max_size=30
    ),
    limit=st.integers(1, 7),
    torn=st.integers(0, 40),
)
@example(bodies=[], limit=1, torn=0)
@example(bodies=["a", "é\n", b"\n\xff"], limit=2, torn=17)
@settings(max_examples=150, deadline=None)
def test_message_block_seek_matches_skip(bodies, limit, torn):
    """Reading by byte cursor returns the same bytes as skipping lines, at
    every queue position and with a half-appended last line: the cursor is
    chained as the stream reader chains it (next start = start + block
    length), and it agrees with the planner's offsets and with
    `byte_offset`. The reference slices the file's complete lines."""
    with tempfile.TemporaryDirectory() as d:
        b = FakeMQBroker(d, "Q.SEEK")
        b.put_all((1000 + i // 3, 1, body) for i, body in enumerate(bodies))
        tail = b'{"put_ms": 9000, "seq_no": 1, "body": "torn tail"}\n'
        with open(b._f("jsonl"), "ab") as f:
            f.write(tail[: min(torn, len(tail) - 1)])
        with open(b._f("jsonl"), "rb") as f:
            lines = [line for line in f if line.endswith(b"\n")]
        assert len(lines) == len(bodies)

        def skipped(pos):
            return b"".join(lines[pos : pos + limit])

        _, offsets = b.put_ms_index_with_offsets(0)
        for pos in range(len(bodies) + 2):
            byte = b.byte_offset(pos)
            if pos < len(bodies):
                assert byte == offsets[pos]
            assert b.message_block(pos, limit, byte) == skipped(pos)
            assert b.message_block(pos, limit) == skipped(pos)
        pos = byte = 0
        while True:
            block = b.message_block(pos, limit, byte)
            assert block == skipped(pos)
            if not block:
                break
            pos, byte = pos + block.count(b"\n"), byte + len(block)
        assert pos == len(bodies)


@given(
    stream=st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 3)), min_size=0, max_size=200
    ),
    seed_ms=st.integers(0, 5),
    seed_seq=st.integers(0, 6),
)
@example(stream=[], seed_ms=0, seed_seq=0)
@example(stream=[(1, 1), (1, 1), (1, 2), (1, 1), (2, 1), (2, 3)], seed_ms=0, seed_seq=0)
@example(stream=[(3, 1), (3, 1), (4, 1)], seed_ms=3, seed_seq=5)
@settings(max_examples=200, deadline=None)
def test_seeded_repair_matches_serial_chain(stream, seed_ms, seed_seq):
    """The closed-form repair must chain bit-identically to the serial rule
    from any carry-in (last_ms, last_seq): the stream offset's state, and
    the (0, 0) seed every put_ms-boundary batch split starts from, which is
    the exactness claim `plan_splits` relies on."""
    import numpy as np

    from spark_ibm_mq_spark.sources.mq import seeded_repair_seq

    ts_sorted = sorted(ms for ms, _ in stream)
    seqs = [s for _, s in stream]
    last_ms, last_seq, serial = seed_ms, seed_seq, []
    for put_ms, raw_seq in zip(ts_sorted, seqs):
        seq = repair_seq(put_ms, raw_seq, last_ms, last_seq)
        serial.append(seq)
        last_ms, last_seq = put_ms, seq
    vec = seeded_repair_seq(
        np.array(ts_sorted, dtype="int64"),
        np.array(seqs, dtype="int64"),
        seed_ms,
        seed_seq,
    )
    assert list(vec) == serial


# ------------------------------------------------- injected failures and resume


def _dedup_drain(spark, broker, work, max_per_batch):
    """A destructive stream through `dropDuplicatesWithinWatermark(["key"])`
    into a parquet sink, restarted with the same checkpoint (availableNow)
    until the sink holds every message put so far. Returns the sink's
    (key, value) rows in key order and the number of runs that failed.
    One state partition and no watermark-only batches keep each run short."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    total = broker.depth() + broker.acked()
    failed = 0
    confs = {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        for _ in range(12):
            q = (
                _reader(spark, broker, keepMessages="false",
                        maxMessagesPerBatch=str(max_per_batch))
                .load()
                .withColumn("put_ts", F.col("put_ts").cast("timestamp"))
                .withWatermark("put_ts", "1 hour")
                .dropDuplicatesWithinWatermark(["key"])
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            except StreamingQueryException:  # the injected failure; restart
                failed += 1
                continue
            if os.path.isdir(out) and spark.read.parquet(out).count() >= total:
                break
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    rows = spark.read.parquet(out).select("key", "value").collect()
    return sorted((r.key, r.value) for r in rows), failed


def _collision_batch(n, start=0):
    """``n`` messages in put_ms runs of 3 with raw seq 1, so keys come from
    the repair chain carried in the offset."""
    return [(1000 + (start + i) // 3, 1, f"m{start + i}") for i in range(n)]


_N = 30  # messages a resume test delivers: three batches of 10


@pytest.fixture(scope="module")
def clean_rows(spark, tmp_path_factory):
    """The (key, value) rows of a clean destructive drain of the resume
    tests' queue: no failure, no restart mid-batch."""
    register_ibmmq(spark)
    tmp = tmp_path_factory.mktemp("clean")
    clean = FakeMQBroker(str(tmp / "broker"), "Q.TEST")
    clean.put_all(_collision_batch(_N))
    rows, failed = _dedup_drain(spark, clean, str(tmp / "work"), 10)
    assert failed == 0
    return rows


def _assert_same_delivery(rows, clean_rows):
    keys = [k for k, _ in rows]
    assert len(rows) == _N, "lost or duplicated messages"
    assert len(set(keys)) == _N
    assert rows == clean_rows  # byte-identical keys and bodies


def test_commit_failure_after_offset_log_then_restart(spark, broker, tmp_path, clean_rows):
    """Crash between the offset log and the MQ commit: `commit(end)` raises
    once, after Spark has written the next batch's offset log. The restart
    resumes from the checkpoint; nothing is lost, the deduplicated output
    holds each message once, and its keys are those of a clean run."""
    register_ibmmq(spark)
    broker.put_all(_collision_batch(_N))
    broker.fail_next_ack()
    rows, failed = _dedup_drain(spark, broker, str(tmp_path / "work"), 10)
    assert failed == 1 and not os.path.exists(broker._f("ackfail"))
    _assert_same_delivery(rows, clean_rows)
    assert broker.acked() >= _N - 10  # every batch but the last is acked


def _strip_byte_cursor(ckpt):
    """Rewrite the checkpoint's offset log as a checkpoint from before the
    byte cursor: source offsets without ``byte``, stale checksums dropped."""
    offsets = os.path.join(ckpt, "offsets")
    names = [f for f in os.listdir(offsets) if f.isdigit()]
    assert names
    for name in names:
        path = os.path.join(offsets, name)
        with open(path, encoding="utf-8") as f:
            lines = f.read().split("\n")
        src = json.loads(lines[2])
        assert "byte" in src
        del src["byte"]
        lines[2] = json.dumps(src)
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines))
        crc = os.path.join(offsets, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return sorted(names, key=int)


def test_old_checkpoint_without_byte_cursor_resumes(spark, broker, tmp_path, clean_rows):
    """A checkpoint written the old way (default checkpoint file manager,
    offsets without ``byte``) resumes under the byte cursor: its last batch
    is replayed from an offset without ``byte`` and the next batch read
    from one, each by one line skip. No message is lost or duplicated and
    the keys match a clean run, including across the repair chain that
    spans the resume."""
    from spark_ibm_mq_spark.session import tune_for_oracle

    register_ibmmq(spark)
    work = str(tmp_path / "work")
    ckpt = os.path.join(work, "ckpt")
    broker.put_all(_collision_batch(16))
    spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    try:
        rows, failed = _dedup_drain(spark, broker, work, 10)
    finally:
        tune_for_oracle(spark)
    assert failed == 0 and len(rows) == 16
    last = _strip_byte_cursor(ckpt)[-1]
    # drop the last commit so the restart replays that batch as well
    for f in (last, f".{last}.crc"):
        path = os.path.join(ckpt, "commits", f)
        if os.path.exists(path):
            os.remove(path)
    broker.put_all(_collision_batch(_N - 16, start=16))
    rows, failed = _dedup_drain(spark, broker, work, 10)
    assert failed == 0
    _assert_same_delivery(rows, clean_rows)
    # the deduplication above would hide a batch read from the wrong place;
    # the offsets logged after the resume would not
    offsets = os.path.join(ckpt, "offsets")
    logged = [
        json.loads(open(os.path.join(offsets, f), encoding="utf-8").read().split("\n")[2])
        for f in sorted((f for f in os.listdir(offsets) if f.isdigit()), key=int)
    ]
    resumed = [o for o in logged if "byte" in o]
    assert resumed and resumed[-1]["pos"] == _N
    assert all(o["byte"] == broker.byte_offset(o["pos"]) for o in resumed)


def test_register_on_a_second_session_of_one_context(spark, broker):
    """`register_ibmmq` is idempotent for every session of a SparkContext:
    a session from `newSession()` registers and reads, and the session
    that was active stays active."""
    from pyspark.sql import SparkSession

    broker.put_all(_collision_batch(5))
    register_ibmmq(spark)
    active = SparkSession.getActiveSession()._jsparkSession
    other = spark.newSession()
    register_ibmmq(other)
    register_ibmmq(other)
    df = other.read.format("ibmmq").option("path", broker.path).option("queue", broker.queue)
    assert df.load().count() == 5
    assert SparkSession.getActiveSession()._jsparkSession.equals(active)


# ---------------------------------------------------------------- DLQ routing


def test_dlq_routes_corrupt_bodies(spark, tmp_path):
    """The parse_error branch of mq_dlq_split: bodies that aren't valid
    envelope JSON route to the DLQ with reason 'parse_error'; valid ones
    split on the k-domain rule. (The shared fixture queue has no corrupt
    bodies, so this path gets its own deliberately-poisoned broker.)"""
    d = str(tmp_path / "poison")
    b = FakeMQBroker(d, "EVENTS.Q")
    b.put_all(
        [
            (1_700_000_000_000, 1, '{"k": 5}'),       # main/ok
            (1_700_000_000_001, 2, '{"k": 95}'),      # dlq/domain_violation
            (1_700_000_000_002, 3, "not json at all"),  # dlq/parse_error
            (1_700_000_000_003, 4, '{"other": 1}'),   # dlq/parse_error (no k)
        ]
    )
    from spark_ibm_mq_spark.operators.mq_source import dlq_route

    rows = {
        (r.route, r.reason): (r.n, r.min_seq, r.max_seq)
        for r in dlq_route(spark, d).collect()
    }
    assert rows[("main", "ok")] == (1, 1, 1)
    assert rows[("dlq", "domain_violation")] == (1, 2, 2)
    assert rows[("dlq", "parse_error")] == (2, 3, 4)


@pytest.mark.parametrize(
    "opts, match",
    [
        ({"keepmessages": "yes"}, "keepMessages"),
        ({"keepmessages": "1"}, "keepMessages"),
        ({"keepmessages": ""}, "keepMessages"),
        ({"maxmessagesperbatch": "0"}, "maxMessagesPerBatch"),
        ({"maxmessagesperbatch": "-5"}, "maxMessagesPerBatch"),
    ],
)
def test_options_that_would_silently_change_behaviour_are_rejected(opts, match):
    """A misspelt keepMessages would read as false and turn a browse into a
    destructive GET; a batch cap of 0 would stall the stream with no error.
    Both must fail at reader creation, naming the option."""
    from spark_ibm_mq_spark.sources.mq import _Options

    with pytest.raises(ValueError, match=match):
        _Options({"path": "/unused", **opts})
    for keep in ("TRUE", "False"):
        assert _Options({"path": "/unused", "keepmessages": keep}).keep_messages is (
            keep.lower() == "true"
        )


# ------------------------------------------------------- fixture cache safety


def test_broker_fixture_rebuilds_when_events_regenerated(tmp_path):
    """Regenerating events.parquet at the same path must rebuild the broker
    queue: the cache key is the size+mtime fingerprint of the source
    parquet, not the path alone — a stale queue here would silently diverge
    from the fresh parquet the oracle reads."""
    import duckdb

    from spark_ibm_mq_spark.operators.mq_source import _QUEUE, _broker_dir_for

    sf = str(tmp_path / "sf")
    os.makedirs(sf)

    def write_events(n):
        duckdb.connect().execute(
            f"""COPY (SELECT make_timestamp(1700000000000000 + i*1000000) AS ts,
                             i AS event_id, i AS user_id,
                             'click' AS event_type, '{{}}' AS props
                      FROM range(1, {n + 1}) r(i))
                TO '{sf}/events.parquet' (FORMAT PARQUET)"""
        )

    write_events(3)
    d1 = _broker_dir_for(sf)
    with open(os.path.join(d1, f"{_QUEUE}.jsonl")) as f:
        assert len(f.readlines()) == 3
    # Same fixture content untouched: the cache must hit (same dir, no rebuild).
    assert _broker_dir_for(sf) == d1
    # Regenerate the fixture with different content at the SAME path.
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    write_events(5)
    d2 = _broker_dir_for(sf)
    assert d2 != d1, "path-only cache key served a stale broker queue"
    with open(os.path.join(d2, f"{_QUEUE}.jsonl")) as f:
        assert len(f.readlines()) == 5


def test_vectorized_scan_rejects_blank_line(tmp_path):
    """A blank line in the queue file desyncs newline offsets from the
    pyarrow record parse — the scan must fail loudly (ADVICE r9 #4), not
    surface misaligned offsets downstream."""
    d = str(tmp_path / "q")
    b = FakeMQBroker(d, "Q.BAD")
    b.put_all([(1000, 1, "a"), (2000, 2, "b")])
    with open(os.path.join(d, "Q.BAD.jsonl"), "a") as f:
        f.write("\n")  # blank line
        f.write('{"put_ms": 3000, "seq_no": 3, "body": "c"}\n')
    with pytest.raises(ValueError, match="blank or malformed"):
        b.put_ms_index_with_offsets(0)


def test_vectorized_scan_rejects_missing_put_ms(tmp_path):
    d = str(tmp_path / "q")
    b = FakeMQBroker(d, "Q.BAD2")
    b.put_all([(1000, 1, "a")])
    with open(os.path.join(d, "Q.BAD2.jsonl"), "a") as f:
        f.write('{"seq_no": 2, "body": "b"}\n')
    with pytest.raises(ValueError, match="missing put_ms"):
        b.put_ms_index_with_offsets(0)
