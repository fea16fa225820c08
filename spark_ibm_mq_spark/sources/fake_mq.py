"""File-backed fake IBM MQ broker.

Stands in for a queue manager so the `ibmmq` DataSource is testable without
a broker (SURVEY.md §5.2: "an in-memory queue stub implementing
get/browse/commit/backout"). File-backed rather than in-memory because the
DataSource reader runs in a separate Python worker process — state must
survive the process boundary.

Layout under a broker directory (one broker == one queue manager):

    <dir>/<queue>.jsonl    messages, one JSON object per line:
                           {"put_ms": <epoch millis>, "seq_no": <int>,
                            "body": <str>} or {"body_b64": <base64 bytes>}
                           (body_b64 exercises the CCSID/encoding path,
                            IBMMQReceiver.java:242-244)
    <dir>/<queue>.ack      int: messages destructively consumed (committed)
                           — the MQ-side effect of qmgr.commit()
                           (IBMMQReceiver.java:357-360)
    <dir>/<queue>.inhibit  exists → MQQA_GET_INHIBITED
                           (IBMMQReceiver.java:232-235,428)
    <dir>/<queue>.fail     exists → simulate a broken connection: reads
                           raise until the file is removed
                           (reconnect path, IBMMQReceiver.java:154-198)
    <dir>/<queue>.ackfail  exists → the next ack fails once and removes it
                           (a crash between the offset log and the commit)

Semantics:
- *browse* (keepMessages=true) reads never move `.ack`; a browse cursor is
  just a line position (MQOO_BROWSE / BROWSE_FIRST→NEXT,
  IBMMQReceiver.java:131-134,203-205).
- *destructive get* under syncpoint = read lines, then `ack(n)` on commit;
  crash before ack ⇒ the same lines are re-read (at-least-once, matching
  store→commit ordering, IBMMQReceiver.java:349-393).
"""

from __future__ import annotations

import base64
import itertools
import json
import os
from collections.abc import Iterable


class FakeMQBroker:
    """A file-backed queue manager exposing the calls the `ibmmq` source and
    `MQWritebackSink` make: ``message_block(from_pos, limit, byte_off)``,
    ``byte_offset(pos)``, ``put_ms_index_with_offsets(from_pos)``,
    ``ack(upto_pos)``, ``acked()``, ``depth()``, ``get_inhibited()`` and
    ``put_all(messages)``. A client for a live queue manager would
    implement the same calls:

    - connect with MQCSP auth              ↔ IBMMQReceiver.java:403-415
    - browse cursor (MQOO_BROWSE, BROWSE_FIRST/NEXT) == ``from_pos``;
      destructive get                      ↔ IBMMQReceiver.java:131-136,203-211
    - MQGMO_SYNCPOINT gets; ``ack(upto)`` == qmgr.commit(), a failed
      batch == backout                     ↔ IBMMQReceiver.java:349-393
    - CCSID conversion via MQGMO_CONVERT   ↔ IBMMQReceiver.java:204,242-244
    - ``depth()`` == MQIA_CURRENT_Q_DEPTH; ``get_inhibited()`` ==
      MQIA_INHIBIT_GET

    A message exists once its trailing newline is written: every read stops
    at the last ``\n``, so a reader racing a producer never sees a
    half-appended line."""

    def __init__(self, path: str, queue: str = "DEV.QUEUE.1") -> None:
        self.path = path
        self.queue = queue
        os.makedirs(path, exist_ok=True)

    # ---- file paths ----
    def _f(self, suffix: str) -> str:
        return os.path.join(self.path, f"{self.queue}.{suffix}")

    def _check_connection(self) -> None:
        if self.connection_broken():
            raise ConnectionError(f"fake MQ: connection to {self.queue} is down")

    def _read_complete(self) -> bytes:
        """The whole queue file up to its last newline."""
        try:
            with open(self._f("jsonl"), "rb") as f:
                data = f.read()
        except FileNotFoundError:
            return b""
        return data[: data.rfind(b"\n") + 1]

    # ---- producer side ----
    def put(self, put_ms: int, seq_no: int, body: str | bytes) -> None:
        self.put_all([(put_ms, seq_no, body)])

    def put_all(self, messages: Iterable[tuple[int, int, str | bytes]]) -> None:
        with open(self._f("jsonl"), "a", encoding="utf-8") as f:
            for put_ms, seq_no, body in messages:
                rec: dict = {"put_ms": int(put_ms), "seq_no": int(seq_no)}
                if isinstance(body, bytes):
                    rec["body_b64"] = base64.b64encode(body).decode("ascii")
                else:
                    rec["body"] = body
                f.write(json.dumps(rec) + "\n")

    # ---- consumer side ----
    def messages(self, from_pos: int, limit: int | None = None) -> list[dict]:
        """`message_block` parsed into one dict per message."""
        return [json.loads(line) for line in self.message_block(from_pos, limit).splitlines()]

    def message_block(
        self, from_pos: int, limit: int | None = None, byte_off: int | None = None
    ) -> bytes:
        """Up to ``limit`` messages from queue position ``from_pos`` (a line
        number; destructive consumers pass ``from_pos >= acked()``) as raw
        newline-delimited JSON, which the source parses in one columnar
        pass. ``byte_off``, when the caller has it, is the byte offset of
        ``from_pos``: the read seeks there instead of skipping ``from_pos``
        lines, so it costs O(block) rather than O(queue prefix). The batch
        planner takes it from `put_ms_index_with_offsets`; the stream reader
        carries it in its offset, where each block's end (always a ``\n``)
        is the next block's start."""
        if byte_off is None:
            byte_off = self.byte_offset(from_pos)
        self._check_connection()
        try:
            f = open(self._f("jsonl"), "rb")
        except FileNotFoundError:
            return b""
        with f:
            f.seek(byte_off)
            block = b"".join(itertools.islice(f, limit))
        return block[: block.rfind(b"\n") + 1]

    def byte_offset(self, pos: int) -> int:
        """The byte offset of queue position ``pos``, by skipping ``pos``
        lines: how a reader without a byte cursor finds where to seek."""
        self._check_connection()
        try:
            f = open(self._f("jsonl"), "rb")
        except FileNotFoundError:
            return 0
        with f:
            return sum(map(len, itertools.islice(f, pos)))

    def put_ms_index_with_offsets(
        self, from_pos: int
    ) -> tuple[list[int], list[int]]:
        """The put_ms and byte offset of every message from ``from_pos``
        on: the batch planner cuts splits at put_ms changes and hands each
        split a seek position (see `message_block`). Bodies are not
        decoded: one numpy newline scan gives the offsets and one pyarrow
        JSON parse restricted to ``put_ms`` gives the timestamps, with no
        per-line Python, since the planner runs this once per batch job."""
        self._check_connection()
        data = self._read_complete()
        if not data:
            return [], []
        import io

        import numpy as np
        import pyarrow as pa
        import pyarrow.json as pj

        nl = np.flatnonzero(np.frombuffer(data, dtype=np.uint8) == 0x0A)
        starts = np.concatenate(([0], nl[:-1] + 1))
        parsed = pj.read_json(
            io.BytesIO(data),
            parse_options=pj.ParseOptions(
                explicit_schema=pa.schema([("put_ms", pa.int64())]),
                unexpected_field_behavior="ignore",
            ),
        )
        col = parsed["put_ms"].combine_chunks()
        # A blank line or a record without put_ms would desync the offsets
        # from the parsed records (and a null put_ms fails later with a far
        # less readable ArrowInvalid), so both fail here, loudly.
        qfile = self._f("jsonl")
        if col.null_count:
            raise ValueError(
                f"fake MQ: {col.null_count} record(s) in {qfile} missing put_ms"
            )
        ms = col.to_numpy()
        if len(ms) != len(starts):
            raise ValueError(
                f"fake MQ: {qfile} parsed {len(ms)} records but has "
                f"{len(starts)} non-empty lines — blank or malformed line in queue file"
            )
        return ms[from_pos:].tolist(), starts[from_pos:].tolist()

    @staticmethod
    def decode_body(rec: dict, encoding: str = "utf-8") -> str:
        if "body_b64" in rec:
            raw = base64.b64decode(rec["body_b64"])
            if encoding == "utf-16-mq":
                # IBM MQ CCSID 1200: honor a BOM if present, otherwise
                # default to BIG-endian — BOM-less MQ UTF-16 payloads are
                # conventionally BE, whereas Python's bare 'utf-16' would
                # silently assume LE and mojibake.
                if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
                    return raw.decode("utf-16")
                return raw.decode("utf-16-be")
            return raw.decode(encoding)
        return rec["body"]

    def ack(self, upto_pos: int) -> None:
        """Destructively consume messages below upto_pos (monotone). With
        the ``ackfail`` flag set, the call fails once instead and clears
        the flag: the commit that fails after Spark has logged the offset."""
        try:
            os.remove(self._f("ackfail"))
        except FileNotFoundError:
            pass
        else:
            raise OSError(f"fake MQ: commit on {self.queue} failed")
        cur = self.acked()
        if upto_pos > cur:
            tmp = self._f("ack.tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(str(int(upto_pos)))
            os.replace(tmp, self._f("ack"))

    def acked(self) -> int:
        try:
            with open(self._f("ack"), encoding="utf-8") as f:
                return int(f.read().strip() or 0)
        except FileNotFoundError:
            return 0

    # ---- queue state ----
    def depth(self) -> int:
        """Current queue depth (total puts − destructive consumes)."""
        return self._read_complete().count(b"\n") - self.acked()

    def get_inhibited(self) -> bool:
        return os.path.exists(self._f("inhibit"))

    def set_inhibited(self, flag: bool) -> None:
        if flag:
            open(self._f("inhibit"), "w").close()
        elif os.path.exists(self._f("inhibit")):
            os.remove(self._f("inhibit"))

    def fail_next_ack(self) -> None:
        open(self._f("ackfail"), "w").close()

    def connection_broken(self) -> bool:
        return os.path.exists(self._f("fail"))

    def set_connection_broken(self, flag: bool) -> None:
        if flag:
            open(self._f("fail"), "w").close()
        elif os.path.exists(self._f("fail")):
            os.remove(self._f("fail"))
