"""Streaming telemetry (reference R14, IBMMQReceiver.java:481-522).

The reference prints queue/connection state once a minute from inside the
receiver; Structured Streaming surfaces the same operational signals
through StreamingQueryListener progress events. The listener collects them
so they can be queried as a DataFrame — `metrics()` is the once-a-minute
dump as a table instead of stdout."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# Phases of a batch's ``durationMs`` kept beside ``triggerExecution``, so a
# slow batch shows which step (source offsets, offset WAL, the sink, the
# commit log) took its time; a phase a batch did not run reads 0.
_PHASE_COLUMNS = {
    "latestOffset": "latest_offset_ms",
    "walCommit": "wal_commit_ms",
    "addBatch": "add_batch_ms",
    "commitOffsets": "commit_offsets_ms",
}


class MQTelemetryListener(StreamingQueryListener):
    """Collects per-batch progress: rows/sec, batch duration, input rows —
    the recordsRcvd/recordsCmited counters of the reference's
    produceCounts(), plus what it couldn't see (processing rate)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        durations = p.get("durationMs") or {}
        self.progress.append(
            {
                "query_id": p.get("id"),
                "batch_id": p.get("batchId"),
                "num_input_rows": p.get("numInputRows", 0),
                "input_rows_per_sec": float(p.get("inputRowsPerSecond") or 0.0),
                "processed_rows_per_sec": float(p.get("processedRowsPerSecond") or 0.0),
                "batch_duration_ms": int(durations.get("triggerExecution", 0)),
                **{col: int(durations.get(k, 0)) for k, col in _PHASE_COLUMNS.items()},
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))

    def metrics(self, spark: SparkSession) -> DataFrame:
        columns = [
            ("query_id", "string"),
            ("batch_id", "bigint"),
            ("num_input_rows", "bigint"),
            ("input_rows_per_sec", "double"),
            ("processed_rows_per_sec", "double"),
            ("batch_duration_ms", "bigint"),
        ] + [(col, "bigint") for col in _PHASE_COLUMNS.values()]
        schema = ", ".join(f"{name} {kind}" for name, kind in columns)
        rows = [tuple(p[name] for name, _ in columns) for p in self.progress]
        return spark.createDataFrame(rows, schema)
