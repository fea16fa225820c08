"""Streaming analytics as driver-checkable queries (SURVEY.md §7 M4).

Each query REALLY runs Structured Streaming — events.parquet replayed as a
file-source stream, processed with event-time windows / watermarked dedup /
stream-static joins, drained with Trigger.AvailableNow into a memory sink —
then returns the sink table, whose contents a batch SQL oracle reproduces
exactly. Complete output mode is used for some windowed aggregations so no
window is withheld by the final watermark (deterministic end state) — but
complete mode retains every window ever seen in the state store, which is
unbounded on an unbounded stream: it is a determinism FIXTURE, not the
deployment mode. The scale-safe shape is `stream_tumbling_counts_append`
(watermark-closed append mode, state bounded by open windows only); its
oracle filters the batch result to windows the final watermark has passed
(window_end <= max(ts) - delay, verified against Spark's eviction).

Scale notes: windowed aggregations shuffle on (window, key) with partial
aggregation per micro-batch; state size = open windows × keys, bounded by
the watermark. Stream-static joins broadcast the static dim per batch.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from spark_ibm_mq_spark.operators.projections import EVENTS_CTE
from spark_ibm_mq_spark.registry import register
from spark_ibm_mq_spark.streaming.readers import events_file_stream
from spark_ibm_mq_spark.session import scratch_dir
from spark_ibm_mq_spark.tables import fixture_cache, load_table


def _replay_src(
    df: DataFrame,
    key: str,
    sf_dir: str,
    tables: tuple[str, ...],
    order_by: str | None = None,
) -> str:
    """4-file parquet export of ``df``, a deterministic micro-batch replay
    source (maxFilesPerTrigger=1 → 4 micro-batches).

    The export is READ-ONLY derived data, identical for every call on one
    version of ``tables``, so `fixture_cache` builds it once under ``key``:
    re-exporting 600 k rows per call was ~35 % of
    stream_tpch_q1_incremental's wall clock. Checkpoints and snapshot dirs
    stay strictly per-call: those ARE the mutable streaming state.

    ``order_by``: when set (e.g. "ts"), the export is range-partitioned on
    that column so file part-0000i holds the i-th ascending range, and the
    part files are re-stamped with ASCENDING mtimes — FileStreamSource
    schedules files by modification time, not path (verified: same-mtime
    files replayed out of order and a watermark dropped half the keys), so
    the mtime stamp is what makes the replay arrive IN EVENT-TIME ORDER
    and keeps a watermark from dropping genuinely-owed rows. Required by
    any watermarked consumer; the unordered default is only for consumers
    with no late-data semantics (the foreachBatch merges)."""

    def build(out: str) -> None:
        part = (
            df.repartitionByRange(4, order_by)
            if order_by
            else df.repartition(4)
        )
        part.write.mode("overwrite").parquet(out)
        if order_by:
            import time as _time

            base = _time.time()
            for i, f in enumerate(
                sorted(
                    f for f in os.listdir(out)
                    if f.startswith("part-") and f.endswith(".parquet")
                )
            ):
                os.utime(os.path.join(out, f), (base + 10 * i, base + 10 * i))

    name = f"replay_{key}" + (f"_by_{order_by}" if order_by else "")
    return fixture_cache(sf_dir, tables, name, build)


def run_snapshot_merge_stream(
    spark: SparkSession,
    *,
    src: str,
    schema: str,
    scratch: str,
    batch_agg,
    merge,
    min_batches: int = 4,
    shuffle_partitions: int = 4,
) -> DataFrame:
    """The foreachBatch snapshot-merge scaffold shared by the six
    incremental-view-maintenance twins (upsert, CDC apply, TPC-H Q1,
    CUSUM, KS drift, DSIR): replay ``src`` one file per micro-batch,
    reduce each batch with ``batch_agg``, fold it into the previous
    snapshot with ``merge(prev, agg)``, and return the FINAL snapshot
    frame. Factored once (r13 review) so the commit discipline lives in
    one place instead of six near-verbatim copies:

    - snapshots are named by batch_id and committed to a driver-side
      log (the ``applied`` dict) — the Delta/Iceberg commit model minus
      the manifest;
    - the merge is IDEMPOTENT on batch_id: foreachBatch's contract is
      at-least-once, so a replay of a committed batch is skipped and a
      replay of an UNcommitted one overwrites its own partial output;
    - each micro-batch is pre-aggregated by ``batch_agg`` BEFORE
      touching the snapshot, so the merge shuffle carries one row per
      touched key, never raw input rows — state lives in the store,
      not executor memory.

    Shuffle partitioning (r16 opt, guide §2.2/§6): the scaffold pins
    ``spark.sql.shuffle.partitions`` to the same small constant
    `_run_to_memory` uses while the stream drains. Without the pin every
    per-batch ``batch_agg``/``merge`` aggregation ran at the session's
    32 partitions, so each of the 4+ micro-batches wrote a 32-file
    snapshot and the next batch re-opened all 32 — 8× the task launches
    and file opens per round for key cardinalities in the hundreds.
    Parameterized the same way as `_run_to_memory` (a latency dial, not
    a constant tuned to this host): production sizes it to state volume.
    Snapshot CONTENT is unchanged — only file count per snapshot drops.
    """
    applied: dict[int, str] = {}  # batch_id -> committed snapshot path

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in applied:
            return  # replay of a committed batch: already folded in, skip
        agg = batch_agg(batch_df)
        prev_ids = [b for b in applied if b < batch_id]
        if prev_ids:
            prev = batch_df.sparkSession.read.parquet(applied[max(prev_ids)])
            agg = merge(prev, agg)
        path = os.path.join(scratch, f"snap_b{batch_id}")
        # overwrite: a replay of an UNcommitted batch redoes its own write
        agg.write.mode("overwrite").parquet(path)
        applied[batch_id] = path

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(_merge)
            .option("checkpointLocation", os.path.join(scratch, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    assert (
        len(applied) >= min_batches
    ), f"expected >={min_batches} merge rounds, got {len(applied)}"
    return spark.read.parquet(applied[max(applied)])


def additive_merge(keys: list[str], sums: list[str]):
    """merge() for the count-monoid twins: union the snapshot with the
    batch partial and re-sum every measure per key — valid exactly when
    all measures are ASSOCIATIVE bigint sums."""

    def _m(prev: DataFrame, agg: DataFrame) -> DataFrame:
        return (
            prev.unionByName(agg)
            .groupBy(*keys)
            .agg(*[F.sum(c).cast("bigint").alias(c) for c in sums])
        )

    return _m


def _run_to_memory(
    stream_df: DataFrame, mode: str, shuffle_partitions: int = 4
) -> DataFrame:
    """Drain a streaming frame into a uniquely-named memory sink with
    availableNow and return the sink table.

    Stateful streaming tasks each open a state store per shuffle partition,
    so partition count is a latency/parallelism dial, not free: the fixture
    streams are thousands of rows, where 32 stores per operator is pure
    overhead. 4 here (an interleaved family A/B at sf0.1 measured 8→4 as
    −8%); a real deployment sizes this to cores × state volume
    (the partition count is baked into the checkpoint on first run).

    The checkpoint is explicit ephemeral scratch (`scratch_dir`, removed at
    interpreter exit) rather than the temp checkpoint Spark would leave
    under java.io.tmpdir. Its file system barely matters for speed: ext4
    and tmpfs write checkpoint files within 10% of each other. The
    per-file cost was the child processes Hadoop's default checkpoint
    file manager starts without libhadoop, which the session's
    FileSystem-based manager avoids (`session._RUNTIME_CONFS`). A
    production query replaces this with a durable HDFS/S3 checkpoint —
    recovery semantics need it; a drain that returns within the call does
    not."""
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(scratch_dir("stream_ckpt_"), "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


@register(
    "stream_tumbling_counts",
    oracle=f"""
    {EVENTS_CTE}
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)                    AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type,
           count(*)             AS n,
           round(sum(value), 4) AS total_value
    FROM ev
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type over a real
    streaming query (watermark + window + complete mode)."""
    ev = events_file_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "stream_tumbling_counts_append",
    oracle=f"""
    {EVENTS_CTE}
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)                    AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type,
           count(*)             AS n,
           round(sum(value), 4) AS total_value
    FROM ev
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM ev)
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_counts_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe variant of `stream_tumbling_counts`: append output
    mode, so a window is emitted exactly once when the watermark passes its
    end and its state is evicted — state is bounded by open windows × keys
    instead of growing forever as in complete mode. This is the mode a 100 TB
    deployment runs; the complete-mode twin exists only as the
    every-window determinism fixture.

    Oracle: the batch aggregation restricted to windows the final watermark
    (max event time − 10 min) has passed; the fixture replays as a single
    micro-batch, so no event is ever late and the trailing no-data batch
    flushes every closed window deterministically. (Emission boundary
    `window_end <= watermark` verified empirically against Spark's state
    eviction; exact equality is unreachable with the fixture's microsecond
    timestamps vs whole-hour window ends.)"""
    ev = events_file_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "stream_sliding_counts",
    oracle=f"""
    {EVENTS_CTE}
    SELECT CAST(ws AS TIMESTAMP) AS window_start, count(*) AS n
    FROM (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
        FROM ev
    )
    GROUP BY 1
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length / 1h slide): every event lands in two
    windows; oracle enumerates the same two starts per event."""
    ev = events_file_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"), "n"
    )


@register(
    "stream_sliding_counts_append",
    oracle=f"""
    {EVENTS_CTE}
    SELECT CAST(ws AS TIMESTAMP) AS window_start, count(*) AS n
    FROM (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
        FROM ev
    )
    WHERE ws + INTERVAL 2 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM ev)
    GROUP BY 1
    """,
)
def stream_sliding_counts_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode twin of `stream_sliding_counts` (2h/1h sliding windows):
    each window emitted once when the watermark passes its end, state
    bounded by open windows — the deployment mode. Oracle: the two
    enumerated window starts per event, restricted to windows whose end
    (start + 2h) the final watermark has passed."""
    ev = events_file_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"), "n"
    )


@register(
    "stream_session_windows",
    oracle=f"""
    {EVENTS_CTE}
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP)                     AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           count(*)                                        AS n_events
    FROM (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             <= INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS new_session
            FROM ev
        )
    )
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user as a real streaming
    aggregation; the oracle reproduces Spark's session semantics
    (end = last event + gap) with the classic lag/island batch SQL."""
    ev = events_file_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


@register(
    "stream_session_windows_append",
    oracle=f"""
    {EVENTS_CTE}
    SELECT user_id, session_start, session_end, n_events FROM (
        SELECT user_id,
               CAST(min(ts) AS TIMESTAMP)                      AS session_start,
               CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
               count(*)                                        AS n_events
        FROM (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM (
                SELECT user_id, ts, event_id,
                       CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                 <= INTERVAL 30 MINUTE
                            THEN 0 ELSE 1 END AS new_session
                FROM ev
            )
        )
        GROUP BY user_id, session_id
    )
    WHERE session_end <= (SELECT date_trunc('milliseconds', CAST(max(ts) AS TIMESTAMP))
                                 - INTERVAL 10 MINUTE FROM ev)
    """,
)
def stream_session_windows_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode twin of `stream_session_windows`: a session is emitted
    once, when the watermark passes its end (last event + 30 min gap), and
    its state evicted — bounded by OPEN sessions per user instead of every
    session ever. Oracle: the batch island/lag sessionization restricted to
    sessions whose end the final watermark has passed. Spark tracks max
    event time in MILLISECONDS (EventTimeStatsAccum truncates µs→ms), so
    the oracle's watermark uses date_trunc('milliseconds', max(ts)) —
    session ends carry µs precision, and the sub-ms sliver between the two
    conventions could otherwise flip a boundary session (the tumbling/
    sliding twins are hour-aligned, where the sliver provably can't
    matter). The eviction boundary itself is emit-at-equality
    (`session_end <= watermark`), pinned EMPIRICALLY by
    tests/test_watermark_boundary.py with a session ending exactly on
    the final watermark."""
    ev = events_file_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        "user_id",
        F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


@register(
    "stream_dedup_replayed",
    oracle=f"""
    {EVENTS_CTE}
    SELECT event_id, user_id, event_type FROM ev
    """,
)
def stream_dedup_replayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once: the stream unioned with itself (every
    record delivered twice, the reference's redelivery-after-backout case,
    IBMMQReceiver.java:363-371) deduplicated by key with
    dropDuplicatesWithinWatermark — output is each record once
    (README.md:71's loss/duplication contract, closed downstream)."""
    ev = events_file_stream(spark, sf_dir)
    doubled = ev.union(ev).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    return _run_to_memory(deduped, "append")


@register(
    "stream_static_join_segments",
    oracle=f"""
    {EVENTS_CTE}
    SELECT c_mktsegment, count(*) AS n, round(sum(value), 4) AS total_value
    FROM ev JOIN customer ON ev.user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def stream_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: live events enriched against the customer dim
    (broadcast per micro-batch), aggregated by segment — the reference's
    'enrich replicated rows against reference tables' consumption pattern."""
    ev = events_file_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )
    return _run_to_memory(agg, "complete")


@register(
    "stream_static_join_windows_append",
    oracle=f"""
    {EVENTS_CTE}
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           c_mktsegment,
           count(*) AS n
    FROM ev JOIN customer ON ev.user_id = c_custkey
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM ev)
    GROUP BY 1, 2
    """,
)
def stream_static_join_windows_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe form of the stream-static enrichment: the global
    complete-mode aggregation in `stream_static_join_segments` cannot run
    append (a non-windowed group never closes), so the deployment shape
    windows the enriched stream — watermark + 1h tumbling windows per
    segment, emitted once when closed, state bounded by open windows.
    The customer dim still broadcasts per micro-batch."""
    ev = events_file_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.withWatermark("ts", "10 minutes").join(
        F.broadcast(cust), ev.user_id == cust.c_custkey
    )
    agg = joined.groupBy(F.window("ts", "1 hour"), "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        "c_mktsegment",
        "n",
    )


@register(
    "stream_stream_join",
    oracle=f"""
    {EVENTS_CTE}
    SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS user_id
    FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM ev WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on both sides and a
    time-range condition (clicks within the hour before each purchase) —
    the §2.2 EXT join. State on each side is bounded by
    watermark + range: Spark evicts rows older than the join window."""
    ev1 = events_file_stream(spark, sf_dir)
    ev2 = events_file_stream(spark, sf_dir)
    p = (
        ev1.filter(F.col("event_type") == "purchase")
        .withColumnRenamed("event_id", "p_id")
        .withColumnRenamed("ts", "p_ts")
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        ev2.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
        & (c.c_ts <= p.p_ts),
    ).select("p_id", "c_id", "user_id")
    return _run_to_memory(joined, "append")


@register(
    "stream_seq_gap_monitor",
    oracle=f"""
    {EVENTS_CTE}
    SELECT user_id, prev_id, event_id, gap FROM (
        SELECT user_id,
               lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_id,
               event_id,
               event_id - lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS gap
        FROM ev
    ) WHERE gap >= 500
    """,
)
def stream_seq_gap_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arbitrary-stateful operator (reference R5 generalized:
    lastTs/lastSeqNo carry-over, IBMMQReceiver.java:216-217,266-267) as a
    REAL streaming run with a full value oracle: per-user last-seen
    event_id carried in GroupState across micro-batches, one row per
    detected id gap ≥ 500. The fixture replays as a single availableNow
    batch, so the stateful scan order (ids sorted within batch per user)
    equals the batch lag() order and the output is engine-deterministic —
    restart/multi-batch state carry-over is exercised separately in
    tests/test_streaming.py. State: one bigint per user, shuffle on
    user_id only; at 100 TB this is the bounded-state monitor shape
    (state size = |keys|, not |events|)."""
    from spark_ibm_mq_spark.streaming.stateful import seq_gap_monitor

    ev = events_file_stream(spark, sf_dir).select("user_id", "event_id")
    out = _run_to_memory(seq_gap_monitor(ev), "append")
    return out.select("user_id", "prev_id", "event_id", "gap")


@register(
    "stream_stream_left_join",
    oracle=f"""
    {EVENTS_CTE},
    p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM ev
          WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts FROM ev
          WHERE event_type = 'click'),
    m AS (SELECT p.p_id, c.c_id, p.user_id
          FROM p JOIN c ON p.user_id = c.c_user
           AND c.c_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts)
    SELECT p_id, c_id, user_id FROM m
    UNION ALL
    SELECT p.p_id, NULL AS c_id, p.user_id
    FROM p
    WHERE p.p_id NOT IN (SELECT p_id FROM m)
      AND p.p_ts < least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c))
                   - INTERVAL 1 HOUR
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks: every purchase joined
    to the clicks of the hour before it; purchases with no such click are
    emitted with NULL once the watermark proves no matching click can still
    arrive. The outer-null emission is watermark-gated state eviction — the
    semantics inner joins can't express (which purchases had no preceding
    click) — so unmatched purchases younger than the final watermark are
    withheld, exactly as a production run would withhold them.

    Oracle: matched pairs ∪ unmatched purchases strictly below the final
    global watermark. Each withWatermark node tracks the max event time of
    the rows that REACH it — the per-type filters run upstream, so the
    global watermark is min(max purchase ts, max click ts) − 1 h, not
    max(all events) − 1 h (an easy off-by-a-few-rows trap; the trailing
    no-data batch then evicts-and-emits strictly-older left rows). State
    per side is bounded by watermark + the 1 h range condition, same as
    the inner twin `stream_stream_join`."""
    ev1 = events_file_stream(spark, sf_dir)
    ev2 = events_file_stream(spark, sf_dir)
    p = (
        ev1.filter(F.col("event_type") == "purchase")
        .withColumnRenamed("event_id", "p_id")
        .withColumnRenamed("ts", "p_ts")
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        ev2.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
        & (c.c_ts <= p.p_ts),
        "left_outer",
    ).select("p_id", "c_id", "user_id")
    return _run_to_memory(joined, "append")


@register(
    "stream_foreachbatch_upsert",
    oracle=f"""
    {EVENTS_CTE}
    SELECT user_id,
           max_by(event_id,   epoch_ms(ts)::HUGEINT * 9223372036854775808 + event_id)
               AS last_event_id,
           max_by(event_type, epoch_ms(ts)::HUGEINT * 9223372036854775808 + event_id)
               AS last_event_type,
           CAST(max(ts) AS TIMESTAMP) AS last_ts,
           count(*) AS n_events
    FROM ev GROUP BY user_id
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE/upsert — incremental view maintenance without a
    table format: the events fixture is re-sharded into 4 files and
    replayed with maxFilesPerTrigger=1, so the keyed snapshot (latest
    event + running count per user) is REALLY merged four times, each
    micro-batch folding its per-key partial into the previous snapshot
    (snapshot dir named by batch_id + a driver-side commit log — the same
    commit model Delta/Iceberg use, minus the manifest). This is the §2.2
    foreachBatch sink surface as a value-oracled query: the final snapshot
    must equal the one-shot batch aggregate over all events.

    Scale shape: each merge is groupBy(user_id) over (snapshot ∪ batch
    partials) — state lives in the store, not executor memory, and the
    batch side is pre-aggregated before the union so the shuffle carries
    one row per touched key. Keep-latest orders by struct(ts, event_id) —
    lexicographic, so no arithmetic-ordinal overflow/aliasing at any id
    scale (the oracle states the same total order as a HUGEINT composite,
    which is 128-bit and cannot overflow either). The merge is IDEMPOTENT
    on batch_id — foreachBatch's contract is at-least-once, so a replayed
    micro-batch must not fold in twice: snapshots are keyed by batch_id,
    a replay of a committed batch is skipped, and a replay of an
    uncommitted one overwrites its own partial output."""
    import os

    d = scratch_dir("fb_upsert_")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = _replay_src(ev, "ev_upsert", sf_dir, ("events",))

    ordinal = F.struct("ts", "event_id")

    def _fold(prev: DataFrame, agg: DataFrame) -> DataFrame:
        return (
            prev.unionByName(agg)
            .groupBy("user_id")
            .agg(
                F.max_by("last_event_id", "last_ord").alias("last_event_id"),
                F.max_by("last_event_type", "last_ord").alias("last_event_type"),
                F.max("last_ts").alias("last_ts"),
                F.sum("n_events").alias("n_events"),
                F.max("last_ord").alias("last_ord"),
            )
        )

    return (
        run_snapshot_merge_stream(
            spark,
            src=src,
            schema=(
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double, props string"
            ),
            scratch=d,
            batch_agg=lambda b: b.groupBy("user_id").agg(
                F.max_by("event_id", ordinal).alias("last_event_id"),
                F.max_by("event_type", ordinal).alias("last_event_type"),
                F.max("ts").alias("last_ts"),
                F.count(F.lit(1)).alias("n_events"),
                F.max(ordinal).alias("last_ord"),
            ),
            merge=_fold,
        )
        .select(
            "user_id",
            "last_event_id",
            "last_event_type",
            F.col("last_ts").cast("timestamp_ntz").alias("last_ts"),
            "n_events",
        )
    )


@register(
    "stream_windowed_dau",
    oracle=f"""
    {EVENTS_CTE}
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)                    AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM ev
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM ev)
    GROUP BY 1, 2
    """,
)
def stream_windowed_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct users per hour — the streaming form of a DAU
    rollup. Streaming aggregations cannot nest COUNT(DISTINCT) (it is a
    second aggregation), so the query uses the two-operator rewrite:
    watermarked `dropDuplicates(["user_id", "window"])` (stateful dedup,
    one row of state per (user, open window), evicted with the watermark)
    followed by a plain windowed COUNT — the streaming twin of
    `events_cumulative_uniques`' first-touch transform, and the shape a
    production DAU stream actually deploys. Append mode: a window emits
    exactly once when the watermark passes its end (same emission
    contract, and the same closed-window oracle restriction, as
    `stream_tumbling_counts_append`).

    Scale notes: dedup state is (user × open windows) rows, bounded by
    the watermark delay, NOT by history; the count's state is one row per
    open window. Both operators shuffle on the same (window, user) →
    (window) key chain per micro-batch with partial aggregation."""
    ev = events_file_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .select("user_id", F.window("ts", "1 hour").alias("window"))
        .dropDuplicates(["user_id", "window"])
    )
    agg = deduped.groupBy("window").agg(F.count(F.lit(1)).alias("dau"))
    out = _run_to_memory(agg, "append")
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "dau",
    )


@register(
    "stream_cdc_merge_with_deletes",
    oracle=f"""
    {EVENTS_CTE},
    cdc AS (
        SELECT user_id, ts, event_id AS seq,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error'  THEN 'D'
                               ELSE 'U' END AS op,
               value
        FROM ev
    ),
    ranked AS (
        SELECT user_id, seq, op, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, seq DESC) AS rn
        FROM cdc
    ),
    counts AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_changes,
               CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_deletes
        FROM cdc GROUP BY user_id
    )
    SELECT r.user_id, r.value AS latest_value, r.seq AS latest_seq,
           c.n_changes, c.n_deletes
    FROM ranked r JOIN counts c ON r.user_id = c.user_id
    WHERE r.rn = 1 AND r.op <> 'D'
    """,
)
def stream_cdc_merge_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply WITH tombstones — the foreachBatch twin of
    `mq_cdc_apply` (mq_envelope.py): the change stream (op codes
    signup→I, error→D, else U) replays in 4 micro-batches, and each
    batch MERGES into the keyed snapshot. The delete discipline every
    real CDC materializer follows: tombstones are RETAINED in the
    snapshot as ordinary versions (a batch is an arbitrary slice of the
    stream, so a later batch can carry an OLDER update that the stored
    tombstone must still beat) and keys whose newest op is a delete are
    filtered only at READ time — the streaming analogue of
    compaction-deferred deletes in Delta/Iceberg CDF.

    Merge shape: per batch one groupBy(user_id) folding
    max(struct(ts, seq, op, value)) — the lexicographic keep-newest
    ordinal, struct-comparable so the snapshot∪batch re-merge is a plain
    max — plus additive counts; snapshot commits are keyed by batch_id
    (idempotent under foreachBatch's at-least-once replay contract,
    same as `stream_foreachbatch_upsert`). The final snapshot must equal
    the one-shot batch apply — the oracle IS `mq_cdc_apply`'s."""
    import os

    d = scratch_dir("fb_cdc_")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = _replay_src(ev, "ev_cdc", sf_dir, ("events",))

    def _batch_agg(batch_df: DataFrame) -> DataFrame:
        cdc = batch_df.select(
            "user_id",
            "ts",
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "signup", "I")
            .when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
            "value",
        )
        return cdc.groupBy("user_id").agg(
            F.max(F.struct("ts", "seq", "op", "value")).alias("last"),
            F.count(F.lit(1)).cast("bigint").alias("n_changes"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
            .cast("bigint")
            .alias("n_deletes"),
        )

    def _fold(prev: DataFrame, agg: DataFrame) -> DataFrame:
        return (
            prev.unionByName(agg)
            .groupBy("user_id")
            .agg(
                F.max("last").alias("last"),
                F.sum("n_changes").cast("bigint").alias("n_changes"),
                F.sum("n_deletes").cast("bigint").alias("n_deletes"),
            )
        )

    return (
        run_snapshot_merge_stream(
            spark,
            src=src,
            schema=(
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double, props string"
            ),
            scratch=d,
            batch_agg=_batch_agg,
            merge=_fold,
        )
        .filter(F.col("last.op") != "D")
        .select(
            "user_id",
            F.col("last.value").alias("latest_value"),
            F.col("last.seq").alias("latest_seq"),
            "n_changes",
            "n_deletes",
        )
    )


@register(
    "stream_tpch_q1_incremental",
    oracle="""
    WITH cents AS (
        SELECT l_returnflag, l_linestatus,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ext_c,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_h,
               CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax_h
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    ),
    m AS (
        SELECT l_returnflag, l_linestatus,
               CAST(sum(qty) AS BIGINT) AS s_qty,
               CAST(sum(ext_c) AS BIGINT) AS s_base,
               CAST(sum(ext_c * (100 - disc_h)) AS BIGINT) AS s_disc,
               CAST(sum(ext_c * (100 - disc_h) * (100 + tax_h)) AS BIGINT)
                   AS s_charge,
               CAST(sum(disc_h) AS BIGINT) AS s_disc_rate,
               CAST(count(*) AS BIGINT) AS n
        FROM cents GROUP BY 1, 2
    )
    SELECT l_returnflag, l_linestatus,
           round(s_qty * 1.0, 4)                 AS sum_qty,
           round(s_base / 100.0, 4)              AS sum_base_price,
           round(s_disc / 10000.0, 4)            AS sum_disc_price,
           round(s_charge / 1000000.0, 4)        AS sum_charge,
           round(s_qty * 1.0 / n, 4)             AS avg_qty,
           round(s_base / 100.0 / n, 4)          AS avg_price,
           round(s_disc_rate / 100.0 / n, 4)     AS avg_disc,
           n                                     AS count_order
    FROM m
    ORDER BY l_returnflag, l_linestatus
    """,
)
def stream_tpch_q1_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP query (TPC-H Q1 pricing summary) maintained
    INCREMENTALLY: lineitem replays in 4 micro-batches through a
    foreachBatch merge that folds each batch's partial into a running
    snapshot; averages derive from the merged sums only at read time.
    The final snapshot must equal the one-shot aggregate — the
    incremental-view-maintenance guarantee.

    The monoid is made EXACT, not approximate: every measure converts
    to scaled INTEGERS at the row level (whole quantities; price in
    cents; discount/tax in hundredths — the fixture's native 2-decimal
    precision), so the partial sums are bigints and the merge is truly
    associative — incremental == one-shot holds MATHEMATICALLY at any
    batch split, where float partials would drift re-rounding
    boundaries with the merge order (observed as a 4th-decimal flip at
    sf0.001 before this rewrite). Headroom: cents·hundredths² sums
    reach ~7·10¹⁷ at TPC-H sf1; past that the same monoid runs on
    decimal(38,0) unchanged. This is the pattern that turns the
    reference's consume-then-aggregate batch jobs (README.md:10-17)
    into a continuously-fresh dashboard without a table format.

    Scale shape: each micro-batch pre-aggregates to ≤|flag×status| rows
    BEFORE touching the snapshot, so the merge shuffles a handful of
    rows regardless of batch size; snapshot commits are batch_id-keyed
    (idempotent under foreachBatch's at-least-once replay, the
    `stream_foreachbatch_upsert` discipline)."""
    import os

    from spark_ibm_mq_spark.operators.flagship import _CUTOFF
    d = scratch_dir("fb_q1_")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    )
    src = _replay_src(li, "li_q1", sf_dir, ("lineitem",))

    def _batch_agg(batch_df: DataFrame) -> DataFrame:
        qty = F.floor(F.col("l_quantity") + 0.5).cast("bigint")
        ext_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
        disc_h = F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint")
        tax_h = F.floor(F.col("l_tax") * 100 + 0.5).cast("bigint")
        return (
            batch_df.filter(F.col("l_shipdate") <= F.lit(_CUTOFF).cast("timestamp"))
            .select(
                "l_returnflag",
                "l_linestatus",
                qty.alias("qty"),
                ext_c.alias("ext_c"),
                disc_h.alias("disc_h"),
                tax_h.alias("tax_h"),
            )
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("qty").cast("bigint").alias("s_qty"),
                F.sum("ext_c").cast("bigint").alias("s_base"),
                F.sum(F.col("ext_c") * (100 - F.col("disc_h")))
                .cast("bigint")
                .alias("s_disc"),
                F.sum(
                    F.col("ext_c") * (100 - F.col("disc_h")) * (100 + F.col("tax_h"))
                )
                .cast("bigint")
                .alias("s_charge"),
                F.sum("disc_h").cast("bigint").alias("s_disc_rate"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
        )

    snap = run_snapshot_merge_stream(
        spark,
        src=src,
        schema=(
            "l_returnflag string, l_linestatus string, l_quantity double, "
            "l_extendedprice double, l_discount double, l_tax double, "
            "l_shipdate timestamp"
        ),
        scratch=d,
        batch_agg=_batch_agg,
        merge=additive_merge(
            ["l_returnflag", "l_linestatus"],
            ["s_qty", "s_base", "s_disc", "s_charge", "s_disc_rate", "n"],
        ),
    )
    return snap.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("s_qty") * 1.0, 4).alias("sum_qty"),
        F.round(F.col("s_base") / 100.0, 4).alias("sum_base_price"),
        F.round(F.col("s_disc") / 10000.0, 4).alias("sum_disc_price"),
        F.round(F.col("s_charge") / 1000000.0, 4).alias("sum_charge"),
        F.round(F.col("s_qty") * 1.0 / F.col("n"), 4).alias("avg_qty"),
        F.round(F.col("s_base") / 100.0 / F.col("n"), 4).alias("avg_price"),
        F.round(F.col("s_disc_rate") / 100.0 / F.col("n"), 4).alias("avg_disc"),
        F.col("n").alias("count_order"),
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "stream_windowed_topk",
    oracle=f"""
    {EVENTS_CTE},
    closed AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS n
        FROM ev
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM ev)
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, CAST(rk AS INTEGER) AS rk FROM (
        SELECT window_start, event_type, n,
               row_number() OVER (PARTITION BY window_start
                                  ORDER BY n DESC, event_type) AS rk
        FROM closed
    ) WHERE rk <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per closed hourly window — the streaming
    leaderboard: a watermark-closed APPEND-mode windowed count (state
    bounded by open windows × keys, each window emitted exactly once on
    eviction) feeding a rank over the tiny emitted rollup. The rank
    runs on the SINK side — that is the honest scale shape: ranking
    inside the stream would need every key's count before the window
    closes anyway, so a leaderboard materializes the closed-window
    aggregate (≤ |event types| rows per window) and ranks that, not the
    raw stream.

    Determinism: ties rank by (n DESC, event_type) — a total order —
    and the emission boundary is the same watermark-passed predicate
    `stream_tumbling_counts_append` verifies against Spark's state
    eviction. Counts are integers; no floats anywhere."""
    ev = events_file_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_memory(agg, "append")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        out.select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@register(
    "stream_alert_debounce",
    oracle=f"""
    {EVENTS_CTE},
    marks AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 15 MINUTE
                    THEN 1 ELSE 0 END AS new_burst
        FROM ev WHERE event_type = 'error'
    ),
    bursts AS (
        SELECT user_id, ts, event_id,
               sum(new_burst) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS burst_id
        FROM marks
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP)       AS alert_ts,
           CAST(min(event_id) AS BIGINT)    AS alert_event_id,
           CAST(count(*) AS BIGINT)         AS suppressed,
           round((epoch_ms(max(ts)) - epoch_ms(min(ts))) / 1000.0, 4)
               AS burst_span_s
    FROM bursts
    GROUP BY user_id, burst_id
    """,
)
def stream_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of `events_alert_debounce` (VERDICT r9 task 7's
    named candidate): collapse each user's error storms into one alert
    per burst ON THE STREAM, as a session-window aggregation with a
    15-minute gap — the shape a real alerting pipeline deploys, where
    the batch twin is the backfill/audit path. A burst's cooldown
    restarts with every suppressed error (session semantics), matching
    the batch twin's gap-sessionization exactly; the oracle is the
    same running-sum burst construction.

    Boundary rule (ADVICE r10, settled EMPIRICALLY): Spark's
    session_window MERGES sessions whose ranges touch — an error at
    exactly `session start + 15 min` CONTINUES the session (verified
    by tests/test_debounce_boundary.py against a synthetic exact-gap
    stream; the ADVICE hypothesized the opposite). Both this oracle
    and the batch twin therefore use strict `gap > 15 min` as the
    new-burst predicate, so an exact 900000 ms gap stays in the SAME
    burst in all three formulations (stream, batch, oracle).

    State story: one session per (user, open burst) in the state
    store, merged as events arrive and evicted once the watermark
    passes the session end — bounded by ACTIVE bursts only, unlike the
    complete-mode windowed counts (this query still drains complete
    for a deterministic final table; the state-size argument is about
    the session merge itself). Counts and ids are integers; the one
    float division is round(4)."""
    ev = events_file_stream(spark, sf_dir)
    agg = (
        ev.filter(F.col("event_type") == "error")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "15 minutes"), "user_id")
        .agg(
            F.min("ts").alias("min_ts"),
            F.min("event_id").cast("bigint").alias("alert_event_id"),
            F.count(F.lit(1)).cast("bigint").alias("suppressed"),
            F.round(
                (F.max(F.unix_millis("ts")) - F.min(F.unix_millis("ts"))) / 1000.0,
                4,
            ).alias("burst_span_s"),
        )
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("min_ts").cast("timestamp_ntz").alias("alert_ts"),
        "alert_event_id",
        "suppressed",
        "burst_span_s",
    )


@register(
    "stream_windowed_topk_update",
    oracle=f"""
    {EVENTS_CTE},
    counts AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM ev GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, CAST(rk AS INTEGER) AS rk FROM (
        SELECT window_start, event_type, n,
               row_number() OVER (PARTITION BY window_start
                                  ORDER BY n DESC, event_type) AS rk
        FROM counts
    ) WHERE rk <= 3
    """,
)
def stream_windowed_topk_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode twin of `stream_windowed_topk` (VERDICT r9 task 7's
    "top-k beyond append mode"): the same hourly per-type counts, but
    emitting a refreshed row for every key the micro-batch CHANGED —
    the live-leaderboard shape, where append mode can only report a
    window after the watermark closes it (and so covers every window
    here, not just watermark-closed ones). The watermark still evicts
    closed-window state, so the state store stays bounded by open
    windows × keys — update mode changes what is EMITTED, not what is
    retained.

    The memory sink accumulates one row per (key, emitting batch); the
    final state per key is recovered with max(n) — counts are monotone
    non-decreasing across a key's emissions, so max IS the last
    emission, commutatively (no batch-ordering column needed). The
    rank then runs over the recovered ≤ |windows|×|types| rollup with
    the (n DESC, event_type) total order. All integers; the oracle is
    the plain batch rollup because update mode emits every window at
    least once on an in-order replay."""
    # a ts-ORDERED 4-file replay, not the single-file events stream: one
    # file = one micro-batch = update mode degenerates to a single
    # emission per key (indistinguishable from complete mode); the range
    # partitioning keeps event time monotone across batches so the
    # watermark evicts closed windows WITHOUT dropping owed rows, and
    # boundary-straddling windows are genuinely re-emitted (asserted by
    # tests/test_streaming_e2e.py's incrementality test)
    base = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = _replay_src(base, "topk_update", sf_dir, ("events",), order_by="ts")
    ev = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    out = _run_to_memory(agg, "update")
    state = (
        out.select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
        .groupBy("window_start", "event_type")
        .agg(F.max("n").alias("n"))
    )
    w = Window.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    return (
        state.withColumn("rk", F.row_number().over(w).cast("integer"))
        .filter(F.col("rk") <= 3)
    )


def _cusum_oracle() -> str:
    # the streaming twin's CONTRACT is the batch detector verbatim: the
    # final incremental state must equal the one-shot computation
    from spark_ibm_mq_spark.registry import ORACLE

    return ORACLE["events_changepoint_cusum"]


@register("stream_cusum_monitor", oracle=_cusum_oracle())
def stream_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events_changepoint_cusum` maintained INCREMENTALLY — the natural
    deployment of a drift chart, since CUSUM is an online statistic by
    construction: events replay in 4 micro-batches through a
    foreachBatch merge that folds each batch's per-day counts into a
    running daily snapshot (a trivially associative bigint monoid, the
    `stream_tpch_q1_incremental` discipline), and the Page/Lindley
    chart derives from the merged dailies at read time. The final state
    must equal the batch detector on the same data — the
    incremental-view-maintenance guarantee, which is why this twin
    reuses the batch operator's oracle VERBATIM.

    Deriving the chart at read time is the correct factoring, not a
    shortcut: μ and the slack k are data-adaptive over the WHOLE
    series, so any per-batch alarm decision would use provisional
    parameters — the stream maintains the sufficient statistic (daily
    counts) exactly, and the |days|-row chart recomputation is
    metadata-scale. Scale shape: each micro-batch pre-aggregates to
    ≤|days| rows before touching the snapshot; snapshot commits are
    batch_id-keyed (idempotent under foreachBatch's at-least-once
    replay)."""
    d = scratch_dir("fb_cusum_")
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    src = _replay_src(ev, "ev_cusum", sf_dir, ("events",))

    daily = run_snapshot_merge_stream(
        spark,
        src=src,
        schema="ts timestamp",
        scratch=d,
        batch_agg=lambda b: b.groupBy(F.to_date("ts").alias("d")).agg(
            F.count(F.lit(1)).cast("bigint").alias("x")
        ),
        merge=additive_merge(["d"], ["x"]),
    )
    params = daily.agg(
        F.expr("CAST(sum(x) div count(*) AS BIGINT)").alias("mu"),
        F.expr("CAST(greatest(sum(x) div count(*) div 20, 1) AS BIGINT)").alias(
            "slack"
        ),
    )
    wd = Window.orderBy("d")
    walk = daily.crossJoin(F.broadcast(params)).withColumn(
        "c",
        F.sum(F.col("x") - F.col("mu") - F.col("slack")).over(wd).cast("bigint"),
    )
    lind = walk.withColumn(
        "floor_c", F.least(F.min("c").over(wd), F.lit(0)).cast("bigint")
    )
    return lind.select(
        "d",
        "x",
        (F.col("c") - F.col("floor_c")).cast("bigint").alias("cusum"),
        F.when(F.col("c") - F.col("floor_c") > 5 * F.col("slack"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("drift_alarm"),
    )


def _ks_drift_oracle() -> str:
    # incremental-view-maintenance contract: the merged count state must
    # equal the one-shot computation, so the batch oracle is reused verbatim
    from spark_ibm_mq_spark.registry import ORACLE

    return ORACLE["agg_ks_source_drift"]


@register("stream_ks_drift_monitor", oracle=_ks_drift_oracle())
def stream_ks_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`agg_ks_source_drift` maintained INCREMENTALLY — the deployment
    shape of a per-source drift screen, which in production watches feeds
    as they land rather than re-scanning the corpus nightly: documents
    replay in 4 micro-batches through a foreachBatch merge that folds each
    batch's (source, length) counts into a running snapshot (a trivially
    associative bigint monoid — the `stream_cusum_monitor` /
    `stream_tpch_q1_incremental` discipline), and the KS statistic derives
    from the merged counts at read time via the SAME
    `ks_drift_from_counts` the batch operator uses. Final state must equal
    the one-shot computation — the incremental-view-maintenance guarantee
    — which is why this twin reuses the batch oracle VERBATIM.

    Computing D at read time is the correct factoring, not a shortcut:
    the pooled ECDF is corpus-wide, so any per-batch D would compare
    against provisional totals; the stream maintains the sufficient
    statistic (the count frame) exactly, and the |sources|·|lengths|-row
    KS recomputation is metadata-scale. Scale shape: each micro-batch
    pre-aggregates to ≤ |sources|·|lengths| rows before touching the
    snapshot; snapshot commits are batch_id-keyed (idempotent under
    foreachBatch's at-least-once replay)."""
    from spark_ibm_mq_spark.operators.aggregations import ks_drift_from_counts
    d = scratch_dir("fb_ksdrift_")
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    src = _replay_src(docs, "doc_ksdrift", sf_dir, ("documents",))

    counts = run_snapshot_merge_stream(
        spark,
        src=src,
        schema="source string, n_chars bigint",
        scratch=d,
        batch_agg=lambda b: b.groupBy(
            "source", F.col("n_chars").alias("v")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("c")),
        merge=additive_merge(["source", "v"], ["c"]),
    )
    return ks_drift_from_counts(counts)


def _dsir_oracle() -> str:
    # incremental-view-maintenance contract: the merged bucket-count state
    # must equal the one-shot computation, so the batch oracle is reused
    # verbatim (the stream_ks_drift_monitor discipline)
    from spark_ibm_mq_spark.registry import ORACLE

    return ORACLE["pipeline_dsir_importance"]


@register("stream_dsir_model_update", oracle=_dsir_oracle())
def stream_dsir_model_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pipeline_dsir_importance` maintained INCREMENTALLY — the
    deployment shape of importance-weighted data selection, which in
    production scores feeds as they land rather than re-hashing the
    corpus per model refresh: documents replay in 4 micro-batches
    through a foreachBatch merge that folds each batch's
    (doc_id, source, bucket, n) hashed-feature counts into a running
    snapshot (a trivially associative bigint monoid), and the scores
    derive from the merged counts at read time via the SAME
    `dsir_scores_from_bucket_counts` the batch operator uses. Final
    output must equal the one-shot computation — the
    incremental-view-maintenance guarantee — which is why this twin
    reuses the batch oracle VERBATIM.

    Scoring at read time is the correct factoring, not a shortcut: the
    target/raw models are corpus-wide, so any per-batch score would
    compare against provisional totals; the stream maintains the
    sufficient statistic (the bucket-count frame) exactly, and the
    read-time model rebuild is B=64 rows. Scale shape: each micro-batch
    pre-aggregates its raw tokens to ≤ |batch docs|·B rows before
    touching the snapshot — the snapshot is O(docs·B) ints, the same
    frame the batch operator shuffles, NOT raw tokens; snapshot commits
    are batch_id-keyed (idempotent under foreachBatch's at-least-once
    replay)."""
    from spark_ibm_mq_spark.functions.text import tokens
    from spark_ibm_mq_spark.operators.pipeline import (
        _DSIR_BUCKET,
        dsir_scores_from_bucket_counts,
    )

    d = scratch_dir("fb_dsir_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    src = _replay_src(docs, "doc_dsir", sf_dir, ("documents",))

    counts = run_snapshot_merge_stream(
        spark,
        src=src,
        schema="doc_id bigint, source string, text string",
        scratch=d,
        batch_agg=lambda b: (
            b.select("doc_id", "source", F.explode(tokens("text")).alias("t"))
            .select(
                "doc_id",
                "source",
                F.expr(_DSIR_BUCKET).cast("bigint").alias("b"),
            )
            .groupBy("doc_id", "source", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        ),
        merge=additive_merge(["doc_id", "source", "b"], ["n"]),
    )
    return dsir_scores_from_bucket_counts(counts)


def _temp_mixture_oracle() -> str:
    # incremental-view-maintenance contract: the merged per-source count
    # state must equal the one-shot computation, so the batch oracle is
    # reused verbatim (the stream_ks_drift_monitor discipline)
    from spark_ibm_mq_spark.registry import ORACLE

    return ORACLE["pipeline_temperature_mixture"]


@register("stream_temperature_mixture_update", oracle=_temp_mixture_oracle())
def stream_temperature_mixture_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`pipeline_temperature_mixture` maintained INCREMENTALLY — the
    deployment shape of multi-domain sampling weights, which in
    production re-balance as feeds land rather than re-counting the
    corpus per training run: documents replay in 4 micro-batches through
    a foreachBatch merge that folds each batch's (source, n_docs) counts
    into a running snapshot (a trivially associative bigint monoid — the
    `stream_cusum_monitor` / `stream_ks_drift_monitor` discipline), and
    the q_i ∝ p_i^α weights derive from the merged counts at read time
    via the SAME `temperature_mixture_from_counts` the batch operator
    uses. Final output must equal the one-shot computation — the
    incremental-view-maintenance guarantee — which is why this twin
    reuses the batch oracle VERBATIM (driven end-to-end by
    tests/test_r13_ops.py::test_stream_temperature_mixture_equals_batch).

    Deriving at read time is the correct factoring, not a shortcut: the
    shares and the Σp^α normalizer are corpus-wide, so any per-batch
    weight would normalize against provisional totals; the stream
    maintains the sufficient statistic (the |sources|-row count frame)
    exactly, and the read-time derivation is metadata-scale. Scale
    shape: each micro-batch pre-aggregates to ≤ |sources| rows before
    touching the snapshot — the merge shuffle carries one row per
    source, never documents; snapshot commits are batch_id-keyed
    (idempotent under foreachBatch's at-least-once replay)."""
    from spark_ibm_mq_spark.operators.pipeline import (
        temperature_mixture_from_counts,
    )

    d = scratch_dir("fb_tempmix_")
    docs = load_table(spark, sf_dir, "documents").select("source")
    src = _replay_src(docs, "doc_tempmix", sf_dir, ("documents",))

    counts = run_snapshot_merge_stream(
        spark,
        src=src,
        schema="source string",
        scratch=d,
        batch_agg=lambda b: b.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        ),
        merge=additive_merge(["source"], ["n_docs"]),
    )
    return temperature_mixture_from_counts(counts)


# Shared-helper dependency declarations (see registry.declare_helper_deps).
from spark_ibm_mq_spark.operators.aggregations import (  # noqa: E402
    ks_drift_from_counts as _ks_helper,
)
from spark_ibm_mq_spark.registry import declare_helper_deps  # noqa: E402

declare_helper_deps("stream_ks_drift_monitor", _ks_helper)

from spark_ibm_mq_spark.operators.pipeline import (  # noqa: E402
    dsir_scores_from_bucket_counts as _dsir_helper,
)

declare_helper_deps("stream_dsir_model_update", _dsir_helper)
declare_helper_deps("pipeline_dsir_importance", _dsir_helper)

from spark_ibm_mq_spark.operators.pipeline import (  # noqa: E402
    temperature_mixture_from_counts as _tempmix_helper,
)

declare_helper_deps("stream_temperature_mixture_update", _tempmix_helper)
declare_helper_deps("pipeline_temperature_mixture", _tempmix_helper)

# every IVM twin runs on the shared snapshot-merge scaffold: an edit to
# its commit discipline must destabilize all seven consumers
for _ivm_twin in (
    "stream_foreachbatch_upsert",
    "stream_cdc_merge_with_deletes",
    "stream_tpch_q1_incremental",
    "stream_cusum_monitor",
    "stream_ks_drift_monitor",
    "stream_dsir_model_update",
    "stream_temperature_mixture_update",
):
    declare_helper_deps(_ivm_twin, run_snapshot_merge_stream, additive_merge)
