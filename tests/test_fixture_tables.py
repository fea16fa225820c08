"""Fixture-table reads (tables.load_table): the memoized parquet schema
runs no inference job once a file has been read, follows a rewritten file,
and keeps the ``events.ts`` conversion exact."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from spark_ibm_mq_spark import registry, tables


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_build_of_a_query_runs_no_spark_job(spark, sf_dir):
    registry.load_all_modules()
    build = registry.QUERIES["tpch_q5_local_supplier_volume"]
    _jobs_in_group(spark, "schema-memo-first-build", lambda: build(spark, sf_dir))
    assert _jobs_in_group(spark, "schema-memo-second-build", lambda: build(spark, sf_dir)) == 0


def test_rewritten_parquet_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}), path)
    assert tables.load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int64()), "r_name": ["AFRICA", "ASIA"]}),
        path,
    )
    df = tables.load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [("r_regionkey", "bigint"), ("r_name", "string")]
    assert [tuple(r) for r in df.orderBy("r_regionkey").collect()] == [(0, "AFRICA"), (1, "ASIA")]


def _ts_micros(df) -> list[int]:
    epoch = dt.datetime(1970, 1, 1)
    return [(r.ts - epoch) // dt.timedelta(microseconds=1) for r in df.orderBy("event_id").collect()]


def test_events_ts_stays_timestamp_ntz_with_the_same_values(spark, sf_dir, tmp_path, monkeypatch):
    """Both on the fixture (microsecond timestamps) and on a file that stores
    TIMESTAMP(NANOS), which Spark reads as long and load_table converts to
    microseconds by integer division: the first (inferred) and the second
    (memoized) read agree with each other and with the file."""
    nanos = [1_700_000_000_123_456_789, 1_234_567_891, 9_007_199_254_740_993_001]
    pq.write_table(
        pa.table({"event_id": [0, 1, 2], "ts": pa.array(nanos, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    monkeypatch.setattr(tables, "_SCHEMAS", {})
    for d in (sf_dir, str(tmp_path)):
        path = os.path.join(d, "events.parquet")
        raw = pq.read_table(path, columns=["event_id", "ts"]).sort_by("event_id")["ts"]
        want = [v // 1000 if raw.type.unit == "ns" else v for v in raw.cast(pa.int64()).to_pylist()]
        for _ in range(2):
            df = tables.load_table(spark, d, "events")
            assert dict(df.dtypes)["ts"] == "timestamp_ntz"
            assert _ts_micros(df) == want
        assert path in tables._SCHEMAS
