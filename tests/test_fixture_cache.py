"""`tables.fixture_cache`: one complete build per fixture version, published
atomically, even when several callers build at once."""

from __future__ import annotations

import os
import threading

import pytest

from spark_ibm_mq_spark.tables import fixture_cache


@pytest.fixture()
def scratch(tmp_path, monkeypatch):
    d = tmp_path / "scratch"
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(d))
    return str(d)


@pytest.fixture()
def sf(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    (d / "events.parquet").write_bytes(b"stand-in: the cache key reads only size and mtime")
    return str(d)


def test_racing_builders_publish_one_complete_cache(scratch, sf):
    """Both threads pass the existence check and build at once (the barrier
    holds each inside `build` until the other arrives); both must get the
    same directory with every file, and the loser's temp copy must go."""
    barrier = threading.Barrier(2, timeout=30)

    def build(d):
        barrier.wait()
        for i in range(50):
            with open(os.path.join(d, f"part-{i:02d}"), "w") as f:
                f.write(str(i))

    got, errors = [], []

    def call():
        try:
            got.append(fixture_cache(sf, ("events",), "race", build))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 2 and got[0] == got[1]
    assert sorted(os.listdir(got[0])) == [f"part-{i:02d}" for i in range(50)]
    assert os.listdir(scratch) == [os.path.basename(got[0])]


def test_failed_build_leaves_nothing_and_next_call_builds(scratch, sf):
    def broken(d):
        with open(os.path.join(d, "half"), "w") as f:
            f.write("written before the failure")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        fixture_cache(sf, ("events",), "flaky", broken)
    assert os.listdir(scratch) == []

    def build(d):
        with open(os.path.join(d, "whole"), "w") as f:
            f.write("ok")

    d = fixture_cache(sf, ("events",), "flaky", build)
    assert os.listdir(d) == ["whole"]
    assert os.listdir(scratch) == [os.path.basename(d)]


def test_cache_name_is_part_of_the_key(scratch, sf):
    a = fixture_cache(sf, ("events",), "one", lambda d: None)
    b = fixture_cache(sf, ("events",), "two", lambda d: None)
    assert a != b and os.path.basename(a).startswith("one_")


def test_missing_table_fails_loudly(scratch, sf):
    with pytest.raises(FileNotFoundError):
        fixture_cache(sf, ("orders",), "x", lambda d: None)


def test_broker_fixture_first_use_from_three_threads(scratch, tmp_path):
    """Three threads making first use of the broker fixture all get the same
    queue, holding every line."""
    import duckdb

    from spark_ibm_mq_spark.operators.mq_source import _QUEUE, _broker_dir_for
    from spark_ibm_mq_spark.sources import FakeMQBroker

    sf = str(tmp_path / "sf_events")
    os.makedirs(sf)
    duckdb.connect().execute(
        f"""COPY (SELECT make_timestamp(1700000000000000 + i*1000) AS ts,
                         i AS event_id, i AS user_id,
                         'click' AS event_type, '{{}}' AS props
                  FROM range(1, 20001) r(i))
            TO '{sf}/events.parquet' (FORMAT PARQUET)"""
    )
    got, errors = [], []

    def call():
        try:
            got.append(_broker_dir_for(sf))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(set(got)) == 1
    assert FakeMQBroker(got[0], _QUEUE).depth() == 20000
    assert os.listdir(scratch) == [os.path.basename(got[0])]
