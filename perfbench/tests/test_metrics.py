"""Metric arithmetic of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import metrics

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
T0 = 1_792_224_000_000  # 2026-10-17T08:00:00Z, the fixture's first trigger


@pytest.fixture
def progress() -> list[dict]:
    with open(os.path.join(FIXTURES, "progress.json"), encoding="utf-8") as f:
        return json.load(f)


def test_percentile_is_nearest_rank():
    vals = list(range(100, 0, -1))  # 1..100, unsorted
    assert metrics.percentile(vals, 0.5) == 50
    assert metrics.percentile(vals, 0.9) == 90
    assert metrics.percentile(vals, 1.0) == 100
    assert metrics.percentile([7.5], 0.9) == 7.5
    with pytest.raises(ValueError):
        metrics.percentile([], 0.5)


def test_p90_needs_ten_samples_beyond_it():
    assert metrics.beyond(100, 0.9) == 10
    assert metrics.supported(100, 0.9)
    assert metrics.beyond(99, 0.9) == 9
    assert not metrics.supported(99, 0.9)
    assert metrics.beyond(13, 0.9) == 1
    assert metrics.supported(20, 0.5)


def test_batch_spans_count_rows_from_offsets(progress):
    spans = metrics.batch_spans(progress)
    # numInputRows reads 6 and 4 (the sink scanned each batch twice); the
    # offsets say 3 and 2, and the empty third trigger is no batch.
    assert [(s, e) for s, e, _ in spans] == [(0, 3), (3, 5)]
    assert spans[0][2] == T0 + 420
    assert spans[1][2] == T0 + 500 + 250


def test_batch_durations_and_drain_rate_from_progress(progress):
    # the empty third trigger is no batch
    assert metrics.batch_durations_ms(progress) == [420.0, 250.0]
    # rows after the first batch over the time between the two commits
    assert metrics.drain_rate(progress) == pytest.approx(2 / 0.33)
    with pytest.raises(ValueError):
        metrics.drain_rate(progress[:1])


def test_progress_timestamp_is_utc():
    assert metrics.progress_ms("2026-10-17T08:00:00.500Z") == T0 + 500


STAT = """cpu  {user} 0 {system} {idle} 10 0 5 {steal} 0 0
cpu0 1 0 1 1 0 0 0 0 0 0
intr 12345
"""


def test_steal_parse_and_fraction():
    a = metrics.cpu_times(STAT.format(user=1000, system=500, idle=8000, steal=100))
    b = metrics.cpu_times(STAT.format(user=1300, system=600, idle=8500, steal=200))
    assert a == (100, 1000 + 500 + 8000 + 10 + 5 + 100)
    assert metrics.steal_frac(a, b) == pytest.approx(100 / 1000)
    assert metrics.steal_frac(a, a) == 0.0
    with pytest.raises(ValueError):
        metrics.cpu_times("intr 1\n")


def test_cpu_split_counts_new_processes_whole():
    before = {1: ("python3", 2.0, 0), 2: ("java", 10.0, 0)}
    after = {1: ("python3", 2.5, 0), 2: ("java", 14.0, 0), 3: ("python3", 1.0, 0)}
    jvm, py = metrics.cpu_split(before, after)
    assert jvm == pytest.approx(4.0)
    assert py == pytest.approx(1.5)


def test_tree_rss_leaves_out_what_the_jvm_spawns():
    procs = {
        1: ("python3", 0, 100),
        2: ("java", 0, 2000),
        3: ("stream executio", 0, 2000),  # spawned by the JVM, not yet exec'd
        4: ("python", 0, 300),  # a Python worker the JVM started
        5: ("python", 0, 50),  # a worker its daemon forked
        6: ("jspawnhelper", 0, 5),
    }

    def stat(pid):
        if pid == 7:
            raise OSError("exited")
        return procs[pid]

    kids = {1: [2], 2: [3, 4, 6, 7], 4: [5]}
    assert metrics.tree_rss(1, kids, stat) == {"python3": 100, "java": 2000, "python": 350}


def test_expected_keys_chain_repair_seq():
    from perfbench.drain import expected_keys

    assert expected_keys([1000, 1000, 1000, 1050, 1050]) == [
        "1000_1", "1000_2", "1000_3", "1050_1", "1050_2",
    ]


def test_check_out_counts_lost_duplicated_and_miskeyed(tmp_path):
    from perfbench.drain import check_out
    from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker

    put_ms, bodies = [1000, 1000, 1050], ["a", "b", "c"]

    def failed(rows):
        out = FakeMQBroker(str(tmp_path / str(len(os.listdir(tmp_path)))), "OUT")
        out.put_all(rows)
        return check_out(out, put_ms, bodies)

    assert failed([(1000, 1, "a"), (1000, 2, "b"), (1050, 1, "c")]) == 0
    assert failed([(1000, 1, "a"), (1000, 2, "b")]) == 1  # lost
    assert failed([(1000, 1, "a"), (1000, 2, "b"), (1000, 2, "b"), (1050, 1, "c")]) == 1
    assert failed([(1000, 2, "b"), (1000, 1, "a"), (1050, 1, "c")]) == 1  # out of order
    assert failed([(1000, 1, "a"), (1050, 1, "c")]) == 1  # a loss shifts no later message
    assert failed([(1000, 1, "a"), (1000, 2, "x"), (1050, 1, "c")]) == 1  # wrong body
    assert failed([(1000, 1, "a"), (1000, 3, "b"), (1050, 1, "c")]) == 2  # mis-keyed


def test_panel_canon_orders_rows_and_normalises_cells():
    from perfbench.panel import canon

    a = pd.DataFrame({"b": [2.0000000001, 1.0], "a": ["y", "x"]})
    b = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert canon(a) == canon(b)
    ts = pd.DataFrame({"d": pd.to_datetime(["1995-01-01"])})
    assert canon(ts) == [("d",), ("1995-01-01",)]
