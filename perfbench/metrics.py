"""Metric arithmetic: percentiles, drain rate and batch intervals from
progress events, and host-noise readings from /proc. Pure functions, unit-tested in
``perfbench/tests``."""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timezone

import numpy as np

MIN_BEYOND = 10  # samples a reported percentile must have above it


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 1]) of a non-empty sample."""
    v = np.sort(np.asarray(values, dtype="float64"))
    if len(v) == 0:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(q * len(v)))
    return float(v[rank - 1])


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``
    percentile."""
    return n - max(1, math.ceil(q * n))


def supported(n: int, q: float) -> bool:
    """True when the ``q`` percentile of ``n`` samples has at least
    MIN_BEYOND samples beyond it."""
    return beyond(n, q) >= MIN_BEYOND


def median(values) -> float:
    return float(np.median(np.asarray(values, dtype="float64")))


def _offset(o) -> dict:
    return json.loads(o) if isinstance(o, str) else o


def progress_ms(ts: str) -> float:
    """Epoch milliseconds of a progress ``timestamp`` (ISO-8601, UTC)."""
    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def batch_spans(progress: list[dict]) -> list[tuple[int, int, float]]:
    """``(start_pos, end_pos, end_ms)`` of every batch of a single-source
    query that moved the queue offset; ``end_ms`` is the trigger start plus
    ``triggerExecution``, the moment the batch was committed.

    Rows are counted from the offsets, not ``numInputRows``: a sink that
    scans its batch twice (a sort samples its input first) doubles that
    count."""
    out = []
    for p in progress:
        src = p["sources"][0]
        start, end = _offset(src["startOffset"]), _offset(src["endOffset"])
        start_pos = 0 if start is None else int(start["pos"])
        end_pos = int(end["pos"]) if end is not None else start_pos
        if end_pos > start_pos:
            end_ms = progress_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
            out.append((start_pos, end_pos, end_ms))
    return out


def batch_durations_ms(progress: list[dict]) -> list[float]:
    """``triggerExecution`` of every batch that moved the queue offset: the
    commit interval of a closed-loop drain."""
    return [float(p["durationMs"]["triggerExecution"]) for p in progress if batch_spans([p])]


def drain_rate(progress: list[dict]) -> float:
    """Messages committed per second from the first batch's commit to the
    last one's. The first batch is left out: it also pays for the stream's
    start."""
    spans = sorted(batch_spans(progress), key=lambda s: s[2])
    if len(spans) < 2:
        raise ValueError("a drain rate needs at least two batches")
    return (spans[-1][1] - spans[0][1]) / ((spans[-1][2] - spans[0][2]) / 1000.0)


def cpu_times(stat_text: str) -> tuple[int, int]:
    """``(steal, total)`` jiffies from the aggregate ``cpu`` line of
    /proc/stat. Guest time is already inside user/nice, so it is not
    added again."""
    for line in stat_text.splitlines():
        f = line.split()
        if f and f[0] == "cpu":
            vals = [int(x) for x in f[1:9]]  # user..steal
            return (vals[7] if len(vals) > 7 else 0), sum(vals)
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def read_proc_stat() -> tuple[int, int]:
    with open("/proc/stat", encoding="ascii") as f:
        return cpu_times(f.read())


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def proc_cpu(pid: int) -> tuple[str, float, int]:
    """``(comm, cpu_seconds, rss_bytes)`` of one process."""
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
        text = f.read()
    comm = text[text.index("(") + 1 : text.rindex(")")]
    fields = text.rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    cpu = (int(fields[11]) + int(fields[12])) / ticks  # utime + stime
    rss = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
    return comm, cpu, rss


def tree_usage(root: int) -> dict[int, tuple[str, float, int]]:
    out = {}
    for pid in process_tree(root):
        try:
            out[pid] = proc_cpu(pid)
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
    return out


def tree_rss(root: int, kids: dict[int, list[int]] | None = None, stat=proc_cpu) -> dict[str, int]:
    """Resident bytes of the process tree under ``root``, by process name.

    A child the JVM spawns shares the JVM's memory until it execs (it
    carries the name of the JVM thread that spawned it), so it would count
    the JVM twice. Under the JVM only Python processes count; the other
    children are short-lived helpers."""
    kids = _children_map() if kids is None else kids
    out: dict[str, int] = {}
    todo: list[tuple[int, str | None]] = [(root, None)]
    while todo:
        pid, parent = todo.pop()
        try:
            comm, _cpu, rss = stat(pid)
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        if parent == "java" and not comm.startswith("python"):
            continue
        out[comm] = out.get(comm, 0) + rss
        todo.extend((k, comm) for k in kids.get(pid, ()))
    return out


def cpu_split(before: dict, after: dict) -> tuple[float, float]:
    """CPU seconds the tree spent between two ``tree_usage`` snapshots,
    as ``(jvm, python)``. A process absent from ``before`` started inside
    the interval and counts whole."""
    jvm = py = 0.0
    for pid, (comm, cpu, _rss) in after.items():
        spent = cpu - (before[pid][1] if pid in before and before[pid][0] == comm else 0.0)
        if comm == "java":
            jvm += spent
        else:
            py += spent
    return jvm, py
