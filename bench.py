"""Benchmark harness: runs every registered headline query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark

from spark_ibm_mq_spark import registry
from spark_ibm_mq_spark.session import get_spark

registry.load_all_modules()


def mq_source_throughput(spark, n_msgs: int = 50_000) -> dict[str, float]:
    """msgs/sec drained through the ibmmq batch source from the fake broker
    (BASELINE.md target: ≥10k msg/s, 10× the reference's configured 1k
    ceiling). Includes broker file scan + key synthesis + Arrow transfer.
    Returns the headline 50k-drain rate plus sustained/marginal companions
    (see inline comment) keyed ready for the bench record."""
    import tempfile

    from spark_ibm_mq_spark.sources import FakeMQBroker, register_ibmmq

    d = tempfile.mkdtemp(prefix="bench_mq_")
    broker = FakeMQBroker(d, "BENCH.Q")
    broker.put_all((1_700_000_000_000 + i, 1, f'{{"n": {i}}}') for i in range(n_msgs))
    register_ibmmq(spark)
    # warm with one FULL drain (python workers, codegen for the count agg,
    # arrow IPC buffers): limit(1) left the first measured run paying
    # first-full-scan costs — a 54k vs 93k msg/s spread on identical code.
    # Steady-state throughput is the metric; the floor compare (BASELINE.md)
    # is against the reference's sustained receiver rate.
    spark.read.format("ibmmq").option("path", d).option("queue", "BENCH.Q").load().count()

    def _drain_times(path: str, n: int) -> list[float]:
        times = []
        for _ in range(_RUNS):
            t0 = time.perf_counter()
            got = (
                spark.read.format("ibmmq")
                .option("path", path)
                .option("queue", "BENCH.Q")
                .load()
                .count()
            )
            dt = time.perf_counter() - t0
            assert got == n, f"drained {got}/{n}"
            times.append(dt)
        return times

    t_small = statistics.median(_drain_times(d, n_msgs))

    # Sustained-rate companion (r9): the 50k drain is dominated by Spark's
    # fixed per-job cost for a Python data source (~0.5 s: plan-worker
    # partitions() roundtrip, task launch, Arrow handoff) — measured
    # marginal throughput is ~9× the 50k headline. A 4× longer drain
    # amortizes that fixed cost, and (t_big − t_small) cancels it exactly,
    # which is what "sustained msg/s" means for the reference's
    # continuously-running receiver. The 50k headline keeps its r7/r8
    # protocol for round-over-round continuity.
    n_big = n_msgs * 4
    d2 = tempfile.mkdtemp(prefix="bench_mq_big_")
    big = FakeMQBroker(d2, "BENCH.Q")
    big.put_all(
        (1_700_000_000_000 + i, 1, f'{{"n": {i}}}') for i in range(n_big)
    )
    spark.read.format("ibmmq").option("path", d2).option("queue", "BENCH.Q").load().count()
    t_big = statistics.median(_drain_times(d2, n_big))

    # the throughput brokers are measurement scratch (~25 MB/run) — drop
    # them so repeated bench runs don't accumulate tempdirs
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(d2, ignore_errors=True)

    return {
        "mq_source_msgs_per_sec": round(n_msgs / t_small, 1),
        "mq_source_sustained_msgs_per_sec": round(n_big / t_big, 1),
        "mq_source_marginal_msgs_per_sec": round(
            (n_big - n_msgs) / max(t_big - t_small, 1e-9), 1
        ),
        "mq_source_fixed_overhead_sec": round(
            max(t_small - (t_big - t_small) / 3.0, 0.0), 4
        ),
    }


# Single-shot timings of queries that spin up streaming state stores swing up
# to 48x run-to-run on identical code (observed r2 vs r3); median-of-N makes a
# genuine 2x regression distinguishable from trigger/scheduler jitter.
_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))


def _committed_record(here: str) -> tuple[dict | None, str]:
    """The LAST COMMITTED bench_full.json, fetched ONCE per run and shared
    by the outlier baseline and the calibration verdict (they must read
    the SAME record, or a git-less checkout would gate outliers against a
    baseline while reporting 'no-reference' ambient health). HEAD's blob
    is preferred over the working-tree file so a mid-session run can't
    move its own goalposts; `worktree` is the no-git fallback (fresh
    checkout == committed, but a dirty mid-session file IS the
    goalpost-move risk). Returns (record|None, HEAD|worktree|none)."""
    import subprocess

    try:
        blob = subprocess.run(
            ["git", "-C", here, "show", "HEAD:bench_full.json"],
            capture_output=True, text=True, timeout=30,
        )
        if blob.returncode == 0:
            return json.loads(blob.stdout), "HEAD"
    except Exception:
        pass
    try:
        with open(os.path.join(here, "bench_full.json")) as f:
            return json.load(f), "worktree"
    except Exception:
        return None, "none"


def _committed_baseline(
    here: str, sf, cpus: int, rec_tier: tuple[dict | None, str] | None = None
) -> tuple[dict[str, float], str]:
    """Per-query medians from the last committed record plus a provenance
    tag recorded in the output — a gate that silently degraded to
    no-baseline would make `outlier_reruns: {}` indistinguishable from "no
    outliers detected". Only a record at the SAME scale factor and the
    SAME task-slot count (`provenance.cpus`) counts: an sf0.01 record would
    flag every sf0.1 query as an outlier, and a 32-slot record every query
    of a 4-slot run. A record without `cpus` cannot show it matches, so it
    is refused too. The mismatch tags and `none` are visible in
    bench_full.json for exactly that reason. Pass a prefetched
    ``rec_tier`` to share one `_committed_record` fetch per run."""
    rec, tier = rec_tier if rec_tier is not None else _committed_record(here)
    if rec is None:
        return {}, "none"
    if rec.get("sf") != sf:
        return {}, f"{tier}-sf-mismatch"
    if (rec.get("provenance") or {}).get("cpus") != cpus:
        return {}, f"{tier}-cpus-mismatch"
    return dict(rec.get("queries", {})), tier


def _is_outlier(first: float, committed_median: float | None) -> bool:
    """True when a query's first-pass median warrants the single re-run:
    >2x its last committed median AND >0.5 s absolute (2x on a 60 ms query
    is scheduler noise, not an I/O spike)."""
    if committed_median is None:
        return False
    return first > max(2.0 * committed_median, 0.5)


def _score_outlier(first: float, rerun: float, committed_median: float) -> float:
    """Value the gate scores into the record after a re-run (ADVICE r11):
    ``min(first, max(rerun, committed_median))``.

    The gate exists to SUPPRESS spikes, not to DISCOVER improvements — a
    memo-warm rerun can be structurally faster than any cold first pass
    (session memos and localCheckpoints survive clearCache), and plain
    ``min(first, rerun)`` would ratchet the committed baseline downward
    round over round, over-tightening the 2x trigger for memo-building
    queries. Clamping the rerun at the committed median means the gate
    can only restore a spiked query toward its committed level; genuine
    improvements enter the baseline through spike-free rounds (the main
    loop's median, where no gate fires). If BOTH passes spiked, the
    lesser spike (``first`` when rerun > first) is the best available
    estimate and is scored as before."""
    return min(first, max(rerun, committed_median))


def _ambient_calibration() -> float:
    """Min seconds over 5 runs of a FIXED driver-side BLAS workload
    (2500x2500 ones-matmul, ~31 GFLOP). Same-code bench totals on this
    host swing ±25% with ambient load (VERDICT r8), and the r12 session
    measured a broad 1.12-1.19x median inflation that the >2x outlier
    gate rightly ignores — this probe stamps each record with the
    machine's speed AT RUN TIME so two records can be compared normalized
    (ratio of calibrations) instead of adjudicated by feel.

    Deliberately NOT a Spark/JVM workload: a codegen'd range-sum probe
    was tried first and decayed 0.32 -> 0.15 s across one session purely
    from JIT tiering — it measured JVM warmth, not machine speed. BLAS
    has no warmup tail; min-of-5 takes the least-contended sample.
    Recorded at start and end of the run; since r13 it also GATES the
    record's health label via _calibration_verdict (worst current probe
    vs best committed) — it still never rescales per-query numbers."""
    import numpy as np

    a = np.ones((2500, 2500))
    a @ a  # first call pays any thread-pool spin-up
    samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        a @ a
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 4)


def _ambient_membw_calibration() -> float:
    """Min seconds over 3 runs of a FIXED memory-bandwidth workload
    (copy + reduce over a 256 MB float64 array — streaming traffic far
    beyond any cache level), the second leg of the calibration bracket
    (VERDICT r13 task 3). The BLAS probe is compute-bound and saturates
    in-cache: round 13 produced TWO records whose CPU probe read healthy
    while every query family carried a uniform 1.28-1.35x inflation —
    the signature of memory/IO-side contention the matmul cannot see.
    This probe times exactly the resource those queries (shuffle spill,
    Arrow batches, parquet decode) actually contend on. Both buffers are
    allocated ONCE and the timed loop copies in place via np.copyto —
    a per-iteration `a.copy()` would malloc a fresh 256 MB each sample
    and time ~65k soft page faults plus allocator traffic (kernel-state
    noise) instead of memory bandwidth (r14 review finding). min-of-3
    after a throwaway first-touch pass."""
    import numpy as np

    a = np.ones(32_000_000, dtype=np.float64)  # 256 MB working set
    b = np.empty_like(a)
    np.copyto(b, a)  # throwaway: pays first-touch faults on both buffers
    float(b.sum())
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(b, a)
        float(b.sum())
        samples.append(time.perf_counter() - t0)
    del a, b
    return round(min(samples), 4)


_CALIB_DEGRADED_RATIO = 1.25
# Reference window: a monotone min over ALL history would let one
# anomalously fast probe — a turbo burst, cold-cache luck — ratchet the
# reference fast forever and label every later normal-speed run degraded.
# The reference is the min over the last N records' best probes (carried as
# probe_history in the verdict): an outlier ages out after N records, and a
# consistent streak of slower runs re-baselines once the outlier leaves the
# window — while a single committed degraded record still cannot launder the
# next equally-slow run (the healthy records' probes remain in the window).
_CALIB_HISTORY_N = 5


def _probe_verdict(
    start: float,
    end: float,
    probes: dict,
    prior: dict,
    start_key: str,
    end_key: str,
    hist_key: str,
) -> dict:
    """One probe kind's verdict (shared by the CPU and membw legs).

    The run's ambient speed is the WORSE (max) of its start/end probes —
    a run that degraded mid-flight is degraded. The reference is the min
    over a BOUNDED window: the last record's probes plus its verdict's
    ``probe_history`` (the last ``_CALIB_HISTORY_N`` records' best
    probes). Degraded records still get committed by design, and their
    probes enter the history too — the min over the window ignores them
    while any healthy probe remains, so a single slow committed record
    cannot launder the next equally-slow run; but unlike an unbounded
    carry-forward, an anomalously FAST probe ages out of the window
    after N records instead of poisoning the label forever."""
    current = round(max(start, end), 4)
    hist = [
        v
        for v in (prior.get(hist_key) or [])
        if isinstance(v, (int, float))
    ][-_CALIB_HISTORY_N:]
    ref_vals = [
        v
        for v in (probes.get(start_key), probes.get(end_key))
        if isinstance(v, (int, float))
    ] + hist
    new_hist = (hist + [min(start, end)])[-_CALIB_HISTORY_N:]
    if not ref_vals:
        return {
            "status": "no-reference",
            "current_worst": current,
            hist_key: new_hist,
        }
    ref = min(ref_vals)
    ratio = round(current / ref, 4)
    return {
        "status": "degraded" if ratio > _CALIB_DEGRADED_RATIO else "healthy",
        "current_worst": current,
        "committed_best": ref,
        "ratio": ratio,
        "threshold": _CALIB_DEGRADED_RATIO,
        hist_key: new_hist,
    }


def _calibration_verdict(
    calib_start: float,
    calib_end: float,
    committed_provenance: dict | None,
    membw_start: float,
    membw_end: float,
) -> dict:
    """Compare this run's ambient-calibration probes against the last
    COMMITTED record's and say whether the run is DEGRADED: a total
    measured on a host whose own probe reads 30 % slower must carry that
    label, not leave adjudication to the reader.

    Two probe legs: the BLAS/CPU probe and the memory-bandwidth probe,
    each judged worst-current vs bounded-window-best by
    :func:`_probe_verdict`; the record is labeled degraded if EITHER leg
    degrades (a healthy CPU probe can sit beside 1.3x broad inflation
    from memory-side contention that only the membw leg sees). Labels,
    never refuses: a driver-invoked run must still emit a record, but one
    that carries its own health verdict. No committed probe (fresh
    checkout) ⇒ explicitly ``no-reference``, never silently healthy."""
    probes = (committed_provenance or {}).get("ambient_calibration_sec") or {}
    prior = (committed_provenance or {}).get("ambient_verdict") or {}
    out = _probe_verdict(
        calib_start, calib_end, probes, prior, "start", "end", "probe_history"
    )
    out["membw"] = _probe_verdict(
        membw_start,
        membw_end,
        probes,
        prior.get("membw") or {},
        # v2 keys: the copyto probe halved the old per-iteration
        # a.copy() probe's scale (that one also timed ~65k page faults),
        # so old-method values must never serve as references for
        # new-method probes
        "membw2_start",
        "membw2_end",
        "membw2_probe_history",
    )
    if out["membw"]["status"] == "degraded":
        out["status"] = "degraded"
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = sf_dir
    spark = get_spark("spark-ibm-mq-spark-bench")
    spark.sparkContext.setLogLevel("WARN")
    # local[N]: the task slots every timing below ran on
    cpus = spark.sparkContext.defaultParallelism

    timings: dict[str, float] = {}
    # warm the JVM + parquet footers once with the flagship query
    registry.QUERIES["pricing_summary"](spark, sf_dir).collect()
    # warm the Python datasource/UDF worker pool too (worker fork + package
    # zip distribution is one-time session cost, not per-query cost)
    registry.QUERIES["mq_source_batch_drain"](spark, sf_dir).limit(1).count()
    calib_start = _ambient_calibration()
    membw_start = _ambient_membw_calibration()

    for name in sorted(registry.QUERIES):
        fn = registry.QUERIES[name]
        samples = []
        for _ in range(_RUNS):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # noop sink: executes the full physical plan (all columns, sorts,
            # joins) without driver-side collect skewing the measurement
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 4)
        # Per-query isolation (VERDICT r7 "what's wrong" #2): with 200+
        # queries in one local[32] JVM, cached datasets + un-GC'd shuffle
        # state from earlier queries drifted the r6→r7 overlap +12% with no
        # plan change. Drop Dataset/table caches and nudge the JVM GC
        # between queries so round-over-round numbers compare PLANS, not
        # session aging. (RDD-level localCheckpoint blocks — the component
        # engine's memoized labels — live outside the catalog cache and
        # survive this, as intended: the memo models pipeline economics.)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    # Outlier re-run pass (VERDICT r10 task 3): a single ambient I/O spike
    # put a 5.3 s row in the r10 record for a query whose interleaved
    # ab_bench median is 1.7 s. Any query reading >2x its last COMMITTED
    # median (and >0.5 s absolute — 2x on a 60 ms query is scheduler noise)
    # gets one more median-of-_RUNS pass AFTER the main loop (the spike has
    # usually passed by then); the record keeps both samples and scores
    # _score_outlier (rerun clamped at the committed median), so one spike
    # can never enter the committed history as if real — and a memo-warm
    # rerun can never ratchet the baseline downward either (ADVICE r11).
    here = os.path.dirname(os.path.abspath(__file__))
    committed_rec_tier = _committed_record(here)
    baseline, baseline_source = _committed_baseline(
        here, sf, cpus, committed_rec_tier
    )
    outlier_reruns: dict[str, dict[str, float]] = {}
    for name, first in sorted(timings.items()):
        base = baseline.get(name)
        if not _is_outlier(first, base):
            continue
        fn = registry.QUERIES[name]
        samples = []
        for _ in range(_RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        rerun = round(statistics.median(samples), 4)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        scored = round(_score_outlier(first, rerun, base), 4)
        outlier_reruns[name] = {
            "first": first, "rerun": rerun, "committed_median": base,
            "scored": scored,
        }
        timings[name] = scored

    total = round(sum(timings.values()), 4)
    mq_rates = mq_source_throughput(spark)
    # sampled AFTER the MQ drains so the start/end bracket covers
    # everything the record stores, including the throughput rates
    calib_end = _ambient_calibration()
    membw_end = _ambient_membw_calibration()
    calib_verdict = _calibration_verdict(
        calib_start,
        calib_end,
        (committed_rec_tier[0] or {}).get("provenance"),
        membw_start=membw_start,
        membw_end=membw_end,
    )

    # Full per-query map: too large for the driver's 2000-char stdout tail
    # (every BENCH_r{1..4}.json recorded parsed:null because the ~3.5 KB
    # JSON line was front-truncated before parsing). Persist the complete
    # record to a file and keep the printed line under the buffer.
    full = {
        "metric": "total_headline_query_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": _RUNS,
        "outlier_reruns": outlier_reruns,
        "outlier_baseline": baseline_source,
        **mq_rates,
        # Run attribution (VERDICT r8 task 4): same-code runs on this host
        # swing ±25% with ambient load, and builder-commit vs driver-final
        # numbers were being cross-quoted as if comparable. Label every
        # record with who ran it and when; compare only same-labelled runs
        # (or scripts/ab_bench.py interleaved pairs) round-over-round.
        "provenance": {
            # timings from different core counts are never compared:
            # `cpus` gates the outlier baseline (_committed_baseline);
            # `nproc` is the cores the process may use, `pyspark` the
            # engine version
            "cpus": cpus,
            "nproc": len(os.sched_getaffinity(0)),
            "pyspark": pyspark.__version__,
            # machine-speed stamps for normalized record comparison
            # (_ambient_calibration doc): ratio-of-calibrations between
            # two records estimates their ambient speed difference
            "ambient_calibration_sec": {
                "start": calib_start,
                "end": calib_end,
                # second leg since r14 (VERDICT r13 task 3): streaming
                # copy+reduce — sees the memory-side contention the
                # compute-bound BLAS probe is blind to
                "membw2_start": membw_start,
                "membw2_end": membw_end,
            },
            # the probe now GATES the record's health label (VERDICT r12
            # task 4): worst current probe vs best committed probe; >1.25x
            # ⇒ the whole record is stamped degraded so a slow-host total
            # can never again stand unlabeled next to a healthy one.
            "ambient_verdict": calib_verdict,
            "run_label": os.environ.get(
                "SPARK_GRAFT_BENCH_LABEL",
                # An unset env var must be distinguishable from a genuine
                # labelled run (ADVICE r9): driver/final runs were being
                # stamped "builder". Fall back to the invoking user, never
                # to a role name.
                "unlabeled-" + os.environ.get("USER", "unknown"),
            ),
            "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            # mq warm-up protocol: v2 = one FULL drain before timing
            # (r8+); v1 = limit(1) warm-up (≤r7). v1 and v2 msg/s numbers
            # are NOT comparable (ADVICE r8 #4): v1 charged first-scan
            # costs to the first measured run.
            "mq_warmup_protocol": "v2-full-drain",
        },
    }
    with open(os.path.join(here, "bench_full.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    print(_compact_line(full))
    spark.stop()


def _compact_line(full: dict, budget: int = 1900) -> str:
    """The printed one-line JSON: headline families first, then remaining
    queries slowest-first, greedily while the line stays parseable within
    the driver's 2000-char stdout tail.

    Extracted from main() so the r16 regression has a unit test: the full
    provenance block's probe histories grow one entry per round, and in r16
    they squeezed dedup_minhash_lsh — the slowest headline query — off the
    printed line (PERF_r16 "dropped_from_bench"). The printed line now
    carries a slim, FIXED-SIZE provenance (health status + ratio per leg,
    run attribution); every number it drops (calibration floats, probe
    histories, thresholds) still lives in bench_full.json's untouched
    provenance block. Constant-size provenance ⇒ the printed query set can
    no longer shrink round over round."""
    timings = full["queries"]
    headline = [
        "pricing_summary",
        *sorted(n for n in timings if n.startswith("tpch_")),
        *sorted(n for n in timings if n.startswith(("dedup_", "sim_", "scale_"))),
        "mq_source_stream_drain",
        "mq_source_batch_drain",
        "mq_source_destructive_drain",
        "stream_tumbling_counts_append",
        "stream_session_windows_append",
        "stream_stream_join",
        "pipeline_clean_corpus",
        "pipeline_pack_sequences",
        "text_token_counts",
        "join_revenue_by_nation",
        "win_rank_orders",
        "udf_pandas_net_price",
    ]
    rest = sorted((n for n in timings if n not in headline),
                  key=lambda n: -timings[n])
    compact = dict(full)
    compact["n_queries"] = len(timings)
    compact["full"] = "bench_full.json"
    compact["queries"] = {}
    # keep the printed line small: the full per-outlier detail lives in
    # bench_full.json; the line carries only the count
    compact["outlier_reruns"] = len(full.get("outlier_reruns") or {})
    verdict = full["provenance"].get("ambient_verdict") or {}
    compact["provenance"] = {
        "ambient_verdict": {
            "status": verdict.get("status"),
            "ratio": verdict.get("ratio"),
            "membw": {
                "status": (verdict.get("membw") or {}).get("status"),
                "ratio": (verdict.get("membw") or {}).get("ratio"),
            },
        },
        "run_label": full["provenance"]["run_label"],
        "utc": full["provenance"]["utc"],
        "mq_warmup_protocol": full["provenance"].get("mq_warmup_protocol"),
    }

    def _line() -> str:
        return json.dumps(compact, separators=(",", ":"))

    for name in [*headline, *rest]:
        if name not in timings:
            continue
        compact["queries"][name] = round(timings[name], 2)
        if len(_line()) > budget:
            del compact["queries"][name]
            break
    return _line()


if __name__ == "__main__":
    main()
