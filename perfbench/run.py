"""Benchmark entry point.

    python3 perfbench/run.py --workload mq_drain --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints diagnostics on stderr and, as the
last line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Every file it writes goes under
``.perfbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("mq_drain", "query_panel")

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
}


def layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def span_layers(span_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Median duration per call of each traced layer, over spans that
    started inside the measured window."""
    from perfbench import metrics, spans

    got: dict[str, list] = {}
    for s in spans.read_spans(span_dir):
        if t0 <= s["start"] <= t1:
            got.setdefault(s["name"], []).append(s)

    def med(name, field=None):
        vals = [
            (s["end"] - s["start"]) * 1000.0 if field is None else s[field]
            for s in got.get(name, [])
        ]
        return metrics.median(vals) if vals else 0.0

    return {
        "broker.read_ms": med("broker.read"),
        "broker.ack_ms": med("broker.ack"),
        "broker.put_ms": med("broker.put"),
        "source.read_ms": med("source.read"),
        "source.parse_ms": med("source.parse"),
        "source.commit_ms": med("source.commit"),
        "source.rows_per_batch": med("source.read", "rows"),
        "source.partitions_ms": med("source.partitions"),
        "source.splits": med("source.partitions", "splits"),
        "sink.call_ms": med("sink.call"),
        "sink.rows_per_batch": med("broker.put", "rows") if "sink.call" in got else 0.0,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spark_ibm_mq_spark")):
        print(f"perfbench: no spark_ibm_mq_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)

    from perfbench import drain, harness, panel, spans

    work = os.path.abspath(os.path.join(".perfbench_work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    harness.pin_environment(ROOT, work, cpus)
    span_dir = os.path.join(work, "spans")
    if args.trace:
        os.environ[spans.SPAN_DIR_ENV] = span_dir
        os.makedirs(span_dir, exist_ok=True)

    # SIGTERM unwinds like Ctrl-C, so the session and its processes are stopped.
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    host = harness.HostMonitor()
    spark = None
    try:
        t = time.perf_counter()
        spark = harness.start_session()
        session_s = time.perf_counter() - t
        progress = harness.ProgressLog(spark)
        if args.workload == "mq_drain":
            from spark_ibm_mq_spark.sources.mq import IBMMQDataSource

            spark.dataSource.register(spans.TracedIBMMQ if args.trace else IBMMQDataSource)
            workload = drain.run
        else:
            workload = panel.run
        res = workload(spark, progress, host, work, args.seed, args.seconds, bool(args.trace))
        span_values = span_layers(span_dir, host.t0, host.t1) if args.trace else {}
    finally:
        if spark is not None:
            harness.stop_session(spark)
        host.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    from perfbench import metrics

    setup_s = session_s + metrics.median(res["setup_runs_s"])
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": res["throughput_per_s"],
        "latency_p50_ms": res["latency_p50_ms"],
        "latency_p90_ms": res["latency_p90_ms"],
        "peak_rss_mb": host.peak_rss / 2**20,
    }
    n = res["samples"]
    print(
        f"perfbench: {args.workload} seed={args.seed} cpus={cpus} samples={n} "
        f"beyond_p90={metrics.beyond(n, 0.9)} p90_supported={metrics.supported(n, 0.9)} "
        f"setup_runs_s={[round(s, 3) for s in res['setup_runs_s']]} "
        f"host={json.dumps(res['host'])} peak_rss_mb_by_process={host.peak_mb_by_comm}",
        file=sys.stderr,
    )
    if args.trace:
        values = dict(res["layers"], **res["host"])
        values.update(span_values)
        values.update({f"traced.{k}": v for k, v in e2e.items()})
        out = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in layer_names()}
    else:
        out = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in E2E_UNITS.items()}
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
