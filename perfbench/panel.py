"""`query_panel`: one client running a fixed list of registered queries in
a closed loop over seeded fixture tables.

Each query is built with its registered callable and executed through its
own QueryExecution (``queryExecution.toRdd.count()``, which discards rows
as a ``noop`` sink does). A ``noop`` write would plan a second
QueryExecution of its own, and the phases read from the DataFrame's
tracker would then hold only ``analysis``; executing the DataFrame's own
QueryExecution times optimization and planning on the plan that runs, and
plans once.
"""

from __future__ import annotations

import math
import os
import sys
import time

from perfbench import datagen, metrics

SF = 0.001
MIN_PASSES = 3

# The ROADMAP targets, plan-bound TPC-H shapes, the batch `ibmmq` reader,
# the CDC/envelope operators and the pandas UDF. Heavy and light queries
# alternate so a pass has no long stretch of one kind.
PANEL = (
    "graph_pagerank_copurchase",
    "mq_source_batch_drain",
    "tpch_q5_local_supplier_volume",
    "mq_cdc_apply",
    "dedup_containment_3gram",
    "mq_source_multi_queue_union",
    "tpch_q9_product_type_profit",
    "mq_latest_wins",
    "graph_label_propagation",
    "mq_dlq_split",
    "tpch_q2_min_cost_supplier",
    "mq_seq_repair",
    "udf_pandas_net_price",
)
TARGETS = ("dedup_containment_3gram", "graph_pagerank_copurchase", "graph_label_propagation")
PHASES = ("analysis", "optimization", "planning")


def oracle_rows(sf_dir: str) -> dict[str, list]:
    """Canonical DuckDB oracle result of every panel query."""
    import duckdb

    from spark_ibm_mq_spark import registry

    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {q: canon(con.execute(registry.ORACLE[q]).df()) for q in PANEL}
    finally:
        con.close()


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (bytes, str)):
        v = item()
    if hasattr(v, "isoformat"):
        return v.isoformat().removesuffix("T00:00:00")
    if isinstance(v, float):
        return round(v, 6) + 0.0
    return v


def canon(pdf) -> list:
    """Rows as sorted tuples of plain values, columns in name order."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return [tuple(cols)] + sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def _phase_ms(tracker, name: str) -> float:
    opt = tracker.phases().get(name)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


def execute(spark, name: str, sf_dir: str, tag: str) -> dict:
    """Build and run one query; returns its timings and row count."""
    from spark_ibm_mq_spark import registry

    sc = spark.sparkContext
    t0 = time.perf_counter()
    df = registry.QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    group = f"perfbench-{tag}"
    sc.setJobGroup(group, name)
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # analysis, optimization and planning, once
        t2 = time.perf_counter()
        rows = qe.toRdd().count()
        t3 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
    tracker = qe.tracker()
    out = {
        "wall_ms": (t3 - t0) * 1000.0,
        "build_ms": (t1 - t0) * 1000.0,
        "exec_ms": (t3 - t2) * 1000.0,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(i.numTasks for s in stages if (i := st.getStageInfo(s))),
        "rows": int(rows),
    }
    out.update({f"{p}_ms": _phase_ms(tracker, p) for p in PHASES})
    return out


def _check(spark, names: tuple, sf_dir: str, want: dict) -> int:
    from spark_ibm_mq_spark import registry

    failed = 0
    for q in names:
        try:
            got = canon(registry.QUERIES[q](spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001 - a raising query is a failed one
            print(f"query_panel: {q} raised {type(e).__name__}: {e}", file=sys.stderr)
            failed += 1
            continue
        if got != want[q]:
            print(f"query_panel: {q} does not match its oracle", file=sys.stderr)
            failed += 1
    return failed


def warm_and_check(spark, sf_dir: str, want: dict) -> int:
    """The warm pass: run every panel query once and compare it with its
    oracle. It builds the session memos and lets the JIT compile the hot
    paths; it is set-up, so it runs on as many threads as there are cores.
    The `mq_*` queries share broker fixtures that are built on first use,
    so they run in order on one thread."""
    from concurrent.futures import ThreadPoolExecutor

    mq_queries = tuple(q for q in PANEL if q.startswith("mq_"))
    tasks = [mq_queries] + [(q,) for q in PANEL if q not in mq_queries]
    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        futures = [pool.submit(_check, spark, names, sf_dir, want) for names in tasks]
        return sum(f.result() for f in futures)


def run(spark, progress, host, work: str, seed: int, seconds: float, traced: bool) -> dict:
    from perfbench import spans
    from spark_ibm_mq_spark import registry
    from spark_ibm_mq_spark.sources import mq

    registry.load_all_modules()
    # Register the source here, with the package reaching the workers through
    # PYTHONPATH; marking the session registered keeps register_ibmmq from
    # writing its package zip to a fixed path outside the working tree.
    spark.dataSource.register(spans.TracedIBMMQAsPlain if traced else mq.IBMMQDataSource)
    mq._REGISTERED_SESSIONS.add(id(spark))

    t = time.perf_counter()
    sf_dir = os.path.join(work, "tables")
    datagen.write_tables(sf_dir, seed, SF)
    gen_s = time.perf_counter() - t
    want = oracle_rows(sf_dir)

    t = time.perf_counter()
    failed = warm_and_check(spark, sf_dir, want)
    for i, q in enumerate(PANEL):  # settle: one client, the measured path
        try:
            execute(spark, q, sf_dir, f"settle-{i}")
        except Exception:  # noqa: BLE001 - already counted by the warm pass
            pass
    warm_s = time.perf_counter() - t

    # Measured window: one client, whole passes until `seconds` have gone by,
    # and at least MIN_PASSES, so throughput is a median over passes.
    records, attempted, pass_s = [], len(PANEL), []
    host.window_start()
    t0 = time.perf_counter()
    while len(pass_s) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        p0 = time.perf_counter()
        for q in PANEL:
            attempted += 1
            try:
                r = execute(spark, q, sf_dir, str(attempted))
            except Exception as e:  # noqa: BLE001
                print(f"query_panel: {q} raised {type(e).__name__}: {e}", file=sys.stderr)
                failed += 1
                continue
            if r["rows"] != len(want[q]) - 1:
                print(f"query_panel: {q} returned {r['rows']} rows", file=sys.stderr)
                failed += 1
            records.append((q, r))
        pass_s.append(time.perf_counter() - p0)
    host_stamp = host.window_end()
    print(
        "query_panel: gen_s=%.2f warm_s=%.2f wall_ms=%s"
        % (gen_s, warm_s, [(q, round(r["wall_ms"])) for q, r in records]),
        file=sys.stderr,
    )

    # A query's latency is the median of its passes: the JIT is still
    # settling across passes, and one slow pass should not move p90.
    by_query: dict[str, list] = {}
    for q, r in records:
        by_query.setdefault(q, []).append(r["wall_ms"])
    walls = [metrics.median(v) for v in by_query.values()]
    return {
        "setup_runs_s": [gen_s + warm_s],
        "throughput_per_s": len(PANEL) / metrics.median(pass_s),
        "latency_p50_ms": metrics.percentile(walls, 0.5),
        "latency_p90_ms": metrics.percentile(walls, 0.9),
        "samples": len(walls),
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "host": host_stamp,
        "layers": query_layers(records),
    }


def query_layers(records: list) -> dict[str, float]:
    """Panel sums per pass, and per-query medians for the ROADMAP targets."""
    passes = max(1, len(records) / len(PANEL))
    keys = ("build_ms", "analysis_ms", "optimization_ms", "planning_ms", "exec_ms")
    out = {f"query.{k}": sum(r[k] for _, r in records) / passes for k in keys}
    for k in ("jobs", "stages", "tasks"):
        out[f"query.{k}"] = sum(r[k] for _, r in records) / passes
    for q in TARGETS:
        for k in keys:
            vals = [r[k] for name, r in records if name == q]
            out[f"query.{q}.{k}"] = metrics.median(vals) if vals else 0.0
    return out
