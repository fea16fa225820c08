"""Session pinning, progress collection and host sampling shared by the
workloads."""

from __future__ import annotations

import json
import os
import signal
import threading
import time

from perfbench import metrics

# Fits a 15 GB, 4-core host next to the Python workers. The heap is fixed
# and touched at start: left to grow, the panel's JVM ended between 2.5 and
# 3.5 GB resident from run to run, as GC timing decided, which moved peak
# RSS by 24%. Peak RSS then reads the heap size plus what the JVM and the
# Python workers use outside it. A 2g heap steadied peak RSS as well, but
# spread the panel's throughput across runs by 20%.
DRIVER_MEMORY = "4g"


def pin_environment(root: str, work: str, cpus: int) -> None:
    """Pin what the session reads from the environment before the JVM
    starts: core count, heap, and every scratch path inside ``work``.

    PYTHONPATH carries the repository root to Spark's Python workers: the
    streaming planner worker does not see files added with ``addPyFile``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYTHONPATH": os.pathsep.join(paths),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
            "PYSPARK_SUBMIT_ARGS": (
                f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
                f'-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch" '
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )


def start_session():
    from spark_ibm_mq_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = metrics.process_tree(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in tree:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class ProgressLog:
    """Every progress event of the session.

    A listener keeps them all; ``query.recentProgress`` holds only the last
    100 batches."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = json.loads(event.progress.json)
                with log._lock:
                    log.events.append(p)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def of(self, query_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.events if p["id"] == query_id]

    def committed(self, query_id: str) -> int:
        """Queue position up to which the query has committed batches."""
        return max((end for _, end, _ in metrics.batch_spans(self.of(query_id))), default=0)


class HostMonitor:
    """Peak RSS of this process tree, sampled every 0.25 s (with its split
    by process name), plus CPU and steal readings taken at the edges of the
    measured window."""

    def __init__(self) -> None:
        self.pid = os.getpid()
        self.peak_rss = 0
        self.peak_mb_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.wait(0.25):
            by_comm = metrics.tree_rss(self.pid)
            rss = sum(by_comm.values())
            if rss > self.peak_rss:
                self.peak_rss = rss
                self.peak_mb_by_comm = {comm: r // 2**20 for comm, r in by_comm.items()}

    def window_start(self) -> None:
        self.t0 = time.time()
        self._stat0 = metrics.read_proc_stat()
        self._tree0 = metrics.tree_usage(self.pid)

    def window_end(self) -> dict[str, float]:
        self.t1 = time.time()
        stat1 = metrics.read_proc_stat()
        jvm, py = metrics.cpu_split(self._tree0, metrics.tree_usage(self.pid))
        return {
            "host.steal_frac": metrics.steal_frac(self._stat0, stat1),
            "cpu.jvm_s": jvm,
            "cpu.python_s": py,
        }

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
