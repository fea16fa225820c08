"""SparkSession helpers.

Scale posture: these are the confs a cluster deployment would set, applied
to one local JVM with `local[$SPARK_GRAFT_CPUS]` task slots. AQE handles
runtime re-planning (skew joins, shuffle coalescing); shuffle partitions
match the task slots, so an sf0.1 partition fits comfortably in memory,
and would be raised (or left to AQE) at cluster scale.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Generated classes the JVM keeps compiled. Spark's default is 100, and
# the benchmark's 13-query panel makes ~225 distinct classes a pass, so the
# LRU cache evicted every one before its query ran again and each pass
# recompiled them all with Janino: 223 compiles and 6.2-7.1 s a warm pass
# on 4 cores, against 0-18 compiles and 4.3-5.7 s at 2000. A static conf:
# Spark's `CodeGenerator` sizes its cache once, when the JVM first
# generates code, so only the session builder can set it; `spark.conf.set`
# on a running session refuses it, which is why it is not in
# `_RUNTIME_CONFS`.
_CODEGEN_CACHE_ENTRIES = "2000"

# Runtime-settable confs applied to ANY session (including the driver's) so
# oracle comparisons are deterministic: UTC session time, ANSI off (we want
# permissive casts like the reference's stringly-typed envelope), Arrow on
# for the pandas-UDF paths.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark can't read natively;
    # read as long and convert via exact integer division (tables.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # fixtures are small; broadcast threshold default (10MB) already catches
    # region/nation/supplier/part — keep explicit for clarity at scale.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    # Streaming checkpoints (offset log, commit log, state and sink
    # metadata) through the FileSystem API instead of the default
    # FileContext manager. Without the libhadoop native library, Hadoop's
    # local FileContext starts a `chmod` or `stat` child process about ten
    # times per log file (~45 ms for each of the two files a micro-batch
    # writes); the FileSystem API starts 2 `chmod` children (~15 ms). On
    # `file:` paths it still writes through a temp file renamed into place
    # (an atomic POSIX rename) and still writes `.crc` checksum files.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    The correctness driver creates its own SparkSession; every registered
    query routes through here first so results don't depend on the ambient
    session timezone or Arrow settings.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session — accept ambient value
    return spark


def get_spark(app_name: str = "spark-ibm-mq-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a local session with `SPARK_GRAFT_CPUS` task slots."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Local mode runs every task in the driver JVM, so the driver heap
        # is the whole cluster's memory: an undersized one turns the
        # pair-heavy dedup queries into GC churn (3× run-to-run variance
        # at 8g). It is a ceiling the heap grows into, not a reservation;
        # SPARK_DRIVER_MEMORY lowers it on a smaller host.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", _CODEGEN_CACHE_ENTRIES)
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune_for_oracle(builder.getOrCreate())


def scratch_base() -> str:
    """Base dir for EPHEMERAL scratch: per-call stream checkpoints and sink
    outputs that live only for one query invocation, and the derived
    fixtures of `tables.fixture_cache` that live until the process exits.

    Prefers tmpfs (/dev/shm) when present: these dirs are created and
    discarded within a single call, so durability buys nothing and they
    need not touch a disk. It is not a speed-up for the checkpoint logs of
    micro-batch loops: a probe that wrote the commit log 60 times timed
    ext4 and tmpfs within 10% of each other, and the per-batch cost was
    the child processes Hadoop's local file API starts (see the checkpoint
    manager in `_RUNTIME_CONFS`), not disk latency. On a real cluster the
    equivalent tier is local NVMe scratch/spill, while anything that must
    survive a restart (production streaming checkpoints, sink tables) goes
    to durable shared storage (HDFS/S3), NOT here. Override with
    SPARK_GRAFT_SCRATCH; falls back to the system tempdir.

    tmpfs is typically capped at RAM/2: at larger scale factors the
    fixture caches plus per-call checkpoints could exhaust it
    mid-bench with a confusing ENOSPC deep inside Spark, so /dev/shm is
    only chosen while it still has a conservative free floor (2 GiB, an
    order of magnitude above the sf0.1 scratch footprint); below that
    every new scratch dir lands on disk instead."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 2 << 30:
                return shm
        except OSError:
            pass
    return tempfile.gettempdir()


# Directories removed when the interpreter exits (see `scratch_dir`).
_REMOVE_AT_EXIT: list[str] = []
atexit.register(lambda: [shutil.rmtree(d, ignore_errors=True) for d in _REMOVE_AT_EXIT])


def remove_at_exit(path: str) -> str:
    """Have ``path`` removed, with everything under it, at interpreter exit."""
    _REMOVE_AT_EXIT.append(path)
    return path


def scratch_dir(prefix: str) -> str:
    """A fresh directory under `scratch_base()`, removed at interpreter exit.

    Queries return lazy frames that read these directories after the call
    returns, so the removal has to outlive the call: a ``finally`` would
    delete a sink before its result is read, and no removal at all leaks
    one broker copy and one sink per call across repeated runs."""
    return remove_at_exit(tempfile.mkdtemp(prefix=prefix, dir=scratch_base()))
