"""Fixture-table access (TESTDATA.md).

One parquet file per table under ``$sf_dir``. Always ``spark.read.parquet``
(never collect-and-recreate): this keeps filter pushdown and column pruning
live — at 100 TB these scans are the dominant cost and Catalyst must see the
parquet relation directly (``PushedFilters``/``ReadSchema`` in explain).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from spark_ibm_mq_spark.session import remove_at_exit, scratch_base

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Confs that change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# path -> (size, mtime_ns, inference confs), StructType
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job per call.

    Inference is a Spark job; its result depends only on the file and on
    the inference confs, so it is memoized on those (SCALE.md §9: fixture
    caches are fingerprinted by size+mtime, never by path alone)."""
    st = os.stat(path)
    fp = (st.st_size, st.st_mtime_ns, *(spark.conf.get(c) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (fp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    df = _read_parquet(spark, os.path.abspath(os.path.join(sf_dir, f"{name}.parquet")))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (nanosAsLong). Convert ns → µs with
        # integer DIV (a double division would lose precision above 2^53 ns)
        # and keep NTZ like every other fixture timestamp. Matches DuckDB's
        # ns→µs truncation, so oracle SQL can use CAST(ts AS TIMESTAMP).
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def fixture_fingerprint(sf_dir: str, tables: tuple[str, ...], name: str) -> str:
    """Key of the data ``name`` derives from ``tables`` of ``sf_dir``: the
    fixture path, the size and mtime of each named parquet file, and
    ``name`` itself. The path alone is not enough: a fixture regenerated at
    the same path would be served a stale derived copy while the oracle
    reads the fresh parquet (SCALE.md §9). A missing table raises."""
    parts = [name, os.path.abspath(sf_dir)]
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        parts.append(f"{t}|{st.st_size}|{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def fixture_cache(
    sf_dir: str, tables: tuple[str, ...], name: str, build: Callable[[str], None]
) -> str:
    """The directory holding data derived from ``tables`` of ``sf_dir``,
    built by ``build(dir)`` once per fixture version.

    ``build`` fills a private temp directory beside the cache path, which
    is then renamed into place; the rename is atomic, so the cache path
    either does not exist or holds a complete build. When two callers
    build at once, the later rename fails on the winner's non-empty
    directory and the loser drops its own copy. A ``build`` that raises
    leaves nothing behind. The process that publishes a cache removes it
    at exit. Because ``name`` is part of the key, no cache path can equal
    a directory of another layout that a crash left half-written."""
    parent = scratch_base()
    final = os.path.join(parent, f"{name}_{fixture_fingerprint(sf_dir, tables, name)}")
    if os.path.isdir(final):
        return final
    tmp = tempfile.mkdtemp(prefix=f".{os.path.basename(final)}.", dir=parent)
    try:
        build(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):
                raise
            return final
        return remove_at_exit(final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _parse_byte_conf(value: str) -> int:
    """Parse a Spark byte-size conf value ("10485760", "10MB", "1g", "-1")."""
    s = value.strip().lower()
    for suffix, mult in (
        ("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2), ("kb", 1024),
        ("t", 1024**4), ("g", 1024**3), ("m", 1024**2), ("k", 1024), ("b", 1),
    ):
        if s.endswith(suffix):
            return int(s[: -len(suffix)]) * mult
    return int(s)


def size_gated_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast ``df`` only while Catalyst's own size estimate says it fits
    under ``spark.sql.autoBroadcastJoinThreshold`` — otherwise return it
    un-hinted so the join falls back to a shuffle join on its equi keys
    (which AQE can skew-split).

    This is the size-aware replacement for the unconditional
    ``F.broadcast(...)`` pins the dedup funnels used to carry: those pinned
    corpus-proportional frames (token arrays / minhash signatures per doc),
    which is the right plan while the corpus broadcasts but an executor OOM
    the moment it doesn't. Here the CODE makes the scale decision, per run:
    the estimate comes from ``optimizedPlan().stats().sizeInBytes`` — the
    same statistic Spark's own auto-broadcast planning consults — which is
    driver-side planning only (no job; file-index size propagated through
    project/filter by Catalyst's size visitor). Estimation failure or a
    disabled threshold (``-1``) means NO pin — the conservative choice,
    since a wrong broadcast kills the job while a wrong shuffle only slows
    it.
    """
    spark = df.sparkSession
    try:
        threshold = _parse_byte_conf(
            str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
        )
        if threshold <= 0:
            return df
    except Exception:
        return df
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        # Spark Connect (or any session without the py4j `_jdf` bridge):
        # fall back to summing the source files' on-disk size — an
        # OVERestimate of the frame (no filter/projection applied) scaled
        # by a 4x decompression factor (snappy parquet -> row format), so
        # the gate stays conservative: a frame admitted here is well under
        # threshold in memory; estimation failure still means no pin.
        try:
            est = 4 * _input_files_bytes(df)
        except Exception:
            return df
    return F.broadcast(df) if est <= threshold else df


def _input_files_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of ``df``'s source files (local/file: paths).

    Connect-safe size probe: ``inputFiles()`` is part of the public
    DataFrame API on both classic and Connect sessions. Raises when the
    frame has no file-backed lineage or a file cannot be stat'ed — callers
    treat that as "size unknown"."""
    import os
    from urllib.parse import urlparse

    files = df.inputFiles()
    if not files:
        raise ValueError("no input files — size unknown")
    total = 0
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("", "file"):
            raise ValueError(f"non-local input file {f} — size unknown")
        total += os.path.getsize(p.path or f)
    return total


def durable_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage via RELIABLE ``checkpoint`` when the
    session has a checkpoint directory configured, else ``localCheckpoint``.

    The scale decision lives in CODE, not comments: iterative plans
    (connected components' per-round label frames, the bitmap word cube)
    must cut lineage each round, but executor-LOCAL checkpoints are not
    fault-tolerant — on a real cluster an executor loss kills the query
    instead of recomputing. A production session sets
    ``spark.sparkContext.setCheckpointDir("hdfs://...")`` once and every
    call here silently upgrades to the durable path; the local[...] test
    session has no dir and keeps the zero-copy local variant.

    ``eager=False`` defers writing the checkpoint blocks to the first
    action on the returned frame, so a caller that ``count()``s it at once
    folds materialization and count into one job instead of two. It does
    not make the call free: under AQE (on in every session here)
    ``Dataset.checkpoint`` still executes every shuffle stage of ``df``
    when it is called, to plan the frame it wraps — one job per stage."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    return df.checkpoint(eager) if has_dir else df.localCheckpoint(eager)


def session_memo(store, key, build, valid=None):
    """Session-scoped memoization with dead-application eviction.

    ``store`` is a module-global dict; ``key`` is a tuple whose FIRST
    element is the CURRENT Spark application's ``applicationId`` (the
    convention every memo in the package already follows — keyed on the
    application so a fresh session, with a new JVM and dead executors,
    never sees a stale frame whose checkpoint blocks are gone).  On a
    hit the memoized value returns untouched (after ``valid``, if
    given, confirms it — e.g. the replay-export memo re-checks its
    ``_SUCCESS`` file).  On a miss, every entry whose applicationId
    differs from ``key[0]`` is evicted BEFORE building: those entries
    are unreachable-but-retained lineage handles of stopped sessions,
    which a long-lived multi-session process (the pytest/bench runner)
    would otherwise accumulate without bound (VERDICT r15 hygiene
    item).  Eviction on the miss path keeps the hit path a single dict
    probe.

    Thread-safety: concurrent queries on ONE session (a mode the dedup
    memos document as supported) can miss simultaneously, so the sweep
    snapshots the keys with ``list(store)`` (atomic under the GIL — no
    Python bytecode runs mid-listing, unlike a filtering comprehension
    over the live dict) and pops tolerantly.  Evicting on a mere
    applicationId mismatch is safe, not just convenient: Spark allows
    one live SparkContext per JVM, and every SparkSession sharing that
    context reports the SAME applicationId — a differing id therefore
    proves a stopped application, never a concurrently-live sibling."""
    hit = store.get(key)
    if hit is not None and (valid is None or valid(hit)):
        return hit
    app = key[0]
    for dead in list(store):
        if dead[0] != app:
            store.pop(dead, None)
    val = build()
    store[key] = val
    return val


def spread(df: DataFrame, *cols: str, force: bool = False) -> DataFrame:
    """Repartition an under-partitioned input up to the session parallelism.

    The fixture tables are single-row-group parquet files → 1-partition
    scans, which would serialize every downstream per-row compute stage on
    one core. A real multi-split table never hits this, so the repartition
    is applied ONLY when the scan has fewer partitions than cores (no extra
    shuffle at scale), and the width comes from ``defaultParallelism``
    rather than a hardcoded constant so it tracks the actual cluster.

    ``force=True`` keeps the exchange unconditionally — used where the
    repartition is a ReuseExchange point shared by several consumers (the
    exchange materializes an expensive per-row compute once instead of once
    per consumer), which is worth one shuffle at any scale.

    Width detection deliberately avoids ``df.rdd.getNumPartitions()``: that
    forces physical planning and, under AQE, can eagerly execute upstream
    exchanges. ``inputFiles()`` is driver-side metadata from the logical
    plan's file index — no job, no planning. The heuristic applies ONLY to
    single-leaf-scan lineages (ADVICE r4: summing leaf files across a
    multi-scan plan, e.g. after a join, says nothing about that plan's
    width); for one scan, file count is a *lower bound* on partitions
    (Spark additionally splits big files by maxPartitionBytes), so
    ``n_files ≥ cores`` ⇒ definitely parallel ⇒ skip. The residual cost —
    a redundant exchange when ONE huge file would have split wide anyway —
    is bounded and never hits the fixture (single small files) or a real
    table layout (many files).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if not force:
        try:
            jplan = df._jdf.queryExecution().analyzed()
            if jplan.collectLeaves().size() != 1:
                return df
            n_files = len(df.inputFiles())
        except Exception:
            return df
        if n_files == 0 or n_files >= target:
            return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
