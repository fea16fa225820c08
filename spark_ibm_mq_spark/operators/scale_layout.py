"""Physical-layout scale techniques as driver-checked queries.

The dedup/ANN docstrings promise "at 100 TB, write the corpus ONCE as
cell-bucketed parquet / date-partitioned parquet and amortize it across
query batches". These two queries RUN that promise at fixture scale: each
materializes the layout once per (session, fixture), then answers from it —
the bucketed self-join with zero exchanges, the partitioned scan with
partition pruning — and both carry full DuckDB value-parity oracles over
the *logical* result, which is layout-independent by construction.

The layouts live in `tables.fixture_cache` directories and the bucketed
table's files in a `session.scratch_dir`, both removed at interpreter exit.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from spark_ibm_mq_spark.operators.dedup import _COS_CELLS, _UNIT_SQL, _dot_sql
from spark_ibm_mq_spark.operators.projections import EVENTS_CTE
from spark_ibm_mq_spark.registry import register
from spark_ibm_mq_spark.session import scratch_dir
from spark_ibm_mq_spark.tables import fixture_cache, fixture_fingerprint, load_table


# ---------------------------------------------------------------------------
# Bucketed cell layout: self-join and aggregates with ZERO exchanges
# ---------------------------------------------------------------------------

_ASSIGN_SQL = f"""
    unit AS (SELECT vec_id, {_UNIT_SQL} AS u FROM embeddings),
    cent AS (SELECT vec_id AS cell, u AS cu FROM unit ORDER BY vec_id LIMIT {_COS_CELLS}),
    assign AS (
        SELECT vec_id, u, cell FROM (
            SELECT e.vec_id, e.u, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY floor(({_dot_sql('e.u', 'c.cu')}) * 1000000) DESC, c.cell) AS rn
            FROM unit e CROSS JOIN cent c
        ) WHERE rn = 1
    )
"""


@register(
    "scale_bucketed_cell_manifest",
    oracle=f"""
    WITH {_ASSIGN_SQL},
    pairs AS (
        SELECT a.cell, {_dot_sql('a.u', 'b.u')} AS cos
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT c.cell, c.n_vecs,
           CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_pairs,
           round(p.max_cos, 4)                  AS max_cos
    FROM (SELECT cell, count(*) AS n_vecs FROM assign GROUP BY cell) c
    LEFT JOIN (SELECT cell,
                      sum(CASE WHEN cos >= 0.4 THEN 1 ELSE 0 END) AS n_dup,
                      max(cos)                                    AS max_cos
               FROM pairs GROUP BY cell) p USING (cell)
    """,
)
def scale_bucketed_cell_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-once bucketed layout the cell-blocked dedup/ANN operators
    promise: nearest-centroid cell assignment is computed ONCE and saved as
    a parquet table bucketed (and sorted) by cell; the within-cell pair
    scan, both per-cell aggregates, and the manifest join then all run with
    ZERO exchanges — every operator's required distribution is satisfied by
    the bucketing (plan-asserted in tests). At 100 TB this is the
    difference between shuffling the corpus per batch of queries and
    reading co-located buckets; re-runs in the same session reuse the
    table, mirroring the amortized index build.

    Output: per-cell index manifest (population, near-dup pair count at
    cosine ≥ 0.4, max pair cosine) — the stats a shard planner reads.
    Determinism: assignment and pair cosines are the same sequential double
    folds as `dedup_embedding_cosine` (dedup.py); the oracle states the
    logical result, which is independent of the physical layout."""
    t = _cell_table(spark, sf_dir)
    a = t.select(F.col("vec_id").alias("vec_a"), F.col("u").alias("ua"), "cell")
    b = t.select(
        F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"), F.col("cell").alias("cell_b")
    )
    cos = F.aggregate(
        F.zip_with("ua", "ub", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    pair_stats = (
        a.join(b, (F.col("cell") == F.col("cell_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("cell", cos.alias("cos"))
        .groupBy("cell")
        .agg(
            F.sum(F.when(F.col("cos") >= 0.4, 1).otherwise(0)).alias("n_dup"),
            F.max("cos").alias("mx"),
        )
    )
    vec_counts = t.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        vec_counts.join(pair_stats, "cell", "left")
        .select(
            "cell",
            "n_vecs",
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
            F.round("mx", 4).alias("max_cos"),
        )
    )


def _cell_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid cell assignment — delegates to the session-shared
    `dedup._cell_assignment` engine (one normalize + assign per sweep;
    this was the fourth verbatim copy until the r12 review flagged it)."""
    from spark_ibm_mq_spark.operators.dedup import _cell_assignment as shared

    return shared(spark, sf_dir).select("vec_id", "u", "cell")


def _cell_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cell-assignment frame, served from the bucketed table (written
    once per session). If the environment can't host a catalog table (e.g.
    a read-only working directory for the warehouse dir), fall back to the
    logical frame repartitioned by cell — values identical, only the
    zero-exchange physical property is lost (the plan test runs where
    bucketing works)."""
    tbl = f"emb_cells_bkt_{fixture_fingerprint(sf_dir, ('embeddings',), 'emb_cells_bkt')}"
    if spark.catalog.tableExists(tbl):
        return spark.table(tbl)
    assign = _cell_assignment(spark, sf_dir)
    try:
        (
            assign.write.bucketBy(8, "cell")
            .sortBy("cell", "vec_id")
            .option("path", scratch_dir("bkt_cells_"))
            .saveAsTable(tbl)
        )
        return spark.table(tbl)
    except Exception:
        return assign.repartition(8, "cell")


# ---------------------------------------------------------------------------
# Salted two-phase aggregation: the hot-key spread, value-identical
# ---------------------------------------------------------------------------


@register(
    "scale_salted_agg",
    oracle="""
    SELECT l_returnflag,
           count(*)                 AS n,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def scale_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting as a first-class operator, not just a test: `l_returnflag`
    has a 3-value domain, so an unsalted aggregation over a 100 TB lineitem
    lands ALL rows on 3 reducers no matter how many executors exist — the
    canonical low-cardinality/hot-key shuffle. Salt = `pmod(xxhash64(key),
    16)` fans each flag across 16 partial groups (48 reducers carry the
    combine), and the second phase folds 48 tiny partials. The oracle is
    the PLAIN aggregation — proving the rewrite is value-identical is the
    entire point (partial sums reassociate double addition; the query's
    round(.,4) convention absorbs that, same as every sum in the suite)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("l_quantity").alias("ps"))
        .groupBy("l_returnflag")
        .agg(
            F.sum("pn").alias("n"),
            F.round(F.sum("ps"), 4).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Date-partitioned layout: scan that prunes partitions, not filters rows
# ---------------------------------------------------------------------------


def _events_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` rewritten once per fixture version as date-partitioned
    parquet (`event_date=.../`), read back with a date partition column."""

    def build(d: str) -> None:
        load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.col("ts").cast("date")
        ).write.mode("overwrite").partitionBy("event_date").parquet(d)

    d = fixture_cache(sf_dir, ("events",), "events_by_date", build)
    return spark.read.parquet(d).withColumn("event_date", F.col("event_date").cast("date"))


@register(
    "scale_partitioned_scan_pruned",
    oracle=f"""
    {EVENTS_CTE}
    SELECT CAST(ts AS DATE) AS event_date,
           event_type,
           count(*)             AS n,
           round(sum(value), 4) AS total_value
    FROM ev
    WHERE CAST(ts AS DATE) <= (SELECT min(CAST(ts AS DATE)) + 6 FROM ev)
    GROUP BY 1, 2
    """,
)
def scale_partitioned_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning made literal: events are rewritten ONCE per
    (session, fixture) as date-partitioned parquet (`event_date=.../`), and
    the query filters on the partition column with a plan-time literal — so
    the scan's PartitionFilters prune whole directories and the files for
    the other ~3 weeks of data are never opened (plan-asserted in tests).
    At 100 TB date-partitioning is the first layout decision any event
    table makes; this is the read path it buys.

    The cutoff (min date + 6 days) is resolved driver-side from a
    min-aggregate job over the tiny date column — one scalar, fetched
    before planning precisely so the pruning is static rather than a
    runtime subquery (the same reason a real pipeline templates its date
    literals into the query). Oracle states the identical logical result
    over the unpartitioned fixture."""
    cutoff = (
        load_table(spark, sf_dir, "events")
        .agg(F.date_add(F.min(F.col("ts").cast("date")), 6).alias("c"))
        .collect()[0]["c"]
    )
    return (
        _events_by_date(spark, sf_dir)
        .filter(F.col("event_date") <= F.lit(cutoff))
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# Z-order clustering manifest: multi-dimensional locality for row-group pruning

_Z_BITS = 10  # 10 bits/dim -> 20-bit z-value; zblock fixes the top 8

_ZX_SQL = "(o_custkey % 1024)"
_ZY_SQL = "(date_diff('day', DATE '1992-01-01', o_orderdate) % 1024)"
_ZVAL_SQL = " + ".join(
    f"((({_ZX_SQL} >> {i}) & 1) + 2 * (({_ZY_SQL} >> {i}) & 1)) * {4**i}"
    for i in range(_Z_BITS)
)


@register(
    "scale_zorder_manifest",
    oracle=f"""
    WITH z AS (
        SELECT o_orderkey, {_ZX_SQL} AS x, {_ZY_SQL} AS y,
               CAST({_ZVAL_SQL} AS BIGINT) AS zval
        FROM orders
    )
    SELECT CAST(zval >> 12 AS BIGINT) AS zblock,
           CAST(count(*) AS BIGINT) AS n,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max
    FROM z GROUP BY zblock
    """,
)
def scale_zorder_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering manifest over orders: interleave 10 bits
    of customer key with 10 bits of order-date day index, then report each
    4096-cell z-block's row count and per-dimension min/max envelope. The
    envelopes ARE the proof of the technique: fixing the top 8 z-bits leaves
    6 free bits per dimension, so every block spans ≤ 64 of 1024 values in
    BOTH dimensions — the property that makes parquet row-group min/max
    stats prune ~16× on predicates over EITHER column after writing the
    table sorted by zval (what Delta/Iceberg OPTIMIZE ZORDER does; at
    100 TB this manifest is the layout pass you run before the one-time
    clustered rewrite, and it doubles as the skew check on block sizes).

    Engine parity: the bit interleave is pure integer arithmetic (shift,
    mask, scaled sum) generated from one shared formula — bit-identical in
    Spark and DuckDB; day index is an integer date-diff from a fixed epoch.
    Plan: narrow 2-column scan → codegen expression → one map-side-
    combinable aggregate on the block key; nothing else shuffles."""
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_custkey") % 1024
    y = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")) % 1024
    zval = None
    for i in range(_Z_BITS):
        term = (
            F.shiftright(x, i).bitwiseAND(F.lit(1))
            + F.shiftright(y, i).bitwiseAND(F.lit(1)) * 2
        ) * F.lit(4**i)
        zval = term if zval is None else zval + term
    z = o.select(
        x.alias("x"), y.alias("y"), zval.cast("bigint").alias("zval")
    )
    return z.groupBy(F.shiftright("zval", 12).cast("bigint").alias("zblock")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )


@register(
    "scale_salted_join",
    oracle="""
    SELECT c_mktsegment,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def scale_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated shuffle join by SALTING: the build side (customer) is
    replicated ×8 with an explicit salt column, the probe side (orders)
    derives its salt from a uniform hash of its own unique key, and the
    join runs on (c_custkey, salt) — so a pathologically hot customer key,
    which a plain shuffle join lands on ONE reducer, is spread across 8.
    Value-identical to the plain join (each probe row meets exactly the one
    replica matching its salt), verified by the plain-join oracle.

    This is the manual form of what AQE skew-join does adaptively at
    runtime; the manual salt stays necessary when skew is known AND extreme
    (AQE splits partitions, not single keys, and only after a stage
    materializes). Cost: build side ×8 (fine for dims), no extra shuffle —
    both sides shuffle once on the salted key, same as the plain join."""
    _SALT = 8
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # hint the shuffled hash join: at fixture scale Catalyst would broadcast
    # the replicated dim (making the salt moot); the scenario this operator
    # demonstrates is the build side TOO BIG to broadcast — force the
    # shuffle path so the salted exchange is the plan that actually runs
    c_rep = c.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT)]))
    ).hint("shuffle_hash")
    o_salted = o.select(
        "o_custkey",
        "o_totalprice",
        F.pmod(F.xxhash64("o_orderkey"), F.lit(_SALT)).cast("int").alias("salt"),
    )
    return (
        o_salted.join(
            c_rep,
            (o_salted.o_custkey == c_rep.c_custkey) & (o_salted.salt == c_rep.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


@register(
    "scale_skew_diagnostics",
    oracle=f"""
    {EVENTS_CTE},
    k AS (SELECT user_id, count(*) AS cnt FROM ev GROUP BY 1)
    SELECT count(*)                     AS n_keys,
           CAST(sum(cnt) AS BIGINT)     AS total_rows,
           max(cnt)                     AS max_cnt,
           round(quantile_cont(cnt, 0.5), 4)   AS p50_cnt,
           round(quantile_cont(cnt, 0.99), 4)  AS p99_cnt,
           round(max(cnt) * count(*) * 1.0 / sum(cnt), 4) AS skew_factor,
           CAST(least(32, ceil(max(cnt) * count(*) * 1.0 / sum(cnt)))
                AS BIGINT)              AS salt_factor
    FROM k
    """,
)
def scale_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report — the MEASUREMENT side of the salting
    operators in this module (`scale_salted_agg`/`scale_salted_join` fix
    skew; this query tells you whether you have it and how much salt to
    use, instead of guessing). One row: key cardinality, hottest-key count,
    exact p50/p99 of the per-key distribution, skew factor (hottest key vs
    mean — the straggler multiplier an unsalted shuffle would suffer), and
    the derived salt factor, capped at 32 (beyond that, salt overhead on
    the non-skewed keys outweighs the straggler win).

    Plan: two-level aggregate — per-key counts (one shuffle on the
    diagnosed key, map-side combined to one row per key) then a single-row
    global summary; the percentile runs over the per-key frame, which is
    |keys|-sized, not |rows|-sized. Run it over ANY prospective join/agg
    key before choosing a layout; this instance diagnoses events.user_id."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    skew = F.max("cnt") * F.count(F.lit(1)) / F.sum("cnt")
    return k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.expr("percentile(cnt, 0.5)"), 4).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_cnt"),
        F.round(skew, 4).alias("skew_factor"),
        F.least(F.lit(32), F.ceil(skew)).alias("salt_factor"),
    )


@register(
    "scale_compaction_plan",
    oracle="""
    WITH files AS (
        SELECT o_orderdate AS f_date,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) * 128 AS BIGINT) AS bytes
        FROM orders GROUP BY 1
    ),
    laid AS (
        SELECT *,
               coalesce(sum(bytes) OVER (
                   ORDER BY f_date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM files
    )
    SELECT CAST(floor(cum_before / 262144.0) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(sum(n_rows) AS BIGINT) AS total_rows,
           min(f_date) AS date_min,
           max(f_date) AS date_max,
           round(sum(bytes) / 262144.0, 4) AS fill_ratio
    FROM laid
    GROUP BY 1
    """,
)
def scale_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: model the table's file manifest as one
    file per order date (rows × 128-byte modeled width), then assign files
    to target-size output bins (256 KiB here; 256 MiB-1 GiB in
    production) by EXCLUSIVE running-byte-offset division — contiguous
    date runs coalesce into one rewrite task each, preserving sort order,
    the plan every Iceberg/Delta-style `OPTIMIZE`/compaction job computes
    before rewriting. Output: per-bin file count, bytes, rows, date span,
    and fill ratio (>1 means a single oversized file passes through
    untouched — floor of its own offset keeps it alone in its bin).

    All-integer arithmetic; the one division is by 2^18, exact for any
    sub-2^53 offset, so the plan is bit-identical across engines.

    Plan shape: this is a MANIFEST computation — its input is file
    metadata (|files| rows, millions at most for a 100 TB table), not
    data, so the single-partition running-sum window is deliberate and
    cheap; at extreme manifest sizes, range-partition the window by date
    prefix and offset each partition by the previous partitions' byte
    total (two passes, same assignment). The modeled 128 B/row stands in
    for real per-file sizes; on a live table, read the manifest itself."""
    o = load_table(spark, sf_dir, "orders")
    files = o.groupBy(F.col("o_orderdate").alias("f_date")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) * 128).alias("bytes"),
    )
    w = Window.orderBy("f_date").rowsBetween(Window.unboundedPreceding, -1)
    laid = files.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    )
    return (
        laid.groupBy(
            F.floor(F.col("cum_before") / F.lit(262144.0)).alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.sum("n_rows").alias("total_rows"),
            F.min("f_date").alias("date_min"),
            F.max("f_date").alias("date_max"),
            F.round(F.sum("bytes") / F.lit(262144.0), 4).alias("fill_ratio"),
        )
    )


@register(
    "scale_dynamic_partition_pruning",
    oracle=f"""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, user_id
                FROM events),
    days AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS buys
        FROM ev GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(buys) AS BIGINT) AS tb,
               CAST(count(*) AS BIGINT) AS nd
        FROM days
    ),
    peak AS (
        SELECT d FROM days CROSS JOIN tot WHERE buys * nd > tb
    )
    SELECT CAST(date_trunc('day', e.ts) AS DATE) AS event_date,
           e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM ev e JOIN peak p ON CAST(date_trunc('day', e.ts) AS DATE) = p.d
    GROUP BY 1, 2
    """,
)
def scale_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the partitioned event table is joined
    to a dimension whose membership is only known at RUNTIME (the
    above-average purchase days, themselves computed by a query), so no
    plan-time literal can prune — instead Spark broadcasts the dim,
    derives the partition values from it, and injects them into the
    fact scan's PartitionFilters as a dynamicpruning subquery: the
    other ~25 day-directories are never opened. This is the read-path
    half of every star-schema-on-a-date-partitioned-fact deployment
    ("give me facts for the days the dim selects") — the static twin is
    `scale_partitioned_scan_pruned`, whose cutoff is a driver-side
    literal. Plan-asserted in tests (`dynamicpruning` present, fact
    side NOT fully scanned).

    Oracle states the identical join over the unpartitioned fixture.
    Determinism: the above-average test is all-integer
    (buys·n_days > total_buys) on both engines."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("buys")
    )
    # The THRESHOLD (corpus-wide total/count) resolves driver-side to two
    # scalars — the scale_partitioned_scan_pruned "templated literal"
    # precedent — because DPP's selective-predicate detection wants a
    # Filter directly over the dim aggregate (a crossJoin-carried
    # threshold defeats the pattern). WHICH days pass remains runtime
    # knowledge: the dim query still executes and feeds the fact scan's
    # dynamicpruning subquery.
    tb, nd = days.agg(
        F.sum("buys").cast("bigint"), F.count(F.lit(1)).cast("bigint")
    ).collect()[0]
    peak = days.filter(F.col("buys") * F.lit(int(nd)) > F.lit(int(tb))).select(
        F.col("d").alias("event_date")
    )
    return (
        _events_by_date(spark, sf_dir)
        .join(F.broadcast(peak), "event_date")
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


_ROW_BYTES = 128          # modeled bytes per row (compaction-plan convention)
_TARGET_FILE = 134217728  # 128 MiB target file
_DAILY_MIN_BYTES = 4194304  # below 4 MiB/day, daily partitions are too small


@register(
    "scale_partition_evolution_plan",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(o_orderdate AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders GROUP BY 1, 2
    ),
    monthly AS (
        SELECT month,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(sum(n_rows) * {_ROW_BYTES} AS BIGINT) AS bytes,
               CAST(max(n_rows) AS BIGINT) AS peak_day_rows
        FROM daily GROUP BY 1
    )
    SELECT month, n_days, n_rows, bytes,
           CASE WHEN bytes >= n_days * {_DAILY_MIN_BYTES}
                THEN 'daily' ELSE 'monthly' END AS granularity,
           CAST(CASE WHEN bytes >= n_days * {_DAILY_MIN_BYTES}
                THEN n_days * ((peak_day_rows * {_ROW_BYTES}
                                + {_TARGET_FILE} - 1) // {_TARGET_FILE})
                ELSE (bytes + {_TARGET_FILE} - 1) // {_TARGET_FILE}
           END AS BIGINT) AS est_files
    FROM monthly
    """,
)
def scale_partition_evolution_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-granularity evolution plan: per month of the orders
    fact, recommend DAILY vs MONTHLY partitioning by whether the
    month's bytes clear a per-day minimum (tiny daily partitions are
    the classic small-file disease; oversized monthly ones kill
    pruning), plus an estimated file count at the 128 MiB target —
    the planning artifact behind lakehouse partition-evolution
    features (Iceberg-style), produced from row-count stats alone.

    All decisions are INTEGER arithmetic (byte thresholds by
    cross-multiplication, file counts by ceiling division (a+b−1) div
    b), so the plan is engine-exact. Plan: one groupBy(day) rollup,
    one groupBy(month) — stats-sized frames throughout."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.trunc("o_orderdate", "month").alias("month"),
        F.to_date("o_orderdate").alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    monthly = daily.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        (F.sum("n_rows") * _ROW_BYTES).cast("bigint").alias("bytes"),
        F.max("n_rows").cast("bigint").alias("peak_day_rows"),
    )
    is_daily = F.col("bytes") >= F.col("n_days") * _DAILY_MIN_BYTES
    daily_files = F.col("n_days") * F.expr(
        f"(peak_day_rows * {_ROW_BYTES} + {_TARGET_FILE} - 1) div {_TARGET_FILE}"
    )
    monthly_files = F.expr(f"(bytes + {_TARGET_FILE} - 1) div {_TARGET_FILE}")
    return monthly.select(
        "month",
        "n_days",
        "n_rows",
        "bytes",
        F.when(is_daily, "daily").otherwise("monthly").alias("granularity"),
        F.when(is_daily, daily_files).otherwise(monthly_files)
        .cast("bigint")
        .alias("est_files"),
    )


# Shared-helper dependency declarations (see registry.declare_helper_deps).
from spark_ibm_mq_spark.operators.dedup import _cell_assignment as _dedup_cells  # noqa: E402,E501
from spark_ibm_mq_spark.registry import declare_helper_deps  # noqa: E402

from spark_ibm_mq_spark.tables import session_memo as _session_memo  # noqa: E402

# _dedup_cells is session_memo-backed, so the consumer declares the memo
# engine too (census-enforced)
declare_helper_deps(
    "scale_bucketed_cell_manifest",
    _cell_table,
    _cell_assignment,
    _dedup_cells,
    _session_memo,
)
for _layout_query in ("scale_partitioned_scan_pruned", "scale_dynamic_partition_pruning"):
    declare_helper_deps(_layout_query, _events_by_date)
