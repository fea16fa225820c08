"""UDF / UDAF / UDTF surface (SURVEY.md §2.2).

UDFs are the slow path by design (the whole engine prefers built-ins); these
queries exist to prove the Arrow-vectorized escape hatches work and agree
with the SQL oracle when the logic is deterministic arithmetic.

Scale notes: pandas_udf moves data JVM↔Python in Arrow batches (~10-100×
faster than row-at-a-time udf); applyInPandas additionally shuffles on the
group key and materializes each group in memory — groups must be bounded
(here: per-returnflag, 3 groups; per-customer in real pipelines).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf

from spark_ibm_mq_spark.registry import register
from spark_ibm_mq_spark.tables import load_table


def _net_price_udf():
    # defined lazily: pandas_udf resolves its return type against the active
    # session, so the decorator can't run at import time
    @pandas_udf("double")
    def _net_price(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
        """Vectorized net price: price·(1-discount)·(1+tax) on whole Arrow
        batches — no per-row Python."""
        return price * (1.0 - discount) * (1.0 + tax)

    return _net_price


@register(
    "udf_pandas_net_price",
    oracle="""
    SELECT l_returnflag,
           ((sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1e6 + 0.5)
                      AS BIGINT)) + 50) // 100) / 1e4 AS net_total,
           count(*) AS n
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag
    """,
)
def udf_pandas_net_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF in the projection, aggregated after — the result is
    identical to pure SQL because the arithmetic is (the point of the check).
    The quantity filter still pushes into the scan: Catalyst keeps pushable
    predicates below the Python eval.

    Exactness (SCALE.md §7): a double sum depends on summation order, so
    two engines can round the same total to neighbouring 1e-4 values when
    it sits next to a rounding boundary. Each row's net price is therefore
    quantized to micro-units, floor(net·1e6 + 0.5), before the sum; the sum
    runs as decimal(38,0) (HUGEINT in DuckDB), and the half-up rounding to
    1e-4 is integer arithmetic, (s + 50) div 100. Only the final scale to a
    double is floating point, and it is one exact division in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30)
    # one aggregate expression, not a projection after the aggregate: each
    # extra DataFrame step costs the build another analysis pass
    net_e4 = F.expr(
        "(sum(CAST(floor(net * 1e6 + 0.5) AS DECIMAL(38,0))) + 50) div 100"
    )
    return (
        li.withColumn("net", _net_price_udf()("l_extendedprice", "l_discount", "l_tax"))
        .groupBy("l_returnflag")
        .agg((net_e4 / F.lit(1e4)).alias("net_total"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "udaf_grouped_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS weighted_avg_price,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_grouped_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped UDAF via applyInPandas: quantity-weighted mean price per flag.

    The weighted mean is algebraic, so the JVM pre-reduces per (flag,
    input-partition) — map-side combine in whole-stage codegen — and the
    Arrow boundary only ships ~(groups × partitions) partial rows into
    pandas, which finalizes sum(pq)/sum(q). At 100 TB the Python worker
    sees KBs, not the fact table; this is the only applyInPandas shape
    that survives scale for decomposable aggregates."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    partials = li.groupBy(
        "l_returnflag", F.spark_partition_id().alias("pid")
    ).agg(
        F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("pq"),
        F.sum("l_quantity").alias("q"),
        F.count(F.lit(1)).alias("cnt"),
    )

    def weighted(pdf: pd.DataFrame) -> pd.DataFrame:
        avg = pdf["pq"].sum() / pdf["q"].sum()
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "weighted_avg_price": [round(avg, 4)],
                "n": [int(pdf["cnt"].sum())],
            }
        )

    return partials.groupBy("l_returnflag").applyInPandas(
        weighted, schema="l_returnflag string, weighted_avg_price double, n bigint"
    )


@register(
    "udtf_key_explode",
    oracle="""
    WITH keys AS (
        SELECT concat(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS VARCHAR), '_',
                      CAST(event_id AS VARCHAR)) AS key
        FROM events
    )
    SELECT CAST(string_split(key, '_')[1] AS BIGINT) AS put_ms,
           CAST(string_split(key, '_')[2] AS BIGINT) AS seq_no
    FROM keys
    """,
)
def udtf_key_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF decomposing envelope keys into (put_ms, seq_no) rows —
    the table-function form of the consumer parse (README.md:10-17). Uses
    mapInPandas (the Arrow-batched UDTF shape) rather than the row-based
    @udtf decorator: same semantics, vectorized transfer."""
    from spark_ibm_mq_spark.operators.mq_envelope import with_envelope

    env = with_envelope(load_table(spark, sf_dir, "events")).select("key")

    def explode_keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parts = pdf["key"].str.split("_", expand=True)
            yield pd.DataFrame(
                {"put_ms": parts[0].astype("int64"), "seq_no": parts[1].astype("int64")}
            )

    return env.mapInPandas(explode_keys, schema="put_ms bigint, seq_no bigint")


@register(
    "udtf_key_explode_decorator",
    oracle="""
    WITH keys AS (
        SELECT concat(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS VARCHAR), '_',
                      CAST(event_id AS VARCHAR)) AS key
        FROM events
    )
    SELECT CAST(string_split(key, '_')[1] AS BIGINT) AS put_ms,
           CAST(string_split(key, '_')[2] AS BIGINT) AS seq_no
    FROM keys
    """,
)
def udtf_key_explode_decorator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The genuine `@udtf` decorator form of `udtf_key_explode` (SURVEY
    §2.2 UDTF row): a registered Python table function applied per row via
    LATERAL — one eval() generator call per input row. This is the API-
    completeness demo; the mapInPandas twin is the Arrow-batched shape you
    run at scale (same semantics, vectorized transfer)."""
    from pyspark.sql.functions import udtf

    from spark_ibm_mq_spark.operators.mq_envelope import with_envelope

    @udtf(returnType="put_ms bigint, seq_no bigint")
    class KeyExplode:
        def eval(self, key: str):
            ms, seq = key.split("_")
            yield int(ms), int(seq)

    spark.udtf.register("key_explode", KeyExplode)
    view = f"env_keys_{abs(hash(sf_dir)) % 10_000_000}"
    with_envelope(load_table(spark, sf_dir, "events")).select("key") \
        .createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT t.put_ms, t.seq_no FROM {view}, LATERAL key_explode(key) t"
    )
