"""CSV and JSON-lines scans (SURVEY.md §2.2 Scans/sources).

The fixtures are parquet; these queries materialize deterministic CSV/JSONL
exports once per sf_dir (DuckDB does the export so both engines read the
exact same bytes) and then run schema'd `spark.read.csv` / `spark.read.json`
scans against SQL oracles over the same files.

Scale notes: both readers are splittable line formats — schema is always
declared (inference costs an extra pass and guesses types); at 100 TB these
land as staging reads that immediately re-materialize to parquet.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from spark_ibm_mq_spark.registry import register
from spark_ibm_mq_spark.tables import fixture_cache, load_table


def _export_dir(sf_dir: str) -> str:
    def build(d: str) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"""COPY (SELECT n_nationkey, n_name, n_regionkey
                     FROM read_parquet('{sf_dir}/nation.parquet') ORDER BY n_nationkey)
                TO '{d}/nation.csv' (HEADER, DELIMITER ',')"""
        )
        con.execute(
            f"""COPY (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                     FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey)
                TO '{d}/orders.jsonl' (FORMAT JSON)"""
        )
        con.close()

    return fixture_cache(sf_dir, ("nation", "orders"), "file_sources", build)


@register(
    "scan_csv_nation",
    oracle="""
    SELECT n.n_name, count(*) AS n_customers
    FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def scan_csv_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with declared schema + header, joined against a parquet
    table — mixed-format federation, the classic staging shape."""
    d = _export_dir(sf_dir)
    nation = spark.read.csv(
        os.path.join(d, "nation.csv"),
        header=True,
        schema="n_nationkey int, n_name string, n_regionkey int",
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        F.broadcast(nation)
        .join(cust, nation.n_nationkey == cust.c_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "scan_jsonl_orders",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS total
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_jsonl_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with declared schema — the reference's payloads are
    JSON text (README.md:12-15); this is the bulk-file form."""
    d = _export_dir(sf_dir)
    orders = spark.read.json(
        os.path.join(d, "orders.jsonl"),
        schema="o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double",
    )
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total")
    )


@register(
    "scan_orc_roundtrip_region",
    oracle="""
    SELECT r.r_regionkey, r.r_name,
           CAST(count(n.n_nationkey) AS BIGINT) AS n_nations
    FROM region r LEFT JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_regionkey, r.r_name
    """,
)
def scan_orc_roundtrip_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source coverage via a full round-trip: region + nation
    re-materialize as ORC (Spark's built-in columnar sibling to parquet),
    are read BACK through `spark.read.orc`, and the joined rollup must
    match the oracle computed from the original parquet — proving the
    write path, the read path, and type fidelity (bigint/string survive
    the format) in one query. DuckDB cannot read ORC, so the oracle
    states the result over the source-of-truth parquet instead — which
    is exactly the invariant a format round-trip should satisfy.

    Scale notes: ORC, like parquet, is a splittable columnar format with
    predicate pushdown and column pruning in Spark's native reader; at
    100 TB the choice between them is ecosystem (Hive/Trino affinity),
    not capability — this query exists so a user migrating an ORC lake
    has a tested path."""
    def build(d: str) -> None:
        for t in ("region", "nation"):
            load_table(spark, sf_dir, t).write.orc(os.path.join(d, t))

    d = fixture_cache(sf_dir, ("region", "nation"), "orc_export", build)
    r = spark.read.orc(os.path.join(d, "region"))
    n = spark.read.orc(os.path.join(d, "nation"))
    return (
        r.join(n, n.n_regionkey == r.r_regionkey, "left")
        .groupBy("r_regionkey", "r_name")
        .agg(F.count("n_nationkey").cast("bigint").alias("n_nations"))
    )
