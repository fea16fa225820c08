"""Guards on the benchmark's query panel (`perfbench.panel.PANEL`): a
warm build runs no Spark job, and the panel's oracle check is exact on a
seed whose double sum sits next to a rounding boundary."""

from __future__ import annotations

import duckdb
import pytest

from perfbench import datagen
from perfbench.panel import PANEL, SF
from spark_ibm_mq_spark import registry

registry.load_all_modules()

# Queries whose warm build may still run Spark jobs, with how many and why.
BUILD_JOBS_ALLOWED = {
    # `durable_checkpoint(eager=False)` on the shingle-array frame runs its
    # shuffle stage at the call under AQE. The checkpoint pays: with a lazy
    # frame the two consumers recompute the shingles, and the query took
    # 2466 ms instead of 1636 ms at sf0.001 on 4 cores.
    "dedup_containment_3gram": 1,
}


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", PANEL)
def test_warm_build_runs_no_spark_job(spark, sf_dir, name):
    """The first build fills the session memos (edge lists, schemas, broker
    fixtures); a second build must only assemble a plan, leaving every
    job to the query's action."""
    build = registry.QUERIES[name]
    _jobs_in_group(spark, f"panel-first-build-{name}", lambda: build(spark, sf_dir))
    jobs = _jobs_in_group(spark, f"panel-warm-build-{name}", lambda: build(spark, sf_dir))
    assert jobs <= BUILD_JOBS_ALLOWED.get(name, 0), f"{name}: {jobs} jobs at build"


def test_net_price_matches_duckdb_next_to_a_rounding_boundary(spark, tmp_path):
    """Seed 78: the unrounded double sum of flag N is 31699707.344449997,
    within 1e-8 of a 1e-4 rounding boundary, so rounding a double sum gave
    ...3444 in Spark and ...3445 in DuckDB. Summed in micro-units, both
    engines return the same doubles."""
    sf_dir = str(tmp_path)
    datagen.write_tables(sf_dir, 78, SF)
    got = registry.QUERIES["udf_pandas_net_price"](spark, sf_dir)
    assert dict(got.dtypes)["net_total"] == "double"
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')"
        )
        want = con.execute(registry.ORACLE["udf_pandas_net_price"]).fetchall()
    finally:
        con.close()
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(want)
    assert all(isinstance(r[1], float) for r in want)
