"""Query/oracle registry.

Every operator from SURVEY.md §2.2 registers a named query callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a DuckDB oracle
SQL string. ``__spark_entry__.py`` re-exports the merged dicts; the driver
hash-compares each pair at sf0.01.

Conventions (FIXTURES.md): alias every computed column identically in both
engines; round float aggregates to 4 decimals; UTC session timezone.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_ibm_mq_spark.session import tune_for_oracle

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Shared-helper dependency declarations (query name -> helper callables).
# stable_tier.py folds each declared helper's SOURCE into the query's
# change detection: a registered function's own source + oracle miss
# edits to session-memo engines (_cell_assignment, _minhash_funnel,
# _knn_graph, ...) that several queries delegate their math to — the
# r12 review's gate-blind-spot finding.  Declarations live at module
# level AFTER the function definitions, NOT in the @register decorator
# line, so adding one never changes the query's own source fingerprint.
# One level deep: a helper calling another helper should be declared
# explicitly by the consumer (transitive closure is not computed).
HELPER_DEPS: dict[str, tuple[Callable, ...]] = {}


def declare_helper_deps(name: str, *fns: Callable) -> None:
    """Record that query ``name`` delegates computation to ``fns``.

    MERGES with any earlier declaration for the same query (order
    preserved, duplicates dropped): r13's IVM-twin loop re-declared
    ``stream_ks_drift_monitor`` / ``stream_dsir_model_update`` after
    their individual declarations and the then-assignment semantics
    silently CLOBBERED their ks/dsir helper deps out of the freshness
    ledger — a helper edit would have left both queries' greens stale.
    Multiple call sites for one query are legitimate (a shared-scaffold
    loop plus a per-query declaration), so merge is the only safe
    semantics."""
    HELPER_DEPS[name] = tuple(
        dict.fromkeys(HELPER_DEPS.get(name, ()) + fns)
    )


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query and optional DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(tune_for_oracle(spark), sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # lets tooling reach the operator source
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all_modules() -> None:
    """Import every operator module so registrations run."""
    import spark_ibm_mq_spark.operators  # noqa: F401  (imports submodules)
