"""Query registry: every declared operator from SURVEY.md §2 gets a named
query (spark, sf_dir) -> DataFrame and (where SQL-expressible) a DuckDB
oracle SQL string with identical column names and deterministic values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
EAGER: set[str] = set()


def register(name: str, oracle: str | None = None, eager: bool = False):
    """Decorator: add a query (and optionally its oracle SQL) to the registry.

    ``eager=True`` marks a query whose BUILDER executes cluster work
    (iterative training loops with per-round collects, temp-dir writes +
    localCheckpoint round-trips, count()-driven plan decisions): wrapping
    it in a view would run that work at registration time, so
    ``register_query_views`` skips it by default. The flag is enforced by
    ``pytest -m slow``: test_queries_oracle.py::
    test_register_query_views_default_is_metadata_only registers every
    non-eager query under a job group and fails if ANY Spark job ran."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        if eager:
            EAGER.add(name)
        return fn

    return deco


def _load_all() -> None:
    # import for registration side effects
    from btrblocks_spark.queries import (  # noqa: F401
        events_queries,
        extras,
        format_queries,
        pipeline_queries,
        quality,
        relational,
        stats,
        tpch_more,
        tpch_queries,
    )


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return dict(ORACLE)


def eager_queries() -> frozenset[str]:
    """Names of the queries registered with ``eager=True``."""
    _load_all()
    return frozenset(EAGER)


def register_query_views(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
    include_eager: bool = False,
) -> list[str]:
    """Expose registered operators as SQL temp views, so the engine surface
    is reachable from plain ``spark.sql``:

        register_query_views(spark, "/data/sf0.1")
        spark.sql("SELECT * FROM text_source_divergence ORDER BY source")

    Registered views are LAZY DataFrames — nothing executes until queried,
    and Catalyst fuses any outer SQL (filters, projections, joins over the
    view) into the operator's own plan, so view-wrapped operators compose
    without materialization. For that contract to be TRUE, queries whose
    builder itself executes work (``eager=True``: iterative trainers,
    round-trip queries that write temp tables, count()-driven plans) are
    skipped by default — name them explicitly or pass ``include_eager=True``
    to register them too, accepting the build-time execution. Base tables
    are registered as well (same names the oracle layer uses). Returns the
    registered view names."""
    from btrblocks_spark.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    queries = all_queries()
    if names is not None:
        todo = names
    else:
        todo = sorted(q for q in queries if include_eager or q not in EAGER)
    out = []
    for name in todo:
        queries[name](spark, sf_dir).createOrReplaceTempView(name)
        out.append(name)
    return out
