"""Every registered query must match its DuckDB oracle bit-exactly at
sf0.001 (the driver's gate runs the same compare at sf0.01)."""

from __future__ import annotations

import pytest

from btrblocks_spark.oracle import compare
from btrblocks_spark.queries import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        ok, msg = compare(df, ORACLES[name], sf_dir)
        assert ok, f"{name}: {msg}"
    else:
        # rows-only contract: runs and has a stable schema
        assert df.columns, f"{name}: empty schema"
        assert df.count() >= 0


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


def test_register_query_views_sql_surface(spark, sf_dir):
    """Every operator is reachable from plain spark.sql as a lazy view, and
    outer SQL composes with the view's plan (filter over an operator)."""
    from btrblocks_spark.queries import register_query_views

    names = register_query_views(
        spark, sf_dir, ["text_source_divergence", "q1_pricing_summary"]
    )
    assert names == ["text_source_divergence", "q1_pricing_summary"]
    rows = spark.sql(
        "SELECT source, js_vs_ref FROM ("
        "SELECT source, js_vs_corpus AS js_vs_ref FROM text_source_divergence"
        ") WHERE js_vs_ref >= 0 ORDER BY source LIMIT 5"
    ).collect()
    assert len(rows) == 5
    n = spark.sql("SELECT count(*) AS n FROM q1_pricing_summary").collect()[0]["n"]
    assert n > 0


@pytest.mark.slow  # excluded from the default (driver-window) run; see pytest.ini
def test_register_query_views_default_is_metadata_only(spark, sf_dir):
    """Default registration (no names) must be pure metadata: no Spark job
    may run while building/registering the non-eager views — the
    'views are lazy' contract. This is the check behind the registry's
    ``eager=True`` flag. Eager-builder queries are excluded by default and
    available by explicit name."""
    from btrblocks_spark.queries import all_queries, eager_queries, register_query_views
    from btrblocks_spark.tables import register_temp_views

    # warm the table memo first: the initial load_table per table runs one
    # footer-schema job, which is a property of the FIRST access in a
    # session, not of view registration
    register_temp_views(spark, sf_dir)

    sc = spark.sparkContext
    group = "viewreg_lazy_check"
    sc.setJobGroup(group, "view registration must not execute")
    try:
        names = register_query_views(spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    eager = eager_queries()
    assert set(names).isdisjoint(eager)
    assert len(names) == len(all_queries()) - len(eager)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert list(jobs) == [], f"view registration ran jobs: {jobs}"
    # eager ones still register on request
    got = register_query_views(spark, sf_dir, ["stats_heavy_hitters"])
    assert got == ["stats_heavy_hitters"]
    assert spark.sql("SELECT * FROM stats_heavy_hitters").count() >= 0
