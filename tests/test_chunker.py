"""Chunker index semantics and plan shape: ``with_global_index`` must equal
``row_number() OVER (ORDER BY keys) - 1`` whichever way its range
boundaries are found, and ``with_chunk_id`` must run entirely in the JVM
over a single full-row exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from btrblocks_spark.format.chunker import with_chunk_id, with_global_index

_PYTHON_NODES = ("MapInArrow", "PythonMapInArrow", "ArrowEvalPython")


def _frame(spark, n: int, first_key_mod: int | None = None):
    """``n`` rows over a unique key tuple (a, b) in scrambled input order;
    ``first_key_mod`` makes ``a`` heavily duplicated."""
    a = F.col("id") % first_key_mod if first_key_mod else (F.col("id") * 7919) % n
    return spark.range(n).select(
        a.alias("a"), ((F.col("id") * 31) % 1009).alias("b"), F.col("id").alias("v")
    )


@pytest.mark.parametrize(
    "n, first_key_mod, bounds",
    [
        (2000, None, [(500,), (1000,), (1500,)]),
        # three distinct first-key values: first-key quantiles cannot
        # balance the ranges, so boundaries come from the (a, b) tuple sample
        (3000, 3, None),
        (0, None, None),
        (1, None, None),
    ],
    ids=["precomputed-prefix-bounds", "duplicated-first-key", "empty", "one-row"],
)
def test_global_index_equals_row_number(spark, n, first_key_mod, bounds):
    df = _frame(spark, n, first_key_mod)
    got = with_global_index(df, ["a", "b"], num_partitions=4, bounds=bounds)
    field = got.schema.fields[-1]
    assert (field.name, field.nullable) == ("_idx", False)
    assert got.columns == [*df.columns, "_idx"]
    want = df.withColumn("_idx", F.row_number().over(Window.orderBy("a", "b")) - 1)
    assert sorted(got.collect()) == sorted(want.collect())
    assert got._btr_total_rows == n


def test_chunk_id_plan_is_jvm_only_with_one_exchange(spark):
    chunked = with_chunk_id(_frame(spark, 2000), ["a", "b"], 256)
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in _PYTHON_NODES if n in plan], plan
    lines = plan.splitlines()
    window = next(i for i, ln in enumerate(lines) if "Window [" in ln)
    exchanges = [i for i, ln in enumerate(lines) if "Exchange " in ln]
    assert len(exchanges) == 1 and exchanges[0] > window, plan


def test_one_chunk_is_one_range_without_a_count_job(spark):
    """A table that fits one chunk is indexed in one range: the plan has
    one Exchange (onto a single partition) and, with the row count given,
    no job runs before the index is read; the index still equals
    ``row_number() OVER (ORDER BY keys) - 1``."""
    df = _frame(spark, 300)
    sc = spark.sparkContext
    group = "btr-test-one-range"
    sc.setJobGroup(group, "with_chunk_id of one chunk")
    try:
        chunked = with_chunk_id(df, ["a", "b"], 512, total_rows=300)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert (chunked._btr_ranges, chunked._btr_total_rows) == (1, 300)
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert len([ln for ln in plan.splitlines() if "Exchange " in ln]) == 1, plan
    assert chunked.rdd.getNumPartitions() == 1
    want = df.withColumn("_idx", F.row_number().over(Window.orderBy("a", "b")) - 1)
    assert sorted(chunked.drop("_chunk").collect()) == sorted(want.collect())
    assert {r["_chunk"] for r in chunked.select("_chunk").collect()} == {0}
