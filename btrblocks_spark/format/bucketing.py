"""Bucketed (pre-shuffled) tables: the co-located-join path.

The reference never shuffles — compression is chunk-local
(`tools/conversion/csvtobtr.cpp:148-188` runs TBB tasks per column with no
data movement). The query layer's analog of "never move the data" is Spark
bucketing: write a fact and its dimension hashed into the same number of
buckets on the join key, and every subsequent equi-join on that key is a
zero-Exchange sort-merge join — each task reads bucket i of both sides.

At 100 TB this is the difference between an O(data) shuffle per join and a
one-time cost at write: the nightly-rebuilt fact table pays the hash
partitioning once, then every downstream join/groupBy on the key is
exchange-free. (Bucket pruning also applies to point predicates on the
bucket key.)

Bucketed tables need the session catalog (a path-only parquet write cannot
record bucket metadata), so `write_bucketed` registers a table name. The
warehouse location is configured in `session.get_spark` (kept out of the
repo tree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from btrblocks_spark.format.writer import PARQUET_WRITE_LOCK


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Write ``df`` as a catalog table bucketed and sorted by
    ``bucket_cols``, overwriting any existing table. Data goes under
    ``path``, or the session's managed warehouse when it is None.

    ``sortBy(*bucket_cols)`` makes each bucket file key-sorted, so the
    downstream sort-merge join needs no per-task Sort either — the plan is
    scan -> zip-merge, the minimal physical join."""
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    with PARQUET_WRITE_LOCK:
        writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Equi-join two same-bucketed tables on the bucket key. With matching
    bucket counts Spark plans a SortMergeJoin with NO Exchange on either
    side (verify with .explain: no ShuffleExchange above either scan)."""
    return spark.table(left_table).join(spark.table(right_table), on)
