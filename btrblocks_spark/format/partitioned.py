"""Hive-style partitioned table layout — the coarse pruning layer ABOVE
chunk skipping.

The reference prunes I/O per column file (``btrfiles/Relation.cpp:23`` type
filter; per-column part files); our format adds chunk-stats skipping
(``format/reader.prune_chunks``). At 100 TB the first and cheapest pruning
level is directory partitioning: a `p_col=value/` layout lets Spark's
catalog eliminate whole directories at PLANNING time (static partition
pruning) or at RUNTIME from a joined dimension's filter (dynamic partition
pruning) — no footer, no row group, not even a file listing for pruned
partitions.

Guidance encoded here: partition by a LOW-cardinality, query-aligned key
(date grain: one dir per day ≈ 2.7 GB/day at 1 TB/yr; never a high-card
key — millions of dirs kill the listing). Chunked files nest INSIDE each
partition dir, so both pruning layers compose: partition dirs → chunk
stats → parquet row groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from btrblocks_spark.format.writer import write_parquet


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    expr: Column,
    tasks_per_partition: int = 4,
) -> None:
    """Write ``df`` hive-partitioned by ``partition_col = expr``.

    One directory per distinct value. The pre-write exchange keys on
    (partition value, bounded salt): keying on the value alone would route
    a hot partition — a skewed day with billions of rows — to ONE task
    that writes it sequentially (maxRecordsPerFile splits files, not
    work), while no exchange at all makes every task emit a file into
    every partition dir (tasks × partitions small files — the classic
    100 TB small-file explosion). The salt bounds both: at most
    ``tasks_per_partition`` writers (and files-per-batch) per directory,
    with hot partitions still spread across that many cores.

    The salt is ROW-CONTENT derived (xxhash64 over all columns), not
    ``spark_partition_id()``: a hot value arriving in fewer input
    partitions than ``tasks_per_partition`` (an upstream coalesce/
    repartition(1)) would yield fewer distinct ids than tasks and the hot
    directory would still be written near-sequentially. Content hashing
    spreads it regardless of input partitioning and stays deterministic
    across task retries. (Corpora that are mostly IDENTICAL duplicate
    rows collapse to fewer salts — dedup first, which such data needs
    anyway.)
    """
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(tasks_per_partition))
    write_parquet(
        df.withColumn(partition_col, expr)
        .withColumn("_write_salt", salt)
        .repartition(partition_col, "_write_salt")
        .drop("_write_salt")
        .write.option("maxRecordsPerFile", 1_000_000)
        .partitionBy(partition_col)
        .mode("overwrite"),
        path,
    )
