"""Relational query surface (SURVEY.md §2b) — pure Spark built-ins.

Every query here is registered with a DuckDB oracle whose results are
**bit-identical** to the Spark results. Determinism conventions:

  - Sums/averages over doubles are order-dependent in IEEE arithmetic, so
    every double summand goes through the scaled-long pattern (`_xsum`):
    round(x * 10000) as BIGINT — the same IEEE multiply and
    half-away-from-zero round in both engines — summed exactly, then ONE
    deterministic double division at the end. (Columns that are exactly
    integral, like l_quantity, sum exactly as plain doubles — no scaling.)
    Averages = scaled_sum / COUNT, mirrored operation-for-operation.
    In SQL strings shared between engines, divide by CAST(10000 AS DOUBLE):
    a bare `10000.0` literal is DECIMAL in Spark SQL but DOUBLE in DuckDB.
  - Per-row scalar double expressions are IEEE-deterministic as long as both
    engines evaluate the *same expression tree* — so Spark code and oracle
    SQL mirror each other exactly.
  - Window/top-k queries always order by a full unique key (no ties).
  - Integer aggregates are cast to BIGINT on both sides.

Reference parity: projection/filter/join/agg/window/setops per the operator
inventory in SURVEY.md §2b (the reference's implied query surface; its scan
and lookup operator stubs are `scheme/CompressionScheme.hpp:45-47`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from btrblocks_spark.queries import register
from btrblocks_spark.tables import load_table


def _xsum(c, scale: int = 10000):
    """Exact order-independent sum of a double expression via scaled longs:
    round(x * scale) is the same IEEE multiply + half-away-from-zero round
    in Spark and DuckDB, the long sum is exact, and the final /scale is one
    deterministic double division. ~2x faster than decimal-cast sums (native
    long aggregation buffers instead of BigDecimal).

    Headroom: |x| * scale must fit a per-row long and the sum must fit
    9.2e18 — with scale 10^4 that allows quadrillion-row sums of 1e6-sized
    values. Oracle twin: SUM(CAST(round(x * 10000) AS BIGINT)) / 10000.0"""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(F.round(col * scale).cast("long")) / F.lit(float(scale))


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan → filter → agg → sort)
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  SUM(CAST(round(l_quantity * 10000) AS BIGINT)) / 10000.0 AS sum_qty,
  SUM(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0 AS sum_base_price,
  SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS sum_disc_price,
  SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000) AS BIGINT)) / 10000.0 AS sum_charge,
  SUM(CAST(round(l_quantity * 10000) AS BIGINT)) / 10000.0 / COUNT(*) AS avg_qty,
  SUM(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0 / COUNT(*) AS avg_price,
  SUM(CAST(round(l_discount * 10000) AS BIGINT)) / 10000.0 / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _xsum("l_quantity").alias("sum_qty"),
            _xsum("l_extendedprice").alias("sum_base_price"),
            _xsum(disc_price).alias("sum_disc_price"),
            _xsum(charge).alias("sum_charge"),
            (_xsum("l_quantity") / F.count("*")).alias("avg_qty"),
            (_xsum("l_extendedprice") / F.count("*")).alias("avg_price"),
            (_xsum("l_discount") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Projection: select / rename / arithmetic / cast
# ---------------------------------------------------------------------------

_SCAN_PROJECT_ORACLE = """
SELECT
  l_orderkey AS order_key,
  l_linenumber,
  CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
  l_extendedprice * (1 + l_tax) AS gross_price,
  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
  l_returnflag || '/' || l_linestatus AS flag_status
FROM lineitem
WHERE l_linenumber <= 2
"""


@register("scan_project", _SCAN_PROJECT_ORACLE)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(F.col("l_linenumber") <= 2).select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber"),
        # Spark's double→int cast TRUNCATES; the oracle wraps DuckDB's
        # rounding cast in trunc() so a non-integral quantity can't flip
        F.col("l_quantity").cast("int").alias("qty_int"),
        (F.col("l_extendedprice") * (F.lit(1) + F.col("l_tax"))).alias("gross_price"),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("price_dec"),
        F.concat(F.col("l_returnflag"), F.lit("/"), F.col("l_linestatus")).alias("flag_status"),
    )


_SCAN_JSONL_ORACLE = """
SELECT lang,
       count(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_len,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM documents GROUP BY lang
"""


@register("scan_jsonl_roundtrip", _SCAN_JSONL_ORACLE, eager=True)
def scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink loop (training-corpus ingest format): export the
    documents table as JSON-lines with explicit nulls, re-ingest it with a
    DECLARED schema (never inferred — sources/jsonl_source.py), and
    aggregate; the result must equal the same aggregate over the raw
    parquet (DuckDB oracle), proving the round-trip is lossless including
    unicode text and null fields.

    Scale: export and re-scan are both splittable distributed passes; the
    declared schema makes the JSON parser extract only requested fields."""
    import shutil
    import tempfile

    from btrblocks_spark.sources.jsonl_source import export_jsonl, read_jsonl

    out = tempfile.mkdtemp(prefix="btr_jsonl_query_")
    export_jsonl(load_table(spark, sf_dir, "documents"), out)
    decl = [
        {"name": "doc_id", "type": "bigint"},
        {"name": "text", "type": "string"},
        {"name": "lang", "type": "string"},
        {"name": "source", "type": "string"},
        {"name": "n_chars", "type": "bigint"},
    ]
    back = read_jsonl(spark, out, decl)
    result = back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.length("text")).cast("long").alias("total_len"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )
    # pin rows before the temp dir vanishes (driver may collect lazily)
    result = result.localCheckpoint()
    shutil.rmtree(out, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# Filters: comparison / BETWEEN / IN / LIKE / IS NULL / AND-OR-NOT
# ---------------------------------------------------------------------------

_FILTER_BASIC_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
  AND l_discount >= 0.05
  AND l_linenumber IN (1, 2, 3)
  AND l_shipdate > TIMESTAMP '1997-01-01'
  AND l_returnflag <> 'A'
"""


@register("filter_basic", _FILTER_BASIC_ORACLE)
def filter_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(
        F.col("l_quantity").between(10, 20)
        & (F.col("l_discount") >= 0.05)
        & F.col("l_linenumber").isin(1, 2, 3)
        & (F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_returnflag") != "A")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


_FILTER_LIKE_NULL_ORACLE = """
SELECT p_partkey, p_name, p_type,
       NULLIF(p_brand, 'Brand#1') AS brand_or_null,
       (NULLIF(p_brand, 'Brand#1') IS NULL) AS is_top_brand
FROM part
WHERE (p_type LIKE '%A%' OR p_name LIKE '%red%')
  AND NOT (p_size < 5 AND p_retailprice < 500)
"""


@register("filter_like_null", _FILTER_LIKE_NULL_ORACLE)
def filter_like_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    brand_or_null = F.nullif(F.col("p_brand"), F.lit("Brand#1"))
    return p.filter(
        (F.col("p_type").like("%A%") | F.col("p_name").like("%red%"))
        & ~((F.col("p_size") < 5) & (F.col("p_retailprice") < 500))
    ).select(
        "p_partkey",
        "p_name",
        "p_type",
        brand_or_null.alias("brand_or_null"),
        brand_or_null.isNull().alias("is_top_brand"),
    )


# ---------------------------------------------------------------------------
# Joins: inner / left / right / full / semi / anti / broadcast / cross
# ---------------------------------------------------------------------------

_JOIN_INNER_ORACLE = """
SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 100000
"""


@register("join_inner", _JOIN_INNER_ORACLE)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
    )


_JOIN_LEFT_ORACLE = """
SELECT c.c_custkey, c.c_name,
       COUNT(o.o_orderkey) AS order_count,
       COALESCE(SUM(CAST(round(o.o_totalprice * 10000) AS BIGINT)), 0) / 10000.0 AS total_spent
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
"""


@register("join_left", _JOIN_LEFT_ORACLE)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            (F.coalesce(F.sum(F.round(F.col("o_totalprice") * 10000).cast("long")), F.lit(0))
             / F.lit(10000.0)).alias("total_spent"),
        )
    )


_JOIN_RIGHT_ORACLE = """
SELECT n.n_name, s.s_suppkey, s.s_name
FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
"""


@register("join_right", _JOIN_RIGHT_ORACLE)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return s.join(n, s.s_nationkey == n.n_nationkey, "right").select(
        "n_name", "s_suppkey", "s_name"
    )


_JOIN_FULL_ORACLE = """
SELECT a.c_custkey AS cust_a, b.o_orderkey AS order_b, a.c_acctbal, b.o_totalprice
FROM (SELECT * FROM customer WHERE c_acctbal > 9000) a
FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) b
  ON a.c_custkey = b.o_custkey
"""


@register("join_full", _JOIN_FULL_ORACLE)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        F.col("c_custkey").alias("cust_a"),
        F.col("o_orderkey").alias("order_b"),
        "c_acctbal",
        "o_totalprice",
    )


_JOIN_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""


@register("join_semi", _JOIN_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


_JOIN_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
"""


@register("join_anti", _JOIN_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_JOIN_BROADCAST_ORACLE = """
SELECT p.p_brand,
       SUM(l.l_quantity) AS total_qty,
       COUNT(*) AS line_count
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size > 40
GROUP BY p.p_brand
"""


@register("join_broadcast", _JOIN_BROADCAST_ORACLE)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-side broadcast: `part` is small; never shuffle lineitem for it."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum("l_quantity").alias("total_qty"), F.count("*").alias("line_count"))
    )


_JOIN_CROSS_ORACLE = """
SELECT r.r_name, x.o_orderstatus
FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) x
"""


@register("join_cross", _JOIN_CROSS_ORACLE)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    x = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(x).select("r_name", "o_orderstatus")


_JOIN_MULTI_ORACLE = """
SELECT n.n_name AS nation,
       SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue,
       COUNT(DISTINCT o.o_orderkey) AS order_count
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE r.r_name IN ('AMERICA', 'ASIA') AND o.o_orderstatus <> 'F'
GROUP BY n.n_name
"""


@register("join_multi", _JOIN_MULTI_ORACLE)
def join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join; dims broadcast, fact tables shuffle only on join keys."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("AMERICA", "ASIA"))
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(F.round(revenue * 10000).cast("long")) / F.lit(10000.0)).alias("revenue"),
            F.count_distinct(F.col("o_orderkey")).alias("order_count"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregation: global / group+having / rollup / cube / grouping sets / distinct
# ---------------------------------------------------------------------------

_AGG_GLOBAL_ORACLE = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
       SUM(l_quantity) AS sum_qty,
       CAST(MIN(l_shipdate) AS TIMESTAMP) AS first_ship,
       CAST(MAX(l_shipdate) AS TIMESTAMP) AS last_ship
FROM lineitem
"""


@register("agg_global", _AGG_GLOBAL_ORACLE)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


_AGG_GROUP_HAVING_ORACLE = """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS order_count,
       SUM(CAST(round(o_totalprice * 10000) AS BIGINT)) / 10000.0 AS total_value
FROM orders
GROUP BY o_orderpriority, o_orderstatus
HAVING COUNT(*) > 100
"""


@register("agg_group_having", _AGG_GROUP_HAVING_ORACLE)
def agg_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("order_count"),
            _xsum("o_totalprice").alias("total_value"),
        )
        .filter(F.col("order_count") > 100)
    )


_AGG_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS grp_id,
       COUNT(*) AS n,
       SUM(l_quantity) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("agg_rollup", _AGG_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") + F.lit(2) * F.grouping("l_linestatus")).alias("grp_id"),
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
    )


_AGG_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS grp_id,
       COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("agg_cube", _AGG_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        (F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")).alias("grp_id"),
        F.count("*").alias("n"),
    )


_AGG_GROUPING_SETS_ORACLE = """
SELECT c_mktsegment, c_nationkey,
       GROUPING(c_mktsegment) + 2 * GROUPING(c_nationkey) AS grp_id,
       COUNT(*) AS n,
       SUM(CAST(round(c_acctbal * 10000) AS BIGINT)) / CAST(10000 AS DOUBLE) AS sum_bal
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
"""


@register("agg_grouping_sets", _AGG_GROUPING_SETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey,
               GROUPING(c_mktsegment) + 2 * GROUPING(c_nationkey) AS grp_id,
               COUNT(*) AS n,
               SUM(CAST(round(c_acctbal * 10000) AS BIGINT)) / CAST(10000 AS DOUBLE) AS sum_bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


_DISTINCT_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
"""


@register("distinct_flags", _DISTINCT_ORACLE)
def distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.select("l_returnflag", "l_linestatus").distinct()


_DEDUP_BY_KEY_ORACLE = """
SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


@register("dedup_by_key", _DEDUP_BY_KEY_ORACLE)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates: keep the earliest row per key.

    (`dropDuplicates` keeps an arbitrary row — not oracle-comparable; the
    deterministic formulation is the one you'd use in production anyway.)
    """
    o = load_table(spark, sf_dir, "orders")
    # NULLS LAST pins Spark to DuckDB's ASC default: a NULL o_orderdate row
    # must never win rn=1 on one engine only
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").alias("first_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

_WINDOW_RANK_ORACLE = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER w AS rn,
         RANK() OVER w AS rnk,
         DENSE_RANK() OVER w AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 3
"""


@register("window_rank", _WINDOW_RANK_ORACLE)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


_WINDOW_LAG_LEAD_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       o_totalprice - COALESCE(LAG(o_totalprice) OVER w, o_totalprice) AS price_delta
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("window_lag_lead", _WINDOW_LAG_LEAD_ORACLE)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), "o_orderkey"  # DuckDB ASC default
    )
    lag_p = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        lag_p.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - F.coalesce(lag_p, F.col("o_totalprice"))).alias("price_delta"),
    )


_WINDOW_FRAME_ORACLE = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       SUM(l_quantity) OVER (
         PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
       SUM(l_quantity) OVER (
         PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS window3_qty
FROM lineitem
WHERE l_suppkey <= 10
"""


@register("window_frame", _WINDOW_FRAME_ORACLE)
def window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    w = Window.partitionBy("l_suppkey").orderBy(
        F.asc_nulls_last("l_shipdate"), "l_orderkey", "l_linenumber"
    )  # NULLS LAST = DuckDB's ASC default
    return l.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running_qty"),
        F.sum("l_quantity").over(w.rowsBetween(-2, Window.currentRow)).alias("window3_qty"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@register("topk_orders", _TOPK_ORACLE)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark turns orderBy+limit into TakeOrderedAndProject — no full sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


_SORT_NULLS_ORACLE = """
SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null, c_acctbal
FROM customer
ORDER BY seg_or_null NULLS FIRST, c_acctbal DESC, c_custkey
LIMIT 50
"""


@register("sort_nulls_first", _SORT_NULLS_ORACLE)
def sort_nulls_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
            "c_acctbal",
        )
        .orderBy(
            F.col("seg_or_null").asc_nulls_first(),
            F.col("c_acctbal").desc(),
            F.col("c_custkey"),
        )
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

_SET_UNION_ALL_ORACLE = """
SELECT c_custkey AS key, 'customer' AS src FROM customer WHERE c_acctbal > 9500
UNION ALL
SELECT o_custkey AS key, 'orders' AS src FROM orders WHERE o_totalprice > 450000
"""


@register("set_union_all", _SET_UNION_ALL_ORACLE)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9500)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.select(F.col("c_custkey").alias("key"), F.lit("customer").alias("src")).unionAll(
        o.select(F.col("o_custkey").alias("key"), F.lit("orders").alias("src"))
    )


_SET_UNION_DISTINCT_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


@register("set_union_distinct", _SET_UNION_DISTINCT_ORACLE)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


_SET_INTERSECT_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
"""


@register("set_intersect", _SET_INTERSECT_ORACLE)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


_SET_EXCEPT_ORACLE = """
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
"""


@register("set_except", _SET_EXCEPT_ORACLE)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    # subtract = EXCEPT DISTINCT. exceptAll().distinct() is NOT: with v
    # twice on the left and once on the right, exceptAll leaves one copy
    # and distinct keeps it, while SQL EXCEPT removes v entirely.
    return c.subtract(o)


# ---------------------------------------------------------------------------
# Scalar functions (string / math / null) — IEEE-deterministic only
# ---------------------------------------------------------------------------

_SCALAR_STRING_ORACLE = """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       LOWER(p_type) AS type_lower,
       SUBSTR(p_name, 1, 6) AS name_prefix,
       LENGTH(p_name) AS name_len,
       TRIM(CONCAT('  ', p_brand, '  ')) AS brand_trim,
       REPLACE(p_type, ' ', '_') AS type_snake,
       CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a
FROM part
"""


@register("scalar_string", _SCALAR_STRING_ORACLE)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 6).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("brand_trim"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.when(F.col("p_name").like("%a%"), 1).otherwise(0).alias("has_a"),
    )


_SCALAR_MATH_ORACLE = """
SELECT l_orderkey, l_linenumber,
       ABS(l_extendedprice - 1000.0) AS abs_diff,
       FLOOR(l_quantity / 7.0) AS qty_bucket,
       CEIL(l_extendedprice / 100.0) AS price_bucket,
       CASE WHEN l_extendedprice >= 0 THEN SQRT(l_extendedprice) END AS price_sqrt,
       l_orderkey % 97 AS key_mod,
       CAST(l_quantity AS BIGINT) * l_linenumber AS qty_times_line
FROM lineitem
WHERE l_linenumber = 1 AND l_orderkey % 10 = 0
"""


@register("scalar_math", _SCALAR_MATH_ORACLE)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt/abs/floor/ceil are IEEE-exact (sqrt is correctly rounded by the
    standard) — safe for bit-exact oracle compare, unlike log/exp/pow."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter((F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 10 == 0)).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 1000.0).alias("abs_diff"),
        F.floor(F.col("l_quantity") / 7.0).alias("qty_bucket"),
        F.ceil(F.col("l_extendedprice") / 100.0).alias("price_bucket"),
        # DuckDB's sqrt raises on negatives where Spark yields NaN:
        # both sides agree on NULL for out-of-domain input
        F.when(
            F.col("l_extendedprice") >= 0, F.sqrt("l_extendedprice")
        ).alias("price_sqrt"),
        (F.col("l_orderkey") % 97).alias("key_mod"),
        (F.col("l_quantity").cast("bigint") * F.col("l_linenumber")).alias("qty_times_line"),
    )


_SCALAR_NULL_ORACLE = """
SELECT e.event_id,
       COALESCE(NULLIF(e.event_type, 'error'), 'recovered') AS type_or_recovered,
       (NULLIF(e.event_type, 'error') IS NULL) AS was_error,
       COALESCE(NULLIF(e.value, 0.0), -1.0) AS value_or_neg
FROM events e
WHERE e.user_id % 5 = 0
"""


@register("scalar_null_fns", _SCALAR_NULL_ORACLE)
def scalar_null_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    type_or_null = F.nullif(F.col("event_type"), F.lit("error"))
    return e.filter(F.col("user_id") % 5 == 0).select(
        "event_id",
        F.coalesce(type_or_null, F.lit("recovered")).alias("type_or_recovered"),
        type_or_null.isNull().alias("was_error"),
        F.coalesce(F.nullif(F.col("value"), F.lit(0.0)), F.lit(-1.0)).alias("value_or_neg"),
    )


# ---------------------------------------------------------------------------
# Approximate distinct — portable KMV sketch (md5-based, engine-agnostic)
# ---------------------------------------------------------------------------

def _hex_to_long_sql(col_expr: str, nhex: int = 12) -> str:
    """SQL expression converting the first `nhex` chars of a lowercase hex
    string to a BIGINT — written with only POSITION/SUBSTR so the identical
    text runs in both Spark SQL and DuckDB."""
    terms = []
    for i in range(nhex):
        mult = 16 ** (nhex - 1 - i)
        terms.append(
            f"(CAST(POSITION(SUBSTR({col_expr}, {i + 1}, 1) IN '0123456789abcdef') AS BIGINT) - 1) * {mult}"
        )
    return "(" + " + ".join(terms) + ")"


_KMV_SQL = f"""
WITH hashed AS (
  SELECT DISTINCT md5(CAST(l_orderkey AS STRING)) AS h FROM lineitem
),
vals AS (
  SELECT {_hex_to_long_sql('h')} AS hv FROM hashed
),
topk AS (
  SELECT hv FROM vals ORDER BY hv NULLS LAST LIMIT 64
)
SELECT 63.0 * (281474976710656.0 / CAST(MAX(hv) AS DOUBLE)) AS approx_distinct_orders,
       COUNT(*) AS k_used
FROM topk
"""


@register("agg_approx_distinct_kmv", _KMV_SQL.replace("AS STRING", "AS VARCHAR"))
def agg_approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate COUNT DISTINCT via a K-Minimum-Values sketch over md5 —
    the engine-agnostic analog of the reference's `unique_count` estimate
    (stats/NumberStats.hpp:89-121) that hash-matches the oracle exactly.
    (Spark's native HLL — `approx_count_distinct` — is exposed in
    `stats_approx_native`, rows-only checked, since HLL internals differ.)
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_KMV_SQL)


# ---------------------------------------------------------------------------
# subquery predicates (Catalyst rewrites these to semi/anti joins — the
# declarative path to the same physical plans as join_semi/join_anti)
# ---------------------------------------------------------------------------

_IN_SUBQUERY_ORACLE = """
SELECT l_partkey,
       COUNT(*) AS n_lines,
       SUM(l_quantity) AS total_qty
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 45)
GROUP BY l_partkey
"""


@register("filter_in_subquery", _IN_SUBQUERY_ORACLE)
def filter_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (SELECT ...) predicate — Catalyst plans it as a left-semi join
    (broadcast here: the filtered part side is small). Declared via SQL so
    the subquery rewrite itself is exercised."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_IN_SUBQUERY_ORACLE)


_EXISTS_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey AND o2.o_totalprice > 250000)
"""


@register("filter_exists_correlated", _EXISTS_ORACLE)
def filter_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS in one query — one semi and one anti
    join after decorrelation, both on o_custkey."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_EXISTS_ORACLE)


_SCALAR_SUBQUERY_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice >
      1.5 * (SELECT SUM(CAST(round(o_totalprice * 10000) AS BIGINT)) / CAST(10000 AS DOUBLE)
                  / COUNT(*)
           FROM orders)
"""


@register("filter_scalar_subquery", _SCALAR_SUBQUERY_ORACLE)
def filter_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a predicate (orders above 1.5× the mean
    price). The subquery runs once and is broadcast as a literal; the mean
    uses the decimal-sum determinism convention."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SCALAR_SUBQUERY_ORACLE)


_PIVOT_ORACLE = """
SELECT l_linestatus,
       SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
       SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
       SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
FROM lineitem
GROUP BY l_linestatus
"""


@register("agg_pivot", _PIVOT_ORACLE)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation) with an explicit value list —
    the explicit list keeps it one pass with no values-discovery job."""
    l = load_table(spark, sf_dir, "lineitem")
    out = (
        l.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
    )
    return out.select(
        "l_linestatus",
        F.col("A").alias("qty_a"),
        F.col("N").alias("qty_n"),
        F.col("R").alias("qty_r"),
    )


_APPROX_NATIVE = None  # no oracle: engine-specific HLL


@register("agg_approx_native")
def agg_approx_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native HLL approx distinct (rows-only check — HLL estimates are
    engine-specific by construction)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
    )


@register(
    "agg_unpivot",
    oracle="""
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS measure,
         CAST(l_quantity AS DECIMAL(25,4)) AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', CAST(l_extendedprice AS DECIMAL(25,4)) FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', CAST(l_discount AS DECIMAL(25,4)) FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_tax', CAST(l_tax AS DECIMAL(25,4)) FROM lineitem
)
SELECT l_returnflag, measure,
       count(*) AS n,
       CAST(SUM(val) AS DOUBLE) AS total
FROM long
GROUP BY l_returnflag, measure
ORDER BY l_returnflag, measure
""",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): four measure columns fold into (measure, val) rows,
    then aggregate per (flag, measure) — the inverse reshape of agg_pivot.

    ``DataFrame.unpivot`` expands map-side (no shuffle, no values-discovery
    job — the measure list is static); the single shuffle is the final
    16-group aggregation with map-side partials. The oracle spells the same
    reshape as UNION ALL, the portable-SQL equivalent."""
    l = load_table(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = l.select("l_returnflag", *measures).unpivot(
        ["l_returnflag"], measures, "measure", "raw_val"
    )
    return (
        long.select(
            "l_returnflag", "measure", F.col("raw_val").cast("decimal(25,4)").alias("val")
        )
        .groupBy("l_returnflag", "measure")
        .agg(F.count("*").alias("n"), F.sum("val").cast("double").alias("total"))
        .orderBy("l_returnflag", "measure")
    )


_WINDOW_DISTRIBUTION_ORACLE = """
SELECT c_custkey, c_nationkey, c_acctbal,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cum_dist,
       FIRST_VALUE(c_custkey) OVER w AS poorest,
       LAST_VALUE(c_custkey) OVER (
           PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS richest
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


@register("window_distribution", _WINDOW_DISTRIBUTION_ORACLE)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist plus
    first_value / last_value with an explicit full-partition frame (Spark's
    default frame stops at CURRENT ROW, which would make last_value a no-op).
    The (c_acctbal, c_custkey) order key is unique, so rank-derived doubles
    are identical across engines."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey"  # DuckDB ASC default
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.first("c_custkey").over(w).alias("poorest"),
        F.last("c_custkey").over(w_full).alias("richest"),
    )


_NOT_IN_ORACLE = """
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
  AND c_acctbal > 9000
"""


@register("filter_not_in_subquery", _NOT_IN_ORACLE)
def filter_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN (SELECT ...) — the null-trap predicate: SQL three-valued
    logic makes the whole result empty if the subquery produces a NULL,
    so a plain anti join is WRONG in general. Catalyst plans this as a
    null-aware anti join (BroadcastHashJoin ... NAAJ); declared via SQL so
    that exact rewrite is exercised (the reference has no subqueries at
    all — this is pure §2b query-surface)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_NOT_IN_ORACLE)


_LATERAL_ORACLE = """
SELECT n.n_nationkey, n.n_name, t.c_custkey AS top_custkey, t.c_acctbal AS top_acctbal
FROM nation n,
LATERAL (
  SELECT c_custkey, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) t
"""


@register("join_lateral_topk", _LATERAL_ORACLE)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: per nation, its two richest customers —
    the SQL-standard formulation of grouped top-k. Catalyst decorrelates
    the LATERAL subquery into a rank-window over the join, so the plan is
    the same shuffle-once window plan the DataFrame version would build
    (no per-outer-row re-execution)."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_ORACLE)


# ---------------------------------------------------------------------------
# Bloom-filtered semi-join: fixed-size membership sketch prunes the probe side
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = """
WITH hashes(d, a, b) AS (VALUES (0, 2654435761, 0), (1, 40503, 1299721)),
bloom AS (
  SELECT DISTINCT d, (((o_custkey % 2147483647) * a + b) % 2147483647) % 1024 AS pos
  FROM orders CROSS JOIN hashes
),
probe AS (
  SELECT c_custkey, d, (((c_custkey % 2147483647) * a + b) % 2147483647) % 1024 AS pos
  FROM customer CROSS JOIN hashes
),
verdicts AS (
  SELECT c_custkey,
         MIN(CASE WHEN bloom.pos IS NOT NULL THEN 1 ELSE 0 END) AS bloom_maybe
  FROM probe LEFT JOIN bloom USING (d, pos)
  GROUP BY c_custkey
),
truth AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
SELECT COUNT(*) AS n_customers,
       CAST(SUM(v.bloom_maybe) AS BIGINT) AS bloom_pass,
       CAST(SUM(CASE WHEN t.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS true_present,
       CAST(SUM(v.bloom_maybe) - SUM(CASE WHEN t.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS false_positives
FROM verdicts v LEFT JOIN truth t USING (c_custkey)
"""


@register("join_bloom_filtered", _BLOOM_ORACLE)
def join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered semi-join audit: a depth-2 x 1024-bit membership
    sketch of the orders build side decides which customers can possibly
    join (bloom never yields false negatives; the query counts its false
    positives against the exact semi-join). The runtime-bloom-filter join
    pruning pattern (Spark's runtime.bloomFilter analog) made explicit
    and cross-engine checkable via deterministic multiplicative hashes.

    Scale shape: the sketch is a <=2048-row DISTINCT aggregate (map-side
    combined) broadcast to the probe scan — at 100 TB the probe side is
    filtered without shuffling either table; only the audit half joins
    the exact key set."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    P, W = 2147483647, 1024
    hashes = [(0, 2654435761, 0), (1, 40503, 1299721)]

    from btrblocks_spark.queries._distributed import hash_positions

    def positions(key: str):
        return hash_positions(key, hashes, W, prime=P)

    bloom = (
        o.select(positions("o_custkey")).select("h.d", "h.pos").distinct()
        .withColumn("present", F.lit(1))
    )
    probe = c.select("c_custkey", positions("c_custkey")).select(
        "c_custkey", "h.d", "h.pos"
    )
    verdicts = (
        probe.join(F.broadcast(bloom), ["d", "pos"], "left")
        .groupBy("c_custkey")
        .agg(F.min(F.coalesce(F.col("present"), F.lit(0))).alias("bloom_maybe"))
    )
    truth = o.select(F.col("o_custkey").alias("c_custkey")).distinct().withColumn(
        "has_orders", F.lit(1)
    )
    return (
        verdicts.join(truth, "c_custkey", "left")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("bloom_maybe").alias("bloom_pass"),
            F.sum(F.coalesce(F.col("has_orders"), F.lit(0))).alias("true_present"),
            (
                F.sum("bloom_maybe") - F.sum(F.coalesce(F.col("has_orders"), F.lit(0)))
            ).alias("false_positives"),
        )
    )


_SCAN_CSV_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       count(DISTINCT o_orderpriority) AS n_priorities
FROM orders GROUP BY o_orderstatus
"""


@register("scan_csv_roundtrip", _SCAN_CSV_ORACLE, eager=True)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink loop (S1+S6, the reference's btrtocsv/convertCSV
    pair, tools/conversion/csvtobtr.cpp + btrtocsv.cpp): export orders as
    '|'-separated CSV with the reference's null literal, re-ingest it with
    a DECLARED schema through the reference-semantics parser (trim,
    ""/"null"→NULL, csv_source._typed_exprs), and aggregate; the result
    must match the same aggregate over the raw parquet (DuckDB oracle),
    proving the loop is lossless for keys, categorical strings, and
    2-decimal prices (summed as exact integer cents — CSV round-trips the
    decimal TEXT, so cents, not a double sum, is the order-independent
    exact form).

    Scale: export and re-scan are splittable distributed passes; the
    declared schema means the parser materializes only requested columns."""
    import shutil
    import tempfile

    from btrblocks_spark.sources.csv_source import export_csv, read_csv

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    out = tempfile.mkdtemp(prefix="btr_csv_query_")
    try:
        export_csv(load_table(spark, sf_dir, "orders").select(*cols), out)
        decl = [
            {"name": "o_orderkey", "type": "bigint"},
            {"name": "o_custkey", "type": "bigint"},
            {"name": "o_orderstatus", "type": "string"},
            {"name": "o_totalprice", "type": "double"},
            {"name": "o_orderpriority", "type": "string"},
        ]
        back = read_csv(spark, out, decl)
        result = back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long").alias("total_cents"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        # pin rows before the temp dir vanishes (driver may collect lazily)
        return result.localCheckpoint()
    finally:
        # runs on success AND on export/read/checkpoint failure — bench
        # reps must not accumulate orphaned temp dirs
        shutil.rmtree(out, ignore_errors=True)
