"""Format-layer queries: distributed per-chunk stats + scheme selection
exposed as a DataFrame (the btrmeta / scheme-plan surface, reference
tools/conversion/btrmeta.cpp + compression/SchemePicker.hpp).

The plan itself runs the numpy scheme picker inside executors via
``applyInPandas`` — not SQL-expressible, so these are rows-only checks
(deterministic, stable schema)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from btrblocks_spark.config import DEFAULT_CONFIG
from btrblocks_spark.queries import register
from btrblocks_spark.tables import load_table


@register("format_scheme_plan", eager=True)
def format_scheme_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per chunk×column compression plan of lineitem (2048-row chunks at test
    scale). One row per column-chunk: chosen scheme, est ratio, stats."""
    from btrblocks_spark.format.chunker import with_chunk_id
    from btrblocks_spark.format.writer import plan_chunks

    df = load_table(spark, sf_dir, "lineitem")
    cfg = DEFAULT_CONFIG.with_(block_size=2048)
    col_types = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    chunked = with_chunk_id(df, ["l_orderkey", "l_linenumber"], cfg.block_size)
    return (
        plan_chunks(chunked, col_types, cfg)
        .select("chunk", "column", "scheme", "n_rows", "null_count", "unique_count")
        .orderBy("chunk", "column")
    )


_RLE_RUNS_CTE = """
WITH ordered AS (
  SELECT o_orderstatus AS v,
         row_number() OVER (ORDER BY o_orderkey) AS idx,
         CASE WHEN lag(o_orderstatus) OVER (ORDER BY o_orderkey)
                   IS DISTINCT FROM o_orderstatus THEN 1 ELSE 0 END AS is_start
  FROM orders
),
runs AS (
  SELECT v, count(*) AS run_length,
         min(idx) AS start_idx
  FROM (SELECT v, idx,
               sum(is_start) OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS run_id
        FROM ordered)
  GROUP BY v, run_id
)"""


def _rle_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLE-encode o_orderstatus ordered by o_orderkey → one row per run
    (value, run_length, start_idx). The I4 encode as a relational op.

    Scale note: whole-table runs come from the bucketed two-phase merge
    (_distributed.bucketed_runs) — parallel per key-range bucket, tiny
    boundary-fixup table, no global window. The PRODUCTION encode path is
    chunk-local (codecs._rle_encode inside the writer's applyInPandas) —
    in the reference too, runs never cross chunk boundaries
    (Datablock::compress is chunk-at-a-time)."""
    from btrblocks_spark.queries._distributed import bucketed_runs

    df = load_table(spark, sf_dir, "orders")
    runs = bucketed_runs(
        df, F.expr("o_orderkey div 4096"), ["o_orderkey"], "o_orderstatus"
    )
    return runs.groupBy(F.col("run_value").alias("v"), "run_id").agg(
        F.count("*").alias("run_length"), F.min("idx").alias("start_idx")
    )


@register(
    "rle_compressed_domain_agg",
    oracle=_RLE_RUNS_CTE
    + """
SELECT v,
       CAST(sum(run_length) AS BIGINT) AS n_rows,
       count(*) AS n_runs,
       max(run_length) AS longest_run,
       min(start_idx) AS first_idx
FROM runs GROUP BY v
""",
)
def rle_compressed_domain_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain execution: aggregate directly over the RLE runs —
    count(*) becomes sum(run_length), first-occurrence becomes min(start_idx)
    — without ever materializing the decoded rows. The capability the
    reference's scan stub points at (CompressionScheme.hpp:47), done on
    the run representation itself."""
    runs = _rle_runs(spark, sf_dir)
    return runs.groupBy("v").agg(
        F.sum("run_length").alias("n_rows"),
        F.count("*").alias("n_runs"),
        F.max("run_length").alias("longest_run"),
        F.min("start_idx").alias("first_idx"),
    )


@register(
    "rle_decode_roundtrip",
    oracle="""
SELECT o_orderstatus AS v, count(*) AS n
FROM orders GROUP BY o_orderstatus
""",
)
def rle_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLE decode as a relational op: explode each run back into
    ``run_length`` rows (sequence + explode — JVM-side, no Python), then
    re-aggregate; must equal aggregation over the raw table. Encode→decode
    round-trip proved inside the engine itself."""
    runs = _rle_runs(spark, sf_dir)
    decoded = runs.select(
        "v", F.explode(F.sequence(F.lit(1), F.col("run_length"))).alias("_i")
    )
    return decoded.groupBy("v").agg(F.count("*").alias("n"))


@register(
    "dict_codespace_filter",
    oracle="""
WITH dict AS (
  SELECT v, dense_rank() OVER (ORDER BY v) - 1 AS code
  FROM (SELECT DISTINCT c_mktsegment AS v FROM customer)
),
encoded AS (
  SELECT c.c_custkey, d.code
  FROM customer c JOIN dict d ON c.c_mktsegment = d.v
),
target AS (SELECT code FROM dict WHERE v = 'BUILDING')
SELECT count(*) AS n_building,
       (SELECT code FROM target) AS building_code,
       (SELECT count(*) FROM dict) AS dict_size
FROM encoded WHERE code = (SELECT code FROM target)
""",
    eager=True,
)
def dict_codespace_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary compressed-domain filtering (SURVEY §4.1's custom-rule
    candidate, done as a plan): build the sorted dictionary with dense_rank,
    encode via broadcast probe, rewrite the string predicate to an integer
    code comparison, and filter in code space."""
    from pyspark.sql.window import Window

    cust = load_table(spark, sf_dir, "customer")
    dict_df = (
        cust.select(F.col("c_mktsegment").alias("v"))
        .distinct()
        .withColumn("code", F.dense_rank().over(Window.orderBy("v")) - 1)
    )
    encoded = cust.join(F.broadcast(dict_df), cust.c_mktsegment == dict_df.v).select(
        "c_custkey", "code"
    )
    row = dict_df.filter(F.col("v") == "BUILDING").select("code").first()
    target = None if row is None else row["code"]
    dict_size = dict_df.count()
    return encoded.filter(F.col("code") == F.lit(target)).agg(
        F.count("*").alias("n_building"),
        F.lit(target).cast("long").alias("building_code"),
        F.lit(dict_size).alias("dict_size"),
    )  # no BUILDING segment: (0, NULL, n) like the oracle's scalar subquery


@register(
    "scan_predicate_bitmap",
    oracle="""
    WITH idx AS (
      SELECT l_quantity, l_discount,
             row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity,
                                l_extendedprice, l_discount) - 1 AS _idx
      FROM lineitem
    ), chunked AS (
      SELECT *, CAST(FLOOR(_idx / 2048) AS BIGINT) AS chunk FROM idx
    )
    SELECT chunk,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN l_quantity > 30 AND l_discount >= 0.05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST(coalesce(sum(CASE WHEN l_quantity > 30 AND l_discount >= 0.05
                             THEN _idx END), -1) AS BIGINT) AS sel_idx_sum
    FROM chunked GROUP BY chunk ORDER BY chunk
    """,
    eager=True,
)
def scan_predicate_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's unimplemented ``IntegerScheme::scan(Predicate,
    BITMAP*)`` stub (scheme/CompressionScheme.hpp:47), implemented for real:
    a predicate scan producing a per-chunk selection summary (selected count
    + index checksum — the verifiable digest of the selection bitmap).
    Catalyst pushes the predicate into the parquet scan."""
    from btrblocks_spark.format.chunker import with_chunk_id

    df = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"]
    chunked = with_chunk_id(df, keys, 2048)
    sel = (F.col("l_quantity") > 30) & (F.col("l_discount") >= 0.05)
    return (
        chunked.groupBy(F.col("_chunk").alias("chunk"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(sel, 1).otherwise(0)).alias("n_selected"),
            F.coalesce(F.sum(F.when(sel, F.col("_idx"))), F.lit(-1)).alias("sel_idx_sum"),
        )
        .orderBy("chunk")
    )


@register(
    "point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey IN (7, 1000, 29999, 58368)
    """,
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's unimplemented ``lookup(u32 id)`` stub
    (scheme/CompressionScheme.hpp:45), implemented for real: key lookup via
    an IN filter that Catalyst pushes to the parquet scan (row-group
    min/max skipping — the chunk-stats analog of compressed-domain lookup)."""
    df = load_table(spark, sf_dir, "orders")
    return df.filter(F.col("o_orderkey").isin(7, 1000, 29999, 58368)).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "format_chunk_stats",
    oracle="""
    WITH idx AS (
      SELECT l_quantity, l_discount, l_returnflag,
             row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity,
                                l_extendedprice, l_discount, l_returnflag) - 1 AS _idx
      FROM lineitem
    ), chunked AS (
      SELECT *, CAST(FLOOR(_idx / 2048) AS BIGINT) AS chunk FROM idx
    )
    SELECT chunk,
           COUNT(*) AS n_rows,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           COUNT(DISTINCT l_quantity) AS uniq_qty,
           ROUND(SUM(l_discount), 4) AS sum_disc,
           COUNT(DISTINCT l_returnflag) AS uniq_flag
    FROM chunked GROUP BY chunk ORDER BY chunk
    """,
    eager=True,
)
def format_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity stats (T1 analog) verified against the oracle: the
    chunker's global index must agree with SQL row_number()."""
    from btrblocks_spark.format.chunker import with_chunk_id

    df = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this testdata — extend the
    # sort key until it totally orders every column the stats read, else
    # row_number ties can split chunks differently across engines
    keys = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_discount", "l_returnflag"]
    chunked = with_chunk_id(df, keys, 2048)
    return (
        chunked.groupBy(F.col("_chunk").alias("chunk"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.countDistinct("l_quantity").alias("uniq_qty"),
            F.round(F.sum("l_discount"), 4).alias("sum_disc"),
            F.countDistinct("l_returnflag").alias("uniq_flag"),
        )
        .orderBy("chunk")
    )


def _zorder_oracle() -> str:
    from btrblocks_spark.format.zorder import zorder_key_sql

    z = zorder_key_sql("l_partkey", "l_suppkey")
    return f"""
WITH z AS (
  SELECT l_partkey, l_suppkey, {z} AS zkey FROM lineitem
)
SELECT zkey // 16384 AS zbucket,
       count(*) AS n,
       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
       min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
FROM z GROUP BY 1
"""


@register("format_zorder_profile", oracle=_zorder_oracle())
def format_zorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering profile: the interleaved key computed
    with identical bit arithmetic in both engines, aggregated per key range
    ("zbucket" ~ a chunk under zkey ordering) with min/max of BOTH source
    dimensions — exactly the stats the chunked writer would persist and
    the reader's prune_chunks would consult. Tight intervals in both
    dimensions are what make 2-D box predicates prunable (see
    format/zorder.py and test_format_roundtrip zorder tests)."""
    from btrblocks_spark.format.zorder import with_zorder

    li = load_table(spark, sf_dir, "lineitem")
    z = with_zorder(li.select("l_partkey", "l_suppkey"), "l_partkey", "l_suppkey")
    return z.groupBy(
        F.expr("zkey div 16384").alias("zbucket")  # exact integer bucketing
    ).agg(
        F.count("*").alias("n"),
        F.min("l_partkey").alias("min_pk"),
        F.max("l_partkey").alias("max_pk"),
        F.min("l_suppkey").alias("min_sk"),
        F.max("l_suppkey").alias("max_sk"),
    )


@register(
    "format_bitmap_index",
    oracle="""
WITH chunked AS (
  SELECT o_orderkey // 2048 AS chunk,
         o_orderkey % 2048 AS pos,
         o_totalprice
  FROM orders
)
SELECT chunk,
       count(*) AS n_rows,
       count(*) FILTER (WHERE o_totalprice > 300000) AS n_selected,
       count(DISTINCT CASE WHEN o_totalprice > 300000 THEN pos END) AS bitmap_cardinality
FROM chunked GROUP BY chunk
""",
)
def format_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized per-chunk selection bitmaps with Spark's native bitmap
    aggregates — the real data structure behind the reference's roaring
    nullmap/selection bitmaps (extern/RoaringBitmap.cpp:117-159 compresses
    a chunk's set-positions; the scan stub scheme/CompressionScheme.hpp:47
    was meant to produce exactly this).

    ``bitmap_bit_position(pos+1)`` (the function is 1-based: bit =
    (x-1) mod 32768) → ``bitmap_construct_agg`` builds one
    bitmap per chunk from in-chunk row positions passing the predicate;
    ``bitmap_count`` reads back its cardinality. The bitmaps themselves
    are mergeable with ``bitmap_or_agg`` (chunk → part → table rollup, the
    same associative-sketch shape as stats_hll_sketch_union). The oracle
    checks the cardinality against a COUNT DISTINCT of the same positions
    — validating the bitmap content, not just the row count."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("o_orderkey div 2048").alias("chunk"),
        (F.col("o_orderkey") % 2048).alias("pos"),
        "o_totalprice",
    )
    sel = F.col("o_totalprice") > 300000
    return o.groupBy("chunk").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(sel, 1)).alias("n_selected"),
        F.expr(
            "bitmap_count(bitmap_construct_agg("
            "bitmap_bit_position(CASE WHEN o_totalprice > 300000 THEN pos + 1 END)))"
        ).alias("bitmap_cardinality"),
    )


@register(
    "frequency_domain_roundtrip",
    oracle="""
WITH top AS (
  SELECT o_orderstatus AS top_v
  FROM orders GROUP BY 1 ORDER BY count(*) DESC, o_orderstatus LIMIT 1
),
exceptions AS (
  SELECT o_orderkey, o_orderstatus
  FROM orders, top WHERE o_orderstatus IS DISTINCT FROM top_v
),
decoded AS (
  SELECT o.o_orderkey, COALESCE(e.o_orderstatus, t.top_v) AS v
  FROM orders o
  LEFT JOIN exceptions e USING (o_orderkey)
  CROSS JOIN top t
)
SELECT v AS value,
       count(*) AS n,
       CASE WHEN v = (SELECT top_v FROM top) THEN 1 ELSE 0 END AS is_top
FROM decoded GROUP BY v
""",
    eager=True,
)
def frequency_domain_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FREQUENCY scheme (I7/D5, scheme/templated/Frequency.hpp:23-136) as a
    relational encode→decode round-trip: store the most frequent value once
    plus an exception table (key, value) for the rest; decode = left join
    exceptions, coalesce to the top value. The per-value counts of the
    DECODED column must equal the raw table's — proved via the oracle.

    (The reference gates FREQUENCY on top-value share ≥90%; o_orderstatus
    is ~34% so the planner would pick another scheme — the round-trip
    semantics are what this query pins down.) The exceptions join is a
    same-key equi-join; at scale it shuffles only the exception rows."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    top_row = (
        o.groupBy("o_orderstatus").count()
        .orderBy(F.desc("count"), F.asc("o_orderstatus"))
        .first()
    )
    # empty orders: no top value — the pipeline below degrades to an empty
    # result, matching the oracle, instead of a driver TypeError
    top_v = None if top_row is None else top_row["o_orderstatus"]
    exceptions = o.filter(~F.col("o_orderstatus").eqNullSafe(F.lit(top_v))).select(
        "o_orderkey", F.col("o_orderstatus").alias("exc_v")
    )
    decoded = (
        o.select("o_orderkey")
        .join(exceptions, "o_orderkey", "left")
        .select(F.coalesce("exc_v", F.lit(top_v)).alias("v"))
    )
    return decoded.groupBy(F.col("v").alias("value")).agg(
        F.count("*").alias("n"),
        F.when(F.col("v") == top_v, 1).otherwise(0).alias("is_top"),
    )


@register(
    "pseudodecimal_domain_roundtrip",
    oracle="""
WITH enc AS (
  SELECT l_extendedprice AS raw_v,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS sig,
         CASE WHEN CAST(round(l_extendedprice * 100) AS BIGINT) / 100.0
                   = l_extendedprice
              THEN 0 ELSE 1 END AS is_exception
  FROM lineitem
),
dec AS (
  SELECT raw_v, sig, is_exception,
         CASE WHEN is_exception = 0 THEN sig / 100.0 ELSE raw_v END AS decoded
  FROM enc
)
SELECT count(*) AS n_rows,
       CAST(SUM(is_exception) AS BIGINT) AS n_exceptions,
       CAST(SUM(CASE WHEN decoded = raw_v THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_exact,
       CAST(SUM(CASE WHEN is_exception = 0 THEN sig ELSE 0 END) AS BIGINT) AS sum_sig
FROM dec
""",
)
def pseudodecimal_domain_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDODECIMAL (D6, scheme/double/Pseudodecimal.cpp:56-184 — the
    reference's signature double scheme) as a relational encode→decode:
    decompose each double into an integer significand at exponent 2,
    keep rows whose reconstruction ``sig/100.0`` is not bit-exact as raw
    exception values, decode, and prove every row round-trips. The exact-
    round-trip test is the same IEEE double comparison in both engines;
    the significand sum is an exact integer aggregate.

    (The numpy codec in format/codecs.py searches exponents 0..22 per
    chunk and bails >50% exceptions, as the reference does; this query
    pins the semantics of one exponent level in the oracle-checked
    surface.)"""
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("raw_v")
    )
    sig = F.round(F.col("raw_v") * 100).cast("long")
    enc = l.select(
        "raw_v",
        sig.alias("sig"),
        F.when(sig / F.lit(100.0) == F.col("raw_v"), 0).otherwise(1).alias("is_exception"),
    )
    dec = enc.withColumn(
        "decoded",
        F.when(F.col("is_exception") == 0, F.col("sig") / 100.0).otherwise(F.col("raw_v")),
    )
    return dec.agg(
        F.count("*").alias("n_rows"),
        F.sum("is_exception").alias("n_exceptions"),
        F.sum(F.when(F.col("decoded") == F.col("raw_v"), 1).otherwise(0)).alias(
            "n_roundtrip_exact"
        ),
        F.sum(F.when(F.col("is_exception") == 0, F.col("sig")).otherwise(0)).alias(
            "sum_sig"
        ),
    )


@register(
    "format_datasource_roundtrip",
    oracle="""
SELECT o_orderstatus AS status,
       count(*) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus
""",
    eager=True,
)
def format_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine loop through the registered data source: write orders
    with the chunked writer, read it back via
    ``spark.read.format("btrblocks")`` (sidecar schema, task-per-chunk,
    footer pruning), aggregate — the result must equal the same aggregate
    over the raw table (DuckDB oracle). This is S4→S5 (csvtobtr→btrtocsv)
    as one oracle-checked query, with the read side going through the
    DataSource contract instead of a plain parquet scan."""
    import shutil
    import tempfile

    from btrblocks_spark.format.writer import write_table
    from btrblocks_spark.sources.btr_datasource import BtrBlocksDataSource

    out = tempfile.mkdtemp(prefix="btr_ds_query_")
    table = f"{out}/orders"
    write_table(load_table(spark, sf_dir, "orders"), table, ["o_orderkey"])
    spark.dataSource.register(BtrBlocksDataSource)
    back = spark.read.format("btrblocks").option("path", table).load()
    result = back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    # materialize before the temp table vanishes (the driver may collect
    # lazily; localCheckpoint pins the rows)
    result = result.localCheckpoint()
    shutil.rmtree(out, ignore_errors=True)
    return result


def _stage_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write events hive-partitioned by day into a temp dir; returns path."""
    import tempfile

    from btrblocks_spark.format.partitioned import write_partitioned

    out = tempfile.mkdtemp(prefix="btr_part_events_")
    e = load_table(spark, sf_dir, "events")
    write_partitioned(
        e, out, "p_date", F.to_date(F.timestamp_micros(F.expr("ts div 1000")))
    )
    return out


@register(
    "format_partition_pruned_scan",
    oracle="""
SELECT CAST(ts AS DATE) AS p_date,
       count(*)::BIGINT AS n,
       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
GROUP BY p_date
""",
    eager=True,
)
def format_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning: events written `p_date=YYYY-MM-DD/` (one
    dir per day, format/partitioned.py), then a date-range scan — the
    filter resolves against the directory listing at planning time, so 23
    of 30 partition dirs are never opened (PartitionFilters in the scan
    node; gated by test_plans.py). The coarse layer above chunk-stats
    skipping: at 100 TB a 7-day query reads 7 days of files, full stop."""
    import shutil

    out = _stage_partitioned_events(spark, sf_dir)
    back = spark.read.parquet(out)
    result = (
        back.filter(F.col("p_date").between("2024-01-10", "2024-01-16"))
        .groupBy("p_date")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(out, ignore_errors=True)
    return result


@register(
    "format_dpp_join",
    oracle="""
WITH dim AS (
  SELECT (DATE '2024-01-01' + INTERVAL (i) DAY)::DATE AS p_date
  FROM range(0, 30) t(i)
),
mondays AS (SELECT p_date FROM dim WHERE dayofweek(p_date) + 1 = 2),
f AS (SELECT CAST(ts AS DATE) AS p_date, value FROM events)
SELECT p_date,
       count(*)::BIGINT AS n,
       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
FROM f JOIN mondays USING (p_date)
GROUP BY p_date
""",
    eager=True,
)
def format_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the pruning predicate is NOT on the
    partition key — it's on a dimension attribute (day-of-week = Monday),
    so only at runtime, after the broadcast dim is built, can Spark know
    which `p_date=` dirs matter. Catalyst injects a dynamicpruning#N
    subquery into the fact scan (gated by test_plans.py) and reads 5 of 30
    partitions. This is the star-schema pattern that makes a 100 TB fact
    table behave like a 15 TB one for a filtered-dim query."""
    import shutil

    out = _stage_partitioned_events(spark, sf_dir)
    fact = spark.read.parquet(out)
    dim = (
        spark.range(30)
        .select(F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("p_date"))
        .filter(F.dayofweek("p_date") == 2)
    )
    result = (
        fact.join(dim, "p_date")
        .groupBy("p_date")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(out, ignore_errors=True)
    return result


@register(
    "format_table_digest",
    oracle="""
WITH rs AS (
  SELECT ('0x' || substr(md5(
           o_orderkey::VARCHAR || '|' ||
           coalesce(o_custkey::VARCHAR, '<null>') || '|' ||
           coalesce(o_orderstatus, '<null>') || '|' ||
           coalesce(CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR, '<null>') || '|' ||
           coalesce(o_orderdate::VARCHAR, '<null>') || '|' ||
           coalesce(o_orderpriority, '<null>')
         ), 1, 8))::BIGINT AS h
  FROM orders
)
SELECT count(*)::BIGINT AS n_rows,
       sum(h)::BIGINT AS digest_sum,
       bit_xor(h)::BIGINT AS digest_xor
FROM rs
""",
)
def format_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant table fingerprint: per-row portable hash32 of a
    canonical serialization (doubles pre-scaled to integer cents, NULLs as
    a sentinel), combined with commutative sum + xor. Two tables are equal
    iff (n_rows, digest_sum, digest_xor) match, regardless of row order or
    partitioning — the X3 round-trip verifier (csvtobtr -verify,
    tools/conversion/csvtobtr.cpp:49-66) at 100 TB, where exceptAll would
    shuffle the whole table but this is one map-side-combinable agg."""
    o = load_table(spark, sf_dir, "orders")
    null_s = F.lit("<null>")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.coalesce(F.col("o_custkey").cast("string"), null_s),
        F.coalesce(F.col("o_orderstatus"), null_s),
        F.coalesce(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), null_s
        ),
        F.coalesce(F.col("o_orderdate").cast("string"), null_s),
        F.coalesce(F.col("o_orderpriority"), null_s),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 8), 16, 10).cast("long")
    return o.select(h.alias("h")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("h").cast("long").alias("digest_sum"),
        F.expr("bit_xor(h)").cast("long").alias("digest_xor"),
    )


@register(
    "format_delete_vectors",
    oracle="""
SELECT o_orderstatus AS status,
       count(*)::BIGINT AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE NOT (o_orderpriority = '1-URGENT' AND o_totalprice < 50000)
GROUP BY o_orderstatus
""",
    eager=True,
)
def format_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE through deletion vectors: write orders chunked,
    commit a DV DELETE (data files untouched — only O(matches) `_idx`
    positions land in the ``_deletes`` sidecar), then aggregate the
    merge-on-read scan. Must equal the plain anti-filtered aggregate
    (DuckDB oracle). The broadcast anti-join subtraction is the read-side
    cost; at 100 TB the alternative (copy-on-write rewrite per DELETE) is
    exactly what this avoids."""
    import shutil
    import tempfile

    from btrblocks_spark.format.maintenance import delete_where_dv, read_table_mor
    from btrblocks_spark.format.writer import write_table

    out = tempfile.mkdtemp(prefix="btr_dv_query_")
    table = f"{out}/orders"
    write_table(load_table(spark, sf_dir, "orders"), table, ["o_orderkey"])
    delete_where_dv(
        spark, table, "o_orderpriority = '1-URGENT' AND o_totalprice < 50000"
    )
    result = (
        read_table_mor(spark, table)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .localCheckpoint()
    )
    shutil.rmtree(out, ignore_errors=True)
    return result


@register(
    "format_metadata_only_agg",
    oracle="""
SELECT 'o_custkey' AS column_name, count(*)::BIGINT AS n_rows,
       (count(*) - count(o_custkey))::BIGINT AS n_nulls,
       CAST(min(o_custkey) AS DOUBLE) AS min_v,
       CAST(max(o_custkey) AS DOUBLE) AS max_v
FROM orders
UNION ALL
SELECT 'o_orderkey', count(*)::BIGINT, (count(*) - count(o_orderkey))::BIGINT,
       CAST(min(o_orderkey) AS DOUBLE), CAST(max(o_orderkey) AS DOUBLE)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*)::BIGINT, (count(*) - count(o_totalprice))::BIGINT,
       CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
FROM orders
ORDER BY column_name
""",
    eager=True,
)
def format_metadata_only_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown to metadata: COUNT / null-count / MIN / MAX
    answered from the btr sidecar's per-chunk stats without opening a
    single data file — the oracle proves the sidecar answers equal a full
    DuckDB scan of the same rows. (Parquet/Iceberg readers do this with
    footer stats; our writer's T1 chunk stats play that role, reference
    FileMetadata compression/Datablock.hpp:30-35.)

    Scale: the data scan this replaces is O(table); the metadata read is
    O(num_chunks) JSON rows on the driver — at 100 TB with 64 Ki-row
    chunks that is ~6 orders of magnitude less I/O."""
    import tempfile

    from btrblocks_spark.format.reader import metadata_agg
    from btrblocks_spark.format.writer import write_table

    out = tempfile.mkdtemp(prefix="btr_meta_agg_")
    table = f"{out}/orders"
    write_table(load_table(spark, sf_dir, "orders"), table, ["o_orderkey"])
    cols = ["o_custkey", "o_orderkey", "o_totalprice"]
    rows = [
        (
            r["column"],
            int(r["n_rows"]),
            int(r["n_nulls"]),
            float(r["min"]),
            float(r["max"]),
        )
        for r in metadata_agg(table, cols)
    ]
    return spark.createDataFrame(
        sorted(rows),
        "column_name string, n_rows long, n_nulls long, min_v double, max_v double",
    )


_FD_PAIRS = [
    ("p_partkey", "p_brand"),
    ("p_name", "p_brand"),
    ("p_brand", "p_type"),
    ("p_type", "p_brand"),
    ("p_size", "p_brand"),
]

_FD_ORACLE = (
    "WITH m AS (\n  SELECT "
    + ", ".join(
        f"count(DISTINCT {det}) AS nd_{det}" for det in dict.fromkeys(d for d, _ in _FD_PAIRS)
    )
    + ",\n         "
    + ", ".join(
        f"count(DISTINCT ({det}, {dep})) AS np_{det}_{dep}" for det, dep in _FD_PAIRS
    )
    + "\n  FROM part\n)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{det}' AS det_col, '{dep}' AS dep_col, nd_{det}::BIGINT AS n_det, "
        f"np_{det}_{dep}::BIGINT AS n_pairs, np_{det}_{dep} = nd_{det} AS fd_holds, "
        f"round(CAST(np_{det}_{dep} AS DOUBLE) / CAST(nd_{det} AS DOUBLE), 6) AS deps_per_det "
        f"FROM m"
        for det, dep in _FD_PAIRS
    )
)


@register("format_fd_profile", oracle=_FD_ORACLE)
def format_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profile over candidate column pairs of ``part``:
    det → dep holds iff n_distinct(det) == n_distinct(det, dep). This is the
    column-GROUP analog of the per-column chunk stats (reference
    stats/NumberStats.hpp / stats/StringStats.hpp see one column at a time):
    a held FD means the dependent column is derivable from the determinant's
    dictionary — a column-group encoding (shared dict / 1:1 mapping table)
    beats encoding the columns independently.

    Scale: one pass; multiple exact distinct aggregates expand the scan
    |pairs|-fold (Spark's Expand) — exact here so the oracle compare is
    bit-tight. The production path is ``format_fd_profile_approx`` below:
    the same verdicts from HLL sketches with no Expand and a KB-scale
    shuffle (the ``format_sort_advisor`` / ``_approx`` pattern)."""
    from btrblocks_spark.format.planner import fd_advisor

    p = load_table(spark, sf_dir, "part")
    return fd_advisor(p, _FD_PAIRS, exact=True)


@register("format_fd_profile_approx")
def format_fd_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the FD profiler: the same det → dep verdicts
    from ``approx_count_distinct`` (HLL++, rsd 0.05) sketches — one pass,
    NO Expand, shuffle = fixed-size register sets per aggregate per
    partition instead of the |aggs|-fold row expansion (the last Expand
    scan in the fleet after round-6 sketched the sort advisor). fd_holds
    uses a 1+4·rsd slack band because two independent sketches of the same
    domain differ by ~rsd each; an FD violated by less than the band reads
    as held — fine for an encoding ADVISOR (a near-held FD still
    compresses well under a column-group encoding). Registered rows-only:
    HLL estimates are engine-specific, so no bit-exact cross-engine oracle
    exists — the exact variant above carries the value-parity check, and
    test_plans pins that both variants emit the SAME fd_holds verdicts on
    testdata while this plan stays Expand-free."""
    from btrblocks_spark.format.planner import fd_advisor

    p = load_table(spark, sf_dir, "part")
    return fd_advisor(p, _FD_PAIRS, exact=False)


_SORT_CANDIDATES = ["l_shipdate", "l_returnflag", "l_quantity", "l_partkey", "l_suppkey"]
_SORT_DATA_COLS = [
    "l_returnflag", "l_linestatus", "l_shipdate", "l_quantity", "l_discount", "l_tax",
]

_SORT_ORACLE = (
    "WITH m AS (\n  SELECT count(*) AS n_rows,\n         "
    + ",\n         ".join(
        f"count(DISTINCT ({c}, {d})) AS np_{c}_{d}"
        for c in _SORT_CANDIDATES
        for d in _SORT_DATA_COLS
    )
    + "\n  FROM lineitem\n)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS sort_col, "
        f"({' + '.join(f'np_{c}_{d}' for d in _SORT_DATA_COLS)})::BIGINT AS est_total_runs, "
        f"round(CAST(n_rows AS DOUBLE) * {len(_SORT_DATA_COLS)} / "
        f"CAST({' + '.join(f'np_{c}_{d}' for d in _SORT_DATA_COLS)} AS DOUBLE), 6) "
        f"AS est_avg_run_len FROM m"
        for c in _SORT_CANDIDATES
    )
)


@register("format_sort_advisor", oracle=_SORT_ORACLE)
def format_sort_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-key advisor for the compressed writer: for each candidate sort
    column C, a LOWER BOUND on the total RLE run count the data columns
    would have if the table were range-sorted by C — each distinct (C, d)
    combination contributes at least one run of d, so est_total_runs =
    sum over data columns d of n_distinct(C, d); fewer runs = better RLE /
    dict-RLE cascades. This drives the layout decision the writer's
    repartitionByRange key makes at 100 TB (the reference leaves ordering
    to the ingest order, storage/Relation.cpp getRanges SEQUENTIAL; a
    cluster-scale writer gets to CHOOSE).

    Scale: identical shape to format_fd_profile — one expanded scan of
    exact pair-distinct aggregates (exact so the oracle compare is
    bit-tight; empty table → NULL estimate, oracle x/0 parity). The
    production path is ``format_sort_advisor_approx`` below — same
    ranking from HLL sketches with no Expand and a KB-scale shuffle."""
    from btrblocks_spark.format.planner import sort_key_advisor

    li = load_table(spark, sf_dir, "lineitem")
    return sort_key_advisor(li, _SORT_CANDIDATES, _SORT_DATA_COLS, exact=True)


@register("format_sort_advisor_approx")
def format_sort_advisor_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the sort-key advisor: the same run-count
    ranking computed from ``approx_count_distinct`` (HLL++, rsd 0.05)
    sketches — one pass, NO Expand, shuffle = one fixed-size register set
    per (candidate, data-col) pair per partition instead of the exploded
    distinct-pair stream (43.9 MB → KBs on the sf0.1 audit; the advisor
    is a heuristic ranking, so ±5% per-term error cannot change which
    keys are worth sorting by unless they were already ties). Registered
    rows-only: HLL estimates are engine-specific, so there is no
    bit-exact cross-engine oracle — the exact variant above carries the
    value-parity check, and test_plans pins that both variants choose the
    SAME best key on testdata while this plan stays Expand-free."""
    from btrblocks_spark.format.planner import sort_key_advisor

    li = load_table(spark, sf_dir, "lineitem")
    return sort_key_advisor(li, _SORT_CANDIDATES, _SORT_DATA_COLS, exact=False)


# column-group encoding plan: candidate (determinant, dependent) pairs over
# orders plus a DERIVED class column (substr of priority) — the generated-
# column case is exactly where a column-group encoding wins outright, and the
# four pairs cover all three verdict classes: FD held with positive savings
# (priority -> its class), FD held but pointless (unique key det: grouping
# saves nothing), and FD violated (both directions of status/priority).
_CG_PAIRS = [
    ("o_orderpriority", "prio_class"),
    ("o_orderstatus", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"),
    ("o_orderkey", "o_orderstatus"),
]
_CG_COLS = list(dict.fromkeys(c for p in _CG_PAIRS for c in p))


def _cg_cb_sql(nd: str) -> str:
    return f"CASE WHEN {nd} <= 256 THEN 1 WHEN {nd} <= 65536 THEN 2 ELSE 4 END"


def _cg_oracle() -> str:
    ctes = [
        "base AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, "
        "substr(o_orderpriority, 1, 1) AS prio_class FROM orders)",
        "nr AS (SELECT count(*) AS n_rows FROM base)",
    ]
    for c in _CG_COLS:
        ctes.append(
            f"c_{c} AS (SELECT count(*) AS nd, coalesce(sum(strlen(a)), 0) AS ab "
            f"FROM (SELECT DISTINCT CAST({c} AS VARCHAR) AS a FROM base))"
        )
    selects = []
    for i, (det, dep) in enumerate(_CG_PAIRS):
        ctes.append(
            f"p_{i} AS (SELECT count(*) AS np FROM "
            f"(SELECT DISTINCT CAST({det} AS VARCHAR), CAST({dep} AS VARCHAR) FROM base))"
        )
        cb_det, cb_dep = _cg_cb_sql(f"c_{det}.nd"), _cg_cb_sql(f"c_{dep}.nd")
        indep = f"(c_{det}.ab + c_{dep}.ab + n_rows * (({cb_det}) + ({cb_dep})))"
        group = f"(c_{det}.ab + c_{dep}.ab + c_{det}.nd * ({cb_dep}) + n_rows * ({cb_det}))"
        selects.append(
            f"SELECT '{det}' AS det_col, '{dep}' AS dep_col, n_rows::BIGINT AS n_rows, "
            f"c_{det}.nd::BIGINT AS n_det, c_{dep}.nd::BIGINT AS n_dep, np::BIGINT AS n_pairs, "
            f"np = c_{det}.nd AS fd_holds, "
            f"{indep}::BIGINT AS est_indep_bytes, {group}::BIGINT AS est_group_bytes, "
            f"(CASE WHEN np = c_{det}.nd THEN {indep} - {group} ELSE 0 END)::BIGINT AS est_savings_bytes, "
            f"(np = c_{det}.nd AND {indep} - {group} > 0) AS group_recommended "
            f"FROM nr CROSS JOIN c_{det} CROSS JOIN c_{dep} CROSS JOIN p_{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@register("format_column_group_plan", oracle=_cg_oracle())
def format_column_group_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-GROUP encoding plan — the decision step downstream of
    ``format_fd_profile``: for each candidate det → dep pair, size a
    shared-dictionary group encoding against independent per-column
    encoding and recommend grouping iff the FD holds AND the sizing wins.
    Byte model (the writer's own dictionary cascade, format/writer.py):
    independent = both dicts + n_rows codes for each column; grouped = both
    dicts + ONE n_rows code stream for the determinant + an nd_det-entry
    mapping table for the dependent (its per-row code stream disappears —
    each det dictionary entry stores its dep code once). Code width is the
    dict8/dict16/dict32 ladder the planner already uses. The derived
    ``prio_class`` column demonstrates the generated-column case: its
    whole code stream is recoverable from the priority dictionary, so
    savings ≈ n_rows bytes.

    Determinism: every quantity is an exact integer (distinct counts,
    byte-length sums over distinct values, integer size arithmetic) — no
    FP anywhere.

    Scale: ONE scan explodes each row into |cols|+|pairs| tagged tuples,
    one distinct and an O(kinds)-row groupBy produce every cardinality and
    dict-byte figure — bounded by Σ distinct values, never re-scanning the
    table per pair. This is the exact, oracle-checked planning form; at
    100 TB the same verdicts come from ``planner.fd_advisor`` sketches +
    chunk-stats dictionary sizes (format_fd_profile_approx's path)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        F.substring("o_orderpriority", 1, 1).alias("prio_class"),
    )
    tagged = []
    for c in _CG_COLS:
        tagged.append(
            F.struct(
                F.lit(f"c:{c}").alias("kind"),
                F.col(c).cast("string").alias("a"),
                F.lit(None).cast("string").alias("b"),
            )
        )
    for det, dep in _CG_PAIRS:
        tagged.append(
            F.struct(
                F.lit(f"p:{det}~{dep}").alias("kind"),
                F.col(det).cast("string").alias("a"),
                F.col(dep).cast("string").alias("b"),
            )
        )
    g = (
        base.select(F.explode(F.array(*tagged)).alias("r"))
        .select("r.*")
        .distinct()
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.coalesce(F.sum(F.octet_length("a")), F.lit(0)).alias("ab"),
        )
    )
    # O(kinds) rows -> one wide scalar row (the fd_advisor pivot pattern);
    # coalesce to 0: on an EMPTY base table g has no rows at all, and the
    # oracle's per-kind distinct CTEs emit count(*)=0 / ab=0 — NULL here
    # would diverge in shape (the round-6 empty-input review class)
    keys = [f"c:{c}" for c in _CG_COLS] + [f"p:{d}~{p}" for d, p in _CG_PAIRS]
    wide = g.agg(
        *[
            F.coalesce(
                F.first(F.when(F.col("kind") == k, F.col(m)), ignorenulls=True),
                F.lit(0),
            ).alias(f"{m}_{k}")
            for k in keys
            for m in ("nd", "ab")
        ]
    )
    nr = base.agg(F.count(F.lit(1)).alias("n_rows"))

    def cb(nd):
        return F.when(nd <= 256, 1).when(nd <= 65536, 2).otherwise(4)

    rows = []
    for det, dep in _CG_PAIRS:
        nd_det, nd_dep = F.col(f"nd_c:{det}"), F.col(f"nd_c:{dep}")
        ab_det, ab_dep = F.col(f"ab_c:{det}"), F.col(f"ab_c:{dep}")
        np_ = F.col(f"nd_p:{det}~{dep}")
        indep = ab_det + ab_dep + F.col("n_rows") * (cb(nd_det) + cb(nd_dep))
        group = ab_det + ab_dep + nd_det * cb(nd_dep) + F.col("n_rows") * cb(nd_det)
        held = np_ == nd_det
        rows.append(
            F.struct(
                F.lit(det).alias("det_col"),
                F.lit(dep).alias("dep_col"),
                F.col("n_rows").cast("long").alias("n_rows"),
                nd_det.cast("long").alias("n_det"),
                nd_dep.cast("long").alias("n_dep"),
                np_.cast("long").alias("n_pairs"),
                held.alias("fd_holds"),
                indep.cast("long").alias("est_indep_bytes"),
                group.cast("long").alias("est_group_bytes"),
                F.when(held, indep - group).otherwise(F.lit(0))
                .cast("long").alias("est_savings_bytes"),
                (held & ((indep - group) > 0)).alias("group_recommended"),
            )
        )
    return (
        wide.crossJoin(F.broadcast(nr))
        .select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
    )


@register(
    "format_column_group_roundtrip",
    oracle="""
SELECT substr(o_orderpriority, 1, 1) AS prio_class,
       count(*)::BIGINT AS n,
       count(DISTINCT o_orderpriority)::BIGINT AS n_prio,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY 1
""",
    eager=True,
)
def format_column_group_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-group encoding BANKED end-to-end (the round-7 plan query's
    decision, executed): write orders plus its generated ``prio_class``
    column with ``column_groups=[(o_orderpriority, prio_class)]`` — the
    dependent is stored as a 5-entry mapping table and its per-row stream
    leaves the data files entirely (the multi-column generalization of the
    reference's dictionary cascade, scheme/string/DynamicDictionary.cpp:
    22-208) — then read back through the reconstructing reader and
    aggregate BY the reconstructed column. The oracle computes the same
    aggregate from the raw table, so a reconstruction bug (wrong mapping,
    dropped NULL determinant, join duplicating rows) is a value/row-count
    mismatch, not a silent ratio claim.

    The query self-checks that the group was actually applied (sidecar
    records it AND the dependent is absent from the written files) — it
    can never pass by silently falling back to an ungrouped write.

    Scale: the mapping join is a broadcast of nd(det) entries; everything
    else is the ordinary chunked write + one aggregate."""
    import shutil
    import tempfile

    from btrblocks_spark.format.reader import read_table
    from btrblocks_spark.format.writer import write_table

    out = tempfile.mkdtemp(prefix="btr_cg_query_")
    try:
        table = f"{out}/orders_cg"
        o = load_table(spark, sf_dir, "orders").withColumn(
            "prio_class", F.substring("o_orderpriority", 1, 1)
        )
        meta = write_table(
            o, table, ["o_orderkey"],
            column_groups=[("o_orderpriority", "prio_class")],
        )
        if not meta["column_groups"]:
            raise AssertionError("column group was not applied")
        stored = spark.read.parquet(f"{table}/data")
        if "prio_class" in stored.columns:
            raise AssertionError("dependent column still stored as a stream")
        back, _meta = read_table(spark, table)
        result = back.groupBy("prio_class").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_orderpriority").alias("n_prio"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        # materialize before the temp table vanishes
        return result.localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)
