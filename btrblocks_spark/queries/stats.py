"""Statistics / profiling queries — the reference's "analyzer" surface.

T1 numeric chunk stats (reference ``stats/NumberStats.hpp:78-130``): one pass
computing min, max, null_count, unique_count, average_run_length, is_sorted.
T2 string stats (``stats/StringStats.cpp:5-37``): distinct count, total
length, total unique length.

Run-length and sortedness are order-dependent; the reference sees columns in
file order. Our tables have stable unique keys, so every profile fixes an
explicit order (the analog of file order) and both engines window over it.

Chunking (``storage/Relation.cpp:42-69``: ranges of block_size rows) is
expressed as ``(row_number - 1) / block_size`` over the same stable order —
the profile-per-chunk query is the exact analog of per-chunk stats feeding
the scheme picker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from btrblocks_spark.queries import register
from btrblocks_spark.tables import load_table

# ---------------------------------------------------------------------------
# T1: numeric column profile (min/max/nulls/distinct/run-length/sortedness)
# ---------------------------------------------------------------------------

_NUMERIC_PROFILE_ORACLE = """
WITH ordered AS (
  SELECT l_quantity AS v,
         LAG(l_quantity) OVER (ORDER BY l_orderkey, l_linenumber, l_quantity NULLS FIRST) AS prev
  FROM lineitem
)
SELECT
  'l_quantity' AS column_name,
  COUNT(*) AS n_rows,
  CAST(MIN(v) AS DOUBLE) AS min_v,
  CAST(MAX(v) AS DOUBLE) AS max_v,
  COUNT(*) - COUNT(v) AS null_count,
  COUNT(DISTINCT v) AS unique_count,
  CAST(COUNT(*) AS DOUBLE) /
    SUM(CASE WHEN prev IS NULL OR v <> prev THEN 1 ELSE 0 END) AS avg_run_length,
  CAST(MIN(CASE WHEN prev IS NULL OR v >= prev THEN 1 ELSE 0 END) AS BOOLEAN) AS is_sorted
FROM ordered
"""


@register("stats_numeric_profile", _NUMERIC_PROFILE_ORACLE)
def stats_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 numeric profile (stats/NumberStats.hpp:78-130) — run length and
    sortedness come from the bucketed two-phase pass (_distributed.
    bucketed_order_profile), NOT a global lag window: per-bucket windows in
    parallel, boundary fixups over a one-row-per-bucket table. The exact
    distinct count is a second parallel aggregate cross-joined in (distinct
    is not bucket-mergeable; two parallel scans beat one serial window)."""
    from btrblocks_spark.queries._distributed import bucketed_order_profile

    l = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this testdata — extend
    # the sort key by the profiled column itself so run/sortedness stats
    # are tie-order independent across engines and partitionings (same
    # hazard note as format_chunk_stats)
    prof = bucketed_order_profile(
        l,
        F.expr("l_orderkey div 4096"),
        ["l_orderkey", "l_linenumber", "l_quantity"],
        "l_quantity",
    )
    uniq = l.agg(F.count_distinct("l_quantity").alias("unique_count"))
    return prof.crossJoin(uniq).select(
        F.lit("l_quantity").alias("column_name"),
        "n_rows",
        F.col("min_v").cast("double"),
        F.col("max_v").cast("double"),
        (F.col("n_rows") - F.col("n_set")).alias("null_count"),
        "unique_count",
        (F.col("n_rows").cast("double") / F.col("total_runs")).alias("avg_run_length"),
        "is_sorted",
    )


# ---------------------------------------------------------------------------
# T2: string column profile
# ---------------------------------------------------------------------------

_STRING_PROFILE_ORACLE = """
SELECT
  'o_orderpriority' AS column_name,
  COUNT(*) AS n_rows,
  COUNT(o_orderpriority) AS set_count,
  COUNT(*) - COUNT(o_orderpriority) AS null_count,
  COUNT(DISTINCT o_orderpriority) AS unique_count,
  CAST(SUM(LENGTH(o_orderpriority)) AS BIGINT) AS total_length,
  (SELECT CAST(SUM(LENGTH(x)) AS BIGINT)
   FROM (SELECT DISTINCT o_orderpriority AS x FROM orders)) AS total_unique_length
FROM orders
"""


@register("stats_string_profile", _STRING_PROFILE_ORACLE, eager=True)
def stats_string_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    uniq_len = (
        o.select("o_orderpriority")
        .distinct()
        .agg(F.sum(F.length("o_orderpriority")).cast("bigint"))
        .collect()[0][0]
    )
    return o.agg(
        F.lit("o_orderpriority").alias("column_name"),
        F.count("*").alias("n_rows"),
        F.count("o_orderpriority").alias("set_count"),
        (F.count("*") - F.count("o_orderpriority")).alias("null_count"),
        F.count_distinct("o_orderpriority").alias("unique_count"),
        F.sum(F.length("o_orderpriority")).cast("bigint").alias("total_length"),
        F.lit(uniq_len).cast("bigint").alias("total_unique_length"),
    )


# ---------------------------------------------------------------------------
# Per-chunk profile: stats grouped by block_size-row chunk (scheme-picker feed)
# ---------------------------------------------------------------------------

_CHUNK_PROFILE_ORACLE = """
WITH ordered AS (
  SELECT l_extendedprice AS v,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_extendedprice NULLS FIRST) - 1) / 4096) AS BIGINT)
           AS chunk_id
  FROM lineitem
)
SELECT chunk_id,
       COUNT(*) AS n_rows,
       CAST(MIN(v) AS DOUBLE) AS min_v,
       CAST(MAX(v) AS DOUBLE) AS max_v,
       COUNT(DISTINCT v) AS unique_count,
       SUM(CAST(round(v * 10000) AS BIGINT)) / CAST(10000 AS DOUBLE) AS sum_v
FROM ordered
GROUP BY chunk_id
"""


@register("stats_chunk_profile", _CHUNK_PROFILE_ORACLE)
def stats_chunk_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked stats: the Spark analog of per-chunk `NumberStats` feeding
    `SchemePicker` (compression/SchemePicker.hpp:70-221). block_size=4096
    here so small SFs still produce multiple chunks."""
    from btrblocks_spark.queries._distributed import bucketed_row_number

    l = load_table(spark, sf_dir, "lineitem")
    # sort key extended by the profiled column: (l_orderkey, l_linenumber)
    # ties would otherwise split across a 4096-row chunk boundary in
    # engine-dependent order
    indexed = bucketed_row_number(
        l, F.expr("l_orderkey div 4096"), ["l_orderkey", "l_linenumber", "l_extendedprice"]
    )
    ordered = indexed.select(
        F.col("l_extendedprice").alias("v"),
        F.floor((F.col("idx") - 1) / F.lit(4096)).cast("bigint").alias("chunk_id"),
    )
    return ordered.groupBy("chunk_id").agg(
        F.count("*").alias("n_rows"),
        F.min("v").cast("double").alias("min_v"),
        F.max("v").cast("double").alias("max_v"),
        F.count_distinct("v").alias("unique_count"),
        (F.sum(F.round(F.col("v") * 10000).cast("long")) / F.lit(10000.0)).alias("sum_v"),
    )


# ---------------------------------------------------------------------------
# Events profile over epoch-nanos ts (timestamp handling + time bucketing)
# ---------------------------------------------------------------------------

_EVENTS_PROFILE_ORACLE = """
SELECT event_type,
       CAST(FLOOR(CAST(epoch_ns(ts) AS BIGINT) / 3600000000000) AS BIGINT) AS hour_bucket,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       SUM(CAST(round(value * 10000) AS BIGINT)) / CAST(10000 AS DOUBLE) AS total_value
FROM events
GROUP BY event_type, hour_bucket
"""


@register("events_time_rollup", _EVENTS_PROFILE_ORACLE)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup over the event stream table (ts is epoch-nanos
    BIGINT on the Spark side — see tables.load_table)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.floor(F.col("ts") / F.lit(3600000000000)).cast("bigint").alias("hour_bucket"),
            "user_id",
            "value",
        )
        .groupBy("event_type", "hour_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            (F.sum(F.round(F.col("value") * 10000).cast("long")) / F.lit(10000.0)).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Sessionization via run detection — the RLE encode analog as a query
# ---------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH ordered AS (
  SELECT o_orderstatus AS v,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) AS idx,
         CASE WHEN LAG(o_orderstatus) OVER (ORDER BY o_orderkey) IS DISTINCT FROM o_orderstatus
              THEN 1 ELSE 0 END AS is_start
  FROM orders
),
runs AS (
  SELECT v, idx, SUM(is_start) OVER (ORDER BY idx) AS run_id FROM ordered
)
SELECT CAST(run_id AS BIGINT) AS run_id, v AS run_value,
       COUNT(*) AS run_length, MIN(idx) AS start_idx
FROM runs
GROUP BY run_id, v
"""


@register("rle_runs", _RUNS_ORACLE)
def rle_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding as a relational transform (reference RLE compress,
    scheme/templated/RLE.hpp:20-85): sessionize equal-value runs in key order
    into (run_value, run_length, start_idx).

    Scale design — NO global window. A bare ``row_number() OVER (ORDER BY
    key)`` funnels the table through one task; instead runs are detected
    with the distributed-RLE merge pattern:

      1. bucket rows by key range (``o_orderkey div 4096``) and find runs
         per bucket with a bucket-partitioned window — parallel across
         buckets, one shuffle;
      2. aggregate one tiny row per bucket (row count, local start count,
         first/last value by key) and, over that bucket table (rows =
         table_rows/4096 — driver-scale), compute with lag+cumsum windows:
         row offsets, run-id offsets, and a merge flag for runs that
         continue across a bucket boundary (first value == previous
         bucket's last value);
      3. broadcast the bucket table back: global idx = local ordinal +
         row_offset, global run_id = local run + run_offset - merge_flag.
         Boundary-crossing runs share one global run_id, so the final
         groupBy stitches their lengths together automatically.

    Identical output to the single-window formulation for any unique
    (possibly sparse) key, at any partition count."""
    from btrblocks_spark.queries._distributed import bucketed_runs

    o = load_table(spark, sf_dir, "orders")
    runs = bucketed_runs(
        o, F.expr("o_orderkey div 4096"), ["o_orderkey"], "o_orderstatus"
    )
    return runs.groupBy("run_id", "run_value").agg(
        F.count("*").alias("run_length"),
        F.min("idx").alias("start_idx"),
    )


@register("stats_hll_sketch_union")  # rows-only: HLL estimates are engine-specific
def stats_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the 100 TB path for the
    reference's per-chunk ``unique_count`` stat (stats/NumberStats.hpp:89):
    build an HLL sketch per chunk (here: per orderdate bucket, standing in
    for the writer's chunk grain), then UNION the sketches to answer
    table-level distinct questions WITHOUT rescanning — sketch union is
    associative, so chunk sketches persisted in the metadata sidecar roll
    up to any grain for free.

    Verification is rows-only (HLL register layouts are engine-specific);
    the test asserts the estimate is within 5% of the exact count."""
    o = load_table(spark, sf_dir, "orders")
    per_bucket = (
        o.withColumn("bucket", F.dayofmonth("o_orderdate"))
        .groupBy("bucket")
        .agg(
            F.hll_sketch_agg("o_custkey").alias("sk"),
            F.countDistinct("o_custkey").alias("exact_bucket"),
        )
    )
    return per_bucket.agg(
        F.count("*").alias("n_buckets"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est_distinct_custkeys"),
        F.sum("exact_bucket").alias("sum_bucket_distinct"),
    )


# ---------------------------------------------------------------------------
# Exact second moments: stddev / covariance / correlation via scaled longs
# ---------------------------------------------------------------------------

_MOMENTS_ORACLE = """
SELECT flag, n_rows, mean_qty, stddev_qty, mean_disc, corr_qty_disc FROM (
  SELECT l_returnflag AS flag,
         count(*) AS n_rows,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS mean_qty,
         sqrt(CAST(count(*) * SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   - SUM(CAST(l_quantity AS BIGINT)) * SUM(CAST(l_quantity AS BIGINT))
              AS DOUBLE)) / count(*) AS stddev_qty,
         CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / count(*) / 100.0
           AS mean_disc,
         CAST(count(*) * SUM(CAST(l_quantity AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT))
              - SUM(CAST(l_quantity AS BIGINT)) * SUM(CAST(round(l_discount * 100) AS BIGINT))
           AS DOUBLE)
         / sqrt(CAST(count(*) * SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                     - SUM(CAST(l_quantity AS BIGINT)) * SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                * CAST(count(*) * SUM(CAST(round(l_discount * 100) AS BIGINT)
                                      * CAST(round(l_discount * 100) AS BIGINT))
                       - SUM(CAST(round(l_discount * 100) AS BIGINT))
                         * SUM(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE))
           AS corr_qty_disc
  FROM lineitem
  GROUP BY l_returnflag
) t ORDER BY flag
"""


@register("stats_moments", _MOMENTS_ORACLE)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics (stddev, correlation) with cross-engine
    bit-parity: native stddev/corr accumulate doubles in partition order, so
    two engines (or two partitionings) disagree in the last ULP. Instead the
    five moments (n, Σx, Σy, Σx², Σy², Σxy) are EXACT integer sums of scaled
    values (quantity is integer-valued, discount has 2 decimals), and the
    textbook formulas run once on the driver-side final values — one shuffle,
    map-side partials, any partition count gives identical bits.

    At petabyte row counts the raw Σx² longs would overflow; the production
    variant keeps per-partition centered partials (Welford merge). Here the
    point is the oracle-checked pattern: moments exact, formula last."""
    l = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_discount") * 100).cast("long")
    g = l.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    var_x = (n * F.col("sxx") - sx * sx).cast("double")
    var_y = (n * F.col("syy") - sy * sy).cast("double")
    cov_xy = (n * F.col("sxy") - sx * sy).cast("double")
    return (
        g.select(
            "flag",
            n.alias("n_rows"),
            (sx.cast("double") / n).alias("mean_qty"),
            (F.sqrt(var_x) / n).alias("stddev_qty"),
            (sy.cast("double") / n / F.lit(100.0)).alias("mean_disc"),
            # single-row/constant group: var 0 → NULL (oracle parity)
            F.try_divide(cov_xy, F.sqrt(var_x * var_y)).alias("corr_qty_disc"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# join-key skew profile — the shuffle-planning statistic
# ---------------------------------------------------------------------------

_KEY_SKEW_ORACLE = """
WITH k AS (
  SELECT 'l_orderkey' AS key_name, l_orderkey AS key_value FROM lineitem
  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
),
per_key AS (
  SELECT key_name, key_value, count(*) AS cnt FROM k GROUP BY 1, 2
)
SELECT key_name,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       count(*) AS n_keys,
       max(cnt) AS max_freq,
       round(max(cnt) * count(*) / sum(cnt), 6) AS skew_factor
FROM per_key GROUP BY 1
"""


@register("stats_key_skew", _KEY_SKEW_ORACLE)
def stats_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-join-key skew profile over lineitem's three join keys:
    max key frequency and skew_factor = max_freq * n_keys / n_rows
    (1.0 = perfectly uniform; >> 1 = a hot key that will straggle a
    shuffle join). This is the statistic that decides between a plain
    shuffle join, AQE skew splitting, and explicit salting
    (events_salted_join) — computed in ONE pass: a map-side stack() melt
    (no re-scan per key column) into a single two-level aggregation."""
    l = load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            "stack(3, 'l_orderkey', l_orderkey, 'l_partkey', l_partkey, "
            "'l_suppkey', l_suppkey) as (key_name, key_value)"
        )
    )
    per_key = l.groupBy("key_name", "key_value").agg(F.count("*").alias("cnt"))
    return per_key.groupBy("key_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_freq"),
        F.round(F.max("cnt") * F.count("*") / F.sum("cnt"), 6).alias("skew_factor"),
    )



def _flag_cents_cumfreq(l, keep_n: bool = False):
    """(flag, v[, n], cum_n, total_n): per-returnflag distinct-cents
    frequency table with running/total counts — the reduced-table scaffold
    shared by stats_percentile_profile and stats_equidepth_histogram. The
    cumulative window runs over |distinct values| rows per flag, never
    |rows|; both consumers' oracles mirror this exact CTE."""
    freq = l.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("flag").orderBy(F.asc_nulls_last("v")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # NULLS LAST = DuckDB's ASC default (NULL price rows)
    wt = Window.partitionBy("flag")
    cols = ["flag", "v"] + (["n"] if keep_n else [])
    return freq.select(
        *cols,
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(wt).alias("total_n"),
    )


@register(
    "stats_percentile_profile",
    oracle="""
WITH freq AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT flag, v, n,
         SUM(n) OVER (PARTITION BY flag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum_n,
         SUM(n) OVER (PARTITION BY flag) AS total_n
  FROM freq
),
ps AS (SELECT unnest([25, 50, 75, 90, 99]) AS p)
SELECT flag, p,
       MIN(v) / 100.0 AS pct_value
FROM cum CROSS JOIN ps
WHERE cum_n * 100 >= p * total_n
GROUP BY flag, p
""",
)
def stats_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (percentile_disc semantics: smallest value
    whose cumulative frequency reaches ceil(p*n)) of l_extendedprice per
    returnflag, at p = 25/50/75/90/99. Values scale to integer cents so the
    rank arithmetic (cum*100 >= p*total) is pure integer — no interpolation,
    no float ranks — and both engines agree bit-exactly.

    Scale: the raw table collapses to a (flag, distinct-value) frequency
    table in one map-side-combinable groupBy; the cumulative window and the
    percentile selection run over that REDUCED table only (|distinct values|
    rows per flag, not |rows|) — the classic scalable alternative to sorting
    the full column per group. The 5-element percentile list is a literal
    cross join (broadcast, fan-out 5 on the reduced table)."""
    l = load_table(spark, sf_dir, "lineitem")
    cum = _flag_cents_cumfreq(l)
    ps = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (25, 50, 75, 90, 99)])).alias("p")
    )
    return (
        cum.crossJoin(F.broadcast(ps))
        .filter(F.col("cum_n") * 100 >= F.col("p") * F.col("total_n"))
        .groupBy("flag", "p")
        .agg((F.min("v") / 100.0).alias("pct_value"))
    )


@register(
    "stats_equidepth_histogram",
    oracle="""
WITH freq AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT flag, v, n,
         SUM(n) OVER (PARTITION BY flag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum_n,
         SUM(n) OVER (PARTITION BY flag) AS total_n
  FROM freq
)
SELECT flag,
       CAST(least((cum_n - 1) * 4 // total_n, 3) AS INTEGER) AS bucket,
       SUM(n)::BIGINT AS n_rows,
       MIN(v) / 100.0 AS lo,
       MAX(v) / 100.0 AS hi
FROM cum GROUP BY flag, bucket
""",
)
def stats_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram of l_extendedprice per
    returnflag — the histogram a cost-based optimizer keeps (equal ROW
    counts per bucket, data-driven boundaries; ties share a bucket), as
    opposed to stats_histogram's fixed-width bins. Bucket assignment is
    pure integer rank arithmetic ((cum-1)*k/total) over the reduced
    distinct-value frequency table, so both engines agree exactly.

    Scale: same shape as stats_percentile_profile — the raw column
    collapses map-side to (flag, value, count); the cumulative window sees
    only distinct values per flag, never rows."""
    l = load_table(spark, sf_dir, "lineitem")
    cum = _flag_cents_cumfreq(l, keep_n=True)
    bucket = F.least(
        F.expr("(cum_n - 1) * 4 div total_n"), F.lit(3).cast("long")
    ).cast("int")
    return (
        cum.withColumn("bucket", bucket)
        .groupBy("flag", "bucket")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            (F.min("v") / 100.0).alias("lo"),
            (F.max("v") / 100.0).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Pairwise correlation matrix — one-pass exact moments over all column pairs
# ---------------------------------------------------------------------------

# Centered scaled-long variables: qty is integral, price rounds to whole
# dollars, discount/tax have 2 decimals.  Centering by a fixed literal keeps
# every per-row value small (|p| <= ~8e4) so all 14 moment sums fit BIGINT
# far past bench scale, and the catastrophic cancellation of the uncentered
# E[XY]-E[X]E[Y] formula is tamed.
_CORR_VARS = {
    "q": ("quantity", "CAST(l_quantity AS BIGINT) - 25"),
    "p": ("extendedprice", "CAST(round(l_extendedprice) AS BIGINT) - 36000"),
    "d": ("discount", "CAST(round(l_discount * 100) AS BIGINT) - 5"),
    "t": ("tax", "CAST(round(l_tax * 100) AS BIGINT) - 4"),
}
_CORR_PAIRS = [("q", "p"), ("q", "d"), ("q", "t"), ("p", "d"), ("p", "t"), ("d", "t")]


def _corr_formula_sql(x: str, y: str) -> str:
    """corr via moments, every op mirrored bit-for-bit by the Spark side."""
    mean = "CAST(s_{0} AS DOUBLE) / n"
    exy = f"CAST(s_{x}{y} AS DOUBLE) / n"
    exx = f"CAST(s_{x}{x} AS DOUBLE) / n"
    eyy = f"CAST(s_{y}{y} AS DOUBLE) / n"
    mx, my = mean.format(x), mean.format(y)
    return (
        f"round(({exy} - ({mx}) * ({my})) / "
        f"sqrt(({exx} - ({mx}) * ({mx})) * ({eyy} - ({my}) * ({my}))), 6)"
    )


_CORR_MATRIX_ORACLE = (
    "WITH v AS (\n  SELECT "
    + ", ".join(expr + f" AS {k}" for k, (_, expr) in _CORR_VARS.items())
    + "\n  FROM lineitem\n),\nm AS (\n  SELECT count(*) AS n, "
    + ", ".join(f"SUM({k}) AS s_{k}" for k in _CORR_VARS)
    + ", "
    + ", ".join(f"SUM({k} * {k}) AS s_{k}{k}" for k in _CORR_VARS)
    + ", "
    + ", ".join(f"SUM({x} * {y}) AS s_{x}{y}" for x, y in _CORR_PAIRS)
    + "\n  FROM v\n)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{_CORR_VARS[x][0]}' AS col_x, '{_CORR_VARS[y][0]}' AS col_y, "
        f"n::BIGINT AS n_rows, {_corr_formula_sql(x, y)} AS corr FROM m"
        for x, y in _CORR_PAIRS
    )
    + "\nORDER BY col_x, col_y"
)


@register("stats_corr_matrix", _CORR_MATRIX_ORACLE)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's four numeric
    columns (quantity, whole-dollar extendedprice, discount, tax) — the
    multi-column generalization of stats_moments and the statistic behind
    column-group compression / functional-dependency detection (the
    reference's per-chunk stats, NumberStats.hpp:78-130, see one column at
    a time; this sees their joint structure).

    Cross-engine bit-parity: all 14 moments (4 sums, 4 sum-of-squares, 6
    cross-products of centered scaled longs) are EXACT integer sums in ONE
    map-side-combinable pass; the corr formula then runs on the final
    one-row result with an identical IEEE expression tree in both engines.

    Scale: one scan, one-row shuffle; centered |values| <= 8e4 keep the
    BIGINT moment sums overflow-free to ~1e9 rows — past that, switch the
    partials to per-partition Welford merges (same one-pass shape)."""
    l = load_table(spark, sf_dir, "lineitem")
    v = l.select(
        *[F.expr(expr).alias(k) for k, (_, expr) in _CORR_VARS.items()]
    )
    m = v.agg(
        F.count("*").alias("n"),
        *[F.sum(F.col(k)).alias(f"s_{k}") for k in _CORR_VARS],
        *[F.sum(F.col(k) * F.col(k)).alias(f"s_{k}{k}") for k in _CORR_VARS],
        *[F.sum(F.col(x) * F.col(y)).alias(f"s_{x}{y}") for x, y in _CORR_PAIRS],
    )

    def corr_expr(x: str, y: str):
        n = F.col("n")
        mx = F.col(f"s_{x}").cast("double") / n
        my = F.col(f"s_{y}").cast("double") / n
        exy = F.col(f"s_{x}{y}").cast("double") / n
        exx = F.col(f"s_{x}{x}").cast("double") / n
        eyy = F.col(f"s_{y}{y}").cast("double") / n
        # constant column: zero variance → NULL (oracle parity, no abort)
        return F.round(
            F.try_divide(exy - mx * my, F.sqrt((exx - mx * mx) * (eyy - my * my))), 6
        )

    # one row -> 6 pair rows via explode, NOT a 6-branch union: the union
    # relied on ReuseExchange to dedupe the scan; this shape guarantees a
    # single scan + single aggregate regardless of optimizer rules
    pair_rows = F.array(
        *[
            F.struct(
                F.lit(_CORR_VARS[x][0]).alias("col_x"),
                F.lit(_CORR_VARS[y][0]).alias("col_y"),
                corr_expr(x, y).alias("corr"),
            )
            for x, y in _CORR_PAIRS
        ]
    )
    return (
        m.select(F.col("n").cast("long").alias("n_rows"), F.explode(pair_rows).alias("p"))
        .select("p.col_x", "p.col_y", "n_rows", "p.corr")
        .orderBy("col_x", "col_y")
    )


@register(
    "stats_column_entropy",
    oracle="""
WITH m AS (
  SELECT 'l_returnflag' AS col_name, l_returnflag AS v FROM lineitem
  UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem
  UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem
  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
),
counts AS (SELECT col_name, v, count(*) AS c FROM m GROUP BY 1, 2),
tot AS (SELECT col_name, SUM(c) AS n, count(*) AS n_distinct FROM counts GROUP BY 1),
terms AS (
  SELECT c.col_name,
         CAST(round((CAST(c.c AS DOUBLE) / t.n) * ln(CAST(c.c AS DOUBLE) / t.n), 6)
              AS DECIMAL(18,6)) AS term
  FROM counts c JOIN tot t USING (col_name)
)
SELECT col_name, n::BIGINT AS n_rows, n_distinct::BIGINT AS n_distinct,
       round((0.0 - CAST(SUM(term) AS DOUBLE)) / ln(2.0), 6) AS entropy_bits
FROM terms JOIN tot USING (col_name)
GROUP BY col_name, n, n_distinct
ORDER BY col_name
""",
    eager=True,
)
def stats_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column Shannon entropy in bits — the information-theoretic lower
    bound on compressed bits/value, i.e. the number the scheme planner's
    estimated ratios chase (a dict+BP encoding of a column cannot beat
    n·H(X) bits; reference per-chunk unique/histogram stats,
    stats/NumberStats.hpp:89-121, are the empirical inputs to the same
    quantity).

    Cross-engine exactness: p·ln(p) terms round to 6 dp then sum as
    DECIMAL (the domain_entropy / unigram_surprisal pattern); `0.0 - x`
    avoids the engine-dependent -0.0 of unary negation.

    Scale: ONE melt scan (stack) → (column, value) counts, map-side
    combinable; everything downstream runs on the distinct-value table;
    the per-column totals broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    m = l.select(
        F.expr(
            "stack(4, 'l_returnflag', l_returnflag, 'l_linestatus', l_linestatus, "
            "'l_linenumber', CAST(l_linenumber AS STRING), "
            "'l_suppkey', CAST(l_suppkey AS STRING)) as (col_name, v)"
        )
    )
    # pinned: the distinct-value table feeds both the totals and the terms
    counts = m.groupBy("col_name", "v").agg(F.count("*").alias("c")).localCheckpoint(
        eager=True
    )
    tot = counts.groupBy("col_name").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct")
    )
    p = F.col("c").cast("double") / F.col("n")
    terms = counts.join(F.broadcast(tot), "col_name").select(
        "col_name",
        "n",
        "n_distinct",
        F.round(p * F.log(p), 6).cast("decimal(18,6)").alias("term"),
    )
    return (
        terms.groupBy("col_name", "n", "n_distinct")
        .agg(
            F.round(
                (F.lit(0.0) - F.sum("term").cast("double")) / F.log(F.lit(2.0)), 6
            ).alias("entropy_bits")
        )
        .select(
            "col_name",
            F.col("n").cast("long").alias("n_rows"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "entropy_bits",
        )
        .orderBy("col_name")
    )


@register(
    "stats_ks_drift",
    oracle="""
WITH scaled AS (
  SELECT l_returnflag AS flag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
),
bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM scaled),
b AS (
  SELECT CAST((cents - lo) * 1000 // (hi - lo + 1) AS BIGINT) AS bucket,
         SUM(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS n_r,
         SUM(CASE WHEN flag = 'N' THEN 1 ELSE 0 END) AS n_n
  FROM scaled, bounds GROUP BY 1
),
cum AS (
  SELECT hi.bucket,
         SUM(lo.n_r) AS cum_r, SUM(lo.n_n) AS cum_n
  FROM b hi JOIN b lo ON lo.bucket <= hi.bucket
  GROUP BY hi.bucket
),
tot AS (SELECT SUM(n_r) AS t_r, SUM(n_n) AS t_n FROM b),
gaps AS (
  SELECT bucket,
         abs(cum_r / CAST(t_r AS DOUBLE) - cum_n / CAST(t_n AS DOUBLE)) AS gap
  FROM cum CROSS JOIN tot
),
best AS (SELECT max(gap) AS ks FROM gaps)
SELECT (SELECT t_r FROM tot)::BIGINT AS n_r,
       (SELECT t_n FROM tot)::BIGINT AS n_n,
       round((SELECT ks FROM best), 6) AS ks_stat,
       (SELECT min(bucket) FROM gaps WHERE gap = (SELECT ks FROM best))::BIGINT
         AS argmax_bucket
""",
    eager=True,
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the R-flag and
    N-flag price distributions — the distribution-drift detector a
    training-data pipeline runs between corpus snapshots (KS > threshold =
    the new crawl's length/quality/score distribution moved; retrain or
    re-curate).

    Built scale-safe: values bucket to a FIXED 1000-cell grid with pure
    integer arithmetic (same rounding in both engines), so the CDF runs on
    a bounded table at any corpus size; the cumulative sums come from a
    triangular self-join over those ≤1000 buckets (≤5·10⁵ joined rows) —
    no global window, no single-task sort. The KS gap takes one double
    division per bucket at the end.

    (Bucketed KS is a lower bound of exact KS with error ≤ max bucket
    mass — the standard streaming/distributed formulation.)"""
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("R", "N"))
        .select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
    )
    bounds = l.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    b = (
        l.crossJoin(F.broadcast(bounds))
        .select(
            F.expr("(cents - lo) * 1000 div (hi - lo + 1)").alias("bucket"),
            F.when(F.col("flag") == "R", 1).otherwise(0).alias("is_r"),
            F.when(F.col("flag") == "N", 1).otherwise(0).alias("is_n"),
        )
        .groupBy("bucket")
        .agg(F.sum("is_r").alias("n_r"), F.sum("is_n").alias("n_n"))
        # pinned: the ≤1000-bucket table feeds both triangular-join legs
        # and the totals — one lineitem scan total
        .localCheckpoint(eager=True)
    )
    hi = b.select(F.col("bucket").alias("hb"))
    lo = b.select(F.col("bucket").alias("lb"), "n_r", "n_n")
    cum = (
        hi.join(lo, F.col("lb") <= F.col("hb"))
        .groupBy("hb")
        .agg(F.sum("n_r").alias("cum_r"), F.sum("n_n").alias("cum_n"))
    )
    tot = b.agg(F.sum("n_r").alias("t_r"), F.sum("n_n").alias("t_n"))
    # try_divide: a one-arm input (no 'N' rows, say) has t_n = 0 — the
    # oracle's x/0 is NULL so every gap (and the KS stat) is NULL; a plain
    # "/" would abort the job under ANSI instead
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        F.col("hb").alias("bucket"),
        F.abs(
            F.try_divide(F.col("cum_r"), F.col("t_r").cast("double"))
            - F.try_divide(F.col("cum_n"), F.col("t_n").cast("double"))
        ).alias("gap"),
        # totals ride along (constant per row via the broadcast tot) so the
        # final agg needs no second collect of tot
        "t_r",
        "t_n",
    )
    # ONE agg job replaces three sequential collects (tot, max gap, argmax
    # — the last two each re-evaluated the triangular join; guide §1.2):
    # max-gap and its min bucket come from one struct max — max(struct(gap,
    # -bucket)) orders by gap first, then by -bucket, so the winner carries
    # the SMALLEST bucket among maximal gaps (ties on the 1e-6-rounded gap
    # value resolve identically to the old min-where-equal pass). A NULL
    # gap (degenerate one-arm input) makes the struct's first field NULL;
    # max ignores nothing here — structs with NULL fields sort below
    # non-NULL gaps, and an all-NULL column yields a NULL-gapped winner,
    # reproducing the old best-is-None behavior.
    row = gaps.agg(
        F.max(F.struct(F.col("gap"), (-F.col("bucket")).alias("nb"))).alias("w"),
        F.first("t_r").alias("t_r"),
        F.first("t_n").alias("t_n"),
    ).collect()[0]
    tot_row = {"t_r": row["t_r"], "t_n": row["t_n"]}
    w = row["w"]
    best = None if w is None else w["gap"]
    arg = None if best is None else -w["nb"]

    def _i(x):
        return None if x is None else int(x)

    return spark.createDataFrame(
        [
            (
                _i(tot_row["t_r"]),
                _i(tot_row["t_n"]),
                None if best is None else round(float(best), 6),
                _i(arg),
            )
        ],
        "n_r long, n_n long, ks_stat double, argmax_bucket long",
    )


@register(
    "stats_mutual_information",
    oracle="""
WITH joint AS (
  SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS nxy
  FROM lineitem GROUP BY 1, 2
),
mx AS (SELECT x, SUM(nxy) AS nx FROM joint GROUP BY x),
my AS (SELECT y, SUM(nxy) AS ny FROM joint GROUP BY y),
tot AS (SELECT SUM(nxy) AS n FROM joint),
terms AS (
  SELECT CAST(round((CAST(nxy AS DOUBLE) / n)
               * ln(CAST(nxy AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny)), 6)
          AS DECIMAL(18,6)) AS term
  FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
)
SELECT (SELECT count(*) FROM joint)::BIGINT AS n_cells,
       round(CAST(SUM(term) AS DOUBLE) / ln(2.0), 6) AS mi_bits
FROM terms
""",
    eager=True,
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) in bits between returnflag and linestatus
    — the dependency statistic completing the profiling trio (entropy =
    single-column bound, correlation = linear numeric dependence, MI = ANY
    categorical dependence). High MI between columns is the signal for
    column-group co-encoding and for functional-dependency discovery.

    Parity: each p(x,y)·ln(p(x,y)/(p(x)p(y))) term rounds to 6 dp and sums
    as DECIMAL (the established round-then-decimal-sum ln pattern); counts
    are exact integers from ONE map-side-combinable joint rollup; marginals
    re-aggregate the tiny joint table.

    Scale: one shuffle to |X|·|Y| cells; everything downstream is
    broadcast-size."""
    joint = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("x"), F.col("l_linestatus").alias("y"))
        .agg(F.count("*").alias("nxy"))
        # pinned: the |X|x|Y| joint table has four consumers
        .localCheckpoint(eager=True)
    )
    mx = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = joint.agg(F.sum("nxy").alias("n"))
    terms = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("nxy").cast("double") / F.col("n"))
                * F.log(
                    F.col("nxy").cast("double")
                    * F.col("n")
                    / (F.col("nx").cast("double") * F.col("ny"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("term")
        )
    )
    n_cells = joint.count()
    return terms.agg(
        F.lit(n_cells).cast("long").alias("n_cells"),
        F.round(F.sum("term").cast("double") / F.log(F.lit(2.0)), 6).alias("mi_bits"),
    )


@register(
    "stats_spearman",
    oracle="""
WITH v AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y
  FROM lineitem
),
fx AS (SELECT x, count(*) AS c FROM v GROUP BY x),
cx AS (
  SELECT a.x, 2 * COALESCE(SUM(b.c), 0) + a.c + 1 AS r2
  FROM fx a LEFT JOIN fx b ON b.x < a.x
  GROUP BY a.x, a.c
),
fy AS (SELECT y, count(*) AS c FROM v GROUP BY y),
cy AS (
  SELECT a.y, 2 * COALESCE(SUM(b.c), 0) + a.c + 1 AS r2
  FROM fy a LEFT JOIN fy b ON b.y < a.y
  GROUP BY a.y, a.c
),
r AS (
  SELECT cx.r2 AS rx, cy.r2 AS ry
  FROM v JOIN cx USING (x) JOIN cy USING (y)
),
m AS (
  SELECT count(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
  FROM r
)
SELECT n::BIGINT AS n_rows,
       round((CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
             / sqrt((CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                  * (CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))), 6)
         AS spearman_rho
FROM m
""",
)
def stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Spearman rank correlation between quantity and discount —
    the monotone-dependence complement of stats_corr_matrix's Pearson:
    average ranks (ties share the mean rank, the textbook definition) come
    from cumulative counts over the tiny DISTINCT-VALUE tables via a
    triangular self-join (no window at all), doubled to stay integral
    (avg rank of a tie group = cum_before + (c+1)/2 →
    2·rank = 2·cum_before + c + 1), then Pearson runs on the integer
    2·ranks with exact moments and one final double expression.

    Scale: rank maps are O(distinct values) and broadcast back onto the
    scan; one moment pass, map-side combinable. At ~10⁹ rows the squared-
    rank sums outgrow int64 — the production variant switches the partials
    to per-partition centered Welford merges (same note as the corr
    matrix)."""
    v = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )

    def rank2_map(col: str):
        # cumulative counts via triangular self-join on the distinct-value
        # table (value-domain-bounded, so O(k²) is trivial) — the repo's
        # standard no-global-window cumulative
        f = v.groupBy(col).agg(F.count("*").alias("c"))
        a = f.select(F.col(col), F.col("c"))
        b = f.select(F.col(col).alias("_bv"), F.col("c").alias("_bc"))
        return (
            a.join(b, F.col("_bv") < F.col(col), "left")
            .groupBy(col, "c")
            .agg(F.coalesce(F.sum("_bc"), F.lit(0)).alias("below"))
            .select(
                col, (2 * F.col("below") + F.col("c") + 1).alias("r2")
            )
        )

    rx = rank2_map("x").withColumnRenamed("r2", "rx")
    ry = rank2_map("y").withColumnRenamed("r2", "ry")
    r = v.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    m = r.agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    n = F.col("n")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    return m.select(
        n.cast("long").alias("n_rows"),
        # constant ranks (all-tied column): zero variance → NULL rho
        F.round(
            F.try_divide(
                F.col("sxy").cast("double") / n - mx * my,
                F.sqrt(
                    (F.col("sxx").cast("double") / n - mx * mx)
                    * (F.col("syy").cast("double") / n - my * my)
                ),
            ),
            6,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch: point frequency estimates from a fixed-size sketch
# ---------------------------------------------------------------------------

_CMS_HASHES = [(0, 2654435761, 0), (1, 40503, 1299721), (2, 69621, 104729)]
_CMS_W = 64
_CMS_P = 2147483647

_CMS_ORACLE = """
WITH hashes(d, a, b) AS (VALUES (0, 2654435761, 0), (1, 40503, 1299721), (2, 69621, 104729)),
cms AS (
  SELECT d, (((l_suppkey % 2147483647) * a + b) % 2147483647) % 64 AS bucket, COUNT(*) AS cnt
  FROM lineitem CROSS JOIN hashes
  GROUP BY d, bucket
),
probes AS (
  SELECT s_suppkey, d, (((s_suppkey % 2147483647) * a + b) % 2147483647) % 64 AS bucket
  FROM supplier CROSS JOIN hashes WHERE s_suppkey <= 25
),
est AS (
  SELECT s_suppkey, MIN(COALESCE(cnt, 0)) AS est_cnt
  FROM probes LEFT JOIN cms USING (d, bucket)
  GROUP BY s_suppkey
),
truth AS (SELECT l_suppkey AS s_suppkey, COUNT(*) AS true_cnt FROM lineitem GROUP BY l_suppkey)
SELECT CAST(e.s_suppkey AS BIGINT) AS suppkey,
       CAST(COALESCE(t.true_cnt, 0) AS BIGINT) AS true_cnt,
       CAST(e.est_cnt AS BIGINT) AS est_cnt,
       CAST(e.est_cnt - COALESCE(t.true_cnt, 0) AS BIGINT) AS overcount
FROM est e LEFT JOIN truth t USING (s_suppkey)
"""


@register("stats_count_min_sketch", _CMS_ORACLE)
def stats_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimates, audited against true
    counts (CMS never underestimates, so ``overcount >= 0`` for present
    keys). The depth-3 x width-64 sketch uses deterministic multiplicative
    hashes so both engines build bit-identical sketches.

    Scale shape: the sketch build is one map-side expansion (d rows per
    input row) into a groupBy whose output is at most d*w = 192 rows —
    at 100 TB the shuffle carries only per-partition partial buckets
    (map-side combine), and the probe/min phase joins against the
    broadcast 192-row sketch. The truth join is only the audit half and
    would be dropped in production use."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")

    from btrblocks_spark.queries._distributed import hash_positions

    def buckets(key_col: str):
        return hash_positions(key_col, _CMS_HASHES, _CMS_W, prime=_CMS_P, pos_name="bucket")

    cms = (
        l.select(buckets("l_suppkey"))
        .select("h.d", "h.bucket")
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    probes = (
        s.filter(F.col("s_suppkey") <= 25)
        .select("s_suppkey", buckets("s_suppkey"))
        .select("s_suppkey", "h.d", "h.bucket")
    )
    est = (
        probes.join(F.broadcast(cms), ["d", "bucket"], "left")
        .groupBy("s_suppkey")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )
    truth = l.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.count("*").alias("true_cnt")
    )
    return est.join(F.broadcast(truth), "s_suppkey", "left").select(
        F.col("s_suppkey").cast("long").alias("suppkey"),
        F.coalesce(F.col("true_cnt"), F.lit(0)).cast("long").alias("true_cnt"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") - F.coalesce(F.col("true_cnt"), F.lit(0))).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: two-pass Misra-Gries (candidate sketch -> exact recount)
# ---------------------------------------------------------------------------

_HH_K = 128

_HH_ORACLE = f"""
SELECT CAST(user_id AS BIGINT) AS user_id, COUNT(*) AS cnt
FROM events
GROUP BY user_id
HAVING COUNT(*) > (SELECT COUNT(*) FROM events) / {_HH_K}.0
"""


def _mg_partition_fn(k: int):
    def mg(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for key in pdf["user_id"]:
                key = int(key)
                if key in counters:
                    counters[key] += 1
                elif len(counters) < k:
                    counters[key] = 1
                else:
                    # decrement-all step; drop zeroed counters
                    dead = []
                    for c in counters:
                        counters[c] -= 1
                        if counters[c] == 0:
                            dead.append(c)
                    for c in dead:
                        del counters[c]
        yield pd.DataFrame({"user_id": list(counters.keys()) or []}, dtype="int64")

    return mg


@register("stats_heavy_hitters", _HH_ORACLE, eager=True)
def stats_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (freq > n/k) via the two-pass Misra-Gries
    pattern: per-partition MG summaries (k counters, O(k) memory however
    many distinct keys a partition holds) produce a candidate superset —
    pigeonhole guarantees every globally-heavy key is locally heavy in at
    least one partition — then one exact recount of the candidates alone.

    Scale shape: at 100 TB with billions of distinct keys a plain
    groupBy-then-having shuffles every key; here pass 1 moves at most
    k rows per partition (no shuffle — the summary IS the map output) and
    pass 2's shuffle carries only candidate keys (<= k x partitions).
    The final filter makes the answer exact and partition-order
    independent, so the sketch never affects correctness."""
    e = load_table(spark, sf_dir, "events").select("user_id")
    candidates = (
        e.mapInPandas(_mg_partition_fn(_HH_K), "user_id long").distinct()
    )
    n = e.count()
    return (
        e.join(F.broadcast(candidates), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > F.lit(n) / F.lit(float(_HH_K)))
        .select(F.col("user_id").cast("long").alias("user_id"), "cnt")
    )


# ---------------------------------------------------------------------------
# OLS linear regression from exact integer sums (slope/intercept per group)
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(round(l_quantity) AS BIGINT)) AS sx,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
         SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
         SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS sxx
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
              / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)) / 100.0, 6)
         AS slope_dollars_per_unit,
       round((CAST(sy AS DOUBLE) / n
              - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n))
                * (CAST(sx AS DOUBLE) / n)) / 100.0, 6) AS intercept_dollars
FROM s
"""


@register("stats_linear_regression", _OLS_ORACLE)
def stats_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit (extendedprice ~ quantity) — the regr_slope /
    regr_intercept analytics surface, computed from EXACT scaled-integer
    sums so the distributed partial-agg order can never move a bit: the
    only FP arithmetic is a fixed scalar expression over the final BIGINT
    sums, which is IEEE-deterministic on both engines. One map-side
    combined shuffle of 5 partial sums per group — no second pass."""
    l = load_table(spark, sf_dir, "lineitem")
    qx = F.round(F.col("l_quantity")).cast("long")
    py = F.round(F.col("l_extendedprice") * 100).cast("long")
    s = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qx).alias("sx"),
        F.sum(py).alias("sy"),
        F.sum(qx * py).alias("sxy"),
        F.sum(qx * qx).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    # constant regressor (one distinct qty in a group): denominator 0 →
    # NULL slope/intercept like the oracle, never an ANSI abort
    slope = F.try_divide(sxy - sx * sy / n, sxx - sx * sx / n)
    return s.select(
        "l_returnflag",
        "n",
        F.round(slope / F.lit(100.0), 6).alias("slope_dollars_per_unit"),
        F.round((sy / n - slope * (sx / n)) / F.lit(100.0), 6).alias("intercept_dollars"),
    )


# ---------------------------------------------------------------------------
# Two-proportion A/B test (purchase conversion by user-id parity arms)
# ---------------------------------------------------------------------------

_AB_ORACLE = """
WITH arms AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
agg AS (
  SELECT arm, COUNT(*) AS n_users, SUM(converted) AS n_converted
  FROM arms GROUP BY arm
),
wide AS (
  SELECT
    MAX(CASE WHEN arm = 0 THEN n_users END) AS n0,
    CAST(MAX(CASE WHEN arm = 0 THEN n_converted END) AS BIGINT) AS c0,
    MAX(CASE WHEN arm = 1 THEN n_users END) AS n1,
    CAST(MAX(CASE WHEN arm = 1 THEN n_converted END) AS BIGINT) AS c1
  FROM agg
)
SELECT n0, c0, n1, c1,
       round(CAST(c0 AS DOUBLE) / n0, 6) AS p0,
       round(CAST(c1 AS DOUBLE) / n1, 6) AS p1,
       round((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
FROM wide
"""


@register("stats_ab_test", _AB_ORACLE)
def stats_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between user-id-parity arms on purchase
    conversion. All counts are exact integers; the z statistic is one
    scalar IEEE expression over them, so both engines agree bit-for-bit.
    Scale shape: per-user conversion is a map-side-combined groupBy on
    user_id; the arm rollup reduces to 2 rows before any scalar math."""
    e = load_table(spark, sf_dir, "events")
    arms = (
        e.groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 15
            ).cast("int").alias("converted")
        )
        .select((F.col("user_id") % 2).alias("arm"), "converted")
    )
    agg = arms.groupBy("arm").agg(
        F.count("*").alias("n_users"), F.sum("converted").alias("n_converted")
    )
    wide = agg.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c1"),
    )
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    pool = (c0 + c1) / (n0 + n1)
    return wide.select(
        "n0", "c0", "n1", "c1",
        F.round(c0 / n0, 6).alias("p0"),
        F.round(c1 / n1, 6).alias("p1"),
        # all-converted or zero-converted input: pool*(1-pool) = 0 →
        # NULL z like the oracle's x/0, never an ANSI abort
        F.round(
            F.try_divide(
                c0 / n0 - c1 / n1,
                F.sqrt(pool * (1 - pool) * (F.lit(1.0) / n0 + F.lit(1.0) / n1)),
            ),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (event_type x user-parity contingency table)
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type, user_id % 2 AS arm, COUNT(*) AS o
  FROM events GROUP BY event_type, arm
),
tot AS (SELECT SUM(o) AS n FROM cells),
rt AS (SELECT event_type, SUM(o) AS r FROM cells GROUP BY event_type),
ct AS (SELECT arm, SUM(o) AS c FROM cells GROUP BY arm),
contrib AS (
  SELECT cells.event_type AS et, cells.arm,
         (CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS x
  FROM cells JOIN rt USING (event_type) JOIN ct USING (arm) CROSS JOIN tot
),
folded AS (
  SELECT list_sort(list({'et': et, 'arm': arm, 'x': x})) AS ls,
         COUNT(*) AS n_cells,
         COUNT(DISTINCT et) AS r_levels,
         COUNT(DISTINCT arm) AS c_levels
  FROM contrib
),
tot2 AS (SELECT SUM(o) AS n FROM cells)
SELECT n_cells,
       CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS dof,
       round(list_reduce(list_transform(ls, s -> s.x), (acc, v) -> acc + v), 6) AS chi2,
       round(sqrt(list_reduce(list_transform(ls, s -> s.x), (acc, v) -> acc + v)
                  / (CAST(n AS DOUBLE)
                     * CAST(CASE WHEN r_levels < c_levels THEN r_levels ELSE c_levels END - 1
                            AS DOUBLE))), 6) AS cramers_v
FROM folded CROSS JOIN tot2
"""


@register("stats_chi_square", _CHI2_ORACLE)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test over the event_type × user-parity
    contingency table. Observed counts are exact; expected counts and cell
    contributions are scalar IEEE expressions; and the final statistic is
    a LEFT FOLD over the cells in a canonical sort order (sort_array →
    aggregate), so both engines add the same doubles in the same sequence
    — the deterministic alternative to an unordered SUM of floats.

    Scale shape: the raw table reduces to ≤ |types|×|arms| cells in one
    map-side-combined groupBy; everything after is driver-scale metadata."""
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.select("event_type", (F.col("user_id") % 2).alias("arm"))
        .groupBy("event_type", "arm")
        .agg(F.count("*").alias("o"))
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("arm").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    od, rd = F.col("o").cast("double"), F.col("r").cast("double")
    cd, nd = F.col("c").cast("double"), F.col("n").cast("double")
    exp = rd * cd / nd
    contrib = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "arm")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("event_type").alias("et"),
            "arm",
            ((od - exp) * (od - exp) / exp).alias("x"),
        )
    )
    folded = contrib.agg(
        F.sort_array(F.collect_list(F.struct("et", "arm", "x"))).alias("ls"),
        F.count("*").alias("n_cells"),
        F.countDistinct("et").alias("r_levels"),
        F.countDistinct("arm").alias("c_levels"),
    )
    tot2 = cells.agg(F.sum("o").alias("n2"))
    chi2 = F.aggregate(
        F.transform(F.col("ls"), lambda s: s.x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return folded.crossJoin(F.broadcast(tot2)).select(
        "n_cells",
        ((F.col("r_levels") - 1) * (F.col("c_levels") - 1)).cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.col("n2").cast("double")
                    * (F.least("r_levels", "c_levels") - 1).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test — nonparametric arm comparison
# ---------------------------------------------------------------------------

_MWU_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS arm, CAST(l_quantity AS BIGINT) AS x
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
),
f AS (SELECT x, COUNT(*) AS c FROM v GROUP BY x),
r AS (
  SELECT f.x, f.c, 2 * COALESCE(SUM(b.c), 0) + f.c + 1 AS r2
  FROM f LEFT JOIN f b ON b.x < f.x
  GROUP BY f.x, f.c
),
j AS (SELECT v.arm, r.r2 FROM v JOIN r ON v.x = r.x),
agg AS (
  SELECT
    SUM(CASE WHEN arm = 'R' THEN 1 ELSE 0 END) AS nr,
    SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS na,
    SUM(CASE WHEN arm = 'R' THEN r2 ELSE 0 END) AS sr2
  FROM j
),
ties AS (SELECT SUM(c * c * c - c) AS t FROM f)
SELECT CAST(nr AS BIGINT) AS nr, CAST(na AS BIGINT) AS na,
       round(CAST(sr2 - nr * (nr + 1) AS DOUBLE) / 2, 6) AS u_stat,
       round((CAST(sr2 - nr * (nr + 1) AS DOUBLE) / 2 - CAST(nr * na AS DOUBLE) / 2)
             / sqrt((CAST(nr * na AS DOUBLE) / 12)
                    * (CAST(nr + na + 1 AS DOUBLE)
                       - CAST(t AS DOUBLE)
                         / (CAST(nr + na AS DOUBLE) * CAST(nr + na - 1 AS DOUBLE)))), 6)
         AS z_score
FROM agg CROSS JOIN ties
"""


@register("stats_mann_whitney_u", _MWU_ORACLE)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (quantity distribution, returnflag R
    vs A) with the textbook tie-averaged ranks and tie-corrected normal
    approximation. Ranks come from the repo's windowless doubled-rank
    pattern (cumulative counts over the 50-value distinct table via a
    triangular self-join — no global window), so every intermediate is an
    exact integer and the statistic is one scalar IEEE expression.

    Scale: the rank map is O(distinct values), broadcast onto the scan;
    one combined moment pass. The tie-cube sum outgrows int64 around 10⁹
    rows per value — same production caveat as stats_spearman."""
    v = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("R", "A"))
        .select(
            F.col("l_returnflag").alias("arm"),
            F.col("l_quantity").cast("long").alias("x"),
        )
    )
    f = v.groupBy("x").agg(F.count("*").alias("c"))
    b = f.select(F.col("x").alias("_bx"), F.col("c").alias("_bc"))
    r = (
        f.join(b, F.col("_bx") < F.col("x"), "left")
        .groupBy("x", "c")
        .agg(F.coalesce(F.sum("_bc"), F.lit(0)).alias("below"))
        .select("x", (2 * F.col("below") + F.col("c") + 1).alias("r2"))
    )
    j = v.join(F.broadcast(r), "x")
    agg = j.agg(
        F.sum(F.when(F.col("arm") == "R", 1).otherwise(0)).alias("nr"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == "R", F.col("r2")).otherwise(0)).alias("sr2"),
    )
    ties = f.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("t")
    )
    out = agg.crossJoin(F.broadcast(ties))
    nr, na = F.col("nr"), F.col("na")
    u = (F.col("sr2") - nr * (nr + 1)).cast("double") / 2
    mean = (nr * na).cast("double") / 2
    var = ((nr * na).cast("double") / 12) * (
        (nr + na + 1).cast("double")
        # single surviving row: (nr+na-1) = 0 → NULL tie term (oracle parity)
        - F.try_divide(
            F.col("t").cast("double"),
            (nr + na).cast("double") * (nr + na - 1).cast("double"),
        )
    )
    return out.select(
        "nr", "na",
        F.round(u, 6).alias("u_stat"),
        # one-arm input (nr or na = 0): var 0 → NULL z, never an ANSI abort
        F.round(F.try_divide(u - mean, F.sqrt(var)), 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Kendall's tau-b from the joint frequency table (exact, tie-corrected)
# ---------------------------------------------------------------------------

_KENDALL_ORACLE = """
WITH v AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y
  FROM lineitem
),
cells AS (SELECT x, y, COUNT(*) AS c FROM v GROUP BY x, y),
pairs AS (
  SELECT SUM(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END) AS cc,
         SUM(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END) AS dd
  FROM cells a JOIN cells b ON b.x > a.x
),
tot AS (SELECT COUNT(*) AS n FROM v),
tx AS (SELECT SUM(cx * (cx - 1) // 2) AS t1
       FROM (SELECT x, SUM(c) AS cx FROM cells GROUP BY x)),
ty AS (SELECT SUM(cy * (cy - 1) // 2) AS t2
       FROM (SELECT y, SUM(c) AS cy FROM cells GROUP BY y))
SELECT n, CAST(cc AS BIGINT) AS cc, CAST(dd AS BIGINT) AS dd,
       round(CAST(cc - dd AS DOUBLE)
             / sqrt(CAST(n * (n - 1) // 2 - t1 AS DOUBLE)
                    * CAST(n * (n - 1) // 2 - t2 AS DOUBLE)), 6) AS tau_b
FROM pairs CROSS JOIN tot CROSS JOIN tx CROSS JOIN ty
"""


@register("stats_kendall_tau", _KENDALL_ORACLE)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Kendall tau-b between quantity and discount.
    The O(n²) pair scan collapses to the joint frequency table (≤ 550
    cells here — value-domain-bounded, not data-bounded): concordant /
    discordant pair counts are integer products over cell pairs, tie terms
    come from the marginals, and the only FP math is the final scalar.
    The int64-overflow hazard in (n0-t1)(n0-t2) is dodged by casting each
    factor to double BEFORE the product (they exceed 2^63 squared at
    sf0.1 already).

    Scale: one map-side-combined groupBy to cells, a broadcast triangular
    cell join (domain², not rows²), then driver-scale scalars."""
    v = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )
    cells = v.groupBy("x", "y").agg(F.count("*").alias("c"))
    b = cells.select(
        F.col("x").alias("_bx"), F.col("y").alias("_by"), F.col("c").alias("_bc")
    )
    pairs = (
        cells.join(F.broadcast(b), F.col("_bx") > F.col("x"))
        .agg(
            F.sum(
                F.when(F.col("_by") > F.col("y"), F.col("c") * F.col("_bc")).otherwise(0)
            ).alias("cc"),
            F.sum(
                F.when(F.col("_by") < F.col("y"), F.col("c") * F.col("_bc")).otherwise(0)
            ).alias("dd"),
        )
    )
    tot = v.agg(F.count("*").alias("n"))
    tx = (
        cells.groupBy("x").agg(F.sum("c").alias("cx"))
        .agg(F.sum(F.expr("cx * (cx - 1) div 2")).alias("t1"))
    )
    ty = (
        cells.groupBy("y").agg(F.sum("c").alias("cy"))
        .agg(F.sum(F.expr("cy * (cy - 1) div 2")).alias("t2"))
    )
    out = (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n0 = F.expr("n * (n - 1) div 2")
    return out.select(
        "n", "cc", "dd",
        F.round(
            (F.col("cc") - F.col("dd")).cast("double")
            / F.sqrt(
                (n0 - F.col("t1")).cast("double") * (n0 - F.col("t2")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Exact weighted median (windowless, value-domain cumulative)
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH f AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w,
         COUNT(*) AS c
  FROM lineitem GROUP BY x
),
cum AS (
  SELECT a.x, COALESCE(SUM(b.w), 0) + a.w AS cw, COALESCE(SUM(b.c), 0) + a.c AS cc
  FROM f a LEFT JOIN f b ON b.x < a.x
  GROUP BY a.x, a.w, a.c
),
tot AS (SELECT SUM(w) AS tw, SUM(c) AS tc FROM f)
SELECT MIN(CASE WHEN 2 * cc >= tc THEN x END) AS plain_median,
       MIN(CASE WHEN 2 * cw >= tw THEN x END) AS weighted_median,
       CAST(tc AS BIGINT) AS n_rows, CAST(tw AS BIGINT) AS total_weight_cents
FROM cum CROSS JOIN tot
GROUP BY tc, tw
"""


@register("stats_weighted_median", _WMEDIAN_ORACLE)
def stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact plain and revenue-weighted median of quantity — the order
    statistic computed WITHOUT any global sort or window: cumulative
    row/weight counts come from a triangular self-join over the distinct-
    value table (domain-bounded, 50 rows), the median is the smallest
    value whose doubled cumulative crosses the total. Every intermediate
    is an exact BIGINT.

    Scale: one map-side-combined groupBy to the value domain; the
    cumulative join is domain², independent of row count."""
    f = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("py"),
    ).groupBy("x").agg(
        F.sum("py").alias("w"), F.count("*").alias("c")
    )
    b = f.select(
        F.col("x").alias("_bx"), F.col("w").alias("_bw"), F.col("c").alias("_bc")
    )
    cum = (
        f.join(F.broadcast(b), F.col("_bx") < F.col("x"), "left")
        .groupBy("x", "w", "c")
        .agg(
            (F.coalesce(F.sum("_bw"), F.lit(0)) + F.col("w")).alias("cw"),
            (F.coalesce(F.sum("_bc"), F.lit(0)) + F.col("c")).alias("cc"),
        )
    )
    tot = f.agg(F.sum("w").alias("tw"), F.sum("c").alias("tc"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("tc", "tw")
        .agg(
            F.min(F.when(2 * F.col("cc") >= F.col("tc"), F.col("x"))).alias(
                "plain_median"
            ),
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("x"))).alias(
                "weighted_median"
            ),
        )
        .select(
            "plain_median", "weighted_median",
            F.col("tc").alias("n_rows"),
            F.col("tw").alias("total_weight_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (KMV-style min-k-by-hash sample) + exact audit
# ---------------------------------------------------------------------------


@register(
    "stats_quantile_sketch",
    oracle="""
WITH keyed AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         md5(l_orderkey || '-' || l_linenumber || '-'
             || CAST(round(l_extendedprice * 100) AS BIGINT)) AS h
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
samp AS (SELECT v FROM keyed ORDER BY h LIMIT 1024),
arr AS (SELECT list_sort(list(v)) AS vs, count(*) AS k FROM samp),
ps AS (SELECT unnest([25, 50, 75, 90, 99]) AS p),
freq AS (SELECT v, count(*) AS n FROM keyed GROUP BY v),
cum AS (
  SELECT v,
         SUM(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_n,
         SUM(n) OVER () AS total_n
  FROM freq
),
exact AS (
  SELECT p, MIN(v) AS exact_cents
  FROM cum CROSS JOIN ps
  WHERE cum_n * 100 >= p * total_n
  GROUP BY p
),
sk AS (
  SELECT p, CAST(k AS BIGINT) AS k,
         vs[CAST((p * (k - 1)) // 100 AS BIGINT) + 1] AS sketch_cents
  FROM arr CROSS JOIN ps
)
SELECT sk.p AS p, sk.k AS k,
       CAST(sk.sketch_cents AS BIGINT) AS sketch_cents,
       CAST(exact.exact_cents AS BIGINT) AS exact_cents,
       CAST(abs(sk.sketch_cents - exact.exact_cents) AS BIGINT) AS abs_err_cents
FROM sk JOIN exact ON sk.p = exact.p
""",
    eager=True,
)
def stats_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch with an in-query accuracy audit: a KMV-style
    min-k-by-hash sample (k = 1024 rows with the smallest md5 of
    (orderkey, linenumber, cents) — the value rides in the hash key so
    rows tied at the cut carry identical values and the sampled multiset
    is unambiguous) is a DETERMINISTIC uniform sample —
    set-semantics mergeable (min-k of a union is the min-k of the min-ks),
    partition-count-invariant by construction, and reproducible across
    engines (the DuckDB oracle draws the identical sample). Empirical sample
    quantiles carry DKW-bound error ~O(1/sqrt(k)); the same query computes
    exact rank-based quantiles over the reduced (value, count) table and
    reports the sketch's absolute error per percentile — the recall-audit
    pattern (`ann_recall_audit`) applied to quantiles.

    Scale: Spark executes orderBy(h).limit(k) as TakeOrderedAndProject —
    per-partition top-k heaps merged at the driver, no global sort, O(k)
    memory per task; at 100 TB that is exactly the mergeable-sketch
    topology (map-side sketches, tiny merge). The exact audit side
    collapses to distinct cents values first (the percentile-profile
    pattern), so the window runs over the reduced domain only. Everything
    reported is exact integer cents — no FP anywhere."""
    l = load_table(spark, sf_dir, "lineitem")
    # NULL prices are out of the quantile domain on BOTH sides: Spark's
    # concat_ws SKIPS a NULL component (real hash, row sampled) while
    # DuckDB's || propagates NULL (row excluded), and a NULL v would ride
    # a NULL bucket that Spark's meta window orders FIRST — inflating
    # every non-null bucket's cum_n by the null count vs DuckDB
    keyed = l.filter(F.col("l_extendedprice").isNotNull()).select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        F.md5(
            F.concat_ws(
                "-",
                "l_orderkey",
                "l_linenumber",
                F.round(F.col("l_extendedprice") * 100).cast("long"),
            )
        ).alias("h"),
    )
    k_cap = 1024
    samp = keyed.orderBy("h").limit(k_cap)
    arr = samp.agg(
        F.sort_array(F.collect_list("v")).alias("vs"),
        F.count("*").cast("long").alias("k"),
    )
    ps = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (25, 50, 75, 90, 99)])).alias("p")
    )
    sk = arr.crossJoin(F.broadcast(ps)).select(
        "p",
        "k",
        # try_element_at: an empty input (k=0) indexes an empty array —
        # NULL sketch row like the oracle, never an ANSI INVALID_ARRAY_INDEX
        F.try_element_at(
            "vs", (F.expr("(p * (k - 1)) DIV 100") + 1).cast("int")
        ).alias("sketch_cents"),
    )
    # exact side: cumulative counts over the reduced cents domain with the
    # two-phase bucketed pattern (_distributed.py) — local cum-sum per
    # 65536-cent bucket, then a driver-scale bucket-offset fixup; no
    # global window anywhere
    # the reduced (value, count) table feeds THREE branches (local cum-sum,
    # broadcast bucket meta, broadcast grand total) — pin it EAGERLY so the
    # lineitem aggregation runs once instead of once per branch; the sketch
    # side keeps its own pushed-down scan (two total passes, each columnar
    # — the right 100 TB trade vs pinning the full keyed stream). Eager,
    # not lazy: two branches are broadcast, and broadcast subtrees execute
    # as separate jobs that race ahead of a lazy checkpoint's
    # materialization (round-8; builder registered eager=True).
    freq = keyed.groupBy("v").agg(F.count("*").alias("n")).localCheckpoint(eager=True)
    b = freq.withColumn("_b", F.expr("v DIV 65536"))
    w_local = (
        Window.partitionBy("_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn("_local_cum", F.sum("n").over(w_local))
    meta = (
        b.groupBy("_b")
        .agg(F.sum("n").alias("_bn"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_bn").over(
                    Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_b", "_offset")
    )
    total = freq.agg(F.sum("n").alias("total_n"))
    cum = (
        local.join(F.broadcast(meta), "_b")
        .crossJoin(F.broadcast(total))
        .select("v", (F.col("_local_cum") + F.col("_offset")).alias("cum_n"), "total_n")
    )
    exact = (
        cum.crossJoin(F.broadcast(ps.select(F.col("p").alias("pe"))))
        .where(F.col("cum_n") * 100 >= F.col("pe") * F.col("total_n"))
        .groupBy("pe")
        .agg(F.min("v").alias("exact_cents"))
    )
    return sk.join(exact, sk.p == exact.pe).select(
        "p",
        "k",
        F.col("sketch_cents").cast("long").alias("sketch_cents"),
        F.col("exact_cents").cast("long").alias("exact_cents"),
        F.abs(F.col("sketch_cents") - F.col("exact_cents"))
        .cast("long")
        .alias("abs_err_cents"),
    )


@register(
    "stats_kmv_distinct",
    oracle="""
WITH hs AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM events
),
samp AS (SELECT h FROM hs ORDER BY h LIMIT 256),
agg AS (SELECT MAX(h) AS hk, COUNT(*) AS k FROM samp),
exact AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events)
SELECT CAST(k AS BIGINT) AS k, CAST(hk AS BIGINT) AS hk,
       round(CASE WHEN k < 256 THEN CAST(k AS DOUBLE)
                  ELSE CAST(k - 1 AS DOUBLE) * 4294967296.0 / CAST(hk AS DOUBLE)
             END, 2) AS est_distinct,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       round(abs(CASE WHEN k < 256 THEN CAST(k AS DOUBLE)
                      ELSE CAST(k - 1 AS DOUBLE) * 4294967296.0 / CAST(hk AS DOUBLE)
                 END - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
FROM agg CROSS JOIN exact
""",
)
def stats_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch with an in-query exact audit: the KMV
    (k-minimum-values) estimator over the portable 32-bit hash — keep the
    k = 256 smallest distinct hash values; the k-th smallest normalized
    hash u_k estimates the density of the hashed value set, so
    distinct ≈ (k−1)/u_k (Bar-Yossef et al. 2002, the sketch HyperLogLog
    refined). Deterministic (md5-derived hash, identical in DuckDB),
    set-mergeable (min-k of a union = min-k of min-ks), and
    partition-invariant. When the sample is not full the estimate IS the
    exact count.

    Scale: per-partition top-k heaps (TakeOrderedAndProject) after a
    map-side-combined distinct on the 4-byte hash — no full value domain
    shuffle; the audit countDistinct is the expensive exact path the
    sketch replaces at 100 TB."""
    from btrblocks_spark.pipeline.text import hash32

    e = load_table(spark, sf_dir, "events")
    k_cap = 256
    hs = e.select(hash32(F.col("user_id").cast("string")).alias("h")).distinct()
    samp = hs.orderBy("h").limit(k_cap)
    agg = samp.agg(F.max("h").alias("hk"), F.count("*").cast("long").alias("k"))
    exact = e.agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    est = F.when(F.col("k") < k_cap, F.col("k").cast("double")).otherwise(
        (F.col("k") - 1).cast("double") * F.lit(4294967296.0) / F.col("hk").cast("double")
    )
    return agg.crossJoin(F.broadcast(exact)).select(
        "k",
        F.col("hk").cast("long").alias("hk"),
        F.round(est, 2).alias("est_distinct"),
        "exact_distinct",
        F.round(
            # try_divide: on an EMPTY events table exact_distinct = 0 and
            # plain / yields IEEE NaN while DuckDB's / yields NULL — the
            # file's standing convention (see stats_ks_drift)
            F.try_divide(
                F.abs(est - F.col("exact_distinct").cast("double")),
                F.col("exact_distinct").cast("double"),
            ),
            6,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap — distributed CI for the mean
# ---------------------------------------------------------------------------

_POIS = (
    "CASE WHEN u < 0.36787944117144233 THEN 0 "
    "WHEN u < 0.7357588823428847 THEN 1 "
    "WHEN u < 0.9196986029286058 THEN 2 "
    "WHEN u < 0.9810118431238462 THEN 3 "
    "WHEN u < 0.9963401531726563 THEN 4 ELSE 5 END"
)


@register(
    "stats_bootstrap_ci",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
rep AS (
  SELECT event_type, b, cents,
         ('0x' || substr(md5(event_id || '-' || b), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM base CROSS JOIN generate_series(0, 31) AS g(b)
),
w AS (SELECT event_type, b, cents, {_POIS} AS w FROM rep),
means AS (
  SELECT event_type, b,
         round(CAST(SUM(w * cents) AS DOUBLE)
               / (CAST(SUM(w) AS DOUBLE) * 100.0), 6) AS m
  FROM w GROUP BY 1, 2 HAVING SUM(w) > 0
),
pt AS (
  SELECT event_type,
         round(CAST(SUM(cents) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 100.0), 6)
           AS mean_value,
         COUNT(*) AS n
  FROM base GROUP BY 1
),
folded AS (
  SELECT event_type, list_sort(list(m)) AS ms, COUNT(*) AS n_reps
  FROM means GROUP BY 1
)
SELECT folded.event_type AS event_type,
       CAST(pt.n AS BIGINT) AS n,
       pt.mean_value AS mean_value,
       CAST(n_reps AS BIGINT) AS n_reps,
       ms[2] AS ci_lo,
       ms[n_reps - 1] AS ci_hi
FROM folded JOIN pt ON folded.event_type = pt.event_type
""",
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap confidence interval for the per-type mean
    event value — the POISSON BOOTSTRAP (each row enters replicate b with
    multiplicity ~ Poisson(1)), the one bootstrap that runs in a single
    scan on a cluster because resample membership is decided row-locally
    with no sampling coordination. Made fully DETERMINISTIC here: the
    multiplicity comes from inverting the Poisson(1) CDF at
    u = hash32(event_id, b)/2^32 — reproducible across engines, runs, and
    partitionings. 32 replicates; the CI is the 2nd/31st sorted replicate
    mean (~93.75% interval); replicate means are exact-integer-cents
    ratios, so the only IEEE ops are one division per replicate and the
    final sort.

    Scale: the 32× fan-out is a map-side literal explode (CPU, no
    shuffle); one map-side-combinable groupBy(type, replicate) of integer
    partials; everything after is |types|·32 rows — driver-scale."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # parallelism floor (guide §2.5 — input layout as the ceiling): the
    # 32× replicate fan-out and its per-replicate md5 run INSIDE the scan
    # stage, so a small table in 1-2 files did all ~3.2M hashes on 1-2
    # tasks. When (and only when) the scan has fewer partitions than
    # cores, spread the narrow base once — a tiny shuffle of (type, id,
    # cents). At scale the scan already has thousands of partitions and
    # this branch is a no-op, so nothing is shuffled. Sums are exact
    # integers, so the re-bucketing cannot change any replicate mean.
    par = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    rep = base.select(
        "event_type",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
        F.col("event_id"),
    ).select(
        "event_type",
        "b",
        "cents",
        (
            F.conv(
                F.substring(F.md5(F.concat_ws("-", "event_id", "b")), 1, 8), 16, 10
            ).cast("long")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    w = rep.select("event_type", "b", "cents", F.expr(_POIS).alias("w"))
    means = (
        w.groupBy("event_type", "b")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("swc"), F.sum("w").alias("sw"))
        .where(F.col("sw") > 0)
        .select(
            "event_type",
            "b",
            F.round(
                F.col("swc").cast("double") / (F.col("sw").cast("double") * 100.0), 6
            ).alias("m"),
        )
    )
    pt = base.groupBy("event_type").agg(
        F.round(
            F.sum("cents").cast("double") / (F.count("*").cast("double") * 100.0), 6
        ).alias("mean_value"),
        F.count("*").cast("long").alias("n"),
    )
    folded = means.groupBy("event_type").agg(
        F.sort_array(F.collect_list("m")).alias("ms"),
        F.count("*").cast("long").alias("n_reps"),
    )
    return folded.join(pt, "event_type").select(
        "event_type",
        "n",
        "mean_value",
        "n_reps",
        # try_element_at: with < 3 surviving bootstrap replicates the CI
        # indices run off the array — NULL bounds, not an ANSI abort
        F.try_element_at("ms", F.lit(2)).alias("ci_lo"),
        F.try_element_at("ms", (F.col("n_reps") - 1).cast("int")).alias("ci_hi"),
    )


@register(
    "stats_welch_ttest",
    """
WITH v AS (
  SELECT l_returnflag AS arm, CAST(l_quantity AS BIGINT) AS x
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
),
m AS (
  SELECT arm, count(*) AS n, sum(x) AS s, sum(x * x) AS q
  FROM v GROUP BY arm
),
w AS (
  SELECT
    (SELECT n FROM m WHERE arm = 'R') AS n1,
    (SELECT n FROM m WHERE arm = 'A') AS n2,
    (SELECT CAST(s AS DOUBLE) / n FROM m WHERE arm = 'R') AS m1,
    (SELECT CAST(s AS DOUBLE) / n FROM m WHERE arm = 'A') AS m2,
    -- nullif guards: an n=1 arm zeroes (n-1); DuckDB's IEEE division
    -- would emit inf/NaN where Spark's non-ANSI mode emits NULL, so both
    -- engines are pinned to NULL on degenerate arms (fleet convention)
    (SELECT (CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)
            / nullif(n - 1, 0) FROM m WHERE arm = 'R') AS v1,
    (SELECT (CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)
            / nullif(n - 1, 0) FROM m WHERE arm = 'A') AS v2
)
SELECT n1::BIGINT AS n_r, n2::BIGINT AS n_a,
       round(m1, 6) AS mean_r, round(m2, 6) AS mean_a,
       round((m1 - m2) / nullif(sqrt(v1 / n1 + v2 / n2), 0), 6) AS t_stat,
       round(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
             / nullif(((v1 / n1) * (v1 / n1)) / nullif(n1 - 1, 0)
                + ((v2 / n2) * (v2 / n2)) / nullif(n2 - 1, 0), 0), 6)
         AS df_welch
FROM w
""",
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test (quantity, returnflag R vs A) with
    the Welch-Satterthwaite degrees of freedom — the parametric
    counterpart of stats_mann_whitney_u on the same two arms, so the two
    tests cross-check each other on one dataset.

    Determinism: n, Σx, Σx² are exact integer aggregates (quantity is a
    small integer; Σx² fits int64 far past 100 TB row counts at these
    magnitudes); mean, variance, t, and df are ONE scalar IEEE expression
    over those integers with identical association in both engines,
    rounded once (the stats_* convention).

    Scale: one map-side-combinable groupBy over 2 arms; every row after
    the first aggregation is a scalar."""
    v = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("R", "A"))
        .select(
            F.col("l_returnflag").alias("arm"),
            F.col("l_quantity").cast("long").alias("x"),
        )
    )
    m = v.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    # 2-row arm table -> one wide scalar row via a pivot-free conditional
    # aggregation (never a window, never a collect)
    g = m.agg(
        *[
            F.first(F.when(F.col("arm") == a, F.col(c)), ignorenulls=True).alias(
                f"{c}_{a}"
            )
            for a in ("R", "A")
            for c in ("n", "s", "q")
        ]
    )
    n1, n2 = F.col("n_R"), F.col("n_A")
    m1 = F.col("s_R").cast("double") / n1
    m2 = F.col("s_A").cast("double") / n2
    # try_divide on every (n-1)-class denominator: an n=1 arm must yield
    # NULL (not inf/NaN) in BOTH engines — the oracle pins the same with
    # nullif, keeping degenerate-arm parity under ANSI and non-ANSI modes
    v1 = F.try_divide(
        F.col("q_R").cast("double")
        - (F.col("s_R").cast("double") * F.col("s_R").cast("double")) / n1,
        n1 - 1,
    )
    v2 = F.try_divide(
        F.col("q_A").cast("double")
        - (F.col("s_A").cast("double") * F.col("s_A").cast("double")) / n2,
        n2 - 1,
    )
    se2_1, se2_2 = v1 / n1, v2 / n2
    return g.select(
        n1.cast("long").alias("n_r"),
        n2.cast("long").alias("n_a"),
        F.round(m1, 6).alias("mean_r"),
        F.round(m2, 6).alias("mean_a"),
        F.round(
            F.try_divide(m1 - m2, F.nullif(F.sqrt(se2_1 + se2_2), F.lit(0.0))), 6
        ).alias("t_stat"),
        F.round(
            F.try_divide(
                (se2_1 + se2_2) * (se2_1 + se2_2),
                F.try_divide(se2_1 * se2_1, n1 - 1)
                + F.try_divide(se2_2 * se2_2, n2 - 1),
            ),
            6,
        ).alias("df_welch"),
    )


@register(
    "stats_cramers_v",
    """
WITH cells AS (
  SELECT o_orderstatus AS a, o_orderpriority AS b, count(*) AS o
  FROM orders GROUP BY 1, 2
),
rt AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
ct AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
tot AS (
  SELECT sum(o) AS n, count(DISTINCT a) AS r, count(DISTINCT b) AS c
  FROM cells
),
terms AS (
  SELECT round(
           (o - (ra * cb) / CAST(n AS DOUBLE))
           * (o - (ra * cb) / CAST(n AS DOUBLE))
           / ((ra * cb) / CAST(n AS DOUBLE)), 6) AS t
  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
),
chi AS (
  SELECT CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS chi2 FROM terms
)
SELECT n::BIGINT AS n, ((r - 1) * (c - 1))::BIGINT AS dof,
       round(chi2, 6) AS chi2,
       -- nullif: a single-valued column makes least(r,c)-1 = 0; both
       -- engines must degrade to NULL, not DuckDB-IEEE inf
       round(sqrt(chi2 / nullif(n, 0) / nullif(least(r, c) - 1, 0)), 6)
         AS cramers_v
FROM chi CROSS JOIN tot
""",
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between two categorical columns
    (orderstatus × orderpriority): chi-square over the contingency table
    normalized to [0,1] by n·(min(r,c)−1) — the effect-size companion to
    stats_chi_square's test statistic and, next to
    stats_mutual_information, the second column-association signal a
    column-group encoding advisor reads.

    Determinism: cell counts and marginals are exact integers; each
    cell's (O−E)²/E is ONE IEEE expression rounded to 6 dp, summed in
    DECIMAL (partial-agg order can't move a bit), and the final V is one
    scalar expression.

    Scale: one map-side-combinable groupBy to the r×c cell table;
    marginals and the total reduce the CELLS (never the fact rows again);
    everything after is broadcast-sized."""
    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("a"), F.col("o_orderpriority").alias("b"))
        .agg(F.count("*").alias("o"))
    )
    rt = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    ct = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("a").alias("r"),
        F.countDistinct("b").alias("c"),
    )
    e = (F.col("ra") * F.col("cb")) / F.col("n").cast("double")
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 6)
    # global aggregate (never groupBy): like stats_chi_square, the result
    # must be ONE row even over an empty table — the oracle's scalar chi
    # CTE emits one NULL row there, and groupBy would emit zero
    chi = (
        cells.join(rt, "a")
        .join(ct, "b")
        .crossJoin(F.broadcast(tot))
        .select(term.cast("decimal(18,6)").alias("t"))
        .agg(F.sum("t").cast("double").alias("chi2"))
    )
    return chi.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        # chained try_divide mirrors the oracle's nullif guards: a
        # single-valued column (least(r,c)=1) degrades to NULL, not inf
        F.round(
            F.sqrt(
                F.try_divide(
                    F.try_divide(F.col("chi2"), F.col("n")),
                    F.least("r", "c") - 1,
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "stats_theil_sen",
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS y
  FROM orders GROUP BY 1
),
slopes AS (
  SELECT round(CAST(b.y - a.y AS DOUBLE) / (b.d - a.d), 6) AS slope6
  FROM daily a JOIN daily b ON a.d < b.d
),
sl AS (
  SELECT count(*) AS n_pairs, round(quantile_cont(slope6, 0.5), 6) AS sen_slope
  FROM slopes
),
ic AS (
  SELECT round(quantile_cont(
           round(y - sen_slope * (d - DATE '1970-01-01'), 6), 0.5), 6)
           AS intercept
  FROM daily CROSS JOIN sl
)
SELECT (SELECT count(*) FROM daily)::BIGINT AS n_days,
       n_pairs::BIGINT AS n_pairs, sen_slope, intercept
FROM sl CROSS JOIN ic
""",
    eager=True,
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator over the daily order-count series:
    slope = median over ALL day pairs (i < j) of (y_j − y_i)/(x_j − x_i),
    intercept = median of (y − slope·x) — the magnitude companion to
    events_trend_test's Mann-Kendall DIRECTION test (same robustness
    story: both are rank/median statistics a 29%-outlier contamination
    cannot move, unlike stats_linear_regression's least squares).

    Determinism: day counts and day deltas are exact integers; each pair
    slope and each intercept term is ONE IEEE division/expression rounded
    to 6 dp, so both engines take the median of identical value sets; the
    median itself interpolates two 6-dp values (any last-bit interpolation
    skew is 9 orders below the final 6-dp rounding).

    Scale: the pair set is CALENDAR-bounded, not row-bounded — the daily
    aggregate is O(days) (~2.6 k rows over TPC-H's 7 years, the same at
    100 TB), broadcast to a BroadcastNestedLoopJoin for the i<j pairing
    (never a shuffled cartesian), so pairs ≈ days²/2 ≈ 3 M tiny rows
    regardless of corpus size; both medians are single exact aggregates
    over those bounded sets. ``daily`` is PINNED (localCheckpoint, eager →
    eager=True registration): a/b/ic/nd reference it through four
    branches, and unpinned each branch re-derived the full orders scan
    (4 FileScans in the round-7 plan; round-8 VERDICT #2)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(F.to_date("o_orderdate").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("y"))
        .localCheckpoint(eager=True)
    )
    a = daily.select(F.col("d").alias("d1"), F.col("y").alias("y1"))
    # spread the pair generation: the pinned daily table coalesces to ONE
    # partition (it is tiny), so the BroadcastNestedLoopJoin emitted all
    # ~days²/2 pair slopes from a single task. Hash-repartitioning the
    # STREAM side by date (2.4k distinct keys over defaultParallelism
    # partitions — scale-adaptive, no local constant) fans the O(days²)
    # expression work across cores for a shuffle of only O(days) tiny rows;
    # the pair multiset (and the exact percentile over it) is unchanged.
    # Measured 2.6 s → 1.1 s for the slope aggregate at sf0.1 (guide §2.5:
    # input skew — one partition held all the work).
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2")).repartition(
        spark.sparkContext.defaultParallelism, "d2"
    )
    slopes = (
        F.broadcast(a)
        .join(b, F.col("d1") < F.col("d2"))
        .select(
            F.round(
                (F.col("y2") - F.col("y1")).cast("double")
                / F.datediff("d2", "d1"),
                6,
            ).alias("slope6")
        )
    )
    sl = slopes.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.expr("percentile(slope6, 0.5)"), 6).alias("sen_slope"),
    )
    # thread sen_slope/n_pairs THROUGH the intercept aggregate (first()
    # over the constant broadcast row) so `sl` is referenced exactly once —
    # a second reference would re-evaluate the whole O(days²) slope scan
    ic = (
        daily.crossJoin(F.broadcast(sl))
        .select(
            "n_pairs",
            "sen_slope",
            F.round(
                F.col("y")
                - F.col("sen_slope") * F.datediff("d", F.lit("1970-01-01")),
                6,
            ).alias("t"),
        )
        .agg(
            # coalesce: an empty daily table leaves first() NULL, but the
            # oracle's count(*) over zero slopes is 0
            F.coalesce(F.first("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.first("sen_slope").alias("sen_slope"),
            F.round(F.expr("percentile(t, 0.5)"), 6).alias("intercept"),
        )
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return nd.crossJoin(F.broadcast(ic)).select(
        "n_days",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "sen_slope",
        "intercept",
    )


@register(
    "stats_jackknife_group",
    """
WITH g AS (
  SELECT o_orderstatus AS grp, count(*) AS n_g,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s_g
  FROM orders GROUP BY o_orderstatus
),
tot AS (SELECT sum(n_g) AS n, sum(s_g) AS s, count(*) AS n_groups FROM g),
loo AS (
  SELECT grp, n_g,
         round(CAST(s - s_g AS DOUBLE) / nullif(n - n_g, 0) / 100, 6)
           AS theta_i
  FROM g CROSS JOIN tot
),
jb AS (
  SELECT round(CAST(sum(CAST(theta_i AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS theta_bar
  FROM loo
),
dev AS (
  SELECT CAST(round((theta_i - theta_bar) * (theta_i - theta_bar), 6)
              AS DECIMAL(18,6)) AS d2
  FROM loo CROSS JOIN jb
)
SELECT n::BIGINT AS n_rows, n_groups::BIGINT AS n_groups,
       round(CAST(s AS DOUBLE) / nullif(n, 0) / 100, 6) AS mean_price,
       round(sqrt(CAST(n_groups - 1 AS DOUBLE) / nullif(n_groups, 0)
                  * CAST((SELECT CAST(sum(d2) AS DOUBLE) FROM dev)
                         AS DOUBLE)), 6) AS jackknife_se
FROM tot
""",
    eager=True,
)
def stats_jackknife_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-group jackknife (Kott 2001, the survey-statistics standard
    error machine): the mean order price is re-estimated leaving out each
    o_orderstatus group in turn (θ_i), and SE = sqrt((G−1)/G · Σ(θ_i −
    θ̄)²) — the distribution-free standard error companion to
    stats_bootstrap_ci that needs only G re-aggregations of GROUP sums,
    never a resample pass over rows (the property that matters at 100 TB:
    the bootstrap scans the data once per replicate batch, the jackknife
    reads one tiny per-group sum table).

    Determinism: group sums are exact integer cents; every θ_i is ONE
    scalar IEEE expression over them rounded to 6 dp; the θ̄ and Σ(θ_i−θ̄)²
    reductions sum 6-dp DECIMAL(18,6) terms (order-independent); nullif
    guards pin the degenerate single-group/empty cases to NULL on both
    engines.

    Scale: one map-side-combinable groupBy to O(G) rows; everything after
    runs on the G-row table — which is PINNED (localCheckpoint, eager →
    eager=True registration) because tot/loo/jb/dev reference it through
    four branches: unpinned, each branch re-derived the full orders scan
    (5 FileScans in the round-7 plan; round-8 VERDICT #2)."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s_g"),
        )
        .localCheckpoint(eager=True)
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        F.round(
            F.try_divide(
                (F.col("s") - F.col("s_g")).cast("double"),
                F.nullif(F.col("n") - F.col("n_g"), F.lit(0)),
            )
            / 100,
            6,
        ).alias("theta_i")
    )
    jb = loo.agg(
        F.round(
            F.try_divide(
                F.sum(F.col("theta_i").cast("decimal(18,6)")).cast("double"),
                F.count(F.lit(1)),
            ),
            6,
        ).alias("theta_bar")
    )
    dev = (
        loo.crossJoin(F.broadcast(jb))
        .select(
            F.round(
                (F.col("theta_i") - F.col("theta_bar"))
                * (F.col("theta_i") - F.col("theta_bar")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("d2")
        )
        .agg(F.sum("d2").cast("double").alias("ssq"))
    )
    return tot.crossJoin(F.broadcast(dev)).select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.round(
            F.try_divide(F.col("s").cast("double"), F.nullif(F.col("n"), F.lit(0)))
            / 100,
            6,
        ).alias("mean_price"),
        F.round(
            F.sqrt(
                F.try_divide(
                    (F.col("n_groups") - 1).cast("double"),
                    F.nullif(F.col("n_groups"), F.lit(0)),
                )
                * F.col("ssq")
            ),
            6,
        ).alias("jackknife_se"),
    )


@register(
    "stats_jackknife_hash",
    """
WITH g AS (
  SELECT ('0x' || substr(md5('jk#' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           % 32 AS grp,
         count(*) AS n_g,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s_g
  FROM orders GROUP BY 1
),
tot AS (SELECT sum(n_g) AS n, sum(s_g) AS s, count(*) AS n_groups FROM g),
loo AS (
  SELECT grp, n_g,
         round(CAST(s - s_g AS DOUBLE) / nullif(n - n_g, 0) / 100, 6)
           AS theta_i
  FROM g CROSS JOIN tot
),
jb AS (
  SELECT round(CAST(sum(CAST(theta_i AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS theta_bar
  FROM loo
),
dev AS (
  SELECT CAST(round((theta_i - theta_bar) * (theta_i - theta_bar), 6)
              AS DECIMAL(18,6)) AS d2
  FROM loo CROSS JOIN jb
)
SELECT n::BIGINT AS n_rows, n_groups::BIGINT AS n_groups,
       round(CAST(s AS DOUBLE) / nullif(n, 0) / 100, 6) AS mean_price,
       round(sqrt(CAST(n_groups - 1 AS DOUBLE) / nullif(n_groups, 0)
                  * CAST((SELECT CAST(sum(d2) AS DOUBLE) FROM dev)
                         AS DOUBLE)), 6) AS jackknife_se
FROM tot
""",
    eager=True,
)
def stats_jackknife_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-group jackknife over G = 32 DETERMINISTIC HASH buckets
    (round-8 VERDICT #5): stats_jackknife_group re-aggregates by
    o_orderstatus, but a 3-point jackknife SE is statistically fragile —
    the textbook delete-a-group design (Kott 2001) uses 30-100 RANDOM
    groups. Here group membership is hash32('jk#' || o_orderkey) % 32
    (the engine's portable md5-prefix hash, identical in DuckDB), so the
    buckets are as-if-random, equal-sized in expectation, reproducible on
    any engine/partitioning, and G−1 = 31 degrees of freedom make the SE
    usable: at sf0.1 it lands within a few percent of
    stats_bootstrap_ci's interval width for the same mean, where the
    3-group variant can be off by an order of magnitude.

    Determinism/scale: exactly the stats_jackknife_group machinery — one
    map-side-combinable groupBy to O(G) integer-cent rows (PINNED:
    localCheckpoint + eager=True, tot/loo/jb/dev reference it through
    four branches), every θ_i one 6-dp IEEE expression, DECIMAL sums."""
    from btrblocks_spark.pipeline.text import hash32

    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (
                hash32(
                    F.concat(F.lit("jk#"), F.col("o_orderkey").cast("string"))
                )
                % 32
            ).alias("grp")
        )
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s_g"),
        )
        .localCheckpoint(eager=True)
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        F.round(
            F.try_divide(
                (F.col("s") - F.col("s_g")).cast("double"),
                F.nullif(F.col("n") - F.col("n_g"), F.lit(0)),
            )
            / 100,
            6,
        ).alias("theta_i")
    )
    jb = loo.agg(
        F.round(
            F.try_divide(
                F.sum(F.col("theta_i").cast("decimal(18,6)")).cast("double"),
                F.count(F.lit(1)),
            ),
            6,
        ).alias("theta_bar")
    )
    dev = (
        loo.crossJoin(F.broadcast(jb))
        .select(
            F.round(
                (F.col("theta_i") - F.col("theta_bar"))
                * (F.col("theta_i") - F.col("theta_bar")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("d2")
        )
        .agg(F.sum("d2").cast("double").alias("ssq"))
    )
    return tot.crossJoin(F.broadcast(dev)).select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.round(
            F.try_divide(F.col("s").cast("double"), F.nullif(F.col("n"), F.lit(0)))
            / 100,
            6,
        ).alias("mean_price"),
        F.round(
            F.sqrt(
                F.try_divide(
                    (F.col("n_groups") - 1).cast("double"),
                    F.nullif(F.col("n_groups"), F.lit(0)),
                )
                * F.col("ssq")
            ),
            6,
        ).alias("jackknife_se"),
    )
