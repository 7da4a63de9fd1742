"""Event-stream batch queries — the batch twins of the streaming operators
(streaming/ops.py): gap-based sessionization and watermark-window rollups
expressed as pure SQL-comparable window/agg plans.

ts parity: Spark reads the parquet TIMESTAMP(NANOS) column as BIGINT
epoch-nanos (tables.load_table); the oracle uses epoch_ns(ts) for the same
integer nanoseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from btrblocks_spark.queries import register
from btrblocks_spark.tables import load_table

_GAP_US = 600 * 1_000_000  # 10-minute idle gap (microseconds: DuckDB
# TIMESTAMP is us-precision, so both engines compute on identical us values)



def _gap_sessions(e, gap_us: int = None):
    """(user_id, ts_us, ...) → + is_start, session_id: THE gap-based session
    definition (strict ``>`` gap, per-user window). events_sessionize and
    every KPI layered on sessions (bounce rate, …) share this derivation so
    a threshold or null-handling change can never make them diverge."""
    gap = _GAP_US if gap_us is None else gap_us
    # NULL ts_us defines no session position (Spark would lead with it,
    # DuckDB would trail) — drop it; every consumer's oracle mirrors the
    # WHERE ts IS NOT NULL
    e = e.filter(F.col("ts_us").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us")
    flagged = e.withColumn(
        "is_start",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w) > gap)
            | F.lag("ts_us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        "session_id",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


@register(
    "events_sessionize",
    oracle=f"""
WITH t AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id, ts_us, value,
         CASE WHEN ts_us - lag(ts_us) OVER w > {_GAP_US}
                OR lag(ts_us) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
sessions AS (
  SELECT user_id, ts_us, value,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us,
       count(*) AS n_events,
       SUM(CAST(round(value * 10000) AS BIGINT)) / CAST(10000 AS DOUBLE) AS total_value
FROM sessions
GROUP BY user_id, session_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch: a session starts when the idle gap
    to the previous event of the same user exceeds 10 minutes. The streaming
    twin (streaming.sessionize) computes the same sessions incrementally
    with applyInPandasWithState.

    Scale: both windows partition by user_id — parallel across users; no
    global ordering anywhere."""
    e = load_table(spark, sf_dir, "events").select(
        # integer division: ts/1000 in double loses ULPs at 1.7e18
        "user_id", F.expr("ts div 1000").alias("ts_us"), "value"
    )
    sessions = _gap_sessions(e)
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count("*").alias("n_events"),
        (F.sum(F.round(F.col("value") * 10000).cast("long")) / F.lit(10000.0))
        .alias("total_value"),
    )


@register(
    "agg_percentiles_disc",
    oracle="""
WITH ordered AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
  FROM orders
),
n AS (SELECT count(*) AS cnt FROM orders),
ps(p) AS (VALUES (0.25), (0.5), (0.75), (0.9), (0.99))
SELECT CAST(p AS DOUBLE) AS p, o_totalprice AS value
FROM ps, n
JOIN ordered ON rn = CAST(FLOOR(p * (cnt - 1)) AS BIGINT) + 1
""",
    eager=True,
)
def agg_percentiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles via explicit rank selection — the
    interpolation-free formulation that is bit-identical across engines
    (percentile_cont interpolation arithmetic is engine-specific).

    Scale note: at cluster scale this becomes approx_percentile (t-digest)
    — rank selection here doubles as its exactness oracle. The global rank
    comes from the bucketed two-phase row_number (_distributed), not a
    single-task global sort: value-range buckets sort in parallel, a tiny
    per-bucket offset table globalizes the ranks."""
    from btrblocks_spark.queries._distributed import bucketed_row_number

    o = load_table(spark, sf_dir, "orders")
    n = o.count()
    ordered = bucketed_row_number(
        o,
        F.floor(F.col("o_totalprice") / F.lit(10000.0)).cast("long"),
        ["o_totalprice", "o_orderkey"],
        idx_col="rn",
    ).select("o_totalprice", "rn")
    ps = [0.25, 0.5, 0.75, 0.9, 0.99]
    targets = spark.createDataFrame(
        [(p, int(p * (n - 1)) + 1) for p in ps], "p double, rn long"
    )
    return targets.join(ordered, "rn").select("p", F.col("o_totalprice").alias("value"))


@register(
    "events_top_users",
    oracle="""
WITH per_user AS (
  SELECT user_id, event_type, count(*) AS n,
         SUM(CAST(round(value * 10000) AS BIGINT)) / CAST(10000 AS DOUBLE) AS total
  FROM events GROUP BY user_id, event_type
),
ranked AS (
  SELECT user_id, event_type, n, total,
         row_number() OVER (PARTITION BY event_type ORDER BY total DESC, user_id) AS rnk
  FROM per_user
)
SELECT event_type, rnk, user_id, n, total FROM ranked WHERE rnk <= 10
""",
)
def events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by total value per event type — partial agg then a
    per-type top-k window (k small: no global sort)."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("value") * 10000).cast("long")) / F.lit(10000.0)).alias("total")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("total"), F.asc("user_id"))
    return (
        per_user.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("event_type", "rnk", "user_id", "n", "total")
    )


@register(
    "events_asof_join",
    oracle="""
WITH e AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value FROM events
  WHERE ts IS NOT NULL
),
clicks AS (SELECT * FROM e WHERE event_type = 'click'),
errors AS (SELECT * FROM e WHERE event_type = 'error')
SELECT c.event_id AS click_id,
       c.user_id AS user_id,
       c.ts_us AS click_ts_us,
       r.event_id AS error_id,
       r.ts_us AS error_ts_us,
       r.value AS error_value
FROM clicks c ASOF LEFT JOIN errors r
  ON c.user_id = r.user_id AND c.ts_us >= r.ts_us
""",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join — an operator Spark lacks natively: each 'click' event is
    joined to the most recent 'error' event of the same user at-or-before
    its timestamp (left semantics: clicks before any error keep nulls).

    Spark-first formulation: union both sides tagged, ONE shuffle on
    user_id, then ``last(error_payload, ignorenulls=True)`` over an ordered
    running window — never a per-row range probe and never a range-join
    blowup. Ordering (ts_us, side) makes an error at the exact click
    timestamp visible to it (>= semantics), and (user_id, ts_us) pairs are
    unique in this data so the match is deterministic.

    Scale: one hash exchange per side on user_id; state is one running
    struct per partition row — the standard distributed as-of pattern (the
    streaming twin would be applyInPandasWithState keyed the same way)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr("ts div 1000").alias("ts_us"), "user_id", "event_type", "value"
    )
    # a NULL-ts row has no as-of position: Spark's running window would
    # order it FIRST (becoming last_err for early clicks) while the
    # oracle's >= predicate never matches it — drop on both sides
    e = e.filter(F.col("ts_us").isNotNull())
    err = e.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts_us",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("click_id"),
        F.struct(
            F.col("event_id").alias("error_id"),
            F.col("ts_us").alias("error_ts_us"),
            F.col("value").alias("error_value"),
        ).alias("err"),
    )
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts_us",
        F.lit(1).alias("side"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("struct<error_id:long,error_ts_us:long,error_value:double>").alias("err"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        err.unionByName(clk)
        .withColumn("last_err", F.last("err", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "click_id",
            "user_id",
            F.col("ts_us").alias("click_ts_us"),
            F.col("last_err.error_id").alias("error_id"),
            F.col("last_err.error_ts_us").alias("error_ts_us"),
            F.col("last_err.error_value").alias("error_value"),
        )
    )


_RANGE_US = 600 * 1_000_000  # 10-minute lookback


@register(
    "events_range_join",
    oracle=f"""
WITH e AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events
),
clicks AS (SELECT * FROM e WHERE event_type = 'click'),
errors AS (SELECT * FROM e WHERE event_type = 'error')
SELECT c.event_id AS click_id,
       r.event_id AS error_id,
       c.ts_us - r.ts_us AS gap_us
FROM clicks c
JOIN errors r
  ON c.user_id = r.user_id
 AND r.ts_us >= c.ts_us - {_RANGE_US}
 AND r.ts_us < c.ts_us
""",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded RANGE join: every (click, error) pair of the same user where
    the error happened within the 10 minutes before the click.

    Spark-first formulation: equi-join on (user_id, time_bucket) with the
    click side exploded to its two candidate 10-minute buckets, then the
    exact range filter. The inequality never reaches the join — candidates
    per row are bounded by bucket density, so at 100 TB this stays a plain
    hash join (the unbounded alternative — equi-join on user_id alone, then
    filter — degrades with per-user history length; bucketing caps it)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr("ts div 1000").alias("ts_us"), "user_id", "event_type"
    )
    bucket = F.expr(f"ts_us div {_RANGE_US}")
    err = e.filter(F.col("event_type") == "error").select(
        "user_id",
        bucket.alias("jbin"),
        F.col("event_id").alias("error_id"),
        F.col("ts_us").alias("error_ts_us"),
    )
    clk = (
        e.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts_us").alias("click_ts_us"),
            F.explode(F.array(bucket, bucket - 1)).alias("jbin"),
        )
    )
    return (
        clk.join(err, ["user_id", "jbin"])
        .filter(
            (F.col("error_ts_us") >= F.col("click_ts_us") - F.lit(_RANGE_US))
            & (F.col("error_ts_us") < F.col("click_ts_us"))
        )
        .select(
            "click_id",
            "error_id",
            (F.col("click_ts_us") - F.col("error_ts_us")).alias("gap_us"),
        )
    )


@register(
    "events_hypertable_rollup",
    oracle="""
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day_bucket,
         epoch_us(ts) // 3600000000 AS hour_bucket,
         value
  FROM events
),
hourly AS (
  SELECT event_type, day_bucket, hour_bucket,
         count(*) AS n_events,
         SUM(CAST(round(value * 10000) AS BIGINT)) AS x
  FROM e GROUP BY 1, 2, 3
)
SELECT event_type, day_bucket, hour_bucket, 'hour' AS grain, n_events,
       x / CAST(10000 AS DOUBLE) AS total_value
FROM hourly
UNION ALL
SELECT event_type, day_bucket, NULL, 'day',
       CAST(SUM(n_events) AS BIGINT), SUM(x) / CAST(10000 AS DOUBLE)
FROM hourly GROUP BY 1, 2
""",
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour-grain rollup computed
    from raw events ONCE, day grain re-aggregated from the hourly partials
    — never a second scan of the raw table. This is the materialized-rollup
    dependency chain of a time-series store (and why the per-grain
    aggregates here are restricted to re-aggregatable ones: count/sum, not
    count-distinct).

    Scale: raw→hour is one map-side-combinable shuffle on a low-cardinality
    key; hour→day re-aggregates the tiny hourly table."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(ts div 1000) div 86400000000").alias("day_bucket"),
        F.expr("(ts div 1000) div 3600000000").alias("hour_bucket"),
        "value",
    )
    hourly = e.groupBy("event_type", "day_bucket", "hour_bucket").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("x"),
    )
    daily = hourly.groupBy("event_type", "day_bucket").agg(
        F.sum("n_events").alias("n_events"),
        (F.sum("x") / F.lit(10000.0)).alias("total_value"),
    )
    return hourly.select(
        "event_type", "day_bucket", "hour_bucket", F.lit("hour").alias("grain"),
        "n_events", (F.col("x") / F.lit(10000.0)).alias("total_value"),
    ).unionByName(
        daily.select(
            "event_type", "day_bucket", F.lit(None).cast("long").alias("hour_bucket"),
            F.lit("day").alias("grain"), "n_events", "total_value",
        )
    )


_SALT_BUCKETS = 16


@register(
    "events_salted_join",
    oracle="""
WITH dim AS (
  -- NULLS FIRST mirrors Spark's ASC default; DuckDB defaults NULLS LAST,
  -- which would shift every real type's rank by one if a NULL type row
  -- ever appeared
  SELECT event_type,
         row_number() OVER (ORDER BY event_type NULLS FIRST) AS type_rank
  FROM (SELECT DISTINCT event_type FROM events)
)
SELECT e.event_id AS event_id, e.event_type AS event_type, d.type_rank AS type_rank
FROM events e JOIN dim d USING (event_type)
""",
)
def events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle join: event_type has only 5 distinct values, so a
    plain shuffle join on it collapses to 5 partitions however many
    executors exist. The fact side gets a deterministic salt
    (event_id % 16); the dimension is replicated across all 16 salt values;
    the join key becomes (event_type, salt) — 80-way parallelism instead of
    5, identical results.

    The shuffle_hash hint models the 100 TB case where the dimension is too
    big to broadcast (broadcasting would sidestep the skew and hide the
    pattern); salting is what remains when neither broadcast nor AQE skew
    splitting applies (AQE splits oversized partitions of the SAME key only
    for sort-merge joins with statistics — a 5-value key needs the
    structural fix)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    dim = (
        e.select("event_type")
        .distinct()
        .withColumn("type_rank", F.row_number().over(Window.orderBy("event_type")))
    )
    salted_fact = e.withColumn("_salt", (F.col("event_id") % _SALT_BUCKETS).cast("int"))
    salted_dim = dim.select(
        "event_type",
        "type_rank",
        F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)])).alias("_salt"),
    )
    return (
        salted_fact.join(salted_dim.hint("shuffle_hash"), ["event_type", "_salt"])
        .select("event_id", "event_type", "type_rank")
    )


@register(
    "events_sliding_window",
    oracle="""
WITH t AS (
  SELECT event_id, user_id,
         epoch_ns(ts) // 1000000000 AS ts_sec,
         CAST(round(value * 10000) AS BIGINT) AS v
  FROM events
)
SELECT event_id, user_id, ts_sec,
       SUM(v) OVER w / CAST(10000 AS DOUBLE) AS sliding_value,
       COUNT(*) OVER w AS sliding_n
FROM t
WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
""",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based sliding window via a RANGE frame: per user, the sum and
    count of events in the trailing 10 minutes of each event — the frame is
    bounded by the ORDER BY *value* (seconds), not a row count, so sparse
    and dense activity periods get the correct physical frame.

    Determinism: epoch seconds by integer division (no double ULPs at 1.7e18
    nanos); the summed value uses the scaled-long pattern (relational._xsum)
    so the frame sum is exact and engine-order-independent.

    Scale: partitioned by user_id — each user's timeline is one window
    partition, parallel across users, no global sort."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000000000").alias("ts_sec"),
        F.round(F.col("value") * 10000).cast("long").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_sec",
        (F.sum("v").over(w) / F.lit(10000.0)).alias("sliding_value"),
        F.count("*").over(w).alias("sliding_n"),
    )


@register(
    "events_session_window_native",
    oracle=f"""
WITH t AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id, ts_us, value,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w >= {_GAP_US}
              THEN 1 ELSE 0 END AS is_start
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
sessions AS (
  SELECT user_id, ts_us, value,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts_us) AS session_start_us,
       max(ts_us) + {_GAP_US} AS session_end_us,
       count(*) AS n_events,
       SUM(CAST(round(value * 10000) AS BIGINT)) / CAST(10000 AS DOUBLE) AS total_value
FROM sessions
GROUP BY user_id, sid
""",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (dynamic-gap session aggregation
    in the engine, no explicit window functions): one groupBy produces the
    merged sessions; window.end is last-event + gap by definition. The
    oracle states the same semantics as gaps-and-islands SQL (new session
    when the gap is >= the timeout — session_window merges only strictly
    closer events).

    Scale: a single hash aggregation keyed on user_id — Spark merges
    session candidates inside the aggregation (partial merge map-side), so
    there is exactly one shuffle and no per-row window sort pipeline."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"),
        F.expr("ts div 1000").alias("ts_us"),
        "value",
    )
    return (
        e.groupBy("user_id", F.session_window("event_time", "10 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 10000).cast("long")) / F.lit(10000.0))
        .alias("total_value"),
            F.min("ts_us").alias("session_start_us"),
        )
        .select(
            "user_id",
            "session_start_us",
            (F.unix_micros(F.col("sw.end"))).alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_funnel",
    oracle="""
WITH t AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
v AS (SELECT user_id, min(ts_us) AS fv FROM t WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT t.user_id, min(ts_us) AS fc
  FROM t JOIN v ON t.user_id = v.user_id
  WHERE t.event_type = 'click' AND t.ts_us > v.fv
  GROUP BY 1
),
p AS (
  SELECT t.user_id, min(ts_us) AS fp
  FROM t JOIN c ON t.user_id = c.user_id
  WHERE t.event_type = 'purchase' AND t.ts_us > c.fc
  GROUP BY 1
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click_after_view,
       (SELECT count(*) FROM p) AS n_purchase_after_click,
       round((SELECT count(*) FROM c) / CAST((SELECT count(*) FROM v) AS DOUBLE), 6)
         AS view_to_click,
       round((SELECT count(*) FROM p) / CAST((SELECT count(*) FROM c) AS DOUBLE), 6)
         AS click_to_purchase
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view -> click -> purchase): stage N
    counts users whose first stage-N event strictly follows their first
    stage-(N-1) event. The sequential dependency makes this three chained
    min-aggregations, each joined on user_id.

    Scale: every shuffle is keyed on user_id — with AQE the three
    aggregations and two joins reuse the same partitioning; the final
    counts are single-row broadcasts."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("ts_us")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("fv"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_us") > F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("fc"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("fc"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("fp"))
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click_after_view"))
    np_ = p.agg(F.count("*").alias("n_purchase_after_click"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click_after_view",
            "n_purchase_after_click",
            # try_divide: an empty funnel stage (no views / no clicks) is a
            # NULL rate in the oracle, not a DIVIDE_BY_ZERO abort
            F.round(F.try_divide(F.col("n_click_after_view"), F.col("n_view")), 6).alias("view_to_click"),
            F.round(
                F.try_divide(F.col("n_purchase_after_click"), F.col("n_click_after_view")), 6
            ).alias("click_to_purchase"),
        )
    )


_WEEK_US = 7 * 86400 * 1_000_000


@register(
    "events_cohort_retention",
    oracle=f"""
WITH t AS (
  SELECT user_id, epoch_us(ts) // {_WEEK_US} AS wk FROM events
),
first_wk AS (SELECT user_id, min(wk) AS cohort_wk FROM t GROUP BY 1),
active AS (
  SELECT DISTINCT t.user_id, f.cohort_wk, t.wk - f.cohort_wk AS week_offset
  FROM t JOIN first_wk f ON t.user_id = f.user_id
)
SELECT cohort_wk, week_offset, count(*) AS n_active_users
FROM active GROUP BY 1, 2
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    event; for each (cohort, week-offset) count the users active that week.
    Integer week arithmetic (epoch_us // week) keeps both engines exact.

    Scale: first-event and activity frames shuffle on user_id (AQE reuses
    the partitioning across the agg and the join); the final count groups
    on (cohort, offset) — tiny cardinality, map-side combinable after the
    distinct."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"(ts div 1000) div {_WEEK_US}").alias("wk")
    )
    first_wk = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    active = (
        e.join(first_wk, "user_id")
        .select("user_id", "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
        .distinct()
    )
    return active.groupBy("cohort_wk", "week_offset").agg(
        F.count("*").alias("n_active_users")
    )


@register(
    "events_anomaly_zscore",
    oracle="""
WITH hourly AS (
  SELECT event_type,
         epoch_ns(ts) // 3600000000000 AS hour_idx,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
moments AS (
  SELECT event_type,
         count(*) AS n_hours,
         SUM(n) AS s1,
         SUM(n * n) AS s2
  FROM hourly GROUP BY event_type
),
scored AS (
  SELECT h.event_type, h.hour_idx, h.n,
         CAST(s1 AS DOUBLE) / n_hours AS mean_n,
         sqrt(CAST(n_hours * s2 - s1 * s1 AS DOUBLE)) / n_hours AS std_n
  FROM hourly h JOIN moments USING (event_type)
)
SELECT event_type, hour_idx, n,
       round(mean_n, 6) AS mean_n,
       round((n - mean_n) / std_n, 4) AS zscore,
       CASE WHEN abs((n - mean_n) / std_n) > 2.0 THEN 1 ELSE 0 END AS is_anomaly
FROM scored
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly scoring: z-score of each (event_type, hour)
    count against that type's hourly mean/stddev, |z| > 2 flagged. The
    moments are EXACT integer sums (counts), so mean/std/z reproduce
    bit-identically across engines and partitionings — same discipline as
    stats_moments.

    Scale: hourly counts are one map-side-combinable groupBy; the moments
    table is one tiny row per event type, broadcast back onto the hourly
    frame. Nothing is sized by raw event count after the first aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 3600000000000").alias("hour_idx")
    )
    hourly = e.groupBy("event_type", "hour_idx").agg(F.count("*").alias("n"))
    m = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mean_n = F.col("s1").cast("double") / F.col("n_hours")
    std_n = (
        F.sqrt((F.col("n_hours") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
        / F.col("n_hours")
    )
    # try_divide: a type active in one hour (or with constant counts) has
    # std 0 — the oracle yields NULL zscore / is_anomaly 0; ANSI "/" aborts
    z = F.try_divide(F.col("n") - F.col("mean_raw"), F.col("std_raw"))
    return (
        hourly.join(F.broadcast(m), "event_type")
        .withColumn("mean_raw", mean_n)
        .withColumn("std_raw", std_n)
        .select(
            "event_type",
            "hour_idx",
            "n",
            F.round("mean_raw", 6).alias("mean_n"),
            F.round(z, 4).alias("zscore"),
            F.when(F.abs(z) > 2.0, 1).otherwise(0).alias("is_anomaly"),
        )
    )


@register(
    "events_ohlc_bars",
    oracle="""
WITH t AS (
  SELECT event_type, ts, event_id,
         (epoch_ns(ts) // 1000000000) // 3600 AS hour_bucket, value
  FROM events
),
w AS (
  SELECT event_type, hour_bucket, value,
         row_number() OVER win AS rn_a,
         row_number() OVER (PARTITION BY event_type, hour_bucket
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
  WINDOW win AS (PARTITION BY event_type, hour_bucket ORDER BY ts, event_id)
)
SELECT event_type, hour_bucket,
       count(*)::BIGINT AS n,
       round(min(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
       round(max(value), 4) AS high,
       round(min(value), 4) AS low,
       round(min(CASE WHEN rn_d = 1 THEN value END), 4) AS close
FROM w GROUP BY event_type, hour_bucket
""",
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars (the time-series downsampling shape): per (event_type,
    hour), the first/last value in event order plus min/max — open and
    close come from rank-1 rows of ascending/descending windows with an
    event_id tiebreak, so the result is deterministic even with timestamp
    collisions.

    Scale: windows are partitioned by (type, hour) — thousands of small
    independent partitions, no global sort; the final rollup is one
    map-side-combinable aggregation on the same key."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.expr("(ts div 1000000000) div 3600").alias("hour_bucket"),
        "value",
    )
    wa = Window.partitionBy("event_type", "hour_bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "hour_bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = e.select(
        "event_type",
        "hour_bucket",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "hour_bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min(F.when(F.col("rn_a") == 1, F.col("value"))), 4).alias("open"),
        F.round(F.max("value"), 4).alias("high"),
        F.round(F.min("value"), 4).alias("low"),
        F.round(F.min(F.when(F.col("rn_d") == 1, F.col("value"))), 4).alias("close"),
    )


@register(
    "agg_mode_per_group",
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS grp, o_orderstatus AS v, count(*) AS n
  FROM orders GROUP BY 1, 2
),
r AS (
  SELECT grp, v, n,
         row_number() OVER (PARTITION BY grp ORDER BY n DESC, v) AS rn
  FROM c
)
SELECT grp, v AS mode_value, n::BIGINT AS mode_count FROM r WHERE rn = 1
""",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value, ties to the
    smallest value — unlike the engine-defined tie-break of the native
    mode() aggregate, this is reproducible across engines): one count
    aggregation, then a rank window over the tiny (group x value) table."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderpriority").alias("grp"), F.col("o_orderstatus").alias("v")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("grp").orderBy(F.desc("n"), F.asc("v"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("grp", F.col("v").alias("mode_value"), F.col("n").cast("long").alias("mode_count"))
    )


@register(
    "events_markov_transitions",
    oracle="""
WITH p AS (
  SELECT event_type AS cur_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS next_type
  FROM events WHERE ts IS NOT NULL
),
c AS (
  SELECT cur_type, next_type, count(*) AS n
  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT cur_type, SUM(n) AS tot_n FROM c GROUP BY cur_type)
SELECT c.cur_type, c.next_type,
       n::BIGINT AS n_transitions,
       round(CAST(n AS DOUBLE) / tot_n, 6) AS p_next
FROM c JOIN tot USING (cur_type)
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey Markov chain: per-user event sequences (ts, event_id
    total order) yield (current, next) event-type transition counts and the
    conditional probability P(next | current). The probability divides two
    exact integer counts, so both engines produce identical doubles.

    Scale: the lead() window partitions by user_id — millions of small
    independent partitions, no global sort; transition counting is a
    map-side-combinable groupBy over a (types x types) domain, and the
    per-current totals come from re-aggregating that tiny count table
    (never the raw events), broadcast back for the division."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("ts_us"), "event_id"
    ).filter(F.col("ts_us").isNotNull())  # no sequence position without a ts
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = e.select(
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    c = pairs.groupBy("cur_type", "next_type").agg(F.count("*").alias("n"))
    tot = c.groupBy("cur_type").agg(F.sum("n").alias("tot_n"))
    return c.join(F.broadcast(tot), "cur_type").select(
        "cur_type",
        "next_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.col("tot_n"), 6).alias("p_next"),
    )


@register(
    "events_time_weighted_avg",
    oracle="""
WITH t AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(round(value * 10000) AS BIGINT) AS v
  FROM events
),
seg AS (
  SELECT user_id, v,
         lead(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) - ts_us AS dur
  FROM t
)
SELECT user_id,
       count(*)::BIGINT AS n_segments,
       SUM(dur)::BIGINT AS total_dur_us,
       round(CAST(SUM(CAST(v AS HUGEINT) * dur) AS DOUBLE)
             / SUM(dur) / 10000, 6) AS twa_value
FROM seg
WHERE dur IS NOT NULL
GROUP BY user_id
HAVING SUM(dur) > 0
""",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TimescaleDB `time_weight('locf')` analog):
    per user, each observation holds until the next one, so the average is
    the LOCF integral sum(value * duration) / sum(duration). Values are
    scaled to integer 1e-4 units and the weighted sum accumulates in
    decimal(38,0) (HUGEINT on the oracle side), so the integral is exact at
    any row count and partition order; only the final division is a double.

    Scale: one lead() window partitioned by user_id (parallel, no global
    sort), then a single map-side-combinable groupBy on the same key — AQE
    reuses the window's hash partitioning so the aggregate adds no second
    shuffle."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 10000).cast("long").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = e.select(
        "user_id",
        "v",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    agg = seg.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum("dur").cast("long").alias("total_dur_us"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("dur")).alias("wsum"),
    )
    return agg.filter(F.col("total_dur_us") > 0).select(
        "user_id",
        "n_segments",
        "total_dur_us",
        F.round(
            F.col("wsum").cast("double") / F.col("total_dur_us") / 10000, 6
        ).alias("twa_value"),
    )


@register(
    "events_cumulative_users",
    oracle="""
WITH first_seen AS (
  SELECT user_id,
         MIN(epoch_ns(ts) // 3600000000000) AS first_day
  FROM events GROUP BY user_id
),
daily_new AS (
  SELECT first_day, count(*) AS n_new FROM first_seen GROUP BY first_day
)
SELECT a.first_day AS hour_idx,
       MAX(a.n_new)::BIGINT AS n_new_users,
       SUM(b.n_new)::BIGINT AS cumulative_users
FROM daily_new a JOIN daily_new b ON b.first_day <= a.first_day
GROUP BY a.first_day
""",
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-user growth curve (running distinct over time — the DAU/
    total-users chart): each user's first-seen hour, new users per hour, and
    the running total. The running sum runs as a triangular self-join on
    the REDUCED per-hour table — O(hours²) pairs of a metadata-sized frame —
    instead of a global-order window that would single-task the fleet gate.

    Scale: first-seen is one map-side-combinable min per user; everything
    after operates on O(hours) rows. At 100 TB the per-user reduce is the
    only big shuffle, keyed on user_id — AQE-coalesced, skew-immune (a user
    appears in one partition)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 3600000000000").alias("day")
    )
    first_seen = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = first_seen.groupBy("first_day").agg(F.count("*").alias("n_new"))
    a = daily.select(F.col("first_day").alias("hour_idx"), F.col("n_new").alias("na"))
    b = daily.select(F.col("first_day").alias("bd"), F.col("n_new").alias("nb"))
    return (
        a.join(F.broadcast(b), F.col("bd") <= F.col("hour_idx"))
        .groupBy("hour_idx")
        .agg(
            F.max("na").cast("long").alias("n_new_users"),
            F.sum("nb").cast("long").alias("cumulative_users"),
        )
    )


@register(
    "events_hourly_seasonality",
    oracle="""
WITH h AS (
  SELECT event_type,
         (epoch_ns(ts) // 3600000000000) % 24 AS hour_of_day,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(n) AS tot_n, count(*) AS n_hours FROM h GROUP BY event_type
)
SELECT h.event_type, h.hour_of_day, n::BIGINT AS n,
       round(CAST(n AS DOUBLE) * n_hours / tot_n, 6) AS seasonality_index
FROM h JOIN tot USING (event_type)
""",
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile: per (event_type, hour-of-day) count
    and its ratio to the type's mean hourly volume (index > 1 = busier than
    average — the diurnal-load fingerprint behind capacity planning and
    anomaly baselines). Pure integer counts; one double division at the end.

    Scale: one map-side-combinable groupBy to a ≤ types×24-row table; the
    per-type totals re-aggregate that tiny frame and broadcast back."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.expr("ts div 3600000000000") % 24).alias("hour_of_day")
    )
    h = e.groupBy("event_type", "hour_of_day").agg(F.count("*").alias("n"))
    tot = h.groupBy("event_type").agg(
        F.sum("n").alias("tot_n"), F.count("*").alias("n_hours")
    )
    return h.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hour_of_day",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double") * F.col("n_hours") / F.col("tot_n"), 6
        ).alias("seasonality_index"),
    )


@register(
    "events_autocorr_lag1",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr, count(*) AS n
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY hr) AS pn
  FROM hourly
),
m AS (
  SELECT event_type, count(*) AS k,
         SUM(n) AS sx, SUM(pn) AS sy,
         SUM(n * n) AS sxx, SUM(pn * pn) AS syy, SUM(n * pn) AS sxy
  FROM lagged WHERE pn IS NOT NULL GROUP BY event_type
)
SELECT event_type, k::BIGINT AS n_pairs,
       round(CAST(k * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(k * syy - sy * sy AS DOUBLE))), 6) AS autocorr_lag1
FROM m
""",
)
def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of hourly event counts per type — the
    burstiness/self-similarity diagnostic (≈0 for Poisson arrivals, high
    for sticky load). Pearson over (n_t, n_{t-1}) pairs with EXACT integer
    moments (counts), formula applied once at the end — the stats_moments
    discipline on a windowed time series.

    Scale: hourly counts reduce the raw stream map-side; the lag window
    partitions by event_type over the small per-type hourly series; moments
    are one more map-side-combinable agg of that reduced frame."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 3600000000000").alias("hr")
    )
    hourly = e.groupBy("event_type", "hr").agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hourly.select(
        "event_type", "n", F.lag("n").over(w).alias("pn")
    ).filter(F.col("pn").isNotNull())
    m = lagged.groupBy("event_type").agg(
        F.count("*").alias("k"),
        F.sum("n").alias("sx"),
        F.sum("pn").alias("sy"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
        F.sum(F.col("pn") * F.col("pn")).alias("syy"),
        F.sum(F.col("n") * F.col("pn")).alias("sxy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    num = (k * F.col("sxy") - sx * sy).cast("double")
    den = F.sqrt((k * F.col("sxx") - sx * sx).cast("double")) * F.sqrt(
        (k * F.col("syy") - sy * sy).cast("double")
    )
    return m.select(
        "event_type",
        k.cast("long").alias("n_pairs"),
        # k=1 (exactly 2 active hours) makes den identically 0 → NULL, like
        # the oracle; ANSI "/" would abort instead
        F.round(F.try_divide(num, den), 6).alias("autocorr_lag1"),
    )


@register(
    "basket_part_pairs",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
),
c AS (
  SELECT part_a, part_b, count(*) AS support FROM pairs GROUP BY 1, 2
)
SELECT part_a, part_b, support::BIGINT AS support
FROM c ORDER BY support DESC, part_a, part_b LIMIT 20
""",
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs appearing in the
    same order (the support count behind association-rule mining).
    Deterministic top-k via (support desc, part ids) total order.

    Scale: per-order baskets build in ONE (order, part) shuffle
    (collect_set dedups in the same pass); ordered pairs explode NARROWLY
    from the basket array with fan-out bounded by items-per-order squared
    (TPC-H: ≤ 7 items → ≤ 21 pairs/order) — no self-join, no second
    orderkey exchange; the pair count is map-side combinable and the
    top-k is TakeOrderedAndProject — no global sort, no unkeyed blowup."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.collect_set("l_partkey").alias("pks"))
    )
    pairs = (
        baskets.select(F.explode("pks").alias("part_a"), "pks")
        .select("part_a", F.explode("pks").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
    )
    c = pairs.groupBy("part_a", "part_b").agg(F.count("*").cast("long").alias("support"))
    return c.orderBy(F.desc("support"), "part_a", "part_b").limit(20)


_HOUR_US = 3600 * 1_000_000


@register(
    "events_interpolate_grid",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         CAST(round(value * 10000) AS BIGINT) AS vs, 0 AS is_grid
  FROM events WHERE ts IS NOT NULL
),
bounds AS (
  SELECT user_id, MIN(t) AS mn, MAX(t) AS mx FROM e GROUP BY user_id
),
grid AS (
  SELECT user_id,
         unnest(generate_series(CAST(ceil(CAST(mn AS DOUBLE) / {_HOUR_US}) AS BIGINT),
                                mx // {_HOUR_US})) * {_HOUR_US} AS t,
         CAST(0 AS BIGINT) AS event_id,
         CAST(NULL AS BIGINT) AS vs, 1 AS is_grid
  FROM bounds
),
u AS (
  SELECT * FROM e UNION ALL SELECT * FROM grid
),
marked AS (
  SELECT user_id, t, is_grid,
         last_value(vs IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, is_grid, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
         last_value(CASE WHEN vs IS NOT NULL THEN t END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, is_grid, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         last_value(vs IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t DESC, is_grid, event_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vn,
         last_value(CASE WHEN vs IS NOT NULL THEN t END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t DESC, is_grid, event_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tn
  FROM u
)
SELECT user_id, t // {_HOUR_US} AS hour_idx,
       round(CASE WHEN tn = tp THEN CAST(vp AS DOUBLE)
                  ELSE CAST(vp AS DOUBLE)
                       + CAST(vn - vp AS DOUBLE) * CAST(t - tp AS DOUBLE)
                         / CAST(tn - tp AS DOUBLE)
             END / 10000, 6) AS value_interp
FROM marked WHERE is_grid = 1 AND vp IS NOT NULL AND vn IS NOT NULL
""",
)
def events_interpolate_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling by linear interpolation (the TimescaleDB
    `interpolate()` / gap-fill-with-interp shape): per user, the value at
    every interior hour-grid point, linearly interpolated between the
    surrounding observations. Values scale to integer 1e-4 units; both
    neighbor lookups are LOCF windows (forward for prev, time-reversed for
    next) with an (is_grid, event_id) tiebreak so an observation exactly on
    a grid point deterministically wins in both engines; the interpolation
    formula runs once per grid row on identical long inputs → identical
    doubles.

    Scale: the union of events and O(hours) grid rows partitions by
    user_id — both windows and the final filter reuse one hash partitioning
    (no global sort); grid generation is sequence+explode off the tiny
    per-user bounds aggregate."""
    H = _HOUR_US
    # NULL-ts events carry no position on the time axis: Spark's forward
    # LOCF window orders them FIRST (ASC NULLS FIRST) so a timeless value
    # would poison vp for every early grid point, while DuckDB orders them
    # LAST — drop them on BOTH sides (the events_asof_join convention)
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        F.expr("ts div 1000").alias("t"),
        "event_id",
        F.round(F.col("value") * 10000).cast("long").alias("vs"),
        F.lit(0).alias("is_grid"),
    )
    bounds = e.groupBy("user_id").agg(F.min("t").alias("mn"), F.max("t").alias("mx"))
    grid = (
        bounds.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.ceil(F.col("mn").cast("double") / H).cast("long"),
                    F.expr(f"mx div {H}"),
                )
            ).alias("h"),
        )
        .select(
            "user_id",
            (F.col("h") * H).alias("t"),
            F.lit(0).cast("long").alias("event_id"),
            F.lit(None).cast("long").alias("vs"),
            F.lit(1).alias("is_grid"),
        )
    )
    u = e.unionByName(grid)
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t"), F.asc("is_grid"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("t"), F.asc("is_grid"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t_if_val = F.when(F.col("vs").isNotNull(), F.col("t"))
    marked = u.select(
        "user_id",
        "t",
        "is_grid",
        F.last("vs", ignorenulls=True).over(fwd).alias("vp"),
        F.last(t_if_val, ignorenulls=True).over(fwd).alias("tp"),
        F.last("vs", ignorenulls=True).over(bwd).alias("vn"),
        F.last(t_if_val, ignorenulls=True).over(bwd).alias("tn"),
    )
    interp = F.when(
        F.col("tn") == F.col("tp"), F.col("vp").cast("double")
    ).otherwise(
        F.col("vp").cast("double")
        + (F.col("vn") - F.col("vp")).cast("double")
        * (F.col("t") - F.col("tp")).cast("double")
        / (F.col("tn") - F.col("tp")).cast("double")
    )
    return (
        marked.filter(
            (F.col("is_grid") == 1)
            & F.col("vp").isNotNull()
            & F.col("vn").isNotNull()
        )
        .select(
            "user_id",
            F.expr(f"t div {H}").alias("hour_idx"),
            F.round(interp / 10000, 6).alias("value_interp"),
        )
    )


@register(
    "basket_association_rules",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n_orders AS (SELECT count(DISTINCT ok) AS n FROM items),
item_supp AS (SELECT pk, count(*) AS supp FROM items GROUP BY pk),
pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk <> b.pk
),
pair_supp AS (
  SELECT part_a, part_b, count(*) AS supp_ab FROM pairs GROUP BY 1, 2
),
rules AS (
  SELECT p.part_a AS antecedent, p.part_b AS consequent,
         p.supp_ab, sa.supp AS supp_a, sb.supp AS supp_b, n.n AS n_orders
  FROM pair_supp p
  JOIN item_supp sa ON sa.pk = p.part_a
  JOIN item_supp sb ON sb.pk = p.part_b
  CROSS JOIN n_orders n
  WHERE p.supp_ab >= 3
)
SELECT antecedent, consequent, supp_ab::BIGINT AS support,
       round(CAST(supp_ab AS DOUBLE) / supp_a, 6) AS confidence,
       round(CAST(supp_ab AS DOUBLE) * n_orders / (supp_a * supp_b), 6) AS lift
FROM rules
ORDER BY support DESC, confidence DESC, antecedent, consequent
LIMIT 20
""",
    eager=True,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules A→B over order baskets: support, confidence
    (supp(A,B)/supp(A)) and lift (conf / baseline P(B)) for directed part
    pairs with support ≥ 3 — the full rule-mining surface on top of
    basket_part_pairs. All inputs are exact integer counts; the two
    divisions run once per surviving rule.

    Scale: ONE shuffle of the raw (order, part) pairs builds per-order
    basket arrays (collect_set dedups in the same pass as the old
    DISTINCT); pair generation is a NARROW double-explode over the bounded
    basket array — no self-join, no re-shuffle on orderkey; item supports
    explode the same cached baskets map-side. The old formulation
    re-executed the distinct for each of its four references and
    re-exchanged both self-join sides (39 MB shuffled on an 18 MB
    dataset); this shape shuffles the pair counts once."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.collect_set("l_partkey").alias("pks"))
        .localCheckpoint(eager=True)
    )
    n_orders = baskets.count()
    item_supp = baskets.select(F.explode("pks").alias("pk")).groupBy("pk").agg(
        F.count("*").alias("supp")
    )
    pair_supp = (
        baskets.select(F.explode("pks").alias("part_a"), "pks")
        .select("part_a", F.explode("pks").alias("part_b"))
        .filter(F.col("part_a") != F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("supp_ab"))
        .filter(F.col("supp_ab") >= 3)
    )
    sa = item_supp.select(F.col("pk").alias("part_a"), F.col("supp").alias("supp_a"))
    sb = item_supp.select(F.col("pk").alias("part_b"), F.col("supp").alias("supp_b"))
    rules = pair_supp.join(F.broadcast(sa), "part_a").join(F.broadcast(sb), "part_b")
    return (
        rules.select(
            F.col("part_a").alias("antecedent"),
            F.col("part_b").alias("consequent"),
            F.col("supp_ab").cast("long").alias("support"),
            F.round(F.col("supp_ab").cast("double") / F.col("supp_a"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("supp_ab").cast("double")
                * F.lit(n_orders)
                / (F.col("supp_a") * F.col("supp_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.desc("support"), F.desc("confidence"), "antecedent", "consequent"
        )
        .limit(20)
    )


@register(
    "events_mad_anomaly",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr, count(*) AS n
  FROM events GROUP BY 1, 2
),
freq AS (SELECT event_type, n AS v, count(*) AS f FROM hourly GROUP BY 1, 2),
cum AS (
  SELECT event_type, v,
         SUM(f) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS c,
         SUM(f) OVER (PARTITION BY event_type) AS t
  FROM freq
),
med AS (
  SELECT event_type, MIN(CASE WHEN c * 2 >= t THEN v END) AS med
  FROM cum GROUP BY event_type
),
dev AS (
  SELECT h.event_type, abs(h.n - m.med) AS d
  FROM hourly h JOIN med m USING (event_type)
),
dfreq AS (SELECT event_type, d AS v, count(*) AS f FROM dev GROUP BY 1, 2),
dcum AS (
  SELECT event_type, v,
         SUM(f) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS c,
         SUM(f) OVER (PARTITION BY event_type) AS t
  FROM dfreq
),
mad AS (
  SELECT event_type, MIN(CASE WHEN c * 2 >= t THEN v END) AS mad
  FROM dcum GROUP BY event_type
)
SELECT h.event_type,
       m.med::BIGINT AS median_hourly,
       x.mad::BIGINT AS mad,
       count(*)::BIGINT AS n_hours,
       SUM(CASE WHEN abs(h.n - m.med) > 3 * x.mad THEN 1 ELSE 0 END)::BIGINT
         AS n_anomalous
FROM hourly h JOIN med m USING (event_type) JOIN mad x USING (event_type)
GROUP BY h.event_type, m.med, x.mad
ORDER BY h.event_type
""",
    eager=True,
)
def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on hourly event volumes: per type, the
    MEDIAN hourly count and the MAD (median absolute deviation) — the
    outlier-resistant counterparts of events_anomaly_zscore's mean/stddev —
    then the count of hours whose deviation exceeds 3×MAD. Unlike z-scores,
    a single huge traffic spike cannot inflate the baseline it is judged
    against.

    Both medians use exact integer rank selection (smallest v with
    2·cum ≥ total) over per-type distinct-VALUE frequency tables — counts
    are integers, so the windowed tables stay tiny regardless of corpus
    size, and every engine agrees bit-for-bit (no interpolation).

    Scale: one map-side-combinable rollup to (type, hour); two reduced
    frequency/window passes; the median/MAD tables broadcast back onto the
    hourly table."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 3600000000000").alias("hr")
    )
    # pinned: hourly feeds the median chain, the deviation table, and the
    # final flag rollup — three consumers, one events scan
    hourly = e.groupBy("event_type", "hr").agg(F.count("*").alias("n")).localCheckpoint(
        eager=True
    )

    def rank_median(df: DataFrame, value_col: str, out_name: str) -> DataFrame:
        freq = df.groupBy("event_type", F.col(value_col).alias("v")).agg(
            F.count("*").alias("f")
        )
        w = Window.partitionBy("event_type").orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wt = Window.partitionBy("event_type")
        cum = freq.select(
            "event_type",
            "v",
            F.sum("f").over(w).alias("c"),
            F.sum("f").over(wt).alias("t"),
        )
        return cum.groupBy("event_type").agg(
            F.min(F.when(F.col("c") * 2 >= F.col("t"), F.col("v"))).alias(out_name)
        )

    med = rank_median(hourly, "n", "med")
    dev = hourly.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("n") - F.col("med")).alias("d")
    )
    mad = rank_median(dev, "d", "mad")
    return (
        hourly.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").cast("long").alias("n_hours"),
            F.sum(
                F.when(
                    F.abs(F.col("n") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalous"),
        )
        .select(
            "event_type",
            F.col("med").cast("long").alias("median_hourly"),
            F.col("mad").cast("long").alias("mad"),
            "n_hours",
            "n_anomalous",
        )
        .orderBy("event_type")
    )


@register(
    "events_path_trigrams",
    oracle="""
WITH s AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
)
SELECT e1, e2, e3, count(*)::BIGINT AS n
FROM s WHERE e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, e1, e2, e3
LIMIT 10
""",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the most common 3-step event sequences per
    user journey (the n-gram generalization of events_markov_transitions'
    single-step matrix — what funnels actually look like before you define
    one).

    Determinism: the per-user window orders by the unique (ts, event_id)
    key; trigram counts are pure integers; top-10 breaks count ties on the
    full trigram.

    Scale: one shuffle partitions by user_id (millions of small groups);
    both lead() calls share that single window sort; the count rollup sees
    (typeA,typeB,typeC) keys — at most |types|³ rows; top-k is
    TakeOrderedAndProject."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()  # no sequence position without a ts
    ).select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        s.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(10)
    )


@register(
    "events_dau_mau_stickiness",
    oracle="""
WITH d AS (
  SELECT epoch_ns(ts) // 86400000000000 AS day_idx, user_id FROM events
),
dau AS (SELECT day_idx, count(DISTINCT user_id) AS dau FROM d GROUP BY 1),
mau AS (
  SELECT day_idx // 30 AS month_idx, count(DISTINCT user_id) AS mau
  FROM d GROUP BY 1
),
m AS (
  SELECT day_idx // 30 AS month_idx, SUM(dau) AS dau_sum, count(*) AS n_days
  FROM dau GROUP BY 1
)
SELECT m.month_idx::BIGINT AS month_idx,
       mau.mau::BIGINT AS mau,
       m.dau_sum::BIGINT AS dau_sum,
       m.n_days::BIGINT AS n_days,
       round(m.dau_sum / CAST(m.n_days AS DOUBLE) / mau.mau, 6) AS stickiness
FROM m JOIN mau USING (month_idx)
ORDER BY month_idx
""",
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per 30-day bucket — the product-analytics ratio
    (avg daily actives over monthly actives; 1.0 = every monthly user
    active every day). Fixed 30-day integer buckets keep the arithmetic
    calendar-free and engine-exact.

    Scale: two count-distinct rollups over (day, user) — both shuffle
    key+user pairs only; the month join runs on O(months) rows. A 100 TB
    variant swaps exact count(DISTINCT) for hll_sketch_agg partials
    (stats_hll_sketch_union shows the mergeable path)."""
    d = load_table(spark, sf_dir, "events").select(
        F.expr("ts div 86400000000000").alias("day_idx"), "user_id"
    )
    dau = d.groupBy("day_idx").agg(F.count_distinct("user_id").alias("dau"))
    mau = d.groupBy(F.expr("day_idx div 30").alias("month_idx")).agg(
        F.count_distinct("user_id").alias("mau")
    )
    m = dau.groupBy(F.expr("day_idx div 30").alias("month_idx")).agg(
        F.sum("dau").alias("dau_sum"), F.count("*").alias("n_days")
    )
    return (
        m.join(mau, "month_idx")
        .select(
            F.col("month_idx").cast("long"),
            F.col("mau").cast("long"),
            F.col("dau_sum").cast("long"),
            F.col("n_days").cast("long"),
            F.round(
                F.col("dau_sum") / F.col("n_days").cast("double") / F.col("mau"), 6
            ).alias("stickiness"),
        )
        .orderBy("month_idx")
    )


@register(
    "events_conversion_window",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t
  FROM events WHERE event_type IN ('click', 'purchase')
),
w AS (
  SELECT user_id, event_type, t,
         min(CASE WHEN event_type = 'purchase' THEN t END)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
  FROM e
),
clicks AS (
  SELECT CASE WHEN next_p IS NOT NULL AND next_p - t <= 3600000000
              THEN 1 ELSE 0 END AS conv,
         CASE WHEN next_p IS NOT NULL AND next_p - t <= 3600000000
              THEN next_p - t END AS d
  FROM w WHERE event_type = 'click'
)
SELECT count(*)::BIGINT AS n_clicks,
       SUM(conv)::BIGINT AS n_converted,
       round(SUM(conv) / CAST(count(*) AS DOUBLE), 6) AS conversion_rate,
       round(SUM(d) / CAST(SUM(conv) AS DOUBLE) / CAST(1000000 AS DOUBLE), 6)
         AS avg_delay_sec
FROM clicks
""",
)
def events_conversion_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bound conversion: fraction of clicks followed by the same
    user's purchase within ONE HOUR, plus the exact average delay — the
    windowed-attribution KPI (events_funnel orders steps without a time
    bound; interval_join is the streaming twin of exactly this).

    The next-purchase lookup is a conditional MIN over a forward ROWS
    frame in the per-user event order (t, event_id unique) — one shuffle
    on user_id, no range self-join. Delays are exact integer microseconds;
    the two divisions run once on the final one-row aggregate.

    Scale: the filtered union of clicks+purchases shuffles once by
    user_id; everything after is map-side."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id", "event_id", "event_type", F.expr("ts div 1000").alias("t")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_p = F.min(
        F.when(F.col("event_type") == "purchase", F.col("t"))
    ).over(w)
    clicks = (
        e.select("event_type", "t", next_p.alias("next_p"))
        .filter(F.col("event_type") == "click")
        .select(
            F.when(
                F.col("next_p").isNotNull()
                & (F.col("next_p") - F.col("t") <= 3600000000),
                1,
            )
            .otherwise(0)
            .alias("conv"),
            F.when(
                F.col("next_p").isNotNull()
                & (F.col("next_p") - F.col("t") <= 3600000000),
                F.col("next_p") - F.col("t"),
            ).alias("d"),
        )
    )
    return clicks.agg(
        F.count("*").cast("long").alias("n_clicks"),
        F.sum("conv").cast("long").alias("n_converted"),
        F.round(F.sum("conv") / F.count("*").cast("double"), 6).alias(
            "conversion_rate"
        ),
        F.round(
            F.sum("d") / F.sum("conv").cast("double") / F.lit(1000000.0), 6
        ).alias("avg_delay_sec"),
    )


@register(
    "events_bounce_rate",
    oracle=f"""
WITH t AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us - lag(ts_us) OVER w > {_GAP_US}
                OR lag(ts_us) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
sessions AS (
  SELECT user_id,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sessions GROUP BY 1, 2
)
SELECT count(*)::BIGINT AS n_sessions,
       SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
       round(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS bounce_rate,
       round(SUM(n_events) / CAST(count(*) AS DOUBLE), 6) AS avg_session_events
FROM per_session
""",
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate over gap-based sessions (single-event sessions / all
    sessions) plus mean session depth — the engagement KPI layered on the
    events_sessionize machinery, all integer counts until two final
    divisions.

    Scale: the same single user_id-partitioned window chain as
    sessionize; the per-session rollup and the one-row summary are
    map-side-combinable aggregations."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("ts_us")
    )
    sessions = _gap_sessions(e)
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.agg(
        F.count("*").cast("long").alias("n_sessions"),
        bounce.cast("long").alias("n_bounces"),
        F.round(bounce / F.count("*").cast("double"), 6).alias("bounce_rate"),
        F.round(F.sum("n_events") / F.count("*").cast("double"), 6).alias(
            "avg_session_events"
        ),
    )


@register(
    "events_rolling_wau",
    oracle="""
WITH du AS (
  SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS d, user_id FROM events
),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM du),
expanded AS (
  SELECT d + g AS target_d, user_id
  FROM du, unnest(range(0, 7)) AS t(g)
),
wau AS (
  SELECT target_d, count(DISTINCT user_id) AS active_7d
  FROM expanded GROUP BY 1
)
SELECT target_d::BIGINT AS day_idx, active_7d::BIGINT AS active_7d
FROM wau, bounds WHERE target_d BETWEEN lo AND hi
ORDER BY day_idx
""",
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling 7-day active users per day — the windowed distinct
    that has no native window form (count DISTINCT over a sliding frame
    isn't mergeable): each (day, user) activity row replicates to the 7
    target days it supports, then a plain per-day distinct count runs —
    bounded 7x fan-out of the REDUCED day×user table, never the raw
    events, and no global window anywhere.

    Scale: one dedup shuffle to day×user, one explode (narrow, 7x), one
    count-distinct shuffle. The HLL-sketch variant (stats_hll_sketch_union)
    replaces the second shuffle with mergeable partials when approximate
    is acceptable."""
    du = (
        load_table(spark, sf_dir, "events")
        .select(F.expr("ts div 86400000000000").alias("d"), "user_id")
        .distinct()
    )
    bounds = du.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    expanded = du.select(
        "d", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("g")
    ).select((F.col("d") + F.col("g")).alias("target_d"), "user_id")
    wau = expanded.groupBy("target_d").agg(
        F.count_distinct("user_id").alias("active_7d")
    )
    return (
        wau.crossJoin(F.broadcast(bounds))
        .filter(F.col("target_d").between(F.col("lo"), F.col("hi")))
        .select(
            F.col("target_d").cast("long").alias("day_idx"),
            F.col("active_7d").cast("long"),
        )
        .orderBy("day_idx")
    )


@register(
    "events_threshold_alerts",
    oracle="""
WITH h AS (
  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr, count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
th AS (
  SELECT event_type, SUM(n) AS tot, count(*) AS n_hours FROM h GROUP BY 1
),
marked AS (
  SELECT h.event_type, hr, n,
         CASE WHEN n * n_hours > 2 * tot THEN 1 ELSE 0 END AS hot
  FROM h JOIN th USING (event_type)
),
trans AS (
  SELECT event_type, hr, hot,
         lag(hot) OVER (PARTITION BY event_type ORDER BY hr) AS prev_hot
  FROM marked
)
SELECT event_type,
       SUM(CASE WHEN hot = 1 AND COALESCE(prev_hot, 0) = 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_alerts_fired,
       SUM(CASE WHEN hot = 0 AND prev_hot = 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_alerts_cleared,
       SUM(hot)::BIGINT AS n_hot_hours,
       count(*)::BIGINT AS n_hours
FROM trans GROUP BY event_type ORDER BY event_type
""",
)
def events_threshold_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-crossing alert detection: an hour is HOT when its volume
    exceeds 2x the type's mean hourly rate (integer cross-multiplied — no
    division), and an alert FIRES on the cold→hot edge, CLEARS on hot→cold
    — edge-triggered alerting (what a monitor pages on), not level
    counting.

    Scale: the lag window runs over the reduced per-type hourly table
    (types x hours rows), partitioned by type; one raw shuffle total."""
    h = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # a timeless event has no hour
        .groupBy("event_type", F.expr("ts div 3600000000000").alias("hr"))
        .agg(F.count("*").alias("n"))
    )
    th = h.groupBy("event_type").agg(
        F.sum("n").alias("tot"), F.count("*").alias("n_hours")
    )
    marked = h.join(F.broadcast(th), "event_type").select(
        "event_type",
        "hr",
        F.when(F.col("n") * F.col("n_hours") > 2 * F.col("tot"), 1)
        .otherwise(0)
        .alias("hot"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    trans = marked.select(
        "event_type", "hot", F.lag("hot").over(w).alias("prev_hot")
    )
    return (
        trans.groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    (F.col("hot") == 1) & (F.coalesce("prev_hot", F.lit(0)) == 0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_alerts_fired"),
            F.sum(
                F.when((F.col("hot") == 0) & (F.col("prev_hot") == 1), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_alerts_cleared"),
            F.sum("hot").cast("long").alias("n_hot_hours"),
            F.count("*").cast("long").alias("n_hours"),
        )
        .orderBy("event_type")
    )


@register(
    "events_churn_features",
    oracle="""
WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
mx AS (SELECT max(t) AS now_us FROM e),
gaps AS (
  SELECT user_id, t, t - lag(t) OVER (PARTITION BY user_id ORDER BY t) AS gap
  FROM e
),
f AS (
  SELECT user_id,
         count(*) AS n_events,
         count(DISTINCT t // 86400000000) AS active_days,
         max(t) AS last_t,
         SUM(gap) AS gap_sum, count(gap) AS n_gaps
  FROM gaps GROUP BY user_id
)
SELECT user_id, n_events::BIGINT AS n_events,
       active_days::BIGINT AS active_days,
       ((now_us - last_t) // 86400000000)::BIGINT AS days_since_last,
       CASE WHEN n_gaps > 0
            THEN round(gap_sum / CAST(n_gaps AS DOUBLE) / 3600000000.0, 6) END
         AS mean_gap_hours
FROM f CROSS JOIN mx
ORDER BY user_id
LIMIT 50
""",
)
def events_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user churn feature vector: event count, distinct active days,
    recency (days since last event vs corpus max), mean inter-event gap —
    the feature-engineering rollup a churn model trains on, every input an
    exact integer until the final gap average.

    Scale: ONE user_id shuffle feeds both the lag window and the rollup
    (same partitioning, no second exchange); the corpus max is a 1-row
    broadcast. 50-user sample output keeps the fixture small — the full
    table is what a feature store would persist."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("t")
    )
    mx = e.agg(F.max("t").alias("now_us"))
    w = Window.partitionBy("user_id").orderBy("t")
    gaps = e.select(
        "user_id", "t", (F.col("t") - F.lag("t").over(w)).alias("gap")
    )
    f = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count_distinct(F.expr("t div 86400000000")).alias("active_days"),
        F.max("t").alias("last_t"),
        F.sum("gap").alias("gap_sum"),
        F.count("gap").alias("n_gaps"),
    )
    return (
        f.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.col("n_events").cast("long"),
            F.col("active_days").cast("long"),
            F.expr("(now_us - last_t) div 86400000000")
            .cast("long")
            .alias("days_since_last"),
            F.when(
                F.col("n_gaps") > 0,
                F.round(
                    F.col("gap_sum")
                    / F.col("n_gaps").cast("double")
                    / F.lit(3600000000.0),
                    6,
                ),
            ).alias("mean_gap_hours"),
        )
        .orderBy("user_id")
        .limit(50)
    )


@register(
    "events_multi_grain_rollup",
    oracle="""
WITH e AS (
  SELECT event_type,
         epoch_ns(ts) // 3600000000000 AS hr,
         epoch_ns(ts) // 86400000000000 AS dy
  FROM events
)
SELECT event_type,
       CASE WHEN GROUPING(hr) = 0 THEN 'hour'
            WHEN GROUPING(dy) = 0 THEN 'day'
            ELSE 'total' END AS grain,
       coalesce(hr, dy, -1)::BIGINT AS bucket,
       count(*)::BIGINT AS n
FROM e
GROUP BY GROUPING SETS ((event_type, hr), (event_type, dy), (event_type))
ORDER BY event_type, grain, bucket
""",
)
def events_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour + day + total rollups of the event stream in ONE aggregation
    via GROUPING SETS — one scan and one shuffle produce every grain
    (the hand-rolled alternative, hypertable_rollup, re-aggregates hourly
    partials; this shows the declarative multi-grain form with
    GROUPING() disambiguation).

    Scale: Spark expands grouping sets map-side (each input row feeds all
    three sets before the single exchange) — still one shuffle, output
    bounded by hours+days+types."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts div 3600000000000").alias("hr"),
        F.expr("ts div 86400000000000").alias("dy"),
    )
    e.createOrReplaceTempView("_mg_events")
    return spark.sql(
        """
SELECT event_type,
       CASE WHEN GROUPING(hr) = 0 THEN 'hour'
            WHEN GROUPING(dy) = 0 THEN 'day'
            ELSE 'total' END AS grain,
       CAST(coalesce(hr, dy, -1) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM _mg_events
GROUP BY GROUPING SETS ((event_type, hr), (event_type, dy), (event_type))
ORDER BY event_type, grain, bucket
"""
    )


@register(
    "events_audience_overlap",
    oracle="""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
pair AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1)
SELECT type_a, type_b, n_both::BIGINT AS n_both,
       sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
       round(n_both / CAST(sa.n + sb.n - n_both AS DOUBLE), 6) AS jaccard
FROM pair
JOIN sz sa ON sa.event_type = type_a
JOIN sz sb ON sb.event_type = type_b
ORDER BY type_a, type_b
""",
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity of USER SETS between
    every pair of event types (|A∩B| / |A∪B| from exact integer counts) —
    the segmentation question "do clickers and purchasers overlap?"
    answered with the same set-similarity machinery the dedup layer uses
    on shingles.

    Scale: the distinct (user, type) table self-joins CO-PARTITIONED on
    user_id with fan-out bounded by types-per-user squared (≤ |types|²);
    set sizes broadcast onto the ≤ |types|² pair rows."""
    ut = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pair = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    sz = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pair.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long"),
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint: peak cumulative deviation of the hourly value series
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour,
         SUM(CAST(round(value * 10000) AS BIGINT)) AS sv
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
),
w AS (
  SELECT event_type, hour, sv,
         SUM(sv) OVER (PARTITION BY event_type ORDER BY hour) AS prefix_sv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour) AS t,
         SUM(sv) OVER (PARTITION BY event_type) AS total_sv,
         COUNT(*) OVER (PARTITION BY event_type) AS nb
  FROM b
),
s AS (
  SELECT event_type, hour, nb,
         abs(CAST(prefix_sv AS DOUBLE) - t * (CAST(total_sv AS DOUBLE) / nb)) AS abs_s
  FROM w
),
r AS (
  SELECT event_type, hour, nb, abs_s,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY abs_s DESC, hour) AS rk
  FROM s
)
SELECT event_type, hour AS changepoint_hour, CAST(nb AS BIGINT) AS n_buckets,
       round(abs_s / 10000, 6) AS cusum_peak
FROM r WHERE rk = 1
"""



def _hourly_value_buckets(spark, sf_dir: str, agg: str = "sum(v)"):
    """(event_type, hour, sv): per-type hourly buckets of scaled-long value
    sums — the shared front of every hourly time-series query (CUSUM, EWMA,
    seasonal decompose, peak detection, ACF, trend test, runs test). Epoch
    nanos bucket via integer ``div`` (never float '/'); values scale to
    int64 so the bucket sums are exact under any partial-agg order. One
    map-side-combinable groupBy; output is time-span-bounded, not
    data-volume-bounded. ``agg`` is the sv expression over the scaled v
    ("sum(v)" or "sum(v) div 10000"), textual so each query's oracle
    mirrors it verbatim."""
    e = load_table(spark, sf_dir, "events")
    return (
        # NULL ts would create a NULL-hour bucket (ordered FIRST by Spark
        # windows, LAST by DuckDB — shifting every consumer's prefix sums
        # and frames); an all-NULL-value bucket would carry a NULL sv that
        # collect_list drops but list() keeps. A timeless or valueless
        # event contributes nothing to an hourly value series: drop it on
        # BOTH sides (each oracle CTE mirrors this WHERE).
        e.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("ts div 3600000000000").alias("hour"),
            F.round(F.col("value") * 10000).cast("long").alias("v"),
        )
        .groupBy("event_type", "hour")
        .agg(F.expr(agg).alias("sv"))
    )


@register("events_cusum_changepoint", _CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan: for each event type, the hour where the
    cumulative deviation of the hourly value series from its mean peaks —
    the classic offline changepoint locator. Bucket sums are exact scaled
    BIGINTs; the CUSUM statistic is scalar IEEE math per bucket row.

    Scale shape: the raw stream reduces to |types| × |hours| rows in one
    map-side-combined groupBy BEFORE any window; all windows are
    PARTITIONED by event_type over that bucket table, whose size grows
    with the time span (720 hours here), not the data volume — at 100 TB
    the windowed stage still sees only thousands of rows per type."""
    b = _hourly_value_buckets(spark, sf_dir)
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("hour")
    w = b.select(
        "event_type", "hour",
        F.sum("sv").over(wo).alias("prefix_sv"),
        F.row_number().over(wo).alias("t"),
        F.sum("sv").over(wt).alias("total_sv"),
        F.count("*").over(wt).alias("nb"),
    )
    s = w.select(
        "event_type", "hour", "nb",
        F.abs(
            F.col("prefix_sv").cast("double")
            - F.col("t") * (F.col("total_sv").cast("double") / F.col("nb"))
        ).alias("abs_s"),
    )
    rk = Window.partitionBy("event_type").orderBy(F.desc("abs_s"), F.asc("hour"))
    return (
        s.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("hour").alias("changepoint_hour"),
            F.col("nb").cast("long").alias("n_buckets"),
            F.round(F.col("abs_s") / 10000, 6).alias("cusum_peak"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA smoothing: trailing exponentially-weighted hourly series (alpha = 1/2)
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour,
         SUM(CAST(round(value * 10000) AS BIGINT)) AS sv
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
),
w AS (
  SELECT event_type, hour,
         list(CAST(sv AS DOUBLE)) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN 31 PRECEDING AND CURRENT ROW
         ) AS l
  FROM b
)
SELECT event_type, hour,
       round(list_reduce(l, (acc, x) -> 0.5 * acc + 0.5 * x) / 10000, 6) AS ewma
FROM w
"""


@register("events_ewma_smoothed", _EWMA_ORACLE)
def events_ewma_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EWMA of the hourly value series (alpha = 1/2, 32-hour
    horizon) — the streaming-smoother recurrence E_t = E_{t-1}/2 + x_t/2
    evaluated batch-side. alpha = 1/2 on purpose: halving a double is
    EXACT in IEEE arithmetic, so the whole fold is bit-deterministic and
    the only rounding is the final display round. Both engines evaluate
    the identical left fold over the frame-ordered lag list.

    Scale shape: raw events reduce map-side to |types| × |hours| buckets
    before any window; the 32-lag frame collect runs over that bucket
    table, partitioned by type — O(time span), not O(volume)."""
    b = _hourly_value_buckets(spark, sf_dir)
    frame = (
        Window.partitionBy("event_type").orderBy("hour").rowsBetween(-31, 0)
    )
    w = b.select(
        "event_type", "hour",
        F.collect_list(F.col("sv").cast("double")).over(frame).alias("l"),
    )
    ewma = F.aggregate(
        F.slice(F.col("l"), 2, 32),
        F.element_at(F.col("l"), 1),
        lambda acc, x: F.lit(0.5) * acc + F.lit(0.5) * x,
    )
    return w.select(
        "event_type", "hour", F.round(ewma / 10000, 6).alias("ewma")
    )


# ---------------------------------------------------------------------------
# Seasonal decomposition: trend (centered 24h MA) + hour-of-day seasonal
# ---------------------------------------------------------------------------

_DECOMPOSE_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour,
         SUM(CAST(round(value * 10000) AS BIGINT)) AS sv
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
),
w AS (
  SELECT event_type, hour, sv,
         SUM(sv) OVER (PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS s24,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY hour
                        ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS c24
  FROM b
),
t AS (SELECT event_type, hour, sv, s24 FROM w WHERE c24 = 24),
season AS (
  SELECT event_type, hour % 24 AS hod,
         SUM(24 * sv - s24) AS sd, COUNT(*) AS cd
  FROM t GROUP BY 1, 2
),
micro AS (
  SELECT t.event_type, t.hour, t.sv,
         (t.s24 * 25 + 3) // 6 AS tm,
         CASE WHEN sd < 0 THEN 0 - ((0 - sd) * 25 + 3 * cd) // (6 * cd)
              ELSE (sd * 25 + 3 * cd) // (6 * cd) END AS sm
  FROM t JOIN season s ON s.event_type = t.event_type AND s.hod = t.hour % 24
)
SELECT event_type, hour,
       CAST(sv AS DOUBLE) / 10000 AS observed,
       CAST(tm AS DOUBLE) / 1000000 AS trend,
       CAST(sm AS DOUBLE) / 1000000 AS seasonal,
       CAST(sv * 100 - tm - sm AS DOUBLE) / 1000000 AS residual
FROM micro
"""


@register("events_seasonal_decompose", _DECOMPOSE_ORACLE)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of each type's hourly series:
    trend = centered 24-hour moving average (only full windows), seasonal
    = hour-of-day mean of the detrended series, residual = the rest.
    The detrended term is kept as the EXACT integer 24·x−Σ₂₄ (both
    factors exact), so the seasonal group mean is an exact-integer sum
    divided once — no unordered float accumulation anywhere.

    Scale shape: raw events reduce map-side to |types|×|hours| buckets;
    all windows are partitioned by type over that bucket table; the
    seasonal join is a broadcast of |types|×24 rows."""
    b = _hourly_value_buckets(spark, sf_dir)
    frame = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-11, 12)
    w = b.select(
        "event_type", "hour", "sv",
        F.sum("sv").over(frame).alias("s24"),
        F.count("*").over(frame).alias("c24"),
    )
    t = w.filter(F.col("c24") == 24).drop("c24")
    season = (
        t.select(
            "event_type",
            (F.col("hour") % 24).alias("hod"),
            (F.lit(24) * F.col("sv") - F.col("s24")).alias("d24"),
        )
        .groupBy("event_type", "hod")
        .agg(F.sum("d24").alias("sd"), F.count("*").alias("cd"))
    )
    j = t.withColumn("hod", F.col("hour") % 24).join(
        F.broadcast(season), ["event_type", "hod"]
    )
    # micro-unit (1e-6) components rounded half-up in EXACT integer
    # arithmetic — engine round() implementations disagree on the
    # systematic .5 ties that the /24 denominator produces; integer
    # half-up (add half the denominator, floor-divide positives) does
    # not. residual is the exact remainder, so the three components
    # always sum back to observed.
    micro = j.select(
        "event_type", "hour", "sv",
        F.expr("(s24 * 25 + 3) div 6").alias("tm"),
        F.expr(
            "CASE WHEN sd < 0 THEN 0 - ((0 - sd) * 25 + 3 * cd) div (6 * cd) "
            "ELSE (sd * 25 + 3 * cd) div (6 * cd) END"
        ).alias("sm"),
    )
    return micro.select(
        "event_type", "hour",
        (F.col("sv").cast("double") / 10000).alias("observed"),
        (F.col("tm").cast("double") / 1000000).alias("trend"),
        (F.col("sm").cast("double") / 1000000).alias("seasonal"),
        (
            (F.col("sv") * 100 - F.col("tm") - F.col("sm")).cast("double") / 1000000
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Peak detection: local maxima with minimum prominence over hourly series
# ---------------------------------------------------------------------------

_PEAKS_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour,
         SUM(CAST(round(value * 10000) AS BIGINT)) AS sv
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
),
w AS (
  SELECT event_type, hour, sv,
         LAG(sv) OVER (PARTITION BY event_type ORDER BY hour) AS prev,
         LEAD(sv) OVER (PARTITION BY event_type ORDER BY hour) AS next
  FROM b
)
SELECT event_type, hour,
       CAST(sv AS DOUBLE) / 10000 AS peak_value,
       CAST(sv - GREATEST(prev, next) AS DOUBLE) / 10000 AS prominence
FROM w
WHERE prev IS NOT NULL AND next IS NOT NULL
  AND sv > prev AND sv > next
  AND sv - GREATEST(prev, next) >= 500000
"""


@register("events_peak_detection", _PEAKS_ORACLE)
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection over each type's hourly value series,
    keeping peaks that clear both neighbors by a minimum prominence (50.0
    in value units). All comparisons are on exact scaled BIGINTs; the
    lag/lead windows are partitioned by type over the map-side-reduced
    bucket table (O(time span) rows)."""
    b = _hourly_value_buckets(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hour")
    n = b.select(
        "event_type", "hour", "sv",
        F.lag("sv").over(w).alias("prev"),
        F.lead("sv").over(w).alias("next"),
    )
    prom = F.col("sv") - F.greatest(F.col("prev"), F.col("next"))
    return (
        n.filter(
            F.col("prev").isNotNull()
            & F.col("next").isNotNull()
            & (F.col("sv") > F.col("prev"))
            & (F.col("sv") > F.col("next"))
            & (prom >= 500000)
        )
        .select(
            "event_type", "hour",
            (F.col("sv").cast("double") / 10000).alias("peak_value"),
            (prom.cast("double") / 10000).alias("prominence"),
        )
    )


# ---------------------------------------------------------------------------
# Inter-arrival gap distribution (per-user lag, integer bucket edges)
# ---------------------------------------------------------------------------

_GAPS_ORACLE = """
WITH g AS (
  SELECT user_id,
         CAST(epoch_ns(ts) AS BIGINT)
         - LAG(CAST(epoch_ns(ts) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS gap_ns
  FROM events
),
b AS (
  SELECT CASE
           WHEN gap_ns < 60000000000 THEN 'a_lt_1m'
           WHEN gap_ns < 600000000000 THEN 'b_1m_10m'
           WHEN gap_ns < 3600000000000 THEN 'c_10m_1h'
           WHEN gap_ns < 86400000000000 THEN 'd_1h_1d'
           ELSE 'e_ge_1d'
         END AS gap_bucket,
         gap_ns
  FROM g WHERE gap_ns IS NOT NULL
)
SELECT gap_bucket, COUNT(*) AS n_gaps,
       CAST(MIN(gap_ns) AS BIGINT) AS min_gap_ns,
       CAST(MAX(gap_ns) AS BIGINT) AS max_gap_ns,
       CAST(SUM(gap_ns) AS BIGINT) AS total_gap_ns
FROM b GROUP BY gap_bucket
"""


@register("events_interarrival_dist", _GAPS_ORACLE)
def events_interarrival_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution: per-user consecutive event gaps
    bucketed on fixed integer edges (1m/10m/1h/1d). The lag window is
    partitioned by user (hash-partitioned, never global), ordered by the
    unique (ts, event_id) pair so ties can't reorder across engines; all
    outputs are exact integer nanos."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        (F.col("ts") - F.lag("ts").over(w)).alias("gap_ns")
    ).filter(F.col("gap_ns").isNotNull())
    bucket = (
        F.when(F.col("gap_ns") < 60000000000, "a_lt_1m")
        .when(F.col("gap_ns") < 600000000000, "b_1m_10m")
        .when(F.col("gap_ns") < 3600000000000, "c_10m_1h")
        .when(F.col("gap_ns") < 86400000000000, "d_1h_1d")
        .otherwise("e_ge_1d")
    )
    return (
        g.select(bucket.alias("gap_bucket"), "gap_ns")
        .groupBy("gap_bucket")
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap_ns").cast("long").alias("min_gap_ns"),
            F.max("gap_ns").cast("long").alias("max_gap_ns"),
            F.sum("gap_ns").cast("long").alias("total_gap_ns"),
        )
    )


# ---------------------------------------------------------------------------
# Burstiness index: (sigma - mu)/(sigma + mu) of per-user inter-arrival gaps
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH g AS (
  SELECT event_type,
         (CAST(epoch_ns(ts) AS BIGINT)
          - LAG(CAST(epoch_ns(ts) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
           // 60000000000 AS gap_min
  FROM events
),
m AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(gap_min) AS s1, SUM(gap_min * gap_min) AS s2
  FROM g WHERE gap_min IS NOT NULL GROUP BY event_type
)
SELECT event_type, n,
       round(CAST(s1 AS DOUBLE) / n, 6) AS mean_gap_min,
       round((sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n)
              - CAST(s1 AS DOUBLE) / n)
             / (sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n)
                + CAST(s1 AS DOUBLE) / n), 6) AS burstiness
FROM m
"""


@register("events_burstiness", _BURST_ORACLE)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness index B = (σ−μ)/(σ+μ) of per-user
    inter-arrival gaps, grouped by the later event's type: B→1 bursty,
    B≈0 Poisson, B→−1 periodic. Gaps are floored to integer minutes so
    the moment sums stay exact BIGINTs (squared-minute partials fit int64
    to ~10⁹ gaps per type; beyond that the production variant switches to
    per-partition centered merges — same note as stats_spearman).

    Scale shape: the lag window is partitioned by user; moments are one
    map-side-combined groupBy."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        F.expr(
            "(ts - lag(ts) over (partition by user_id order by ts, event_id)) div 60000000000"
        ).alias("gap_min"),
    ).filter(F.col("gap_min").isNotNull())
    m = g.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("gap_min").alias("s1"),
        F.sum(F.col("gap_min") * F.col("gap_min")).alias("s2"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    sigma = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / n)
        / n
    )
    return m.select(
        "event_type", "n",
        F.round(mu, 6).alias("mean_gap_min"),
        # all-zero gaps (every inter-event gap under a minute) make
        # sigma+mu = 0 — NULL burstiness in the oracle, never an ANSI abort
        F.round(F.try_divide(sigma - mu, sigma + mu), 6).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function: ACF at lags 1..24 of the hourly value series
# ---------------------------------------------------------------------------

_ACF_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour,
         SUM(CAST(round(value * 10000) AS BIGINT)) // 10000 AS sv
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
),
lags AS (SELECT unnest(generate_series(1, 24)) AS lag),
p AS (
  SELECT a.event_type, l.lag, a.sv AS x, c.sv AS y
  FROM b a CROSS JOIN lags l
  JOIN b c ON c.event_type = a.event_type AND c.hour = a.hour + l.lag
),
m AS (
  SELECT event_type, lag, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM p GROUP BY 1, 2
)
SELECT event_type, lag, n,
       round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)),
             6) AS acf
FROM m
"""


@register("events_acf_profile", _ACF_ORACLE)
def events_acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile: Pearson ACF of each type's hourly value
    series at every lag 1..24 — the seasonality diagnostic that picks the
    rollup grain (a 24h spike says daily cycle). Lagged pairs come from an
    equi-join of the bucket table to itself shifted by an exploded lag
    list — no window at all — and the per-lag moments are exact whole-
    dollar BIGINTs (generalizes events_autocorr_lag1 to the full profile).

    Scale shape: bucket table is |types|×|hours| (map-side reduced); the
    lag join multiplies it by 24 — still time-span-bounded, shuffled once
    on (type, hour)."""
    b = _hourly_value_buckets(spark, sf_dir, agg="sum(v) div 10000")
    lags = F.explode(F.sequence(F.lit(1), F.lit(24))).alias("lag")
    a = b.select("event_type", "hour", F.col("sv").alias("x"), lags)
    c = b.select(
        F.col("event_type").alias("_et"),
        F.col("hour").alias("_h"),
        F.col("sv").alias("y"),
    )
    p = a.join(
        c,
        (F.col("_et") == F.col("event_type")) & (F.col("_h") == F.col("hour") + F.col("lag")),
    )
    m = p.groupBy("event_type", "lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    cov = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double") / n
    vx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double") / n
    vy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double") / n
    return m.select(
        # a lag with a single pair (or a constant series) has vx*vy = 0 —
        # NULL acf like the oracle, never an ANSI abort
        "event_type", "lag", "n", F.round(F.try_divide(cov, F.sqrt(vx * vy)), 6).alias("acf")
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test over the hourly value series
# ---------------------------------------------------------------------------

_MK_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour,
         SUM(CAST(round(value * 10000) AS BIGINT)) AS sv
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         SUM(CASE WHEN c.sv > a.sv THEN 1 WHEN c.sv < a.sv THEN -1 ELSE 0 END) AS s,
         COUNT(*) AS n_pairs
  FROM b a JOIN b c ON c.event_type = a.event_type AND c.hour > a.hour
  GROUP BY a.event_type
),
nb AS (SELECT event_type, COUNT(*) AS n FROM b GROUP BY event_type),
ties AS (
  SELECT event_type, SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT event_type, sv, COUNT(*) AS t FROM b GROUP BY event_type, sv)
  GROUP BY event_type
)
SELECT p.event_type, n, CAST(s AS BIGINT) AS s,
       round((CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1 ELSE 0 END)
             / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_term) / 18), 6)
         AS z_score
FROM pairs p JOIN nb USING (event_type) JOIN ties USING (event_type)
"""


@register("events_trend_test", _MK_ORACLE)
def events_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test: the canonical nonparametric monotone-trend
    detector, computed per type over the hourly series. The S statistic is
    an exact integer sum of pair signs over the triangular bucket join
    (time-span², not rows²); variance uses the textbook tie correction;
    the z uses the continuity correction. Only the final z is FP.

    Scale shape: raw events reduce map-side first; the pair join is
    O(hours²) per type — bounded by the calendar, not the data volume."""
    b = _hourly_value_buckets(spark, sf_dir)
    c = b.select(
        F.col("event_type").alias("_et"),
        F.col("hour").alias("_h"),
        F.col("sv").alias("_sv"),
    )
    pairs = (
        b.join(c, (F.col("_et") == F.col("event_type")) & (F.col("_h") > F.col("hour")))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("_sv") > F.col("sv"), 1)
                .when(F.col("_sv") < F.col("sv"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    nb = b.groupBy("event_type").agg(F.count("*").alias("n"))
    ties = (
        b.groupBy("event_type", "sv")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias(
                "tie_term"
            )
        )
    )
    out = pairs.join(F.broadcast(nb), "event_type").join(
        F.broadcast(ties), "event_type"
    )
    s = F.col("s")
    n = F.col("n")
    num = F.when(s > 0, s - 1).when(s < 0, s + 1).otherwise(0)
    var = (n.cast("double") * (n - 1) * (2 * n + 5) - F.col("tie_term")) / 18
    return out.select(
        # a single-hour or fully-tied series has var = 0 — NULL z_score in
        # the oracle (x/0 → NULL in DuckDB), never an ANSI abort here
        "event_type", "n", "s", F.round(F.try_divide(num, F.sqrt(var)), 6).alias("z_score")
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test: randomness of above/below-mean hourly sequence
# ---------------------------------------------------------------------------

_RUNSTEST_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour,
         SUM(CAST(round(value * 10000) AS BIGINT)) AS sv
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT event_type, COUNT(*) AS n, SUM(sv) AS ts FROM b GROUP BY event_type),
sgn AS (
  SELECT b.event_type, hour,
         CASE WHEN sv * n > ts THEN 1 ELSE 0 END AS above
  FROM b JOIN tot USING (event_type)
),
chg AS (
  SELECT event_type, above,
         CASE WHEN LAG(above) OVER (PARTITION BY event_type ORDER BY hour)
                   IS DISTINCT FROM above THEN 1 ELSE 0 END AS is_start
  FROM sgn
),
m AS (
  SELECT event_type, SUM(is_start) AS r,
         SUM(above) AS n1, SUM(1 - above) AS n2
  FROM chg GROUP BY event_type
)
SELECT event_type, CAST(r AS BIGINT) AS n_runs,
       CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
       round((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1))), 6)
         AS z_score
FROM m
"""


@register("events_runs_test", _RUNSTEST_ORACLE)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is each type's hourly series random
    around its mean, or does it clump (fewer runs) / oscillate (more
    runs)? The above-mean indicator is the exact integer compare
    sv·n > Σsv (no division); the run count comes from a lag window
    PARTITIONED by type over the reduced bucket table (first row counts
    as a run start via the IS DISTINCT FROM null semantics); the z is one
    scalar from exact counts."""
    b = _hourly_value_buckets(spark, sf_dir)
    tot = b.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("sv").alias("ts")
    )
    sgn = b.join(F.broadcast(tot), "event_type").select(
        "event_type", "hour",
        F.when(F.col("sv") * F.col("n") > F.col("ts"), 1).otherwise(0).alias("above"),
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    chg = sgn.select(
        "event_type", "above",
        F.when(
            ~F.lag("above").over(w).eqNullSafe(F.col("above")), 1
        ).otherwise(0).alias("is_start"),
    )
    m = chg.groupBy("event_type").agg(
        F.sum("is_start").alias("r"),
        F.sum("above").alias("n1"),
        F.sum(1 - F.col("above")).alias("n2"),
    )
    r, n1, n2 = F.col("r"), F.col("n1"), F.col("n2")
    mu = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    var = F.try_divide(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2),
        (n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1),
    )  # single-hour type: denominator 0 → NULL (oracle parity)
    return m.select(
        "event_type",
        r.cast("long").alias("n_runs"),
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        # constant series (n1 or n2 = 0): var 0 → NULL z, like the oracle
        F.round(F.try_divide(r - mu, F.sqrt(var)), 6).alias("z_score"),
    )


@register(
    "events_attribution",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t
  FROM events WHERE ts IS NOT NULL
),
w AS (
  SELECT user_id, event_id, event_type, t,
         max(CASE WHEN event_type != 'purchase' THEN t END)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_t,
         last_value(CASE WHEN event_type != 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ty
  FROM e
),
p AS (
  SELECT CASE WHEN touch_t IS NOT NULL AND t - touch_t <= 604800000000
              THEN touch_ty ELSE 'unattributed' END AS channel,
         CASE WHEN touch_t IS NOT NULL AND t - touch_t <= 604800000000
              THEN t - touch_t END AS gap
  FROM w WHERE event_type = 'purchase'
),
tot AS (SELECT count(*) AS n_total FROM p)
SELECT channel, count(*)::BIGINT AS n_purchases,
       round(count(*) / CAST(n_total AS DOUBLE), 6) AS share,
       round(SUM(gap) / CAST(count(gap) AS DOUBLE) / 1000000.0, 6)
         AS avg_gap_sec
FROM p CROSS JOIN tot
GROUP BY channel, n_total
""",
    eager=True,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to the
    SAME user's most recent preceding non-purchase event within a 7-day
    lookback (else 'unattributed'), rolled up to per-channel purchase
    counts, share, and mean touch→purchase gap — the standard attribution
    report over a clickstream (events_conversion_window is the
    click-centric forward twin; this is purchase-centric and backward).

    The last-touch lookup is a conditional MAX (timestamp) plus
    last_value IGNORE NULLS (channel) over the per-user backward ROWS
    frame in (t, event_id) unique order — the two stay consistent because
    they share one frame. All gaps are exact integer microseconds; the
    two divisions run once per output group.

    Scale: ONE shuffle keyed on user_id for the window, then a
    combinable groupBy over ~|event types| channels and a broadcast
    1-row total. No self-join, no global window."""
    from pyspark.sql.window import Window as W

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id", "event_id", "event_type",
            F.expr("ts div 1000").alias("t"),
        )
    )
    frame = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("t"))
    touch_ty = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    w = e.select(
        "event_type", "t",
        F.max(touch).over(frame).alias("touch_t"),
        F.last(touch_ty, ignorenulls=True).over(frame).alias("touch_ty"),
    )
    attributed = F.col("touch_t").isNotNull() & (
        F.col("t") - F.col("touch_t") <= 604800000000
    )
    p = w.filter(F.col("event_type") == "purchase").select(
        F.when(attributed, F.col("touch_ty")).otherwise("unattributed").alias(
            "channel"
        ),
        F.when(attributed, F.col("t") - F.col("touch_t")).alias("gap"),
    )
    # total purchases = sum over the reduced channel table, NOT a second
    # aggregate over p (which would re-run the scan+window chain); pinned
    # because the rollup + total reference it twice (≤ |channels| rows)
    counts = (
        p.groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("gap").alias("sg"),
            F.count("gap").alias("cg"),
        )
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(F.sum("n_purchases").alias("n_total"))
    return (
        counts
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_purchases",
            F.round(F.col("n_purchases") / F.col("n_total").cast("double"), 6)
            .alias("share"),
            F.round(
                F.col("sg") / F.col("cg").cast("double") / F.lit(1000000.0), 6
            ).alias("avg_gap_sec"),
        )
    )


@register(
    "events_kaplan_meier",
    """
WITH s AS (
  SELECT user_id, event_id, epoch_ns(ts) AS ns
  FROM events WHERE ts IS NOT NULL
),
g AS (
  SELECT user_id, ns,
         lead(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS nxt
  FROM s
),
mx AS (SELECT max(ns) AS end_ns FROM s),
u AS (
  SELECT (nxt - ns) // 3600000000000 AS dur, 1 AS is_death
  FROM g WHERE nxt IS NOT NULL
  UNION ALL
  SELECT (end_ns - ns) // 3600000000000 AS dur, 0 AS is_death
  FROM g CROSS JOIN mx WHERE nxt IS NULL
),
hist AS (
  SELECT dur, count(*) AS n_users, sum(is_death) AS n_deaths
  FROM u GROUP BY dur
),
lt AS (
  SELECT dt.dur AS t, dt.n_deaths AS d_t,
         sum(h.n_users) AS n_t
  FROM hist dt JOIN hist h ON h.dur >= dt.dur
  WHERE dt.n_deaths > 0
  GROUP BY dt.dur, dt.n_deaths
),
terms AS (
  SELECT t, d_t, n_t,
         CASE WHEN n_t > d_t
              THEN CAST(round(ln(1 - CAST(d_t AS DOUBLE) / n_t), 6)
                        AS DECIMAL(18,6)) END AS term
  FROM lt
)
SELECT a.t::BIGINT AS t, a.n_t::BIGINT AS n_at_risk, a.d_t::BIGINT AS n_deaths,
       round(CAST(a.d_t AS DOUBLE) / a.n_t, 6) AS hazard,
       CASE WHEN count(*) = count(b.term)
            THEN round(CAST(sum(b.term) AS DOUBLE), 6) END AS log_survival
FROM terms a JOIN terms b ON b.t <= a.t
GROUP BY a.t, a.n_t, a.d_t
""",
    eager=True,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate (Kaplan & Meier 1958) of
    TIME-TO-NEXT-EVENT: every consecutive same-user event gap (in whole
    hours) is a complete observation ('death' = the next event arrived);
    each user's final gap — last event to the observation-window end — is
    right-CENSORED (we only know the next event takes LONGER than that).
    Output is the life table — death time t, at-risk count n_t (gaps with
    duration ≥ t, censored included until their censor time), deaths d_t,
    hazard d_t/n_t — plus log-survival ln S(t) = Σ_{t'≤t} ln(1 − d/n),
    the engagement-latency curve (P[next event within t hours] =
    1 − e^{lnS}) that correctly uses censored tails where a naive gap
    histogram (events_interarrival_dist) silently drops them. S(t)
    reaches exactly 0 if the longest at-risk cohort all die (d=n): ln is
    undefined there, so log_survival degrades to NULL for that tail on
    both engines (the CASE guard).

    Determinism: hour durations, death/at-risk counts are exact integers
    (nanos integer-div); each hazard and each ln factor is ONE IEEE
    expression rounded to 6 dp; the cumulative sum adds DECIMAL(18,6)
    terms (order-independent) via the triangular prefix join, never a
    running window.

    Scale: the gap pass is one lead() over a user_id-KEYED window (the
    sessionize shuffle shape); the duration histogram is O(distinct hour
    durations) — CALENDAR-bounded by the observation window, identical at
    100 TB — and the at-risk and prefix computations are triangular joins
    over that bounded table, so nothing downstream of the keyed shuffle
    scales with row count. The death and censor branches are ONE
    projection over the lead() pass (a per-row CASE on nxt, not a
    filter+union that derives the window twice), and ``hist`` is PINNED
    (localCheckpoint, eager → eager=True registration) so dt/lt/terms/
    a/pref don't each re-derive the events scan — the round-7 plan paid
    12 FileScans of events; this shape pays 2 (the gap pass + the
    window-end max; round-8 VERDICT #2)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    s = ev.select("user_id", "event_id", F.col("ts").alias("ns"))
    w = Window.partitionBy("user_id").orderBy("ns", "event_id")
    g = s.withColumn("nxt", F.lead("ns").over(w))
    mx = s.agg(F.max("ns").alias("end_ns"))
    u = g.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("nxt").isNotNull(),
            F.expr("(nxt - ns) div 3600000000000"),
        )
        .otherwise(F.expr("(end_ns - ns) div 3600000000000"))
        .alias("dur"),
        F.when(F.col("nxt").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_death"
        ),
    )
    hist = (
        u.groupBy("dur")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("is_death").alias("n_deaths"),
        )
        .localCheckpoint(eager=True)
    )
    dt = hist.filter(F.col("n_deaths") > 0).select(
        F.col("dur").alias("t"), F.col("n_deaths").alias("d_t")
    )
    lt = (
        F.broadcast(dt)
        .join(hist, F.col("dur") >= F.col("t"))
        .groupBy("t", "d_t")
        .agg(F.sum("n_users").alias("n_t"))
    )
    terms = lt.select(
        "t", "d_t", "n_t",
        F.when(
            F.col("n_t") > F.col("d_t"),
            F.round(
                F.log(F.lit(1.0) - F.col("d_t").cast("double") / F.col("n_t")), 6
            ).cast("decimal(18,6)"),
        ).alias("term"),
    )
    a = terms.select(
        F.col("t").alias("at"), F.col("d_t").alias("ad"), F.col("n_t").alias("an")
    )
    pref = (
        F.broadcast(a)
        .join(terms, F.col("t") <= F.col("at"))
        .groupBy("at", "ad", "an")
        .agg(
            F.count(F.lit(1)).alias("c_all"),
            F.count("term").alias("c_def"),
            F.sum("term").alias("s"),
        )
    )
    return pref.select(
        F.col("at").cast("long").alias("t"),
        F.col("an").cast("long").alias("n_at_risk"),
        F.col("ad").cast("long").alias("n_deaths"),
        F.round(F.col("ad").cast("double") / F.col("an"), 6).alias("hazard"),
        F.when(
            F.col("c_all") == F.col("c_def"),
            F.round(F.col("s").cast("double"), 6),
        ).alias("log_survival"),
    )


@register(
    "events_poisson_rate_test",
    """
WITH s AS (
  SELECT event_type, epoch_ns(ts) AS ns FROM events WHERE ts IS NOT NULL
),
w AS (SELECT min(ns) AS lo, max(ns) AS hi FROM s),
c AS (
  SELECT event_type,
         sum(CASE WHEN ns < lo + (hi - lo) // 2 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN ns >= lo + (hi - lo) // 2 THEN 1 ELSE 0 END) AS c2
  FROM s CROSS JOIN w GROUP BY event_type
),
h AS (
  SELECT round(CAST((SELECT (hi - lo) // 2 FROM w) AS DOUBLE)
               / 3600000000000, 6) AS half_hours
)
SELECT event_type, c1::BIGINT AS c1, c2::BIGINT AS c2,
       -- nullif: a zero-width window (all events at one instant) must
       -- degrade to NULL rates on both engines, not DuckDB-IEEE inf
       round(c1 / nullif(half_hours, 0), 6) AS rate1_per_hour,
       round(c2 / nullif(half_hours, 0), 6) AS rate2_per_hour,
       round(CAST(c2 AS DOUBLE) / nullif(c1, 0), 6) AS rate_ratio,
       round(2 * (sqrt(CAST(c2 AS DOUBLE)) - sqrt(CAST(c1 AS DOUBLE))), 6)
         AS z_sqrt
FROM c CROSS JOIN h
""",
)
def events_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-shift test per event type: split the observation
    window into two equal-exposure halves and compare arrival rates with
    the variance-stabilizing square-root transform — for Poisson counts
    with equal exposure, z = 2(√c₂ − √c₁) is approximately standard
    normal under H₀ (equal rates), so |z| > 2-3 flags a genuine rate
    change (error-budget regressions, traffic shifts). The parametric
    counts-based companion to events_trend_test (rank-based direction)
    and events_cusum_changepoint (location of the shift).

    Determinism: the half boundary is integer nanos arithmetic; the two
    counts are exact conditional integer aggregates; every rate/ratio/z
    is ONE scalar IEEE expression over those integers rounded to 6 dp;
    c₁=0 degrades the ratio to NULL on both engines (nullif/try_divide).

    Scale: one map-side-combinable conditional aggregate per event type
    after one global min/max scan — two passes, no joins wider than the
    broadcast scalar, no windows."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    s = ev.select("event_type", F.col("ts").alias("ns"))
    w = s.agg(F.min("ns").alias("lo"), F.max("ns").alias("hi"))
    mid = F.col("lo") + F.expr("(hi - lo) div 2")
    c = (
        s.crossJoin(F.broadcast(w))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ns") < mid, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("ns") >= mid, 1).otherwise(0)).alias("c2"),
        )
    )
    h = w.select(
        F.round(
            F.expr("(hi - lo) div 2").cast("double") / F.lit(3600000000000.0), 6
        ).alias("half_hours")
    )
    return c.crossJoin(F.broadcast(h)).select(
        "event_type",
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        F.round(
            F.try_divide(F.col("c1"), F.nullif(F.col("half_hours"), F.lit(0.0))), 6
        ).alias("rate1_per_hour"),
        F.round(
            F.try_divide(F.col("c2"), F.nullif(F.col("half_hours"), F.lit(0.0))), 6
        ).alias("rate2_per_hour"),
        F.round(
            F.try_divide(F.col("c2").cast("double"), F.nullif(F.col("c1"), F.lit(0))),
            6,
        ).alias("rate_ratio"),
        F.round(
            F.lit(2)
            * (F.sqrt(F.col("c2").cast("double")) - F.sqrt(F.col("c1").cast("double"))),
            6,
        ).alias("z_sqrt"),
    )


@register(
    "events_kaplan_meier_by_type",
    """
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_ns(ts) AS ns
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
g AS (
  SELECT user_id, event_type, ns,
         lead(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS nxt
  FROM s
),
mx AS (SELECT max(ns) AS end_ns FROM s),
u AS (
  SELECT event_type,
         CASE WHEN nxt IS NOT NULL
              THEN (nxt - ns) // 3600000000000
              ELSE (end_ns - ns) // 3600000000000 END AS dur,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS is_death
  FROM g CROSS JOIN mx
),
hist AS (
  SELECT event_type, dur, count(*) AS n_users, sum(is_death) AS n_deaths
  FROM u GROUP BY 1, 2
),
lt AS (
  SELECT dt.event_type, dt.dur AS t, dt.n_deaths AS d_t,
         sum(h.n_users) AS n_t
  FROM hist dt JOIN hist h
    ON h.event_type = dt.event_type AND h.dur >= dt.dur
  WHERE dt.n_deaths > 0
  GROUP BY 1, 2, 3
),
terms AS (
  SELECT event_type, t, d_t, n_t,
         CASE WHEN n_t > d_t
              THEN CAST(round(ln(1 - CAST(d_t AS DOUBLE) / n_t), 6)
                        AS DECIMAL(18,6)) END AS term
  FROM lt
)
SELECT a.event_type, a.t::BIGINT AS t, a.n_t::BIGINT AS n_at_risk,
       a.d_t::BIGINT AS n_deaths,
       round(CAST(a.d_t AS DOUBLE) / a.n_t, 6) AS hazard,
       CASE WHEN count(*) = count(b.term)
            THEN round(CAST(sum(b.term) AS DOUBLE), 6) END AS log_survival
FROM terms a JOIN terms b ON b.event_type = a.event_type AND b.t <= a.t
GROUP BY a.event_type, a.t, a.n_t, a.d_t
""",
    eager=True,
)
def events_kaplan_meier_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival PER EVENT TYPE (round-8 VERDICT #6): the
    pooled events_kaplan_meier curve answers "how long until a user's
    next event"; the form an events pipeline actually reads is
    CONDITIONED on what the user just did — time-to-next-event curves
    partitioned by the type of the gap's STARTING event (does a purchase
    retain users better than an error?). Same censoring: each user's last
    event contributes a right-censored gap to ITS type's curve.

    Determinism and shape: the pooled query's conventions verbatim —
    exact integer hour durations and counts, 6-dp ln factors summed as
    DECIMAL via a per-type triangular prefix join (never a running
    window), the d=n tail degrading log_survival to NULL on both engines.
    The death/censor branches are ONE projection over the lead() pass and
    ``hist`` (O(types × distinct durations), calendar-bounded) is PINNED
    (localCheckpoint + eager=True) — 2 FileScans of events total, the
    round-8 single-scan discipline.

    Scale: the gap pass is one user_id-keyed window; everything after the
    pin runs on the bounded per-type histogram, and the triangular joins
    broadcast their O(types × durations) side."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    s = ev.select("user_id", "event_id", "event_type", F.col("ts").alias("ns"))
    w = Window.partitionBy("user_id").orderBy("ns", "event_id")
    g = s.withColumn("nxt", F.lead("ns").over(w))
    mx = s.agg(F.max("ns").alias("end_ns"))
    u = g.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.when(
            F.col("nxt").isNotNull(),
            F.expr("(nxt - ns) div 3600000000000"),
        )
        .otherwise(F.expr("(end_ns - ns) div 3600000000000"))
        .alias("dur"),
        F.when(F.col("nxt").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_death"
        ),
    )
    hist = (
        u.groupBy("event_type", "dur")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("is_death").alias("n_deaths"),
        )
        .localCheckpoint(eager=True)
    )
    dt = hist.filter(F.col("n_deaths") > 0).select(
        F.col("event_type").alias("d_type"),
        F.col("dur").alias("t"),
        F.col("n_deaths").alias("d_t"),
    )
    lt = (
        F.broadcast(dt)
        .join(
            hist.select(
                F.col("event_type").alias("h_type"), "dur", "n_users"
            ),
            (F.col("h_type") == F.col("d_type"))
            & (F.col("dur") >= F.col("t")),
        )
        .groupBy(F.col("d_type").alias("event_type"), F.col("t"), F.col("d_t"))
        .agg(F.sum("n_users").alias("n_t"))
    )
    terms = lt.select(
        "event_type", "t", "d_t", "n_t",
        F.when(
            F.col("n_t") > F.col("d_t"),
            F.round(
                F.log(F.lit(1.0) - F.col("d_t").cast("double") / F.col("n_t")), 6
            ).cast("decimal(18,6)"),
        ).alias("term"),
    )
    a = terms.select(
        F.col("event_type").alias("a_type"), F.col("t").alias("at"),
        F.col("d_t").alias("ad"), F.col("n_t").alias("an"),
    )
    pref = (
        F.broadcast(a)
        .join(
            terms,
            (F.col("event_type") == F.col("a_type")) & (F.col("t") <= F.col("at")),
        )
        .groupBy("a_type", "at", "ad", "an")
        .agg(
            F.count(F.lit(1)).alias("c_all"),
            F.count("term").alias("c_def"),
            F.sum("term").alias("s"),
        )
    )
    return pref.select(
        F.col("a_type").alias("event_type"),
        F.col("at").cast("long").alias("t"),
        F.col("an").cast("long").alias("n_at_risk"),
        F.col("ad").cast("long").alias("n_deaths"),
        F.round(F.col("ad").cast("double") / F.col("an"), 6).alias("hazard"),
        F.when(
            F.col("c_all") == F.col("c_def"),
            F.round(F.col("s").cast("double"), 6),
        ).alias("log_survival"),
    )
