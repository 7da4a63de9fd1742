"""Additional declared-surface queries: semi-structured (JSON) extraction,
time-series gap filling, equi-width histograms, FILTER-clause aggregates,
ordered list aggregation, multiset set ops, date/time scalars, regex scalars.

These extend SURVEY.md §2b with operations a production lakehouse needs that
the earlier modules didn't cover. Every query keeps the repo's determinism
rules: integer arithmetic wherever an engine-ordered float sum could differ,
unique ORDER BY keys under every window, identical expression shapes on the
Spark and DuckDB sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from btrblocks_spark.queries import register
from btrblocks_spark.tables import load_table

# ---------------------------------------------------------------------------
# Semi-structured: JSON property extraction
# ---------------------------------------------------------------------------


@register(
    "events_json_props",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       count(*) FILTER (WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL)
         AS n_missing_k,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       count(DISTINCT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS distinct_k
FROM events
GROUP BY event_type
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: ``events.props`` holds a JSON object;
    extract the ``k`` field with a path expression and aggregate it as a
    typed integer. The reference's type system has no nested data
    (common/Units.hpp:47-57 — int/double/string only); a real lakehouse
    stores event payloads as JSON strings, and path extraction at scan time
    is the standard pattern.

    Scale: ``get_json_object`` is a JVM-side expression inside
    WholeStageCodegen — no Python, no shuffle before the single map-side
    combinable aggregation. At 100 TB you would additionally persist the
    extracted field as a materialized column so the JSON parse happens once
    at ingest, not per query."""
    e = load_table(spark, sf_dir, "events")
    # try_cast: a non-integer $.k value degrades to NULL (counted by
    # n_missing_k) instead of aborting the job under ANSI
    k = F.get_json_object("props", "$.k").try_cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(F.when(k.isNull(), 1)).alias("n_missing_k"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.countDistinct(k).alias("distinct_k"),
    )


# ---------------------------------------------------------------------------
# Time-series gap filling
# ---------------------------------------------------------------------------


@register(
    "events_gap_fill",
    oracle="""
WITH hours AS (
  SELECT epoch_ns(ts) // 3600000000000 AS hour_idx, count(*) AS n,
         count(DISTINCT user_id) AS active_users
  FROM events GROUP BY 1
),
bounds AS (SELECT min(hour_idx) AS lo, max(hour_idx) AS hi FROM hours),
spine AS (SELECT unnest(generate_series(lo, hi)) AS hour_idx FROM bounds)
SELECT s.hour_idx,
       COALESCE(h.n, 0) AS n_events,
       COALESCE(h.active_users, 0) AS active_users,
       CASE WHEN h.hour_idx IS NULL THEN 1 ELSE 0 END AS is_gap
FROM spine s LEFT JOIN hours h USING (hour_idx)
""",
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: hourly event counts over the full observed
    span, with missing hours materialized as zero rows (``is_gap=1``) — the
    densification step every downstream rolling-window or forecasting job
    needs (a trailing average over sparse rows silently skips quiet hours).

    The hour spine is generated with ``sequence()`` from the 1-row min/max
    aggregate and exploded — O(span) rows regardless of event count, then
    broadcast-joined to the hourly aggregate (spine side is tiny: hours in
    the retention window, ~9k rows/year). Events shuffle once for the
    hourly groupBy; the spine join is broadcast — no second shuffle."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr("ts div 3600000000000").alias("hour_idx"), "user_id"
    )
    hours = e.groupBy("hour_idx").agg(
        F.count("*").alias("n"), F.countDistinct("user_id").alias("au")
    )
    spine = (
        hours.agg(F.min("hour_idx").alias("lo"), F.max("hour_idx").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("hour_idx"))
    )
    return spine.join(F.broadcast(hours), "hour_idx", "left").select(
        "hour_idx",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("au", F.lit(0)).alias("active_users"),
        F.when(F.col("n").isNull(), 1).otherwise(0).alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Equi-width histogram (reference NumberStats histogram analog)
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
WITH scaled AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
),
bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM scaled)
SELECT CAST((cents - lo) * 10 // (hi - lo + 1) AS INTEGER) AS bucket,
       count(*) AS n,
       min(cents) AS lo_cents,
       max(cents) AS hi_cents
FROM scaled, bounds
GROUP BY 1
"""


@register("stats_histogram", _HISTOGRAM_ORACLE)
def stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 10-bucket histogram over l_extendedprice — the
    distribution profile behind the reference's per-chunk value histogram
    (stats/NumberStats.hpp:89-121 keeps a value→count map for scheme
    gating; at real cardinalities that map becomes a bucketed histogram).

    Determinism: prices are scaled to integer cents and the bucket index is
    pure integer arithmetic ``(x-lo)*10 div (hi-lo+1)`` — no float division
    whose rounding could place a boundary value differently across engines.
    The global (lo, hi) is a 1-row aggregate broadcast into the scan; the
    histogram itself is one map-side-combinable groupBy on ≤10 keys."""
    l = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    bounds = l.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    return (
        l.crossJoin(F.broadcast(bounds))
        .select(
            # integer div, exactly as documented: float '/'+cast truncation
            # can flip a boundary bucket once magnitudes exceed ~2^53
            F.expr("(cents - lo) * 10 div (hi - lo + 1)")
            .cast("int")
            .alias("bucket"),
            "cents",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


# ---------------------------------------------------------------------------
# FILTER-clause aggregates
# ---------------------------------------------------------------------------


@register(
    "agg_filtered",
    oracle="""
SELECT l_linestatus,
       count(*) AS n_rows,
       count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
       CAST(SUM(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_discount > 0.05) AS BIGINT)
         AS qty_discounted,
       count(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.0) AS taxed_suppliers,
       MAX(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE l_returnflag = 'A')
         AS max_price_cents_A
FROM lineitem
GROUP BY l_linestatus
""",
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered (conditional) aggregates — SQL's ``FILTER (WHERE ...)``
    clause, the one-pass replacement for N self-joins when different
    aggregates need different predicates. Spark expresses each as
    ``agg(expr) FILTER``-equivalent ``when()`` guards; all five aggregates
    share one scan and one shuffle with map-side partials."""
    l = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return l.groupBy("l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.sum(
            F.when(F.col("l_discount") > 0.05, F.col("l_quantity").cast("long"))
        ).alias("qty_discounted"),
        F.countDistinct(
            F.when(F.col("l_tax") > 0.0, F.col("l_suppkey"))
        ).alias("taxed_suppliers"),
        F.max(F.when(F.col("l_returnflag") == "A", cents)).alias("max_price_cents_A"),
    )


# ---------------------------------------------------------------------------
# Ordered list aggregation (LISTAGG / STRING_AGG)
# ---------------------------------------------------------------------------


@register(
    "agg_listagg",
    oracle="""
SELECT c_nationkey,
       count(DISTINCT c_mktsegment) AS n_segments,
       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
FROM customer
GROUP BY c_nationkey
""",
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation (LISTAGG/STRING_AGG): the sorted distinct
    market segments per nation, concatenated. Determinism rule: a bare
    ``collect_set`` has partition-dependent order, so the array is
    ``array_sort``-ed before ``concat_ws`` — same contract as the oracle's
    ``ORDER BY`` inside ``string_agg``. Distinct-per-group keeps the
    aggregation state bounded (segments, not customers)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.when(
            F.count("c_mktsegment") > 0,
            F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))),
        ).alias("segments"),  # all-NULL group: NULL, matching string_agg
    )


# ---------------------------------------------------------------------------
# Multiset set operations (ALL variants)
# ---------------------------------------------------------------------------


@register(
    "set_intersect_all",
    oracle="""
SELECT l_suppkey FROM lineitem WHERE l_quantity < 10
INTERSECT ALL
SELECT l_suppkey FROM lineitem WHERE l_discount > 0.05
""",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection keeping min(multiplicity):
    suppliers' key occurrences in the small-quantity multiset that also
    appear in the discounted multiset. One shuffle on the key (Spark plans
    it as a count-compare aggregation, not a join)."""
    l = load_table(spark, sf_dir, "lineitem")
    a = l.filter(F.col("l_quantity") < 10).select("l_suppkey")
    b = l.filter(F.col("l_discount") > 0.05).select("l_suppkey")
    return a.intersectAll(b)


@register(
    "set_except_all",
    oracle="""
SELECT l_suppkey FROM lineitem WHERE l_discount > 0.05
EXCEPT ALL
SELECT l_suppkey FROM lineitem WHERE l_quantity < 10
""",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference (multiplicities subtract, floor 0).
    The multiset twin of set_except; this is the X3 verification primitive
    (storage/Chunk.cpp:143-231 compares multisets, not sets — duplicate
    rows must survive) and exactly what round_trip_verify uses."""
    l = load_table(spark, sf_dir, "lineitem")
    a = l.filter(F.col("l_discount") > 0.05).select("l_suppkey")
    b = l.filter(F.col("l_quantity") < 10).select("l_suppkey")
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# Date/time scalar functions
# ---------------------------------------------------------------------------


@register(
    "scalar_datetime",
    oracle="""
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
       CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS dom,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS qtr,
       CAST(EXTRACT(isodow FROM o_orderdate) AS INTEGER) AS iso_dow,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
         AS days_since_epoch,
       CAST(EXTRACT(year FROM o_orderdate) * 100 + EXTRACT(month FROM o_orderdate)
            AS INTEGER) AS month_id
FROM orders
WHERE o_orderkey % 10 = 3
""",
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar functions: year/month/day/quarter extraction,
    ISO day-of-week, day difference, and a sortable month id. The reference
    SKIPs date columns entirely (btrfiles/btrfiles.hpp:20-22); Spark gets
    them natively. Cross-engine traps handled: Spark's ``dayofweek`` is
    1=Sunday while DuckDB's ``dow`` is 0=Sunday — both sides use the ISO
    convention (1=Monday) instead; all outputs are integers (no timestamp
    values in the result, so no timezone/precision hashing concerns)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 3)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("qtr"),
        (F.weekday(d) + 1).alias("iso_dow"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch"
        ),
        (F.year(d) * 100 + F.month(d)).alias("month_id"),
    )


# ---------------------------------------------------------------------------
# Regex scalar functions
# ---------------------------------------------------------------------------


@register(
    "scalar_regexp",
    oracle=r"""
SELECT doc_id,
       regexp_extract(text, '[0-9]+') AS first_number,
       length(regexp_replace(text, '[aeiou]', '', 'g')) AS len_no_vowels,
       CASE WHEN regexp_matches(text, '(data|model|train)') THEN 1 ELSE 0 END AS mentions_ml
FROM documents
WHERE doc_id % 7 = 0
""",
)
def scalar_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar functions over document text: first-match extraction,
    global replacement, and boolean match — restricted to the Java∩RE2
    common subset (character classes, literals, alternation; no lookaround,
    no backreferences) so Spark (java.util.regex) and DuckDB (RE2) agree.
    Same restriction text.scrub_text documents; these run JVM-side inside
    codegen — the narrow-map fast path."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "[0-9]+", 0).alias("first_number"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias("len_no_vowels"),
        F.when(F.col("text").rlike("(data|model|train)"), 1).otherwise(0).alias(
            "mentions_ml"
        ),
    )


# ---------------------------------------------------------------------------
# Semi-structured: VARIANT type (parse once, extract many)
# ---------------------------------------------------------------------------


@register(
    "events_variant_props",
    oracle="""
WITH parsed AS (
  SELECT user_id,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT k // 10 AS k_decile,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM parsed
WHERE k IS NOT NULL
GROUP BY 1
""",
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path: ``try_parse_json`` decodes the payload
    to Spark's binary VARIANT encoding ONCE, then typed ``try_variant_get``
    extractions read subfields without re-parsing — the Spark-4 idiom for
    JSON-heavy event tables (vs events_json_props' per-expression string
    parse). Malformed payloads become NULL instead of failing the query
    (``try_`` variants), which is what a 100 TB ingest needs — one bad row
    must not kill a stage. Distribution: decile-bucketed counts of the
    extracted integer."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "user_id", F.try_parse_json("props").alias("v")
    ).select(
        "user_id", F.try_variant_get("v", "$.k", "bigint").alias("k")
    )
    return (
        parsed.filter(F.col("k").isNotNull())
        .groupBy(F.expr("k div 10").alias("k_decile"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("k").alias("sum_k"),
        )
    )


# ---------------------------------------------------------------------------
# GROUPING() flags on rollup
# ---------------------------------------------------------------------------


@register(
    "agg_grouping_flags",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       count(*) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with per-dimension GROUPING() indicator columns — the only
    reliable way to tell a subtotal row (grouping=1) from a genuine NULL
    group value (grouping=0, value NULL). Per-dimension flags instead of
    grouping_id() because the composite id's bit order is engine-specific
    while GROUPING(col) is standard."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


@register(
    "sql_recursive_month_spine",
    oracle="""
WITH RECURSIVE bounds AS (
  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
         CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
  FROM orders
),
months(m) AS (
  SELECT lo FROM bounds
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months, bounds WHERE m < hi
),
per_month AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         count(*) AS n_orders,
         count(DISTINCT o_custkey) AS n_customers
  FROM orders GROUP BY 1
)
SELECT months.m AS month_start,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(n_customers, 0) AS n_customers
FROM months LEFT JOIN per_month ON per_month.m = months.m
""",
    eager=True,
)
def sql_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): generate the month spine
    between the first and last order month by recursion — no sequence()
    builtin — then left-join monthly order stats so zero-activity months
    surface. The [lo, hi] bounds are resolved ONCE into literals before
    the recursion (a CTE referenced inside the recursive term re-executes
    its whole subtree every step — with bounds inline that would be one
    orders scan per month; measured 28s -> 2s). Bounded, acyclic UNION ALL
    recursion; the real work stays in one aggregation of orders."""
    from btrblocks_spark.tables import load_table, sql as sql_front

    b = (
        load_table(spark, sf_dir, "orders")
        .agg(
            F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("lo"),
            F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("hi"),
        )
        .first()
    )
    if b["lo"] is None:  # empty orders: one NULL-month row, like the oracle
        return spark.sql(
            "SELECT CAST(NULL AS DATE) AS month_start, "
            "CAST(0 AS BIGINT) AS n_orders, CAST(0 AS BIGINT) AS n_customers"
        )
    return sql_front(
        spark,
        sf_dir,
        f"""
WITH RECURSIVE months(m) AS (
  SELECT DATE'{b["lo"]}' AS m
  UNION ALL
  SELECT add_months(m, 1) FROM months WHERE m < DATE'{b["hi"]}'
),
per_month AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         count(*) AS n_orders,
         count(DISTINCT o_custkey) AS n_customers
  FROM orders GROUP BY 1
)
SELECT months.m AS month_start,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(n_customers, 0) AS n_customers
FROM months LEFT JOIN per_month ON per_month.m = months.m
""",
    )


@register(
    "window_distribution_ranks",
    oracle="""
WITH r AS (
  SELECT percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd,
         ntile(4) OVER w AS q,
         count(*) OVER (PARTITION BY o_custkey) AS cnt
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
)
SELECT CAST(q AS BIGINT) AS quartile,
       count(*)::BIGINT AS n_orders,
       round(SUM(CAST(round(pr * 1000000) AS BIGINT)) / CAST(count(*) AS DOUBLE)
             / CAST(1000000 AS DOUBLE), 6) AS avg_percent_rank,
       round(SUM(CAST(round(cd * 1000000) AS BIGINT)) / CAST(count(*) AS DOUBLE)
             / CAST(1000000 AS DOUBLE), 6) AS avg_cume_dist
FROM r WHERE cnt >= 2
GROUP BY q ORDER BY quartile
""",
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank, cume_dist, ntile —
    computed per customer over their orders by total price, then profiled
    per price quartile (the §2b window family's remaining shapes; both
    engines define percent_rank = (rank-1)/(n-1), cume_dist = rank/n,
    and ntile's front-loaded bucket fill identically).

    Determinism: the window orders by the unique (o_totalprice,
    o_orderkey) key, so every rank function is tie-free; single-order
    customers are excluded (percent_rank's 0/0 edge differs between
    engines); per-row doubles go through the round-then-scaled-long-sum
    pattern so the quartile averages are order-independent.

    Scale: the window partitions by o_custkey — millions of small
    independent groups, one shuffle; the final rollup reduces to 4 rows."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wc = Window.partitionBy("o_custkey")
    r = load_table(spark, sf_dir, "orders").select(
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("q"),
        F.count("*").over(wc).alias("cnt"),
    )
    return (
        r.filter(F.col("cnt") >= 2)
        .groupBy(F.col("q").cast("long").alias("quartile"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("pr") * 1000000).cast("long"))
                / F.count("*").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("avg_percent_rank"),
            F.round(
                F.sum(F.round(F.col("cd") * 1000000).cast("long"))
                / F.count("*").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("avg_cume_dist"),
        )
        .orderBy("quartile")
    )


@register(
    "customer_rfm_segments",
    oracle="""
WITH c AS (
  SELECT o_custkey,
         CAST(MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT) AS r_v,
         count(*) AS f_v,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 1000000 AS m_v
  FROM orders GROUP BY o_custkey
),
melt AS (
  SELECT 'r' AS measure, r_v AS v FROM c
  UNION ALL SELECT 'f', f_v FROM c
  UNION ALL SELECT 'm', m_v FROM c
),
freq AS (SELECT measure, v, count(*) AS n FROM melt GROUP BY 1, 2),
cum AS (
  SELECT measure, v,
         SUM(n) OVER (PARTITION BY measure ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum_n,
         SUM(n) OVER (PARTITION BY measure) AS total_n
  FROM freq
),
th AS (
  SELECT measure,
         MIN(CASE WHEN cum_n * 4 >= total_n THEN v END) AS t25,
         MIN(CASE WHEN cum_n * 2 >= total_n THEN v END) AS t50,
         MIN(CASE WHEN cum_n * 4 >= total_n * 3 THEN v END) AS t75
  FROM cum GROUP BY measure
),
scored AS (
  SELECT 1 + CASE WHEN r_v > tr.t25 THEN 1 ELSE 0 END
           + CASE WHEN r_v > tr.t50 THEN 1 ELSE 0 END
           + CASE WHEN r_v > tr.t75 THEN 1 ELSE 0 END AS r_score,
         1 + CASE WHEN f_v > tf.t25 THEN 1 ELSE 0 END
           + CASE WHEN f_v > tf.t50 THEN 1 ELSE 0 END
           + CASE WHEN f_v > tf.t75 THEN 1 ELSE 0 END AS f_score,
         1 + CASE WHEN m_v > tm.t25 THEN 1 ELSE 0 END
           + CASE WHEN m_v > tm.t50 THEN 1 ELSE 0 END
           + CASE WHEN m_v > tm.t75 THEN 1 ELSE 0 END AS m_score
  FROM c,
       (SELECT * FROM th WHERE measure = 'r') tr,
       (SELECT * FROM th WHERE measure = 'f') tf,
       (SELECT * FROM th WHERE measure = 'm') tm
)
SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score, count(*)::BIGINT AS n_customers
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
    eager=True,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation: each
    customer scored 1-4 per dimension against exact corpus quartile
    thresholds, then counted per (r,f,m) segment — the classic marketing
    rollup, built scale-safe.

    Thresholds use explicit integer rank arithmetic (smallest v with
    4*cum_rows >= k*total_rows) over per-measure distinct-VALUE frequency
    tables, not a global per-row window: recency is integer epoch-days
    (bounded by calendar span), frequency is a small integer, monetary is
    exact summed cents coarsened to 10k-dollar buckets — so the windowed
    table stays O(hundreds..thousands) of rows at ANY corpus size and is
    partitioned by measure. Scoring is a 1-row broadcast cross join; all
    arithmetic is integer-exact in both engines.

    Scale: one shuffle to the per-customer rollup, one tiny melt/agg for
    thresholds, map-side scoring, 64-row output."""
    from pyspark.sql.window import Window

    c = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("r_v"),
            F.count("*").alias("f_v"),
            F.expr(
                "sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 1000000"
            ).alias("m_v"),
        )
        # pinned: the per-customer rollup feeds the 3-way melt AND the
        # final scoring join — without this each reference re-scans orders
        .localCheckpoint(eager=True)
    )
    melt = (
        c.select(F.lit("r").alias("measure"), F.col("r_v").alias("v"))
        .unionAll(c.select(F.lit("f"), F.col("f_v")))
        .unionAll(c.select(F.lit("m"), F.col("m_v")))
    )
    freq = melt.groupBy("measure", "v").agg(F.count("*").alias("n"))
    w = Window.partitionBy("measure").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("measure")
    cum = freq.select(
        "measure",
        "v",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(wt).alias("total_n"),
    )
    th = cum.groupBy("measure").agg(
        F.min(F.when(F.col("cum_n") * 4 >= F.col("total_n"), F.col("v"))).alias("t25"),
        F.min(F.when(F.col("cum_n") * 2 >= F.col("total_n"), F.col("v"))).alias("t50"),
        F.min(
            F.when(F.col("cum_n") * 4 >= F.col("total_n") * 3, F.col("v"))
        ).alias("t75"),
    )

    def th_for(m: str):
        cols = th.filter(F.col("measure") == m)
        return F.broadcast(
            cols.select(
                F.col("t25").alias(f"{m}25"),
                F.col("t50").alias(f"{m}50"),
                F.col("t75").alias(f"{m}75"),
            )
        )

    def score(v: str, m: str):
        one = F.lit(1)
        zero = F.lit(0)
        return (
            F.lit(1)
            + F.when(F.col(v) > F.col(f"{m}25"), one).otherwise(zero)
            + F.when(F.col(v) > F.col(f"{m}50"), one).otherwise(zero)
            + F.when(F.col(v) > F.col(f"{m}75"), one).otherwise(zero)
        )

    scored = (
        c.crossJoin(th_for("r"))
        .crossJoin(th_for("f"))
        .crossJoin(th_for("m"))
        .select(
            score("r_v", "r").cast("long").alias("r_score"),
            score("f_v", "f").cast("long").alias("f_score"),
            score("m_v", "m").cast("long").alias("m_score"),
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "orders_wow_growth",
    oracle="""
WITH w AS (
  SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
         count(*) AS n_orders,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
)
SELECT CAST(a.wk AS BIGINT) AS week_idx,
       a.n_orders::BIGINT AS n_orders,
       round(a.rev_c / CAST(100 AS DOUBLE), 2) AS revenue,
       round((CAST(a.n_orders AS DOUBLE) - b.n_orders) / b.n_orders, 6)
         AS orders_wow,
       round((CAST(a.rev_c AS DOUBLE) - b.rev_c) / b.rev_c, 6) AS revenue_wow
FROM w a JOIN w b ON b.wk = a.wk - 1
ORDER BY week_idx
""",
)
def orders_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth of order volume and revenue — the
    period-over-period KPI query, built without ANY window function: the
    weekly rollup (exact epoch-week integers, cent-exact revenue) self-joins
    on wk-1, an equi-join on a calendar-bounded table. Weeks with no prior
    week (gaps / first week) drop out, same as a LAG-based formulation with
    null filtering.

    Scale: one map-side-combinable rollup shuffle to O(weeks) rows;
    the growth join runs on that reduced table — no single-task window,
    no global sort except the final O(weeks) presentation ORDER BY."""
    o = load_table(spark, sf_dir, "orders")
    w = o.groupBy(
        F.expr("datediff(o_orderdate, DATE'1970-01-01') div 7").alias("wk")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"),
    )
    a = w.select(
        F.col("wk"), F.col("n_orders").alias("n_a"), F.col("rev_c").alias("rev_a")
    )
    b = w.select(
        (F.col("wk") + 1).alias("wk"),
        F.col("n_orders").alias("n_b"),
        F.col("rev_c").alias("rev_b"),
    )
    return (
        a.join(b, "wk")
        .select(
            F.col("wk").cast("long").alias("week_idx"),
            F.col("n_a").cast("long").alias("n_orders"),
            F.round(F.col("rev_a") / F.lit(100.0), 2).alias("revenue"),
            F.round(
                (F.col("n_a").cast("double") - F.col("n_b")) / F.col("n_b"), 6
            ).alias("orders_wow"),
            F.round(
                (F.col("rev_a").cast("double") - F.col("rev_b")) / F.col("rev_b"), 6
            ).alias("revenue_wow"),
        )
        .orderBy("week_idx")
    )


@register(
    "agg_pandas_udaf_geomean",
    oracle="""
SELECT o_orderpriority AS priority,
       count(*)::BIGINT AS n_orders,
       round(exp(SUM(CAST(round(ln(o_totalprice) * 1000000) AS BIGINT))
                 / CAST(1000000 AS DOUBLE) / count(*)), 6) AS geo_mean_price
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
""",
)
def agg_pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via a GROUPED_AGG pandas UDF — the one UDF flavor
    the rest of the engine didn't exercise (scalar pandas_udf: the BPE
    pair merge in pipeline/text.py; mapInPandas: multimodal/inference;
    applyInPandasWithState: sessionize; UDTF: sentence split). Computes
    the per-priority geometric mean of order value.

    Parity without FP order-dependence: the UDAF sums round(ln(x)·1e6) as
    int64 (order-independent inside the Arrow batch and across batches),
    and exp() runs once on the final scalar — the round-then-scaled-sum ln
    pattern, here inside vectorized numpy instead of JVM expressions.

    Scale: partial aggregation of (sum, count) per group map-side, one
    shuffle of tiny partials — the same plan shape as a built-in agg, with
    Arrow batching amortizing the Python boundary."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # PandasUDFType spelled explicitly: `from __future__ import annotations`
    # stringifies type hints, which breaks pandas_udf signature inference
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def ln_sum_scaled(v):
        import numpy as np

        return int(np.round(np.log(v.to_numpy()) * 1000000).astype(np.int64).sum())

    # Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg — the row count is a second pandas UDAF
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return int(len(v))

    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            n_rows("o_totalprice").alias("n_orders"),
            ln_sum_scaled("o_totalprice").alias("ln_sum"),
        )
        .select(
            "priority",
            "n_orders",
            F.round(
                F.exp(
                    F.col("ln_sum") / F.lit(1000000.0) / F.col("n_orders")
                ),
                6,
            ).alias("geo_mean_price"),
        )
        .orderBy("priority")
    )


@register(
    "customer_revenue_gini",
    oracle="""
WITH c AS (
  SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1
),
r AS (SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i FROM c),
s AS (SELECT count(*) AS n, SUM(rev) AS tot, SUM(i * rev) AS srev FROM r)
SELECT n::BIGINT AS n_customers,
       round(tot / CAST(100 AS DOUBLE), 2) AS total_revenue,
       round((2.0 * srev - (n + 1) * CAST(tot AS DOUBLE))
             / (CAST(n AS DOUBLE) * tot), 6) AS gini
FROM s
""",
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration (0 = equal,
    →1 = one whale) via the sorted-rank identity
    G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) — the Lorenz-curve statistic
    behind "what fraction of spend is the top 1%".

    The global ascending rank comes from the two-phase bucketed
    row_number (_distributed): revenue-range buckets rank in parallel, a
    one-row-per-bucket offset table globalizes — no single-task sort.
    Revenue is exact summed cents; every moment is an integer until the
    single final double expression, mirrored op-for-op.

    Scale: one per-customer rollup shuffle, one bucketed rank pass; Σ i·xᵢ
    fits BIGINT through bench scale (production scales cents→dollars to
    extend headroom)."""
    from btrblocks_spark.queries._distributed import bucketed_row_number

    c = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    )
    r = bucketed_row_number(
        c, F.expr("rev div 100000000"), ["rev", "o_custkey"], idx_col="i"
    ).select("rev", "i")
    s = r.agg(
        F.count("*").alias("n"),
        F.sum("rev").alias("tot"),
        F.sum(F.col("i") * F.col("rev")).alias("srev"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("tot") / F.lit(100.0), 2).alias("total_revenue"),
        F.round(
            (F.lit(2.0) * F.col("srev") - (F.col("n") + 1) * F.col("tot").cast("double"))
            / (F.col("n").cast("double") * F.col("tot")),
            6,
        ).alias("gini"),
    )


@register(
    "scalar_string_advanced",
    oracle="""
SELECT n_name,
       upper(substr(n_name, 1, 3)) AS prefix3,
       reverse(n_name) AS rev,
       lpad(n_name, 12, '.') AS padded,
       replace(n_name, 'A', '@') AS subst,
       repeat(substr(n_name, 1, 1), 3) AS tripled,
       split_part(n_name, 'A', 1) AS first_part,
       levenshtein(n_name, 'ALGERIA')::BIGINT AS lev_to_algeria,
       length(translate(n_name, 'AEIOU', '')) AS n_consonants
FROM nation
ORDER BY n_name
""",
)
def scalar_string_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining string-scalar surface (SURVEY §2b scalar fns) checked
    for Spark/DuckDB parity: substr/upper, reverse, lpad, replace, repeat,
    split_part, levenshtein, translate — every function evaluated
    identically by both engines on the nation names.

    Scale: pure narrow projection, whole-stage codegen, zero shuffles
    beyond the final 25-row sort."""
    n = load_table(spark, sf_dir, "nation")
    name = F.col("n_name")
    return n.select(
        name.alias("n_name"),
        F.upper(F.substring(name, 1, 3)).alias("prefix3"),
        F.reverse(name).alias("rev"),
        F.lpad(name, 12, ".").alias("padded"),
        F.regexp_replace(name, "A", "@").alias("subst"),
        F.repeat(F.substring(name, 1, 1), 3).alias("tripled"),
        F.split_part(name, F.lit("A"), F.lit(1)).alias("first_part"),
        F.levenshtein(name, F.lit("ALGERIA")).cast("long").alias("lev_to_algeria"),
        F.length(F.translate(name, "AEIOU", "")).alias("n_consonants"),
    ).orderBy("n_name")


@register(
    "filter_null_safe_eq",
    oracle="""
WITH t AS (
  SELECT l_orderkey, l_linenumber,
         nullif(round(l_discount * 100), 0) AS d100,
         nullif(round(l_tax * 100), 0) AS t100
  FROM lineitem
)
SELECT SUM(CASE WHEN d100 IS NOT DISTINCT FROM t100 THEN 1 ELSE 0 END)::BIGINT
         AS n_null_safe_eq,
       SUM(CASE WHEN d100 IS DISTINCT FROM t100 THEN 1 ELSE 0 END)::BIGINT
         AS n_distinct,
       SUM(CASE WHEN d100 = t100 THEN 1 ELSE 0 END)::BIGINT AS n_plain_eq,
       SUM(CASE WHEN d100 IS NULL AND t100 IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_both_null
FROM t
""",
)
def filter_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality semantics (IS [NOT] DISTINCT FROM / Spark <=>):
    NULLIF fabricates NULLs deterministically (zero discount/tax → NULL),
    then the four counts pin the three-valued-logic contract — plain ``=``
    skips NULL pairs, null-safe equality counts them (n_null_safe_eq =
    n_plain_eq + n_both_null).

    Scale: one scan, map-side-combinable one-row aggregate."""
    t = load_table(spark, sf_dir, "lineitem").select(
        F.nullif(F.round(F.col("l_discount") * 100), F.lit(0.0)).alias("d100"),
        F.nullif(F.round(F.col("l_tax") * 100), F.lit(0.0)).alias("t100"),
    )
    d, x = F.col("d100"), F.col("t100")
    return t.agg(
        F.sum(F.when(d.eqNullSafe(x), 1).otherwise(0))
        .cast("long")
        .alias("n_null_safe_eq"),
        F.sum(F.when(~d.eqNullSafe(x), 1).otherwise(0))
        .cast("long")
        .alias("n_distinct"),
        F.sum(F.when(d == x, 1).otherwise(0)).cast("long").alias("n_plain_eq"),
        F.sum(F.when(d.isNull() & x.isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_both_null"),
    )


@register(
    "scalar_array_hof",
    oracle="""
SELECT vec_id,
       len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0))::BIGINT
         AS positive_dims,
       list_sum(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))::BIGINT
         AS sum_scaled,
       round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6)
         AS max_abs,
       (len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.25)) > 0)
         AS any_gt_quarter,
       (len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) > 2.0)) = 0)
         AS all_within_2
FROM embeddings
WHERE vec_id < 50
ORDER BY vec_id
""",
)
def scalar_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column — the
    lambda-expression surface (transform / filter / aggregate / exists /
    forall) checked for cross-engine parity: per-dim sums fold as exact
    scaled longs (left-fold order is identical in both engines), the rest
    are order-independent reductions.

    Scale: pure narrow projection over the array column — all lambdas run
    JVM-side inside codegen, no Python, no shuffle."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    v = F.expr("transform(embedding, x -> cast(x as double))")
    return e.select(
        "vec_id",
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("positive_dims"),
        F.aggregate(
            F.transform(v, lambda x: F.round(x * 1000000).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        .cast("long")
        .alias("sum_scaled"),
        F.round(F.array_max(F.transform(v, lambda x: F.abs(x))), 6).alias("max_abs"),
        # three-valued exists/forall return NULL on arrays holding a NULL
        # element; the oracle's len(list_filter(...)) counting is two-valued
        # (a NULL element never matches) — coalesce to the same booleans
        F.coalesce(F.exists(v, lambda x: x > 0.25), F.lit(False)).alias(
            "any_gt_quarter"
        ),
        F.coalesce(F.forall(v, lambda x: F.abs(x) <= 2.0), F.lit(True)).alias(
            "all_within_2"
        ),
    ).orderBy("vec_id")


@register(
    "customer_ltv_cohorts",
    oracle="""
WITH om AS (
  SELECT o_custkey AS ck,
         (EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
          + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE))) AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
first_m AS (SELECT ck, MIN(m) AS cohort FROM om GROUP BY ck),
rev AS (
  SELECT cohort, om.m - cohort AS age, SUM(cents) AS rev_c,
         count(DISTINCT om.ck) AS n_active
  FROM om JOIN first_m USING (ck)
  GROUP BY cohort, age
),
cum AS (
  SELECT a.cohort, a.age, a.rev_c, a.n_active,
         SUM(b.rev_c) AS cum_rev_c
  FROM rev a JOIN rev b ON b.cohort = a.cohort AND b.age <= a.age
  GROUP BY a.cohort, a.age, a.rev_c, a.n_active
),
sizes AS (SELECT cohort, count(*) AS cohort_size FROM first_m GROUP BY cohort)
SELECT CAST(cohort AS BIGINT) AS cohort_month,
       CAST(age AS BIGINT) AS age_months,
       n_active::BIGINT AS n_active,
       round(cum_rev_c / CAST(100 AS DOUBLE), 2) AS cum_revenue,
       round(cum_rev_c / CAST(cohort_size AS DOUBLE) / CAST(100 AS DOUBLE), 2)
         AS ltv_per_customer
FROM cum JOIN sizes USING (cohort)
WHERE age <= 6
ORDER BY cohort_month, age_months
""",
    eager=True,
)
def customer_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: cumulative revenue per acquisition-month cohort by
    months-since-first-order (ages 0-6) and the per-customer LTV — the
    revenue counterpart of events_cohort_retention.

    Windowless cumulative: the (cohort, age) revenue table is bounded by
    calendar-months², so the running sum is a triangular equi-self-join on
    that reduced table (the repo's standard no-global-window cumulative);
    revenue is exact summed cents with two final display divisions.

    Scale: one per-(customer, month) rollup, broadcast first-order join,
    tiny cohort-grid arithmetic."""
    om = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first_m = om.groupBy("ck").agg(F.min("m").alias("cohort"))
    rev = (
        om.join(first_m, "ck")
        .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("age"))
        .agg(
            F.sum("cents").alias("rev_c"),
            F.count_distinct("ck").alias("n_active"),
        )
        .localCheckpoint(eager=True)
    )
    a = rev.select(
        "cohort", "age", "rev_c", "n_active"
    )
    b = rev.select(
        F.col("cohort").alias("cohort_b"),
        F.col("age").alias("age_b"),
        F.col("rev_c").alias("rev_b"),
    )
    cum = (
        a.join(
            b,
            (F.col("cohort_b") == F.col("cohort")) & (F.col("age_b") <= F.col("age")),
        )
        .groupBy("cohort", "age", "rev_c", "n_active")
        .agg(F.sum("rev_b").alias("cum_rev_c"))
    )
    sizes = first_m.groupBy("cohort").agg(F.count("*").alias("cohort_size"))
    return (
        cum.join(F.broadcast(sizes), "cohort")
        .filter(F.col("age") <= 6)
        .select(
            F.col("cohort").cast("long").alias("cohort_month"),
            F.col("age").cast("long").alias("age_months"),
            F.col("n_active").cast("long"),
            F.round(F.col("cum_rev_c") / F.lit(100.0), 2).alias("cum_revenue"),
            F.round(
                F.col("cum_rev_c") / F.col("cohort_size").cast("double") / F.lit(100.0),
                2,
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_month", "age_months")
    )


@register(
    "orders_benford_digits",
    oracle="""
WITH d AS (
  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit
  FROM orders
),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
tot AS (SELECT SUM(n) AS t FROM c)
SELECT TRY_CAST(digit AS BIGINT) AS digit, n::BIGINT AS n,
       round(n / CAST(t AS DOUBLE), 6) AS observed_frac,
       round(ln(1.0 + 1.0 / TRY_CAST(digit AS BIGINT)) / ln(10.0), 6) AS benford_frac,
       round(abs(n / CAST(t AS DOUBLE)
                 - ln(1.0 + 1.0 / TRY_CAST(digit AS BIGINT)) / ln(10.0)), 6)
         AS abs_deviation
FROM c CROSS JOIN tot
ORDER BY digit
""",
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen over order values: observed first-significant-
    digit distribution vs the log10(1+1/d) expectation — the classic
    forensic-accounting test (fabricated amounts drift from Benford;
    natural multiplicative processes follow it).

    Determinism: the first digit comes from the DECIMAL STRING of the
    exact integer cents (integer-to-string is exact in every engine —
    never double formatting); the Benford expectation is the identical
    ln-expression tree on both sides, rounded at 6 dp.

    Scale: one map-side-combinable 9-key rollup; the scalar total
    broadcasts."""
    d = load_table(spark, sf_dir, "orders").select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        ).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").alias("t"))
    # try_cast/try_divide: digit '0' (price rounds to 0 cents) or '-'
    # (negative price) yields a NULL expectation row, never an ANSI abort
    dig = F.col("digit").try_cast("long")
    benford = F.log(F.lit(1.0) + F.try_divide(F.lit(1.0), dig)) / F.log(F.lit(10.0))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            dig.alias("digit"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("t").cast("double"), 6).alias("observed_frac"),
            F.round(benford, 6).alias("benford_frac"),
            F.round(
                F.abs(F.col("n") / F.col("t").cast("double") - benford), 6
            ).alias("abs_deviation"),
        )
        .orderBy("digit")
    )


@register(
    "customer_pareto_share",
    oracle="""
WITH c AS (
  SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1
),
r AS (
  SELECT rev, row_number() OVER (ORDER BY rev DESC, o_custkey) AS i,
         count(*) OVER () AS n, SUM(rev) OVER () AS tot
  FROM c
)
SELECT MAX(n)::BIGINT AS n_customers,
       SUM(CASE WHEN i * 5 <= n THEN 1 ELSE 0 END)::BIGINT AS n_top20,
       round(SUM(CASE WHEN i * 5 <= n THEN rev ELSE 0 END)
             / CAST(MAX(tot) AS DOUBLE), 6) AS top20_revenue_share
FROM r
""",
)
def customer_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the revenue share captured by the top 20% of
    customers (the 80/20 rule check, the Lorenz point the Gini coefficient
    integrates). Membership is pure integer rank arithmetic (i·5 ≤ n) over
    the DESCENDING revenue rank.

    The global rank comes from the two-phase bucketed row_number
    (_distributed) — revenue-range buckets rank in parallel; totals are
    exact summed cents with one final double division."""
    from btrblocks_spark.queries._distributed import bucketed_row_number

    c = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    )
    # descending rank: bucket/order on negated revenue
    ranked = bucketed_row_number(
        c.select(F.col("o_custkey"), F.col("rev"), (-F.col("rev")).alias("neg")),
        F.expr("neg div 100000000"),
        ["neg", "o_custkey"],
        idx_col="i",
    ).select("rev", "i")
    tot = ranked.agg(
        F.count("*").alias("n"), F.sum("rev").alias("tot")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.sum(F.when(F.col("i") * 5 <= F.col("n"), 1).otherwise(0))
            .cast("long")
            .alias("n_top20"),
            F.round(
                F.sum(F.when(F.col("i") * 5 <= F.col("n"), F.col("rev")).otherwise(0))
                / F.max("tot").cast("double"),
                6,
            ).alias("top20_revenue_share"),
        )
    )


# ---------------------------------------------------------------------------
# Order backlog over time: weekly opened/closed flow and cumulative stock
# ---------------------------------------------------------------------------


@register(
    "orders_backlog_series",
    oracle="""
WITH op AS (
  SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
         COUNT(*) AS opened
  FROM orders GROUP BY 1
),
cl0 AS (
  SELECT l_orderkey,
         MAX((CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 7) AS wk
  FROM lineitem GROUP BY 1
),
cl AS (SELECT wk, COUNT(*) AS closed FROM cl0 GROUP BY 1),
wks AS (
  SELECT COALESCE(op.wk, cl.wk) AS wk,
         COALESCE(opened, 0) AS opened, COALESCE(closed, 0) AS closed
  FROM op FULL JOIN cl ON op.wk = cl.wk
),
cum AS (
  SELECT a.wk, a.opened, a.closed, SUM(b.opened - b.closed) AS backlog
  FROM wks a JOIN wks b ON b.wk <= a.wk
  GROUP BY a.wk, a.opened, a.closed
)
SELECT CAST(wk AS BIGINT) AS week_idx, CAST(opened AS BIGINT) AS opened,
       CAST(closed AS BIGINT) AS closed, CAST(backlog AS BIGINT) AS backlog
FROM cum
""",
)
def orders_backlog_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time: weekly opened (order date) vs closed
    (last shipment of the order) flows and the cumulative stock — the
    interval-counting query behind every ops dashboard. The cumulative
    runs over the O(weeks) calendar-bounded rollup via the triangular
    self-join (weeks², not rows²) — no global window; every count is an
    exact integer.

    Scale: two map-side-combined rollups (orders by week; lineitem's
    per-order max ship week, shuffled once on orderkey) feed a ~350-row
    week table; everything after is driver-scale."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    op = o.groupBy(
        F.expr("datediff(o_orderdate, DATE'1970-01-01') div 7").alias("wk")
    ).agg(F.count("*").alias("opened"))
    cl = (
        l.groupBy("l_orderkey")
        .agg(
            F.max(F.expr("datediff(l_shipdate, DATE'1970-01-01') div 7")).alias("wk")
        )
        .groupBy("wk")
        .agg(F.count("*").alias("closed"))
    )
    wks = (
        op.join(cl, "wk", "full")
        .select(
            "wk",
            F.coalesce("opened", F.lit(0)).alias("opened"),
            F.coalesce("closed", F.lit(0)).alias("closed"),
        )
    )
    b = wks.select(
        F.col("wk").alias("_bw"), (F.col("opened") - F.col("closed")).alias("_bd")
    )
    cum = (
        wks.join(F.broadcast(b), F.col("_bw") <= F.col("wk"))
        .groupBy("wk", "opened", "closed")
        .agg(F.sum("_bd").alias("backlog"))
    )
    return cum.select(
        F.col("wk").cast("long").alias("week_idx"),
        F.col("opened").cast("long").alias("opened"),
        F.col("closed").cast("long").alias("closed"),
        F.col("backlog").cast("long").alias("backlog"),
    )


# ---------------------------------------------------------------------------
# Frequency-of-frequencies spectrum with Good-Turing smoothing
# ---------------------------------------------------------------------------


@register(
    "customer_order_freq_spectrum",
    oracle="""
WITH c AS (SELECT o_custkey, COUNT(*) AS r FROM orders GROUP BY 1),
all_c AS (
  SELECT c_custkey, COALESCE(r, 0) AS r
  FROM customer LEFT JOIN c ON c_custkey = o_custkey
),
spec AS (SELECT r, COUNT(*) AS nr FROM all_c GROUP BY r),
gt AS (SELECT a.r, a.nr, b.nr AS nr1 FROM spec a LEFT JOIN spec b ON b.r = a.r + 1)
SELECT CAST(r AS BIGINT) AS n_orders, CAST(nr AS BIGINT) AS n_customers,
       round((r + 1) * CAST(COALESCE(nr1, 0) AS DOUBLE) / nr, 6)
         AS good_turing_expected
FROM gt
""",
)
def customer_order_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies: how many customers placed exactly r
    orders (zero included via the dimension anti-side), plus the
    Good-Turing expected count (r+1)·N_{r+1}/N_r — the smoothing estimate
    language models use for unseen-event mass, here applied to customer
    activity. Both rollups are exact integer counts; the spectrum join is
    O(distinct r).

    Scale: one shuffle on custkey, one on r (both map-side combined);
    the spectrum table is tiny at any data size."""
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    c = o.groupBy(F.col("o_custkey")).agg(F.count("*").alias("r"))
    all_c = cust.join(
        c, cust.c_custkey == c.o_custkey, "left"
    ).select(F.coalesce("r", F.lit(0)).alias("r"))
    spec = all_c.groupBy("r").agg(F.count("*").alias("nr"))
    b = spec.select((F.col("r") - 1).alias("r"), F.col("nr").alias("nr1"))
    gt = spec.join(F.broadcast(b), "r", "left")
    return gt.select(
        F.col("r").cast("long").alias("n_orders"),
        F.col("nr").cast("long").alias("n_customers"),
        F.round(
            (F.col("r") + 1) * F.coalesce(F.col("nr1"), F.lit(0)).cast("double")
            / F.col("nr"),
            6,
        ).alias("good_turing_expected"),
    )
