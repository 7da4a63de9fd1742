"""Physical-plan quality gates — the 100 TB design assertions, checked on
the real optimized plans: predicate/column pushdown reaches the parquet
scan, small dimensions broadcast, no cartesian products sneak in, and
whole-stage codegen covers the hot path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from btrblocks_spark.queries import all_queries
from btrblocks_spark.tables import load_table

QUERIES = all_queries()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30).select(
        "l_orderkey", "l_quantity"
    )
    plan = formatted(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan


def test_column_pruning(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = formatted(df)
    # ReadSchema must contain only the projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_point_lookup_pushes_in_filter(spark, sf_dir):
    plan = formatted(QUERIES["point_lookup"](spark, sf_dir))
    assert "PushedFilters" in plan and "In(o_orderkey" in plan


def test_broadcast_join_used(spark, sf_dir):
    plan = plan_of(QUERIES["join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_star_join_broadcasts_small_dims(spark, sf_dir):
    """join_multi: region/nation are tiny → must broadcast, never
    shuffle-exchange the fact table for them."""
    plan = plan_of(QUERIES["join_multi"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_in_headline(spark, sf_dir):
    for name in ("q1_pricing_summary", "window_rank", "agg_rollup", "dedup_exact",
                 "text_quality", "events_sessionize"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_ann_broadcasts_queries(spark, sf_dir):
    """Query set is the small side — must broadcast against the corpus."""
    plan = plan_of(QUERIES["ann_cosine_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_wholestage_codegen_on_agg(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE: codegen spans appear once the adaptive plan is final
    plan = plan_of(df)
    # '*(n)' node prefixes mark whole-stage-codegen spans in the plan string
    assert "*(" in plan


def test_in_subquery_plans_as_semi_join(spark, sf_dir):
    """Catalyst must decorrelate IN (SELECT ...) to a (broadcast) left-semi
    join — never a cartesian or a per-row subquery."""
    plan = plan_of(QUERIES["filter_in_subquery"](spark, sf_dir))
    assert "LeftSemi" in plan or "SemiJoin" in plan
    assert "CartesianProduct" not in plan


def test_exists_plans_as_semi_and_anti(spark, sf_dir):
    plan = plan_of(QUERIES["filter_exists_correlated"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_pivot_map_side_combined(spark, sf_dir):
    """Explicit pivot values → no values-discovery job, and every exchange
    carries partially-aggregated data (map-side combine), never raw rows.
    Spark's canonical pivot is two agg passes → at most two tiny exchanges."""
    df = QUERIES["agg_pivot"](spark, sf_dir)
    plan = plan_of(df)
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert 1 <= len(exchanges) <= 2, exchanges
    assert "partial_pivotfirst" in plan and "partial_sum" in plan


def test_exact_dedup_shuffles_hash_not_text(spark, sf_dir):
    """The exchange key for exact dedup must be the 32-byte content hash —
    the document text column never crosses the shuffle."""
    plan = plan_of(QUERIES["dedup_exact"](spark, sf_dir))
    exchange_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchange_lines, "expected a hash exchange"
    assert all("content_hash" in l for l in exchange_lines)
    assert all("text" not in l for l in exchange_lines)


def test_salted_join_shuffles_on_salted_key(spark, sf_dir):
    """The whole point of salting: the exchange key must be
    (event_type, _salt), not the 5-value event_type alone."""
    plan = plan_of(QUERIES["events_salted_join"](spark, sf_dir))
    join_lines = [l for l in plan.splitlines() if "ShuffledHashJoin" in l]
    assert join_lines, "expected a shuffled hash join"
    # both join key lists carry the salt (the dim's internal 5-row distinct
    # exchange is unsalted and irrelevant)
    assert all(l.count("_salt") >= 2 for l in join_lines), join_lines


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path_factory):
    """Co-located join via bucketing: orders and lineitem bucketed 8-ways
    on the order key join with ZERO exchanges — each task zips bucket i
    with bucket i. This is the 100 TB answer to recurring joins on a key:
    pay the shuffle once at layout time, never per query."""
    from pyspark.sql import functions as F
    from btrblocks_spark.format.bucketing import write_bucketed
    from btrblocks_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders.select("o_orderkey", "o_totalprice"), "b_orders", ["o_orderkey"])
    write_bucketed(
        lineitem.select("l_orderkey", "l_quantity"), "b_lineitem", ["l_orderkey"]
    )
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        joined = bo.join(
            bl, bo["o_orderkey"] == bl["l_orderkey"]
        ).groupBy("o_orderkey").agg(F.sum("l_quantity").alias("qty"))
        # force SMJ (no broadcast) so the bucketed layout is what's exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = plan_of(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        assert "SortMergeJoin" in plan
        join_section = plan.split("SortMergeJoin")[0]
        assert "Exchange" not in join_section, join_section
        # the aggregation on the bucket key also needs no exchange
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # correctness vs the plain (shuffled) join
        expect = (
            orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
            .groupBy("o_orderkey").agg(F.sum("l_quantity").alias("qty"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, expect.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_encode_docs_broadcasts_vocab(spark, sf_dir):
    """The tokenize-to-ids probe must broadcast the vocab — shuffling the
    exploded token stream to join a 100-row table would be the classic
    100 TB mistake."""
    plan = plan_of(QUERIES["text_encode_docs"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_train_split_no_exchange(spark, sf_dir):
    """Split assignment is a pure narrow map — any Exchange means it
    stopped scaling linearly."""
    plan = plan_of(QUERIES["curation_train_split"](spark, sf_dir))
    assert "Exchange" not in plan


def test_ivf_partitioned_write_prunes_cells(spark, sf_dir, tmp_path_factory):
    """The IVF scale path: cell assignment written partitionBy(cell) at
    ingest; a probe filtered to nprobe cells must hit only those partition
    directories (partition pruning at the file index, before any IO)."""
    from btrblocks_spark.pipeline.similarity import ivf_cells
    from btrblocks_spark.tables import load_table

    out = str(tmp_path_factory.mktemp("ivf")) + "/cells"
    cells = ivf_cells(load_table(spark, sf_dir, "embeddings"), centroid_stride=31)
    cells.write.partitionBy("cell").parquet(out)

    two = [r.cell for r in spark.read.parquet(out).select("cell").distinct().limit(2).collect()]
    probe = spark.read.parquet(out).filter(F.col("cell").isin(two))
    plan = formatted(probe)
    # the cell predicate must appear as a partition filter, not a data filter
    pf = [l for l in plan.splitlines() if "PartitionFilters:" in l]
    assert pf and "cell#" in pf[0] and " IN " in pf[0]
    scanned = probe.count()
    per_cell = dict(
        (r.cell, r.n)
        for r in spark.read.parquet(out).groupBy("cell").agg(F.count("*").alias("n")).collect()
    )
    assert scanned == sum(per_cell[c] for c in two)


def test_gap_fill_broadcasts_spine(spark, sf_dir):
    """events_gap_fill: the hour spine (O(span) rows) must broadcast-join
    the hourly aggregate — no shuffle of the aggregate onto the spine."""
    plan = plan_of(QUERIES["events_gap_fill"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_json_extract_stays_in_codegen(spark, sf_dir):
    """events_json_props: the JSON path extraction is a JVM expression —
    no Python worker (BatchEvalPython/ArrowEvalPython) in the plan."""
    plan = plan_of(QUERIES["events_json_props"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "get_json_object" in plan  # the extraction is a JVM expression


def test_histogram_single_shuffle(spark, sf_dir):
    """stats_histogram: the bounds aggregate broadcasts into the scan; the
    bucket groupBy is the only exchange over the full table (bounds side
    aggregates a single row)."""
    plan = plan_of(QUERIES["stats_histogram"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """filter_not_in_subquery: NOT IN must become a null-aware anti join,
    not a plain LeftAnti (which would be wrong under SQL three-valued
    logic if the subquery ever produced a NULL)."""
    plan = plan_of(QUERIES["filter_not_in_subquery"](spark, sf_dir))
    assert "LeftAnti" in plan
    # Spark marks the null-aware variant either as NAAJ in the join node
    # or as BroadcastNestedLoopJoin fallback — both are null-correct
    assert ("NAAJ" in plan) or ("BuildRight" in plan)


def test_lateral_decorrelates(spark, sf_dir):
    """join_lateral_topk: the LATERAL subquery must decorrelate to a
    window/join plan — no per-outer-row re-execution, no cartesian."""
    plan = plan_of(QUERIES["join_lateral_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Same-bucketed tables join with zero Exchange on either side — the
    co-located join path (format/bucketing.py)."""
    from btrblocks_spark.format.bucketing import bucketed_join, write_bucketed
    from btrblocks_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed(orders, "b_orders", ["o_custkey"], 8, path=str(tmp_path / "bo"))
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "b_cust", ["o_custkey"], 8, path=str(tmp_path / "bc"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_cust", "o_custkey")
        plan = formatted(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # sanity: result matches the shuffled join
        expected = orders.join(
            cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_winsorize_broadcasts_thresholds(spark, sf_dir):
    """The per-stratum clip thresholds (one row per source) must come back
    to the corpus via a broadcast join, never a shuffle of the documents."""
    plan = plan_of(QUERIES["curation_winsorize"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_key_skew_single_scan(spark, sf_dir):
    """stack() melts all three key columns in ONE pass — the lineitem scan
    must appear exactly once in the plan."""
    plan = plan_of(QUERIES["stats_key_skew"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1


def test_tfidf_single_documents_scan(spark, sf_dir):
    """The tfidf chain evaluates the token pipeline once per session at
    runtime: posting lists are ONE aggregation keyed on the token, pairs
    are generated map-side from the collected postings (no self-join of
    two scan subtrees), and the threshold-free pair table is
    session-memoized. A cold build's plan prints the shared postings
    subtree up to three times (dot-product side + the two post-aggregation
    norm join sides — round-9 2nd session: norms attach AFTER the pair
    aggregation so the k² pair stream carries only ids+products; the
    postings exchange is reused across the printed copies), never more,
    and a memo hit renders the whole chain as one InMemoryRelation.

    The test starts from empty memos and an empty cache: once the memoized
    table has been computed, its cached plan prints as the final adaptive
    plan, which shows the postings subtree four times."""
    from btrblocks_spark.tables import memo_stats

    for attr in [a for a in vars(spark) if a.startswith("_btrblocks_")]:
        delattr(spark, attr)
    spark.catalog.clearCache()
    cold = plan_of(QUERIES["dedup_tfidf_cosine"](spark, sf_dir))
    assert memo_stats(spark, "pairs") == (0, 1)
    assert cold.count("documents.parquet") <= 3
    hit = plan_of(QUERIES["dedup_tfidf_cosine"](spark, sf_dir))
    assert memo_stats(spark, "pairs") == (1, 1)
    assert hit.count("InMemoryRelation") == 1


def test_pq_codebook_broadcast_no_shuffle_encode(spark, sf_dir):
    """PQ encode is a narrow map over a broadcast codebook: the corpus side
    must reach the cross join without any Exchange above its scan."""
    from btrblocks_spark.pipeline.similarity import pq_encode

    plan = plan_of(pq_encode(load_table(spark, sf_dir, "embeddings")))
    assert "BroadcastNestedLoopJoin" in plan
    # the only exchanges belong to the single-row codebook aggregation
    # (collect_list over <=n/17 rows), never the corpus scan
    corpus_side = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange" not in corpus_side


def test_partitioned_scan_prunes_partitions(spark, sf_dir, tmp_path_factory):
    """Static partition pruning: a p_date range filter must land in
    PartitionFilters (directory-level elimination), not in the data
    filters, and the scan must touch only the selected partitions."""
    from btrblocks_spark.format.partitioned import write_partitioned

    out = str(tmp_path_factory.mktemp("part_events"))
    write_partitioned(
        load_table(spark, sf_dir, "events"),
        out,
        "p_date",
        F.to_date(F.timestamp_micros(F.expr("ts div 1000"))),
    )
    df = spark.read.parquet(out).filter(
        F.col("p_date").between("2024-01-10", "2024-01-16")
    )
    plan = formatted(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "p_date" in pf and "2024-01-10" in pf
    # the pruned scan reads 7 of 30 day-partitions
    files = df.select(F.input_file_name()).distinct().collect()
    days = {r[0].split("p_date=")[1].split("/")[0] for r in files}
    assert days == {f"2024-01-1{d}" for d in range(0, 7)}


def test_dpp_join_injects_runtime_pruning(spark, sf_dir, tmp_path_factory):
    """Dynamic partition pruning: filtering the DIMENSION (not the
    partition key) must inject a dynamicpruning subquery into the fact
    scan so only matching p_date dirs are read at runtime."""
    from btrblocks_spark.format.partitioned import write_partitioned

    out = str(tmp_path_factory.mktemp("dpp_events"))
    write_partitioned(
        load_table(spark, sf_dir, "events"),
        out,
        "p_date",
        F.to_date(F.timestamp_micros(F.expr("ts div 1000"))),
    )
    fact = spark.read.parquet(out)
    dim = (
        spark.range(30)
        .select(
            F.date_add(
                F.lit("2024-01-01").cast("date"), F.col("id").cast("int")
            ).alias("p_date")
        )
        .filter(F.dayofweek("p_date") == 2)
    )
    joined = fact.join(dim, "p_date").groupBy("p_date").count()
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    physical = plan_of(joined)
    assert "dynamicpruning" in plan or "dynamicpruning" in physical, physical


def test_analyze_stats_feed_planner(spark, sf_dir, tmp_path):
    """Catalog statistics (ANALYZE TABLE) must reach the optimizer: after
    ANALYZE, the optimized plan carries an exact rowCount, and with CBO on
    a filtered-but-file-large table still broadcasts because the planner
    sees row-level sizes instead of raw file bytes — the stats layer T1/T2
    exists for (the reference keeps per-chunk stats for exactly this)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").saveAsTable("cbo_orders")
    spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS FOR ALL COLUMNS")
    prev = spark.conf.get("spark.sql.cbo.enabled")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        df = spark.table("cbo_orders")
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined(), stats.toString()
        assert int(str(stats.rowCount().get())) == orders.count()
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.sql("DROP TABLE IF EXISTS cbo_orders")


def test_aqe_active_on_headline_agg(spark, sf_dir):
    """AQE must wrap shuffling queries (runtime partition coalescing +
    skew-join splitting — the local analog of 1000-executor re-planning)."""
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "AdaptiveSparkPlan" in plan


def test_aqe_converts_smj_to_broadcast_at_runtime(spark, sf_dir):
    """Runtime re-planning: a join whose build side is only KNOWN to be
    small after a filter executes must start as SortMergeJoin (static
    sizes) and finish as BroadcastHashJoin (AQE sees the actual shuffle
    bytes) — the local analog of 1000-executor runtime replanning."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # static estimate: disable planning-time broadcast entirely, but
        # leave AQE's own (runtime-size) threshold on — that split is the
        # point: only actual shuffle bytes may trigger the conversion
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        small = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        joined = li.join(small, li["l_orderkey"] == small["o_orderkey"]).groupBy(
            "l_returnflag"
        ).count()
        assert "SortMergeJoin" in joined._jdf.queryExecution().executedPlan().toString()
        joined.collect()  # same QueryExecution finalizes its adaptive plan
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final, final[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime row-level filtering: when a selective dim filter feeds a
    shuffle join, the optimizer should inject a bloom filter built from the
    dim side into the fact scan (might_contain over bloom_filter_agg) — at
    100 TB this drops most fact rows BEFORE the shuffle instead of
    exchanging them. Thresholds are lowered to make the tiny local tables
    eligible; the plan shape is what's under test."""
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom" in opt or "might_contain" in opt, opt[:2000]
        phys = plan_of(j).lower()
        assert "might_contain" in phys or "bloomfilter" in phys, phys[:2000]
        # and it must still produce the right answer with the filter active
        [row] = j.collect()
        expect = (
            li.join(
                load_table(spark, sf_dir, "orders").filter(
                    "o_orderpriority = '1-URGENT'"
                ),
                li["l_orderkey"] == F.col("o_orderkey"),
            ).count()
        )
        assert row["count"] == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")


def test_sort_advisor_approx_expand_free_same_choice(spark, sf_dir):
    """The production sort-key advisor (HLL sketches) must plan WITHOUT the
    Expand node that makes the exact variant the fleet's biggest shuffle
    line (43.9 MB at sf0.1), and must still pick the SAME best sort key as
    the exact countDistinct ranking on testdata."""
    exact_plan = plan_of(QUERIES["format_sort_advisor"](spark, sf_dir))
    approx_plan = plan_of(QUERIES["format_sort_advisor_approx"](spark, sf_dir))
    assert "Expand" in exact_plan  # the cost being avoided is real
    assert "Expand" not in approx_plan

    def best(name):
        rows = QUERIES[name](spark, sf_dir).collect()
        return min(rows, key=lambda r: (r["est_total_runs"], r["sort_col"]))[
            "sort_col"
        ]

    assert best("format_sort_advisor_approx") == best("format_sort_advisor")


def test_fd_profile_approx_expand_free_same_verdicts(spark, sf_dir):
    """Round-7: the production FD profiler (HLL sketches) must plan WITHOUT
    the Expand node of the exact variant (the fleet's last Expand scan
    after the sort advisor was sketched in round 6) and must emit the SAME
    per-pair fd_holds verdicts as exact countDistinct on testdata."""
    exact_plan = plan_of(QUERIES["format_fd_profile"](spark, sf_dir))
    approx_plan = plan_of(QUERIES["format_fd_profile_approx"](spark, sf_dir))
    assert "Expand" in exact_plan  # the cost being avoided is real
    assert "Expand" not in approx_plan

    def verdicts(name):
        return {
            (r["det_col"], r["dep_col"]): r["fd_holds"]
            for r in QUERIES[name](spark, sf_dir).collect()
        }

    ve, va = verdicts("format_fd_profile"), verdicts("format_fd_profile_approx")
    assert set(ve) == set(va)
    assert ve == va
    # the testdata profile must exercise BOTH verdict classes or the
    # equality above proves nothing
    assert any(ve.values()) and not all(ve.values())


# Queries whose initial physical plan references one base table >2 times by
# construction — each is a bounded multi-branch shape (several small
# aggregates / chain compositions over ONE logical pass each, every branch
# pushed-down and columnar), frozen here so NEW queries can't silently join
# the club (round-8 VERDICT #2). The round-7 offenders (stats_jackknife_group
# 5×, stats_theil_sen 4×, events_kaplan_meier 12×) were FIXED via pinned
# reduced intermediates and are deliberately NOT listed.
_MULTI_SCAN_OK = {
    "ann_filtered_topk", "ann_ivf_topk", "ann_pq_topk", "ann_sq8_topk", "curation_dsir_resample",
    "curation_dsir_topk", "curation_theil_inequality",
    "curation_training_batches", "customer_pareto_share",
    "dedup_cross_source_leakage",
    "dedup_minhash_estimate", "dedup_minhash_lsh",
    # method_impact composes four memo-keyed chains over the RAW documents
    # plan (one scan per chain, each shared session-wide with its
    # standalone query) — a per-query localCheckpoint pin would fork the
    # memo key every run and defeat that sharing (round-8)
    "dedup_method_impact",
    # the inverted-index chain counts document frequency and/or per-doc
    # size as aggregates joined back onto the same distinct-shingle stream
    # (round-8 window→join rewrite; round-9 moved the sizes joins AFTER the
    # pair aggregation so the k² pair stream carries only doc ids): up to
    # three references to one reused subtree in the initial plan — and the
    # memoized chain's plan gains an InMemoryRelation rendering (one more
    # printed copy of the subtree) once any earlier consumer materialized
    # it, so the count is session-state-dependent. Runtime scans documents
    # once either way (reused exchange + session memo).
    "dedup_containment",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    # the recall audits consume the session-shared ngram_jaccard_pairs
    # truth (round-9 2nd session — one exact-truth table per session, not
    # a second builder of the same pair set) plus the minhash candidate
    # memo: their initial plans print both memo-keyed chains' subtrees
    # (the inverted-index chain itself prints its postings aggregate under
    # each post-agg size join — see the dedup_ngram_jaccard entry), and
    # memo hits render as InMemoryRelation copies, so the printed count is
    # session-state-dependent. Runtime scans documents at most once per
    # chain per session (reused exchange + session memo).
    "dedup_lsh_recall",
    "dedup_lsh_tuned_recall",
    # same join-back shape as the inverted-index chain (round-9 2nd
    # session): tfidf norms attach AFTER the pair aggregation, so the
    # initial plan references the shared postings subtree three times
    # (dots + two norm join sides) — one reused exchange at runtime, and
    # the whole threshold-free chain is session-memoized
    "dedup_tfidf_cosine",
    "dedup_similarity_histogram", "events_audience_overlap", "events_funnel",
    "events_poisson_rate_test", "events_trend_test", "filter_scalar_subquery",
    "merge_scd2_customers", "multimodal_ahash_neardup",
    "quality_constraint_audit", "retrieval_phrase_search",
    "retrieval_query_likelihood", "retrieval_rrf_hybrid", "stats_chi_square",
    "stats_cramers_v", "stats_kendall_tau", "stats_mann_whitney_u",
    "stats_spearman", "stats_weighted_median",
    "text_bigram_perplexity", "text_bm25_topk", "text_decontaminate",
    "text_dsir_weights", "text_kneser_ney_bigram", "text_source_divergence",
    "text_unigram_surprisal",
}

_BASE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "partsupp",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _scan_counts(plan: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for line in plan.splitlines():
        if "FileScan" not in line:
            continue
        for t in _BASE_TABLES:
            if f"{t}.parquet" in line:
                counts[t] = counts.get(t, 0) + 1
    return counts


def test_round7_offenders_stay_single_scan(spark, sf_dir):
    """The three round-7 weak-plan queries keep their pinned shape: their
    final plans carry ZERO FileScans (the one base scan runs once at pin
    time), so they can never silently regress into _MULTI_SCAN_OK
    territory."""
    for name in (
        "stats_jackknife_group", "stats_theil_sen", "events_kaplan_meier"
    ):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "FileScan" not in plan, f"{name} re-derives its base scan"


# --- fleet-wide gates: one plan pass over every registered query -----------
# They run last in this file: building every plan runs the eager builders
# and fills the session memos, and a memo hit changes how later plans in
# this file print (see test_tfidf_single_documents_scan).


@pytest.fixture(scope="session")
def registered_plans(spark, sf_dir) -> dict:
    """Every registered query's executed plan, or the exception planning it
    raised, built once for the three fleet-wide gates below."""
    plans = {}
    for name, fn in sorted(QUERIES.items()):
        try:
            plans[name] = plan_of(fn(spark, sf_dir))
        except Exception as exc:  # planning itself must not fail either
            plans[name] = exc
    return plans


# join_cross deliberately declares a CROSS JOIN (§2b set-op surface); the ANN
# family cross-joins a handful of broadcast query vectors/centroids against
# the corpus — that plans as BroadcastNestedLoopJoin, never CartesianProduct.
_CROSS_OK = {"join_cross"}


def test_no_cartesian_in_any_registered_query(registered_plans):
    """Fleet-wide scale gate: no registered query may plan an un-broadcast
    cartesian product — at 100 TB that is always a bug, not a strategy."""
    bad = []
    for name, plan in registered_plans.items():
        if name in _CROSS_OK:
            continue
        if isinstance(plan, Exception):
            bad.append(f"{name}: failed to plan ({plan})")
            continue
        if "CartesianProduct" in plan:
            bad.append(f"{name}: CartesianProduct in plan")
    assert not bad, "\n".join(bad)


def test_no_global_window_in_any_registered_query(registered_plans):
    """Fleet-wide scale gate: no registered query may sort ALL rows into one
    task for a window function (Window above Exchange SinglePartition).
    Single-partition exchanges for global scalar aggregates are fine (the
    partial agg upstream reduces to O(groups) rows); a global window moves
    the whole dataset through one task — at 100 TB that is the job that
    never finishes. Global-order semantics must go through the two-phase
    bucketed helpers (queries/_distributed.py)."""
    bad = []
    for name, tree in registered_plans.items():
        if isinstance(tree, Exception):
            bad.append(f"{name}: failed to plan ({tree})")
            continue
        lines = tree.splitlines()
        for i, line in enumerate(lines):
            if "Window" not in line or "window_bucket" in line:
                continue
            # the two-phase helpers (queries/_distributed.py) run their
            # phase-2 fixup window over the one-row-per-bucket meta table,
            # ordered by the bucket id `_b` — O(buckets) rows, scale-safe
            if "_b#" in line:
                continue
            below = "\n".join(lines[i + 1 : i + 6])
            # a window directly over a distinct reduction (HashAggregate
            # with no agg functions) sees O(NDV) rows — the dictionary-build
            # shape (codes = dense_rank over sorted distinct values), small
            # by the same gate that makes DICT the chosen scheme
            if "HashAggregate" in below and "functions=[]" in below:
                continue
            # a Window's input appears directly below it in the tree dump;
            # a SinglePartition exchange within the next few lines means the
            # window sees the full, un-keyed row stream
            if "Exchange SinglePartition" in "\n".join(lines[i + 1 : i + 4]):
                bad.append(f"{name}: global window over SinglePartition exchange")
                break
    assert not bad, "\n".join(bad)


def test_no_redundant_base_scans_in_any_registered_query(registered_plans):
    """Fleet-wide scale gate (round-8 VERDICT #2): no registered query's
    initial physical plan may scan the same base table more than twice —
    at 100 TB every redundant FileScan is a full extra pass over the
    table. Multi-referenced small aggregates must pin the reduced
    intermediate (localCheckpoint + eager=True) or thread scalars through
    the next aggregate (the stats_theil_sen convention). Pre-existing
    bounded multi-branch shapes are frozen in _MULTI_SCAN_OK."""
    bad = []
    for name, plan in registered_plans.items():
        if name in _MULTI_SCAN_OK:
            continue
        if isinstance(plan, Exception):
            bad.append(f"{name}: failed to plan ({plan})")
            continue
        over = {t: c for t, c in _scan_counts(plan).items() if c > 2}
        if over:
            bad.append(f"{name}: redundant base scans {over}")
    assert not bad, "\n".join(bad)
