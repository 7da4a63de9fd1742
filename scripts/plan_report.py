"""Dump `explain(formatted)` physical plans for representative headline
queries into PLANS.md — the reviewable evidence that each operator family
compiles to the plan you'd want at 100 TB (pushed filters, pruned columns,
broadcast dims, partial aggregation, whole-stage codegen, runtime pruning).

Usage: python scripts/plan_report.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from btrblocks_spark.queries import all_queries
from btrblocks_spark.session import get_spark

# query -> what to look for in its plan (written into the doc)
SHOWCASE = {
    "q1_pricing_summary": (
        "Scan→filter→agg: the shipdate filter lands in PushedFilters, "
        "ReadSchema holds only the 7 referenced columns, and the aggregate "
        "runs as partial (map-side) + final HashAggregate inside one "
        "WholeStageCodegen span."
    ),
    "q3_shipping_priority": (
        "Star join: both dimension sides broadcast (BroadcastHashJoin); "
        "only the fact table streams. No shuffle join at any scale where "
        "the dims fit the 64 MB broadcast budget."
    ),
    "events_sessionize": (
        "Sessionization: one Exchange hash-partitions by user_id; the gap "
        "window, session ids, and the final per-session aggregate all reuse "
        "that single partitioning."
    ),
    "dedup_minhash_lsh": (
        "MinHash LSH: signatures are computed in a narrow map (no UDF — "
        "xxhash64/aggregate built-ins), banding explodes 4 rows/doc, and "
        "the bucket self-join shuffles only (band, bucket, doc_id) triples "
        "— the raw text never moves."
    ),
    "ann_cosine_topk": (
        "Brute-force ANN: the query vectors broadcast "
        "(BroadcastNestedLoopJoin over a handful of rows); corpus scan "
        "stays partition-parallel; top-k is TakeOrderedAndProject, never a "
        "global sort."
    ),
    "text_encode_docs": (
        "Tokenize-to-ids: the vocab probe is a broadcast join after an "
        "explode; the per-doc id sequence is rebuilt with a partitioned "
        "window keyed by doc_id — corpus text shuffles zero times."
    ),
    "format_dpp_join": (
        "Dynamic partition pruning: the filtered dim side appears as a "
        "dynamicpruning subquery inside the fact scan's PartitionFilters — "
        "partitions are skipped at runtime before any fact bytes are read."
    ),
    "stats_percentile_profile": (
        "Exact percentiles: the only window runs over the (flag, "
        "distinct-value) frequency table — HashAggregate output, O(NDV) "
        "rows — never over raw rows; percentile selection is an integer "
        "filter + min."
    ),
    "stats_corr_matrix": (
        "Correlation matrix: all 15 moment sums fuse into ONE partial+final "
        "HashAggregate pair (single scan, one-row exchange); the six corr "
        "rows are unions of projections over that one aggregate."
    ),
    "basket_association_rules": (
        "Association rules: baskets build in one orderkey exchange "
        "(collect_set), pair generation is a narrow generator explode over "
        "the basket array — no self-join; item supports broadcast back."
    ),
    "customer_rfm_segments": (
        "RFM scoring: the quartile thresholds reduce to a 3-row broadcast "
        "(BroadcastNestedLoopJoin of one-row frames); per-customer scoring "
        "is map-side on the single per-customer aggregate exchange."
    ),
    "text_source_divergence": (
        "Drift divergence: one map-side-combined groupBy(source, w) is the "
        "only corpus-sized exchange; per-source totals broadcast, the vocab "
        "join keys on w, and the closed-form absent-word terms mean no "
        "vocab × sources cross join ever materializes."
    ),
    "text_source_overlap": (
        "Contamination matrix: corpus reduces to distinct (source, shingle) "
        "in one exchange; the self-join fan-out per shingle is bounded by "
        "|sources| (not documents), and the output is the driver-scale "
        "pair matrix with exact-integer Jaccard."
    ),
    "format_sort_advisor_approx": (
        "Sketched layout advisor: every approx_count_distinct pair runs as "
        "a partial+final HashAggregate over HLL sketch buffers in ONE pass — no Expand "
        "node, so the exchange carries fixed-size register sets per "
        "partition (0.01 MB at sf0.1) instead of the exact variant's "
        "exploded 43.9 MB distinct-pair stream."
    ),
    "events_attribution": (
        "Attribution: ONE user_id exchange feeds the shared backward "
        "window (conditional MAX + last_value IGNORE NULLS in the same "
        "frame); everything after operates on the checkpoint-pinned "
        "per-channel rollup, so the scan+window chain executes exactly "
        "once."
    ),
    "retrieval_mmr_rerank": (
        "Unrolled greedy: the three argmax stages and the 3-way output "
        "union all read the eagerly-pinned candidate/sim tables "
        "(broadcast-sized), so the final plan is scan-free join+agg tails "
        "— without the pins it re-derived the ANN chain ~20×."
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    spark = get_spark(app_name="plan-report", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    parts = [
        "# Physical plans — representative headline queries\n\n"
        f"Auto-generated by `scripts/plan_report.py` at `{sf_dir}` "
        "(plan shapes are scale-invariant; AQE re-plans sizes at runtime).\n"
    ]
    for name, note in SHOWCASE.items():
        df = queries[name](spark, sf_dir)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        parts.append(f"\n## {name}\n\n{note}\n\n```\n{formatted}```\n")
    with open(out_md, "w") as fh:
        fh.write("".join(parts))
    print(f"wrote {out_md} ({len(SHOWCASE)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
