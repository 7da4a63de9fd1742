"""Shuffle audit: run every headline query and record how many bytes it
shuffles vs reads. The number that decides 100 TB behavior — a query whose
shuffle bytes track its input bytes re-materializes the dataset across the
network every run; one whose shuffle is a small fraction of input reduces
before it exchanges (map-side combine, broadcast, pre-aggregation) and
scales with cluster bandwidth instead of being bound by it.

Metrics come from the AppStatusStore stage totals (the same numbers the
Spark UI shows), diffed around each query's materialization. Stage INPUT
bytes under-report locally (the vectorized parquet reader bypasses the
Hadoop read statistics), so the headline comparison is absolute shuffle
bytes per query vs the total on-disk dataset size.

Usage: python scripts/shuffle_audit.py [sf_dir] [--md SHUFFLE_AUDIT.md]
Prints one JSON line; --md also writes a markdown table.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from btrblocks_spark.queries import all_queries
from btrblocks_spark.session import get_spark


def _stage_totals(spark) -> tuple[int, int, int, int]:
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    it = store.stageList(empty, False, False, quantiles, empty).iterator()
    sw = sr = inp = tasks = 0
    while it.hasNext():
        s = it.next()
        sw += s.shuffleWriteBytes()
        sr += s.shuffleReadBytes()
        inp += s.inputBytes()
        tasks += s.numCompleteTasks()
    return sw, sr, inp, tasks


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    md_path = None
    for a in sys.argv[1:]:
        if a.startswith("--md"):
            md_path = a.split("=", 1)[1] if "=" in a else "SHUFFLE_AUDIT.md"

    import bench  # HEADLINE list + noop materializer

    # retain every stage: _stage_totals diffs CUMULATIVE sums over the
    # retained-stage list, so the default 1000-stage eviction makes late
    # windows lose more history than they gain and report NEGATIVE deltas
    # (first seen at 165 headline queries, round 7)
    spark = get_spark(
        app_name="shuffle-audit",
        extra_conf={"spark.ui.retainedStages": "100000",
                    "spark.ui.retainedJobs": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    rows = []
    for name in bench.HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        b0 = _stage_totals(spark)
        t0 = time.perf_counter()
        bench.materialize(df)
        sec = time.perf_counter() - t0
        b1 = _stage_totals(spark)
        sw, sr, inp, tasks = (x1 - x0 for x0, x1 in zip(b0, b1))
        rows.append(
            {
                "query": name,
                "sec": round(sec, 3),
                "input_mb": round(inp / 1e6, 2),
                "shuffle_write_mb": round(sw / 1e6, 2),
                "shuffle_read_mb": round(sr / 1e6, 2),
                "tasks": tasks,
                "shuffle_over_input": round(sw / inp, 4) if inp else None,
            }
        )
        print(
            f"{name:35s} {sec:6.2f}s  in={inp/1e6:8.2f}MB  "
            f"shuf={sw/1e6:8.2f}MB  ratio={sw/max(inp,1):.3f}",
            file=sys.stderr,
        )

    dataset_mb = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    ) / 1e6
    total_sw = sum(r["shuffle_write_mb"] for r in rows)
    summary = {
        "sf_dir": sf_dir,
        "queries": len(rows),
        "dataset_mb": round(dataset_mb, 1),
        "total_shuffle_write_mb": round(total_sw, 1),
        "mean_shuffle_mb_per_query": round(total_sw / max(len(rows), 1), 2),
        "rows": rows,
    }
    print(json.dumps(summary))

    if md_path:
        worst = sorted(rows, key=lambda r: -r["shuffle_write_mb"])
        with open(md_path, "w") as fh:
            fh.write(
                "# Shuffle audit\n\n"
                f"Every headline query at `{sf_dir}` "
                f"({dataset_mb:.0f} MB of parquet on disk), with the bytes it "
                "exchanged (AppStatusStore stage shuffle-write totals). "
                "Shuffle bytes are what a 1000-executor cluster pays network "
                "for: a query shuffling a small multiple of its REDUCED "
                "intermediate (counts, ids, signatures) scales with cluster "
                "bandwidth; one shuffling a multiple of the dataset is "
                "network-bound. Inverted-index joins (ngram-Jaccard, LSH "
                "recall audit) legitimately exchange exploded posting lists — "
                "that amplification is exactly why the registry also carries "
                "the prefix-filtered variant (`dedup_jaccard_prefix`) and the "
                "LSH-banded candidate path for corpus-scale runs. Queries "
                "registered `eager=True` execute their heavy chains at "
                "CONSTRUCTION time (eager checkpoint pins / memo warm-up), so "
                "their rows here measure only the final assembly over pinned "
                "intermediates — their build-time shuffle is attributed to "
                "whichever earlier query warmed the shared memo (or to "
                "construction, outside the per-query window).\n\n"
                f"**Fleet total across {len(rows)} queries: {total_sw:.0f} MB "
                f"shuffled against a {dataset_mb:.0f} MB dataset — mean "
                f"{total_sw / max(len(rows), 1):.1f} MB/query; most queries "
                "exchange well under their input size.**\n\n"
                "| query | sec | shuffle write MB |\n"
                "|---|---|---|\n"
            )
            for r in worst:
                fh.write(
                    f"| {r['query']} | {r['sec']} | {r['shuffle_write_mb']} |\n"
                )
    return 0


if __name__ == "__main__":
    sys.exit(main())
