"""Scaling evidence: run the heavy pipeline chains at 1x and 10x data and
report wall-time ratios. A shape that scales linearly here (fixed overheads
amortizing, ratio < 10 for 10x rows with the same local cores) is the shape
that fans out on a real cluster; a super-linear ratio flags a quadratic
blowup or a serialization point.

10x corpora are built by unioning id-offset copies; document text gets a
per-copy suffix token so copies are NOT near-duplicates of each other
(otherwise LSH bucket pair generation would be quadratic in the copy count
by construction, which measures the data, not the engine).

Usage: python scripts/scale_experiment.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F

from btrblocks_spark.session import get_spark
from btrblocks_spark.tables import load_table, memo_entries, memo_stats


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def scale_union(df, id_col: str, copies: int, text_col: str | None = None):
    parts = []
    for i in range(copies):
        p = df.withColumn(id_col, F.col(id_col) + F.lit(i * 10_000_000))
        if text_col is not None and i > 0:
            p = p.withColumn(
                text_col, F.concat(F.col(text_col), F.lit(f" u{i}x"), F.col(id_col).cast("string"))
            )
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(cpus=32)

    from btrblocks_spark.pipeline.dedup import minhash_lsh_pairs
    from btrblocks_spark.pipeline.similarity import cosine_topk
    from btrblocks_spark.pipeline.text import quality_scores

    docs = load_table(spark, sf_dir, "documents").localCheckpoint()
    embs = load_table(spark, sf_dir, "embeddings").localCheckpoint()
    docs10 = scale_union(docs, "doc_id", 10, "text").localCheckpoint()
    embs10 = scale_union(embs, "vec_id", 10).localCheckpoint()

    from btrblocks_spark.pipeline.text import source_divergence

    def novelty(d):
        from btrblocks_spark.pipeline.text import shingles

        sh = shingles(d, n=3)
        occ = sh.groupBy("doc_id", "shingle").agg(F.count("*").alias("c"))
        first = occ.groupBy("shingle").agg(F.min("doc_id").alias("fd"))
        materialize(
            occ.join(first, "shingle")
            .groupBy("doc_id")
            .agg(F.sum(F.when(F.col("fd") == F.col("doc_id"), F.col("c")).otherwise(0)))
        )

    def minhash_fresh(d):
        # the pairs session memo would make every rep after the warmup a
        # cache READ — this experiment measures the chain, so evict the
        # memo and its cache pins before each run
        pairs = memo_entries(spark, "pairs")
        for _src, cached in pairs.values():
            cached.unpersist()
        pairs.clear()
        misses = memo_stats(spark, "pairs")[1]
        materialize(minhash_lsh_pairs(d))
        assert memo_stats(spark, "pairs")[1] == misses + 1, "chain not rebuilt"

    chains = {
        "minhash_lsh": minhash_fresh,
        "quality_scores": lambda d: materialize(quality_scores(d)),
        "source_divergence": lambda d: materialize(source_divergence(d)),
        "ngram_novelty": novelty,
    }
    report = {}
    for name, fn in chains.items():
        fn(docs)  # warm
        t1 = timed(lambda: fn(docs))
        t10 = timed(lambda: fn(docs10))
        report[name] = {"t_1x": t1, "t_10x": t10, "ratio": round(t10 / t1, 2)}

    materialize(cosine_topk(embs, query_ids=[0, 1, 2, 3]))
    t1 = timed(lambda: materialize(cosine_topk(embs, query_ids=[0, 1, 2, 3])))
    t10 = timed(lambda: materialize(cosine_topk(embs10, query_ids=[0, 1, 2, 3])))
    report["ann_cosine_topk"] = {"t_1x": t1, "t_10x": t10, "ratio": round(t10 / t1, 2)}

    print(json.dumps({"sf_dir": sf_dir, "rows_1x": docs.count(), "chains": report}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
