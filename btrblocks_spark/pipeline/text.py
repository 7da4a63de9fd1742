"""Text analysis operators: tokenization, shingling, portable hashing,
language-ID, quality scoring, token counting, fingerprinting.

All operators are pure Spark built-ins (JVM-side, whole-stage codegen; no
Python UDFs in the hot path) and use *portable* deterministic arithmetic —
``md5``-derived 32-bit hashes — so results are reproducible bit-exactly on
any engine (the DuckDB oracle runs the same formulas).

Scale notes (100 TB): every operator here is embarrassingly parallel per
document — no shuffle except the final per-doc ``groupBy(doc_id)``, which is
a map-side-combinable aggregation on the table's natural key (near-zero
skew: one group per document). Shingling and tokenization are narrow maps
(array functions over the scan) — no windows anywhere in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 32-bit multiplicative-hash constants for MinHash permutations (primes).
# The first 8 pairs are frozen literals (registered oracles mirror them in
# SQL); the list is extended deterministically to 128 pairs so callers can
# run production-scale signatures (num_perm up to 128) without new constants.
_MINHASH_PERMS_BASE: list[tuple[int, int]] = [
    (1299721, 15485863),
    (1299827, 32452843),
    (1299833, 49979687),
    (1299709, 67867967),
    (1300021, 86028121),
    (1300033, 104395301),
    (1300109, 122949823),
    (1300151, 141650939),
]


def _next_primes(start: int, count: int) -> list[int]:
    out, x = [], start + 1
    while len(out) < count:
        is_p = x % 2 == 1
        d = 3
        while is_p and d * d <= x:
            if x % d == 0:
                is_p = False
            d += 2
        if is_p:
            out.append(x)
        x += 1
    return out


def _extend_perms(total: int) -> list[tuple[int, int]]:
    base = list(_MINHASH_PERMS_BASE)
    need = total - len(base)
    a_s = _next_primes(base[-1][0], need)
    b_s = _next_primes(base[-1][1], need)
    return base + list(zip(a_s, b_s))


MINHASH_PERMS: list[tuple[int, int]] = _extend_perms(128)
MERSENNE31 = 2147483647

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic (deterministic, dependency-free).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "los", "las", "por"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}

# BPE-ish tokenizer regex: letter runs | digit runs | single punctuation.
# Kept RE2/Java-regex compatible so Spark and the oracle agree.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def hash32(col: Column) -> Column:
    """Portable 32-bit hash: first 8 hex digits of md5 as an unsigned int.
    Identical in Spark (`conv(substr(md5(x),1,8),16,10)`) and DuckDB
    (`('0x'||substr(md5(x),1,8))::BIGINT`)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# the whitespace class is spelled OUT, not \s: Java's \s includes
# vertical tab U+000B, RE2's (DuckDB) does not — an explicit identical
# class keeps the content hash engine-stable. (Unicode case folding is
# the remaining cross-engine boundary: Java full case mapping lowers
# final sigma / dotted-I differently from utf8proc — texts relying on
# those locale-special mappings hash differently per engine; ASCII and
# simple-case text, i.e. real corpus bulk, is exact.)
_WS_CLASS = "[ \t\n\r\f\x0B]+"


def normalized(col: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), _WS_CLASS, " "))


def tokens(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per (doc, position, word); whitespace tokenization."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    )


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Word n-gram shingles, fully map-side: build the n-gram array with
    array functions (sequence + slice over the token array) and explode.
    No window, no shuffle — at 100 TB shingling is a pure narrow map over
    the scan, which is what makes every downstream dedup shape one-shuffle."""
    arr = F.split(F.col(text_col), " ")
    grams = F.expr(
        f"transform(sequence(1, size(_toks) - {n - 1}), i -> array_join(slice(_toks, i, {n}), ' '))"
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), arr.alias("_toks"))
        # sequence(1, k) needs k >= 1: guard short docs (sequence would run
        # backwards for start > stop, emitting truncated shingles)
        .select(
            "doc_id",
            F.explode(
                F.when(F.size("_toks") >= n, grams).otherwise(
                    F.expr("cast(array() as array<string>)")
                )
            ).alias("shingle"),
        )
    )


def _lang_vote_aggs() -> list[Column]:
    """One conditional count per language over a lowercased token stream
    (column ``lw``) — all languages tallied in a single aggregation pass."""
    return [
        F.sum(F.when(F.col("lw").isin(*words), 1).otherwise(0)).alias(f"_hits_{lang}")
        for lang, words in sorted(LANG_STOPWORDS.items())
    ]


def _lang_pick(prefix: str = "_hits_") -> tuple[Column, Column]:
    """(pred_lang, best_hits) from the per-language hit columns. Argmax with
    ties broken by ascending language code — the when-chain runs in sorted
    order, so the first language reaching the max wins, matching
    ``ORDER BY hits DESC, lang`` row_number semantics."""
    langs = sorted(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"{prefix}{lang}") for lang in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"{prefix}{lang}") == best, F.lit(lang))
    return pred, best


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: for each language, count tokens that hit
    its stopword list; predict the argmax (ties broken by language code).
    Returns (doc_id, pred_lang, best_hits).

    Shape: ONE aggregation — per-language hits are conditional sums over a
    single token stream (map-side combinable, no vocab join, no window, no
    join back for zero-hit docs: they aggregate to all-zero hits → 'und').
    ``coalesce(text, '')`` keeps null-text docs in the stream (zero hits),
    matching the oracle's LEFT JOIN semantics."""
    t = docs.select(
        "doc_id",
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("w"),
    ).withColumn("lw", F.lower("w"))
    votes = t.groupBy("doc_id").agg(*_lang_vote_aggs())
    pred, best = _lang_pick()
    return votes.select(
        "doc_id", pred.alias("pred_lang"), best.cast("long").alias("best_hits")
    )



def quality_composite() -> F.Column:
    """THE quality composite (reward saturating length, distinct vocab, low
    punctuation), shared by text.quality_scores and curation.retained_docs
    so the formula cannot drift between the scorer and the funnel. Inputs
    are the per-doc aggregate columns n_tokens / uniq_tokens / n_punct /
    n_chars. try_divide + coalesce: an empty doc (n_chars=0) scores its
    other terms instead of aborting under ANSI mode."""
    return F.round(
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.col("uniq_tokens") / F.col("n_tokens")) * 0.4
        + (F.lit(1.0) - F.least(
            F.coalesce(F.try_divide(F.col("n_punct"), F.col("n_chars")), F.lit(0.0)) * 10,
            F.lit(1.0),
        )) * 0.2,
        6,
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic document quality: token count, mean token length,
    punctuation ratio, stopword ratio, and a composite [0,1] score.
    All integer/ratio arithmetic — deterministic across engines."""
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    # carry the per-doc text-level metrics THROUGH the explode and recover
    # them with first() in the same aggregation — one scan, one shuffle, no
    # join of a "base" frame back against the token aggregate.
    # CAREFUL: the expensive exprs are computed in a Project BELOW the
    # Generate (explode of a column *reference*) — putting explode(...) in
    # the same select would make Catalyst's generator extraction evaluate
    # them per token, not per document (measured 10x slower).
    pre = docs.select(
        "doc_id",
        F.length("text").alias("_n_chars"),
        F.size(F.regexp_extract_all("text", F.lit("[^A-Za-z0-9 ]"), 0)).alias("_n_punct"),
        F.split("text", " ").alias("_toks"),
    )
    t = pre.select(
        "doc_id", "_n_chars", "_n_punct", F.explode("_toks").alias("w")
    ).withColumn("lw", F.lower("w"))
    per_doc = t.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.length("w")).alias("chars_in_tokens"),
        F.sum(F.when(F.col("lw").isin(*all_stop), 1).otherwise(0)).alias("stop_hits"),
        F.countDistinct("lw").alias("uniq_tokens"),
        F.first("_n_chars").alias("n_chars"),
        F.first("_n_punct").alias("n_punct"),
    )
    return (
        per_doc
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("chars_in_tokens") / F.col("n_tokens"), 6).alias("mean_tok_len"),
            # try_divide: an empty doc (n_chars=0) must score, not abort
            # the whole corpus job under ANSI mode
            F.round(F.try_divide(F.col("n_punct"), F.col("n_chars")), 6).alias("punct_ratio"),
            F.round(F.col("stop_hits") / F.col("n_tokens"), 6).alias("stopword_ratio"),
            F.round(F.col("uniq_tokens") / F.col("n_tokens"), 6).alias("ttr"),
            quality_composite().alias("quality"),
        )
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens and BPE-ish regex tokens
    (letter-runs | digit-runs | punctuation) per document."""
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0)).alias("bpe_tokens"),
        F.length("text").alias("n_chars"),
        # try_divide: whitespace-only text has zero BPE tokens — NULL ratio,
        # not an ANSI DIVIDE_BY_ZERO abort
        F.round(
            F.try_divide(
                F.length("text"),
                F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0)),
            ),
            6,
        ).alias("chars_per_bpe_token"),
    )


def fingerprints(docs: DataFrame, n: int = 3) -> DataFrame:
    """Document fingerprinting: whole-text content hash (md5 of normalized
    text) + winnowing-style min-shingle-hash fingerprint."""
    sh = shingles(docs, n).withColumn("h", hash32(F.col("shingle")))
    minsh = sh.groupBy("doc_id").agg(F.min("h").alias("min_shingle_hash"))
    return (
        docs.select(
            "doc_id",
            F.md5(normalized(F.col("text"))).alias("content_hash"),
        )
        .join(minsh, "doc_id", "left")
        .select(
            "doc_id",
            "content_hash",
            F.coalesce("min_shingle_hash", F.lit(-1)).alias("min_shingle_hash"),
        )
    )


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition metrics (Rae et al. 2021's
    repetition filters, adapted to word n-grams since the corpus has no line
    structure): per document,

      n_tokens          total whitespace tokens
      top_token_frac    occurrences of the most frequent token / n_tokens
      top_bigram_frac   occurrences of the most frequent 2-gram / total 2-grams
      dup_trigram_frac  fraction of 3-gram occurrences that are repeats
                        (total - distinct) / total

    A training pipeline thresholds these to drop boilerplate/spam (e.g.
    top_bigram_frac > 0.18, dup_trigram_frac > 0.30 in Gopher).

    Shape: ZERO shuffles — per document, each n-gram stream is sorted
    map-side (arrays of ≤ doc-length grams) and a single ``aggregate`` fold
    over the sorted array counts the longest equal-run (the top gram's
    occurrences) and the distinct grams. Per-doc work is O(tokens · log
    tokens); nothing leaves the task — at 100 TB this operator is as cheap
    as a projection, where the naive explode + groupBy(doc, n, gram) form
    shuffles one row per gram occurrence.
    """

    def _grams(n: int) -> Column:
        if n == 1:
            return F.col("_toks")
        g = F.expr(
            "transform(sequence(1, size(_toks) - %d), i -> concat_ws(' ', %s))"
            % (n - 1, ", ".join(f"element_at(_toks, i + {j})" for j in range(n)))
        )
        # sequence(1, k) needs k >= 1: guard short docs
        return F.when(F.size("_toks") >= n, g).otherwise(
            F.expr("cast(array() as array<string>)")
        )

    def _profile(n: int) -> Column:
        """(mx, dst) of the sorted n-gram array via one fold: the max run of
        equal adjacent elements is the top gram's count; run starts count
        distincts. NULL text tokens can't occur (split never yields null),
        so x == acc.prev is false exactly at run starts."""
        return F.expr(
            """
            aggregate(
              array_sort(_g%d),
              struct(cast(null as string) AS prev, 0 AS run, 0 AS mx, 0 AS dst),
              (acc, x) -> IF(x = acc.prev,
                struct(x AS prev, acc.run + 1 AS run,
                       greatest(acc.mx, acc.run + 1) AS mx, acc.dst AS dst),
                struct(x AS prev, 1 AS run, greatest(acc.mx, 1) AS mx,
                       acc.dst + 1 AS dst)),
              acc -> struct(acc.mx AS mx, acc.dst AS dst))
            """
            % n
        )

    t = docs.select("doc_id", F.split("text", " ").alias("_toks")).select(
        "doc_id",
        F.size("_toks").alias("_tot1"),
        *[_grams(n).alias(f"_g{n}") for n in (1, 2, 3)],
    )
    t = t.select(
        "doc_id",
        "_tot1",
        F.size("_g2").alias("_tot2"),
        F.size("_g3").alias("_tot3"),
        *[_profile(n).alias(f"_p{n}") for n in (1, 2, 3)],
    )
    frac = lambda num, den: F.when(F.col(den) > 0, F.round(num / F.col(den), 6))  # noqa: E731
    return t.select(
        "doc_id",
        F.col("_tot1").cast("long").alias("n_tokens"),
        frac(F.col("_p1.mx"), "_tot1").alias("top_token_frac"),
        frac(F.col("_p2.mx"), "_tot2").alias("top_bigram_frac"),
        frac(F.col("_tot3") - F.col("_p3.dst"), "_tot3").alias("dup_trigram_frac"),
    )


def build_vocab(docs: DataFrame, vocab_size: int = 100) -> DataFrame:
    """Frequency vocabulary: the ``vocab_size`` most frequent lowercased
    tokens, assigned ids 1..vocab_size by (count desc, token asc); id 0 is
    reserved for UNK at encode time.

    Shape: one groupBy(token) count (map-side combinable) → global top-k
    (TakeOrderedAndProject) → rank window over the ALREADY-REDUCED top-k
    frame. The single-partition window is bounded by vocab_size (a few
    hundred thousand rows at worst), never by corpus size — that's what
    makes global rank assignment safe here when it isn't in general."""
    from pyspark.sql.window import Window

    counts = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("token_count"))
        .orderBy(F.desc("token_count"), F.asc("token"))
        .limit(vocab_size)
    )
    w = Window.orderBy(F.desc("token_count"), F.asc("token"))
    return counts.select(
        "token", F.row_number().over(w).alias("token_id"), "token_count"
    )


def encode_docs(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Encode every document to its token-id sequence against ``vocab``
    (unknown tokens → 0): (doc_id, n_tokens, token_ids array<int>) — the
    tokenize-to-ids step every LLM training pipeline runs over the corpus.

    Shape: token explode (map-side) → broadcast hash join against the vocab
    (no shuffle of the token stream) → one groupBy(doc_id) that rebuilds
    the sequence order-exactly via sort-by-position on the collected
    (pos, id) structs. One shuffle total, keyed on doc_id."""
    t = tokens(docs).withColumn("lw", F.lower("w"))
    enc = t.join(
        F.broadcast(vocab.select(F.col("token"), F.col("token_id"))),
        t.lw == F.col("token"),
        "left",
    ).select("doc_id", "pos", F.coalesce("token_id", F.lit(0)).alias("tid"))
    return enc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.expr("transform(array_sort(collect_list(struct(pos, tid))), s -> s.tid)").alias(
            "token_ids"
        ),
    )


def corpus_topk_ngrams(docs: DataFrame, n: int = 3, k: int = 20) -> DataFrame:
    """Corpus-wide heavy hitters: the ``k`` most frequent word ``n``-grams
    with total occurrence count and document frequency. Ties broken by gram
    text ascending (deterministic).

    Shape: shingle explode (map-side) → one groupBy(gram) with map-side
    partial aggregation → global top-k. Spark plans ORDER BY + LIMIT k as
    TakeOrderedAndProject (per-partition top-k, then k·P rows to one
    reducer) — no global sort, so the shape survives any corpus size."""
    sh = shingles(docs, n)
    return (
        sh.groupBy(F.col("shingle").alias("gram"))
        .agg(F.count("*").alias("occurrences"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("occurrences"), F.asc("gram"))
        .limit(k)
    )


def contamination_flags(
    train_docs: DataFrame,
    bench_docs: DataFrame,
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least ``min_overlap`` distinct word ``n``-grams with the benchmark set
    (the standard guard against eval contamination in LLM training data).
    Returns (doc_id, n_shingles, n_contaminated, contamination_frac,
    flagged) for every training document.

    Shape: both sides reduce to distinct shingle sets; the benchmark side
    collapses to DISTINCT shingles only (its doc identity is irrelevant) —
    at scale that set is small (benchmarks are MBs, not TBs) and the
    overlap count is a broadcast inner join against the training shingle
    stream + one groupBy(doc_id): the training corpus is never shuffled,
    only its hits are."""
    tsh = shingles(train_docs, n).distinct()
    bsh = bench_docs.select("doc_id", "text")
    bset = shingles(bsh, n).select("shingle").distinct()
    hits = (
        tsh.join(F.broadcast(bset), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    # EVERY training doc gets a row — a doc shorter than n tokens has zero
    # shingles (n_shingles=0, frac NULL, flagged=0), it is not dropped
    sizes = (
        train_docs.select("doc_id")
        .join(
            tsh.groupBy("doc_id").agg(F.count("*").alias("n_shingles")),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.when(
                F.col("n_shingles") > 0,
                F.round(
                    F.coalesce("n_contaminated", F.lit(0)) / F.col("n_shingles"), 6
                ),
            ).alias("contamination_frac"),
            (F.coalesce("n_contaminated", F.lit(0)) >= min_overlap).cast("int").alias(
                "flagged"
            ),
        )
    )


def dsir_logweights(
    docs: DataFrame,
    target_source: str = "src0",
    buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """DSIR data-selection weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score each
    candidate document by its log importance weight
    ``log p_target(x) − log p_raw(x)`` under hashed unigram bag-of-words
    models. Features are hash buckets of lowercased whitespace tokens
    (``hash32 % buckets``); both distributions are Laplace-smoothed
    ``(n_b + 1) / (N + buckets)``. The target model is fit on the
    ``target_source`` slice (the curated/benchmark distribution), the raw
    model on the whole corpus; candidates are every non-target doc.
    High-weight docs look like the target and are kept/upsampled by the
    resampling step (``curation.weighted_sample`` composes downstream).

    Determinism: the per-bucket log-ratio is ONE ln of an exact-integer
    ratio (multiplied in double — fewer rounding boundaries than a
    difference of two lns), rounded to 6 decimals; each doc's sum runs in
    DECIMAL(18,6) (order-independent) then rounds — the unigram_surprisal
    convention, bit-exact vs the DuckDB oracle.

    Shape (100 TB): one narrow map to (doc, bucket) rows, one groupBy
    over at most ``buckets`` groups (map-side combinable), a broadcast
    join of the tiny per-bucket weight table back onto the token stream,
    one groupBy(doc_id). The corpus is scanned once; no all-pairs, no
    window, no driver-side state beyond the ``buckets``-row model."""
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).select(
        "doc_id",
        "source",
        (hash32(F.lower(F.col("w"))) % buckets).alias("b"),
    )
    bc = t.groupBy("b").agg(
        F.count("*").alias("n_raw"),
        F.sum(
            F.when(F.col("source") == target_source, 1).otherwise(0)
        ).alias("n_tgt"),
    )
    tot = bc.agg(F.sum("n_raw").alias("nr"), F.sum("n_tgt").alias("nt"))
    num = (F.col("n_tgt") + 1).cast("double") * (F.col("nr") + buckets).cast(
        "double"
    )
    den = (F.col("n_raw") + 1).cast("double") * (F.col("nt") + buckets).cast(
        "double"
    )
    lam = (
        bc.crossJoin(F.broadcast(tot))
        .select("b", F.round(F.log(num / den), 6).alias("l"))
    )
    # score against per-(doc, bucket) COUNTS, not the raw token stream:
    # the model join + final agg see at most docs × buckets rows instead of
    # every token (the first groupBy is map-side combinable over the token
    # stream). cnt × round(l, 6) in DECIMAL is exact — identical to cnt
    # repeated decimal additions of the per-token value.
    db = (
        t.filter(F.col("source") != target_source)
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("cnt"))
    )
    scored = (
        db.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("cnt") * F.col("l").cast("decimal(18,6)")
                ).cast("double"),
                6,
            ).alias("dsir_logweight"),
        )
    )
    # every candidate appears, even NULL-text docs whose token stream is
    # empty (n_tokens 0, weight NULL — the degrade-to-NULL convention)
    base = docs.filter(F.col(source_col) != target_source).select(
        F.col(id_col).alias("doc_id")
    )
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        "dsir_logweight",
    )


def _dsir_scored_src(
    docs: DataFrame, id_col: str, source_col: str, **kwargs
) -> DataFrame:
    """Shared plumbing of the two DSIR selection steps: importance weights
    joined back onto (doc_id, source) under CANONICAL names. One place owns
    the rename contract — the round-5 dsir_topk bug was exactly this logic
    hand-duplicated with the renames applied to only one copy."""
    w = dsir_logweights(docs, id_col=id_col, source_col=source_col, **kwargs)
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")
    )
    return w.join(src, "doc_id")


def dsir_topk(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    source_col: str = "source",
    **kwargs,
) -> DataFrame:
    """The SELECTION step over ``dsir_logweights``: keep the ``k`` most
    target-like candidates per source slice (the deterministic top-k
    variant of DSIR's resampling — the paper's heldout-selection baseline).
    Ordering is (weight DESC NULLS LAST, doc_id) so weightless docs (empty
    token stream) lose and ties break reproducibly.

    ``id_col``/``source_col`` rename BOTH the weight computation and the
    local source projection — they are explicit (not buried in ``**kwargs``)
    so a caller with renamed columns can't end up with the weights keyed on
    one pair of names and the join/window on another.

    Shape: the weight table is doc-level (tiny vs the corpus); the window
    partitions by source — per-slice state, never a global window."""
    from pyspark.sql import Window

    win = Window.partitionBy("source").orderBy(
        F.col("dsir_logweight").desc_nulls_last(), F.col("doc_id")
    )
    return (
        _dsir_scored_src(docs, id_col, source_col, **kwargs)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "source",
            "doc_id",
            "n_tokens",
            "dsir_logweight",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def dsir_resample(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "dsir#",
    **kwargs,
) -> DataFrame:
    """The ACTUAL importance-resampling draw of DSIR (Xie et al. 2023
    §2.2): sample ``k`` candidates per source slice with probability
    proportional to ``exp(dsir_logweight)``, via the Gumbel-top-k trick —
    ``argtop_k(logweight_i + G_i)`` over independent standard Gumbels
    ``G_i = −ln(−ln(U_i))`` is an exact without-replacement sample from
    the softmax of the logweights. ``dsir_topk`` is the deterministic
    greedy baseline this replaces when diversity matters (pure top-k
    saturates on near-duplicates of the target slice).

    Determinism (the hash-inverse-CDF convention of
    ``curation_weighted_sample`` / ``stats_bootstrap_ci``): the uniform is
    a per-doc hash draw ``U = (hash32(salt‖doc_id) % 1e6 + 1) / (1e6+1)``
    — strictly inside (0,1), reproducible on any engine or partitioning,
    unlike ``rand()``. The Gumbel is rounded to 6 decimals, then the sort
    key is ONE exact DECIMAL(18,6) add of two 6-dp values (no rounding
    boundary — memory's rule about constants×sums doesn't arise); docs
    with NULL logweight (empty token stream: zero sampling mass) carry a
    NULL key and lose via NULLS LAST, ties break on doc_id.

    Shape (100 TB): identical to ``dsir_topk`` — the weight table is
    doc-level, the draw is a narrow map over it, and the window
    partitions by source. Never a global window, no extra shuffle beyond
    the per-slice rank."""
    from pyspark.sql import Window

    u = (
        hash32(F.concat(F.lit(salt), F.col("doc_id").cast("string"))) % 1000000
        + 1
    ) / F.lit(1000001.0)
    g = F.round(-F.log(-F.log(u)), 6)
    key = (
        g.cast("decimal(18,6)") + F.col("dsir_logweight").cast("decimal(18,6)")
    ).cast("double")
    win = Window.partitionBy("source").orderBy(
        F.col("gumbel_key").desc_nulls_last(), F.col("doc_id")
    )
    return (
        _dsir_scored_src(docs, id_col, source_col, **kwargs)
        .withColumn("gumbel_key", key)
        .withColumn("draw_rank", F.row_number().over(win).cast("long"))
        .filter(F.col("draw_rank") <= k)
        .select("source", "doc_id", "dsir_logweight", "gumbel_key", "draw_rank")
    )


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Unigram language-model surprisal per document: build token
    probabilities from the corpus itself (p = count/total over lowercased
    whitespace tokens) and score each document by mean −ln p of its tokens
    — the cheap perplexity proxy used for quality filtering.

    Determinism: each token's surprisal is rounded to 6 decimals before
    the per-document DECIMAL sum (order-independent), and the mean divides
    as double then rounds — both engines agree bit-exactly (the BM25
    operator established the round-then-decimal-sum ln pattern).

    Shape: one groupBy(token) builds the vocab (map-side combinable), the
    token stream joins the vocab on token (corpus-derived vocab is bounded
    by distinct tokens — broadcast when small, shuffle join keyed on token
    otherwise; Spark's planner makes that call from stats), then one
    groupBy(doc_id). Corpus total is a single-row broadcast."""
    t = tokens(docs).withColumn("lw", F.lower("w")).select("doc_id", "lw")
    vocab = t.groupBy("lw").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("n_total"))
    scored = (
        t.join(vocab, "lw")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(-F.log(F.col("c") / F.col("n_total")), 6).alias("surprisal"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.col("surprisal").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_surprisal"),
    )


# PII / denylist scrub patterns: (name, regex, replacement). Regexes stay
# inside the Java-regex ∩ RE2 common subset (char classes, bounded repeats,
# \b — no lookaround, no backrefs) so Spark and the DuckDB oracle agree.
SCRUB_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][-0-9() ]{7,}[0-9]", "<PHONE>"),
)


def scrub_text(
    docs: DataFrame,
    patterns: tuple[tuple[str, str, str], ...] = SCRUB_PATTERNS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII / denylist redaction with an audit trail: apply each (name,
    regex, replacement) pattern in order with ``regexp_replace`` and report
    per-pattern match counts (counted on the ORIGINAL text, before any
    replacement — so counts are order-independent) plus the total.

    Scale: a pure narrow map over the scan — no shuffle, no UDF; every
    regex runs JVM-side inside whole-stage codegen. At 100 TB this is the
    cheapest kind of operator there is: bytes in, bytes out, per-partition.
    Reference parity: the reference's ingest does text normalization at
    parse time (btrfiles/Parser.cpp:88-95, trim + null-literal rewrite);
    this generalizes that to configurable content rewriting."""
    scrubbed = F.col(text_col)
    counts = []
    for name, regex, _ in patterns:
        counts.append(F.regexp_count(F.col(text_col), F.lit(regex)).alias(f"n_{name}"))
    for _, regex, repl in patterns:
        scrubbed = F.regexp_replace(scrubbed, regex, repl)
    # lit(0) base: an EMPTY patterns tuple (redaction disabled by config)
    # must return zero-redaction rows, not crash on None.cast
    total = F.lit(0)
    for name, _, _ in patterns:
        total = total + F.col(f"n_{name}")
    return docs.select(F.col(id_col), *counts, scrubbed.alias("scrubbed_text")).withColumn(
        "total_redactions", total.cast("long")
    )


def chunk_windows(
    docs: DataFrame,
    size: int = 200,
    stride: int = 150,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size overlapping character windows — the
    RAG/embedding chunking pass (size-stride overlap keeps sentences that
    straddle a boundary retrievable from at least one chunk).

    Pure narrow map: ``sequence(0, len-1, stride)`` + explode generates the
    offsets per row, ``substring`` slices — no shuffle, no Python; output
    rows ≈ corpus_chars/stride regardless of document count."""
    ln = F.length(F.col(text_col))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_t"),
            F.explode(
                F.sequence(F.lit(0), F.greatest(ln - 1, F.lit(0)), F.lit(stride))
            ).alias("off"),
        )
        .select(
            "doc_id",
            (F.col("off") / stride).cast("int").alias("win_no"),
            "off",
            F.substring(F.col("_t"), F.col("off") + 1, F.lit(size)).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


class _SplitSentences:
    """Python UDTF (Spark 4 user-defined TABLE function): one input document
    row -> N sentence rows. The lateral-join form is the idiomatic Spark
    surface for row-expanding Python logic that doesn't fit
    explode()-able SQL expressions (the reference has no analog — its
    interface stubs stop at scalar scans, SURVEY.md §2a).

    eval() runs per input row inside the executor's Python worker —
    narrow (no shuffle), partition-parallel, Arrow-batched when
    spark.sql.execution.pythonUDTF.arrow.enabled is set."""

    def eval(self, doc_id, text):  # noqa: ANN001 - UDTF signature is positional
        if text is None:
            return
        for i, s in enumerate(text.split(". ")):
            yield doc_id, i + 1, s, len(s)


def sentences_udtf(spark, docs: DataFrame) -> DataFrame:
    """Register and apply the sentence-split UDTF via a correlated LATERAL
    join. Split rule is plain ``'. '`` so the result is bit-identical to
    the DuckDB string_split oracle (no engine-specific regex semantics)."""
    from pyspark.sql.functions import udtf

    fn = udtf(
        _SplitSentences,
        returnType="doc_id bigint, sent_idx int, sentence string, sent_chars bigint",
    )
    spark.udtf.register("split_sentences", fn)
    docs.createOrReplaceTempView("_docs_for_udtf")
    return spark.sql(
        """
        SELECT s.doc_id, s.sent_idx, s.sentence, s.sent_chars
        FROM _docs_for_udtf d, LATERAL split_sentences(d.doc_id, d.text) s
        """
    )


def hash_features(docs: DataFrame, dims: int = 64) -> DataFrame:
    """Feature-hashing vectorizer (hashing trick): each token votes ±1 into
    dimension ``hash(w) mod dims``, sign from an independent hash bit — the
    classic signed construction that keeps E[collision bias] = 0. Returns
    (doc_id, n_tokens, features array<long>). The cheap, vocabulary-free
    alternative to ``build_vocab``+``encode_docs`` for classifier features.

    Shape: ``dims`` conditional sums in ONE aggregation over the token
    stream (the simhash shape) — map-side combinable, single shuffle keyed
    on doc_id, no per-dimension explode.

    ``dims`` is capped at 256: the sign bit is (h >> 8) & 1, and once the
    dimension index h % dims includes bit 8 the sign is CONSTANT within a
    dimension — collisions add instead of cancelling and the signed
    construction silently degenerates to unsigned counting."""
    if dims > 256:
        raise ValueError(
            "hash_features: dims > 256 breaks sign/dimension independence "
            "(the sign bit (h >> 8) & 1 enters h % dims); use <= 256 dims "
            "or a wider hash"
        )
    th = tokens(docs).withColumn("h", hash32(F.col("w")))
    sign = F.when(F.expr("(h >> 8) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
    aggs = [
        F.sum(F.when(F.col("h") % dims == i, sign).otherwise(0))
        .cast("long")
        .alias(f"_f{i}")
        for i in range(dims)
    ]
    g = th.groupBy("doc_id").agg(F.count("*").alias("n_tokens"), *aggs)
    return g.select(
        "doc_id",
        "n_tokens",
        F.array(*[F.col(f"_f{i}") for i in range(dims)]).alias("features"),
    )


def learn_bpe(docs: DataFrame, n_merges: int = 10, text_col: str = "text") -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn the
    ``n_merges`` most frequent adjacent-symbol merges over the corpus — the
    tokenizer-training workload of an LLM-data pipeline, expressed as an
    iterative Spark algorithm (same shape as kmeans_refine / pagerank:
    bounded rounds, reduced state, broadcast decisions).

    The classic reduction: BPE statistics depend only on the WORD-FREQUENCY
    table, never the corpus — one shuffle builds (word, freq), every round
    after that runs on the distinct-word table (bounded by vocabulary, not
    corpus bytes). Per round: weighted adjacent-pair counts (posexplode,
    map-side combinable), deterministic argmax (count desc, pair asc),
    broadcast the winning pair, rebuild symbol arrays with an Arrow-batched
    pandas merge kernel (the one step SQL arrays can't express cleanly).

    Returns (rank, left, right, pair_count) — the ordered merge table a
    tokenizer ships."""
    import pandas as pd

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    spark = docs.sparkSession
    words = (
        docs.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(F.expr("transform(split(w, ''), c -> c)").alias("syms"), "freq")
        .localCheckpoint(eager=True)
    )

    merges = []
    for rank in range(1, n_merges + 1):
        pairs = (
            words.select(
                F.posexplode(F.expr("slice(syms, 1, size(syms) - 1)")).alias(
                    "i", "left"
                ),
                "syms",
                "freq",
            )
            .select(
                "left",
                F.expr("syms[i + 1]").alias("right"),
                "freq",
            )
            .groupBy("left", "right")
            .agg(F.sum("freq").alias("pair_count"))
        )
        top = (
            pairs.orderBy(F.desc("pair_count"), "left", "right").limit(1).collect()
        )
        if not top:
            break
        t = top[0]
        merges.append((rank, t["left"], t["right"], int(t["pair_count"])))
        lsym, rsym = t["left"], t["right"]

        # explicit SCALAR type: `from __future__ import annotations` makes
        # the hints strings, which breaks pandas_udf signature inference
        @pandas_udf("array<string>", PandasUDFType.SCALAR)
        def merge_pair(col):
            out = []
            for syms in col:
                res, i, n = [], 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == lsym and syms[i + 1] == rsym:
                        res.append(lsym + rsym)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            return pd.Series(out)

        words = words.select(
            merge_pair("syms").alias("syms"), "freq"
        ).localCheckpoint(eager=True)

    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long"
    )


def bpe_encode(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """Apply a learned BPE merge table (learn_bpe output, ordered) to
    tokenize documents: each word splits to characters, then every merge
    applies in rank order — the deterministic encode pass a trained
    tokenizer ships. Returns (doc_id, n_words, n_tokens, tokens).

    Scale: pure narrow map — the merge table broadcasts inside the Arrow
    kernel's closure; one pass over the text, no shuffle. Unlike the
    training loop there is no per-round job: all merges apply in one
    kernel invocation per batch."""
    import pandas as pd

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    ranked = list(merges)

    @pandas_udf("array<string>", PandasUDFType.SCALAR)
    def encode(col):
        out = []
        for text in col:
            toks = []
            for w in (text or "").lower().split(" "):
                if not w:
                    continue
                syms = list(w)
                for l, r in ranked:
                    i, res = 0, []
                    while i < len(syms):
                        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                            res.append(l + r)
                            i += 2
                        else:
                            res.append(syms[i])
                            i += 1
                    syms = res
                toks.extend(syms)
            out.append(toks)
        return pd.Series(out)

    return docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != F.lit(""))).alias(
            "n_words"
        ),
        encode(text_col).alias("tokens"),
    ).select(
        "doc_id", "n_words", F.size("tokens").alias("n_tokens"), "tokens"
    )


def source_divergence(docs: DataFrame) -> DataFrame:
    """Per-source unigram-distribution drift vs the whole corpus: KL(P_s ‖
    P_corpus) and Jensen-Shannon divergence. A training pipeline watches
    these to catch a source whose token mix shifted (crawler regression,
    license change, new spam cluster) before it contaminates a mixture.

    Math note: JS needs terms for corpus words ABSENT from the source,
    where p_s = 0 and the word's JS contribution reduces to p_c·ln 2. Those
    collapse into the closed form ln 2 · (1 − coverage) with coverage =
    Σ_{w∈source} count_corpus(w) / N — an EXACT integer sum — so only
    (source, word) pairs with nonzero count are ever materialized.

    Determinism: per-word terms are scalar IEEE expressions on exact
    integer counts, rounded to 6 decimals, then summed as DECIMAL(18,6)
    (order-independent). The JS factor 1/2 is FOLDED INTO each term (and
    into the absent-word correction) before its rounding, and the final
    value is a pure decimal sum with NO final round: round(0.5·S, 6) with
    S on the 1e-6 grid lands on an exact .5e-6 boundary whenever S's last
    digit is odd — where Spark (HALF_UP on the decimal repr) and DuckDB
    (nearest on the binary value) structurally disagree. Caught by the
    sf0.1 sweep on a full-coverage source (cov=1 made js exactly 0.5·S).

    Shape (100 TB): one groupBy(source, w) with map-side combine is the
    only corpus-sized shuffle; the per-word join keys on w against the
    corpus vocab (Spark broadcasts it when small); per-source totals are
    |sources| rows, broadcast. Nothing is per-document downstream."""
    t = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    counts = t.groupBy("source", "w").agg(F.count("*").alias("c"))
    stot = counts.groupBy("source").agg(F.sum("c").alias("ns"))
    wtot = counts.groupBy("w").agg(F.sum("c").alias("cw"))
    ntot = counts.agg(F.sum("c").alias("n"))
    ps = F.col("c").cast("double") / F.col("ns").cast("double")
    pc = F.col("cw").cast("double") / F.col("n").cast("double")
    g = (
        counts.join(wtot, "w")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ntot))
        .select(
            "source",
            "ns",
            "n",
            "cw",
            F.round(ps * F.log(ps / pc), 6).alias("term_kl"),
            F.round(
                F.lit(0.5)
                * (
                    ps * F.log(F.lit(2.0) * ps / (ps + pc))
                    + pc * F.log(F.lit(2.0) * pc / (ps + pc))
                ),
                6,
            ).alias("term_js"),
        )
    )
    cov = F.sum("cw").cast("double") / F.max("n").cast("double")
    return g.groupBy("source").agg(
        F.max("ns").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.round(cov, 6).alias("coverage"),
        F.round(
            F.sum(F.col("term_kl").cast("decimal(18,6)")).cast("double"), 6
        ).alias("kl_vs_corpus"),
        (
            F.sum(F.col("term_js").cast("decimal(18,6)"))
            + F.round(
                F.lit(0.5) * F.log(F.lit(2.0)) * (F.lit(1.0) - cov), 6
            ).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("js_vs_corpus"),
    )


def source_overlap(docs: DataFrame, n: int = 3) -> DataFrame:
    """Pairwise cross-source contamination matrix: for every source pair,
    the Jaccard and containment of their word-{n}-gram shingle SETS. High
    overlap between two "independent" sources means one mirrors the other
    — double-counting in a training mixture.

    Shape (100 TB): the corpus reduces to distinct (source, shingle) in one
    map-side-combined aggregation; the pair join is an inverted-index
    self-join keyed on shingle, so fan-out per shingle is bounded by
    |sources| (dozens), NOT by document count — the output is the
    |sources|² matrix, driver-scale. Jaccard/containment are exact integer
    ratios evaluated as one scalar division each."""
    # the distinct (source, shingle) set feeds THREE branches (the
    # broadcast per-source sizes and the self-join's left and right) — pin
    # it EAGERLY so the explode+distinct pipeline runs once instead of
    # once per branch (the initial plan held 8 FileScans of documents
    # before this). Eager, not lazy: the sizes are broadcast, and
    # broadcast subtrees execute as separate jobs that race ahead of a
    # lazy checkpoint's materialization (round-8; the registered caller is
    # marked eager=True accordingly).
    sh = (
        shingles(docs.select(F.col("source"), F.col("text")), n=n, id_col="source")
        .withColumnRenamed("doc_id", "source")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("sz"))
    left = sh.select(F.col("source").alias("src_a"), "shingle")
    right = sh.select(F.col("source").alias("src_b"), "shingle")
    common = (
        left.join(right, "shingle")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("common").cast("long").alias("n_common"),
            F.round(
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("common").cast("double")
                / F.least("sz_a", "sz_b").cast("double"),
                6,
            ).alias("containment"),
        )
    )
