"""Streaming operators: source, watermarked windows, chunk-aligned append
sink, and a custom stateful sessionizer.

The sinks' commit steps live in format/journal.py. The chunked append sink
commits with ``journal.commit_append`` — the append commit of the
``btrblocks`` data source — on its own log, ``_stream_batches.json``;
``streaming_upsert`` uses the versioned-snapshot protocol (version claim,
``_latest`` swap, vacuum), shared with the DML verbs of
format/maintenance.py that write the same tables."""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from btrblocks_spark.format import journal
from btrblocks_spark.format.maintenance import read_version
from btrblocks_spark.format.writer import write_parquet

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", LongType(), True),  # epoch-nanos (nanosAsLong)
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def stream_source(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """readStream over a directory of event parquet files. New files are
    picked up per microbatch (the chunk-append read path). Converts
    epoch-nano ts to a proper timestamp column ``event_time``.

    SIDE EFFECT (deliberate, same contract as tables.load_table): sets the
    session-global ``spark.sql.legacy.parquet.nanosAsLong`` — required to
    read TIMESTAMP(NANOS) parquet at all, and set at session build by our
    own ``session.get_spark``; stated here because for a FOREIGN session it
    changes how every later parquet read in the session surfaces
    nano-timestamp columns (LongType instead of TimestampType)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    # integer division: double-precision ts/1000 loses ULPs at 1.7e18 ns
    return raw.withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))


def windowed_rollup(stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window aggregation with late-data watermark: count + sum per
    (window, event_type). State is bounded: windows older than the watermark
    are finalized and dropped."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def exactly_once_chunked_append(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    block_size: int = 65536,
    scope: str | None = None,
) -> None:
    """Replay-safe chunk-aligned append for foreachBatch sinks. foreachBatch
    is at-least-once: a plain ``mode("append")`` duplicates the batch's rows
    when a crash lands between the write and the checkpoint commit. Here the
    batch is journaled in the table's ``_stream_batches.json``:

      1. pre-stage check, under the commit lock: pending entries are
         finished, and if this (scope, batch id) is already journaled the
         rerun is dropped before it stages anything;
      2. stage to ``_stream_stage/<scope-hash>/batch=<id>-<uuid>``;
      3. ``journal.commit_append`` with the fence (scope, batch id): the
         pending intent maps stage files to final
         ``data/stream-…-b<id>-<commit>-<i>.parquet`` names, the renames
         run, the entry flips committed. A rival that journaled the same
         batch while we staged wins, and our stage is dropped.

    This is the data source's append commit (format/journal.py) on a log of
    its own; the sink keeps only its staging and the pre-stage check.

    ``scope`` is the replay fence's identity — pass the query's CHECKPOINT
    location (``chunked_append`` does). batchIds are only unique per
    checkpoint lineage: a restart with a fresh checkpoint restarts ids at 0,
    and two queries pointed at one table overlap ids — a bare-batch-id fence
    would match those new batches against old committed entries and silently
    drop their data (the btrblocks streaming sink refuses to run without a
    ``commitScope`` for exactly this reason, btr_datasource.py). Required;
    entries written by pre-scope versions of this helper (no ``scope`` key)
    still fence the upgrade replay in the pre-stage check (``legacy_replay``)."""
    import hashlib
    import uuid

    import pyarrow.parquet as pq

    if not scope:
        raise ValueError(
            "exactly_once_chunked_append requires a per-query fence scope "
            "(the stream's checkpoint location): batch ids are only unique "
            "per checkpoint lineage"
        )

    log_name = "_stream_batches.json"
    log_path = os.path.join(path, log_name)

    def legacy_replay(log: list) -> bool:
        # legacy entries (pre-scope versions of this helper) have no
        # checkpoint lineage recorded. A genuine upgrade replay is always
        # the caller scope's FIRST commit (the lineage's prior batches are
        # the legacy entries themselves) and re-offers only the single
        # in-flight batch — the newest legacy id. So a scope-less entry
        # fences a caller only when BOTH hold: the caller's scope has no
        # entries yet AND batch_id == legacy_max. A scope that already
        # committed scoped batches can never be swallowed by a legacy
        # entry (the round-4 silent batch drop: a new lineage appended
        # 0..legacy_max-1 fine, then lost exactly batch legacy_max).
        # Residual ambiguity: a brand-new lineage whose FIRST batch lands
        # exactly on legacy_max is indistinguishable from the genuine
        # replay and is dropped — bounded to one batch per table lifetime
        # because the fence CLAIMS the legacy entries into the caller's
        # scope (below), after which no scope-less entry remains.
        legacy = [e.get("batch", -1) for e in log if "scope" not in e]
        return (
            bool(legacy)
            and batch_id == max(legacy)
            and not any(e.get("scope") == scope for e in log)
        )

    scope_tag = hashlib.blake2b(scope.encode(), digest_size=8).hexdigest()
    stage_root = os.path.join(path, "_stream_stage", scope_tag)

    def clean_stages() -> None:
        # every attempt stages into its OWN dir (a shared per-batch dir let
        # a zombie driver's overwrite clobber the files a rival's pending
        # entry was about to rename — the "rows lost" wedge). Once this
        # batch is committed, every batch=<id>-* attempt dir is garbage.
        if os.path.isdir(stage_root):
            for d in os.listdir(stage_root):
                if d.startswith(f"batch={batch_id}-"):
                    shutil.rmtree(os.path.join(stage_root, d), ignore_errors=True)

    with journal.commit_lock(path):
        log = journal.load_json(log_path)
        changed = journal.finish_pending(log)
        journaled = any(
            e.get("scope") == scope and e.get("batch") == batch_id for e in log
        )
        if not journaled and legacy_replay(log):
            # the caller IS the pre-upgrade lineage continuing: stamp every
            # legacy entry with its scope (one-time migration). Consumes the
            # upgrade hazard — future NEW scopes can never match these
            # entries — and lets the log prune age them out like any scoped
            # entry.
            for e in log:
                e.setdefault("scope", scope)
            changed = journaled = True
        if changed:
            journal.replace_json(log_path, log)
    if journaled:
        clean_stages()
        return
    stage = os.path.join(stage_root, f"batch={batch_id}-{uuid.uuid4().hex}")
    write_parquet(
        batch_df.write.mode("overwrite")
        .option("maxRecordsPerFile", block_size)
        .option("compression", "zstd"),
        stage,
    )
    staged = sorted(
        os.path.join(r, f)
        for r, _s, fs in os.walk(stage)
        for f in fs
        if f.endswith(".parquet")
    )
    # uuid in the FINAL name: a same-path checkpoint reset (delete the
    # checkpoint dir, restart at the same location) restarts batch ids at 0
    # under the SAME scope string, and once the first lineage's batch-0
    # entry ages past the prune window no fence fires — a deterministic
    # name would let adopt() os.replace the first lineage's COMMITTED
    # batch-0 file (silent loss of committed rows). Replay adoption never
    # needs name determinism: recovery renames come from the journaled
    # entry, not from recomputing names.
    commit_id = uuid.uuid4().hex[:12]
    renames = {
        s: os.path.join(
            path, "data", f"stream-{scope_tag}-b{batch_id}-{commit_id}-{i:05d}.parquet"
        )
        for i, s in enumerate(staged)
    }
    rows = sum(pq.ParquetFile(s).metadata.num_rows for s in staged)
    # a rival that journaled this batch while we staged wins: commit_append
    # drops our staged files, and clean_stages our stage dir
    journal.commit_append(path, log_name, renames, rows, (scope, batch_id))
    clean_stages()


def chunked_append(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    block_size: int = 65536,
    trigger_available_now: bool = True,
):
    """Chunk-aligned streaming sink: each microbatch is appended as Parquet
    files capped at ``block_size`` rows (the ColumnPart sizing analog) via
    foreachBatch, exactly-once (see ``exactly_once_chunked_append``).
    Returns the StreamingQuery."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the checkpoint IS the replay-fence scope: batch ids are only
        # unique per checkpoint lineage
        exactly_once_chunked_append(batch_df, path, batch_id, block_size, scope=checkpoint)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- custom stateful operator: session windows ------------------------------

SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("session_start", TimestampType(), True),
        StructField("session_end", TimestampType(), True),
        StructField("n_events", LongType(), True),
        StructField("total_value", DoubleType(), True),
    ]
)

SESSION_STATE = StructType(
    [
        StructField("start_us", LongType(), True),
        StructField("last_us", LongType(), True),
        StructField("n", LongType(), True),
        StructField("total", DoubleType(), True),
    ]
)


def _session_fn(gap_seconds: int):
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                }
            )
            return

        rows: list[dict[str, Any]] = []
        start_us = last_us = None
        n, total = 0, 0.0
        if state.exists:
            start_us, last_us, n, total = state.get
        # concat BEFORE sorting: a group arrives as multiple Arrow-sized
        # chunks with no cross-chunk time order — sorting each chunk
        # independently would interleave out-of-order timestamps and emit
        # wrong session splits for any user with >1 chunk of events.
        # Memory is bounded by one user's events per microbatch, which the
        # state update below must hold in aggregate form anyway.
        chunks = [p for p in pdfs if len(p)]
        batch = (
            pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        )
        if len(batch):
            # NaT guard: a null event_time sorts last, its .value is
            # int64-min, and storing that as last_us makes the NEXT real
            # event close a "session" whose pd.Timestamp(start_us) is below
            # the ns bound — OutOfBoundsDatetime, a crash-looping stream.
            # A timeless event carries no session information: drop it.
            pdf = batch.dropna(subset=["event_time"]).sort_values("event_time")
            for t, v in zip(pdf["event_time"], pdf["value"]):
                t_us = int(t.value // 1000)
                if last_us is not None and t_us - last_us > gap_us:
                    rows.append(
                        {
                            "user_id": user_id,
                            "session_start": pd.Timestamp(start_us, unit="us"),
                            "session_end": pd.Timestamp(last_us, unit="us"),
                            "n_events": n,
                            "total_value": round(total, 6),
                        }
                    )
                    start_us, n, total = t_us, 0, 0.0
                if start_us is None:
                    start_us = t_us
                last_us = t_us
                n += 1
                total += float(v) if v == v else 0.0  # NaN-safe
        if start_us is not None:  # all-null-time batch: nothing to track
            state.update((start_us, last_us, n, total))
            state.setTimeoutDuration(gap_seconds * 1000)
        if rows:
            yield pd.DataFrame(rows)

    return fn


def sessionize(stream: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful operator: session windows with an idle-gap timeout,
    via applyInPandasWithState. Emits one row per *closed* session (a new
    event after the gap closes the previous session; processing-time timeout
    flushes idle state). State is per user_id — hash-partitioned, bounded."""
    return (
        stream.select("user_id", "event_time", "value")
        # null event times never reach the state function (see the NaT
        # guard there); filtering JVM-side also skips the Arrow transfer
        .filter(F.col("event_time").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_seconds),
            outputStructType=SESSION_OUTPUT,
            stateStructType=SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def interval_join(
    views: DataFrame,
    clicks: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: attribute each 'click' event to the
    same user's preceding 'view' event within ``max_delay`` (ad-attribution
    shape). Both sides are watermarked, and the join condition bounds the
    event-time distance, so Spark can evict state for rows that can no
    longer match — the requirement for an unbounded stream-stream join to
    run with bounded memory.

    Equality key: user_id (state is hash-partitioned by it); the time
    bound is the interval condition. Returns (user_id, view_time,
    click_time, view_id, click_id, delay_seconds).

    ``how="leftOuter"`` emits unattributed views too: a view row with NULL
    click columns is released once the watermark passes view_time +
    max_delay (state eviction doubles as the no-match signal) — the
    "which impressions never converted" side of attribution, impossible
    without watermarks on an unbounded stream."""
    v = (
        views.withWatermark("event_time", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("event_time").alias("view_time"),
        )
    )
    c = (
        clicks.withWatermark("event_time", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("event_time").alias("click_time"),
        )
    )
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("view_time") <= F.col("click_time"))
        & (F.col("click_time") <= F.col("view_time") + F.expr(f"INTERVAL {max_delay}"))
    )
    return v.join(c, cond, how).select(
        F.col("v_user").alias("user_id"),
        "view_time",
        "click_time",
        "view_id",
        "click_id",
        (F.unix_timestamp("click_time") - F.unix_timestamp("view_time")).alias(
            "delay_seconds"
        ),
    )


def dedup_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: drop repeated event_ids with state bounded by
    the event-time watermark (``dropDuplicatesWithinWatermark``) — the
    streaming twin of pipeline.dedup.dedup_exact. A duplicate arriving
    within ``watermark`` of the original is dropped; state for events older
    than the watermark is evicted, so memory is O(events per watermark
    window), not O(stream length) — the property that keeps this runnable
    forever on an unbounded 100 TB/day feed."""
    return stream.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# --- streaming CDC upsert into a versioned snapshot table -------------------


def read_snapshot(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """Latest committed snapshot of a versioned table (None before the
    first commit). Readers only ever see a fully-written version directory:
    the ``_latest`` pointer is swapped atomically after the write lands."""
    v = journal.read_pointer(table_dir)
    return None if v is None else read_version(spark, table_dir, v)


def streaming_upsert(
    stream: DataFrame,
    table_dir: str,
    checkpoint: str,
    keys: list[str],
    order_by: list[str] | None = None,
    trigger_available_now: bool = True,
    keep_versions: int = 3,
    min_retain_sec: float = 600.0,
):
    """CDC-apply: MERGE each microbatch into the table (update-wins, ties
    within a batch broken by ``order_by`` descending — e.g. a sequence or
    event-time column), writing a NEW immutable version directory and
    atomically swapping the ``_latest`` pointer (write-ahead rename — the
    one-node stand-in for a Delta-style commit log; the snapshot write and
    merge itself are fully distributed).

    Streaming + merge + snapshot isolation composed: readers never block
    and never see a half-applied batch; failed batches leave the pointer
    untouched, and checkpointed offsets make re-application idempotent
    (same batch -> same merged version content).

    Version retention: every batch writes a FULL merged snapshot, so a
    long-running stream would otherwise accumulate O(batches x table)
    storage. Superseded ``v=N`` dirs are vacuumed once they are BOTH
    ``keep_versions`` behind the pointer AND older than ``min_retain_sec``
    on disk (the same staleness-AND-wall-time contract as
    ``incremental_agg`` — a reader holding a lazily-evaluated snapshot
    from moments ago never loses it).
    """
    from btrblocks_spark.pipeline.merge import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # the whole read-merge-write-repoint sequence is one critical
        # section: a second upsert query would otherwise merge from the
        # same snapshot and the losing pointer swap would silently drop
        # the other's merged rows — the same window catalog.commit_tables
        # locks. The DML verbs commit to this table without the lock;
        # claim_version's mkdir keeps their v=N apart from ours.
        with journal.commit_lock(table_dir):
            current = read_snapshot(spark, table_dir)
            order = [F.desc(c) for c in (order_by or [])]
            if current is None:
                # first commit: still dedup multi-row keys within the batch
                empty = spark.createDataFrame([], batch_df.schema)
                merged = merge_upsert(empty, batch_df, keys, order)
            else:
                merged = merge_upsert(current, batch_df, keys, order)
            next_v = journal.claim_version(table_dir, "v=")
            out = journal.version_dir(table_dir, "v=", next_v)
            try:
                write_parquet(merged.drop("op").write.mode("overwrite"), out)
                journal.swap_pointer(table_dir, next_v)
            except BaseException:
                # an uncommitted v=N would be served by time travel
                shutil.rmtree(out, ignore_errors=True)
                raise
            # bounded history (still under the lock): staleness AND
            # wall-time age required, so a just-served snapshot survives
            journal.vacuum_versions(table_dir, "v=", keep_versions, next_v, min_retain_sec)

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def enrich_stream(stream: DataFrame, dim: DataFrame, keys: list[str]) -> DataFrame:
    """Stream-static enrichment join: each microbatch left-joins the static
    dimension snapshot. Spark re-plans the static side per microbatch, so a
    small dimension rides as a broadcast hash join — no state, no shuffle
    of the stream, and a dimension refresh is picked up on the next batch.

    This is the streaming twin of the batch broadcast dimension join
    (queries/relational.join_broadcast); at 100 TB/day of stream the
    static side is the ONLY thing that must stay broadcast-sized — the
    stream side never exchanges."""
    return stream.join(F.broadcast(dim), keys, "left")


def materialized_view_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    state_dir: str,
    keys: list[str],
    sum_cols: list[str],
    block_size: int = 65536,
    trigger_available_now: bool = True,
):
    """Continuously-maintained materialized aggregate over a streaming
    ingest: each microbatch is (1) appended chunk-aligned to the table
    (same layout as ``chunked_append``) and (2) folded into the stored
    grouped sum/count partials via ``format.incremental.incremental_agg``
    — so a dashboard query reads a tiny pre-aggregated snapshot instead of
    re-scanning an ever-growing fact table.

    Failure between (1) and (2) is safe without two-phase commit: the
    refresh is driven by the PROCESSED-FILE LIST, not the batch id, so a
    crashed refresh simply leaves new files for the next batch's refresh
    to pick up (self-healing); a replayed microbatch is fenced by the
    journaled append (``exactly_once_chunked_append`` — a rerun adopts or
    drops, never re-appends), so the file list never gains duplicate rows
    for the refresh to double-count. Returns the StreamingQuery."""
    from btrblocks_spark.format.incremental import incremental_agg

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        exactly_once_chunked_append(batch_df, path, batch_id, block_size, scope=checkpoint)
        incremental_agg(
            batch_df.sparkSession, path, state_dir, keys, sum_cols
        )

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)


def docs_stream_source(spark: SparkSession, docs_dir: str) -> DataFrame:
    """readStream over a directory of document parquet files (the corpus
    ingest path: each crawl drop is a new file, picked up per microbatch)."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )


def _prior_store(spark: SparkSession, store_dir: str, batch_id: int):
    """Read a batch-partitioned parquet state store fenced to STRICTLY
    earlier batches — the replay-safety invariant every incremental dedup
    stream shares: on microbatch replay after a failure, the store already
    holds this batch's own rows under ``batch=<batch_id>``; reading them
    back would make every doc collide with itself and empty the replayed
    output. Partition pruning turns the fence into directory skipping.
    Returns None when the store has no batches yet."""
    if os.path.isdir(store_dir) and any(
        d.startswith("batch=") for d in os.listdir(store_dir)
    ):
        return spark.read.parquet(store_dir).filter(F.col("batch") < F.lit(batch_id))
    return None


def _write_batch_partition(df: DataFrame, base_dir: str, batch_id: int) -> None:
    """``mode("overwrite")`` into a batch-id-named subdir: a replayed
    microbatch reproduces its output in place instead of double-appending
    — exactly-once without a transaction log."""
    write_parquet(df.write.mode("overwrite"), os.path.join(base_dir, f"batch={batch_id}"))


def near_dedup_stream(
    stream_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint: str,
    num_perm: int = 8,
    bands: int = 4,
    n: int = 3,
):
    """Streaming MinHash-LSH near-duplicate filtering: as document batches
    arrive, a doc survives iff none of its LSH band buckets was claimed by
    an earlier-seen doc (prior batches, via the persisted bucket store) or
    by a smaller doc_id in its own batch. With doc_id-ordered arrival this
    is EXACTLY the batch min-canonical rule (keep a doc iff it is the min
    member of every bucket it belongs to) — verified against that twin in
    tests.

    Why foreachBatch and not dropDuplicatesWithinWatermark: near-dup state
    is per LSH *bucket* while the keep/drop decision is per *doc* (any-band
    match) — not expressible as a streaming key dedup. The bucket store is
    the incremental state, persisted as plain parquet.

    Exactly-once without a transaction log: every per-batch write goes to a
    batch-id-named subdir with mode("overwrite") — a replayed microbatch
    overwrites its own output byte-for-byte instead of double-appending.

    Scale: per microbatch cost is O(batch bands) map-side + one join
    against the store on (band, bucket) — fine-grained md5 keys, near-zero
    skew; document text never shuffles (bands are computed in a narrow
    chain from the scan)."""
    from btrblocks_spark.pipeline.dedup import minhash_band_buckets

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bands_df = minhash_band_buckets(
            batch_df, num_perm=num_perm, bands=bands, n=n
        ).localCheckpoint()  # evaluated twice (dup test + store append)

        dup_prior = None
        prior = _prior_store(spark, store_dir, batch_id)
        if prior is not None:
            dup_prior = (
                bands_df.join(
                    prior.select("band", "bucket").distinct(),
                    ["band", "bucket"],
                    "left_semi",
                )
                .select("doc_id")
                .distinct()
            )
        bucket_min = bands_df.groupBy("band", "bucket").agg(
            F.min("doc_id").alias("_mn")
        )
        dup_local = (
            bands_df.join(bucket_min, ["band", "bucket"])
            .filter(F.col("doc_id") > F.col("_mn"))
            .select("doc_id")
            .distinct()
        )
        dropped = dup_local if dup_prior is None else dup_local.union(dup_prior).distinct()
        survivors = batch_df.join(dropped, "doc_id", "left_anti")

        # ALL batch buckets enter the store (dropped docs' buckets too):
        # the global rule drops any doc colliding with any EARLIER doc,
        # kept or not — this is what makes incremental == batch-global
        _write_batch_partition(bands_df, store_dir, batch_id)
        _write_batch_partition(survivors, out_dir, batch_id)

    return (
        stream_docs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def block_dedup_stream(
    stream_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint: str,
    block_words: int = 10,
):
    """Streaming ExactSubstr block rewrite (the incremental twin of
    ``dedup.block_level_dedup``): as document batches arrive, a block
    survives iff its hash was never seen in an EARLIER batch (persisted
    block-hash store) and it is the first occurrence within its own batch
    (min (doc_id, blk)); each doc is rewritten from its surviving blocks.
    With doc_id-ordered arrival this equals the batch-global
    first-occurrence rule exactly — test-proven against the batch twin.

    Why foreachBatch: the keep/drop state is per block HASH while the
    rewrite is per DOC — a two-level dependency no built-in streaming dedup
    expresses. The store is plain parquet of winner hashes per batch.

    Replay safety: the prior-store read is fenced to batch < batch_id and
    every write lands in a batch-id-named subdir with mode("overwrite"), so
    a replayed microbatch reproduces its output byte-for-byte (same
    contract as near_dedup_stream).

    Scale: per microbatch, block hashing is a narrow map; the within-batch
    election groups (hash, id) pairs; the store probe is one left_anti join
    on the uniform md5 key; the rewrite joins a tiny per-doc index list back
    on doc_id — block text never shuffles, document text moves once."""
    from btrblocks_spark.pipeline.dedup import (
        block_hashes,
        block_rewrite,
        split_nonempty_docs,
    )

    bw = int(block_words)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        d = split_nonempty_docs(batch_df)
        # within-batch first occurrence per hash
        batch_winners = (
            block_hashes(d, bw)
            .groupBy("h")
            .agg(F.min(F.struct("doc_id", "blk")).alias("first"))
            .select("h", F.col("first.doc_id").alias("doc_id"), F.col("first.blk").alias("blk"))
        )
        prior = _prior_store(spark, store_dir, batch_id)
        winners = (
            batch_winners
            if prior is None
            else batch_winners.join(prior.select("h"), "h", "left_anti")
        )
        # pin AFTER the store anti-join: winners is consumed twice (store
        # write + rewrite) and the store scan grows with batch count — a
        # checkpoint before the join would pay that O(store) scan twice
        winners = winners.localCheckpoint()

        out = block_rewrite(d, winners.select("doc_id", "blk"), bw)
        # only NEW hashes enter the store — ones already present from an
        # earlier batch stay discoverable there, so the store holds each
        # hash exactly once (first-claiming batch)
        _write_batch_partition(winners.select("h"), store_dir, batch_id)
        _write_batch_partition(out, out_dir, batch_id)

    return (
        stream_docs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def score_stream(
    stream_docs: DataFrame, weights: list[float] | None = None
) -> DataFrame:
    """Streaming quality scoring with a TRAINED classifier: applies the
    logistic-regression margin (pipeline/training.logreg_predict's exact
    expression — fixed-association weighted sum over integer-derived
    features, prediction by margin sign, no exp() at decision time) to a
    document stream.

    ``weights`` come from a batch ``logreg_train`` run (the offline-train /
    online-score split every production quality filter uses — the trained
    model is a handful of driver-side scalars, broadcast implicitly as plan
    literals). Default weights are a fixed snapshot so the operator is
    usable standalone.

    Stateless per-row map: no watermark, no state store; at 100 TB/day the
    scorer scales with source parallelism alone."""
    from btrblocks_spark.pipeline.training import logreg_predict

    if weights is None:
        weights = [0.0, 0.05, 0.01, -0.02]  # bias, len, tokens, punct
    feats = stream_docs.select(
        "doc_id",
        "text",
        (F.col("n_chars") / F.lit(1000.0)).alias("x1"),
        (F.size(F.split(F.col("text"), " ")) / F.lit(100.0)).alias("x2"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", "\\.", "")))
            / F.lit(100.0)
        ).alias("x3"),
    )
    return logreg_predict(feats, weights, ["x1", "x2", "x3"]).select(
        "doc_id", F.round("z", 6).alias("score"), F.col("pred").alias("keep")
    )


def drift_stream(
    stream_docs: DataFrame,
    ref_counts: DataFrame,
    out_dir: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Per-microbatch token-distribution drift monitor — the streaming twin
    of ``pipeline.text.source_divergence``: each microbatch's per-source
    unigram mix is compared against a FROZEN reference distribution
    (``ref_counts`` = (w, cw) from a trusted corpus snapshot), emitting one
    row per (batch, source) with the Jensen-Shannon divergence and OOV
    rate. A crawl drop whose JS jumps is flagged at ingest time, before the
    nightly curation run ever sees it.

    JS is used (not KL) because it is finite without smoothing: batch
    tokens absent from the reference contribute p_b·ln 2, and reference
    words absent from the batch collapse to the closed form
    ln 2 · (1 − coverage) over EXACT integer reference counts — so only
    the batch's own (source, word) pairs are ever materialized.

    Shape: one map-side-combined groupBy(source, w) per microbatch; the
    reference vocab joins on w (Spark broadcasts it when small); output is
    |sources| rows per batch — driver-scale. Replay safety: each batch
    writes a batch-id-named subdir with mode("overwrite"), so a replayed
    microbatch after a crash overwrites its own partial output instead of
    duplicating rows."""
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = js_divergence_vs_ref(batch_df, ref_counts).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        _write_batch_partition(out, out_dir, batch_id)

    writer = stream_docs.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def js_divergence_vs_ref(batch_df: DataFrame, ref_counts: DataFrame) -> DataFrame:
    """One drift row per source in ``batch_df`` vs the frozen reference
    (see ``drift_stream``); factored out so batch jobs and tests run the
    exact per-microbatch computation."""
    ref_tot = ref_counts.agg(F.sum("cw").alias("n_ref"))
    counts = (
        batch_df.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    stot = counts.groupBy("source").agg(F.sum("c").alias("ns"))
    g = (
        counts.join(F.broadcast(ref_counts), "w", "left")
        .na.fill({"cw": 0})
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ref_tot))
    )
    pb = F.col("c").cast("double") / F.col("ns").cast("double")
    pr = F.col("cw").cast("double") / F.col("n_ref").cast("double")
    # p_r = 0 (OOV) zeroes the reference term: 0·ln0 must not evaluate
    ref_term = F.when(
        F.col("cw") > 0, pr * F.log(F.lit(2.0) * pr / (pb + pr))
    ).otherwise(F.lit(0.0))
    terms = g.select(
        "source",
        "ns",
        "n_ref",
        "cw",
        (F.col("cw") == 0).cast("long").alias("is_oov"),
        F.col("c").alias("c_oov_wt"),
        F.round(pb * F.log(F.lit(2.0) * pb / (pb + pr)) + ref_term, 6).alias(
            "term_js"
        ),
    )
    cov = F.sum("cw").cast("double") / F.max("n_ref").cast("double")
    return terms.groupBy("source").agg(
        F.max("ns").cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.when(F.col("is_oov") == 1, F.col("c_oov_wt")).otherwise(0))
            .cast("double")
            / F.max("ns").cast("double"),
            6,
        ).alias("oov_rate"),
        F.round(
            F.lit(0.5)
            * (
                F.sum(F.col("term_js").cast("decimal(18,6)")).cast("double")
                + F.log(F.lit(2.0)) * (F.lit(1.0) - cov)
            ),
            6,
        ).alias("js_vs_ref"),
    )
