"""Chunked table writer — the compression pipeline (reference S4/P1-P4,
tools/conversion/csvtobtr.cpp:148-190 + compression/Datablock.cpp:54-148).

Pipeline (all distributed; driver holds only the chunk×column plan, which is
O(num_chunks · num_columns) small rows):

  1. chunk the table: global index over ``order_keys`` → chunk_id
     (storage/Relation.cpp:42-69 analog), in at most one index range per
     chunk; a table that fits one chunk is one range.
  2. physical knobs: ONE map-side ``approx_count_distinct`` pass over the
     source sizes the bloom filters on the lookup keys (cheap JVM scan, no
     shuffle), and ONE small job collects the input's first ``block_size``
     rows to the driver. Sorted by the order keys, that sample is
     trial-encoded with pyarrow per stored column, at the writer's codec
     and level, as one v2 data page: once with a dictionary and once in
     the encoding parquet-mr falls back to without one; the smaller form
     sets the column's dictionary switch (the BtrBlocks choice: compress a
     sample with each candidate, keep the smallest). ``_idx``, an integer
     or temporal leading key, and types pyarrow cannot write in Spark's
     physical form (decimal, boolean, nested) keep fixed rules. For a
     table larger than one chunk the sample is the input's first rows in
     key order, not a real chunk.
  3. write data as Parquet straight off the chunk staging shuffle with
     ``maxRecordsPerFile = block_size`` — rows are _idx-sorted within
     partitions and every non-final chunk has exactly block_size rows, so
     files split on exact chunk boundaries (one file = one chunk — the
     ColumnPart sizing analog, storage/Chunk.cpp:233-266), ZSTD pages.
     A one-range table skips the staging shuffle: the chunker's single
     partition already holds every row in ``_idx`` order.
     Files are Parquet v2 and every chunk column is ONE data page (the
     BtrBlocks block): integers and timestamps written without a
     dictionary are DELTA_BINARY_PACKED (BtrBlocks' delta + bit-packing),
     non-dictionary strings DELTA_BYTE_ARRAY. ``_idx`` and an integer or
     temporal leading order key are written with no dictionary and no
     bloom filter: rows are sorted by them inside every chunk, so delta
     stores them in a few bits per row, and file min/max already finds the
     one chunk a lookup on them needs.
  4. plan: ``mapInPandas`` over the WRITTEN files — each chunk is exactly
     one file, so the read-back streams whole chunks with no shuffle,
     holds one chunk in memory, computes per-column stats (T1/T2) and runs
     the scheme planner on a run-preserving sample. Planning from the
     written table (not a staging copy) means (a) no DISK_ONLY staging
     persist — at scale that saved round-trip is a full extra raw-data
     write+read — and (b) the plan reads zstd-compressed columns, and
     describes exactly the bytes a reader will see.
  5. write the metadata sidecar ``_btr_metadata.json`` (the btr ``metadata``
     file, compression/Datablock.hpp:23-35): schema, chunking, per
     column-chunk scheme + stats + size estimate.

Steps 3 and 4 are ``write_chunk_files`` and ``plan_chunk_files``;
``maintenance.compact`` rewrites a table's fragmented tail through the
same two functions, so a change to the chunk files or their stats is made
once for both.

Full-data movements per write: the chunker's ``_pid`` range exchange, the
``_chunk`` staging exchange (tables of more than one chunk only), one write
and one compressed read-back. A one-chunk write also runs no offsets job
and plans its one chunk file with no stats exchange: six Spark jobs in
all, against ten for a table of a few chunks.

Codec choice: zstd by default (the ratio anchor — est ratio ~3.7 on the
bench table). Measured on lineitem sf0.1, lz4 scans ~1.4x faster at ~21%
larger files; a speed-first deployment sets
``config.compression_codec = "lz4"`` — the scheme planner and layout are
codec-agnostic.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.sql.types import StructType

from btrblocks_spark.config import DEFAULT_CONFIG, BtrBlocksConfig
from btrblocks_spark.format import fs as _fs
from btrblocks_spark.format.chunker import with_chunk_id
from btrblocks_spark.format.planner import choose_scheme, kind_of
from btrblocks_spark.format.reader import reconstruct_column_groups

_PLAN_SCHEMA = (
    "chunk long, column string, col_type string, scheme string, scheme_tree string, "
    "est_ratio double, "
    "raw_size long, est_size long, n_rows long, null_count long, unique_count long, "
    "min_repr string, max_repr string, avg_run_length double, is_sorted boolean"
)



def _column_stats_and_plan(
    col: str,
    col_type: str,
    series: pd.Series,
    config: BtrBlocksConfig,
    group_det: str | None = None,
):
    kind = kind_of(col_type)
    n = len(series)
    null_mask = series.isna().to_numpy()
    null_count = int(null_mask.sum())
    if kind == "skip":
        # SKIP types (nested arrays/maps etc., reference btrfiles.hpp:20-22)
        # bypass stats entirely — their values may be unhashable (ndarray
        # cells), so even nunique() is off-limits here
        return {
            "column": col, "col_type": col_type, "scheme": "skip",
            "scheme_tree": "skip", "est_ratio": 1.0,
            "raw_size": 0, "est_size": 0, "n_rows": n, "null_count": null_count,
            "unique_count": 0, "min_repr": "", "max_repr": "",
            "avg_run_length": 1.0, "is_sorted": False,
        }
    if kind == "int":
        if pd.api.types.is_datetime64_any_dtype(series):
            # temporal → epoch-ns int64 (NaT slots masked out below)
            values = series.to_numpy(dtype="datetime64[ns]").astype(np.int64)
            values = np.where(null_mask, 0, values)
        elif series.dtype == object:
            # date columns arrive as objects of datetime.date in Arrow batches
            values = (
                pd.to_datetime(series)
                .to_numpy(dtype="datetime64[ns]")
                .astype(np.int64)
            )
            values = np.where(null_mask, 0, values)
        else:
            values = series.fillna(0).to_numpy(dtype=np.int64)
    elif kind == "double":
        values = series.to_numpy(dtype=np.float64)
        values = np.where(null_mask, 0.0, values)
    else:
        values = series.to_numpy(dtype=object)
    mask = ~null_mask

    set_vals = values[mask]
    if len(set_vals) > 1:
        # object (string) arrays support the same vectorized comparisons —
        # a fixed is_sorted=True/giant-run answer for strings would
        # describe an arbitrary column as fully sorted in the sidecar
        runs = 1 + int((set_vals[1:] != set_vals[:-1]).sum())
        avg_run = len(set_vals) / runs
        is_sorted = bool(np.all(set_vals[1:] >= set_vals[:-1]))
    else:
        avg_run, is_sorted = float(len(set_vals) or 1), True

    if len(set_vals):
        if kind == "string":
            uniq = len(set(set_vals.tolist()))
            mn, mx = min(set_vals.tolist()), max(set_vals.tolist())
        else:
            uu = np.unique(set_vals)
            uniq, mn, mx = len(uu), uu[0], uu[-1]
        if (
            kind == "int"
            and null_count
            and series.dtype.kind == "f"
            and np.abs(set_vals).max() >= (1 << 53)
        ):
            # int64 with nulls arrives as float64 (Arrow->pandas), and
            # values past 2^53 were ROUNDED by that trip — min/max would
            # be wrong by up to an ulp, and a zone map built on them can
            # exclude a chunk that holds the queried key. No exact stats
            # are recoverable here: store empty reprs (= no stats; pruning
            # keeps the chunk, metadata-only MIN/MAX reports None).
            mn, mx = "", ""
    else:
        uniq, mn, mx = 0, "", ""

    if group_det is not None:
        # column-group dependent: its per-row stream is NOT stored — the
        # value is reconstructed from the determinant's mapping table, so
        # no scheme cascade runs. Chunk stats (min/max/nulls/runs) are
        # still computed above: zone-map pruning and metadata-only agg on
        # the dependent stay exactly as informative as for stored columns.
        # raw_size uses the planner's raw model (honest ratio accounting);
        # est_size is 0 here and the writer amortizes the actual on-disk
        # mapping bytes across chunks afterwards (est_ratio with it).
        from btrblocks_spark.format import codecs as _codecs

        if kind == "int":
            raw = n * int(_codecs._elem_width(values[mask]))
        elif kind == "double":
            raw = n * 8
        else:
            raw = int(sum(len(x or "") for x in values)) + 4 * n
        return {
            "column": col, "col_type": col_type, "scheme": "column_group",
            "scheme_tree": f"column_group({group_det})",
            "est_ratio": 0.0, "raw_size": int(raw),
            "est_size": 0, "n_rows": n, "null_count": null_count,
            "unique_count": int(uniq), "min_repr": str(mn), "max_repr": str(mx),
            "avg_run_length": float(avg_run), "is_sorted": is_sorted,
        }
    plan = choose_scheme(col_type, values, mask, config)
    return {
        "column": col, "col_type": col_type, "scheme": plan["scheme"],
        "scheme_tree": plan.get("scheme_tree", plan["scheme"]),
        "est_ratio": float(plan["est_ratio"]), "raw_size": int(plan["raw_size"]),
        "est_size": int(plan["est_size"]), "n_rows": n, "null_count": null_count,
        "unique_count": int(uniq), "min_repr": str(mn), "max_repr": str(mx),
        "avg_run_length": float(avg_run), "is_sorted": is_sorted,
    }


def _plan_pdf(
    pdf: pd.DataFrame, chunk: int, col_types, config, group_deps=None
) -> pd.DataFrame:
    rows = []
    for col, col_type in col_types:
        row = _column_stats_and_plan(
            col, col_type, pdf[col], config,
            group_det=(group_deps or {}).get(col),
        )
        row["chunk"] = chunk
        rows.append(row)
    return pd.DataFrame(rows)


def _plan_partition_fn(
    col_types: list[tuple[str, str]],
    config: BtrBlocksConfig,
    group_deps: dict[str, str] | None = None,
):
    """mapInPandas kernel: stream Arrow batches of a chunk-staged partition
    (ascending ``_idx`` ⇒ ascending ``_chunk``, each chunk contiguous),
    flushing one chunk's plan at a time — memory stays O(block_size) however
    many chunks a partition holds. ``group_deps`` maps column-group
    dependent columns to their determinant (those columns skip the scheme
    cascade — they are stored as a mapping table, not a stream)."""

    def plan_stream(batches):
        buf: list[pd.DataFrame] = []
        cur = None
        for pdf in batches:
            if not len(pdf):
                continue
            for ck, g in pdf.groupby("_chunk", sort=True):
                if cur is None:
                    cur = ck
                elif ck != cur:
                    yield _plan_pdf(pd.concat(buf, ignore_index=True), int(cur), col_types, config, group_deps)
                    buf, cur = [], ck
                buf.append(g)
        if buf:
            yield _plan_pdf(pd.concat(buf, ignore_index=True), int(cur), col_types, config, group_deps)

    return plan_stream


def _stage_by_chunk(chunked: DataFrame, num_chunks: int) -> DataFrame:
    """Hash-partition by chunk id (co-locates every chunk whole), sorted by
    the global index within partitions. Partition count is capped so a task
    handles several chunks at large num_chunks (streamed, O(block_size)
    memory) instead of scheduling millions of tiny tasks."""
    spark = chunked.sparkSession
    cap = max(spark.sparkContext.defaultParallelism * 4, 8)
    num_parts = int(max(1, min(num_chunks, cap)))
    return chunked.repartition(num_parts, "_chunk").sortWithinPartitions("_idx")


def _page_bytes(config: BtrBlocksConfig) -> int:
    """Page byte limit of chunk files: a chunk column is one page unless its
    encoded values average over 256 B a row or pass ``part_target_bytes``.
    parquet-mr allocates a compression buffer of this size for every file
    it writes (measured: 16 MiB cost 1.7 ms per file), so small chunks keep
    its 1 MiB default."""
    return min(max(config.block_size * 256, 1 << 20), config.part_target_bytes)


def chunk_write_options(
    config: BtrBlocksConfig,
    dictionary: dict[str, bool] | None = None,
    bloom: dict[str, int] | None = None,
) -> dict[str, str]:
    """Parquet writer options for chunk data files: Parquet v2 pages, codec
    and level, at most one chunk per file, one data page per chunk column,
    per-column dictionary switches (the sidecar's ``dictionary``, chosen
    by ``write_table``'s trial encoding) and bloom filters (column ->
    expected NDV, the sidecar's ``bloom_filters``). Both ``write_table``
    and ``maintenance.compact`` write chunk files with these, so a
    compacted tail keeps the table's encodings and bloom filters. A bloom
    column is written without a dictionary: parquet-mr omits the bloom of
    a fully dictionary-encoded column chunk. v2 gives dictionary-off
    integers DELTA_BINARY_PACKED pages; parquet-mr picks v1 or v2 encoders
    through one JVM-wide factory, so these options are only used under
    ``PARQUET_WRITE_LOCK`` (``write_chunk_files`` holds it).

    One page per chunk column: the page row limit is ``block_size`` (not
    parquet-mr's 20,000, which cut a 65,536-row chunk column into four
    separately compressed pages) and the page byte limit is
    ``_page_bytes``. A lookup inside a chunk decodes the whole chunk
    column."""
    opts = {
        "compression": config.compression_codec,
        "parquet.compression.codec.zstd.level": str(config.zstd_level),
        "parquet.writer.version": "PARQUET_2_0",
        "parquet.page.row.count.limit": str(config.block_size),
        "parquet.page.size": str(_page_bytes(config)),
        "maxRecordsPerFile": str(config.block_size),
    }
    for col, enabled in (dictionary or {}).items():
        opts[f"parquet.enable.dictionary#{col}"] = str(enabled).lower()
    for col, ndv in (bloom or {}).items():
        opts[f"parquet.enable.dictionary#{col}"] = "false"
        opts[f"parquet.bloom.filter.enabled#{col}"] = "true"
        opts[f"parquet.bloom.filter.expected.ndv#{col}"] = str(ndv)
    return opts


def plan_chunks(
    chunked: DataFrame,
    col_types: list[tuple[str, str]],
    config: BtrBlocksConfig,
    num_chunks: int | None = None,
) -> DataFrame:
    """Distributed per-chunk stats + scheme selection (one row per
    chunk×column). One hash shuffle by chunk id; planning itself streams
    inside partitions with no further movement."""
    if num_chunks is None:
        total = getattr(chunked, "_btr_total_rows", None)
        num_chunks = (
            (total + config.block_size - 1) // config.block_size if total else 10**9
        )
    staged = _stage_by_chunk(chunked, int(num_chunks))
    return staged.mapInPandas(_plan_partition_fn(col_types, config), _PLAN_SCHEMA)


_GROUPS_DIR = "_btr_column_groups"

# parquet-mr 1.16 builds every file writer's column encoders through one
# JVM-wide factory (ParquetProperties.DEFAULT_VALUES_WRITER_FACTORY) that
# keeps the properties of the writer constructed LAST in the process. Two
# parquet writes with different options that have files open at the same
# time can swap per-column settings: with concurrent write_table calls, a
# documents chunk file came out PLAIN_DICTIONARY for a column planned
# without a dictionary, and a default-option write (dictionary on for
# every column) beside a write_table does the same. Every parquet write
# the engine issues holds this lock for its whole job, upstream stages
# included (write_parquet; the catalog writes take it directly), so no two
# of them have files open side by side. A parquet write issued outside
# the engine can still race them. The plan pass also sets, uses and
# restores the session-global maxPartitionBytes under this lock (see
# plan_chunk_files).
PARQUET_WRITE_LOCK = threading.Lock()


def write_parquet(writer, path: str) -> None:
    """``writer.parquet(path)`` under ``PARQUET_WRITE_LOCK``."""
    with PARQUET_WRITE_LOCK:
        writer.parquet(path)


def _observed_or_readback_totals(obs, spark, stats_path: str) -> tuple[int, int]:
    """raw/est byte totals from the stats write's own observe() metrics —
    one job instead of write + read-back agg. A 0-row write collapses to an
    empty relation whose CollectMetrics never runs, so ``obs.get`` hands
    back a schemaless empty row py4j cannot convert; fall back to the
    (pre-round-8) read-back aggregate, which computes the identical totals
    from the committed stats files."""
    try:
        tot = obs.get
        return int(tot["raw"]), int(tot["est"])
    except Exception:
        tot = (
            spark.read.parquet(stats_path)
            .agg(
                F.coalesce(F.sum("raw_size"), F.lit(0)).alias("raw"),
                F.coalesce(F.sum("est_size"), F.lit(0)).alias("est"),
            )
            .collect()[0]
        )
        return int(tot["raw"]), int(tot["est"])


def write_chunk_files(
    df: DataFrame,
    data_path: str,
    order_keys: list[str],
    config: BtrBlocksConfig,
    start: int = 0,
    total_rows: int | None = None,
    bounds: list[tuple] | None = None,
    dictionary: dict[str, bool] | None = None,
    bloom: dict[str, int] | None = None,
    drop: tuple[str, ...] = (),
) -> tuple[int, int]:
    """Pipeline step 3, shared by ``write_table`` and ``maintenance.compact``:
    index ``df`` over ``order_keys`` from global index ``start``, stage
    every chunk whole into one partition, and write the rows (minus the
    ``drop`` columns) as chunk files under ``data_path``. Rows are
    _idx-sorted within partitions and every non-final chunk has exactly
    block_size rows, so ``maxRecordsPerFile`` splits files on exact chunk
    boundaries: one output file = one chunk (the ColumnPart sizing analog).
    Spark writes a file for partition 0 even when it is empty (so an empty
    write still leaves a schema), and hashing chunk ids can leave partition
    0 without a chunk: that 0-row file is removed unless the whole write
    is empty. ``total_rows``/``bounds`` skip the chunker's count and
    boundary-sample jobs when the caller already measured them. A
    one-chunk write is indexed in one range, whose single partition
    already holds every row in ``_idx`` order from the chunk-aligned
    ``start``, so it is written with no staging exchange. Returns
    ``(rows, chunks, schema)`` written; ``plan_chunk_files`` reads the
    files back with that schema instead of inferring it."""
    chunked = with_chunk_id(
        df, order_keys, config.block_size, total_rows=total_rows,
        bounds=bounds, start=start,
    )
    num_rows = chunked._btr_total_rows
    num_chunks = -(-num_rows // config.block_size)
    if chunked._btr_ranges == 1:
        assert start % config.block_size == 0, (start, config.block_size)
        staged = chunked.drop("_chunk", *drop)
    else:
        staged = _stage_by_chunk(chunked, num_chunks).drop("_chunk", *drop)
    write_parquet(
        staged.write.mode("overwrite")
        .options(**chunk_write_options(config, dictionary=dictionary, bloom=bloom)),
        data_path,
    )
    if num_rows:
        _fs.remove_empty_parquet(data_path, "part-00000-*", df.sparkSession)
    return num_rows, num_chunks, staged.schema


def plan_chunk_files(
    spark,
    path: str,
    meta: dict,
    data_path: str,
    stats_path: str,
    config: BtrBlocksConfig,
    schema: StructType,
    keep_chunks: int = 0,
) -> dict:
    """Pipeline step 4, shared by ``write_table`` and ``maintenance.compact``:
    plan every chunk file under ``data_path`` and write the per-chunk stats
    dataset to ``stats_path``. ``meta`` is the sidecar this write commits
    (schema, column groups, num_chunks); ``schema`` is the files' schema
    as ``write_chunk_files`` wrote them (reading with it skips a
    schema-inference job). The first ``keep_chunks`` chunks'
    stats rows are carried over from the table at ``path`` instead (compact
    keeps those chunk files untouched): from the ``_btr_chunk_stats``
    dataset, or from a v1 sidecar's inline rows. Returns the sidecar's
    ``totals``."""
    col_types = [(c["name"], c["type"]) for c in meta["schema"]]
    groups = meta.get("column_groups") or []
    # plan over the WRITTEN files: every chunk is exactly one file, so the
    # read-back streams whole chunks with no shuffle, no staging copy, and
    # the plan reads the compressed bytes a reader will see
    written = (
        spark.read.schema(schema).parquet(data_path)
        .withColumn(
            "_chunk",
            F.floor(F.col("_idx") / F.lit(config.block_size)).cast("long"),
        )
        .drop("_idx")
    )
    # reconstruct group dependents for the stats pass (broadcast null-safe
    # joins — narrow, so the one-file-per-partition chunk alignment the
    # mapInPandas kernel relies on is preserved), so the sidecar carries
    # full chunk stats for EVERY logical column and zone-map pruning on a
    # dependent works exactly as for stored ones
    written = reconstruct_column_groups(spark, path, written, meta)
    # shard the per-chunk stats: plan rows stream from the planning tasks
    # straight into a parquet dataset, sorted by (column, chunk) so
    # one-column reads (prune_chunks) row-group-prune. The driver NEVER
    # materializes them — at 10^12 rows / 64Ki chunks that is ~15M chunks
    # × columns, a multi-GB collect the round-3 monolithic sidecar design
    # paid (the reference's single `metadata` file has the same shape,
    # compression/Datablock.cpp:27-52 — this is where we leave parity
    # deliberately for scale).
    plan_df = written.mapInPandas(
        _plan_partition_fn(
            col_types, config, {g["dep"]: g["det"] for g in groups}
        ),
        _PLAN_SCHEMA,
    )
    if groups:
        # amortize each mapping's ACTUAL on-disk bytes across the chunks of
        # its dependent: totals (and the compression ratio) then account
        # the mapping honestly instead of claiming the dependent costs zero
        amort = {
            g["dep"]: -(-g["mapping_bytes"] // meta["num_chunks"])
            for g in groups
        }
        est = F.col("est_size")
        for dep, a in amort.items():
            est = F.when(F.col("column") == dep, F.lit(int(a))).otherwise(est)
        plan_df = plan_df.withColumn("est_size", est).withColumn(
            "est_ratio",
            F.when(
                F.col("column").isin(list(amort)),
                F.round(
                    F.col("raw_size").cast("double")
                    / F.greatest(F.col("est_size"), F.lit(1)).cast("double"),
                    4,
                ),
            ).otherwise(F.col("est_ratio")),
        )
    if keep_chunks:
        if "columns" in meta:  # v1 sidecar: inline rows → local frame
            prefix_rows = [
                {"column": col, "col_type": info["type"], **ch}
                for col, info in meta["columns"].items()
                for ch in info["chunks"]
                if ch["chunk"] < keep_chunks
            ]
            prefix_df = spark.createDataFrame(prefix_rows, _PLAN_SCHEMA)
        else:
            prefix_df = spark.read.schema(_PLAN_SCHEMA).parquet(
                _fs.join(path, "_btr_chunk_stats")
            ).filter(F.col("chunk") < keep_chunks)
        plan_df = prefix_df.unionByName(plan_df)
    # (column, chunk) clustering via HASH repartition + in-partition sort,
    # NOT a global sort: range partitioning's boundary sampling re-executes
    # the child — i.e. the whole mapInPandas plan kernel ran a SECOND time
    # just to pick sort boundaries (round-8, guide §1.2). Hash-by-column
    # keeps each column's rows contiguous and chunk-sorted, which is all
    # prune_chunks' row-group pruning needs (the accessor re-sorts
    # driver-side anyway); the exchange moves only tiny stats rows. One
    # chunk file and no kept prefix is one read partition, so its stats
    # are sorted in place with no exchange. The totals ride the SAME job
    # as observe() metrics instead of a read-back aggregate — two jobs
    # become one.
    file_sizes = _fs.list_file_sizes(data_path, ".parquet", spark)
    obs = Observation()
    plan_df = plan_df.observe(
        obs,
        F.coalesce(F.sum("raw_size"), F.lit(0)).alias("raw"),
        F.coalesce(F.sum("est_size"), F.lit(0)).alias("est"),
    )
    if keep_chunks or len(file_sizes) > 1:
        plan_df = plan_df.repartition("column")
    stats_write = (
        plan_df.sortWithinPartitions("column", "chunk")
        .write.mode("overwrite")
        .option("compression", "zstd")
    )
    # maxPartitionBytes just above the largest file keeps every chunk whole
    # in one read partition (splitting would emit duplicate plan rows)
    # while still fanning chunks out across tasks. The conf is
    # SESSION-global: concurrent writes and compactions must not
    # interleave set/restore, so the window runs under the engine's one
    # parquet write lock, which the stats write needs anyway. Everything
    # above only builds the plan, so the lock is held for the write alone.
    max_file = max(file_sizes, default=1)
    conf = spark.conf
    with PARQUET_WRITE_LOCK:
        prev_mpb = conf.get("spark.sql.files.maxPartitionBytes")
        conf.set("spark.sql.files.maxPartitionBytes", str(max_file + (1 << 20)))
        try:
            stats_write.parquet(stats_path)
        finally:
            conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
    total_raw, total_est = _observed_or_readback_totals(obs, spark, stats_path)
    return {
        "raw_bytes": total_raw,
        "est_compressed_bytes": total_est,
        "est_compression_ratio": round(total_raw / max(total_est, 1), 4),
    }


def _resolve_column_groups(
    df: DataFrame,
    col_types: list[tuple[str, str]],
    ndv: dict[str, int],
    total_rows: int,
    config: BtrBlocksConfig,
    column_groups: list[tuple[str, str]] | None,
    auto: bool,
    precomputed: dict[str, int] | None = None,
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """Validated (determinant, dependent) column groups for this write,
    plus the exact distinct-determinant counts the validation measured
    (``{det: nd}`` — the writer reuses them as the mapping entry counts,
    skipping a read-back count job per group).

    ``precomputed`` carries the ``_btr_nd__<det>`` / ``_btr_np__<i>``
    validation aggregates when the caller already ran them fused into its
    NDV job (explicit groups) — this function then runs NO job at all.

    Explicit pairs are EXACTLY validated (null-safe: struct-wrapped
    countDistinct counts a NULL as a value, so det=NULL rows must also map
    to one dependent value) and raise on violation — a grouped write that
    silently dropped a violated pair would corrupt the dependent column.
    ``auto`` additionally discovers pairs from the write's own HLL NDV
    pass (free — it already ran for the dictionary/bloom knobs): dets
    with a small value pool (nd·group_min_shrink ≤ rows, nd ≤
    max_group_entries), deps with nd ≤ nd_det·1.2 (FD necessary condition
    plus sketch slack), both of atomic kind. Auto candidates that fail the
    exact check are dropped, never raised. One column may be the dependent
    of at most one group and never also a determinant (no mapping chains —
    reconstruction stays a single join per group).

    Cost: ONE exact validation aggregate over just the involved columns
    (column-pruned scan), regardless of candidate count."""
    kinds = {c: kind_of(t) for c, t in col_types}
    cols = set(kinds)
    explicit = [(d, p) for d, p in (column_groups or [])]
    for det, dep in explicit:
        if det not in cols or dep not in cols:
            raise ValueError(f"column_groups: unknown column in ({det}, {dep})")
        if det == dep:
            raise ValueError(f"column_groups: det == dep ({det})")
        if kinds[det] == "skip" or kinds[dep] == "skip":
            raise ValueError(
                f"column_groups: non-atomic column in ({det}, {dep})"
            )
    candidates = list(explicit)
    n_explicit = len(explicit)
    if auto:
        dets = sorted(
            c for c in cols
            if kinds[c] != "skip"
            and 1 < ndv.get(c, 0) <= config.max_group_entries
            and ndv[c] * config.group_min_shrink <= total_rows
        )
        for det in sorted(dets, key=lambda c: (ndv[c], c)):
            for dep in sorted(cols - {det}):
                if kinds[dep] == "skip" or (det, dep) in candidates:
                    continue
                if ndv.get(dep, 1 << 62) <= ndv[det] * 1.2:
                    candidates.append((det, dep))
    if not candidates:
        return [], {}

    from pyspark.sql import functions as F

    dets = list(dict.fromkeys(d for d, _ in candidates))
    if precomputed is not None and not auto:
        # explicit-only: the validation aggregates already ran fused into
        # the caller's NDV job (same countDistinct expressions, same
        # candidate order) — zero additional jobs here
        m = {f"nd__{d}": precomputed[f"_btr_nd__{d}"] for d in dets}
        m.update(
            {
                f"np__{i}": precomputed[f"_btr_np__{i}"]
                for i in range(len(candidates))
            }
        )
    else:
        m = df.agg(
            *[F.countDistinct(F.struct(d)).alias(f"nd__{d}") for d in dets],
            *[
                F.countDistinct(F.struct(det), F.struct(dep)).alias(f"np__{i}")
                for i, (det, dep) in enumerate(candidates)
            ],
        ).collect()[0]
    chosen: list[tuple[str, str]] = []
    used: set[str] = set()
    nd_by_det: dict[str, int] = {d: int(m[f"nd__{d}"]) for d in dets}
    for i, (det, dep) in enumerate(candidates):
        nd, np_ = nd_by_det[det], int(m[f"np__{i}"])
        holds = np_ == nd and nd <= config.max_group_entries
        if i < n_explicit:
            if np_ != nd:
                raise ValueError(
                    f"column_groups: FD {det} -> {dep} violated "
                    f"({np_} distinct pairs vs {nd} distinct determinants)"
                )
            if nd > config.max_group_entries:
                raise ValueError(
                    f"column_groups: {det} has {nd} entries > "
                    f"max_group_entries={config.max_group_entries}"
                )
        elif not holds or nd * config.group_min_shrink > total_rows:
            continue
        # no chains / no double roles: a dep appears once, a dep is never
        # also a det, a det is never also a dep (reconstruction must stay
        # ONE join per group, in any order)
        conflict = (
            dep in used
            or any(dep == d for d, _ in chosen)
            or any(det == p for _, p in chosen)
        )
        if conflict:
            if i < n_explicit:
                raise ValueError(
                    f"column_groups: ({det}, {dep}) conflicts with an "
                    "earlier group (chained or duplicated column role)"
                )
            continue
        chosen.append((det, dep))
        used.add(dep)
    return chosen, nd_by_det


# Spark type -> the encoding parquet-mr's v2 writer falls back to without
# a dictionary, for the types pyarrow writes in Spark's physical form.
# Decimal (Spark: INT32/INT64, pyarrow: FIXED_LEN_BYTE_ARRAY), boolean and
# nested types are not trialled.
_FALLBACK_ENCODING = {
    **dict.fromkeys(
        ("tinyint", "smallint", "int", "bigint", "date", "timestamp_ntz"),
        "DELTA_BINARY_PACKED",
    ),
    "float": "PLAIN",
    "double": "PLAIN",
    "string": "DELTA_BYTE_ARRAY",
    "binary": "DELTA_BYTE_ARRAY",
}


def _trial_dictionary(
    df: DataFrame,
    order_keys: list[str],
    col_types: dict[str, str],
    config: BtrBlocksConfig,
) -> dict[str, bool]:
    """Dictionary switch per column of ``col_types`` by trial encoding.
    One job collects the input's first ``block_size`` rows; sorted by
    ``order_keys``, each column is written by pyarrow twice, at the
    writer's codec and level as data page v2 with one page: with a
    dictionary, and in parquet-mr's fallback encoding. A column gets a
    dictionary iff that form's column chunk is smaller. A TIMESTAMP is
    INT96 (PLAIN without a dictionary) under Spark's default
    ``outputTimestampType``, INT64 under TIMESTAMP_MICROS, and not
    trialled under TIMESTAMP_MILLIS. Columns of other types, and every
    column of an empty input, are left out of the result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_form = df.sparkSession.conf.get("spark.sql.parquet.outputTimestampType")
    ts_encoding = {"INT96": "PLAIN", "TIMESTAMP_MICROS": "DELTA_BINARY_PACKED"}
    encodings = {
        c: ts_encoding.get(ts_form) if t == "timestamp" else _FALLBACK_ENCODING.get(t)
        for c, t in col_types.items()
    }
    encodings = {c: e for c, e in encodings.items() if e}
    if not encodings:
        return {}
    sample = (
        df.select(*dict.fromkeys([*order_keys, *encodings]))
        .limit(config.block_size)
        .toArrow()
    )
    if not sample.num_rows:
        return {}
    if order_keys:
        sample = sample.sort_by(
            [(k, "ascending") for k in order_keys], null_placement="at_start"
        )
    codec = config.compression_codec.lower()
    codec = {"uncompressed": "none", "lz4_raw": "lz4"}.get(codec, codec)
    level = config.zstd_level if codec == "zstd" else None

    def smaller_with_dictionary(col: str) -> bool:
        arr = sample.column(col)
        if encodings[col] != "PLAIN" and pa.types.is_timestamp(arr.type):
            arr = arr.cast(pa.int64())  # INT64 micros: the same bytes
        table = pa.table({col: arr})

        def size(**kw) -> int:
            buf = pa.BufferOutputStream()
            pq.write_table(
                table, buf, compression=codec, compression_level=level,
                data_page_version="2.0", data_page_size=_page_bytes(config),
                use_deprecated_int96_timestamps=True, **kw,
            )
            md = pq.read_metadata(pa.BufferReader(buf.getvalue()))
            return sum(
                md.row_group(r).column(0).total_compressed_size
                for r in range(md.num_row_groups)
            )

        return size(use_dictionary=True) < size(
            use_dictionary=False, column_encoding={col: encodings[col]}
        )

    # pyarrow encodes with the GIL released: one column per thread
    with ThreadPoolExecutor(min(len(encodings), os.cpu_count() or 1)) as pool:
        return dict(zip(encodings, pool.map(smaller_with_dictionary, encodings)))


def write_table(
    df: DataFrame,
    path: str,
    order_keys: list[str],
    config: BtrBlocksConfig = DEFAULT_CONFIG,
    table_name: str | None = None,
    column_groups: list[tuple[str, str]] | None = None,
    auto_column_groups: bool = False,
) -> dict:
    """Write ``df`` as a chunked, scheme-annotated table. Returns metadata.

    ``column_groups=[(det, dep), ...]`` stores each dependent column as an
    nd(det)-entry mapping table (``_btr_column_groups/g<i>``) instead of a
    per-row stream — the multi-column generalization of the dictionary
    cascade (reference scheme/string/DynamicDictionary.cpp:22-208): when
    det → dep holds functionally, every det dictionary entry stores its
    dep value ONCE and the dependent's n_rows-long stream disappears from
    the data files entirely. Readers reconstruct via a broadcast null-safe
    equi-join (format/reader.reconstruct_column_groups); round-trip is
    bit-exact (test_format_roundtrip). ``auto_column_groups=True`` lets
    the write discover profitable pairs itself from its NDV pass + one
    exact validation aggregate (the fd_advisor decision, banked).
    Grouped tables are IMMUTABLE: append/compact/delete/evolve raise (the
    reference format has no mutation either) — rewrite via write_table."""
    t0 = time.time()
    spark = df.sparkSession
    if "_idx" in df.columns:  # reserved: re-derived below from order_keys
        df = df.drop("_idx")
    col_types = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    # one map-side JVM pass measures the table's NDVs (T1's unique_count at
    # table granularity, HLL instead of exact): they size the bloom filters
    # and column groups, and set the dictionary switch of the columns the
    # trial encoding below does not cover
    ndv = {}
    ndv_cols = [c for c, _t in col_types]
    # EXPLICIT column groups ride their exact validation aggregates in the
    # same job (round-8, guide §1.2 "don't scan twice"): the FD check needs
    # countDistinct(det) and countDistinct(det, dep) — both computable
    # alongside the HLL pass, so an explicit-group write validates with
    # ZERO extra jobs. Auto mode still needs the HLL results first to pick
    # candidates, so it keeps its own (second) validation aggregate.
    group_val_aggs = []
    if column_groups and not auto_column_groups:
        kinds = {c: kind_of(t) for c, t in col_types}

        def _valid(d: str, p: str) -> bool:
            # mirror of _resolve_column_groups' pre-agg validation: an
            # invalid pair raises THERE (same errors as before); this fused
            # agg must not touch it first (a skip-kind map column would
            # fail the agg with the wrong exception)
            return (
                d in kinds and p in kinds and d != p
                and kinds[d] != "skip" and kinds[p] != "skip"
            )

        val_dets = list(dict.fromkeys(
            d for d, p in column_groups if _valid(d, p)
        ))
        group_val_aggs = [
            F.count_distinct(F.struct(d)).alias(f"_btr_nd__{d}")
            for d in val_dets
        ] + [
            F.count_distinct(F.struct(d), F.struct(p)).alias(f"_btr_np__{i}")
            for i, (d, p) in enumerate(column_groups)
            if _valid(d, p)
        ]
    # the exact row count rides along in the same agg job (one combined
    # full-column pass) and is handed to the chunker, which then skips its
    # own count job — the source is scanned once less at scale. The
    # chunker's range BOUNDARIES ride here too (round-9, guide §1.2):
    # percentile_approx of the first order key replaces the chunker's
    # separate boundary-sample job when that key is numeric/temporal —
    # boundaries only steer partition balance, so any deterministic cut
    # list yields identical output (the values become driver-side literals
    # in the _pid expression either way).
    _k0 = order_keys[0] if order_keys else None
    _k0_type = dict(col_types).get(_k0, "")
    num_parts = max(spark.sparkContext.defaultParallelism, 8)
    pct_expr = []
    # percentile_approx accepts numeric input only — string/temporal first
    # keys keep the chunker's tuple-sample job
    if _k0_type in ("tinyint", "smallint", "int", "bigint", "float", "double") and num_parts > 1:
        qs = [i / num_parts for i in range(1, num_parts)]
        pct_expr = [
            F.percentile_approx(_k0, qs, 10000).alias("_btr_bounds")
        ]
    # the trial encoding runs beside the NDV job, on every column but an
    # integer/temporal leading key (never a dictionary): its sample job
    # needs only the input, and the pyarrow work only the driver. The
    # thread keeps the caller's Spark local properties and job tags
    k0_int = kind_of(_k0_type) == "int"
    trial_thread = ThreadPoolExecutor(1)
    trial = trial_thread.submit(
        inheritable_thread_target(spark)(_trial_dictionary), df, order_keys,
        {c: t for c, t in col_types if not (k0_int and c == _k0)}, config,
    )
    trial_thread.shutdown(wait=False)  # the submitted call still runs
    ndv_row = df.agg(
        F.count(F.lit(1)).alias("_btr_total"),
        *[F.approx_count_distinct(c).alias(c) for c in ndv_cols],
        *group_val_aggs,
        *pct_expr,
    ).collect()[0]
    ndv = {c: int(ndv_row[c]) for c in ndv_cols}
    total_rows = int(ndv_row["_btr_total"])
    bounds: list[tuple] | None = None
    if pct_expr and ndv.get(_k0, 0) >= 20 * num_parts:
        # dedupe equal cuts exactly like _sample_boundaries; a heavily
        # duplicated first key (< 20 distinct values per partition) keeps
        # the tuple-sample path for balance on the tie-breaking keys
        raw_bounds = ndv_row["_btr_bounds"] or []
        bounds = []
        for b in raw_bounds:
            if b is not None and (not bounds or (b,) != bounds[-1]):
                bounds.append((b,))
    group_val = (
        {k: int(ndv_row[k]) for k in ndv_row.asDict() if k.startswith("_btr_n")}
        if group_val_aggs
        else None
    )
    # the cardinality rule, kept for the columns the trial leaves out:
    # a dictionary iff the value pool is small relative to a chunk
    dict_enabled = {
        c: ndv.get(c, 0) <= max(config.block_size // 4, 1) for c in ndv_cols
    }

    # column groups: resolve (explicit validated / auto discovered), then
    # write each mapping table — dropDuplicates on the determinant is
    # exact BECAUSE the FD was just validated (each det value has exactly
    # one dep value), and the scan is column-pruned to the two columns
    groups: list[dict] = []
    resolved, group_nd = _resolve_column_groups(
        df, col_types, ndv, total_rows, config, column_groups,
        auto_column_groups, precomputed=group_val,
    )
    # overwrite semantics: clear any previous write's mapping dirs first —
    # a re-write with fewer groups must not leave stale g<i> dirs behind
    # (readers follow the sidecar, but the leak misleads listings/metrics)
    groups_root = _fs.join(path, _GROUPS_DIR)
    if not _fs.is_uri(groups_root) and os.path.isdir(groups_root):
        import shutil

        shutil.rmtree(groups_root)
    group_deps = {dep: det for det, dep in resolved}

    # the mapping tables are written first; only the plan pass below reads
    # them back. Their writes and the data write take PARQUET_WRITE_LOCK in
    # turn, so overlapping them on a helper thread measured no faster.
    for gi, (det, dep) in enumerate(resolved):
        gdir = f"{_GROUPS_DIR}/g{gi}"
        gpath = _fs.join(path, gdir)
        write_parquet(
            df.select(det, dep)
            .dropDuplicates([det])
            .coalesce(1)
            .write.mode("overwrite")
            .option("compression", "zstd"),
            gpath,
        )
        gbytes = sum(_fs.list_file_sizes(gpath, ".parquet", spark))
        # entry count = exact distinct determinants, already measured
        # by the validation aggregate (dropDuplicates([det]) emits one
        # row per distinct det, NULL included — same null-as-value
        # semantics as countDistinct(struct(det))); no read-back count
        groups.append(
            {"det": det, "dep": dep, "path": gdir,
             "n_entries": int(group_nd[det]), "mapping_bytes": int(gbytes)}
        )

    # stats-driven bloom filters on the lookup keys: the reader's point
    # lookup (the reference's `lookup` stub, scheme/CompressionScheme.hpp:45)
    # then skips row groups whose bloom rejects the key — the chunk-stats
    # min/max pruning analog for equality on non-sorted keys. Expected NDV
    # per row group is the table NDV capped at the chunk size, so bloom
    # bytes track actual cardinality instead of parquet's 1M default.
    # Dictionary-encoded keys are excluded on purpose: the dict page
    # already answers membership exactly (and parquet-mr omits blooms
    # for fully-dict chunks anyway). An integer/temporal leading key gets
    # neither: every chunk is sorted by it, so v2 DELTA_BINARY_PACKED
    # stores it in a few bits per row, and file min/max already narrows a
    # lookup to one chunk (an absent key inside that chunk's range reads
    # the chunk instead of being rejected by a bloom).
    k0_sorted = k0_int and _k0 not in group_deps
    if k0_sorted:
        dict_enabled[_k0] = False
    # every other column: a dictionary iff it compresses the key-ordered
    # first block_size input rows smaller (no Python stage over the data)
    dict_enabled.update(trial.result())
    bloom_cols = {}
    if config.bloom_filter_keys:
        for col in order_keys:
            if col in group_deps or (k0_sorted and col == _k0):
                continue
            if dict_enabled.get(col, True) or ndv.get(col, 0) < 1:
                continue
            bloom_cols[col] = min(ndv[col], config.block_size)
    # group dependents are NOT written as streams — their values live in
    # the nd(det)-entry mapping tables; dropping them from the chunk files
    # is where the compression win is banked. _idx is dense and sorted:
    # never a dictionary
    data_path = _fs.join(path, "data")
    dictionary = {c: on for c, on in dict_enabled.items() if c not in group_deps}
    dictionary["_idx"] = False
    num_rows, num_chunks, written_schema = write_chunk_files(
        df, data_path, order_keys, config,
        total_rows=total_rows, bounds=bounds,
        dictionary=dictionary, bloom=bloom_cols, drop=tuple(group_deps),
    )
    num_chunks = max(num_chunks, 1)
    metadata = {
        "format": "btrblocks-spark/v2",
        "table": table_name or os.path.basename(path.rstrip("/")),
        "schema": [{"name": c, "type": t} for c, t in col_types],
        "order_keys": order_keys,
        "block_size": config.block_size,
        "num_rows": num_rows,
        "num_chunks": num_chunks,
        "bloom_filters": bloom_cols,
        # the parquet dictionary switch per column (trial-encoded, or by
        # rule): compact rewrites chunk files with these and the blooms
        "dictionary": dictionary,
        # dependent columns stored as mapping tables (absent from data
        # files); readers MUST reconstruct via reconstruct_column_groups
        "column_groups": groups,
        # per-chunk stats live in the sharded parquet dataset (v2); the
        # sidecar JSON stays O(schema + totals) at any table size
        "chunk_stats": "_btr_chunk_stats",
    }
    metadata["totals"] = plan_chunk_files(
        spark, path, metadata, data_path, _fs.join(path, "_btr_chunk_stats"),
        config, written_schema,
    )
    # the wall time is returned, not stored: one input must leave the same
    # sidecar bytes, which count in the table's on-disk size
    _fs.write_json(_fs.join(path, "_btr_metadata.json"), metadata, spark)
    return {**metadata, "write_seconds": round(time.time() - t0, 3)}
