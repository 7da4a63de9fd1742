"""Chunked table reader + metadata inspection (reference S5/S8:
compression/BtrReader.cpp:31-121, tools/conversion/btrmeta.cpp).

The scan itself is a Parquet scan (vectorized, JVM-side, with predicate
pushdown and column pruning from Catalyst); the metadata sidecar adds the
scheme/stats lineage per column chunk and supports chunk-granularity column
reads (the ``readColumn(chunk_i)`` analog)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from btrblocks_spark.format import fs as _fs


def _repair_pending_journals(path: str) -> None:
    """Read-path crash repair: a compaction (or COPY INTO) that died between
    its journal commit point and the apply leaves adopted files coexisting
    with the fragments they replace — every reader would see duplicate rows
    for an unbounded interval if repair only ran at the NEXT maintenance
    call. So the metadata read (the front door of every scan) finishes a
    pending journal first, under the table's commit lock. The existence
    check is two stats — free on the no-journal fast path. ``file://`` URIs
    are repaired like plain paths (the appliers are os-level renames that
    work fine on the stripped path — skipping them left file:// readers
    serving the duplicate-row window indefinitely); only true object-store
    schemes skip.

    Readers never wedge on a BUSY lock: if a live maintenance op holds the
    commit lock past the bounded wait, the repair is skipped and the
    pre-journal sidecar is served — the journal apply only ever converges
    duplicates to clean, so the stale view is exactly the pre-crash table
    that was already being served, and the live holder finishes the apply
    itself (round-4 finding: a long compact made every concurrent read
    raise TimeoutError)."""
    path = _local_path(path)
    if path is None:
        return
    has_journal = os.path.exists(
        os.path.join(path, "_compact_journal.json")
    ) or os.path.exists(os.path.join(path, "_copy_journal.json"))
    if not has_journal:
        return
    from btrblocks_spark.format.journal import commit_lock
    from btrblocks_spark.format.maintenance import _apply_compact_journal
    from btrblocks_spark.sources.copy_into import _apply_copy_journal

    try:
        with commit_lock(path, timeout_sec=10.0):  # appliers no-op if gone
            _apply_compact_journal(path)
            _apply_copy_journal(path)
    except TimeoutError:
        return  # live holder will finish the apply; serve the current view


def read_metadata(path: str, spark: SparkSession | None = None) -> dict:
    """Sidecar read. Local paths use plain ``open``; URI paths
    (``s3a://…``, ``file://…``) go through the Hadoop FileSystem client
    (format/fs.py — the S7 object-store path, decompression-speed-s3.cpp:37+),
    which needs the session's Hadoop conf, hence the optional ``spark``.
    Applies any pending compact/copy journal first (crash repair) so a
    reader never serves the duplicate-row window a crashed maintenance op
    left behind."""
    _repair_pending_journals(path)
    return _fs.read_json(_fs.join(path, "_btr_metadata.json"), spark)


_STATS_DIR = "_btr_chunk_stats"


def _local_path(path: str) -> str | None:
    """Local filesystem path for driver-side (pyarrow) metadata reads, or
    None for object-store schemes (those go through Spark)."""
    p = str(path)
    if p.startswith("file://"):
        return p[len("file://"):]
    if "://" in p:
        return None
    return p


def chunk_stats_rows(
    path: str,
    column: str | list[str] | None = None,
    meta: dict | None = None,
    spark: SparkSession | None = None,
) -> list[dict]:
    """Per-chunk plan/stats rows (the T1/T2 + scheme lineage), one dict per
    chunk×column, sorted by (column, chunk) — the driver-side accessor over
    BOTH sidecar vintages:

      v2 (sharded): rows live in the ``_btr_chunk_stats/`` parquet dataset,
         written from executors; this read is columnar and, with ``column``
         given, row-group-pruned to that column's rows (the dataset is
         sorted by column) — at 15M-chunk scale a one-column prune touches
         a sliver of the stats, never the whole set.
      v1 (legacy): rows are inline in the sidecar JSON's ``columns`` map.

    Driver-side by design — chunk pruning and metadata-only aggregates are
    O(relevant chunks) metadata work; whole-fleet consumers that want the
    stats distributed read the parquet dataset directly (scheme_summary)."""
    meta = meta if meta is not None else read_metadata(path, spark)
    wanted = (
        None
        if column is None
        else {column}
        if isinstance(column, str)
        else set(column)
    )
    if "columns" in meta:  # v1 monolithic sidecar
        out = []
        for col in sorted(meta["columns"]):
            if wanted is not None and col not in wanted:
                continue
            info = meta["columns"][col]
            for ch in info["chunks"]:
                out.append({"column": col, "col_type": info["type"], **ch})
        return out
    local = _local_path(path)
    if local is None:
        if spark is None:
            raise ValueError(
                f"chunk stats for {path}: object-store URI needs a SparkSession"
            )
        df = spark.read.parquet(_fs.join(path, _STATS_DIR))
        if wanted is not None:
            df = df.filter(F.col("column").isin(*sorted(wanted)))
        rows = [r.asDict() for r in df.collect()]
        return sorted(rows, key=lambda r: (r["column"], r["chunk"]))
    import pyarrow.parquet as pq

    filters = [("column", "in", sorted(wanted))] if wanted is not None else None
    tbl = pq.read_table(os.path.join(local, _STATS_DIR), filters=filters)
    rows = tbl.to_pylist()
    rows.sort(key=lambda r: (r["column"], r["chunk"]))
    return rows


def column_chunks(
    path: str,
    column: str,
    meta: dict | None = None,
    spark: SparkSession | None = None,
) -> list[dict]:
    """One column's per-chunk stats rows, ascending chunk id (the
    v1 ``meta['columns'][col]['chunks']`` list, vintage-independent)."""
    rows = chunk_stats_rows(path, column=column, meta=meta, spark=spark)
    if not rows:
        raise KeyError(column)
    return rows


def reconstruct_column_groups(
    spark: SparkSession, path: str, df: DataFrame, meta: dict
) -> DataFrame:
    """Rebuild column-group dependent columns (write_table(column_groups=…)
    stores them as nd(det)-entry mapping tables, not per-row streams): one
    BROADCAST null-safe equi-join per group — the mapping is
    dictionary-sized by the writer's ``max_group_entries`` cap, so at any
    table size this is a map-side hash lookup, never a shuffle of the data.
    A left join keeps rows even if a mapping entry were missing (corrupt
    table: the dependent surfaces as NULL instead of silently dropping the
    row). Column order is restored to the sidecar schema (+ any internal
    columns such as ``_idx`` at the end). No-op for ungrouped tables."""
    groups = meta.get("column_groups") or []
    if not groups:
        return df
    for g in groups:
        if g["dep"] in df.columns or g["det"] not in df.columns:
            continue
        mp = spark.read.parquet(_fs.join(path, g["path"])).select(
            F.col(g["det"]).alias("__cg_det"),
            F.col(g["dep"]).alias(g["dep"]),
        )
        df = df.join(
            F.broadcast(mp),
            F.col(g["det"]).eqNullSafe(F.col("__cg_det")),
            "left",
        ).drop("__cg_det")
    order = [f["name"] for f in meta["schema"]]
    tail = [c for c in df.columns if c not in order]
    return df.select(*[c for c in order if c in df.columns], *tail)


def _read_data(spark: SparkSession, path: str) -> DataFrame:
    """Scan the table's ``data/`` files with ``_idx`` always in the schema.

    Files appended through the ``btrblocks`` source carry no ``_idx`` until
    the next ``compact()``, and ``spark.read.parquet`` takes its schema from
    one file's footer — when an appended file lists first, ``_idx`` is
    missing from the whole scan. Only then is a nullable ``_idx`` added to
    the inferred schema, so rows of appended files read it as NULL. No
    footer sweep; every other column (schema-evolved tables included) is
    exactly what the plain read infers."""
    data = _fs.join(path, "data")
    df = spark.read.parquet(data)
    if "_idx" in df.columns:
        return df
    schema = StructType(df.schema.fields + [StructField("_idx", LongType(), True)])
    return spark.read.schema(schema).parquet(data)


def read_table(spark: SparkSession, path: str, with_index: bool = False):
    """Scan the chunked table. Returns (DataFrame, metadata)."""
    meta = read_metadata(path, spark)
    df = reconstruct_column_groups(spark, path, _read_data(spark, path), meta)
    if not with_index:
        df = df.drop("_idx")
    return df, meta


def read_column_chunk(spark: SparkSession, path: str, column: str, chunk: int) -> DataFrame:
    """Read one column of one chunk — the ``BtrReader::readColumn`` analog
    (compression/BtrReader.cpp:31-74). Parquet row-group pruning on the _idx
    range keeps this an O(chunk) read, not a table scan. A column-group
    dependent reads its determinant instead and reconstructs through the
    broadcast mapping — still an O(chunk) read of one stored column."""
    meta = read_metadata(path, spark)
    bs = meta["block_size"]
    lo, hi = chunk * bs, (chunk + 1) * bs
    df = _read_data(spark, path)
    df = df.filter((F.col("_idx") >= lo) & (F.col("_idx") < hi))
    if column not in df.columns:
        df = reconstruct_column_groups(spark, path, df, meta)
    return df.select("_idx", column)


def prune_chunks(
    meta_or_path,
    column: str,
    lo=None,
    hi=None,
    meta: dict | None = None,
    spark: SparkSession | None = None,
) -> list[int]:
    """Chunk ids whose [min, max] stats range intersects [lo, hi] — the
    driver-side half of stats-based data skipping (SURVEY §4.1: our T1 chunk
    stats feeding row-group-skipping, the reference's implied use of
    per-chunk min/max). O(this column's chunks) metadata rows, no data read
    — on a v2 (sharded-stats) table the read is pruned to the one column.

    Accepts the table PATH (works for both sidecar vintages; pass ``meta``
    to reuse an already-read sidecar and ``spark`` for object-store URIs)
    or a legacy v1 metadata dict that carries inline ``columns``.

    Chunks with any nulls are kept when the bound check can't exclude them
    (a null row never matches a range predicate, but the chunk may hold
    non-null matches — min/max already exclude nulls, so no correction is
    needed beyond empty-chunk handling).

    NaN soundness for FLOAT/DOUBLE columns: Spark orders NaN greater than
    every value, so a NaN row matches any lower bound — but the sidecar
    stats pass (pandas ``isna``) conflates NaN with null, so min/max
    exclude NaN and ``null_count`` is the only witness of possible NaNs.
    Therefore a floating chunk with ``null_count > 0`` can be excluded
    ONLY by an upper bound (neither null nor NaN satisfies x <= hi); the
    lower-bound check and the all-null skip apply just to chunks that
    provably hold no NaN (``null_count == 0``)."""
    if isinstance(meta_or_path, str):
        chunks = column_chunks(meta_or_path, column, meta=meta, spark=spark)
        kind = chunks[0]["col_type"]
    else:
        info = meta_or_path["columns"][column]
        chunks, kind = info["chunks"], info["type"]
    floating = kind in ("double", "float")
    if floating:
        cast = float
    elif kind == "string":
        cast = str  # lexicographic zone maps (BETWEEN/prefix predicates)
    else:
        cast = int
    keep = []
    for ch in chunks:
        may_hold_nan = floating and ch["null_count"] > 0
        if ch["n_rows"] == ch["null_count"] and not may_hold_nan:
            continue  # all-null chunk: no match possible
        if ch["n_rows"] == ch["null_count"] and may_hold_nan:
            # possibly all-NaN: matches any lower bound, never an upper one
            if hi is None:
                keep.append(ch["chunk"])
            continue
        if ch.get("scheme") == "skip" or ch["min_repr"] == "":
            # skip-typed columns (decimal/boolean/nested — kind_of routes
            # them past the stats pass) carry empty reprs: no stats means
            # no exclusion, keep the chunk (metadata_agg has the same
            # guard; cast('') would otherwise raise ValueError)
            keep.append(ch["chunk"])
            continue
        mn, mx = cast(ch["min_repr"]), cast(ch["max_repr"])
        lo_ok = lo is None or mx >= lo or may_hold_nan
        hi_ok = hi is None or mn <= hi
        if lo_ok and hi_ok:
            keep.append(ch["chunk"])
    return keep


def _idx_filter(chunks, block_size: int, cond=None):
    """``cond`` OR-ed with one ``_idx`` range per run of adjacent chunk ids
    (ids coalesced into maximal intervals, so a contiguous selection is one
    range predicate the Parquet reader turns into row-group skipping)."""
    intervals: list[list[int]] = []
    for c in sorted(chunks):
        if intervals and intervals[-1][1] == c:
            intervals[-1][1] = c + 1
        else:
            intervals.append([c, c + 1])
    for a, b in intervals:
        clause = (F.col("_idx") >= a * block_size) & (F.col("_idx") < b * block_size)
        cond = clause if cond is None else cond | clause
    return cond


def read_table_skipping(
    spark: SparkSession, path: str, column: str, lo=None, hi=None
) -> tuple[DataFrame, list[int]]:
    """Range scan with chunk skipping: the sidecar stats select surviving
    chunks; each becomes an ``_idx`` interval filter, which the Parquet
    reader executes as row-group skipping (data is written sorted by
    ``_idx``, so chunk ↔ contiguous row groups). The residual value
    predicate still applies — stats pruning is conservative.

    Returns (DataFrame, pruned chunk ids). At 100 TB this is the difference
    between scanning every file and touching only the chunks a range query
    needs — without any shuffle, and composable with Catalyst's own
    pushdown (both filters land in PushedFilters)."""
    meta = read_metadata(path, spark)
    bs = meta["block_size"]
    # reuse the read sidecar and carry the session: URI tables (S7) read
    # their stats dataset through Spark, and a second sidecar read (plus
    # its journal-repair stat checks) is avoided locally
    chunks = prune_chunks(path, column, lo, hi, meta=meta, spark=spark)
    # sidecar stats cover column-group dependents too, so chunk pruning on
    # a dependent works unchanged; the residual value filter then applies
    # to the reconstructed column (it cannot reach the parquet scan — the
    # dependent has no stored stream — but the _idx interval filters do)
    df = reconstruct_column_groups(spark, path, _read_data(spark, path), meta)
    # rows appended since the last compact() have a NULL _idx and no chunk
    # stats, so pruning cannot exclude them: they pass the interval filter
    # and meet only the residual value predicate below
    out = df.filter(_idx_filter(chunks, bs, F.col("_idx").isNull()))
    if lo is not None:
        out = out.filter(F.col(column) >= lo)
    if hi is not None:
        out = out.filter(F.col(column) <= hi)
    return out.drop("_idx"), chunks


_SUMMARY_SCHEMA = (
    "column string, col_type string, chunk long, scheme string, scheme_tree string, "
    "est_ratio double, "
    "raw_size long, est_size long, n_rows long, null_count long, unique_count long"
)


def scheme_summary(spark: SparkSession, path: str) -> DataFrame:
    """btrmeta analog: one row per column×chunk with scheme + stats + sizes
    (tools/conversion/btrmeta.cpp:22-60, BtrReader::getSchemeDescription).

    On a v2 table this is a DISTRIBUTED parquet scan of the sharded
    chunk-stats dataset — at 15M chunks the summary never materializes on
    the driver; v1 sidecars (inline JSON) build the small frame locally."""
    meta = read_metadata(path, spark)
    cols = [c.strip().split(" ")[0] for c in _SUMMARY_SCHEMA.split(",")]
    if "columns" not in meta:  # v2: sharded stats
        return spark.read.parquet(_fs.join(path, _STATS_DIR)).select(*cols)
    rows = []
    for col, info in meta["columns"].items():
        for ch in info["chunks"]:
            rows.append(
                (
                    col,
                    info["type"],
                    ch["chunk"],
                    ch["scheme"],
                    # recursive cascade tree (BtrReader::getSchemeDescription);
                    # older sidecars predate the field
                    ch.get("scheme_tree", ch["scheme"]),
                    float(ch["est_ratio"]),
                    ch["raw_size"],
                    ch["est_size"],
                    ch["n_rows"],
                    ch["null_count"],
                    ch["unique_count"],
                )
            )
    return spark.createDataFrame(rows, _SUMMARY_SCHEMA)


def metadata_agg(path: str, columns: list[str] | None = None, spark: SparkSession | None = None) -> list[dict]:
    """Metadata-only aggregates: COUNT / COUNT(col) / MIN / MAX answered
    purely from the sidecar's per-chunk stats — zero data files touched
    (the aggregate-pushdown-to-footer trick of Parquet/Iceberg readers,
    applied to our btr sidecar; reference's FileMetadata role,
    compression/Datablock.hpp:30-35).

    At 100 TB this is O(num_chunks) driver-side JSON rows instead of a
    full-table scan; correctness holds because the writer computes the
    chunk stats from the exact same rows it persists (null-excluded
    min/max, all-null chunks carry empty reprs and are skipped).

    Returns one dict per column: {column, n_rows, n_nulls, min, max}
    (min/max None for skip-typed or all-null columns)."""
    from btrblocks_spark.format.planner import kind_of

    meta = read_metadata(path, spark)
    by_col: dict[str, list[dict]] = {}
    col_type: dict[str, str] = {}
    # the column filter is pushed into the stats read (parquet row-group
    # pruning on v2 tables) — a 2-column agg must not materialize all
    # chunks × columns rows on the driver
    for r in chunk_stats_rows(path, column=columns, meta=meta, spark=spark):
        by_col.setdefault(r["column"], []).append(r)
        col_type[r["column"]] = r["col_type"]
    out = []
    for name, chunks in by_col.items():
        # route through the planner's kind map: temporal columns plan (and
        # store min/max reprs) as epoch int64 — comparing their reprs as
        # strings would return lexicographic min/max ('9…' > '15…', and
        # pre-1970 '-…' sorts before digits)
        kind = kind_of(col_type[name])
        if kind == "double":
            cast = float
        elif kind == "int":
            cast = int
        else:
            cast = str
        n_rows = n_nulls = 0
        mn = mx = None
        poisoned = False
        for ch in chunks:
            n_rows += ch["n_rows"]
            n_nulls += ch["null_count"]
            if ch["scheme"] == "skip" or ch["n_rows"] == ch["null_count"]:
                continue
            if ch["min_repr"] == "":
                # a non-all-null chunk WITHOUT stats (e.g. nullable int64
                # whose >2^53 values were float-rounded at the pandas
                # boundary — the writer refuses to store inexact bounds):
                # the metadata CANNOT answer MIN/MAX for this column.
                # Serving the other chunks' extrema would be silently
                # wrong; None tells the caller to scan.
                poisoned = True
                continue
            cmn, cmx = cast(ch["min_repr"]), cast(ch["max_repr"])
            mn = cmn if mn is None else min(mn, cmn)
            mx = cmx if mx is None else max(mx, cmx)
        if poisoned:
            mn = mx = None
        out.append(
            {"column": name, "n_rows": n_rows, "n_nulls": n_nulls, "min": mn, "max": mx}
        )
    return out


def sample_chunks(
    spark: SparkSession, path: str, fraction: float, seed: int = 0
) -> tuple[DataFrame, list[int]]:
    """Chunk-granular table sample: deterministically keep ~``fraction`` of
    chunks (xxhash of chunk id + seed, threshold on the hash — the same
    RNG-free device as the RANDOM split strategy / stratified sampler) and
    scan ONLY those, via the same ``_idx`` interval pushdown as
    read_table_skipping.

    This is TABLESAMPLE SYSTEM for the chunk format: I/O scales with the
    fraction (whole chunks skip at the row-group level), unlike row-iid
    Bernoulli sampling which still reads every byte. Chunks are
    row-position slices of the write order, so on naturally-ordered data a
    chunk sample behaves like a cluster sample — estimate accordingly
    (run-correlated columns need more chunks for the same confidence).

    Returns (DataFrame, kept chunk ids); deterministic for a given
    (table, fraction, seed)."""
    import hashlib

    meta = read_metadata(path, spark)
    n = meta["num_chunks"]
    bs = meta["block_size"]
    threshold = int(fraction * (1 << 32))
    keep = [
        c
        for c in range(n)
        if int.from_bytes(
            hashlib.blake2b(f"{seed}:{c}".encode(), digest_size=4).digest(), "big"
        )
        < threshold
    ]
    df = reconstruct_column_groups(spark, path, _read_data(spark, path), meta)
    if not keep:
        return df.filter(F.lit(False)).drop("_idx"), []
    return df.filter(_idx_filter(keep, bs)).drop("_idx"), keep
