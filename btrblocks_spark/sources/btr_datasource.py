"""`spark.read.format("btrblocks")` — the chunked format as a first-class
Spark data source (Python DataSource API, Spark 4).

This is the integration BASELINE.json's north star names ("columnar
compression library could be integrated as Spark data source"): after
``spark.dataSource.register(BtrBlocksDataSource)``, any table written by
``format.writer.write_table`` reads back with

    spark.read.format("btrblocks").option("path", table_dir).load()

Design (mirrors the reference's read path, compression/BtrReader.cpp):
  - schema comes from the metadata sidecar (the btr ``metadata`` file
    analog) — not file inference, the declared schema of the written
    relation; the internal ``_idx`` column never surfaces.
  - one InputPartition per ColumnPart: consecutive chunk files (the
    writer emits one file per block_size chunk) packed up to
    ``part_target_bytes`` (16 MiB, the reference's ColumnPart target,
    storage/Chunk.cpp:233-266). Every partition is a Python task, and a
    task's fixed cost dwarfs decoding one small chunk file, so scan
    parallelism is bytes / 16 MiB, not the chunk count.
  - ``pushFilters`` prunes whole chunk files from the parquet FOOTER
    min/max statistics of the filtered column — metadata-only reads, no
    data IO for excluded chunks (the chunk-stats skipping the sidecar
    models, executed at file granularity). All filters are returned as
    unhandled so Spark re-applies them — pruning is an optimization,
    never a semantics change.
  - ``read`` yields Arrow record batches (pyarrow), so rows stream
    through the Python worker in columnar form.

Scale: at 100 TB the partition list is one entry per 16 MiB of chunk
files; listing and footer pruning are O(files) driver-side metadata work,
and every data byte moves only inside executor tasks. For the JVM-native
fast path a plain ``spark.read.parquet(dir/"data")`` remains available
(reader.read_table); this source adds the format-aware contract on top.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    InputPartition,
    LessThan,
    WriterCommitMessage,
)

from btrblocks_spark.config import DEFAULT_CONFIG
from btrblocks_spark.format.journal import (
    collect_stale,
    commit_append,
    commit_lock,
    load_json,
    recover_pending,
    rollback_aborted,
)
from btrblocks_spark.format.reader import read_metadata


@dataclass
class ChunkFilePartition(InputPartition):
    """One chunk file: a stream microbatch's unit of new data."""

    file_path: str
    columns: tuple
    # column-group reconstruction payload: ((det, dep, mapping_dir), ...)
    # for requested dependents — empty for ungrouped tables
    groups: tuple = ()


@dataclass
class ColumnPartPartition(InputPartition):
    """Consecutive chunk files of one batch scan, up to ``part_target_bytes``
    together (a single larger file stands alone)."""

    files: tuple
    columns: tuple
    groups: tuple = ()


def _pack_column_parts(files: list[str], target: int) -> list[tuple]:
    """Group ``files`` in order into runs of at most ``target`` bytes."""
    parts: list[list[str]] = []
    size = 0
    for f in files:
        n = os.path.getsize(f)
        if not parts or size + n > target:
            parts.append([])
            size = 0
        parts[-1].append(f)
        size += n
    return [tuple(p) for p in parts]


def _read_batches_reconstructed(files: tuple, columns: tuple, groups: tuple):
    """Stream the chunk files' Arrow batches, reconstructing column-group
    dependents (write_table stores them as mapping tables, not streams):
    per dependent, ``pc.index_in`` the determinant against the mapping's
    det column (null matches null — Arrow's set lookup is null-safe) and
    ``take`` the dep column — a vectorized dictionary lookup per batch,
    never a per-row Python loop. Mapping tables load once per task (they
    are capped at ``max_group_entries`` by the writer)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    deps = {dep: (det, mdir) for det, dep, mdir in groups}
    read_cols = list(dict.fromkeys(
        [c for c in columns if c not in deps]
        + [deps[c][0] for c in columns if c in deps]
    ))
    maps = {
        dep: pq.read_table(mdir) for dep, (_det, mdir) in deps.items()
    }
    batches = (
        b for f in files
        for b in pq.ParquetFile(f).iter_batches(columns=read_cols)
    )
    for batch in batches:
        arrays = []
        for c in columns:
            if c in deps:
                det, _mdir = deps[c]
                m = maps[c]
                idx = pc.index_in(
                    batch.column(batch.schema.get_field_index(det)),
                    value_set=m.column(det).combine_chunks(),
                )
                arrays.append(pc.take(m.column(c).combine_chunks(), idx))
            else:
                arrays.append(batch.column(batch.schema.get_field_index(c)))
        yield pa.RecordBatch.from_arrays(arrays, names=list(columns))


def _footer_range(pq_meta, col_name: str):
    """(min, max, is_floating) of a column across a file's row groups from
    footer stats, or None when stats are missing."""
    lo = hi = None
    floating = False
    for rg in range(pq_meta.num_row_groups):
        group = pq_meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            if col.path_in_schema != col_name:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                return None
            floating = col.physical_type in ("FLOAT", "DOUBLE")
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    if lo is None:
        return None
    # Spark's parquet writer emits NaN min/max for NaN-containing columns
    # (observed: x=[1.0, nan, 0.5] -> min=0.5, max=nan). Python NaN
    # comparisons are always False, so a NaN bound would silently flip
    # "may match" into "prune" (e.g. lo <= v <= hi for EqualTo) — treat
    # NaN-poisoned stats as no stats at all.
    import math

    if any(isinstance(v, float) and math.isnan(v) for v in (lo, hi)):
        return None
    return lo, hi, floating


def _file_may_match(path: str, filters: list[Filter]) -> bool:
    """Conservative footer-stats check: False only when a pushed filter
    provably excludes every row group of the file.

    NaN semantics (the trap that turns "optimization" into wrong answers):
    parquet footer min/max EXCLUDE NaN, but Spark orders NaN greater than
    every value and NaN = NaN as true. So for FLOAT/DOUBLE columns a file
    whose stats say max=1.0 may still hold NaN rows matching ``x > 5.0`` —
    GreaterThan may never prune on floating stats. LessThan stays safe (a
    NaN row never satisfies x < v), and EqualTo with a finite value stays
    safe (NaN equals only NaN). A NaN *filter value* disables pruning for
    that predicate entirely (Python's nan comparisons disagree with
    Spark's total ordering)."""
    import math

    import pyarrow.parquet as pq

    try:
        meta = pq.ParquetFile(path).metadata
    except Exception:  # unreadable footer: never prune
        return True
    if meta.num_rows == 0:  # empty shuffle partition file: nothing to read
        return False
    for f in filters:
        col = f.attribute[0] if isinstance(f.attribute, tuple) else str(f.attribute)
        rng = _footer_range(meta, col)
        if rng is None:
            continue
        lo, hi, floating = rng
        if isinstance(f.value, float) and math.isnan(f.value):
            continue
        try:
            if isinstance(f, EqualTo) and not (lo <= f.value <= hi):
                return False
            if isinstance(f, GreaterThan) and not floating and not (hi > f.value):
                return False
            if isinstance(f, LessThan) and not (lo < f.value):
                return False
        except TypeError:  # incomparable types: never prune
            continue
    return True


def _groups_payload(path: str, columns: tuple) -> tuple:
    """((det, dep, abs_mapping_dir), ...) for the requested column-group
    dependents of the table at ``path`` — () for ungrouped tables, and ()
    when no sidecar is readable (the stream reader is constructed against
    bare data dirs in recovery paths; a sidecar-less table cannot carry
    groups, so reading it plain is the correct degradation)."""
    try:
        meta = read_metadata(path)
    except Exception:  # noqa: BLE001 — no/unreadable sidecar: no groups
        return ()
    return tuple(
        (g["det"], g["dep"], os.path.join(path, g["path"]))
        for g in (meta.get("column_groups") or [])
        if g["dep"] in columns
    )


class BtrBlocksReader(DataSourceReader):
    def __init__(self, options: dict, schema_fields: list[str]):
        self.path = options["path"]
        self.data_dir = os.path.join(self.path, "data")
        self.columns = tuple(schema_fields)
        self.groups = _groups_payload(self.path, self.columns)
        self._filters: list[Filter] = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        supported = []
        for f in filters:
            if isinstance(f, (EqualTo, GreaterThan, LessThan)):
                supported.append(f)
            yield f  # every filter is re-applied by Spark (pruning only)
        self._filters = supported

    def partitions(self):
        files = sorted(
            os.path.join(self.data_dir, f)
            for f in os.listdir(self.data_dir)
            if f.endswith(".parquet")
        )
        if self._filters:
            files = [p for p in files if _file_may_match(p, self._filters)]
        return [
            ColumnPartPartition(part, self.columns, self.groups)
            for part in _pack_column_parts(files, DEFAULT_CONFIG.part_target_bytes)
        ]

    def read(self, partition: ColumnPartPartition):
        if partition is None:  # Spark passes None when partitions() was empty
            return
        yield from _read_batches_reconstructed(
            partition.files, partition.columns, partition.groups
        )


class BtrBlocksStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("btrblocks")`` — stream a chunked table as
    chunks are appended.

    The format is stream-friendly by construction: chunks are immutable
    append-only files (SURVEY.md §7), so a streaming offset is simply "the
    set of chunk files seen so far". Each microbatch plans one
    InputPartition per NEW chunk file — scan parallelism = newly appended
    chunks (the batch reader packs chunk files into ColumnParts instead).

    Offsets embed the sorted processed-file list, making
    ``partitions(start, end)`` a pure set difference — deterministic replay
    from the checkpoint without driver state. Offset size grows with chunk
    count (fine for the chunk counts a microbatch checkpoint sees; a
    production source would roll processed files into a compacted manifest
    the same way the writer's metadata sidecar records chunks)."""

    def __init__(self, options: dict, schema_fields: list[str]):
        self.data_dir = os.path.join(options["path"], "data")
        self.columns = tuple(schema_fields)
        self.groups = _groups_payload(options["path"], self.columns)

    def _list_files(self) -> list:
        return sorted(
            f for f in os.listdir(self.data_dir) if f.endswith(".parquet")
        )

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"files": []}

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        return {"files": self._list_files()}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end["files"]) - set(start["files"]))
        return [
            ChunkFilePartition(
                os.path.join(self.data_dir, f), self.columns, self.groups
            )
            for f in new
        ]

    def read(self, partition: ChunkFilePartition):
        import pyarrow.parquet as pq

        if partition is None:
            return
        try:
            pf = pq.ParquetFile(partition.file_path)
        except FileNotFoundError:
            # A file captured in a checkpointed offset can legitimately
            # vanish before this task reads it: (a) a torn batch append's
            # abort retracted an already-renamed dest (rollback_aborted) —
            # that data was never committed and the retried job re-appends
            # it under NEW names the stream will pick up; (b) compact()
            # rewrote the tail — the rows live on in the compacted files,
            # which arrive as new offsets (at-least-once under concurrent
            # maintenance). Raising here would wedge the query forever:
            # restart replays the SAME planned offset range containing the
            # vanished name and fails identically every time.
            return
        del pf  # existence probed; the shared helper re-opens the file
        yield from _read_batches_reconstructed(
            (partition.file_path,), partition.columns, partition.groups
        )

    def commit(self, end: dict) -> None:
        pass


@dataclass
class AppendCommit(WriterCommitMessage):
    """Per-task commit message: the chunk files this task appended."""

    files: tuple
    rows: int


def _write_chunk_files(
    iterator, path: str, columns, block_size: int, prefix: str, suffix: str
) -> tuple[list[str], int]:
    """Executor-side chunk emit shared by the batch and streaming writers:
    slice the task's Arrow batches into block_size chunks and write each as
    one zstd parquet file named ``{prefix}-{uuid}{suffix}``. Readers only
    list ``*.parquet``, so a non-final suffix keeps in-flight files
    invisible until the driver-side commit renames them.

    Streams the iterator: at most ~block_size rows are buffered per task
    regardless of partition size (a multi-GB input partition must not be
    materialized whole in the Python worker)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    files: list[str] = []
    total = 0
    buf: list = []
    buf_rows = 0
    order = list(columns)

    def flush(batches: list, n_rows: int) -> None:
        table = pa.Table.from_batches(batches)
        for off in range(0, n_rows, block_size):
            part = table.slice(off, block_size)
            # leading dot: Spark's file listing skips dot-files, so a
            # staged (or crashed-task-orphaned) file is invisible to the
            # plain-parquet fast path too, not just to the datasource's
            # *.parquet listing. The commit rename strips it (_final_name).
            fname = os.path.join(
                path, "data", f".{prefix}-{uuid.uuid4().hex}{suffix}"
            )
            pq.write_table(part, fname, compression="zstd")
            files.append(fname)

    for b in iterator:
        if b.num_rows == 0:
            continue
        # normalize EVERY raw batch to the declared column order before it
        # enters the buffer: the constructor accepts any incoming order, and
        # a carry-over remainder (re-sliced from an already-normalized
        # table) must never be mixed with raw incoming-order batches in one
        # from_batches call — pyarrow rejects the inconsistent schemas
        # mid-append (ArrowInvalid) once a partition spans >1 batch and
        # block_size doesn't divide the batch size
        if b.schema.names != order:
            b = b.select(order)
        buf.append(b)
        buf_rows += b.num_rows
        total += b.num_rows
        # flush only whole chunks; carry the remainder so chunk files stay
        # block_size-full instead of fragmenting at batch boundaries
        if buf_rows >= block_size:
            whole = (buf_rows // block_size) * block_size
            table = pa.Table.from_batches(buf)
            flush_part = table.slice(0, whole)
            flush(flush_part.to_batches(), whole)
            rest = table.slice(whole)
            buf = rest.to_batches() if rest.num_rows else []
            buf_rows = rest.num_rows
    if buf_rows:
        flush(buf, buf_rows)
    return files, total


# --- append commits (batch + streaming writers) ------------------------------
# Both writers commit through format/journal.py's commit_append against the
# table's APPEND_LOG; this module keeps only their staging: dot-prefixed
# ``.inflight`` files in data/, renamed to final names at commit.

APPEND_LOG = "_appends.json"


def _final_name(src: str) -> str:
    """Final visible name of a staged file: strip the ``.inflight`` suffix
    AND the leading staging dot (dot-files are invisible to Spark's file
    listing — that is the point of the staging name; the final name must
    not keep it)."""
    d, b = os.path.split(src)
    b = b[: -len(".inflight")]
    if b.startswith("."):
        b = b[1:]
    return os.path.join(d, b + ".parquet")


def _commit(path: str, messages, fence: tuple | None = None) -> None:
    inflight = [f for m in messages if m for f in m.files]
    commit_append(
        path, APPEND_LOG, {f: _final_name(f) for f in inflight},
        sum(m.rows for m in messages if m), fence,
    )


def _abort(path: str, messages) -> None:
    rollback_aborted(path, APPEND_LOG, [f for m in messages if m for f in m.files])


def recover_pending_appends(path: str) -> int:
    """Public crash-recovery hook: finish any pending append entries left by
    a committer that died between the intent write and the final flip.
    Runs automatically at the start of every batch/stream commit; callable
    directly (e.g. before maintenance) to bound the invisibility window.
    Returns the number of entries recovered."""
    return recover_pending(path, APPEND_LOG)


def _validate_append_schema(path: str, schema) -> tuple[list[str], int]:
    """Shared append-path schema gate (batch + streaming writers): the
    table must exist, the incoming column NAME set must match the sidecar,
    and so must every TYPE — a long appended into an int column would
    silently corrupt the chunk layout the sidecar declares. Returns
    (declared column order, block_size)."""
    meta = read_metadata(path)  # table must exist
    if meta.get("column_groups"):
        # a grouped table is immutable: appended rows could introduce new
        # determinant values (or violate the FD) the mapping table doesn't
        # carry — rewrite via format.writer.write_table instead
        raise ValueError(
            "append to a column-grouped table is not supported; rewrite "
            "with format.writer.write_table"
        )
    declared = [c["name"] for c in meta["schema"]]
    incoming = [f.name for f in schema.fields]
    if sorted(incoming) != sorted(declared):
        raise ValueError(
            f"schema mismatch: table has {declared}, write has {incoming}"
        )
    declared_types = {c["name"]: c["type"] for c in meta["schema"]}
    bad = [
        (f.name, f.dataType.simpleString(), declared_types[f.name])
        for f in schema.fields
        if f.dataType.simpleString() != declared_types[f.name]
    ]
    if bad:
        raise ValueError(f"schema type mismatch (col, write, table): {bad}")
    return declared, int(meta["block_size"])


def vacuum_inflight(path: str, max_age_sec: float = 3600.0) -> int:
    """Remove staged ``.inflight`` files no pending append entry references
    and idle past ``max_age_sec``. A task attempt that crashes (or loses a
    speculative race) before returning its commit message is referenced by
    NEITHER commit nor abort — without this sweep its invisible dot-files
    leak storage forever, proportional to failure count x partition size.
    Runs under the table's commit lock (a pending entry observed under the
    lock pins its sources; everything else old enough is garbage — live
    tasks keep their file mtimes fresh while writing); also runs at every
    ``maintenance.compact`` start."""
    data_dir = os.path.join(path, "data")
    with commit_lock(path):
        if not os.path.isdir(data_dir):
            return 0
        referenced = {
            src
            for e in load_json(os.path.join(path, APPEND_LOG))
            if e.get("state") == "pending"
            for src in e.get("renames", {})
        }
        return collect_stale(
            (
                [os.path.join(data_dir, f)]
                for f in os.listdir(data_dir)
                if f.endswith(".inflight")
            ),
            referenced,
            max_age_sec,
        )


class BtrBlocksWriter(DataSourceArrowWriter):
    """``df.write.format("btrblocks").mode("append")`` — the fast append
    path into an existing chunked table. Each task writes its partition as
    zstd parquet files capped at block_size rows (chunk-shaped, but not
    globally _idx-aligned — appends are the streaming-sink contract,
    ``maintenance.compact`` re-aligns chunks and re-syncs the sidecar).
    Tasks stage ``.inflight`` files (invisible to readers — failed/retried
    attempts leave no visible orphans); the driver-side commit renames the
    winning attempts' files to final ``.parquet`` names through
    ``journal.commit_append`` (a ``kind: batch`` entry in ``_appends.json``);
    ``abort`` rolls a torn intent back and deletes every staged file —
    all-or-nothing at the job level.

    Append-only by design: overwrite of a chunked table must go through
    ``format.writer.write_table`` (chunk alignment + scheme planning is
    the write path's whole point)."""

    def __init__(self, options: dict, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "btrblocks source is append-only; use format.writer.write_table "
                "to (re)create a table"
            )
        self.path = options["path"]
        self.columns, self.block_size = _validate_append_schema(self.path, schema)

    def write(self, iterator):
        # stage as .inflight (invisible to readers): a failed/retried task
        # attempt's files would otherwise be final-named orphans that every
        # directory-listing reader counts as duplicate rows forever. The
        # driver-side commit renames the winning attempts' files.
        files, total = _write_chunk_files(
            iterator, self.path, self.columns, self.block_size, "append", ".inflight"
        )
        return AppendCommit(tuple(files), total)

    def commit(self, messages) -> None:
        _commit(self.path, messages)

    def abort(self, messages) -> None:
        _abort(self.path, messages)


class BtrBlocksStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("btrblocks")`` — exactly-once streaming
    append into an existing chunked table.

    Per microbatch: each task writes its Arrow batches as chunk-shaped
    ``.inflight`` files (invisible to every reader — they all list only
    ``*.parquet``); the driver-side ``commit(messages, batchId)`` is
    ``journal.commit_append`` against ``_appends.json``, fenced on
    ``(scope, batchId)``: a pending intent recording every inflight→final
    rename, the renames, the flip to *committed*. The intent write is the
    single atomic decision point, so a crash anywhere recovers exactly-once
    on replay: a pending entry's renames are completed from the FIRST
    attempt's still-on-disk inflight files (no loss), and a replay of a
    journaled batch deletes the rerun's files (no duplicates).

    Exactly-once: Spark replays a microbatch only after a failure between
    the sink commit and the checkpoint commit, with the SAME batchId from
    the SAME checkpoint. The fence scope is the sink's
    ``checkpointLocation`` option (override with ``commitScope`` when the
    checkpoint comes from the session default conf; the writer refuses to
    start without one — a shared guessed scope would let two queries
    shadow each other's batchIds and silently drop data). Re-running with
    a FRESH checkpoint is a new scope and appends normally. ``abort``
    rolls a torn intent back whole and removes every in-flight file, so a
    failed epoch leaves no visible data and Spark's replay finds a clean
    slate: all-or-nothing per microbatch.

    Scale: data bytes move only inside executor tasks; commit is O(files
    in this epoch) driver-side renames — on an object store route these
    through format/fs.py's Hadoop FS handle instead of os.rename."""

    def __init__(self, options: dict, schema, overwrite: bool = False):
        if overwrite:
            # pyspark passes overwrite=True for outputMode('complete')/
            # truncate semantics — silently appending would accumulate one
            # full stale copy of the result per microbatch
            raise ValueError(
                "btrblocks streaming sink is append-only; outputMode "
                "'complete'/'update' (overwrite per microbatch) is not "
                "supported — use outputMode('append')"
            )
        self.path = options["path"]
        self.columns, self.block_size = _validate_append_schema(self.path, schema)
        # the fence is only sound per checkpoint lineage — two queries with
        # different checkpoints MUST get different scopes, or one's batchIds
        # shadow the other's and its data is silently dropped as "replays".
        # Never guess a shared default; fail loudly instead.
        self.scope = options.get("commitScope", options.get("checkpointLocation"))
        if not self.scope:
            raise ValueError(
                "btrblocks streaming sink requires a per-query fence scope: "
                "set .option('checkpointLocation', ...) on the writeStream "
                "(or .option('commitScope', <unique id>) when the checkpoint "
                "comes from the session default conf)"
            )

    def write(self, iterator):
        files, total = _write_chunk_files(
            iterator, self.path, self.columns, self.block_size, "stream", ".inflight"
        )
        return AppendCommit(tuple(files), total)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        _commit(self.path, messages, (self.scope, batchId))

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        _abort(self.path, messages)


class BtrBlocksDataSource(DataSource):
    """Readable (batch + streaming) data source over a `write_table`
    directory."""

    @classmethod
    def name(cls) -> str:
        return "btrblocks"

    def schema(self) -> str:
        meta = read_metadata(self.options["path"])
        return ", ".join(f"`{c['name']}` {c['type']}" for c in meta["schema"])

    def reader(self, schema) -> BtrBlocksReader:
        return BtrBlocksReader(self.options, [f.name for f in schema.fields])

    def streamReader(self, schema) -> BtrBlocksStreamReader:  # noqa: N802
        return BtrBlocksStreamReader(self.options, [f.name for f in schema.fields])

    def writer(self, schema, overwrite: bool) -> BtrBlocksWriter:
        return BtrBlocksWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> BtrBlocksStreamWriter:  # noqa: N802
        return BtrBlocksStreamWriter(self.options, schema, overwrite)


def load_btr_table(spark, table_dir: str):
    """Identity-stable load of a btrblocks table — the entry point memo-aware
    consumers should use instead of a raw ``spark.read.format("btrblocks")``.

    Two raw ``.load()`` calls on the SAME table do NOT unify under Spark's
    plan canonicalization: each load pickles a fresh Python DataSource
    instance, so ``sameSemantics`` is False and ``semanticHash`` differs —
    which means every plan-keyed session memo (the ``pairs`` and ``cc``
    memos of ``pipeline.dedup``) sees the second read of an unchanged
    table as a brand-new corpus and rebuilds from scratch. This helper
    restores the memo contract by keying on the SIDECAR's table identity
    instead of the plan: the session memo ``btr_read`` (``tables.memo``)
    is keyed on the table's realpath and holds its fingerprint (md5 of the
    ``_btr_metadata.json`` content, sorted data-file listing —
    appends/compacts/commits all move at least one of those), returning
    the SAME DataFrame object for an unchanged table, which then unifies
    everywhere downstream for free. A changed fingerprint replaces the
    path's one entry. Object-store URIs (no local listing) skip the memo
    and always load fresh — correct, just unmemoized. The listing
    fingerprints each data file as (name, size, mtime_ns), so even a
    same-name in-place rewrite that leaves the sidecar byte-identical
    rotates the fingerprint; eviction past the memo cap is always safe —
    it only forfeits plan unification for that table."""
    import hashlib
    import json as _json

    from btrblocks_spark.format.reader import _local_path
    from btrblocks_spark.tables import memo

    def _load():
        return spark.read.format("btrblocks").option("path", table_dir).load()

    local = _local_path(table_dir)
    if local is None:
        return _load()
    meta = read_metadata(table_dir, spark)
    sidecar = hashlib.md5(
        _json.dumps(meta, sort_keys=True, default=str).encode()
    ).hexdigest()
    data_dir = os.path.join(local, "data")
    if os.path.isdir(data_dir):
        entries = []
        for name in sorted(os.listdir(data_dir)):
            try:
                st = os.stat(os.path.join(data_dir, name))
                entries.append((name, st.st_size, st.st_mtime_ns))
            except OSError:
                # raced with a compactor delete — name alone still rotates
                entries.append((name, -1, -1))
        listing = tuple(entries)
    else:
        listing = ()
    fingerprint = (sidecar, listing)
    return memo(
        spark, "btr_read", os.path.realpath(local),
        lambda: (fingerprint, _load()),
        valid=lambda e: e[0] == fingerprint,
    )[1]
