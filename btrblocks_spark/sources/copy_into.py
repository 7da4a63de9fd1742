"""COPY INTO: file-level idempotent batch ingest (lakehouse `COPY INTO`
semantics — Delta `COPY INTO` / Snowflake `COPY`): load a set of source
files into a chunked table, skipping any file that was already loaded, so
re-running the same command after a partial failure (or on an overlapping
file listing) never duplicates rows.

Idempotence key = (absolute path, size, mtime_ns) recorded in the table's
``_copy_log.json``. At 100 TB of daily drops this is the ingestion contract
that makes orchestration retries safe: the log is O(files), the skip check
is pure metadata, and only genuinely-new files are read.

Appends land as block_size-row-capped zstd parquet in ``data/`` — the same
shape the streaming chunk sink and the datasource append writer produce,
and the fragmented tail ``maintenance.compact`` later bin-packs and
re-plans, so COPY INTO inherits the append→compact lifecycle. The commit
(``_copy_journal.json``) has the same WAL shape as compact's journal and
runs on the shared commit journal (format/journal.py)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from btrblocks_spark.format.journal import (
    adopt,
    collect_stale,
    commit_lock,
    load_json,
    replace_json,
)
from btrblocks_spark.format.reader import read_metadata
from btrblocks_spark.format.writer import write_parquet


def _log_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_copy_log.json")


def _load_log(table_dir: str) -> dict:
    return load_json(_log_path(table_dir), lambda: {"files": {}})


def _file_key(path: str) -> str:
    st = os.stat(path)
    return f"{os.path.abspath(path)}|{st.st_size}|{st.st_mtime_ns}"


def _apply_copy_journal(table_dir: str) -> bool:
    """Finish (or replay) a journaled COPY INTO: adopt the staged files into
    data/, merge the file keys into the copy log, clear the journal. Every
    step is idempotent, so a crash anywhere after the journal write is
    recovered by the next copy_into() call (or a reader's journal-repair
    pass). Callers hold the table's commit lock. Returns True if applied.

    A staged file that vanished WITHOUT its destination existing is data
    loss (a rival clobbered the stage, or manual cleanup): raise so the
    journal stays pending and the loss surfaces — flipping it applied would
    mark the source files loaded while their rows never reached data/, and
    retries would then skip them forever."""
    jpath = os.path.join(table_dir, "_copy_journal.json")
    if not os.path.exists(jpath):
        return False
    journal = load_json(jpath)
    adopt(journal["adds"])
    log = _load_log(table_dir)
    log["files"].update(journal["log_files"])
    replace_json(_log_path(table_dir), log, indent=1)
    os.remove(jpath)
    # per-call stage dirs since round 4; the fixed _copy_tmp is the legacy
    # location a pre-upgrade journal may still point at
    stage_dir = journal.get("stage_dir", os.path.join(table_dir, "_copy_tmp"))
    shutil.rmtree(stage_dir, ignore_errors=True)
    return True


def copy_into(
    spark: SparkSession,
    table_dir: str,
    files: list[str],
    fmt: str = "parquet",
    csv_options: dict | None = None,
) -> dict:
    """Load ``files`` into the chunked table at ``table_dir``; skip files
    already recorded in the copy log. Returns {loaded_files, skipped_files,
    appended_rows}.

    Idempotence mechanics: duplicate listings within one call dedupe on the
    file key; the append is STAGED to a per-call ``_copy_tmp-<uuid>`` dir
    and committed via a journal (adds + log entries + stage dir) written
    atomically BEFORE any file becomes visible — a crash before the journal
    leaves only stage garbage (the retry reloads from scratch), a crash
    after it is replayed to completion at the next call, so the retry can
    never double-append.

    Concurrency-safe: the journal write + apply is read-modify-write of the
    copy log, so it runs under the table's ``commit_lock`` (the same lock
    every other commit on the table takes), and the skip-check is REDONE
    under the lock — a rival call that loaded an overlapping file while we
    were staging is detected and only the OVERLAPPING files' staged rows
    and log entries are dropped (the stage is partitioned by source-file
    id, so the loss is O(overlap), not O(call)); the rest of the stage
    commits as planned. Two concurrent calls can therefore never
    double-load a file, clobber each other's stage (per-call dirs), or mark
    a file loaded whose rows never reached ``data/``."""
    import uuid

    with commit_lock(table_dir):
        _apply_copy_journal(table_dir)  # finish a crashed predecessor first
        # reclaim per-call ``_copy_tmp-*`` stage dirs a hard-crashed call
        # abandoned (the in-process failure path removes its own stage; a
        # killed process leaks a batch-sized dir per attempt, forever). The
        # pending journal's stage dir is never touched (recovery consumes
        # it; the apply above just cleared any journal, so none is pending)
        collect_stale(
            [os.path.join(table_dir, d)]
            for d in os.listdir(table_dir)
            if d.startswith("_copy_tmp")
        )
        log = _load_log(table_dir)
    meta = read_metadata(table_dir)
    if meta.get("column_groups"):
        # grouped tables are immutable: new files could carry determinant
        # values (or FD violations) the mapping tables don't cover
        raise ValueError(
            "copy_into: not supported on a column-grouped table; rewrite "
            "with format.writer.write_table"
        )
    pending_by_key: dict[str, str] = {}
    skipped = []
    # dedupe the LISTING first so loaded+skipped always accounts for each
    # unique file exactly once (a duplicate listing previously vanished
    # from both counters when new but double-counted when already loaded)
    for f in dict.fromkeys(sorted(files)):
        key = _file_key(f)
        if key in log["files"]:
            skipped.append(f)
        else:
            pending_by_key.setdefault(key, f)
    pending = sorted((f, k) for k, f in pending_by_key.items())

    appended = 0
    loaded = 0
    if pending:
        import hashlib
        from pathlib import Path

        from pyspark.sql import functions as F

        paths = [f for f, _k in pending]
        cols = [c["name"] for c in meta["schema"]]
        if fmt == "parquet":
            # cast to the TABLE schema before staging (the csv branch
            # already enforces it via .schema): committing a source file's
            # own types (e.g. int32 into a double column) poisons data/ —
            # every later scan fails on the odd file while the copy log
            # marks it loaded forever. An incompatible type fails HERE
            # (analysis/ANSI cast error), before anything is committed.
            df = spark.read.parquet(*paths).select(
                *[
                    F.col(c["name"]).cast(c["type"]).alias(c["name"])
                    for c in meta["schema"]
                ]
            )
        elif fmt == "csv":
            opts = {"header": "true", **(csv_options or {})}
            schema = ", ".join(f"{c['name']} {c['type']}" for c in meta["schema"])
            df = spark.read.options(**opts).schema(schema).csv(paths)
        else:
            raise ValueError(f"unsupported format {fmt!r}")
        # PROVENANCE staging: partition the stage by a per-source-file id so
        # a lost race can drop ONLY the overlapping files' rows — round 4
        # discarded the whole stage and recursively re-read all N files over
        # one overlap (O(call), not O(overlap)). The id is a digest of the
        # idempotence key, resolved from input_file_name(); rows whose
        # source can't be resolved land under a sentinel partition. The
        # sentinel only degrades granularity, never drops rows: with no
        # overlap the WHOLE stage commits (sentinel files included); with
        # an overlap the call falls back to the whole-stage retry.
        fid_by_key = {
            key: hashlib.blake2b(key.encode(), digest_size=8).hexdigest()
            for _f, key in pending
        }
        src_map = {}
        for f, key in pending:
            fid = fid_by_key[key]
            src_map[os.path.abspath(f)] = fid
            src_map[Path(os.path.abspath(f)).as_uri()] = fid
        # path->fid resolution is a BROADCAST join against a tiny lookup
        # table, not a create_map literal: at a 10k-file daily drop a map
        # literal is a ~40k-child Catalyst expression (slow to analyze,
        # falls out of codegen); the join plan stays O(1) in drop size.
        # Unresolvable sources (symlinked dirs, URI-encoding mismatches)
        # degrade to the __unknown__ sentinel via the left join's NULL.
        lookup = spark.createDataFrame(
            [(p, fid) for p, fid in src_map.items()], "_src_path string, _fid string"
        )
        # per-call stage dir: concurrent calls must not overwrite each
        # other's staged rows (the fixed-path round-3 clobber bug). The
        # whole stage->commit region is guarded: any failure BEFORE the
        # journal commit point (bad footer, lock timeout against a busy
        # table, a rival's lost-stage raise) removes the stage instead of
        # leaking a batch-sized dir per failed attempt; after the commit
        # point the pending journal owns the stage and recovery consumes
        # it. Stages orphaned by a hard CRASH (no exception path runs) are
        # reclaimed by the stale-stage sweep at the next call.
        tmp_dir = os.path.join(table_dir, f"_copy_tmp-{uuid.uuid4().hex}")
        journal_committed = False
        try:
            write_parquet(
                df.select(*cols)
                .withColumn("_src_path", F.input_file_name())
                .join(F.broadcast(lookup), "_src_path", "left")
                .withColumn("_src", F.coalesce("_fid", F.lit("__unknown__")))
                .drop("_src_path", "_fid")
                .write.mode("overwrite")
                .partitionBy("_src")
                .option("maxRecordsPerFile", meta["block_size"])
                .option("compression", "zstd"),
                tmp_dir,
            )
            # row counts from the staged footers — no second data scan
            import pyarrow.parquet as pq

            staged_by_fid: dict[str, list[str]] = {}
            valid_fids = set(fid_by_key.values())
            provenance_ok = True
            for r, _s, fs in os.walk(tmp_dir):
                for x in sorted(fs):
                    if not x.endswith(".parquet"):
                        continue
                    part = os.path.basename(r)
                    if part.startswith("_src="):
                        fid = part[len("_src="):]
                        if fid == "__unknown__" or fid not in valid_fids:
                            provenance_ok = False
                            fid = "__unknown__"
                    else:  # unpartitioned layout (defensive): no provenance
                        provenance_ok = False
                        fid = "__unknown__"
                    staged_by_fid.setdefault(fid, []).append(os.path.join(r, x))
            rows_by_fid = {
                fid: sum(pq.ParquetFile(s).metadata.num_rows for s in sfiles)
                for fid, sfiles in staged_by_fid.items()
            }

            def build_journal(
                keep_keys: list[tuple[str, str]], whole_stage: bool
            ) -> tuple[dict, int]:
                # whole_stage: commit EVERY staged file (including any under the
                # __unknown__ sentinel). Required whenever keep_keys covers all
                # pending files — a per-fid gather would silently exclude
                # unresolved-provenance rows from adds while still marking their
                # source files loaded (permanent data loss).
                if whole_stage:
                    keep_files = sorted(
                        s for sfiles in staged_by_fid.values() for s in sfiles
                    )
                else:
                    keep_files = [
                        s
                        for _f, key in keep_keys
                        for s in staged_by_fid.get(fid_by_key[key], [])
                    ]
                adds = {
                    s: os.path.join(
                        table_dir, "data", f"copy-{uuid.uuid4().hex}-{i:05d}.parquet"
                    )
                    for i, s in enumerate(keep_files)
                }
                journal = {
                    "adds": adds,
                    "log_files": {
                        key: {"path": os.path.abspath(f), "rows": None}
                        for f, key in keep_keys
                    },
                    "stage_dir": tmp_dir,
                }
                if whole_stage:
                    n = sum(rows_by_fid.values())
                else:
                    n = sum(rows_by_fid.get(fid_by_key[key], 0) for _f, key in keep_keys)
                return journal, n

            lost_race = False
            with commit_lock(table_dir):
                _apply_copy_journal(table_dir)
                log2 = _load_log(table_dir)
                overlap = {key for _f, key in pending if key in log2["files"]}
                if overlap and not provenance_ok:
                    # rows not attributable to source files: discard the whole
                    # stage and retry OUTSIDE the lock (not re-entrant) — the
                    # overlap is now recorded in the log and skips cleanly.
                    shutil.rmtree(tmp_dir, ignore_errors=True)
                    lost_race = True
                else:
                    # drop ONLY the overlapping files' staged rows + log
                    # entries; everything else commits in this call.
                    keep = [(f, key) for f, key in pending if key not in overlap]
                    for key in overlap:
                        for s in staged_by_fid.get(fid_by_key[key], []):
                            try:
                                os.remove(s)
                            except OSError:
                                pass
                    loaded = len(keep)
                    skipped.extend(f for f, key in pending if key in overlap)
                    if keep:
                        # no overlap dropped anything -> whole-stage commit, so
                        # unresolved-provenance (__unknown__) rows are included
                        journal, appended = build_journal(keep, not overlap)
                        jpath = os.path.join(table_dir, "_copy_journal.json")
                        replace_json(jpath, journal)  # commit point
                        journal_committed = True
                        _apply_copy_journal(table_dir)
                    else:
                        shutil.rmtree(tmp_dir, ignore_errors=True)
        except BaseException:
            if not journal_committed:
                shutil.rmtree(tmp_dir, ignore_errors=True)
            raise
        if lost_race:
            return copy_into(spark, table_dir, files, fmt, csv_options)

    return {
        "loaded_files": loaded,
        "skipped_files": len(skipped),
        "appended_rows": int(appended),
    }
