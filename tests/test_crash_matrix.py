"""Systematic crash-injection matrix over the write-ahead commit protocols.

The round-3/4 write-path hardening claims "a crash at ANY point recovers
exactly-once". The existing tests each pin ONE hand-picked crash point;
this matrix pins ALL of them: every ``os.replace`` a commit performs (WAL
intent writes, state flips, file renames) is made to fail in turn, and
after each injected crash the protocol's recovery path must restore the
exactly-once invariant — no lost rows, no duplicates, no wedged table.

Injection patches ``os.replace`` process-wide for the driver-side commit
window only (the distributed data writes are JVM-side and never call the
Python os module), counting calls so run k fails exactly at the k-th
replace — the crash slides through the protocol step by step.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from btrblocks_spark.config import DEFAULT_CONFIG
from btrblocks_spark.format.writer import write_table
from btrblocks_spark.tables import load_table


class _CrashAfter:
    """os.replace stand-in that succeeds n times, then raises."""

    def __init__(self, n: int, real):
        self.n = n
        self.real = real
        self.calls = 0

    def __call__(self, src, dst):
        self.calls += 1
        if self.calls > self.n:
            raise OSError(f"injected crash at os.replace #{self.calls}")
        return self.real(src, dst)


def _visible_rows(path: str) -> int:
    """Rows a btrblocks reader sees: only final *.parquet files (plain
    spark.read.parquet would also read staged .inflight files — Spark's
    listing filters only _/. prefixes, not extensions)."""
    import pyarrow.parquet as pq

    from btrblocks_spark.format.fs import list_parquet_files

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in list_parquet_files(os.path.join(path, "data"))
    )


def _count_replaces(fn) -> int:
    """Total os.replace calls a clean run performs."""
    real = os.replace
    counter = _CrashAfter(10**9, real)
    os.replace = counter
    try:
        fn()
    finally:
        os.replace = real
    return counter.calls


@pytest.mark.slow  # excluded from the default (driver-window) run; see pytest.ini
def test_batch_append_commit_crash_matrix(spark, sf_dir, tmp_path):
    """df.write.format('btrblocks') commit: crash at every os.replace step;
    recover_pending_appends (or abort rollback) must land on exactly the
    committed-or-nothing row count, never a torn/wedged table."""
    from btrblocks_spark.sources.btr_datasource import (
        BtrBlocksWriter,
        recover_pending_appends,
    )

    nation = load_table(spark, sf_dir, "nation")
    pdf = nation.limit(10).toPandas()
    n_add = len(pdf)
    cfg = DEFAULT_CONFIG.with_(block_size=4)

    def fresh_table(tag: str) -> str:
        dst = str(tmp_path / f"bt_{tag}")
        write_table(nation.limit(0), dst, ["n_nationkey"], config=cfg)
        return dst

    def run_commit(dst: str):
        w = BtrBlocksWriter({"path": dst}, nation.schema, overwrite=False)
        msg = w.write(iter(pa.Table.from_pandas(pdf).to_batches()))
        w.commit([msg])
        return w, msg

    total = _count_replaces(lambda: run_commit(fresh_table("probe")))
    assert total >= 3  # intent write + >=1 rename + committed flip

    spark.dataSource.register  # noqa: B018 — datasource import side effects
    for k in range(total):
        dst = fresh_table(f"k{k}")
        w = BtrBlocksWriter({"path": dst}, nation.schema, overwrite=False)
        msg = w.write(iter(pa.Table.from_pandas(pdf).to_batches()))
        real = os.replace
        os.replace = _CrashAfter(k, real)
        try:
            with pytest.raises(OSError, match="injected"):
                w.commit([msg])
        finally:
            os.replace = real
        # recovery: either the intent never landed (nothing to do, data
        # stays invisible => re-run the append) or it did (finish it)
        recovered = recover_pending_appends(dst)
        got = _visible_rows(dst)
        if recovered:
            assert got == n_add, f"crash@{k}: torn append after recovery"
        else:
            assert got == 0, f"crash@{k}: rows visible without an intent"
            # the caller's retry path: a fresh commit must work
            run_commit(dst)
            assert (
                _visible_rows(dst) == n_add
            )
        with open(os.path.join(dst, "_appends.json")) as fh:
            assert all(e["state"] == "committed" for e in json.load(fh))


def test_exactly_once_append_crash_matrix(spark, sf_dir, tmp_path):
    """exactly_once_chunked_append: crash at every os.replace of the journal
    protocol, then REPLAY the same (scope, batch) — the replay must adopt or
    drop so the table holds the batch exactly once."""
    from btrblocks_spark.streaming.ops import exactly_once_chunked_append

    nation = load_table(spark, sf_dir, "nation")
    batch = nation.limit(7)
    n_add = batch.count()

    def run(path: str):
        exactly_once_chunked_append(batch, path, 0, block_size=4, scope="ck")

    probe = str(tmp_path / "eo_probe")
    os.makedirs(probe)
    total = _count_replaces(lambda: run(probe))
    assert total >= 3

    for k in range(total):
        path = str(tmp_path / f"eo_{k}")
        os.makedirs(path)
        real = os.replace
        os.replace = _CrashAfter(k, real)
        try:
            with pytest.raises(OSError, match="injected"):
                run(path)
        finally:
            os.replace = real
        run(path)  # Spark's at-least-once replay of the same batch
        got = _visible_rows(path)
        assert got == n_add, f"crash@{k}: not exactly-once after replay"
        with open(os.path.join(path, "_stream_batches.json")) as fh:
            log = json.load(fh)
        assert [e["state"] for e in log] == ["committed"], f"crash@{k}"


@pytest.mark.slow  # excluded from the default (driver-window) run; see pytest.ini
def test_copy_into_crash_matrix(spark, sf_dir, tmp_path):
    """copy_into: crash at every os.replace of the journal protocol, then
    RETRY the same call — each source file's rows must land exactly once
    and its key must only be logged once its rows are adoptable."""
    from btrblocks_spark.sources.copy_into import copy_into

    nation = load_table(spark, sf_dir, "nation")
    n_add = nation.count()
    stage = str(tmp_path / "mkdrop")
    nation.coalesce(1).write.mode("overwrite").parquet(stage)
    pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    drop = str(tmp_path / "drop.parquet")
    os.rename(os.path.join(stage, pf), drop)
    cfg = DEFAULT_CONFIG.with_(block_size=8)

    def fresh(tag: str) -> str:
        dst = str(tmp_path / f"ci_{tag}")
        write_table(nation.limit(0), dst, ["n_nationkey"], config=cfg)
        return dst

    probe = fresh("probe")
    total = _count_replaces(lambda: copy_into(spark, probe, [drop]))
    assert total >= 2  # journal commit + log write at minimum

    for k in range(total):
        dst = fresh(f"k{k}")
        real = os.replace
        os.replace = _CrashAfter(k, real)
        try:
            with pytest.raises(OSError, match="injected"):
                copy_into(spark, dst, [drop])
        finally:
            os.replace = real
        res = copy_into(spark, dst, [drop])  # orchestration retry
        got = _visible_rows(dst)
        assert got == n_add, f"crash@{k}: rows not exactly-once after retry"
        assert res["loaded_files"] + res["skipped_files"] == 1
        assert not os.path.exists(os.path.join(dst, "_copy_journal.json"))
        with open(os.path.join(dst, "_copy_log.json")) as fh:
            assert len(json.load(fh)["files"]) == 1, f"crash@{k}"


def _visible_keys(path: str, key: str) -> list:
    """Sorted key multiset of every row a reader sees (final *.parquet
    files only) — equal to the pre-compact multiset means no row was lost
    and none duplicated."""
    import pyarrow.parquet as pq

    from btrblocks_spark.format.fs import list_parquet_files

    return sorted(
        k
        for f in list_parquet_files(os.path.join(path, "data"))
        for k in pq.read_table(f, columns=[key]).column(0).to_pylist()
    )


@pytest.mark.slow  # excluded from the default (driver-window) run; see pytest.ini
def test_compact_journal_crash_matrix(spark, sf_dir, tmp_path):
    """compact(): crash at every os.replace of its commit and apply (journal
    write, staged-file adoptions, sidecar install, append-log prune). The
    journal repair in read_metadata — or, for a crash before the journal
    landed, the next compact() — must leave exactly the pre-compact rows:
    none lost, none duplicated, sidecar row count in sync."""
    from btrblocks_spark.format.maintenance import compact
    from btrblocks_spark.format.reader import read_metadata
    from btrblocks_spark.sources.btr_datasource import BtrBlocksWriter

    nation = load_table(spark, sf_dir, "nation")
    extra = nation.limit(6).toPandas()
    extra["n_nationkey"] += 100  # appended keys stay unique
    cfg = DEFAULT_CONFIG.with_(block_size=4)

    def fresh(tag: str) -> tuple[str, list]:
        # 22 written rows (five full chunks + a 2-row tail) and a 6-row
        # datasource append: three fragment files for compact to rewrite
        dst = str(tmp_path / f"cj_{tag}")
        write_table(nation.limit(22), dst, ["n_nationkey"], config=cfg)
        w = BtrBlocksWriter({"path": dst}, nation.schema, overwrite=False)
        w.commit([w.write(iter(pa.Table.from_pandas(extra).to_batches()))])
        return dst, _visible_keys(dst, "n_nationkey")

    probe, want = fresh("probe")
    assert len(want) == 28
    total = _count_replaces(lambda: compact(spark, probe, cfg))
    assert total >= 4  # journal + >=1 adoption + sidecar + append-log prune
    jname = "_compact_journal.json"

    for k in range(total):
        dst, want = fresh(f"k{k}")
        real = os.replace
        os.replace = _CrashAfter(k, real)
        try:
            with pytest.raises(OSError, match="injected"):
                compact(spark, dst, cfg)
        finally:
            os.replace = real
        read_metadata(dst)  # a reader's journal repair
        assert not os.path.exists(os.path.join(dst, jname)), f"crash@{k}"
        got = _visible_keys(dst, "n_nationkey")
        assert got == want, f"crash@{k}: rows lost or duplicated after repair"
        compact(spark, dst, cfg)  # the next compact finishes or redoes it
        assert _visible_keys(dst, "n_nationkey") == want, f"crash@{k}"
        assert read_metadata(dst)["num_rows"] == len(want), f"crash@{k}"


def _failing_pointer_swap(real):
    """os.replace stand-in that fails only the ``_latest`` pointer swap."""

    def replace(src, dst):
        if os.path.basename(dst) == "_latest":
            raise OSError("injected crash at the pointer swap")
        return real(src, dst)

    return replace


def test_delete_where_pointer_swap_crash(spark, sf_dir, tmp_path, monkeypatch):
    """delete_where: a crash at the ``_latest`` swap leaves the pointer and
    the snapshot as they were and no claimed v=N behind; a retry commits
    the next version."""
    from btrblocks_spark.format.journal import list_versions, read_pointer
    from btrblocks_spark.format.maintenance import delete_where
    from btrblocks_spark.streaming.ops import read_snapshot

    nation = load_table(spark, sf_dir, "nation")
    n = nation.count()
    table = str(tmp_path / "dml")
    nation.write.parquet(os.path.join(table, "v=0"))
    with open(os.path.join(table, "_latest"), "w") as fh:
        fh.write("0")

    real = os.replace
    monkeypatch.setattr(os, "replace", _failing_pointer_swap(real))
    with pytest.raises(OSError, match="injected"):
        delete_where(spark, table, "n_nationkey < 5")
    monkeypatch.setattr(os, "replace", real)
    assert read_pointer(table) == 0
    assert read_snapshot(spark, table).count() == n
    assert list_versions(table, "v=") == [0]

    assert delete_where(spark, table, "n_nationkey < 5") == {
        "version": 1,
        "deleted_rows": 5,
    }
    assert read_pointer(table) == 1
    assert read_snapshot(spark, table).count() == n - 5


def test_delete_where_dv_pointer_swap_crash(spark, sf_dir, tmp_path, monkeypatch):
    """delete_where_dv: a crash at the deletion-vector pointer swap leaves
    the pointer and the merge-on-read view as they were; a retry commits
    the next dv=N, and vacuum_deletion_vectors removes the orphaned one."""
    from btrblocks_spark.format.journal import list_versions, read_pointer
    from btrblocks_spark.format.maintenance import (
        delete_where_dv,
        read_table_mor,
        vacuum_deletion_vectors,
    )

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "dv")
    write_table(nation, path, ["n_nationkey"], config=DEFAULT_CONFIG.with_(block_size=8))
    dv_dir = os.path.join(path, "_deletes")
    assert delete_where_dv(spark, path, "n_nationkey < 3")["dv_version"] == 0
    before = sorted(read_table_mor(spark, path).collect())

    real = os.replace
    monkeypatch.setattr(os, "replace", _failing_pointer_swap(real))
    with pytest.raises(OSError, match="injected"):
        delete_where_dv(spark, path, "n_nationkey = 10")
    monkeypatch.setattr(os, "replace", real)
    assert read_pointer(dv_dir) == 0
    assert sorted(read_table_mor(spark, path).collect()) == before

    res = delete_where_dv(spark, path, "n_nationkey = 10")
    assert res == {"dv_version": 2, "deleted_rows": 4}
    assert read_pointer(dv_dir) == 2
    assert sorted(read_table_mor(spark, path).collect()) == [
        r for r in before if r.n_nationkey != 10
    ]
    gc = vacuum_deletion_vectors(path, keep_versions=1)
    assert gc == {"removed_dv_versions": [0, 1], "retained_dv_versions": [2]}
    assert list_versions(dv_dir, "dv=") == [2]


@pytest.mark.slow  # excluded from the default run; see pytest.ini
def test_streaming_upsert_pointer_swap_crash(spark, tmp_path, monkeypatch):
    """streaming_upsert: a microbatch that crashes at the ``_latest`` swap
    fails the query with the pointer, the snapshot and the version set
    unchanged; restarting from the checkpoint replays the batch into the
    next version."""
    from btrblocks_spark.format.journal import list_versions, read_pointer
    from btrblocks_spark.streaming.ops import read_snapshot, streaming_upsert

    schema = "k long, val string, seq long"
    src = str(tmp_path / "updates")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f*")
        )
        streaming_upsert(stream, table, ckpt, keys=["k"]).awaitTermination(120)

    def snapshot():
        return sorted(tuple(r) for r in read_snapshot(spark, table).collect())

    # one file per microbatch (maxFilesPerTrigger=1)
    spark.createDataFrame([(1, "a0", 0)], schema).coalesce(1).write.parquet(src + "/f0")
    run()
    assert read_pointer(table) == 0
    spark.createDataFrame([(1, "a1", 1), (2, "b1", 1)], schema).coalesce(
        1
    ).write.parquet(src + "/f1")

    real = os.replace
    monkeypatch.setattr(os, "replace", _failing_pointer_swap(real))
    with pytest.raises(Exception, match="injected"):
        run()
    monkeypatch.setattr(os, "replace", real)
    assert read_pointer(table) == 0
    assert snapshot() == [(1, "a0", 0)]
    assert list_versions(table, "v=") == [0]

    run()  # restart: the failed batch replays
    assert read_pointer(table) == 1
    assert snapshot() == [(1, "a1", 1), (2, "b1", 1)]
