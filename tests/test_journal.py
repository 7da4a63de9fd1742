"""format/journal.py without Spark: the versioned-snapshot steps (version
listing and claiming, the ``_latest`` pointer, the vacuum rule) and the
append commit (replay fence, pending recovery, log prune, abort
rollback)."""

from __future__ import annotations

import json
import os
import time

from btrblocks_spark.format import journal


def _mkversions(root, prefix: str, *vs: int) -> None:
    for v in vs:
        os.makedirs(journal.version_dir(str(root), prefix, v))


def test_missing_root_and_pointer(tmp_path):
    root = str(tmp_path / "t")
    assert journal.list_versions(root, "v=") == []
    assert journal.read_pointer(root) is None
    assert journal.vacuum_versions(root, "v=", 2, None) == ([], [])
    os.makedirs(root)
    assert journal.read_pointer(root) is None


def test_list_versions_filters_prefix_and_files(tmp_path):
    _mkversions(tmp_path, "v=", 10, 2)
    _mkversions(tmp_path, "dv=", 5)
    (tmp_path / "v=7").write_text("a file, not a snapshot")
    (tmp_path / "v=x").mkdir()
    assert journal.list_versions(str(tmp_path), "v=") == [2, 10]
    assert journal.list_versions(str(tmp_path), "dv=") == [5]


def test_claim_skips_a_directory_a_rival_created(tmp_path, monkeypatch):
    root = str(tmp_path)
    _mkversions(tmp_path, "v=", 0)
    real_listdir = os.listdir

    def listdir_then_rival_claims(path):
        names = real_listdir(path)
        # a rival claims v=1 between our listing and our mkdir
        if path == root and not os.path.exists(os.path.join(root, "v=1")):
            os.mkdir(os.path.join(root, "v=1"))
        return names

    monkeypatch.setattr(os, "listdir", listdir_then_rival_claims)
    assert journal.claim_version(root, "v=") == 2
    monkeypatch.setattr(os, "listdir", real_listdir)
    assert journal.list_versions(root, "v=") == [0, 1, 2]
    # a first claim creates the root
    assert journal.claim_version(str(tmp_path / "dv"), "dv=") == 0
    assert os.path.isdir(str(tmp_path / "dv" / "dv=0"))


def test_swap_pointer_replaces_atomically(tmp_path, monkeypatch):
    root = str(tmp_path)
    journal.swap_pointer(root, 3)
    assert journal.read_pointer(root) == 3
    calls = []
    real_replace = os.replace

    def spy(src, dst):
        calls.append((os.path.basename(src), os.path.basename(dst)))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", spy)
    journal.swap_pointer(root, 4)
    assert calls == [("_latest.tmp", "_latest")]
    assert journal.read_pointer(root) == 4
    assert sorted(os.listdir(root)) == ["_latest"]


def test_vacuum_keeps_newest_listed_plus_pinned_across_a_gap(tmp_path):
    # v=2 was claimed and torn down: the newest two LISTED versions stay
    root = str(tmp_path)
    _mkversions(tmp_path, "v=", 0, 1, 3, 4)
    assert journal.vacuum_versions(root, "v=", 2, 3) == ([0, 1], [3, 4])
    assert journal.list_versions(root, "v=") == [3, 4]
    # a pinned version outside the newest `keep` survives too
    _mkversions(tmp_path, "v=", 5)
    assert journal.vacuum_versions(root, "v=", 1, 3) == ([4], [3, 5])
    # keep=0 keeps only the pinned version
    assert journal.vacuum_versions(root, "v=", 0, 5) == ([3], [5])


def test_vacuum_min_age_floor(tmp_path):
    root = str(tmp_path)
    _mkversions(tmp_path, "v=", 0, 1, 2, 3)
    old = time.time() - 7200
    for v in (0, 1):
        os.utime(journal.version_dir(root, "v=", v), (old, old))
    # v=2 is superseded but younger than the floor
    removed, retained = journal.vacuum_versions(root, "v=", 1, 3, min_age_sec=600)
    assert (removed, retained) == ([0, 1], [2, 3])
    assert journal.vacuum_versions(root, "v=", 1, 3) == ([2], [3])


def test_vacuum_reports_only_versions_actually_gone(tmp_path, monkeypatch):
    root = str(tmp_path)
    _mkversions(tmp_path, "v=", 0, 1, 2)
    real_rmtree = journal.shutil.rmtree

    def rmtree_fails_on_v0(path, ignore_errors=False):
        if os.path.basename(path) != "v=0":
            real_rmtree(path, ignore_errors=ignore_errors)

    monkeypatch.setattr(journal.shutil, "rmtree", rmtree_fails_on_v0)
    assert journal.vacuum_versions(root, "v=", 1, 2) == ([1], [0, 2])
    assert journal.list_versions(root, "v=") == [0, 2]


_LOG = "_appends.json"


def _stage(tmp_path, *names: str) -> dict[str, str]:
    """Staged files (one line each) and their final names under data/."""
    renames = {}
    for n in names:
        src = tmp_path / f".{n}.inflight"
        src.write_text(n)
        renames[str(src)] = str(tmp_path / "data" / f"{n}.parquet")
    return renames


def _log(tmp_path) -> list:
    return json.loads((tmp_path / _LOG).read_text())


def test_commit_append_drops_a_replay_and_its_staged_files(tmp_path):
    path = str(tmp_path)
    first = _stage(tmp_path, "a0", "a1")
    assert journal.commit_append(path, _LOG, first, 2, ("q", 0))
    assert all(os.path.exists(d) for d in first.values())
    assert not any(os.path.exists(s) for s in first)
    log = _log(tmp_path)
    assert [(e["scope"], e["batch"], e["state"], e["rows"]) for e in log] == [
        ("q", 0, "committed", 2)
    ]
    assert log[0]["files"] == list(first.values())

    # the same (scope, batch) again is a replay: nothing lands, the
    # rerun's staged files are deleted, the log is unchanged
    rerun = _stage(tmp_path, "b0")
    assert not journal.commit_append(path, _LOG, rerun, 1, ("q", 0))
    assert not any(os.path.exists(p) for pair in rerun.items() for p in pair)
    assert _log(tmp_path) == log
    # another scope's batch 0 and an unfenced batch append both land
    assert journal.commit_append(path, _LOG, _stage(tmp_path, "c0"), 1, ("r", 0))
    assert journal.commit_append(path, _LOG, _stage(tmp_path, "d0"), 1)
    assert [e.get("kind", e.get("scope")) for e in _log(tmp_path)] == [
        "q", "r", "batch"
    ]
    assert sorted(os.listdir(tmp_path / "data")) == [
        "a0.parquet", "a1.parquet", "c0.parquet", "d0.parquet"
    ]


def test_commit_append_finishes_a_pending_replay_first(tmp_path):
    # the first attempt crashed after its intent write: its replay finishes
    # the FIRST attempt's renames and drops its own files
    path = str(tmp_path)
    first = _stage(tmp_path, "a0")
    journal.replace_json(str(tmp_path / _LOG), [
        {"batch": 0, "scope": "q", "renames": first, "state": "pending"}
    ])
    rerun = _stage(tmp_path, "b0")
    assert not journal.commit_append(path, _LOG, rerun, 1, ("q", 0))
    assert sorted(os.listdir(tmp_path / "data")) == ["a0.parquet"]
    assert not any(os.path.exists(s) for s in rerun)
    assert [e["state"] for e in _log(tmp_path)] == ["committed"]


def test_commit_append_adopts_another_scopes_pending_entry(tmp_path):
    path = str(tmp_path)
    crashed = _stage(tmp_path, "x0")
    legacy = _stage(tmp_path, "y0")
    journal.replace_json(str(tmp_path / _LOG), [
        {"batch": 5, "scope": "other", "renames": crashed, "state": "pending"},
        {"batch": 2, "renames": legacy, "state": "pending"},  # no scope
    ])
    assert journal.commit_append(path, _LOG, _stage(tmp_path, "a0"), 1, ("q", 0))
    assert sorted(os.listdir(tmp_path / "data")) == [
        "a0.parquet", "x0.parquet", "y0.parquet"
    ]
    assert [(e.get("scope"), e["state"]) for e in _log(tmp_path)] == [
        ("other", "committed"), (None, "committed"), ("q", "committed")
    ]
    # nothing left to recover
    assert journal.recover_pending(path, _LOG) == 0


def test_prune_window_keeps_pending_batch_and_scopeless_entries():
    keep = journal._FENCE_KEEP
    log = (
        [{"kind": "batch", "state": "committed", "n": i} for i in range(70)]
        + [{"batch": 0, "scope": "s", "state": "pending"}]
        + [{"batch": 1, "state": "committed"}]  # scope-less: unknown lineage
        + [{"batch": b, "scope": "s", "state": "committed"} for b in range(1, 100)]
        + [{"batch": 3, "scope": "t", "state": "committed"}]
    )
    pruned = journal.prune_committed_entries(log)
    batch = [e["n"] for e in pruned if e.get("kind") == "batch"]
    assert batch == list(range(70 - journal._BATCH_AUDIT_KEEP, 70))  # newest
    assert {"batch": 0, "scope": "s", "state": "pending"} in pruned
    assert {"batch": 1, "state": "committed"} in pruned
    kept_s = [
        e["batch"] for e in pruned
        if e.get("scope") == "s" and e["state"] == "committed"
    ]
    assert kept_s == list(range(100 - keep, 100))
    # each scope has its own window
    assert {"batch": 3, "scope": "t", "state": "committed"} in pruned
    # compact's re-sync drops every committed batch-kind entry
    assert not any(
        e.get("kind") == "batch"
        for e in journal.prune_committed_entries(log, batch_keep=0)
    )


def test_rollback_aborted_undoes_a_torn_intent(tmp_path):
    path = str(tmp_path)
    done = _stage(tmp_path, "a0")
    journal.commit_append(path, _LOG, done, 1)
    torn = _stage(tmp_path, "b0", "b1")
    journal.replace_json(str(tmp_path / _LOG), _log(tmp_path) + [
        {"kind": "batch", "renames": torn, "files": list(torn.values()),
         "rows": 2, "state": "pending"}
    ])
    # the commit failed after its first rename
    (src, dest), *_ = torn.items()
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(src, dest)
    orphan = str(tmp_path / ".c0.inflight")  # a task attempt never committed
    open(orphan, "w").close()

    journal.rollback_aborted(path, _LOG, list(torn) + [orphan])
    assert sorted(os.listdir(tmp_path / "data")) == ["a0.parquet"]
    assert not any(os.path.exists(s) for s in [*torn, orphan])
    assert [e["state"] for e in _log(tmp_path)] == ["committed"]
    # the table is not wedged: the next commit lands
    assert journal.commit_append(path, _LOG, _stage(tmp_path, "d0"), 1)
    assert journal.recover_pending(path, _LOG) == 0
