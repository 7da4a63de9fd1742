"""Versioned-snapshot steps of format/journal.py, without Spark: version
listing and claiming, the ``_latest`` pointer, and the vacuum rule."""

from __future__ import annotations

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
