"""Commit journal: the pieces every write-ahead commit protocol of the
lakehouse layer shares.

The reference format writes each chunk file once and never appends or
compacts (storage/Chunk.cpp:233-266), so every commit protocol here is our
own: the datasource batch and stream appends (``_appends.json``), the
foreachBatch sink (``_stream_batches.json``), ``maintenance.compact``
(``_compact_journal.json``) and ``copy_into`` (``_copy_journal.json``).
Each one stages files under a name readers skip, writes its journal with
``replace_json`` (that ``os.replace`` is the commit point), ``adopt``s the
staged files, and leaves crash leftovers to ``collect_stale``. All of it
runs under the table's ``commit_lock``.

The versioned-snapshot protocol is the second shape. A table of
immutable snapshots keeps each one in a ``<prefix>N`` directory and names
the committed one in a pointer file: ``v=N`` + ``_latest`` for the DML
verbs of ``maintenance`` and ``streaming_upsert`` (the same tables),
``dv=N`` + ``_deletes/_latest`` for deletion vectors, and ``v=N`` behind
``_state.json`` for ``incremental_agg``. A writer ``claim_version``s the
next number (an atomic ``os.mkdir``, so two writers never share a
directory), writes the snapshot into it, and commits with ``swap_pointer``
(``incremental_agg`` with ``replace_json`` of its state). A claim that
never committed is removed by its writer when the commit fails, or by a
later ``vacuum_versions`` (a crash, or an uncommitted deletion vector).
Readers resolve ``read_pointer``.

Protocol code calls ``os.replace`` through the ``os`` module attribute:
the crash-injection matrix (tests/test_crash_matrix.py) patches it there.
Local paths only; this module imports nothing else from the package, so
every caller can import it at module top.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from collections.abc import Callable, Collection, Iterable


@contextlib.contextmanager
def commit_lock(dir_path: str, timeout_sec: float = 10.0):
    """Exclusive commit lock via atomic ``os.mkdir`` — serializes the
    check-then-swap window of pointer commits (the residual TOCTOU in a
    bare read→compare→os.replace sequence: two writers holding the same
    base can interleave between the check and the swap and one update is
    silently lost). Driver-side and cheap: commits are O(pointer file),
    never data-sized.

    A waiter whose own ``timeout_sec`` expires RAISES; it never breaks the
    lock (the holder may simply be slow — stealing a live lock reopens the
    lost-update race this lock exists to close). Stale-break applies only
    to locks whose mtime age exceeds ``stale_sec`` (a crashed committer);
    the HOLDER heartbeats the token file's mtime from a daemon thread while
    the lock is held, so a legitimately slow critical section (a large
    journal apply on slow storage, >stale_sec) is never mistaken for a
    crash and stolen. Release is owner-checked via the token file so a
    broken-and-reacquired lock is never deleted by the previous holder's
    ``finally``."""
    import threading
    import uuid

    stale_sec = max(60.0, 6 * timeout_sec)
    lock = os.path.join(dir_path, "_commit.lock")
    token_path = os.path.join(lock, "owner")
    token = uuid.uuid4().hex
    os.makedirs(dir_path, exist_ok=True)
    deadline = time.monotonic() + timeout_sec

    def _age() -> float:
        # staleness = age of the NEWEST liveness signal: the token file's
        # mtime while the holder heartbeats, falling back to the lock dir
        # (a holder that crashed between mkdir and token write)
        newest = os.path.getmtime(lock)
        try:
            newest = max(newest, os.path.getmtime(token_path))
        except OSError:
            pass
        return time.time() - newest

    while True:
        try:
            os.mkdir(lock)
            with open(token_path, "w") as fh:
                fh.write(token)
            break
        except FileExistsError:
            try:
                if _age() > stale_sec:
                    # crashed holder: break it via atomic rename-aside —
                    # rmtree-in-place would let a SECOND breaker delete a
                    # lock the first breaker's winner just re-acquired
                    # (two holders). Only the breaker whose rename succeeds
                    # removes anything; losers hit ENOENT and loop.
                    aside = f"{lock}.stale-{uuid.uuid4().hex}"
                    try:
                        os.rename(lock, aside)
                    except OSError:
                        continue
                    shutil.rmtree(aside, ignore_errors=True)
                    continue
            except OSError:
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit_lock: {lock} held for >{timeout_sec}s by a live "
                    "committer; raise timeout_sec or retry"
                )
            time.sleep(0.02)
    # liveness heartbeat: touch the token while held so a long critical
    # section's lock never looks stale to a rival's _age() check
    stop_beat = threading.Event()

    def _beat() -> None:
        while not stop_beat.wait(stale_sec / 4):
            try:
                os.utime(token_path)
            except OSError:  # lock stolen/gone: nothing left to keep alive
                return

    beater = threading.Thread(target=_beat, daemon=True)
    beater.start()
    try:
        yield
    finally:
        stop_beat.set()
        beater.join(timeout=1.0)
        try:
            with open(token_path) as fh:
                still_ours = fh.read() == token
        except OSError:
            still_ours = False
        if still_ours:
            shutil.rmtree(lock, ignore_errors=True)


def load_json(path: str, default: Callable[[], object] = list):
    """Parsed JSON file, or ``default()`` when it does not exist (a fresh
    value per call, so callers may mutate it)."""
    if not os.path.exists(path):
        return default()
    with open(path) as fh:
        return json.load(fh)


def replace_json(path: str, obj, **dump_kw) -> None:
    """Atomically replace ``path`` with ``obj`` serialized as JSON: write
    ``<path>.tmp``, then ``os.replace`` it over ``path``. A reader sees the
    old file or the new one, never a torn write, so this call is the
    commit point of every journal protocol. ``dump_kw`` go to
    ``json.dump`` (each file keeps its own indent/default)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, **dump_kw)
    os.replace(tmp, path)


def adopt(renames: dict[str, str]) -> None:
    """Move every staged file to its final name, idempotently: a source
    already moved (gone, destination present) is skipped, so a replay can
    resume from any crash point, and each destination's directory is
    created on demand (a first append can land before ``data/`` exists). A
    source gone with no destination is data loss (stage cleaned up, or
    clobbered by a rival restage): raise so the journal entry stays
    pending and the loss surfaces, instead of being marked applied with
    its rows dropped."""
    for src, dest in renames.items():
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(src, dest)
        elif not os.path.exists(dest):
            raise RuntimeError(
                f"journal: staged file {src} is gone and {dest} was never "
                "created — rows lost; journal entry left pending"
            )


def newest_mtime(root: str) -> float:
    """Newest mtime anywhere in the tree — the liveness signal for stage-dir
    GC. The top-level dir's mtime is NOT it: a long parquet write keeps the
    stage root's mtime at job start while tasks write under _temporary/, so
    a top-level-mtime GC can rmtree a LIVE writer's stage."""
    newest = os.path.getmtime(root)
    for r, _dirs, files in os.walk(root):
        for name in files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(r, name)))
            except OSError:
                pass
        try:
            newest = max(newest, os.path.getmtime(r))
        except OSError:
            pass
    return newest


def collect_stale(
    groups: Iterable[Iterable[str]],
    referenced: Collection[str] = (),
    max_age_sec: float = 3600.0,
) -> int:
    """Remove stage files/dirs a crashed or abandoned commit left behind.
    The caller groups the paths: a group goes only when EVERY member is
    idle past ``max_age_sec`` by ``newest_mtime`` (one live member keeps
    its siblings — a compact that finished its data stage keeps writing its
    stats stage), and a ``referenced`` path (named by a pending journal,
    whose replay consumes it) is never touched; a caller that passes
    ``referenced`` holds the commit lock, so no journal can newly name a
    path mid-sweep. Returns the number of paths removed."""
    now = time.time()
    removed = 0
    for group in groups:
        paths = [p for p in group if p not in referenced and os.path.exists(p)]
        try:
            if not paths or not all(
                now - newest_mtime(p) > max_age_sec for p in paths
            ):
                continue
        except OSError:
            continue
        for p in paths:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    continue
            removed += 1
    return removed


def version_dir(root: str, prefix: str, v: int) -> str:
    """Directory of snapshot ``v`` (``<root>/<prefix><v>``)."""
    return os.path.join(root, f"{prefix}{v}")


def list_versions(root: str, prefix: str) -> list[int]:
    """Sorted numbers of the ``<prefix>N`` snapshot directories under
    ``root``; [] when ``root`` does not exist."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    n = len(prefix)
    return sorted(
        int(d[n:])
        for d in names
        if d.startswith(prefix)
        and d[n:].isdecimal()
        and os.path.isdir(os.path.join(root, d))
    )


def claim_version(root: str, prefix: str) -> int:
    """Claim the next snapshot number by creating its directory. ``os.mkdir``
    is atomic, so of two writers that pick the same number one gets
    FileExistsError and moves on to the next. The caller writes into
    ``version_dir(root, prefix, v)`` and removes it if its commit fails
    before ``swap_pointer``."""
    os.makedirs(root, exist_ok=True)
    v = (list_versions(root, prefix) or [-1])[-1] + 1
    while True:
        try:
            os.mkdir(version_dir(root, prefix, v))
            return v
        except FileExistsError:
            v += 1


def read_pointer(root: str) -> int | None:
    """The committed snapshot number ``root/_latest`` names, or None before
    the first commit."""
    try:
        with open(os.path.join(root, "_latest")) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def swap_pointer(root: str, v: int) -> None:
    """Commit snapshot ``v``: write ``_latest.tmp``, then ``os.replace`` it
    over ``_latest``. A reader resolves the old snapshot or the new one,
    never a torn pointer."""
    tmp = os.path.join(root, "_latest.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(v))
    os.replace(tmp, os.path.join(root, "_latest"))


def vacuum_versions(
    root: str,
    prefix: str,
    keep: int,
    pinned: int | None,
    min_age_sec: float = 0.0,
) -> tuple[list[int], list[int]]:
    """Remove superseded snapshots. The newest ``keep`` listed versions and
    ``pinned`` (the pointer target) always stay; any other version goes once
    its directory is older than ``min_age_sec``, so a reader that resolved
    it moments ago can still scan it. Removal is best effort: a version
    counts as removed only if its directory is gone afterwards. Returns
    (removed, retained) version numbers."""
    versions = list_versions(root, prefix)
    retain = set(versions[-keep:] if keep > 0 else ())
    if pinned is not None:
        retain.add(pinned)
    now = time.time()
    removed = []
    for v in versions:
        if v in retain:
            continue
        path = version_dir(root, prefix, v)
        try:
            if min_age_sec > 0 and now - os.path.getmtime(path) <= min_age_sec:
                continue
        except OSError:
            continue
        shutil.rmtree(path, ignore_errors=True)
        if not os.path.exists(path):
            removed.append(v)
    return removed, sorted(set(versions).difference(removed) | retain)
