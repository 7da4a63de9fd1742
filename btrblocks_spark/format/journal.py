"""Commit journal: the pieces every write-ahead commit protocol of the
lakehouse layer shares.

The reference format writes each chunk file once and never appends or
compacts (storage/Chunk.cpp:233-266), so every commit protocol here is our
own: appends, ``maintenance.compact`` (``_compact_journal.json``) and
``copy_into`` (``_copy_journal.json``). Each one stages files under a name
readers skip, writes its journal with ``replace_json`` (that
``os.replace`` is the commit point), ``adopt``s the staged files, and
leaves crash leftovers to ``collect_stale``. All of it runs under the
table's ``commit_lock``.

Appends have one commit, ``commit_append``, over two logs of the same
entry shape: ``_appends.json`` (the ``btrblocks`` data source's batch and
stream writers) and ``_stream_batches.json`` (the foreachBatch sink,
``streaming.ops.exactly_once_chunked_append``). A commit finishes every
pending entry it finds, drops a ``(scope, batch)`` replay, writes its
pending intent, adopts, flips the entry committed and prunes the log
(``prune_committed_entries``); ``rollback_aborted`` undoes a torn intent
on abort and ``recover_pending`` finishes pending entries on demand. The
callers keep only their staging: the data source's ``.inflight`` files
and the sink's stage dirs, its pre-stage replay skip and its rule for
entries written before scopes existed.

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


_FENCE_KEEP = 16  # committed stream entries retained per scope (fence window)
_BATCH_AUDIT_KEEP = 64  # committed batch-kind entries retained (audit trail)


def finish_pending(log: list) -> bool:
    """Adopt every *pending* append entry's renames and flip it committed —
    recovery for a committer that crashed after its intent write. Caller
    holds the table's commit lock (a pending entry observed under the lock
    belongs to a crashed committer, never a live one) and persists the log.
    Returns True when the log changed."""
    changed = False
    for e in log:
        if e.get("state") == "pending":
            adopt(e["renames"])
            e["state"] = "committed"
            changed = True
    return changed


def prune_committed_entries(
    log: list, keep: int = _FENCE_KEEP, batch_keep: int = _BATCH_AUDIT_KEEP
) -> list:
    """Bound an append log: an unbounded stream writes one entry per
    microbatch, and every commit rewrites the WHOLE json — at one batch per
    10 s that is a multi-MB read-modify-write within a month, a driver-side
    cost growing with stream lifetime, not stream rate. Structured Streaming
    only ever replays the single in-flight batch of a checkpoint lineage,
    so a committed stream entry older than the scope's newest ``keep``
    batches can never be offered again; drop it. Of the committed
    batch-kind entries (an audit trail) the newest ``batch_keep`` stay, so
    frequent small batch appends can't grow the log unbounded either;
    ``compact`` passes 0 when it re-syncs metadata. Kept unconditionally:
    pending entries (crash recovery) and entries without a scope key
    (unknown lineage)."""
    latest: dict = {}
    n_batch = 0
    for e in log:
        if e.get("state") == "committed" and "scope" in e:
            latest[e["scope"]] = max(latest.get(e["scope"], -1), e.get("batch", -1))
        if e.get("kind") == "batch" and e.get("state") == "committed":
            n_batch += 1
    drop_batch = max(0, n_batch - batch_keep)  # oldest first
    out = []
    for e in log:
        if (
            e.get("state") == "committed"
            and "scope" in e
            and e.get("batch", -1) <= latest[e["scope"]] - keep
        ):
            continue
        if drop_batch and e.get("kind") == "batch" and e.get("state") == "committed":
            drop_batch -= 1
            continue
        out.append(e)
    return out


def _remove_files(paths: Iterable[str]) -> None:
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


def recover_pending(path: str, log_name: str) -> int:
    """Finish the pending entries of the append log ``log_name`` under the
    table's commit lock; returns how many there were."""
    log_path = os.path.join(path, log_name)
    with commit_lock(path):
        log = load_json(log_path)
        n = sum(1 for e in log if e.get("state") == "pending")
        if finish_pending(log):
            replace_json(log_path, log)
    return n


def commit_append(
    path: str,
    log_name: str,
    renames: dict[str, str],
    rows: int,
    fence: tuple | None = None,
) -> bool:
    """Commit one append of staged files to the table at ``path``, a
    write-ahead protocol against its append log ``log_name``: (1) append a
    *pending* entry recording every staged→final rename, (2) ``adopt`` the
    renames, (3) flip the entry to committed and prune the log. The intent
    write (an ``os.replace``) is the single atomic decision point: a crash
    before it leaves nothing visible, a crash after it is finished by the
    next commit on the log (or ``recover_pending``).

    ``fence=(scope, batch)`` makes a streaming microbatch replay-safe: when
    the log already holds that (scope, batch), the call is a replay — the
    first attempt's entry is finished if it is still pending (its staged
    files are on disk, named in the log, so nothing is lost), this rerun's
    staged files are deleted (no duplicates), and the call returns False.
    A batch append (``fence=None``) writes a ``kind: batch`` entry.

    The whole sequence runs under the table's commit lock: the log update
    is read-modify-write, and a concurrent committer would otherwise drop
    our entry — a lost pending entry means its renames never finish. Every
    pending entry observed under the lock is finished first, whoever wrote
    it. Returns True when this call appended."""
    log_path = os.path.join(path, log_name)
    with commit_lock(path):
        log = load_json(log_path)
        recovered = finish_pending(log)
        if fence is not None:
            scope, batch = fence
            if any(e.get("scope") == scope and e.get("batch") == batch for e in log):
                if recovered:
                    replace_json(log_path, log)
                _remove_files(renames)
                return False
        entry = (
            {"kind": "batch"} if fence is None else {"batch": batch, "scope": scope}
        )
        entry.update(
            renames=dict(renames),
            files=list(renames.values()),
            rows=rows,
            state="pending",
        )
        log.append(entry)
        replace_json(log_path, log)  # intent durable BEFORE any file is visible
        adopt(entry["renames"])
        entry["state"] = "committed"
        replace_json(log_path, prune_committed_entries(log))
    return True


def rollback_aborted(path: str, log_name: str, staged: list[str]) -> None:
    """Abort-side rollback of an append whose staged files are ``staged``.
    A commit that wrote its pending intent and then failed mid-rename
    leaves some files visible and some still staged; a bare delete of the
    staged sources would strand the pending entry with source AND
    destination missing, and recovery would then raise "rows lost" on every
    later commit, wedging the table. So the attempt is rolled back whole:
    renames already performed are undone (destination names are
    attempt-unique, so deleting them can't touch other commits' data), the
    entry is dropped, and only then are the staged files cleared."""
    log_path = os.path.join(path, log_name)
    staged_set = set(staged)
    if os.path.exists(log_path):
        with commit_lock(path):
            log = load_json(log_path)
            kept = []
            for e in log:
                if e.get("state") == "pending" and staged_set & set(
                    e.get("renames", {})
                ):
                    for src, dest in e["renames"].items():
                        _remove_files((dest, src))
                    continue
                kept.append(e)
            if len(kept) != len(log):
                replace_json(log_path, kept)
    _remove_files(staged)  # task-attempt orphans that never reached a commit


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
