"""Multi-table atomic catalog: one root pointer file commits a SET of
table versions together, so readers get cross-table consistency (the
classic lakehouse-catalog guarantee: a fact append and its dimension
update become visible in the same instant, never half-applied).

Layout: ``catalog_dir/_catalog`` holds JSON {table_name: version}; commits
write ``_catalog.tmp`` then os.replace (atomic on POSIX) — the same
pointer-swap protocol the per-table ``_latest`` files use, lifted one
level. Table data lives in ordinary versioned table dirs (maintenance.py);
the catalog never copies data, only pins versions.

Concurrency: commit_tables re-reads the current catalog and applies the
caller's updates on top; a compare-and-swap against the expected snapshot
id rejects lost updates (CommitConflictError, same OCC contract as
single-table DML)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from btrblocks_spark.format.journal import commit_lock, load_json, replace_json
from btrblocks_spark.format.maintenance import CommitConflictError, read_version


def _catalog_path(catalog_dir: str) -> str:
    return os.path.join(catalog_dir, "_catalog")


def read_catalog(catalog_dir: str) -> dict:
    """Current catalog snapshot: {"snapshot_id": int, "tables": {name: version}}."""
    return load_json(
        _catalog_path(catalog_dir), lambda: {"snapshot_id": -1, "tables": {}}
    )


def commit_tables(
    catalog_dir: str,
    updates: dict[str, int],
    expected_snapshot_id: int | None = None,
) -> dict:
    """Atomically publish new versions for one or more tables. With
    ``expected_snapshot_id`` set, the commit is rejected if another writer
    published in between (CAS on the snapshot id)."""
    os.makedirs(catalog_dir, exist_ok=True)
    # the whole read→compare→replace sequence runs under the exclusive
    # commit lock — a bare check-then-write lets two committers with the
    # same expected_snapshot_id both pass the CAS check and one update be
    # silently lost
    with commit_lock(catalog_dir):
        cur = read_catalog(catalog_dir)
        if (
            expected_snapshot_id is not None
            and cur["snapshot_id"] != expected_snapshot_id
        ):
            raise CommitConflictError(
                f"catalog snapshot {expected_snapshot_id} superseded by "
                f"{cur['snapshot_id']}"
            )
        tables = dict(cur["tables"])
        tables.update(updates)
        new = {"snapshot_id": cur["snapshot_id"] + 1, "tables": tables}
        replace_json(_catalog_path(catalog_dir), new)
    return new


def read_table_at_snapshot(
    spark: SparkSession, catalog_dir: str, table_dirs: dict[str, str], name: str,
    snapshot: dict | None = None,
) -> DataFrame:
    """Read a table at the version the catalog snapshot pins. Pass the same
    ``snapshot`` (from read_catalog) for every table a job touches and the
    job sees ONE consistent cross-table state regardless of concurrent
    commits.

    Retention interplay: catalog pins are NOT registered with the
    per-table ``vacuum`` — a vacuum whose ``keep_versions`` window is
    shorter than the longest-running snapshot job can remove a pinned
    version mid-job, and this read then raises ValueError('version N not
    present'). Operate vacuums with keep_versions sized to the job-length
    SLA (the same contract Delta's VACUUM retention has with long
    readers); the failure is loud, never a wrong answer."""
    snap = snapshot or read_catalog(catalog_dir)
    if name not in snap["tables"]:
        raise ValueError(f"table {name!r} not in catalog snapshot")
    if name not in table_dirs:
        raise ValueError(
            f"table {name!r} is pinned by the snapshot but missing from "
            f"table_dirs (got {sorted(table_dirs)})"
        )
    return read_version(spark, table_dirs[name], snap["tables"][name])
