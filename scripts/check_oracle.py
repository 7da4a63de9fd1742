"""Dev loop: run every registered query against its DuckDB oracle.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
Strict bit-exact compare (stronger than the driver's hash check).
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from btrblocks_spark.oracle import compare
from btrblocks_spark.queries import all_oracles, all_queries
from btrblocks_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    # an sf_dir must LOOK like a path (contains a separator), not merely be
    # absolute — a relative path would otherwise be silently treated as a
    # query-name filter that matches nothing
    paths = [a for a in args if os.sep in a]
    only = [a for a in args if os.sep not in a]
    sf_dir = paths[0] if paths else "/root/testdata/sf0.001"

    queries = all_queries()
    oracles = all_oracles()
    unknown = sorted(set(only) - set(queries))
    if unknown:
        print(f"ERROR: unknown query name(s): {', '.join(unknown)}")
        return 2

    spark = get_spark(
        cpus=int(os.environ.get("ORACLE_CPUS", "8")),
        shuffle_partitions=int(os.environ.get("ORACLE_SHUFFLE", "8")),
    )
    spark.sparkContext.setLogLevel("ERROR")

    failed = []
    n_run = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                ok, msg = compare(df, oracles[name], sf_dir)
            else:
                n = df.count()
                # the driver's rows-only check requires rows > 0; an empty
                # result is a regression, never a pass
                ok, msg = n > 0, f"rows-only: {n} rows"
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION: {type(e).__name__}: {e}"
        dt = time.time() - t0
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] {name:32s} {dt:6.2f}s  {msg}")
        if not ok:
            failed.append(name)

    # denominator = queries actually RUN (skipped != passed)
    print(f"\n{n_run - len(failed)}/{n_run} passed")
    if failed:
        print("failed:", ", ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
