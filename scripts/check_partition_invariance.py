"""Partition-count invariance gate (round-1 verdict item #2).

The driver runs local[32]; the dev loop runs 8 shuffle partitions — that
asymmetry is how round 1's float-division bucket bug stayed invisible.
This script runs every registered query twice in one session (shuffle
partitions 8, then 32) and compares the sorted result multisets. Any
difference means partition-order- or partition-count-sensitive output:
a nondeterministic aggregate, FP reduction-order leak, or limit-without-
order — all bugs at 1000-executor scale.

Usage: python scripts/check_partition_invariance.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from btrblocks_spark.oracle import rows_key
from btrblocks_spark.queries import all_queries
from btrblocks_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.001"
    only = [a for a in args if not a.startswith("/")]

    queries = all_queries()
    spark = get_spark(cpus=int(os.environ.get("ORACLE_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")

    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            results = {}
            for parts in (8, 32):
                spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                df = fn(spark, sf_dir)
                cols = [f.name for f in df.schema.fields]
                results[parts] = rows_key(cols, [tuple(r) for r in df.collect()])
            ok = results[8] == results[32]
            msg = f"{len(results[8])} rows" if ok else "RESULT DIFFERS 8 vs 32"
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION: {type(e).__name__}: {e}"
        dt = time.time() - t0
        print(f"[{'PASS' if ok else 'FAIL'}] {name:32s} {dt:6.2f}s  {msg}")
        if not ok:
            failed.append(name)

    n = len(only) if only else len(queries)
    print(f"\n{n - len(failed)}/{n} partition-invariant")
    if failed:
        print("failed:", ", ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
