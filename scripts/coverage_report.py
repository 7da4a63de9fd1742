"""Print the query-registry inventory: every registered query, oracle
status, and family rollup. The quick cross-check against SURVEY.md §8.

Usage: python scripts/coverage_report.py
"""

from __future__ import annotations

import os
import sys
from collections import Counter

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from btrblocks_spark.queries import all_oracles, all_queries


def family(name: str) -> str:
    for p in (
        "q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9",
    ):
        if name.startswith(p) and name[2:3] in "0123456789_":
            return "tpch"
    return name.split("_", 1)[0]


def main() -> int:
    queries, oracles = all_queries(), all_oracles()
    fam = Counter(family(n) for n in queries)
    print(f"{len(queries)} registered queries, {len(oracles)} with DuckDB oracles, "
          f"{len(queries) - len(oracles)} rows-only\n")
    for f, n in sorted(fam.items(), key=lambda kv: -kv[1]):
        print(f"  {f:<12} {n}")
    print("\nrows-only (non-SQL-expressible):")
    for n in sorted(set(queries) - set(oracles)):
        print(f"  {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
