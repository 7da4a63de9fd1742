"""Audit every registered oracle's DuckDB output Arrow schema.

The driver's correctness hash is type/representation sensitive: DuckDB widens
SUM(BIGINT) to HUGEINT (Arrow decimal128(38,0)) and keeps DECIMAL columns as
decimal128, while Spark returns int64/double — equal values, different hash.
Every oracle's final projection must therefore cast aggregates to
BIGINT/DOUBLE.  This script flags any oracle whose DuckDB output schema
contains a decimal type.  Also used by tests/test_oracle_types.py as a
permanent regression gate.

Usage: python scripts/audit_oracle_types.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import pyarrow as pa  # noqa: E402

from btrblocks_spark.oracle import duck_connect  # noqa: E402
from btrblocks_spark.queries import all_oracles  # noqa: E402


def _has_decimal(t: pa.DataType) -> bool:
    if pa.types.is_decimal(t):
        return True
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _has_decimal(t.value_type)
    if pa.types.is_struct(t):
        return any(_has_decimal(f.type) for f in t)
    if pa.types.is_map(t):
        return _has_decimal(t.key_type) or _has_decimal(t.item_type)
    return False


def audit(sf_dir: str) -> dict[str, list[str]]:
    """Return {query_name: [offending 'col: type' strings]} for all oracles."""
    con = duck_connect(sf_dir)
    offenders: dict[str, list[str]] = {}
    for name, sql in sorted(all_oracles().items()):
        try:
            tbl = con.execute(sql).arrow()
        except Exception as e:  # noqa: BLE001
            offenders[name] = [f"EXECUTION ERROR: {type(e).__name__}: {e}"]
            continue
        bad = [
            f"{f.name}: {f.type}" for f in tbl.schema if _has_decimal(f.type)
        ]
        if bad:
            offenders[name] = bad
    con.close()
    return offenders


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    offenders = audit(sf_dir)
    for name, cols in offenders.items():
        print(f"[DECIMAL] {name}: {cols}")
    n = len(all_oracles())
    print(f"\n{n - len(offenders)}/{n} oracles decimal-free")
    return 1 if offenders else 0


if __name__ == "__main__":
    raise SystemExit(main())
