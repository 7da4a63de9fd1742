"""Capture `explain("formatted")` for named queries into plans/r09/.

Usage: python scripts/capture_plan.py <before|after> <query> [query ...]
       python scripts/capture_plan.py <before|after> --top <file-with-names>

Runs against $SPARK_GRAFT_SF_DIR (default sf0.1) so the captured plan is the
one the bench times. Writes plans/r09/<query>_<tag>.txt.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from btrblocks_spark.queries import all_queries
from btrblocks_spark.session import get_spark


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    assert tag in ("before", "after"), tag
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO_ROOT, "plans", "r09")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="capture-plan")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue()
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        n_scan = text.count("Scan parquet")
        n_exch = text.count("Exchange")
        print(f"{name}: {len(text)} bytes, FileScans={n_scan}, Exchange={n_exch} -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
