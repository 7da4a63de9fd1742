"""Capture explain("formatted") for queries from a given tree into plans/r08.
Usage: PYTHONPATH=<tree> python capture_dual.py <tree> <tag> <q> [q...]"""
import io
import os
import sys
from contextlib import redirect_stdout

tree, tag = sys.argv[1], sys.argv[2]
names = sys.argv[3:]
sys.path.insert(0, tree)

from btrblocks_spark.queries import all_queries  # noqa: E402
from btrblocks_spark.session import get_spark  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
out_dir = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r08"
)
os.makedirs(out_dir, exist_ok=True)
spark = get_spark(app_name=f"capture-{tag}")
spark.sparkContext.setLogLevel("ERROR")
queries = all_queries()
for name in names:
    try:
        df = queries[name](spark, sf_dir)
    except Exception as exc:  # a builder that needs missing context
        print(f"{name}: SKIP ({exc})")
        continue
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
        fh.write(text)
    print(f"{name}_{tag}: FileScans={text.count('Scan parquet')} "
          f"Exchanges={text.count('Exchange')} bytes={len(text)}", flush=True)
