"""Command-line tools — parity with the reference's conversion binaries
(``tools/conversion/``): csvtobtr, btrtocsv, btrmeta, decompression-speed.

Usage (one JVM per invocation; all heavy lifting is the library code):

    python -m btrblocks_spark.tools csvtobtr --csv in.csv --yaml schema.yaml \\
        --btr /path/table --order-keys k1,k2 [--verify]
    python -m btrblocks_spark.tools btrtocsv --btr /path/table --csv out.csv
    python -m btrblocks_spark.tools btrmeta /path/table
    python -m btrblocks_spark.tools decompression-speed /path/table [--reps 3]

Reference analogs: ``csvtobtr.cpp:49-66`` (convert + -verify flag),
``btrtocsv.cpp``, ``btrmeta.cpp:22-60`` (per-column-chunk scheme dump),
``decompression-speed.cpp:91-239`` (timed scan reps). Paths may be URIs
(s3a://, file://) — the sidecar goes through the Hadoop FS client.
"""

from __future__ import annotations

import argparse
import sys
import time


def _get_spark(spark=None):
    if spark is not None:
        return spark
    from btrblocks_spark.session import get_spark

    return get_spark(app_name="btrblocks-tools")


def cmd_csvtobtr(args, spark=None) -> int:
    from btrblocks_spark.config import DEFAULT_CONFIG
    from btrblocks_spark.format.verify import round_trip_verify
    from btrblocks_spark.format.writer import write_table
    from btrblocks_spark.sources.csv_source import (
        read_csv_with_yaml_schema,
    )

    spark = _get_spark(spark)
    df = read_csv_with_yaml_schema(spark, args.csv, args.yaml)
    if not df.columns:
        raise SystemExit(
            "csvtobtr: the YAML schema declares no usable (non-skip) "
            "columns — nothing to write"
        )
    keys = [k for k in (args.order_keys or "").split(",") if k] or [df.columns[0]]
    cfg = DEFAULT_CONFIG if args.block_size is None else DEFAULT_CONFIG.with_(
        block_size=args.block_size
    )
    # --column-groups: 'auto' lets the write discover FD-held profitable
    # pairs from its own NDV pass; 'det:dep[,det:dep...]' pins explicit
    # pairs (exactly validated — a violated FD aborts the write)
    groups = None
    auto_groups = False
    if args.column_groups:
        if args.column_groups.strip().lower() == "auto":
            auto_groups = True
        else:
            groups = [
                tuple(p.split(":", 1))
                for p in args.column_groups.split(",")
                if ":" in p
            ]
    meta = write_table(
        df, args.btr, keys, cfg,
        column_groups=groups, auto_column_groups=auto_groups,
    )
    gmsg = (
        " column_groups=["
        + ", ".join(f"{g['det']}->{g['dep']}" for g in meta["column_groups"])
        + "]"
        if meta.get("column_groups")
        else ""
    )
    print(
        f"wrote {meta['num_rows']} rows / {meta['num_chunks']} chunks to {args.btr} "
        f"(est ratio {meta['totals']['est_compression_ratio']}x, "
        f"{meta['write_seconds']}s){gmsg}"
    )
    if args.verify:
        ok = round_trip_verify(df, spark, args.btr)
        print(f"verify: {'OK' if ok else 'MISMATCH'}")
        return 0 if ok else 1
    return 0


def cmd_btrtocsv(args, spark=None) -> int:
    from btrblocks_spark.format.reader import read_table
    from btrblocks_spark.sources.csv_source import export_csv

    spark = _get_spark(spark)
    df, meta = read_table(spark, args.btr)
    export_csv(df, args.csv)
    print(f"exported {meta['num_rows']} rows to {args.csv}")
    return 0


def cmd_btrmeta(args, spark=None) -> int:
    from btrblocks_spark.format import fs as _fs
    from btrblocks_spark.format.reader import read_metadata, scheme_summary

    spark = _get_spark(spark)
    meta = read_metadata(args.table, spark)
    t = meta["totals"]
    print(
        f"table {meta['table']}: {meta['num_rows']} rows, "
        f"{meta['num_chunks']} chunks x {meta['block_size']}, "
        f"est ratio {t['est_compression_ratio']}x"
    )
    rows = scheme_summary(spark, args.table).collect()
    for row in rows:
        print(
            f"  {row['column']:<20} chunk {row['chunk']:<3} "
            f"{row['scheme_tree']:<28} ratio {row['est_ratio']:<7} "
            f"rows {row['n_rows']} nulls {row['null_count']} "
            f"uniq {row['unique_count']}"
        )
    # the planner's estimate next to what the chunk files hold (footer
    # column-chunk bytes), the sidecar's dictionary switch and the Parquet
    # encodings actually written, so a footer that disagrees shows
    est: dict[str, int] = {}
    for row in rows:
        est[row["column"]] = est.get(row["column"], 0) + int(row["est_size"])
    disk = _fs.column_footer_bytes(_fs.join(args.table, "data"), spark)
    switches = meta.get("dictionary") or {}
    print(
        f"  {'column':<20} {'est_bytes':>12} {'disk_bytes':>12} "
        f"{'dict':>4}  encodings"
    )
    names = [c["name"] for c in meta["schema"]]
    for col in names + sorted(set(disk) - set(names)):
        nbytes, encodings = disk.get(col, (0, set()))
        switch = {True: "on", False: "off"}.get(switches.get(col), "-")
        print(
            f"  {col:<20} {est.get(col, 0):>12} {nbytes:>12} {switch:>4}  "
            f"{','.join(sorted(encodings)) or '-'}"
        )
    return 0


def cmd_decompression_speed(args, spark=None) -> int:
    from btrblocks_spark.format.reader import read_metadata

    spark = _get_spark(spark)
    from btrblocks_spark.format import fs as _fs

    meta = read_metadata(args.table, spark)
    data = _fs.join(args.table, "data")
    raw_bytes = meta["totals"]["raw_bytes"]
    best = float("inf")
    for _ in range(args.reps):
        t0 = time.perf_counter()
        spark.read.parquet(data).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    mb = raw_bytes / 1e6
    print(
        f"scan {meta['num_rows']} rows ({mb:.1f} MB raw) best of {args.reps}: "
        f"{best:.3f}s = {mb / best:.1f} MB/s"
    )
    return 0


def cmd_sql(args, spark=None) -> int:
    """Run ad-hoc SQL over the testdata tables — and, with --views, over
    every registered operator as a lazy view (the whole engine surface
    from the command line)."""
    from btrblocks_spark.tables import register_temp_views

    spark = _get_spark(spark)
    if args.views:
        from btrblocks_spark.queries import register_query_views

        names = [v for v in args.views.split(",") if v] or None
        register_query_views(spark, args.sf_dir, names)
    else:
        register_temp_views(spark, args.sf_dir)
    df = spark.sql(args.query)
    df.show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(prog="btrblocks_spark.tools")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("csvtobtr", help="CSV + YAML schema -> compressed table")
    c.add_argument("--csv", required=True)
    c.add_argument("--yaml", required=True)
    c.add_argument("--btr", required=True)
    c.add_argument("--order-keys", default="")
    c.add_argument("--block-size", type=int, default=None)
    c.add_argument("--verify", action="store_true")
    c.add_argument(
        "--column-groups",
        default="",
        help="'auto' (FD-discovered shared-dict groups) or 'det:dep,...'",
    )
    c.set_defaults(fn=cmd_csvtobtr)

    c = sub.add_parser("btrtocsv", help="compressed table -> CSV export")
    c.add_argument("--btr", required=True)
    c.add_argument("--csv", required=True)
    c.set_defaults(fn=cmd_btrtocsv)

    c = sub.add_parser(
        "btrmeta",
        help="dump per-column-chunk scheme metadata and per-column "
        "estimated vs on-disk bytes",
    )
    c.add_argument("table")
    c.set_defaults(fn=cmd_btrmeta)

    c = sub.add_parser("decompression-speed", help="timed full-table scan")
    c.add_argument("table")
    c.add_argument("--reps", type=int, default=3)
    c.set_defaults(fn=cmd_decompression_speed)

    c = sub.add_parser("sql", help="ad-hoc SQL over tables (+ operator views)")
    c.add_argument("query")
    c.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    c.add_argument(
        "--views",
        default="",
        help="comma-separated operator views to register (empty = tables only)",
    )
    c.add_argument("--limit", type=int, default=50)
    c.set_defaults(fn=cmd_sql)

    args = p.parse_args(argv)
    return args.fn(args, spark=spark)


if __name__ == "__main__":
    sys.exit(main())
