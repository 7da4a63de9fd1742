"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics. The lines before it print every metric of
the run by name and unit, then one JSON detail record (provenance,
failures, named metrics); the same record and, for a traced run, the spans
are written to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import logging
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metrics every workload reports (BENCHMARK.json "end_to_end")
END_TO_END = {
    "setup_s": "s",
    "ops_s": "1/s",
    "disk_ratio": "x",
}


def per_layer_units() -> dict[str, str]:
    """Per-layer metrics (BENCHMARK.json "per_layer"), name -> unit."""
    from spec import INGEST_TABLES, PIPELINE, RELATIONAL
    from tracing import CALLSITE_MODULES

    units = {"session.start_s": "s", "session.warmup_s": "s"}
    units.update({
        "writer.call_s": "s", "writer.driver_s": "s", "writer.jobs": "count",
        "writer.stages": "count", "writer.tasks": "count", "writer.exec_run_s": "s",
        "writer.exec_cpu_s": "s", "writer.gc_s": "s", "writer.py_worker_cpu_s": "s",
        "writer.shuffle_bytes": "B", "writer.data_bytes": "B", "writer.stats_bytes": "B",
    })
    for t in INGEST_TABLES:
        units[f"writer.s.{t}"] = "s"
        units[f"writer.disk_ratio.{t}"] = "x"
        units[f"writer.est_ratio.{t}"] = "x"
    units.update({"planner.choose_ms": "ms", "codecs.encode_mb_s": "MB/s"})
    units.update({
        "reader.metadata_ms": "ms", "reader.prune_ms": "ms", "reader.range_jobs": "count",
        "reader.range_tasks": "count", "reader.chunks_read_frac": "frac",
        "reader.rows_read_per_row": "x", "reader.scan_mb_s": "MB/s",
        "reader.scan_exec_cpu_s": "s",
    })
    units.update({
        "datasource.lookup_files_frac": "frac", "datasource.lookup_jobs": "count",
        "datasource.lookup_py_worker_cpu_s": "s", "datasource.scan_mb_s": "MB/s",
        "datasource.scan_py_worker_cpu_s": "s", "datasource.append_files": "count",
    })
    units.update({
        "maintenance.compact_s": "s", "maintenance.compact_bytes_rewritten": "B",
        "maintenance.write_amp": "x",
    })
    units.update({
        "query.construct_s": "s", "query.construct_jobs": "count", "query.driver_s": "s",
        "query.jobs": "count", "query.stages": "count", "query.tasks": "count",
        "query.execute_s": "s", "query.exec_run_s": "s", "query.exec_cpu_s": "s",
        "query.gc_s": "s", "query.py_worker_cpu_s": "s", "query.shuffle_bytes": "B",
        "query.relational_s": "s", "query.pipeline_s": "s",
    })
    for fam in RELATIONAL + PIPELINE:
        units[f"query.family.{fam}_s"] = "s"
    for module in CALLSITE_MODULES:
        units[f"callsite.{module}_jobs"] = "count"
    units["trace.overhead_frac"] = "frac"
    return units


def _git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except Exception:  # noqa: BLE001
        return "unknown"


def provenance(args, cpus: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": f"local[{cpus}]",
        "loadavg_1m_start": os.getloadavg()[0],
        "git_commit": _git_commit(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def _prepare_environment(work: str) -> None:
    """Keep every file the run writes inside its work directory, and give
    the Python workers the repository on their path."""
    for sub in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONHASHSEED"] = "0"


def _fmt(value) -> str:
    return f"{value:.6g}" if isinstance(value, float) else str(value)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("lake", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "btrblocks_spark", "__init__.py")):
        print(f"perfbench: no btrblocks_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=work_root)
    _prepare_environment(work)

    import harness

    # an op that fails is counted, not logged: pyspark would print the full
    # JVM stack of every analysis error to stderr
    logging.getLogger("DataFrameQueryContextLogger").disabled = True
    cpus = min(4, len(os.sched_getaffinity(0)))
    prov = provenance(args, cpus)
    bench = harness.Bench(work, args.seed, args.seconds, bool(args.trace), cpus)
    t0 = time.perf_counter()
    try:
        out = importlib.import_module(args.workload).run(bench)
    except Exception:  # noqa: BLE001 - no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    prov["loadavg_1m_end"] = os.getloadavg()[0]
    prov["run_wall_s"] = time.perf_counter() - t0
    prov.update(out.get("info", {}))

    attempted, failed = bench.failures()
    named = dict(out["named"]) if not args.trace else {}
    named["failed_ops_frac"] = (failed / attempted if attempted else 1.0, "frac")
    if args.trace:
        # tracing is off for end-to-end numbers: a traced run reports layers
        units = per_layer_units()
        found = dict(bench.setup, **out["layers"])
        found["trace.overhead_frac"] = bench.overhead_frac
        found.update({f"callsite.{m}_jobs": n for m, n in bench.tracer.callsites.items()})
        metrics = {n: {"value": float(found.get(n, 0.0)), "unit": units[n]} for n in units}
    else:
        metrics = {n: {"value": float(out["e2e"][n]), "unit": u} for n, u in END_TO_END.items()}
    for name, (value, unit) in named.items():
        print(f"metric {name} = {_fmt(value)} {unit}")
    if args.trace:
        for name, m in metrics.items():
            print(f"metric {name} = {_fmt(m['value'])} {m['unit']}")
    detail = {
        "provenance": prov,
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "tails": out.get("tails", {}),
        "failures": bench.error_summary(),
        "wrong_results": bench.wrong[:20],
        "setup": bench.setup,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        op_log = [[r.op_id, r.kind, round(r.seconds, 4), r.error] for r in bench.ops]
        json.dump({**detail, "metrics": metrics, "op_log": op_log}, fh, indent=1, default=str)
    if args.trace:
        bench.tracer.write(stem + "-spans.json")
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": not bench.wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
