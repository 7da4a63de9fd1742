"""``query`` workload: the benchmark's own mix of registered queries
(``spec.QUERY_MIX``) against tables staged through ``write_table``.

The mix runs in whole passes, each in a seeded order. Every pass starts with
empty session memos and a cleared cache, so memo-backed dedup queries pay
their build cost in every pass. A timed operation is the query's
construction call plus ``collect()``. Each result is compared, untimed,
with the DuckDB oracle from ``all_oracles()`` run on the generated parquet
tables (rows compared with ``oracle.rows_key``); a query without an oracle
must return at least one row.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen
from harness import dir_bytes, median, tail
from spec import CYCLE_SECONDS, PIPELINE, QUERY_MIX, QUERY_STAGE, RELATIONAL, SF


def _stage(bench, raw_dir: str, dest_root: str) -> tuple[str, dict]:
    """Write the QUERY_STAGE tables through write_table and lay out an
    sf-style directory (``<name>.parquet`` entries) over staged and raw
    tables. Returns (sf directory, {table: writer metadata})."""
    from btrblocks_spark.config import DEFAULT_CONFIG
    from btrblocks_spark.format.writer import write_table
    from btrblocks_spark.tables import TABLE_NAMES

    spark = bench.spark
    sf_view = os.path.join(dest_root, "sf")
    os.makedirs(sf_view)
    for name in TABLE_NAMES:
        if name not in QUERY_STAGE:
            os.symlink(os.path.join(raw_dir, f"{name}.parquet"),
                       os.path.join(sf_view, f"{name}.parquet"))

    def stage_one(name: str) -> tuple[str, dict]:
        spec = QUERY_STAGE[name]
        cfg = DEFAULT_CONFIG.with_(block_size=spec.get("block_size", DEFAULT_CONFIG.block_size))
        dest = os.path.join(dest_root, name)
        meta = write_table(
            spark.read.parquet(os.path.join(raw_dir, f"{name}.parquet")), dest,
            spec["keys"], config=cfg, table_name=name,
        )
        os.symlink(os.path.join(dest, "data"), os.path.join(sf_view, f"{name}.parquet"))
        return name, meta

    # the staged writes are independent; running them side by side overlaps
    # one write's driver-side phases (and its cold JIT) with another's jobs
    with ThreadPoolExecutor(max_workers=len(QUERY_STAGE)) as pool:
        metas = dict(pool.map(stage_one, QUERY_STAGE))
    return sf_view, metas


def _oracle_results(raw_dir: str, names) -> dict:
    """name -> (columns, rows_key rows) from DuckDB over the raw tables."""
    from btrblocks_spark.oracle import duck_connect, rows_key
    from btrblocks_spark.queries import all_oracles

    oracles = all_oracles()
    con = duck_connect(raw_dir)
    out = {}
    try:
        for name in names:
            if name in oracles:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                out[name] = (sorted(cols), rows_key(cols, [tuple(r) for r in res.fetchall()]))
    finally:
        con.close()
    return out


def run(bench) -> dict:
    from btrblocks_spark.oracle import rows_key
    from btrblocks_spark.queries import all_queries

    raw_dir = os.path.join(bench.work, "raw")
    tables = datagen.all_tables(bench.seed, SF)
    datagen.write_raw(tables, raw_dir)
    expected = _oracle_results(raw_dir, QUERY_MIX)
    queries = all_queries()

    start_s = bench.start_session()
    # the (cold) staging is the JVM warm-up as well
    (sf_view, metas), stage_s = bench.span("stage", lambda: _stage(
        bench, raw_dir, os.path.join(bench.work, "stage0")))
    bench.setup = {"session.start_s": start_s, "session.warmup_s": stage_s}
    setup_s = start_s + stage_s
    staged_user = sum(tables[n].nbytes for n in QUERY_STAGE)
    staged_disk = sum(dir_bytes(os.path.join(bench.work, "stage0", n)) for n in QUERY_STAGE)
    spark = bench.spark

    def check(name: str, result) -> str | None:
        cols, rows = result
        if name not in expected:
            return None if rows else "no rows"
        want_cols, want_rows = expected[name]
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} != {want_cols}"
        got = rows_key(cols, rows)
        if len(got) != len(want_rows):
            return f"{len(got)} rows, oracle {len(want_rows)}"
        for i, (a, b) in enumerate(zip(got, want_rows)):
            if a != b:
                return f"sorted row {i}: {a} != oracle {b}"
        return None

    def run_query(name: str):
        with bench.phase("construct"):
            df = queries[name](spark, sf_view)
        with bench.phase("execute"):
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    passes: list[dict] = []

    def one_pass(_n: int):
        bench.reset_session_state()
        fam_s: dict[str, float] = {}
        for name in bench.rng.permutation(list(QUERY_MIX)):
            bench.op("query", lambda: run_query(name), check=lambda r: check(name, r),
                     key=name, name=name, family=QUERY_MIX[name])
            rec = bench.ops[-1]
            fam_s[rec.info["family"]] = fam_s.get(rec.info["family"], 0.0) + rec.seconds
        passes.append(fam_s)

    cycles = bench.measure(one_pass, CYCLE_SECONDS["query"])
    ok = bench.ok_ops()
    secs = [r.seconds for r in ok]
    q_tail = tail(secs)
    total_s = median([sum(p.values()) for p in passes[:cycles]])
    named = {
        "setup_s": (setup_s, "s"),
        "query_total_s": (total_s, "s"),
        "query_p50_s": (median(secs), "s"),
        "query_tail_s": (q_tail[0], "s"),
    }
    out = {
        "named": named,
        "tails": {"query_tail_s": {"percentile": q_tail[1], "samples": q_tail[2]}},
        "e2e": {
            "setup_s": setup_s,
            "ops_s": bench.ops_per_second(),
            "disk_ratio": staged_user / staged_disk,
        },
        "info": {
            "passes": cycles,
            "mix": QUERY_MIX,
            "staged": {n: m["num_rows"] for n, m in metas.items()},
            "input_rows": {n: t.num_rows for n, t in tables.items()},
            "per_query_s": {
                n: median([r.seconds for r in ok if r.info["name"] == n]) for n in QUERY_MIX
            },
        },
    }
    if bench.trace:
        out["layers"] = _layers(bench, passes)
    return out


def _layers(bench, traced_passes: list[dict]) -> dict:
    def mean(xs):
        return float(np.mean(xs)) if xs else 0.0

    recs = bench.ok_ops("query")
    layers: dict = {}
    if not recs:
        return layers
    construct = [s for s in bench.tracer.spans if s.name == "construct"]
    execute = [s for s in bench.tracer.spans if s.name == "execute"]
    layers.update({
        "query.construct_s": mean([s.seconds for s in construct]),
        "query.construct_jobs": mean([s.counters["jobs"] for s in construct]),
        "query.execute_s": mean([s.seconds for s in execute]),
    })
    by_op: dict[str, dict] = {}
    for s in construct + execute:
        acc = by_op.setdefault(s.op_id, dict.fromkeys(s.counters, 0.0))
        for k, v in s.counters.items():
            acc[k] += v
    totals = list(by_op.values())
    for field in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                  "py_worker_cpu_s", "shuffle_bytes"):
        layers[f"query.{field}"] = mean([t[field] for t in totals])
    layers["query.driver_s"] = mean(
        [max(r.seconds - by_op[r.op_id]["job_busy_s"], 0.0) for r in recs])
    for fam in RELATIONAL + PIPELINE:
        layers[f"query.family.{fam}_s"] = mean([p.get(fam, 0.0) for p in traced_passes])
    layers["query.relational_s"] = mean(
        [sum(p.get(f, 0.0) for f in RELATIONAL) for p in traced_passes])
    layers["query.pipeline_s"] = mean(
        [sum(p.get(f, 0.0) for f in PIPELINE) for p in traced_passes])
    return layers
