"""``lake`` workload: the ingest block, then a seeded op mix on a staged
lineitem table.

Each cycle opens with the ingest block (``ingest.Ingest``: ``write_table`` of
lineitem, orders, events and the scheme-shapes table), where the writer,
chunker, planner and codecs do the work. Then come range scans on
``l_orderkey`` through ``reader.read_table_skipping`` at varied selectivity,
point lookups through the ``btrblocks`` data source, full scans through
``read_table`` and through the data source, and small appends through the
data source; ``maintenance.compact`` runs after every K-th append. The reads
come in two blocks (``spec.LAKE_BLOCK_A`` / ``LAKE_BLOCK_B``), each in a
seeded order and each followed by an append, so block B always reads a
table with an uncompacted append. No compaction is forced before a read.

The benchmark keeps its own shadow copy of the lake table (the generated
parquet plus every appended batch) and checks each range, lookup, scan and
compact result against it, untimed.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import datagen
from harness import MB, dir_bytes, filter_range, median, same_content, tail
from ingest import Ingest
from spec import (
    CYCLE_SECONDS, INGEST_TABLES, LAKE_APPEND_ROWS, LAKE_BLOCK_A, LAKE_BLOCK_B, LAKE_BLOCK_SIZE,
    LAKE_COMPACT_EVERY, LAKE_KEYS, LAKE_RANGE_FRACTIONS, SF,
)


def _append_batches(seed: int, base: pa.Table, count: int) -> list[pa.Table]:
    """New lineitem rows whose keys fall inside the staged key range."""
    rng = np.random.default_rng([seed, 7])
    n_keys = int(pc.max(base.column("l_orderkey")).as_py()) + 1
    out = []
    for _ in range(count):
        rows = base.take(rng.integers(0, base.num_rows, LAKE_APPEND_ROWS))
        keys = pa.array(rng.integers(0, n_keys, LAKE_APPEND_ROWS).astype(np.int64))
        out.append(rows.set_column(0, "l_orderkey", keys))
    return out


def run(bench) -> dict:
    from pyspark.sql import functions as F

    from btrblocks_spark.config import DEFAULT_CONFIG
    from btrblocks_spark.format import maintenance
    from btrblocks_spark.format.reader import (
        prune_chunks, read_metadata, read_table, read_table_skipping,
    )
    from btrblocks_spark.format.writer import write_table

    tpch = datagen.tpch_tables(bench.seed, SF)
    base = tpch["lineitem"]
    ingest = Ingest(bench, tpch, SF)
    raw = os.path.join(bench.work, "lineitem.parquet")
    pq.write_table(base, raw)
    # batch 0 warms the append path; each cycle appends two more
    batches = _append_batches(bench.seed, base, 1 + 2 * bench.cycle_count(CYCLE_SECONDS["lake"]))
    batch_paths = []
    for i, b in enumerate(batches):
        batch_paths.append(os.path.join(bench.work, "batches", f"b{i}.parquet"))
        os.makedirs(os.path.dirname(batch_paths[-1]), exist_ok=True)
        pq.write_table(b, batch_paths[-1])
    n_keys = int(pc.max(base.column("l_orderkey")).as_py()) + 1
    user_bytes = base.nbytes

    start_s = bench.start_session()
    spark = bench.spark
    cfg = DEFAULT_CONFIG.with_(block_size=LAKE_BLOCK_SIZE)
    pristine = os.path.join(bench.work, "lake-pristine")

    # the first (cold) staging is also the JVM warm-up; then one read
    # through each path and one data-source append on a throw-away copy
    t0 = time.perf_counter()
    stage_meta = write_table(
        spark.read.parquet(raw), pristine, LAKE_KEYS, config=cfg, table_name="lineitem")
    scratch = os.path.join(bench.work, "lake-warm")
    shutil.copytree(pristine, scratch)
    read_table(spark, scratch)[0].limit(10).toArrow()
    spark.read.format("btrblocks").option("path", scratch).load().filter(
        F.col("l_orderkey") == 7).toArrow()
    spark.read.parquet(batch_paths[0]).write.format("btrblocks").mode("append").option(
        "path", scratch).save()
    shutil.rmtree(scratch)
    warm_s = time.perf_counter() - t0
    bench.setup = {"session.start_s": start_s, "session.warmup_s": warm_s}
    setup_s = start_s + warm_s
    disk_ratio = user_bytes / dir_bytes(pristine)

    path = os.path.join(bench.work, "lake")
    shutil.copytree(pristine, path)
    state = {"shadow": [base], "appends": 0, "appended_bytes": 0, "written_bytes": 0}

    def shadow() -> pa.Table:
        if len(state["shadow"]) > 1:
            state["shadow"] = [pa.concat_tables(state["shadow"])]
        return state["shadow"][0]

    def data_files() -> dict[str, int]:
        d = os.path.join(path, "data")
        return {f: os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)}

    def source():
        return spark.read.format("btrblocks").option("path", path).load()

    def do_range():
        frac = LAKE_RANGE_FRACTIONS[int(bench.rng.integers(len(LAKE_RANGE_FRACTIONS)))]
        width = max(int(frac * n_keys), 1)
        lo = int(bench.rng.integers(0, n_keys - width))
        hi = lo + width - 1
        if bench.tracer.enabled:
            meta, ms = bench.span("reader.read_metadata", lambda: read_metadata(path, spark))
            _c, ps = bench.span("reader.prune_chunks", lambda: prune_chunks(
                path, "l_orderkey", lo, hi, meta=meta, spark=spark))
            state.setdefault("meta_s", []).append(ms)
            state.setdefault("prune_s", []).append(ps)

        def op():
            df, chunks = read_table_skipping(spark, path, "l_orderkey", lo, hi)
            return df.toArrow(), chunks

        got = bench.op("range", op, check=lambda r: same_content(
            r[0], filter_range(shadow(), "l_orderkey", lo, hi)), frac=frac)
        if got is not None:
            bench.ops[-1].info.update(rows=got[0].num_rows, chunks=len(got[1]))

    def do_lookup():
        keys = shadow().column("l_orderkey")
        key = keys[int(bench.rng.integers(len(keys)))].as_py()
        n_files = len([f for f in data_files() if f.endswith(".parquet")])
        bench.op(
            "lookup",
            lambda: source().filter(F.col("l_orderkey") == key).toArrow(),
            check=lambda t: same_content(t, filter_range(shadow(), "l_orderkey", key, key)),
            files=n_files,
        )

    def do_scan(kind: str):
        fn = (lambda: read_table(spark, path)[0].toArrow()) if kind == "scan_reader" \
            else (lambda: source().toArrow())
        got = bench.op(kind, fn, check=lambda t: same_content(t, shadow()))
        if got is not None:
            bench.ops[-1].info.update(bytes=got.nbytes)

    def do_append():
        i = 1 + state["appends"]
        df = spark.read.parquet(batch_paths[i])
        before = data_files()
        bench.op("append", lambda: df.write.format("btrblocks").mode("append")
                 .option("path", path).save())
        after = data_files()
        state["shadow"].append(batches[i])
        state["appends"] += 1
        state["appended_bytes"] += batches[i].nbytes
        state["written_bytes"] += sum(sz for f, sz in after.items() if f not in before)
        bench.ops[-1].info.update(new_files=len([f for f in after if f not in before
                                                   and f.endswith(".parquet")]))
        if state["appends"] % LAKE_COMPACT_EVERY == 0:
            do_compact()

    def do_compact():
        before = data_files()
        bench.op("compact", lambda: maintenance.compact(spark, path),
                 check=lambda _r: same_content(
                     ds.dataset(os.path.join(path, "data"), format="parquet").to_table(),
                     shadow()))
        after = data_files()
        rewritten = sum(sz for f, sz in after.items() if before.get(f) != sz)
        state["written_bytes"] += rewritten
        bench.ops[-1].info.update(rewritten=rewritten)

    actions = {
        "range": do_range, "lookup": do_lookup, "append": do_append,
        "scan_reader": lambda: do_scan("scan_reader"),
        "scan_source": lambda: do_scan("scan_source"),
    }

    def cycle(n: int):
        ingest.block(n)
        for block in (LAKE_BLOCK_A, LAKE_BLOCK_B):
            for kind in bench.rng.permutation(block):
                actions[kind]()
            do_append()

    cycles = bench.measure(cycle, CYCLE_SECONDS["lake"])

    scans = bench.ok_ops("scan_reader", "scan_source")
    scan_s = sum(r.seconds for r in scans)
    scan_mb_s = sum(r.info["bytes"] for r in scans) / MB / scan_s if scan_s else float("nan")
    range_ms = [r.seconds * 1e3 for r in bench.ok_ops("range")]
    range_tail = tail(range_ms)
    named = {
        "setup_s": (setup_s, "s"),
        **ingest.named(),
        "lake_ops_s": (bench.ops_per_second(), "1/s"),
        "lake_range_p50_ms": (median(range_ms), "ms"),
        "lake_range_tail_ms": (range_tail[0], "ms"),
        "lake_lookup_p50_ms": (median([r.seconds * 1e3 for r in bench.ok_ops("lookup")]), "ms"),
        "lake_scan_mb_s": (scan_mb_s, "MB/s"),
        "lake_append_p50_ms": (median([r.seconds * 1e3 for r in bench.ok_ops("append")]), "ms"),
    }
    out = {
        "named": named,
        "tails": {"lake_range_tail_ms": {"percentile": range_tail[1], "samples": range_tail[2]}},
        "e2e": {
            "setup_s": setup_s,
            "ops_s": bench.ops_per_second(),
            "disk_ratio": ingest.named()["ingest_disk_ratio"][0],
        },
        "info": {
            "cycles": cycles,
            "mix": {"ingest": list(INGEST_TABLES), "block_a": LAKE_BLOCK_A,
                    "block_b": LAKE_BLOCK_B},
            "compact_every": LAKE_COMPACT_EVERY,
            "input_rows": {**{n: t.num_rows for n, t in ingest.inputs.items()},
                           "append_batch": LAKE_APPEND_ROWS},
            "input_bytes": ingest.user_bytes,
            "staged_chunks": stage_meta["num_chunks"],
            "staged_disk_ratio": disk_ratio,
        },
    }
    if bench.trace:
        out["layers"] = {**ingest.layers(), **_layers(bench, state, stage_meta)}
    return out


def _layers(bench, state, stage_meta) -> dict:
    def mean(xs):
        return float(np.mean(xs)) if xs else 0.0

    layers: dict = {}
    ranges = bench.ok_ops("range")
    lookups = bench.ok_ops("lookup")
    layers.update({
        "reader.metadata_ms": mean(state.get("meta_s", [])) * 1e3,
        "reader.prune_ms": mean(state.get("prune_s", [])) * 1e3,
        "reader.range_jobs": mean([r.span.counters["jobs"] for r in ranges]),
        "reader.range_tasks": mean([r.span.counters["tasks"] for r in ranges]),
        "reader.chunks_read_frac": mean(
            [r.info["chunks"] / stage_meta["num_chunks"] for r in ranges]),
        "reader.rows_read_per_row": mean(
            [r.span.counters["input_records"] / max(r.info["rows"], 1) for r in ranges]),
        "datasource.lookup_files_frac": mean(
            [r.span.counters["tasks"] / max(r.info["files"], 1) for r in lookups]),
        "datasource.lookup_jobs": mean([r.span.counters["jobs"] for r in lookups]),
        "datasource.lookup_py_worker_cpu_s": mean(
            [r.span.counters["py_worker_cpu_s"] for r in lookups]),
        "datasource.append_files": mean([r.info["new_files"] for r in bench.ok_ops("append")]),
    })
    for kind, prefix in (("scan_reader", "reader"), ("scan_source", "datasource")):
        scans = bench.ok_ops(kind)
        secs = sum(r.seconds for r in scans)
        layers[f"{prefix}.scan_mb_s"] = sum(r.info["bytes"] for r in scans) / MB / secs if secs else 0.0
    layers["reader.scan_exec_cpu_s"] = mean(
        [r.span.counters["exec_cpu_s"] for r in bench.ok_ops("scan_reader")])
    layers["datasource.scan_py_worker_cpu_s"] = mean(
        [r.span.counters["py_worker_cpu_s"] for r in bench.ok_ops("scan_source")])
    compacts = bench.ok_ops("compact")
    layers["maintenance.compact_s"] = mean([r.seconds for r in compacts])
    layers["maintenance.compact_bytes_rewritten"] = mean([r.info["rewritten"] for r in compacts])
    if state["appended_bytes"]:
        layers["maintenance.write_amp"] = state["written_bytes"] / state["appended_bytes"]
    return layers
