"""The ingest block that opens every ``lake`` cycle: ``write_table`` of
lineitem, orders, events and the scheme-shapes table, in a seeded order.

The writer, chunker, planner and codecs do nearly all of this block's work.
Each written table is read back with pyarrow (untimed) and compared with
its input by row count and an order-independent content hash.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import datagen
from harness import MB, content_hash, dir_bytes
from spec import INGEST_TABLES

SAMPLE_ROWS = 65536


class Ingest:
    """The ingest tables of one run and the record of their writes."""

    def __init__(self, bench, tpch: dict[str, pa.Table], sf: float):
        self.bench = bench
        self.inputs = {
            "lineitem": tpch["lineitem"],
            "orders": tpch["orders"],
            "events": datagen.events_table(bench.seed, sf),
            "shapes": datagen.shapes_table(bench.seed, tpch["lineitem"].num_rows),
        }
        self.raw_dir = os.path.join(bench.work, "ingest-raw")
        os.makedirs(self.raw_dir)
        for name, table in self.inputs.items():
            pq.write_table(table, os.path.join(self.raw_dir, f"{name}.parquet"))
        self.user_bytes = {n: t.nbytes for n, t in self.inputs.items()}
        self.want = {n: content_hash(t) for n, t in self.inputs.items()}
        self.frames: dict = {}
        self.written: list = []  # (table, meta, disk bytes, data bytes, stats bytes)

    def block(self, n: int) -> None:
        """Write every ingest table once, in a seeded order."""
        from btrblocks_spark.format.writer import write_table

        bench = self.bench
        if not self.frames:
            self.frames = {
                t: bench.spark.read.parquet(os.path.join(self.raw_dir, f"{t}.parquet"))
                for t in self.inputs
            }
        for table in bench.rng.permutation(list(INGEST_TABLES)):
            dest = os.path.join(bench.work, "ingest-out", f"{table}-{n}")
            meta = bench.op(
                "write",
                lambda: write_table(self.frames[table], dest, INGEST_TABLES[table],
                                    table_name=table),
                check=lambda _m: self._check(table, dest),
                key=f"write:{table}",
                table=table,
            )
            if meta is not None:
                self.written.append((
                    table, meta, dir_bytes(dest), dir_bytes(os.path.join(dest, "data")),
                    dir_bytes(os.path.join(dest, "_btr_chunk_stats")),
                ))
            shutil.rmtree(dest, ignore_errors=True)

    def _check(self, table: str, path: str) -> str | None:
        got = content_hash(
            ds.dataset(os.path.join(path, "data"), format="parquet").to_table())
        if got != self.want[table]:
            return (f"{table}: read back {got[0]} rows / hash {got[1]}, "
                    f"wrote {self.want[table][0]} rows")
        return None

    def named(self) -> dict:
        """ingest_mb_s (user MB per second of write_table calls) and
        ingest_disk_ratio (user bytes / every byte the writes left)."""
        ok = self.bench.ok_ops("write")
        seconds = sum(r.seconds for r in ok)
        mb = sum(self.user_bytes[r.info["table"]] for r in ok) / MB
        disk = sum(w[2] for w in self.written)
        return {
            "ingest_mb_s": (mb / seconds if seconds else float("nan"), "MB/s"),
            "ingest_disk_ratio": (
                sum(self.user_bytes[w[0]] for w in self.written) / disk if disk
                else float("nan"), "x"),
        }

    def layers(self) -> dict:
        """writer.* means over the successful write_table ops, the written
        tables' ratios, and the planner/codecs replay."""
        recs = self.bench.ok_ops("write")
        if not recs:
            return _replay_planner(self.bench, self.inputs, self.frames)
        layers = {"writer.call_s": float(np.mean([r.seconds for r in recs]))}
        layers["writer.driver_s"] = float(np.mean(
            [max(r.seconds - r.span.counters["job_busy_s"], 0.0) for r in recs]))
        for field in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                      "py_worker_cpu_s", "shuffle_bytes"):
            layers[f"writer.{field}"] = float(np.mean([r.span.counters[field] for r in recs]))
        firsts = {w[0]: w for w in reversed(self.written)}  # each table's first write
        for table, (_t, meta, disk, _d, _s) in firsts.items():
            layers[f"writer.s.{table}"] = float(np.mean(
                [r.seconds for r in recs if r.info["table"] == table]))
            layers[f"writer.disk_ratio.{table}"] = self.user_bytes[table] / disk
            layers[f"writer.est_ratio.{table}"] = meta["totals"]["est_compression_ratio"]
        layers["writer.data_bytes"] = float(sum(w[3] for w in firsts.values()))
        layers["writer.stats_bytes"] = float(sum(w[4] for w in firsts.values()))
        layers.update(_replay_planner(self.bench, self.inputs, self.frames))
        return layers


def _replay_planner(bench, inputs, frames) -> dict:
    """Driver-side replay of planner.choose_scheme and codecs.encode on one
    sample chunk per column of every ingest table (traced runs only)."""
    from btrblocks_spark.format import codecs, planner

    choose_s = encode_s = 0.0
    calls = raw = 0
    for name, table in inputs.items():
        types = dict(frames[name].dtypes)
        sample = table.slice(0, SAMPLE_ROWS).to_pandas()
        for col in table.column_names:
            spark_type = types[col]
            kind = planner.kind_of(spark_type)
            if kind == "skip":
                continue
            series = sample[col]
            mask = ~series.isna().to_numpy()
            if kind == "int":
                if np.issubdtype(series.dtype, np.datetime64):
                    values = series.to_numpy(dtype="datetime64[ns]").astype(np.int64)
                else:
                    values = series.fillna(0).to_numpy(dtype=np.int64)
                values = np.where(mask, values, 0)
            elif kind == "double":
                values = np.where(mask, series.to_numpy(dtype=np.float64), 0.0)
            else:
                values = series.to_numpy(dtype=object)
            plan, s1 = bench.span(
                f"planner.choose_scheme:{name}.{col}",
                lambda: planner.choose_scheme(spark_type, values, mask),
            )
            _enc, s2 = bench.span(
                f"codecs.encode:{name}.{col}",
                lambda: codecs.encode(kind, plan["scheme"], values, mask),
            )
            choose_s += s1
            encode_s += s2
            calls += 1
            raw += plan["raw_size"]
    return {
        "planner.choose_ms": choose_s / calls * 1e3 if calls else 0.0,
        "codecs.encode_mb_s": raw / MB / encode_s if encode_s else 0.0,
    }
