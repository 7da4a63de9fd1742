"""Run context shared by the workloads: the Spark session, timed and checked
operations, the cycle loop, statistics and result hashing."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from tracing import NullTracer, Tracer

MB = 1e6


class OpRecord:
    __slots__ = ("op_id", "kind", "key", "seconds", "ok", "error", "info", "span")

    def __init__(self, op_id, kind, key, seconds, ok, error, info, span):
        self.op_id, self.kind, self.key, self.seconds = op_id, kind, key, seconds
        self.ok, self.error, self.info, self.span = ok, error, info, span


class Bench:
    """One benchmark run: a single driver thread, one Spark session."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool, cpus: int):
        self.work, self.seed = work, seed
        self.seconds, self.trace, self.cpus = seconds, trace, cpus
        self.rng = np.random.default_rng([seed, 99])
        self.spark = None
        self.tracer = NullTracer()
        self.ops: list[OpRecord] = []
        self.wrong: list[str] = []
        self.setup: dict[str, float] = {}
        self.overhead_frac = 0.0
        self._op_no = 0
        self._op = None

    # -- session -------------------------------------------------------------
    def start_session(self) -> float:
        """Start the Spark session; returns the seconds it took."""
        from btrblocks_spark.session import get_spark
        from btrblocks_spark.sources import BtrBlocksDataSource

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.cpus,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions": (
                    f"-Dderby.system.home={self.work}/derby "
                    f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
                ),
                # the traced run reads every job and stage of the run back
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.dataSource.register(BtrBlocksDataSource)
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):
            self.spark.stop()
        with contextlib.suppress(Exception):
            gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        self.spark = None

    def reset_session_state(self) -> None:
        """Empty the engine's per-session memos and Spark's cache, so the
        next operation starts cold like the first one of a fresh run."""
        for attr in [a for a in vars(self.spark) if a.startswith("_btrblocks_")]:
            delattr(self.spark, attr)
        self.spark.catalog.clearCache()

    # -- timed operations -----------------------------------------------------
    def op(self, kind: str, fn, check=None, key: str | None = None, **info):
        """Run ``fn`` as one timed operation under its own job group.
        ``key`` names ops that do the same work (default: ``kind``).

        ``check(result)`` runs untimed afterwards and returns an error string
        or None. An exception or a failed check marks the op failed; nothing
        is retried. Returns the result, or None when the op failed."""
        self._op_no += 1
        op_id = f"op{self._op_no}"
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        self._op = op_id
        span = self.tracer.open(kind, op_id=op_id, group=op_id)
        error, result = None, None
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        seconds = time.perf_counter() - t0
        self.tracer.close(span)
        self._op = None
        sc.setJobGroup(None, None)
        if error is None and check is not None:
            try:
                problem = check(result)
            except Exception:  # noqa: BLE001
                problem = "check raised: " + traceback.format_exc(limit=2)
            if problem:
                error = f"wrong result: {problem}"
                self.wrong.append(f"{kind}: {problem}")
        self.ops.append(
            OpRecord(op_id, kind, key or kind, seconds, error is None, error, info, span))
        return result if error is None else None

    @contextlib.contextmanager
    def phase(self, name: str):
        """A child span of the current op, under its own job group."""
        group = f"{self._op}-{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        span = self.tracer.open(name, op_id=self._op, parent=self._op, group=group)
        try:
            yield span
        finally:
            self.tracer.close(span)
            self.spark.sparkContext.setJobGroup(self._op, self._op)

    def span(self, name: str, fn):
        """Time a driver-side call; a traced run also records it as a span.
        Returns (result, seconds)."""
        span = self.tracer.open(name, op_id=self._op, parent=self._op)
        t0 = time.perf_counter()
        result = fn()
        seconds = time.perf_counter() - t0
        self.tracer.close(span)
        return result, seconds

    def cycle_count(self, cycle_seconds: float) -> int:
        return max(1, round(self.seconds / cycle_seconds))

    def measure(self, make_cycle, cycle_seconds: float) -> int:
        """The measured window: whole cycles of operations, as many as fit
        ``--seconds`` at the workload's nominal cycle length (at least one).
        The count depends on ``--seconds`` only, so a faster program does the
        same work, not more. A traced run (``--trace 1``) runs the window
        under the tracer. Returns the number of cycles."""
        cycles = self.cycle_count(cycle_seconds)
        if self.trace:
            self.tracer = Tracer(self.spark)
        t0 = time.perf_counter()
        for n in range(cycles):
            make_cycle(n)
        if self.trace:
            # tracing time relative to the same window without it
            wall = time.perf_counter() - t0
            self.overhead_frac = self.tracer.self_s / (wall - self.tracer.self_s)
        return cycles

    def ok_ops(self, *kinds: str) -> list[OpRecord]:
        """Successful ops, optionally of the given kinds."""
        return [r for r in self.ops if r.ok and (not kinds or r.kind in kinds)]

    # -- accounting -------------------------------------------------------------
    def ops_per_second(self) -> float:
        """Successful ops per second of op time, each op timed at the median
        of its kind in this run, so one stray slow op does not move the
        rate. Checks are untimed; failed ops are not counted."""
        ok = self.ok_ops()
        by_key: dict[str, list[float]] = {}
        for r in ok:
            by_key.setdefault(r.key, []).append(r.seconds)
        spent = sum(median(by_key[r.key]) for r in ok)
        return len(ok) / spent if spent else float("nan")

    def failures(self) -> tuple[int, int]:
        return len(self.ops), sum(not r.ok for r in self.ops)

    def error_summary(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in self.ops:
            if not r.ok:
                key = f"{r.kind}: {r.error[:160]}"
                out[key] = out.get(key, 0) + 1
        return out


# -- statistics -----------------------------------------------------------------
def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def tail(values) -> tuple[float, int, int]:
    """The highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, sample count); the percentile is 0 when
    there are too few samples for any (then the value is the maximum)."""
    n = len(values)
    if n == 0:
        return float("nan"), 0, 0
    ordered = sorted(values)
    pct = int(math.floor(100 * (1 - 10 / n))) if n > 10 else 0
    if pct <= 0:
        return ordered[-1], 0, n
    # nearest-rank percentile
    rank = max(math.ceil(pct / 100 * n), 1)
    return ordered[rank - 1], pct, n


# -- order-independent content hashing -------------------------------------------
def _normalize(col: pa.ChunkedArray) -> pa.ChunkedArray:
    t = col.type
    if pa.types.is_dictionary(t):
        return _normalize(col.cast(t.value_type))
    if pa.types.is_timestamp(t):
        return col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    if pa.types.is_date(t):
        return col.cast(pa.int32())
    if pa.types.is_large_string(t):
        return col.cast(pa.string())
    if pa.types.is_integer(t):
        return col.cast(pa.int64())
    return col


def content_hash(table: pa.Table) -> tuple[int, int]:
    """(row count, multiset hash): columns by name, rows in any order."""
    names = sorted(c for c in table.column_names if c != "_idx")
    if table.num_rows == 0:
        return 0, 0
    frame = pd.DataFrame({n: _normalize(table.column(n)).to_pandas() for n in names})
    rows = pd.util.hash_pandas_object(frame, index=False).to_numpy(dtype=np.uint64)
    return table.num_rows, int(rows.sum(dtype=np.uint64))


def same_content(got: pa.Table, want: pa.Table) -> str | None:
    gn = sorted(c for c in got.column_names if c != "_idx")
    wn = sorted(want.column_names)
    if gn != wn:
        return f"columns {gn} != {wn}"
    g, w = content_hash(got), content_hash(want)
    if g[0] != w[0]:
        return f"{g[0]} rows, want {w[0]}"
    if g != w:
        return f"content hash differs over {g[0]} rows"
    return None


def filter_range(table: pa.Table, column: str, lo, hi) -> pa.Table:
    col = table.column(column)
    return table.filter(pc.and_(pc.greater_equal(col, lo), pc.less_equal(col, hi)))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )
