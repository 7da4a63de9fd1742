"""Traced-run tooling: spans, Spark AppStatusStore counters per job group,
CPU time of the JVM's Python workers, and call-site attribution.

Everything is measured from outside the engine. Each benchmark operation
runs under its own Spark job group; when a span closes, the tracer waits
for the listener bus to drain and reads the jobs of that group and their
stages from the AppStatusStore (the store the Spark UI reads, which is
populated with the UI disabled). Spans stay in memory and are written out
once, at the end of the run.

:class:`NullTracer` has the same interface and does nothing, so untraced
runs pay for none of this.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import Counter

from py4j.protocol import Py4JJavaError

# counters summed over the stages of a span's jobs
STAGE_FIELDS = (
    ("exec_run_s", "executorRunTime", 1e-3),
    ("exec_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_bytes", "shuffleWriteBytes", 1),
    ("input_records", "inputRecords", 1),
    ("tasks", "numCompleteTasks", 1),
)
COUNTER_KEYS = ("jobs", "stages", "job_busy_s", "py_worker_cpu_s") + tuple(
    f for f, _m, _s in STAGE_FIELDS
)
# where a job's PySpark call site points: an engine module, other engine
# code, the benchmark's own action call ("client"), or no Python frame at
# all ("internal": JVM-side call sites such as a parquet schema read)
CALLSITE_MODULES = (
    "writer", "chunker", "reader", "btr_datasource", "maintenance",
    "queries", "pipeline", "engine", "client", "internal",
)
_ENGINE_SITE = re.compile(r"btrblocks_spark/([\w/]+\.py):\d+")


def callsite_file(call_site: str) -> str | None:
    """The engine file a job's call site names (``format/writer.py``)."""
    m = _ENGINE_SITE.search(call_site or "")
    return m.group(1) if m else None


def callsite_module(call_site: str) -> str:
    """Map a job's PySpark call site (``collect at .../format/writer.py:500``)
    to the engine module that issued it."""
    path = callsite_file(call_site)
    if path is None:
        return "client" if "perfbench/" in (call_site or "") else "internal"
    module = os.path.basename(path)[:-3]
    if module in CALLSITE_MODULES:
        return module
    package = path.split("/", 1)[0]
    return package if package in ("queries", "pipeline") else "engine"


def _clock_ticks() -> float:
    try:
        return float(os.sysconf("SC_CLK_TCK"))
    except (ValueError, OSError):
        return 100.0


class Span:
    __slots__ = ("name", "op_id", "parent", "group", "start", "end", "attrs", "counters")

    def __init__(self, name, op_id, parent, group):
        self.name, self.op_id, self.parent, self.group = name, op_id, parent, group
        self.start = time.time()
        self.end = None
        self.attrs: dict = {}
        self.counters: dict = {}

    @property
    def seconds(self) -> float:
        return (self.end or time.time()) - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name, "op_id": self.op_id, "parent": self.parent,
            "start": self.start, "end": self.end, "attrs": self.attrs,
            "counters": self.counters,
        }


class NullTracer:
    enabled = False

    def open(self, name, op_id=None, parent=None, group=None):
        return None

    def close(self, span):
        return None


class Tracer:
    """Collects spans and per-job-group Spark counters for one run."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.jvm_pid = self.sc._gateway.proc.pid
        self.tick = _clock_ticks()
        self.spans: list[Span] = []
        self.callsites: Counter = Counter()
        self.by_file: Counter = Counter()
        # seconds spent inside open() and close(): the tracing overhead
        self.self_s = 0.0

    # -- Python worker CPU ------------------------------------------------
    def _py_worker_cpu(self) -> float:
        """CPU seconds (user+sys, own and reaped children) of every process
        descending from the JVM: the PySpark daemon and its forked workers."""
        parent, cpu = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            parent[int(pid)] = int(fields[1])
            cpu[int(pid)] = sum(int(x) for x in fields[11:15]) / self.tick
        total, frontier = 0.0, [self.jvm_pid]
        while frontier:
            kids = [p for p, pp in parent.items() if pp in frontier]
            total += sum(cpu[p] for p in kids)
            frontier = kids
        return total

    # -- spans --------------------------------------------------------------
    def open(self, name, op_id=None, parent=None, group=None):
        t0 = time.perf_counter()
        span = Span(name, op_id, parent, group)
        span.attrs["py_cpu0"] = self._py_worker_cpu()
        self.spans.append(span)
        span.start = time.time()
        self.self_s += time.perf_counter() - t0
        return span

    def close(self, span):
        span.end = time.time()
        t0 = time.perf_counter()
        py_cpu = self._py_worker_cpu() - span.attrs.pop("py_cpu0")
        counters = dict.fromkeys(COUNTER_KEYS, 0.0)
        counters["py_worker_cpu_s"] = max(py_cpu, 0.0)
        if span.group is not None:
            self._job_counters(span, counters)
        span.counters = counters
        self.self_s += time.perf_counter() - t0
        return span

    def _job_counters(self, span: Span, out: dict) -> None:
        self.bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        intervals = []
        for job_id in tracker.getJobIdsForGroup(span.group):
            try:
                job = self.store.job(job_id)
            except Py4JJavaError:  # evicted from the store
                continue
            out["jobs"] += 1
            module = callsite_module(job.name())
            self.callsites[module] += 1
            self.by_file[callsite_file(job.name()) or module] += 1
            span.attrs.setdefault("callsites", Counter())[module] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    stage = self.store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                out["stages"] += 1
                for field, method, scale in STAGE_FIELDS:
                    out[field] += getattr(stage, method)() * scale
        out["job_busy_s"] = _union_seconds(intervals, span.start, span.end)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.as_dict() for s in self.spans],
                    "callsites": dict(self.callsites),
                    "jobs_by_engine_file": dict(self.by_file),
                },
                fh,
                default=lambda o: dict(o) if isinstance(o, Counter) else str(o),
            )


def _union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
