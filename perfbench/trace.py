"""Spans, counters and Spark status readings for the traced run.

Spans are recorded only by the benchmark's own code, around its calls
into the package's public functions; nothing inside the package is
instrumented.  A span's layer is the name of the per-layer metric its
self time adds to.  Spark-side counts come from Spark's status store,
keyed by the job group the benchmark sets around each operation.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str | None
    start: float
    end: float = 0.0
    parent: int | None = None
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class Tracer:
    """In-memory span recorder.  When disabled, ``span`` only times."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        s = Span(name, layer, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if s.parent is not None:
                    self.spans[s.parent].children_s += s.dur

    @contextlib.contextmanager
    def overhead(self):
        """Time spent only because tracing is on: reading Spark's status
        store, forcing plans, counting rows."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.add("trace.overhead_s", time.perf_counter() - t)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def layer_self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.layer:
                out[s.layer] = out.get(s.layer, 0.0) + s.self_s
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": s.self_s}
            for s in self.spans
        ]


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# Spark renders an accumulated SQL metric as "total (min, med, max ...)\n<total> (...)".
_TOTAL_RE = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]+)")

# SQL metric name -> counter it adds to, and how its text is parsed.
PYTHON_METRICS = {
    "data sent to Python workers": ("operators.python_bytes_sent", _SIZE_UNITS),
    "data returned from Python workers": ("operators.python_bytes_received", _SIZE_UNITS),
    "time to run Python workers": ("operators.python_run_s", _TIME_UNITS),
}


def parse_metric_total(text: str, units: dict[str, float]) -> float:
    """The total from a rendered SQL metric value, in bytes or seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL_RE.match(line)
    if not m or m.group(2) not in units:
        return 0.0
    return float(m.group(1).replace(",", "")) * units[m.group(2)]


class SparkStats:
    """Reads job, stage and SQL-operator statistics from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def sql_mark(self) -> int:
        return self._sql.executionsList().size()

    def settle(self) -> None:
        """Wait until the status store has seen every finished event."""
        self._bus.waitUntilEmpty()

    def jobs_in(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def exec_counts(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(
            ("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_read_bytes",
             "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.executor_cpu_s",
             "exec.gc_s"), 0.0)
        tracker = self.sc.statusTracker()
        for job in self.jobs_in(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["exec.jobs"] += 1
            for stage in info.stageIds:
                attempts = self._store.stageData(stage, False, None, False, None)
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    if d.numCompleteTasks() == 0:
                        continue  # skipped: its output was reused
                    out["exec.stages"] += 1
                    out["exec.tasks"] += d.numCompleteTasks()
                    out["exec.shuffle_read_bytes"] += d.shuffleReadBytes()
                    out["exec.shuffle_write_bytes"] += d.shuffleWriteBytes()
                    out["exec.spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                    out["exec.executor_cpu_s"] += d.executorCpuTime() / 1e9
                    out["exec.gc_s"] += d.jvmGcTime() / 1e3
        return out

    def python_counts(self, since_mark: int) -> dict[str, float]:
        """Python-worker bytes and time over SQL executions after a mark."""
        out = {name: 0.0 for name, _ in PYTHON_METRICS.values()}
        execs = self._sql.executionsList()
        for i in range(since_mark, execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    spec = PYTHON_METRICS.get(m.name())
                    if spec is None:
                        continue
                    value = values.get(m.accumulatorId())
                    if value.isDefined():
                        out[spec[0]] += parse_metric_total(value.get(), spec[1])
        return out


def proc_status_mb(pid: int | str, field_name: str) -> float:
    """A memory field of /proc/<pid>/status (``VmHWM``: peak resident
    set size, ``VmRSS``: current), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field_name + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection: what the Spark
    JVM still holds, free of the collector's timing.  Collects twice,
    because the first collection lets Spark's cleaner release cached
    blocks and broadcasts that only the second one frees."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
