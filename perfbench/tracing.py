"""Spans around each call into the package, Spark counters per span, and a
peak-RSS sampler.

Spans are always timed (``time.perf_counter``); that is how the closed loop
gets its batch times. With ``counters=True`` each span also brackets the
Spark job, stage and SQL-execution ids it caused and reads their metrics from
the status stores after the span ends — both stores work with
``spark.ui.enabled=false``. Reading them waits for the listener bus, which
is the tracing overhead the traced run reports.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}

#: SQL metric display names -> counter keys (Python-worker metrics of the
#: MapInPandas/ArrowEvalPython nodes)
_SQL_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "arrow_to_python_b",
    "data returned from Python workers": "arrow_from_python_b",
}


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'3,000'``, ``'18.4 KiB'``,
    ``'total (min, med, max ...)\\n10.3 s (...)'`` -> 3000, 18841.6, 10.3."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _parse_metric_map(text: str) -> dict[int, str]:
    """``Map(12 -> v, 13 -> w)`` (a Scala map's toString) -> {12: v, 13: w}."""
    body = text[text.find("(") + 1: text.rfind(")")]
    parts = re.split(r"(?:^|, )(-?\d+) -> ", body)
    return {int(parts[i]): parts[i + 1] for i in range(1, len(parts) - 1, 2)}


def _parse_plan_metrics(text: str) -> list[tuple[str, int]]:
    """``List(SQLPlanMetric(name,id,type), ...)`` -> [(name, id)]."""
    return [(n, int(i)) for n, i in re.findall(r"SQLPlanMetric\(([^,()]+),(\d+),", text)]


class SparkCounters:
    """Job/stage/SQL-execution id brackets and the status-store reads."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        self._bus.waitUntilEmpty()
        return self._dag.nextJobId(), self._dag.nextStageId(), self._sql.executionsCount()

    def read(self, a: tuple[int, int, int], b: tuple[int, int, int],
             t0_ms: float, t1_ms: float) -> dict[str, float]:
        c: dict[str, float] = defaultdict(float)
        c["jobs"] = b[0] - a[0]
        busy = []
        for sid in range(a[1], b[1]):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped (reused shuffle) stages did no work
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["input_bytes"] += st.inputBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sub, done = st.submissionTime(), st.completionTime()
            if not sub.isEmpty() and not done.isEmpty():
                busy.append((sub.get().getTime(), done.get().getTime()))
        c["driver_idle_s"] = max(0.0, (t1_ms - t0_ms) - _covered(busy, t0_ms, t1_ms)) / 1e3
        # a write nests its query's plan, so one node's metric can be listed
        # by two executions: key by accumulator id to count it once
        seen: dict[int, tuple[str, float]] = {}
        for eid in range(a[2], b[2]):
            ex = self._sql.execution(eid)
            if ex.isEmpty():
                continue
            values = _parse_metric_map(self._sql.executionMetrics(eid).toString())
            for name, acc in _parse_plan_metrics(ex.get().metrics().toString()):
                key = _SQL_METRICS.get(name)
                if key and acc in values:
                    seen[acc] = (key, parse_sql_metric(values[acc]))
            for acc in self._join_row_metrics(eid):
                if acc in values:
                    seen[acc] = ("join_rows", parse_sql_metric(values[acc]))
        for key, value in seen.values():
            c[key] += value
        return dict(c)


    def _join_row_metrics(self, eid: int) -> list[int]:
        """Accumulator ids of the "number of output rows" metric of every
        join node in the execution's (final, after AQE) plan graph: each
        row a join emits is one pair the operator scores next."""
        out = []
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if "Join" not in node.name():
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == "number of output rows":
                    out.append(m.accumulatorId())
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    batch: int | None = None
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    #: seconds spent reading counters for this span (the tracing overhead)
    overhead: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. ``span()`` nests: a span opened inside another
    records it as its parent. Counters are read only when ``counters`` is
    on, so untraced batches pay for two ``perf_counter`` calls."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._spark: SparkCounters | None = None
        self.counters = False
        self.batch: int | None = None

    def attach(self, spark) -> None:
        self._spark = SparkCounters(spark)

    def span(self, name: str, counters: bool = True):
        return _SpanCtx(self, name, counters)

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_seconds(self, idx: int) -> float:
        """A span's duration minus the part its children cover."""
        s = self.spans[idx]
        kids = [(k.start, k.end) for k in self.children(idx)]
        return s.seconds - _covered(kids, s.start, s.end)

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds."""
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            row = out.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            row["n"] += 1
            row["total_s"] += s.seconds
            row["self_s"] += self.self_seconds(i)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, counters: bool):
        self.t, self.name, self.want = tracer, name, counters

    def __enter__(self) -> Span:
        t = self.t
        self.read = self.want and t.counters and t._spark is not None
        t0 = time.perf_counter()
        self.mark = t._spark.mark() if self.read else None
        self.pre = time.perf_counter() - t0
        self.wall0 = time.time() * 1e3
        parent = t._stack[-1] if t._stack else None
        self.span = Span(self.name, parent, time.perf_counter(), t.batch)
        t.spans.append(self.span)
        t._stack.append(len(t.spans) - 1)
        return self.span

    def __exit__(self, *exc) -> None:
        t = self.t
        self.span.end = time.perf_counter()
        wall1 = time.time() * 1e3
        t._stack.pop()
        if self.read and exc[0] is None:
            self.span.counters = t._spark.read(self.mark, t._spark.mark(), self.wall0, wall1)
            self.span.overhead = self.pre + time.perf_counter() - self.span.end


def _descendants(root: int) -> list[int]:
    parents: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(parents.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    Spark JVM, the Python worker daemon and its workers) every ``period``
    seconds; ``peak_mb`` is the largest sum seen. Inactive, it samples only
    when ``sample()`` is called: the sampling thread walks ``/proc`` and
    takes the GIL from the driver, so untimed runs leave it off."""

    def __init__(self, period: float = 0.25, active: bool = True):
        self.period = period
        self.active = active
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        if self.active:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.active:
            self._thread.join(timeout=5)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in _descendants(os.getpid())))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
