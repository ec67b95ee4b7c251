"""Measurement helpers: spans, engine counters, JVM memory, percentiles.

Spans are recorded by the benchmark around its calls into the program
(no instrumentation inside the program). They stay in memory and are
written out once, at the end of a traced run.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    costs one attribute check per span."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    #: time spent in the tracer's own bookkeeping
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        entered = time.perf_counter()
        idx = len(self.spans)
        self.spans.append(Span(name, math.nan, math.nan,
                               self._stack[-1] if self._stack else None, self.run_id))
        self._stack.append(idx)
        start = self.spans[idx].start = time.perf_counter()
        self.overhead_s += start - entered
        try:
            yield
        finally:
            end = self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - end

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                     "end": s.end, "parent": s.parent,
                                     "run_id": s.run_id}) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part of each span's
    interval covered by its direct children."""
    out: dict[str, float] = {}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    for i, s in enumerate(spans):
        covered = _union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(i, [])]
        )
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def prefix_self_times(names: list[str], cumulative: list[float]) -> dict[str, float]:
    """Self time of each stage of a fused chain from the times of its
    cumulative prefixes: stage k costs prefix k minus prefix k-1."""
    out, prev = {}, 0.0
    for name, t in zip(names, cumulative):
        out[name] = t - prev
        prev = t
    return out


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(0, math.ceil(p / 100 * len(xs)) - 1)
    return xs[k]


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest candidate percentile that has
    at least ten samples beyond it; None when even p75 has fewer."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p / 100 * n) >= 10:
            return p, percentile(values, p)
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# engine + memory
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class EngineTotals:
    """Spark's executor summary totals (all executors, incl. driver)."""

    task_ms: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    tasks: int = 0

    @staticmethod
    def read(spark) -> "EngineTotals":
        lst = spark.sparkContext._jsc.sc().statusStore().executorList(True)
        es = [lst.apply(i) for i in range(lst.size())]
        return EngineTotals(sum(e.totalDuration() for e in es),
                            sum(e.totalGCTime() for e in es),
                            sum(e.totalShuffleWrite() for e in es),
                            sum(e.totalTasks() for e in es))

    def __sub__(self, other: "EngineTotals") -> "EngineTotals":
        return EngineTotals(self.task_ms - other.task_ms, self.gc_ms - other.gc_ms,
                            self.shuffle_write - other.shuffle_write,
                            self.tasks - other.tasks)


class RssSampler:
    """Samples a process's resident set size on a background thread;
    used as a context manager, `peak_mb` is the largest sample taken
    inside it."""

    def __init__(self, pid: int, interval_s: float = 0.05) -> None:
        self.pid = pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _read_kb(self) -> int:
        with open(f"/proc/{self.pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._read_kb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self._read_kb())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
