"""Measurement probes: Spark per-stage counters, a process-tree RSS
sampler reading ``/proc``, and an in-memory span recorder."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# --------------------------------------------------------------------------
# Spark stage counters
# --------------------------------------------------------------------------

@dataclass
class StageTotals:
    """Counters summed over the stages one traced call ran."""

    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_records: int = 0
    last_stage_tasks: int = 0  # tasks of the highest-numbered stage
    # task durations (s) of the stage that read the most input records
    scan_task_s: list[float] = field(default_factory=list)

    def as_dict(self) -> dict:
        d = dict(self.__dict__)
        d.pop("scan_task_s")
        return d


class StageCounters:
    """Reads the application status store (works with the UI disabled).

    ``stageList(statuses, details, withSummaries, quantiles, taskStatus)``
    is called in its 5-argument form; the 1-argument overload is not
    reachable through py4j.  The store is fed asynchronously by the
    listener bus, so every read first waits for the bus to drain: a
    stage read right after its job returns may not be COMPLETE yet.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self):
        self._bus.waitUntilEmpty()
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> int:
        """Highest stage id so far; pass it to :meth:`since`."""
        return max((s.stageId() for s in self._stages()), default=-1)

    def since(self, mark: int) -> StageTotals:
        t = StageTotals()
        scan, scan_records, last = None, -1, -1
        for s in self._stages():
            if s.stageId() <= mark or s.status().toString() != "COMPLETE":
                continue
            t.stages += 1
            t.tasks += s.numCompleteTasks()
            t.executor_run_s += s.executorRunTime() / 1e3
            t.executor_cpu_s += s.executorCpuTime() / 1e9
            t.jvm_gc_s += s.jvmGcTime() / 1e3
            t.shuffle_write_mb += s.shuffleWriteBytes() / 1e6
            t.spill_mb += s.diskBytesSpilled() / 1e6
            t.input_records += s.inputRecords()
            if s.stageId() > last:
                last, t.last_stage_tasks = s.stageId(), s.numCompleteTasks()
            if s.inputRecords() > scan_records:
                scan, scan_records = s, s.inputRecords()
        if scan is not None:
            tasks = self._store.taskList(scan.stageId(), scan.attemptId(), 1 << 20)
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    t.scan_task_s.append(d.get() / 1e3)
        return t


def task_skew(durations: list[float]) -> float:
    """max / median task time (1.0 = perfectly even)."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0


# --------------------------------------------------------------------------
# Process-tree RSS
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, in MB."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total / 1e6


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak_mb`` is the
    highest sample between :meth:`start` and :meth:`stop`."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak_mb


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    workload: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; :meth:`write` dumps them as JSON."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[Span] = []
        self._t0 = time.perf_counter()
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter() - self._t0
        span = Span(name, start, start, parent, self.workload, dict(attrs))
        try:
            yield span
        finally:
            span.end = time.perf_counter() - self._t0
            self._stack.pop()
            self.spans.append(span)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f, indent=1)
