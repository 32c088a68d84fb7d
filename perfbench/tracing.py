"""Tracing for the traced run: spans around calls into engine modules,
per-request Spark execution figures from the status stores, and a
process-tree RSS sampler.

Spans are recorded from the benchmark's own code only: public engine
functions are wrapped (``Tracer.wrap``) by replacing the module
attribute the caller looks up, so no file under ``clickhub_spark/``
changes.  A span's self time is its duration minus the time its child
spans cover.  Wrappers cost one flag test when tracing is off.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  Spans of one request share ``request``.

    One span stack serves all threads: the benchmark is a closed loop,
    so while the HTTP handler thread works the client thread is blocked
    inside its ``server.request`` span, and the handler's spans are
    that span's children."""

    def __init__(self) -> None:
        self.enabled = False
        self.request: int | None = None
        self.spans: list[tuple[int | None, str, float, float, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[list[float]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack
        frame = [0.0]  # child time accumulated by nested spans
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1][0] += dur
            self.spans.append((self.request, name, t0, dur, dur - frame[0]))

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module or class attribute) with a
        spanning wrapper."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def self_times(self, requests: set[int]) -> dict[str, float]:
        """Total self time per span name over the given requests."""
        out: dict[str, float] = defaultdict(float)
        for req, name, _, _, self_s in self.spans:
            if req in requests:
                out[name] += self_s
        return dict(out)

    def durations(self, name: str, requests: set[int]) -> list[float]:
        return [d for req, n, _, d, _ in self.spans if n == name and req in requests]


# -- Spark status stores ---------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_NUM = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)?")
#: physical operators that cross the JVM/Python boundary
_PYTHON_NODES = re.compile(r"Python|Pandas|Arrow(?!.*ToRow)")


def parse_metric(text: str | None) -> float:
    """Parse a SQL metric display value (``'1,234'``, ``'12.5 MiB'``,
    ``'total (min, med, max ...)\\n3.1 s (...)'``) into a number in base
    units (bytes, seconds, rows)."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkProbe:
    """Reads per-request execution figures from Spark's status stores.

    Jobs and SQL executions are attributed to a request by id range (the
    benchmark is a closed loop with one client, so everything between
    two marks belongs to the request in between).  Jobs started from the
    main thread also carry the request's job group."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        """(highest job id, SQL execution count) so far.  The store
        lists jobs newest first."""
        jobs = self.store.jobsList(None)
        top = jobs.apply(0).jobId() if jobs.size() else -1
        return top, self.sql_store.executionsCount()

    def _jobs(self, start: int, end: int) -> list:
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= start:
                break
            if j.jobId() <= end:
                out.append(j)
        return out

    def collect(self, start: tuple[int, int], end: tuple[int, int]) -> dict[str, float]:
        """Execution figures for the jobs and SQL executions between two
        ``mark()``s."""
        jobs = self._jobs(start[0], end[0])
        job_iv, stage_iv = [], []
        out: dict[str, float] = defaultdict(float)
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                job_iv.append((sub.get().getTime(), done.get().getTime()))
            ids = j.stageIds()
            for k in range(ids.size()):
                for s in self._stage(ids.apply(k)):
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numTasks()
                    out["executor_run_s"] += s.executorRunTime() / 1e3
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["gc_s"] += s.jvmGcTime() / 1e3
                    out["stage_input_bytes"] += s.inputBytes()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    sub_s, done_s = s.submissionTime(), s.completionTime()
                    if sub_s.isDefined() and done_s.isDefined():
                        stage_iv.append((sub_s.get().getTime(), done_s.get().getTime()))
        out["jobs"] = len(jobs)
        wall = _union(job_iv)
        out["wall_s"] = wall / 1e3
        out["scheduler_wait_s"] = max(0.0, wall - _union(stage_iv, within=job_iv)) / 1e3
        out.update(self._sql(start[1], end[1]))
        return dict(out)

    def _stage(self, stage_id: int) -> list:
        try:
            seq = self.store.stageData(stage_id, False, None, False, self.no_quantiles)
        except Exception:  # evicted from the store
            return []
        return [seq.apply(i) for i in range(seq.size())]

    def _sql(self, start: int, end: int) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        if end <= start:
            return out
        execs = self.sql_store.executionsList(start, end - start)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    label = metric.name()
                    if name.startswith("Scan"):
                        if label == "size of files read":
                            out["scan_bytes"] += parse_metric(v.get())
                        elif label == "number of output rows":
                            out["scan_rows"] += parse_metric(v.get())
                    elif _PYTHON_NODES.search(name):
                        if label == "number of output rows":
                            out["python_rows"] += parse_metric(v.get())
                        elif label.startswith("data sent to Python") or label.startswith(
                            "data returned from Python"
                        ):
                            out["python_bytes"] += parse_metric(v.get())
        return out


def _union(intervals: list[tuple[int, int]], within: list[tuple[int, int]] | None = None) -> float:
    """Total length covered by ``intervals`` (clipped to the union of
    ``within`` when given)."""
    if within is not None:
        clipped = []
        for a, b in intervals:
            for c, d in within:
                lo, hi = max(a, c), min(b, d)
                if hi > lo:
                    clipped.append((lo, hi))
        intervals = clipped
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# -- memory ----------------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` and all its descendants (driver, JVM, Python
    workers), from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(entry)
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds while
    running; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
