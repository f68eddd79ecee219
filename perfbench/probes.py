"""Measurement helpers for the benchmark: call spans, Spark stage
metrics per span, and CPU/memory of the benchmark's process tree.

Nothing here changes what esda_spark does.  A span is recorded by the
benchmark around each call it makes into an esda_spark module; the
stage metrics of the Spark jobs submitted inside a span are read from
the application status store after the pass, outside any timed region.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float  # time.time(), seconds since the epoch
    end: float = 0.0
    wall_s: float = 0.0
    parent: str | None = None
    rows: int | None = None
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    py_cpu_s: float = 0.0  # CPU of the Python workers (the Arrow/pandas side)


@dataclass
class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes :meth:`span` a
    bare timer: the wall time is still measured (the end-to-end rates
    need it) but nothing is recorded.  Enabled, a span also records the
    CPU time the Python workers below ``root`` spent inside it, and
    ``self_s`` adds up the time the recording itself takes."""

    enabled: bool
    root: int = 0
    spans: list[Span] = field(default_factory=list)
    self_s: float = 0.0
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(),
                 parent=self._stack[-1].name if self._stack else None)
        self._stack.append(s)
        if self.enabled:
            t = time.perf_counter()
            py0 = worker_cpu_s(self.root)
            self.self_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                s.py_cpu_s = worker_cpu_s(self.root) - py0
                self.spans.append(s)
                self.self_s += time.perf_counter() - t


class StageMetrics:
    """Reads finished Spark jobs from the application status store and
    charges each one to the innermost span whose interval holds the
    job's submission time.  Job ids are sequential, so each read starts
    where the previous one stopped."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next_job = 0
        self.skip_to_latest()

    def _jobs_since(self, first: int) -> list:
        self._bus.waitUntilEmpty()
        jobs, j = [], first
        while True:
            try:
                jobs.append(self._store.job(j))
            except Exception:  # py4j NoSuchElementException: no job j yet
                return jobs
            j += 1

    def skip_to_latest(self) -> None:
        self._next_job += len(self._jobs_since(self._next_job))

    def charge(self, spans: list[Span]) -> int:
        """Fill jobs/task_s/shuffle_bytes of ``spans``; returns the
        number of jobs that fell in no span (glue between calls)."""
        jobs = self._jobs_since(self._next_job)
        self._next_job += len(jobs)
        by_start = sorted(spans, key=lambda s: s.start)
        seen_stages: set[int] = set()
        orphans = 0
        for job in jobs:
            sub = job.submissionTime()
            t = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            owner = None
            for s in by_start:  # the latest-starting holder is innermost
                if s.start - 1e-3 <= t <= s.end + 1e-3:
                    owner = s
            if owner is None:
                orphans += 1
                continue
            owner.jobs += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # evicted or never run
                    continue
                owner.task_s += st.executorRunTime() / 1000.0
                owner.shuffle_bytes += int(st.shuffleWriteBytes())
        return orphans


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def tree_pids(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _cpu_ticks(pid: int) -> tuple[str, int]:
    """(command name, user+system ticks of ``pid`` and of the children
    it has reaped); ("", 0) once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            comm, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
    except (OSError, IndexError, ValueError):
        return "", 0
    return comm, sum(int(v) for v in rest.split()[11:15])


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and its live descendants,
    including the children they have already reaped."""
    return sum(_cpu_ticks(p)[1] for p in tree_pids(root)) / _TICK


def worker_cpu_s(root: int) -> float:
    """CPU seconds of the Python processes below ``root`` (PySpark's
    worker daemon and the workers it forks), not of ``root`` itself."""
    total = 0
    for p in tree_pids(root):
        comm, ticks = _cpu_ticks(p)
        if p != root and comm.startswith("python"):
            total += ticks
    return total / _TICK


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the process tree: a page shared by
    several processes (forked Python workers) counts once in total."""
    total_kb = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total_kb / 1024


class MemSampler:
    """Background thread sampling the process tree's proportional set
    size; ``peak_mb`` is the highest total seen."""

    def __init__(self, root: int, every_s: float = 0.2):
        self.peak_mb = 0.0
        self._root, self._every = root, every_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> float:
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self._root))
        return self.peak_mb

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._every)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
