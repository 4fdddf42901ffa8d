"""Outside-in tracing: spans recorded around calls into the program's public
functions, with counters read from outside the program (Spark's status
tracker, /proc). Nothing is added inside the program.

Spans live in memory and are written once, at exit."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss pages) of one process,
    or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    rest = s[s.rfind(")") + 2:].split()
    # fields 4.. of proc(5): ppid=4, utime..cstime=14..17, rss=24
    return int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21])


def descendants(root: int) -> list[int]:
    """Live descendant pids of `root` (not including it)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(pids) -> float:
    """CPU seconds used so far by `pids`, each counting its reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += st[1]
    return total / _TICK


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every `interval` seconds on a
    background thread between start() and stop()."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            pages = 0
            for pid in [me, *descendants(me)]:
                st = _stat(pid)
                if st is not None:
                    pages += st[2]
            self.peak_bytes = max(self.peak_bytes, pages * _PAGE)
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_bytes / (1 << 20)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    iteration: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    driver_cpu_s: float = 0.0
    jvm_cpu_s: float = 0.0
    worker_cpu_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a no-op context otherwise, so the plain
    run pays nothing but one attribute check per call.

    Each span runs its calls under its own Spark job group, so the jobs,
    stages and tasks it launched are read back from the status tracker.
    A span's counts include its child spans'."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._jvm_pid = self._sc._gateway.proc.pid

    def _cpu(self):
        workers = descendants(self._jvm_pid)
        return time.process_time(), tree_cpu_s([self._jvm_pid]), tree_cpu_s(workers)

    def _count(self, group: str):
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return len(jobs), stages, tasks

    @contextmanager
    def span(self, name: str, iteration: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent=parent, iteration=iteration, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        group = f"perfbench-{idx}"
        self._sc.setJobGroup(group, name)
        cpu0 = self._cpu()
        self.overhead_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t = time.perf_counter()
            cpu1 = self._cpu()
            sp.driver_cpu_s, sp.jvm_cpu_s, sp.worker_cpu_s = (b - a for a, b in zip(cpu0, cpu1))
            jobs, stages, tasks = self._count(group)
            for child in self.spans[idx + 1:]:
                if child.parent == idx:
                    jobs, stages, tasks = jobs + child.jobs, stages + child.stages, tasks + child.tasks
            sp.jobs, sp.stages, sp.tasks = jobs, stages, tasks
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(f"perfbench-{self._stack[-1]}", self.spans[self._stack[-1]].name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{**asdict(s), "wall_s": s.wall_s} for s in self.spans], f)
