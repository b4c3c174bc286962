"""Measuring instruments of the benchmark, all outside the program.

- ``ProcTree``: CPU seconds and resident memory of this process and
  every descendant (the Spark JVM and its Python workers), read from
  ``/proc`` and tagged by process kind.
- ``StatusCounters``: job, stage, task, I/O and shuffle counters read
  from Spark's own status store, which works with the UI off.
- ``Tracer``: in-memory spans (name, layer, start, end, parent, run id)
  around the benchmark's calls into the program's modules.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def median(values) -> float:
    """Median of ``values``; 0.0 when there are none."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def uptime_s() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def _stat(pid: int) -> tuple[int, int, int]:
    """(ppid, starttime ticks, cumulative CPU ticks incl. reaped children)."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): utime=14, stime=15, cutime=16,
    # cstime=17, starttime=22 in proc(5) numbering
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
    return int(fields[1]), int(fields[19]), ticks


def process_age_s() -> float:
    """Seconds since this process was started."""
    _, start, _ = _stat(os.getpid())
    return uptime_s() - start / _HZ


def _exe(pid: int) -> str:
    """The program a process runs. A fork runs its parent's until it
    execs; its command name is no guide, because it is the name of the
    forking thread (for the JVM, for example "Executor task l")."""
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _kind(pid: int, exe: str, root: int) -> str:
    if pid == root:
        return "driver_py"
    name = os.path.basename(exe)
    if name == "java":
        return "jvm"
    if name.startswith("python"):
        return "pyworker"
    return "other"


class ProcTree:
    """Snapshots of the process tree rooted at this process. A dead
    child's CPU moves into its parent's reaped-children ticks, so the
    sum over live processes never loses or double-counts it."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._sampler: threading.Thread | None = None

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        raw = f.read()
                except OSError:
                    continue
                children[int(raw[raw.rindex(")") + 2 :].split()[1])].append(int(entry))
        out, stack = [], [self.root]
        while stack:
            pid = stack.pop()
            out.append(pid)
            stack.extend(children.get(pid, ()))
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by process kind."""
        by_kind: dict[str, float] = defaultdict(float)
        for pid in self._tree():
            try:
                _, _, ticks = _stat(pid)
            except (OSError, ValueError, IndexError):
                continue
            by_kind[_kind(pid, _exe(pid), self.root)] += ticks / _HZ
        return dict(by_kind)

    def rss_mb(self) -> float:
        """Resident MB of the tree. The JVM that runs Spark counts its
        RSS: reading its proportional set size (PSS) instead walks its
        page tables with its memory map locked (about 25 ms for a 1 GB
        heap), which ten times a second took a quarter of a core and
        stalled the JVM. A fork of the JVM that has not exec'd yet (the
        JVM forks to start programs such as ``chmod``) shares the JVM's
        pages and is skipped. Every other process counts its PSS, each
        shared page split among the processes that map it: Python
        workers are forks of Spark's worker daemon, and plain RSS would
        count their shared pages once per fork."""
        procs = {}
        for pid in self._tree():
            try:
                procs[pid] = (_stat(pid)[0], _exe(pid))
            except (OSError, ValueError, IndexError):
                continue
        kb = 0
        for pid, (ppid, exe) in procs.items():
            try:
                if os.path.basename(exe) == "java":
                    if procs.get(ppid, (0, ""))[1] != exe:
                        with open(f"/proc/{pid}/statm") as f:
                            kb += int(f.read().split()[1]) * _PAGE_KB
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            kb += int(line.split()[1])
                            break
            except (OSError, ValueError, IndexError):
                continue
        return kb / 1024

    def start_sampling(self, period_s: float = 0.1) -> None:
        def loop() -> None:
            while not self._stop.wait(period_s):
                self.peak_rss_mb = max(self.peak_rss_mb, self.rss_mb())

        self.peak_rss_mb = self.rss_mb()
        self._sampler = threading.Thread(target=loop, name="rss-sampler", daemon=True)
        self._sampler.start()

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join(timeout=5)


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after.get(k, 0.0) - before.get(k, 0.0) for k in set(before) | set(after)}


COUNTER_KEYS = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "tasks_failed",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


class StatusCounters:
    """Counters of the jobs and stages that finished since the last
    ``take()``. Call ``take()`` after every operation: the status store
    keeps only the newest 1000 jobs and stages."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._last_job = -1
        self._last_stage = -1
        self.take()

    def take(self) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty(30_000)
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        jobs = self._store.jobsList(None)
        last_job = self._last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid > self._last_job:
                last_job = max(last_job, jid)
                out["jobs"] += 1
                out["stages_skipped"] += j.numSkippedStages()
                out["tasks_failed"] += j.numFailedTasks()
        self._last_job = last_job
        stages = self._store.stageList(None, False, False, self._quantiles, None)
        last_stage = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                continue
            last_stage = max(last_stage, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["input_mb"] += s.inputBytes() / 2**20
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
        self._last_stage = last_stage
        return out

    def cache_state(self) -> tuple[int, float]:
        """(RDDs still persisted, their stored MB in memory and on disk)."""
        n = self._sc.getPersistentRDDs().size()
        rdds = self._store.rddList(True)
        mb = sum(
            (rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()) / 2**20
            for i in range(rdds.size())
        )
        return n, mb


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run: str


@dataclass
class Tracer:
    """Spans kept in memory; written once when the benchmark ends. A
    disabled tracer records nothing."""

    enabled: bool
    run: str = ""
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.run))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, first: int = 0) -> dict[str, float]:
        """Seconds per span name, summed over the spans recorded from
        index ``first`` on."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans[first:]:
            out[s.name] += s.end - s.start
        return dict(out)

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part its children cover,
        summed per layer. Children run inside their parent and never
        overlap each other, because one thread records them."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.layer] += (s.end - s.start) - child_s[i]
        return dict(out)
