"""Measurement probes: spans, Spark status-store counters, and /proc.

Nothing here changes what the engine does. Spans are recorded by the
benchmark around its own calls into each layer; counters are read from the
driver's ``AppStatusStore`` (populated even with ``spark.ui.enabled=false``)
and from ``/proc`` for the driver JVM and the Python-worker process tree.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


# ---- spans ----------------------------------------------------------------


@dataclass
class Span:
    """One layer call; ``start``/``end`` are epoch seconds, comparable with
    the job and task timestamps of the status store."""

    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job: int = 0
    counters: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store. ``enabled=False`` records nothing, so the
    untraced run pays only the ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(),
                 parent=self._stack[-1] if self._stack else None, job=self.job)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def self_time(self, idx: int) -> float:
        """Span duration minus the union of its direct children."""
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.spans if c.parent == idx]
        return (s.end - s.start) - union_length(kids)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---- Spark status-store counters ------------------------------------------


class SparkCounters:
    """Per-call Spark counters, scoped by a unique job group per call.

    A job group per call (not a scan of the whole store) keeps the reads
    independent of the store's stage retention: only the call's own jobs
    and their stages are looked up, right after the call returns."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setJobGroup(outer or "perfbench-idle", label)

    def read(self, gid: str, task_intervals: bool = False) -> dict:
        """Sum stage metrics over every job of group ``gid``.

        Times are seconds; ``job_intervals``/``task_intervals`` are epoch
        seconds, for the idle/driver-time computations."""
        self.bus.waitUntilEmpty(10_000)
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "jvm_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_write_records": 0, "spill_bytes": 0, "input_bytes": 0,
            "input_records": 0, "job_intervals": [], "task_intervals": [],
        }
        seen: set[tuple[int, int]] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["job_intervals"].append(
                    (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                )
            sids = job.stageIds()
            for k in range(sids.size()):
                datas = self.store.stageData(sids.apply(k), False, None, False, None)
                for i in range(datas.size()):
                    sd = datas.apply(i)
                    key = (sd.stageId(), sd.attemptId())
                    if key in seen or sd.status().toString() != "COMPLETE":
                        continue
                    seen.add(key)
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["task_run_s"] += sd.executorRunTime() / 1e3
                    out["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["shuffle_write_records"] += sd.shuffleWriteRecords()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out["input_bytes"] += sd.inputBytes()
                    out["input_records"] += sd.inputRecords()
                    if task_intervals:
                        tasks = self.store.taskList(key[0], key[1], 100_000)
                        for t in range(tasks.size()):
                            td = tasks.apply(t)
                            dur = td.duration()
                            if dur.isDefined():
                                a = td.launchTime().getTime() / 1e3
                                out["task_intervals"].append((a, a + dur.get() / 1e3))
        return out

    def storage_bytes(self) -> int:
        """Memory plus disk held by persisted and checkpointed RDDs."""
        return sum(
            info.memSize() + info.diskSize()
            for info in self.sc._jsc.sc().getRDDStorageInfo()
        )


# ---- /proc: driver JVM and Python-worker tree -----------------------------


def _stat(pid: int):
    """(ppid, utime+stime+cutime+cstime ticks, rss pages) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after the comm: state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14) ... rss(21)
    return int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21])


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from ``/proc/stat``;
    steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class ProcTree:
    """The driver JVM (a descendant of this process) and the
    ``pyspark.daemon`` tree beneath it."""

    def __init__(self):
        self.root = os.getpid()

    def _stats(self) -> tuple[dict, dict]:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        return stats, kids

    def descendants(self) -> list[int]:
        _, kids = self._stats()
        out, todo = [], list(kids.get(self.root, ()))
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def snapshot(self) -> dict:
        stats, kids = self._stats()
        jvm_rss = py_rss = py_ticks = 0
        todo = list(kids.get(self.root, ()))
        while todo:
            pid = todo.pop()
            cmd = _cmdline(pid)
            if "pyspark.daemon" in cmd:
                # the daemon, its forked workers, and (through the
                # daemon's cutime/cstime) every worker it has reaped
                sub = [pid]
                while sub:
                    w = sub.pop()
                    _, ticks, rss = stats.get(w, (0, 0, 0))
                    py_rss += rss
                    py_ticks += ticks
                    sub.extend(kids.get(w, ()))
                continue
            if "java" in cmd.split(" ", 1)[0]:
                jvm_rss += stats[pid][2]
            todo.extend(kids.get(pid, ()))
        return {
            "jvm_rss_mb": jvm_rss * _PAGE / 2**20,
            "py_rss_mb": py_rss * _PAGE / 2**20,
            "py_cpu_s": py_ticks / _TICK,
        }


class RssSampler(threading.Thread):
    """One background thread sampling the JVM and worker-tree RSS."""

    def __init__(self, tree: ProcTree, period_s: float = 0.05):
        super().__init__(daemon=True, name="perfbench-rss")
        self.tree = tree
        self.period_s = period_s
        self._halt = threading.Event()
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.peak_total = self.peak_jvm = self.peak_py = 0.0

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            s = self.tree.snapshot()
            with self._lock:
                self.peak_jvm = max(self.peak_jvm, s["jvm_rss_mb"])
                self.peak_py = max(self.peak_py, s["py_rss_mb"])
                self.peak_total = max(
                    self.peak_total, s["jvm_rss_mb"] + s["py_rss_mb"]
                )

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)
