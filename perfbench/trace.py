"""Spans taken around the benchmark's own calls into each layer, plus
process-level gauges (peak RSS of this process and the JVM, bytes on disk).

A span records name, start, end, parent and the Spark jobs, stages,
tasks and failed tasks that ran under it. Jobs are attributed through
the public ``statusTracker`` by job group: a span sets its own group on
the calling thread and restores the enclosing one on exit, so a
parent's counts are its own plus its children's. Spans stay in memory
and are written out once, at exit. With tracing off every span is a
bare wall-clock timer and no job group is touched.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def job_counts(sc, job_ids) -> tuple[int, int, int, int]:
    """(jobs, distinct stages, completed tasks, failed tasks)."""
    tracker = sc.statusTracker()
    stages: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return len(job_ids), len(stages), tasks, failed


def group_jobs(sc, group: str) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(group))


class Tracer:
    """In-memory span recorder; ``enabled=False`` keeps only timings.
    Spans are opened from one thread: job groups are per thread."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        stack = self._stack
        sp = Span(name, time.perf_counter(), parent=stack[-1] if stack else None)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        stack.append(idx)
        group = f"perfbench-span-{idx}"
        if self.enabled:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.enabled:
                if stack:
                    self.sc.setJobGroup(f"perfbench-span-{stack[-1]}", self.spans[stack[-1]].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp.jobs, sp.stages, sp.tasks, sp.failed_tasks = job_counts(
                    self.sc, group_jobs(self.sc, group))

    def totals(self, name: str) -> dict[str, float]:
        """Summed seconds, jobs and tasks over spans named ``name``, each
        including its descendants' jobs."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)

        def deep(i: int, attr: str) -> int:
            return getattr(self.spans[i], attr) + sum(deep(c, attr) for c in children.get(i, ()))

        idx = [i for i, s in enumerate(self.spans) if s.name == name]
        out = {"seconds": sum(self.spans[i].seconds for i in idx), "count": len(idx)}
        for attr in ("jobs", "tasks"):
            out[attr] = sum(deep(i, attr) for i in idx)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for k in kids.get(p, ()):
            out.append(k)
            todo.append(k)
    return out


def _measured_pids() -> list[int]:
    """This Python process and the Spark JVM it launched. Python worker
    processes are left out: how many are alive when the run ends
    varies, and each one shifts the sum by its whole footprint."""
    jvms = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm", encoding="utf-8") as f:
                if f.read().strip() == "java":
                    jvms.append(pid)
        except OSError:
            continue
    return [os.getpid(), *jvms]


def reset_peak_rss() -> None:
    """Restart the peak-RSS count (VmHWM) of the measured processes, so
    set-up (input generation) is not counted."""
    for pid in _measured_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="utf-8") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python process plus the Spark JVM."""
    kb = 0
    for pid in _measured_pids():
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def disk_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total / 2**20
