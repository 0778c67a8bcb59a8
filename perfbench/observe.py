"""Measurements taken from outside the engine: process-tree CPU from /proc,
per-job-group Spark metrics from the in-process status store, and spans."""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

MB = 1e6


def _process_tree(root: int) -> dict[int, int]:
    """pid -> CPU ticks (user + system, own + reaped children) for `root`
    and every live descendant."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15])
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = cpu.get(pid, 0)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds of this process tree: the driver, its JVM and the JVM's
    Python workers."""
    return sum(_process_tree(os.getpid()).values()) / os.sysconf("SC_CLK_TCK")


def descendants() -> list[int]:
    return [p for p in _process_tree(os.getpid()) if p != os.getpid()]


@dataclass
class GroupStats:
    """Task metrics summed over the stages of one job group."""

    jobs: int = 0
    collect_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    def __add__(self, other: "GroupStats") -> "GroupStats":
        a, b = asdict(self), asdict(other)
        return GroupStats(**{k: a[k] + b[k] for k in a})


class StatusReader:
    """Reads `statusTracker().getJobIdsForGroup` and
    `statusStore().lastStageAttempt` (works with spark.ui.enabled=false)."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()

    def group(self, name: str) -> GroupStats:
        # task-end events reach the status store asynchronously
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = GroupStats()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(name):
            out.jobs += 1
            if str(store.job(jid).name()).startswith("collect at"):
                out.collect_jobs += 1
            info = tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else [])
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never ran (skipped)
                continue
            if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                continue
            out.stages += 1
            out.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            out.tasks_failed += sd.numFailedTasks()
            out.task_s += sd.executorRunTime() / 1e3
            out.cpu_s += sd.executorCpuTime() / 1e9
            out.gc_s += sd.jvmGcTime() / 1e3
            out.shuffle_write_mb += sd.shuffleWriteBytes() / MB
            out.shuffle_read_mb += sd.shuffleReadBytes() / MB
            out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span records, written out once at the end."""

    def __init__(self):
        self.items: list[Span] = []

    def add(self, name, start, end, parent, run_id) -> Span:
        s = Span(name, start, end, parent, run_id)
        self.items.append(s)
        return s

    def self_s(self, span: Span) -> float:
        """Span duration minus the part its (sequential) children cover."""
        kids = [
            s for s in self.items
            if s.parent == span.name and s.run_id == span.run_id
        ]
        return span.wall_s - sum(min(k.end, span.end) - max(k.start, span.start) for k in kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps({**asdict(s), "self_s": self.self_s(s)}) + "\n")
