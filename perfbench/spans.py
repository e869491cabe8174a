"""Spans, Spark job counts and process-tree readings for the benchmark.

Spans are recorded only by the benchmark's own code, around each call into an
engine layer. They stay in memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_CLK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str  # module.function of the layer called, or op.<kind> for a benchmark op
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    op: int | None  # id of the benchmark op the span belongs to

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; when disabled a span only runs its body.

    Each traced op runs under its own Spark job group, so the jobs, stages and
    tasks it launched are counted from ``SparkContext.statusTracker()``.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.job_counts: dict[int, tuple[int, int, int]] = {}
        self._stack: list[int] = []
        self._op: int | None = None
        self._n_ops = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else None, self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def op(self, kind: str, spark):
        """One benchmark operation: span ``op.<kind>`` plus its Spark job counts."""
        if not self.enabled:
            yield
            return
        self._n_ops += 1
        op_id = self._op = self._n_ops
        group = f"perfbench-op-{op_id}"
        spark.sparkContext.setJobGroup(group, kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op = None
            self.job_counts[op_id] = _count_jobs(spark, group)

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def op_jobs(self, kind: str) -> list[tuple[int, int, int]]:
        """(jobs, stages, tasks) of every traced op of one kind."""
        return [self.job_counts[s.op] for s in self.spans
                if s.name == f"op.{kind}" and s.op in self.job_counts]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (first two parts of the span name) not covered by
        child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = ".".join(s.name.split(".")[:2])
            out[layer] = out.get(layer, 0.0) + s.dur - c
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "jobs": {str(k): v for k, v in self.job_counts.items()}}, f)


def median_or_none(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def _count_jobs(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return len(jobs), stages, tasks


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                children.setdefault(pp, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the processes and their reaped children."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command: state=0 ... utime=11 stime=12 cutime=13 cstime=14
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK
