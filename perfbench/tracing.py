"""Measurement from outside the program: spans, process-tree CPU and
memory from ``/proc``, and a fold of Spark's event log by job group."""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; spans nest by the ``with`` structure."""

    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.perf_counter(), float("nan"), parent))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def self_time(self, idx: int) -> float:
        """Duration minus the part of it covered by direct children."""
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s.start), min(b, s.end)
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return s.duration - covered


def proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat from the state on (field 3 of proc(5)),
    or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = proc_stat(int(entry))
            if st is not None:
                children[int(st[1])].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the process tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        st = proc_stat(pid)
        if st is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    since boot (``steal`` in /proc/stat); 0 on bare metal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- Spark event log -------------------------------------------------------

PYTHON_TIME = "time to run Python workers"


@dataclass
class Fold:
    """Task metrics summed over the tasks of one job group."""

    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    fetch_wait_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_ms: float = 0.0

    def add(self, other: Fold) -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def _python_ms(task_info: dict) -> float:
    for acc in task_info.get("Accumulables", []):
        if acc.get("Name") == PYTHON_TIME and "Update" in acc:
            return int(acc["Update"])  # a millisecond timing SQL metric
    return 0.0


def fold_event_log(path: str) -> tuple[dict[str | None, Fold], dict[str | None, list[int]]]:
    """Fold ``SparkListenerTaskEnd`` records by the job group of their
    stage. Returns per-group totals, and per group the task count of
    each job in start order."""
    stage_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    job_order: list[tuple[int, str | None]] = []
    job_tasks: dict[int, int] = defaultdict(int)
    folds: dict[str | None, Fold] = defaultdict(Fold)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_order.append((ev["Job ID"], group))
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                read = m.get("Shuffle Read Metrics") or {}
                write = m.get("Shuffle Write Metrics") or {}
                folds[stage_group.get(sid)].add(Fold(
                    tasks=1,
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
                    gc_ms=m.get("JVM GC Time", 0),
                    fetch_wait_ms=read.get("Fetch Wait Time", 0),
                    shuffle_write_bytes=write.get("Shuffle Bytes Written", 0),
                    spill_bytes=m.get("Disk Bytes Spilled", 0),
                    python_ms=_python_ms(ev.get("Task Info") or {}),
                ))
                if sid in stage_job:
                    job_tasks[stage_job[sid]] += 1
    per_group_jobs: dict[str | None, list[int]] = defaultdict(list)
    for job_id, group in job_order:
        per_group_jobs[group].append(job_tasks[job_id])
    return dict(folds), dict(per_group_jobs)
