"""Measurement helpers: in-memory spans, /proc CPU and RSS sampling, and
Spark task counts per job group.

Nothing here imports Spark, so the helpers are testable on their own.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    rep: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around the benchmark's own calls into the library.

    Spans stay in memory until ``dump``; a disabled tracer records nothing
    and adds one branch per call."""

    def __init__(self, workload: str, enabled: bool = True) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rep: int | None = None):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self.workload, rep)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_time(spans: list[Span], span: Span) -> float:
    """A span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    cover = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans if c.parent == span.id
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in cover:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass(frozen=True)
class ProcSample:
    """CPU seconds of a process tree, split into the root's own threads
    and everything below it (live descendants plus reaped ones, which the
    kernel folds into their parent's cutime/cstime), and the summed VmHWM
    of the live processes."""

    root_cpu_s: float
    child_cpu_s: float
    hwm_mb: float

    @property
    def cpu_s(self) -> float:
        return self.root_cpu_s + self.child_cpu_s


def sample(root: int) -> ProcSample:
    root_cpu = child_cpu = 0.0
    hwm_kb = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields 14..17 of stat(5): utime stime cutime cstime
        utime, stime, cutime, cstime = (int(x) for x in f[11:15])
        if pid == root:
            root_cpu += utime + stime
            child_cpu += cutime + cstime
        else:
            child_cpu += utime + stime + cutime + cstime
        hwm_kb += _hwm_kb(pid)
    return ProcSample(root_cpu / _CLK_TCK, child_cpu / _CLK_TCK, hwm_kb / 1024.0)


def delta(before: ProcSample, after: ProcSample) -> ProcSample:
    """CPU used between two samples; the memory figure is the later peak."""
    return ProcSample(after.root_cpu_s - before.root_cpu_s,
                      after.child_cpu_s - before.child_cpu_s, after.hwm_mb)


def process_age_s(pid: int | None = None) -> float:
    """Seconds since ``pid`` (default: this process) started."""
    f = _stat_fields(pid or os.getpid())
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(f[19]) / _CLK_TCK


# ---------------------------------------------------------------- Spark


def group_tasks(sc, group: str) -> tuple[int, int]:
    """(tasks, failed tasks) over every stage of every job in a job group,
    read from the status tracker."""
    st = sc.statusTracker()
    tasks = failed = 0
    for job_id in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            si = st.getStageInfo(stage_id)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return tasks, failed


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory tree; hidden and
    underscore-prefixed markers are skipped like Spark's reader does."""
    total = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files
