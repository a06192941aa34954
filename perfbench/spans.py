"""Spans, Spark job attribution, and the statistics the benchmark reports.

A span records a name, start, end, parent and request id. Spans live in
memory and are written out once, when the run ends. Each span opens its
own Spark job group, so every job launched while it is the innermost
span is attributed to it; job, stage and task counts are read back from
Spark's status tracker after the run. Everything here uses the standard
library and the live SparkContext only.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    rid: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0
    tags: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans with one Spark job group per span. A disabled tracer
    costs one branch per span and touches no Spark state."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_rid = 0

    def new_request(self) -> int:
        self._next_rid += 1
        return self._next_rid

    @contextmanager
    def span(self, name: str, rid: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = parent.rid
        sp = Span(len(self.spans), name, parent.id if parent else None, rid, 0.0)
        self.spans.append(sp)
        self._set_group(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent)
            elif self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _set_group(self, sp: Span) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(f"perfbench-{sp.id}", sp.name)

    def wrap(self, fn, name: str):
        """``fn`` with every call inside a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def collect_counts(self) -> None:
        """Attach to every span the jobs launched while it was innermost
        and the tasks those jobs completed."""
        if not self.enabled or self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{sp.id}"))
            for jid in sp.jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    sp.tasks += st.numCompletedTasks if st else 0

    # -- queries over the recorded spans -----------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        return self_time(sp, self.children(sp))

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def jobs_in(self, sp: Span) -> int:
        return sum(len(s.jobs) for s in self.subtree(sp))

    def tasks_in(self, sp: Span) -> int:
        return sum(s.tasks for s in self.subtree(sp))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "rid": s.rid,
                    "start": s.start, "end": s.end, "jobs": s.jobs, "tasks": s.tasks,
                }) + "\n")


def self_time(sp: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    covered, cur_start, cur_end = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, sp.start), min(c.end, sp.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return sp.dur - covered


# -- statistics ---------------------------------------------------------------

def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it:
    returns (percentile, value), the value being the sample with exactly
    ``beyond`` samples larger. With ``beyond`` samples or fewer no such
    percentile exists and the maximum is returned as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return 100.0, s[-1]
    i = n - 1 - beyond
    return 100.0 * i / (n - 1), s[i]


def plan_nodes(tree: str, node: str) -> int:
    """Lines of a physical plan's tree string that show ``node``, not
    counting the "Initial Plan" an adaptive plan prints beside its final
    one (each operator would otherwise be counted twice)."""
    count, skip_col = 0, None
    for line in tree.splitlines():
        col = len(line) - len(line.lstrip())
        if skip_col is not None and col > skip_col:
            continue
        skip_col = None
        if "== Initial Plan ==" in line:
            skip_col = col
        elif node in line:
            count += 1
    return count


# -- host state ---------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[tuple[int, str]]:
    """(pid, command name) of every live descendant of ``root``."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name is in parentheses and may contain spaces
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(entry)] = int(fields[1])
        comm[int(entry)] = name
    out, todo = [], [root]
    while todo:
        cur = todo.pop()
        for pid, ppid in parent.items():
            if ppid == cur:
                out.append((pid, comm[pid]))
                todo.append(pid)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the driver JVM it
    launched (Python workers forked by the JVM are not counted)."""
    kb = _status_kb(os.getpid(), "VmHWM")
    kb += sum(_status_kb(pid, "VmHWM") for pid, name in _descendants(os.getpid()) if name == "java")
    return kb / 1024.0


def calib_ms(passes: int = 3) -> float:
    """Median of a fixed single-thread integer loop, in ms: the body of
    the repository bench's host-speed calibration, at half its length."""
    runs = []
    for _ in range(passes):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 1103515245 + i) & 0xFFFFFFFF
        runs.append((time.perf_counter() - t0) * 1000.0)
    return median(runs)
