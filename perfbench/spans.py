"""Spans around the engine's public functions, and the fold of the Spark
event log into per-span counters.

A span is opened by the benchmark (one per operation) or by a wrapper the
benchmark installs over an engine function; nothing inside `xema_spark`
knows it is traced. Opening a span sets the Spark job group to the span's
id, so every job submitted while it is the innermost open span carries that
id in its `spark.jobGroup.id` property and is attributed to it.

An operation's children are either *phases* (siblings that follow one
another: the next phase starts when the previous one ends) or *nested*
spans (inside whatever is open). Phase boundaries are the entry and exit of
wrapped functions; see `Hook`. Because every instant of an operation belongs
to exactly one innermost span, self times add up to the operation's wall.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    phase: bool = False
    op_index: int | None = None
    source: int | None = None   # the span a split span was cut from


class Tracer:
    """Keeps spans in memory; `spans` is the record written out at the end.
    `set_group(group_id)` is called with the job-group id whenever the
    innermost open span changes (None clears the group)."""

    def __init__(self, set_group=None, clock=time.time):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_group = set_group or (lambda g: None)
        self._clock = clock
        self.enabled = True

    @property
    def depth(self) -> int:
        return len(self._stack)

    @property
    def op_name(self) -> str | None:
        """Name of the outermost open span: the operation being traced."""
        return self._stack[0].name if self._stack else None

    def _open(self, name: str, phase: bool = False, op_index: int | None = None) -> Span:
        parent = self._stack[-1] if self._stack else None
        if op_index is None and parent is not None:
            op_index = parent.op_index
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self._clock(), phase=phase, op_index=op_index)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(f"{GROUP_PREFIX}{s.id}")
        return s

    def _close(self) -> None:
        s = self._stack.pop()
        s.end = self._clock()
        self._set_group(f"{GROUP_PREFIX}{self._stack[-1].id}" if self._stack else None)

    @contextmanager
    def span(self, name: str, op_index: int | None = None):
        if not self.enabled:
            yield
            return
        self._open(name, op_index=op_index)
        try:
            yield
        finally:
            # a phase left open by the body ends with its parent
            while self._stack and self._stack[-1].phase:
                self._close()
            self._close()

    def switch(self, name: str | None) -> None:
        """End the open phase (if any) and, when `name` is given, start the
        phase `name` under the same parent."""
        if not self.enabled or not self._stack:
            return
        if self._stack[-1].phase:
            self._close()
        if name is not None:
            self._open(name, phase=True)


@dataclass(frozen=True)
class Hook:
    """How a wrapped function call shapes the span tree.

    enter: phase to switch to when the call starts (the call runs inside it);
    nest:  span opened around the call itself, nested in what is open;
    exit:  phase to switch to when the call returns."""
    enter: str | None = None
    nest: str | None = None
    exit: str | None = None


@dataclass
class Patches:
    """Wrappers installed over module attributes; `restore` undoes them."""
    saved: list = field(default_factory=list)

    def wrap(self, tracer: Tracer, modules, attr: str, hooks: dict[str, Hook]) -> None:
        """Wrap `attr` wherever one of `modules` binds the same function.
        `hooks` maps an operation's span name to what the call does to the
        span tree under that operation; under other operations the call is
        left alone."""
        original = next((getattr(m, attr) for m in modules if hasattr(m, attr)), None)
        if original is None:
            raise AttributeError(f"no module among {modules} has {attr!r}")
        active = [False]

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            hook = hooks.get(tracer.op_name) if tracer.enabled else None
            # recursive calls (compile_rule recurses through its module
            # global) are part of the outermost call's span
            if hook is None or active[0]:
                return original(*args, **kwargs)
            active[0] = True
            try:
                if hook.enter:
                    tracer.switch(hook.enter)
                if hook.nest:
                    with tracer.span(hook.nest):
                        out = original(*args, **kwargs)
                else:
                    out = original(*args, **kwargs)
                if hook.exit:
                    tracer.switch(hook.exit)
                return out
            finally:
                active[0] = False

        for m in modules:
            if getattr(m, attr, None) is original:
                self.saved.append((m, attr, original))
                setattr(m, attr, wrapper)

    def restore(self) -> None:
        for m, attr, original in reversed(self.saved):
            setattr(m, attr, original)
        self.saved.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float | None = None
    stages: list = field(default_factory=list)
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    io_bytes: int = 0


@dataclass
class SqlExec:
    id: int
    start: float
    end: float | None
    write_path: str | None


# the write's target is the first argument of the plan's insert command node
_WRITE_RE = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)")


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, SqlExec]]:
    """Jobs (with their task counters summed) and SQL executions from one
    uncompressed, non-rolling Spark event log."""
    jobs: dict[int, Job] = {}
    sqls: dict[int, SqlExec] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0, stages=ev["Stage IDs"])
                jobs[j.id] = j
                for s in j.stages:
                    stage_job.setdefault(s, j.id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                j.shuffle_bytes += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0)
                                    + sw.get("Shuffle Bytes Written", 0))
                j.io_bytes += (m.get("Input Metrics", {}).get("Bytes Read", 0)
                               + m.get("Output Metrics", {}).get("Bytes Written", 0))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                w = _WRITE_RE.search(ev.get("physicalPlanDescription", ""))
                sqls[ev["executionId"]] = SqlExec(
                    ev["executionId"], ev["time"] / 1000.0, None,
                    w.group(1) if w else None)
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sqls:
                    sqls[ev["executionId"]].end = ev["time"] / 1000.0
    return jobs, sqls


def split_by_writes(tracer_spans: list[Span], name: str,
                    sqls: dict[int, SqlExec],
                    parts: tuple[tuple[str, str], str, tuple[str, str]]) -> list[Span]:
    """Replace every span called `name` by three contiguous spans cut at the
    end of the last SQL execution writing to a path whose final component is
    parts[0][1], and at the start of the first one writing to parts[2][1]:
    (head, middle, tail) = (parts[0][0], parts[1], parts[2][0]). A span with
    no such writes is left as it is."""
    (head, head_dir), middle, (tail, tail_dir) = parts
    out: list[Span] = []
    next_id = len(tracer_spans)
    for s in tracer_spans:
        if s.name != name or s.end is None:
            out.append(s)
            continue
        inside = [x for x in sqls.values()
                  if x.write_path and x.end and s.start <= x.start <= s.end]
        heads = [x.end for x in inside if os.path.basename(x.write_path.rstrip("/")) == head_dir]
        tails = [x.start for x in inside if os.path.basename(x.write_path.rstrip("/")) == tail_dir]
        if not heads or not tails:
            out.append(s)
            continue
        cut1 = min(max(heads), s.end)
        cut2 = max(min(tails), cut1)
        for nm, a, b in ((head, s.start, cut1), (middle, cut1, cut2), (tail, cut2, s.end)):
            out.append(Span(next_id, nm, s.parent, a, b, phase=s.phase,
                            op_index=s.op_index, source=s.id))
            next_id += 1
    return out


@dataclass
class SpanStats:
    wall_s: float = 0.0
    self_s: float = 0.0
    jobs: int = 0
    task_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    io_bytes: int = 0
    sched_wait_s: float = 0.0


def _covered(a: float, b: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [a, b] covered by the union of `intervals` (sorted)."""
    total, cur = 0.0, a
    for s, e in intervals:
        s, e = max(s, cur), min(e, b)
        if e > s:
            total += e - s
            cur = e
        if cur >= b:
            break
    return total


def fold(spans: list[Span], jobs: dict[int, Job]) -> dict[int, SpanStats]:
    """Per-span counters. A job belongs to the span named by its job group;
    a span produced by `split_by_writes` takes the jobs of its source span
    that were submitted inside it."""
    stats = {s.id: SpanStats(wall_s=(s.end or s.start) - s.start) for s in spans}
    for s in spans:
        if s.parent in stats:
            stats[s.parent].self_s -= stats[s.id].wall_s
    for s in spans:
        stats[s.id].self_s += stats[s.id].wall_s
    derived: dict[int, list[Span]] = {}
    for s in spans:
        if s.source is not None:
            derived.setdefault(s.source, []).append(s)
    for j in jobs.values():
        if not j.group or not j.group.startswith(GROUP_PREFIX):
            continue
        sid = int(j.group[len(GROUP_PREFIX):])
        if sid in derived:
            cands = [d for d in derived[sid] if d.start <= j.submit <= d.end]
            sid = (cands[0] if cands else derived[sid][-1]).id
        if sid not in stats:
            continue
        st = stats[sid]
        st.jobs += 1
        st.task_cpu_s += j.cpu_s
        st.shuffle_bytes += j.shuffle_bytes
        st.io_bytes += j.io_bytes
    intervals = sorted((j.submit, j.end) for j in jobs.values() if j.end is not None)
    for s in spans:
        if s.end is not None:
            stats[s.id].sched_wait_s = stats[s.id].wall_s - _covered(s.start, s.end, intervals)
    return stats


def subtree_totals(spans: list[Span], stats: dict[int, SpanStats], root: int) -> SpanStats:
    """Counters of `root` plus every span below it (jobs counted once)."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)
    tot = SpanStats(wall_s=stats[root].wall_s, sched_wait_s=stats[root].sched_wait_s)
    todo = [root]
    while todo:
        sid = todo.pop()
        st = stats[sid]
        tot.jobs += st.jobs
        tot.task_cpu_s += st.task_cpu_s
        tot.shuffle_bytes += st.shuffle_bytes
        tot.io_bytes += st.io_bytes
        tot.self_s += st.self_s
        todo.extend(children.get(sid, []))
    return tot
