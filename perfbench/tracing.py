"""Spans, Spark work counters and a process-tree memory sampler.

A span wraps one call into a layer's public function.  Each span runs its
Spark jobs under a job group of its own; when the span ends, the benchmark
waits for those jobs' status to settle and reads their jobs, stages, tasks
and failed tasks from the status tracker.  Spans live in memory and are
written out as JSON lines when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SETTLE_TIMEOUT_S = 30.0


@dataclass
class Span:
    span_id: str
    name: str
    op: str  # id of the operation the span belongs to; shared by its spans
    parent: str | None  # span id of the enclosing operation span
    start: float
    end: float
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._op: Span | None = None
        self._ids = itertools.count()

    @contextmanager
    def operation(self, op: str):
        if not self.enabled:
            yield
            return
        span = Span(f"bench-{next(self._ids)}", "op", op, None, time.perf_counter(), 0.0)
        self._op = span
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._op = None
            self.spans.append(span)

    @contextmanager
    def paused(self):
        """Runs the body untraced, e.g. a warm-up operation."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        op = self._op
        span = Span(
            f"bench-{next(self._ids)}",
            name,
            op.op if op else "-",
            op.span_id if op else None,
            0.0,
            0.0,
        )
        self.spans.append(span)
        self.sc.setJobGroup(span.span_id, name)
        span.start = time.perf_counter()
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            span.counts = self._counts(span.span_id)

    def _counts(self, group: str) -> dict:
        """Jobs, stages, tasks and failed tasks of one job group.

        Job and task events reach the status tracker asynchronously, so this
        waits until every job of the group reports a final status; by then
        the tracker has applied all of its task events.  A job or stage the
        tracker no longer holds is an error, never a silent zero."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        deadline = time.monotonic() + _SETTLE_TIMEOUT_S
        infos = []
        for jid in jobs:
            while True:
                info = tracker.getJobInfo(jid)
                if info is None:
                    raise RuntimeError(f"status tracker dropped job {jid} of {group}")
                if info.status in ("SUCCEEDED", "FAILED"):
                    break
                if time.monotonic() > deadline:
                    raise RuntimeError(f"job {jid} of {group} did not settle")
                time.sleep(0.005)
            infos.append(info)
        stages = tasks = failed = 0
        for info in infos:
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    raise RuntimeError(f"status tracker dropped stage {sid} of {group}")
                if st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        if span.name != "op":
            return span.seconds
        kids = sum(s.seconds for s in self.spans if s.parent == span.span_id)
        return span.seconds - kids

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.span_id, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": self.self_seconds(s),
                    **s.counts,
                }) + "\n")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed VmRSS of this process and all its descendants (the
    Spark JVM, the pyspark daemon and its Python workers)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
