"""Spans and counters recorded from the benchmark's side of each call.

A :class:`Tracer` is created per run. With ``enabled=False`` every span is
a bare ``yield`` and nothing is counted, so the untraced run pays nothing.
Enabled, a span records ``(name, start, end, parent, request id)`` in
memory and, around its body, counts

* Spark jobs, stages and tasks — the span sets its own job group and
  reads the group's jobs back from ``statusTracker``;
* py4j round-trips — the gateway client's ``send_command`` is wrapped
  inside this process.

Spans are written out by :meth:`Tracer.dump` when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    req: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    py4j: int = 0
    children: list[int] = field(default_factory=list)
    groups: list[str] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._py4j = 0
        self._sc = spark.sparkContext
        if enabled:
            client = self._sc._gateway._gateway_client
            send = client.send_command

            def counted(*args, **kwargs):
                self._py4j += 1
                return send(*args, **kwargs)

            client.send_command = counted

    @contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent].req
        sp = Span(name, 0.0, parent=parent, req=req)
        idx = len(self.spans)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._set_group(sp)
        py4j0 = self._py4j
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j = self._py4j - py4j0
            self._stack.pop()
            for group in sp.groups:
                self._count_jobs(sp, group)
            if self._stack:
                outer = self.spans[self._stack[-1]]
                outer.jobs += sp.jobs
                outer.stages += sp.stages
                outer.tasks += sp.tasks
                self._set_group(outer)  # the outer span's own jobs from here on
            else:
                self._sc._jsc.clearJobGroup()

    def _set_group(self, sp: Span) -> None:
        group = f"perfbench-{next(self._ids)}"
        sp.groups.append(group)
        self._sc.setJobGroup(group, sp.name)

    def _count_jobs(self, sp: Span, group: str) -> None:
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            sp.jobs += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sp.stages += 1
                st = tracker.getStageInfo(sid)
                if st is not None:
                    sp.tasks += st.numTasks

    def self_time(self, sp: Span) -> float:
        """The span's wall minus the union of its children's walls."""
        cover = 0.0
        last = sp.start
        for c in sorted((self.spans[i] for i in sp.children), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, sp.end)
            if hi > lo:
                cover += hi - lo
                last = hi
        return sp.wall - cover

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "req": s.req, "self_s": self.self_time(s),
                    "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks, "py4j": s.py4j,
                }) + "\n")
