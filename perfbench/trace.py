"""Spans recorded from the benchmark's own files.

``Tracer.span`` times a block and, when it may launch Spark jobs, runs
it under its own Spark job group, so jobs, tasks and SQL metrics can be
attributed to it afterwards from the status store. ``Tracer.wrap``
replaces a public entry point of the program with a spanning wrapper
for the length of the run; nothing inside the program changes. Spans
are kept in memory (name, start, end, parent, attributes) and written
out as JSON at exit.

With tracing off, ``span`` still times the block (the workloads take
their walls from it) but records nothing, sets no job group, and
nothing is wrapped.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "parent", "name", "t0", "t1", "attrs", "group")

    def __init__(self, sid, parent, name, group, attrs):
        self.id, self.parent, self.name, self.group = sid, parent, name, group
        self.attrs = attrs
        self.t0 = self.t1 = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "start": self.t0,
            "end": self.t1,
            "job_group": self.group,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        parent = self._stack[-1] if self._stack else None
        group = f"pb-{len(self.spans)}" if (jobs and self.enabled) else None
        s = Span(len(self.spans), parent.id if parent else None, name, group, attrs)
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        if group:
            self.sc.setJobGroup(group, name)
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if group:
                outer = next((p for p in reversed(self._stack) if p.group), None)
                if outer:
                    self.sc.setJobGroup(outer.group, outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, jobs: bool = True, keep_result: bool = False):
        """Span every call of ``owner.attr`` as ``name`` (tracing on
        only); ``keep_result`` stores the return value in the span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **k):
            with tracer.span(name, jobs=jobs) as s:
                out = orig(*a, **k)
                if keep_result:
                    s.attrs["result"] = out
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def original(self, owner, attr: str):
        """``owner.attr`` as the program defines it, wrapped or not."""
        for o, a, orig in self._patched:
            if o is owner and a == attr:
                return orig
        return getattr(owner, attr)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---------------------------------------------------------- queries

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, root: Span, kids=None) -> list[Span]:
        kids = kids if kids is not None else self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out

    def named(self, name: str, **attrs) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)
