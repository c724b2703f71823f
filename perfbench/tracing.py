"""Spans for the traced run, and the Spark event-log parser that
attributes job, task and stage counters to them.

A span is (name, start, end, parent), kept in memory and reduced to
metrics when the run ends.  While a span is open its index is the
Spark job group (``setJobGroup``), so every job it causes — and every
stage and task of those jobs — carries the span in the event log.
Nested spans re-point the group to the innermost open span; counters
are therefore self counters, and a span's totals are the sum over its
subtree.

Self time is a span's duration minus the part of it its child spans
cover.  A span around a lazy DataFrame call (``search``,
``assemble``, ``build_all``) times only the building of the plan; the
execution of that plan falls inside whichever later span runs the
action, usually ``plans.dag.materialize``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

#: event-log task counters: output name -> (metrics path, scale)
TASK_COUNTERS = {
    "executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "spill_bytes": (("Disk Bytes Spilled",), 1),
    "gc_s": (("JVM GC Time",), 1e-3),
}
COUNTERS = ("jobs", "tasks", *TASK_COUNTERS)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


@dataclass
class Tracer:
    """Records spans; with a SparkContext, also tags jobs with them."""

    sc: object | None = None
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _stack: list[int] = field(default_factory=list)

    def _point_group(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{top}", self.spans[top].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.perf_counter(), self._stack[-1] if self._stack else None)
        )
        self._stack.append(idx)
        self._point_group()
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._point_group()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    # ------------------------------------------------------ reductions
    def self_times(self) -> dict[str, float]:
        """name -> summed self time over every span of that name."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += s.duration - _covered(s, children[i])
        return dict(out)

    def totals(self) -> dict[str, float]:
        """name -> summed wall time over every span of that name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.duration
        return dict(out)

    def root_of(self, idx: int) -> int:
        while self.spans[idx].parent is not None:
            idx = self.spans[idx].parent
        return idx

    def spark_by_root(self, by_group: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
        """Event-log counters summed per top-level span name."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.parent is None:
                out.setdefault(s.name, {c: 0.0 for c in COUNTERS})
        for group, counters in by_group.items():
            if not group.startswith(GROUP_PREFIX):
                continue
            root = self.spans[self.root_of(int(group[len(GROUP_PREFIX):]))].name
            for c, v in counters.items():
                out[root][c] += v
        return out


def _covered(span: Span, kids: list[Span]) -> float:
    """Length of the union of the children's intervals within span."""
    total, reach = 0.0, span.start
    for k in sorted(kids, key=lambda k: k.start):
        lo, hi = max(k.start, reach), min(k.end or k.start, span.end or span.start)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Spark event-log JSON lines -> job group -> counters.

    Jobs are counted at JobStart under their ``spark.jobGroup.id``
    property (jobs without a group fall under ``""``); a stage belongs
    to the group of the first job that lists it; task counters are
    summed from TaskEnd events through their stage."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: {c: 0.0 for c in COUNTERS})
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            counters = out[group]
            counters["tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            for name, (path, scale) in TASK_COUNTERS.items():
                v = metrics
                for key in path:
                    v = v.get(key, 0) if isinstance(v, dict) else 0
                counters[name] += (v or 0) * scale
    return dict(out)
