"""Spans recorded around the benchmark's calls into each layer, and the
Spark executor metrics attributed to them.

A span has a name, start, end, parent and op id. Spans are kept in
memory and written out when the run ends. While a span is open its id is
the Spark job group, so the event log attributes every job, stage and
task to the innermost span that launched it. Structured Streaming runs
its micro-batch jobs under the query's run id instead; the caller maps
that run id to its span with :meth:`Tracer.alias`.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None
    op: int

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op so
    the untraced path runs the same code."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.aliases: dict[str, str] = {}
        self._stack: list[str] = []
        self._next = 0

    def _set_group(self, sid: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_KEY, sid)

    @contextmanager
    def span(self, name: str, op: int):
        if not self.enabled:
            yield None
            return
        sid = f"s{self._next}"
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._set_group(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(Span(sid, name, start, end, parent, op))

    def alias(self, group: str, sid: str | None) -> None:
        """Attribute jobs run under job group ``group`` to span ``sid``."""
        if sid is not None:
            self.aliases[group] = sid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "aliases": self.aliases}, f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id → its duration minus the part of it its children cover."""
    children: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.duration - covered(children[s.id], s.start, s.end) for s in spans}


def _blank() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "gc_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "empty_tasks": 0,
            "input_bytes": 0, "input_rows": 0}


def spark_metrics_by_group(evdir: str) -> dict[str, dict]:
    """Parse the uncompressed, non-rolling event logs in ``evdir`` into
    per-job-group totals: jobs, completed stages, tasks, executor run
    time, JVM GC time, shuffle bytes written, bytes spilled (memory +
    disk), tasks that read no input (neither file nor shuffle records),
    and file input bytes/rows."""
    out: dict[str, dict] = defaultdict(_blank)
    stage_group: dict[int, str] = {}
    for name in sorted(os.listdir(evdir)):
        with open(os.path.join(evdir, name)) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY)
                    if group is not None:
                        out[group]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY)
                    if group is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    rec = out[group]
                    inp = m.get("Input Metrics") or {}
                    shr = m.get("Shuffle Read Metrics") or {}
                    shw = m.get("Shuffle Write Metrics") or {}
                    rec["tasks"] += 1
                    rec["task_ms"] += m.get("Executor Run Time", 0)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    rec["shuffle_write_bytes"] += shw.get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    rec["input_bytes"] += inp.get("Bytes Read", 0)
                    rec["input_rows"] += inp.get("Records Read", 0)
                    if not inp.get("Records Read", 0) and not shr.get("Total Records Read", 0):
                        rec["empty_tasks"] += 1
    return dict(out)
