"""In-memory spans and the Spark event-log reader.

Spans are kept in a list while the benchmark runs and written once, at
exit.  A span's self time is its duration minus the part of its
interval that its children cover.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional, Tuple


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    counts: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: List[Tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_times(spans: List[Span]) -> Dict[int, float]:
    kids: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end)
            for s in spans}


class Tracer:
    """Records spans when enabled; otherwise every span is a no-op so
    the untraced run pays nothing but a context-manager call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **counts: float) -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None,
                 counts=dict(counts))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def by_name(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        """Summed duration of spans called ``name``."""
        return sum(s.duration for s in self.by_name(name))

    def self_time_by_name(self, roots: List[Span]) -> Dict[str, float]:
        """Self time per span name, over the subtrees of ``roots``."""
        keep = {r.id for r in roots}
        for s in self.spans:        # parents precede children
            if s.parent in keep:
                keep.add(s.id)
        st = self_times([s for s in self.spans if s.id in keep])
        out: Dict[str, float] = {}
        for s in self.spans:
            if s.id in st:
                out[s.name] = out.get(s.name, 0.0) + st[s.id]
        return out

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name,
                                    "start": s.start, "end": s.end,
                                    "parent": s.parent,
                                    "self_s": st[s.id], **s.counts}) + "\n")


# -- Spark event log -----------------------------------------------------------

def read_event_log(events_dir: str, app_id: str, job_group: str
                   ) -> Dict[str, float]:
    """Totals over the jobs of ``job_group`` in the event log of
    ``app_id``: jobs, stages, tasks, shuffle/spill bytes, executor run /
    CPU / GC time, and task skew (max over median task duration in the
    stage with the largest summed run time)."""
    path = os.path.join(events_dir, app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    jobs, stages = set(), set()
    tasks: Dict[int, List[Tuple[float, dict]]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") == job_group:
                    jobs.add(ev["Job ID"])
                    stages.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                dur = (info.get("Finish Time", 0)
                       - info.get("Launch Time", 0)) / 1000.0
                tasks.setdefault(ev["Stage ID"], []).append(
                    (dur, ev.get("Task Metrics") or {}))
    run = {sid: ts for sid, ts in tasks.items() if sid in stages}
    out = {"jobs": len(jobs), "stages": len(run),
           "tasks": sum(len(ts) for ts in run.values()),
           "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
           "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "task_skew": 0.0}
    mb = 1.0 / 2 ** 20
    stage_run = {}
    for sid, ts in run.items():
        stage_run[sid] = 0.0
        for _dur, m in ts:
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) * mb
            out["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) * mb
            out["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) * mb
            r = m.get("Executor Run Time", 0) / 1000.0
            out["run_s"] += r
            stage_run[sid] += r
            out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    if stage_run:
        costliest = max(stage_run, key=stage_run.get)
        durs = [d for d, _ in run[costliest]]
        med = statistics.median(durs)
        out["task_skew"] = max(durs) / med if med > 0 else 1.0
    return out
