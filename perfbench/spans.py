"""Spans around calls into the program, and the offline event-log parser
that turns a traced run's Spark event log into per-span engine counters.

A span is a named wall-clock interval opened by the benchmark around one
call into a layer's public function. Each span runs its Spark jobs under
its own job group, so the event log attributes every job, stage and task
to exactly one span. Nothing here runs inside the program under test.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Job group of Spark jobs that run outside every span.
NO_SPAN = "perfbench-none"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; sets the Spark job group of each."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        sc.setJobGroup(NO_SPAN, NO_SPAN)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(outer.group if outer else NO_SPAN,
                                outer.name if outer else NO_SPAN)


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    return {sp.id: sp.s - covered(children[sp.id], sp.start, sp.end)
            for sp in spans}


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0  # stages that ran
    stage_refs: int = 0  # stages the jobs listed, run or skipped
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0  # shuffle bytes written
    spill_mb: float = 0.0  # bytes spilled to disk
    written_mb: float = 0.0  # output bytes written
    task_failures: int = 0
    #: (submitted, completed) epoch seconds of every job
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def stages_skipped(self) -> float:
        """Share of listed stages skipped because their output existed."""
        if not self.stage_refs:
            return 0.0
        return (self.stage_refs - self.stages) / self.stage_refs


def parse_event_log(path: str) -> dict[str, GroupCounters]:
    """Per job group counters from an uncompressed Spark event log."""
    groups: dict[str, GroupCounters] = defaultdict(GroupCounters)
    stage_group: dict[int, str] = {}
    open_jobs: dict[int, tuple[str, float]] = {}
    run_stages: dict[str, set[int]] = defaultdict(set)

    def group_of(ev: dict) -> str:
        props = ev.get("Properties") or {}
        return props.get("spark.jobGroup.id") or NO_SPAN

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = group_of(ev)
                groups[g].jobs += 1
                groups[g].stage_refs += len(ev["Stage IDs"])
                open_jobs[ev["Job ID"]] = (g, ev["Submission Time"] / 1e3)
            elif kind == "SparkListenerJobEnd":
                g, t0 = open_jobs.pop(ev["Job ID"])
                groups[g].job_intervals.append(
                    (t0, ev["Completion Time"] / 1e3))
            elif kind == "SparkListenerStageSubmitted":
                g = group_of(ev)
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = g
                run_stages[g].add(sid)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], NO_SPAN)
                c = groups[g]
                c.tasks += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    c.task_failures += 1
                m = ev.get("Task Metrics") or {}
                c.task_s += m.get("Executor Run Time", 0) / 1e3
                c.gc_s += m.get("JVM GC Time", 0) / 1e3
                c.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
                c.shuffle_mb += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 2**20
                c.written_mb += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0) / 2**20
    for g, sids in run_stages.items():
        groups[g].stages = len(sids)
    return dict(groups)


def jobs_submitted(groups: dict[str, GroupCounters], lo: float,
                   hi: float) -> int:
    """Jobs of any group submitted within [lo, hi]."""
    return sum(lo <= a <= hi for c in groups.values()
               for a, _ in c.job_intervals)


def subtree_totals(rows: list[dict], key: str) -> list[float]:
    """Each span's ``key`` plus that of every span nested in it. Rows
    are in span-id order, so a parent precedes its children."""
    totals = [r[key] for r in rows]
    for i in range(len(rows) - 1, -1, -1):
        parent = rows[i]["parent"]
        if parent is not None:
            totals[parent] += totals[i]
    return totals


def span_metrics(spans: list[Span],
                 groups: dict[str, GroupCounters]) -> list[dict]:
    """One row per span: wall and self time, and its engine counters.

    ``driver_s`` is span time that no Spark job covers: planning,
    Python-side work and the gaps between a layer's jobs.
    """
    every_job = [iv for c in groups.values() for iv in c.job_intervals]
    selfs = self_times(spans)
    rows = []
    for sp in spans:
        c = groups.get(sp.group, GroupCounters())
        rows.append({
            "name": sp.name, "parent": sp.parent, "s": sp.s,
            "self_s": selfs[sp.id],
            "driver_s": sp.s - covered(every_job, sp.start, sp.end),
            "jobs": c.jobs, "stages": c.stages,
            "stage_refs": c.stage_refs,
            "stages_skipped": c.stages_skipped, "tasks": c.tasks,
            "task_s": c.task_s, "gc_s": c.gc_s, "shuffle_mb": c.shuffle_mb,
            "spill_mb": c.spill_mb, "mb_written": c.written_mb,
            "task_failures": c.task_failures,
        })
    return rows
