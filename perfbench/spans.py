"""Spans around the benchmark's calls into each engine layer, with the Spark
counters of the jobs each span ran.

Each span tags its work with its own Spark job group. When it ends, its jobs
are looked up with ``statusTracker().getJobIdsForGroup`` and their stage
metrics with ``statusStore().lastStageAttempt`` — right away, because the
tracker retains a bounded number of jobs. Jobs started from other threads
carry no group (GeocoderTables materialises its caches from a thread pool),
so the jobs without a group that appeared during the span are counted too.
Every job and stage is counted once, in the innermost span that ran it; a
parent span adds up its children. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# counter -> unit; every span reports all of them
COUNTERS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "task_s": "s", "cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "idle_s": "s", "rows_in": "count", "rows_out": "count",
}
# per-job Spark counters summed from stage data (the rest are measured)
_SPARK_SUMS = ("stages", "tasks", "task_s", "gc_s",
               "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
_MB = float(1 << 20)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    name: str
    batch: int | None
    parent: "Span | None"
    group: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    job_intervals: list = field(default_factory=list)
    children: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def self_s(self) -> float:
        """Duration minus the part of it covered by child spans."""
        return self.wall_s - union_length(
            [(c.start, c.end) for c in self.children], self.start, self.end)


class Tracer:
    """Records spans for one Spark context. ``cpu_fn`` returns the CPU
    seconds of the processes doing the work (the JVM and Python workers)."""

    def __init__(self, sc, cpu_fn):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._cpu_fn = cpu_fn
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, batch, parent, f"perfbench-{next(self._ids)}-{name}", 0.0)
        tracker = self._sc.statusTracker()
        ungrouped0 = set(tracker.getJobIdsForGroup(None))
        cpu0 = self._cpu_fn()
        self._sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            sp.counters["cpu_s"] = self._cpu_fn() - cpu0
            new_ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped0
            self._collect(sp, set(tracker.getJobIdsForGroup(sp.group)) | new_ungrouped)
            if parent is not None:
                parent.children.append(sp)
            self.spans.append(sp)

    def _collect(self, sp: Span, job_ids: set) -> None:
        tracker = self._sc.statusTracker()
        own = {k: 0.0 for k in _SPARK_SUMS}
        jobs = 0
        for jid in sorted(job_ids - self._seen_jobs):
            self._seen_jobs.add(jid)
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            jd = self._store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                sp.job_intervals.append((jd.submissionTime().get().getTime() / 1e3,
                                         jd.completionTime().get().getTime() / 1e3))
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                own["stages"] += 1
                own["tasks"] += sd.numCompleteTasks()
                own["task_s"] += sd.executorRunTime() / 1e3
                own["gc_s"] += sd.jvmGcTime() / 1e3
                own["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                own["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
                own["spill_mb"] += sd.diskBytesSpilled() / _MB
        # children closed first: fold their totals and job intervals in
        for c in sp.children:
            jobs += c.counters["jobs"]
            for k in _SPARK_SUMS:
                own[k] += c.counters[k]
            sp.job_intervals.extend(c.job_intervals)
        sp.counters.update(own)
        sp.counters["jobs"] = jobs
        sp.counters["wall_s"] = sp.wall_s
        sp.counters["idle_s"] = sp.wall_s - union_length(sp.job_intervals, sp.start, sp.end)
        sp.counters.setdefault("rows_in", 0)
        sp.counters.setdefault("rows_out", 0)

    def metrics(self, names) -> dict:
        """``<span>.<counter>`` -> (value, unit) for every span name in
        ``names``: set-up spans report their one value, batch spans the
        median over batches. A layer that did not run reports 0."""
        per_name: dict[str, list[dict]] = {}
        for sp in self.spans:
            vals = dict(sp.counters)
            if sp.name == "batch":
                vals["self_s"] = sp.self_s()
            per_name.setdefault(sp.name, []).append(vals)
        out = {}
        for name in names:
            runs = per_name.get(name, [])
            keys = list(COUNTERS) + (["self_s"] if name == "batch" else [])
            for k in keys:
                vals = [r[k] for r in runs]
                out[f"{name}.{k}"] = (statistics.median(vals) if vals else 0.0,
                                      COUNTERS.get(k, "s"))
        return out

    def dump(self, path: str) -> None:
        ids = {id(sp): i for i, sp in enumerate(self.spans)}
        rows = [dict(id=ids[id(sp)], name=sp.name, batch=sp.batch,
                     parent=ids.get(id(sp.parent)) if sp.parent else None,
                     start=sp.start, end=sp.end, self_s=sp.self_s(),
                     counters=sp.counters) for sp in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)
