"""Spans around the benchmark's calls into each layer of ``sparkgatha``.

Every timed call runs inside ``Tracer.span``; the span's wall time is
what the end-to-end and per-layer metrics are made of, so untraced runs
keep the spans too (two clock reads each).  With ``spark_counts`` on,
a span also sets a Spark job group and, when it closes, claims its
jobs, stages and tasks from the status tracker: the jobs of its group
plus any ungrouped jobs not yet claimed (layers that submit from worker
threads, such as ``prepare_pagerank``, leave their jobs ungrouped).
Shuffle bytes per stage come from the Spark UI's REST API, read once
when the run ends.  Spans stay in memory until ``dump`` writes them.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    stages: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, spark_counts: bool):
        self.spark = spark
        self.run_id = run_id
        self.spark_counts = spark_counts
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._claimed: set[int] = set()
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.span_id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.spark_counts:
            t = time.perf_counter()
            if parent is None:
                # jobs run outside any span belong to no layer
                self._claimed.update(
                    self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
                )
            self.spark.sparkContext.setJobGroup(self._group(sp), name)
            self.bookkeeping_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.spark_counts:
                t = time.perf_counter()
                self._claim(sp, parent)
                self.bookkeeping_s += time.perf_counter() - t

    def _group(self, sp: Span) -> str:
        return f"{self.run_id}/{sp.span_id}"

    def _claim(self, sp: Span, parent: Span | None) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        jobs = [
            j for j in list(tracker.getJobIdsForGroup(self._group(sp)))
            + list(tracker.getJobIdsForGroup(None))
            if j not in self._claimed
        ]
        self._claimed.update(jobs)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = tracker.getStageInfo(s)
                if stage is not None:
                    tasks += stage.numTasks
                sp.stages.append(s)
        sp.attrs["spark.jobs"] = len(jobs)
        sp.attrs["spark.tasks"] = tasks
        if parent is not None:
            sc.setJobGroup(self._group(parent), parent.name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def add_shuffle_bytes(self) -> None:
        """Attach shuffle read/write bytes per span from the UI REST API."""
        if not self.spark_counts:
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=60) as resp:
            stages = json.load(resp)
        read: dict[int, int] = {}
        write: dict[int, int] = {}
        for st in stages:
            sid = st["stageId"]
            read[sid] = read.get(sid, 0) + st.get("shuffleReadBytes", 0)
            write[sid] = write.get(sid, 0) + st.get("shuffleWriteBytes", 0)
        for sp in self.spans:
            sp.attrs["spark.shuffle_read_bytes"] = sum(read.get(s, 0) for s in sp.stages)
            sp.attrs["spark.shuffle_write_bytes"] = sum(write.get(s, 0) for s in sp.stages)
        self.bookkeeping_s += time.perf_counter() - t

    def total(self, root: Span, key: str) -> int:
        """Sum of a Spark count over ``root`` and every span below it."""
        below = {root.span_id}
        out = 0
        for sp in self.spans[root.span_id:]:
            if sp.span_id == root.span_id or sp.parent in below:
                below.add(sp.span_id)
                out += sp.attrs.get(key, 0)
        return out

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, edge = 0.0, sp.start
            for c in sorted(children.get(sp.span_id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[sp.span_id] = sp.seconds - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        self_s = self.self_seconds()
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "run_id": self.run_id,
                "span_id": sp.span_id,
                "name": sp.name,
                "parent": sp.parent,
                "start_s": round(sp.start - t0, 6),
                "end_s": round(sp.end - t0, 6),
                "self_s": round(self_s[sp.span_id], 6),
                **sp.attrs,
            }
            for sp in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1)
