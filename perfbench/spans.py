"""Spans, Spark work counters and memory readings for the benchmark.

Spans are recorded only in a traced run (``Tracer(on=True)``), around
the benchmark's own calls into each layer's public function, kept in
memory and written out once when the run ends. Spark counters come from
outside the program: each traced layer call runs under its own job
group, and the job, stage and task counts are read back from
``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


class Tracer:
    """In-memory span recorder: (id, name, start, end, parent, rid)."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rid=None, **attrs):
        """Record the enclosed block; yields the span's id (None when off)."""
        if not self.on:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "rid": rid, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, rid=None, parent=None, **attrs):
        """Record a span timed elsewhere (e.g. on a client thread)."""
        if self.on:
            self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                               "rid": rid, "start": start, "end": end, **attrs})

    def self_times(self) -> dict[str, float]:
        """Wall seconds per layer (the span name's first dotted part)
        during which that layer held the innermost open span. Each instant
        counts once, however many spans overlap it: concurrent request
        spans under one phase, and the replica's lookups nested in their
        requests, share the instant instead of adding to it. An instant
        with several innermost layers is split evenly between them."""
        depth: dict[int, int] = {}
        for s in self.spans:  # a parent is always recorded before its children
            depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
        edges = sorted([(s["start"], 1, s["id"]) for s in self.spans]
                       + [(s["end"], -1, s["id"]) for s in self.spans])
        name = {s["id"]: s["name"].split(".")[0] for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        open_: set[int] = set()
        prev = None
        for t, kind, sid in edges:
            if open_ and t > prev:
                d = max(depth[i] for i in open_)
                layers = {name[i] for i in open_ if depth[i] == d}
                for layer in layers:
                    out[layer] += (t - prev) / len(layers)
            (open_.add if kind == 1 else open_.discard)(sid)
            prev = t
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobGroups:
    """Runs each traced layer call under its own Spark job group and
    sums that layer's jobs, stages, completed and failed tasks."""

    def __init__(self, sc, on: bool):
        self.sc = sc
        self.on = on
        self.groups: dict[str, list[str]] = defaultdict(list)

    @contextmanager
    def group(self, layer: str):
        if not self.on:
            yield
            return
        gid = f"perfbench-{layer}-{len(self.groups[layer])}"
        self.groups[layer].append(gid)
        self.sc.setJobGroup(gid, layer)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, layer: str) -> dict[str, int]:
        """Jobs, stages, completed tasks and failed tasks of ``layer``.
        A skipped stage (its shuffle output reused) completes no tasks,
        so completed tasks, not planned ones, are counted."""
        st = self.sc.statusTracker()
        jobs, stages = set(), set()
        for gid in self.groups.get(layer, []):
            for j in st.getJobIdsForGroup(gid):
                jobs.add(j)
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                "failed_tasks": failed}
