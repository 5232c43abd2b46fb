"""Spans and counts recorded from the benchmark around calls into the
package's layers, kept in memory and written out when the run ends.

A span is (id, name, start, end, parent, workload, op). A layer's self
time is its span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int):
        rec = {"id": len(self.spans), "name": name, "op": op,
               "workload": self.workload,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, op: int, name: str, value: float) -> None:
        per_op = self.counts.setdefault(op, {})
        per_op[name] = per_op.get(name, 0) + value

    def self_times(self) -> dict[int, dict[str, float]]:
        """op -> span name -> summed self time. Child spans run inside
        their parent and never overlap each other, so the covered part
        of a parent is the sum of its children's durations."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[int, dict[str, float]] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            per_op = out.setdefault(s["op"], {})
            per_op[s["name"]] = per_op.get(s["name"], 0.0) + own
        return out

    def op_walls(self) -> dict[int, float]:
        """op -> duration of its root ``op`` span."""
        return {s["op"]: s["end"] - s["start"] for s in self.spans
                if s["name"] == "op"}

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Median over ops of each span's self time and each count."""
        per_op = self.self_times()
        names = sorted({n for v in per_op.values() for n in v})
        table = {n: statistics.median(v[n] for v in per_op.values()
                                      if n in v) for n in names}
        counted = sorted({n for v in self.counts.values() for n in v})
        counts = {n: statistics.median(v[n] for v in self.counts.values()
                                       if n in v) for n in counted}
        return {"self_s": table, "counts": counts}

    def write(self, spans_path: str, table_path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(spans_path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "start": s["start"] - t0,
                                     "end": s["end"] - t0}) + "\n")
        with open(table_path, "w") as fh:
            json.dump({"workload": self.workload, **self.layer_table()},
                      fh, indent=1, sort_keys=True)


class SparkCounters:
    """Jobs, stages, tasks, failed tasks and shuffle bytes written by
    the jobs of one job group, read from the status tracker and the
    JVM's application status store after the group's jobs ended."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict[str, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"spark.jobs": len(jobs), "spark.stages": 0, "spark.tasks": 0,
               "spark.failed_tasks": 0, "spark.shuffle_write_bytes": 0}
        for sid in stages:
            info = tracker.getStageInfo(sid)
            ran = 0 if info is None else \
                info.numCompletedTasks + info.numFailedTasks
            if ran == 0:
                continue  # skipped: an earlier job's output was reused
            out["spark.stages"] += 1
            out["spark.tasks"] += ran
            out["spark.failed_tasks"] += info.numFailedTasks
            out["spark.shuffle_write_bytes"] += self._shuffle_bytes(sid)
        return out

    def _shuffle_bytes(self, stage_id: int) -> int:
        data = self._store.lastStageAttempt(stage_id)
        return int(data.shuffleWriteBytes())
