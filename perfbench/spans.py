"""Spans around the benchmark's calls into the program's layers.

With tracing on, every layer span gets its own Spark job group, so the
jobs, stages and task metrics Spark records for it can be read back from
the status tracker and the status store (both work with the UI off).
With tracing off, spans cost nothing and nothing is recorded.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: list[dict] = []  # one dict per operation
        self._stack: list[int] = []
        self._op: int | None = None

    @contextmanager
    def op(self, kind: str, op_id: int):
        """The root span of one operation."""
        self._op = op_id
        if self.enabled:
            self.counts.append({"op": op_id, "kind": kind})
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            if self.enabled:
                self._collect_spark(op_id)
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self._op,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent}",
                                    self.spans[parent]["name"])

    def count(self, name: str, value: float) -> None:
        """A per-operation count, recorded where the work happens."""
        if self.enabled:
            c = self.counts[-1]
            c[name] = c.get(name, 0) + value

    def _collect_spark(self, op_id: int) -> None:
        """Jobs, stages, tasks and stage task metrics of every span of one
        operation, read once the listener bus has drained."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in self.spans:
            if rec["op"] != op_id or "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{rec['id']}")
            stats = dict(jobs=len(jobs), stages=0, tasks=0, busy_ms=0,
                         gc_ms=0, shuffle_write_b=0, spill_b=0)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = tracker.getStageInfo(s)
                    if si is None or si.numCompletedTasks == 0:
                        continue  # skipped (reused shuffle) stages ran nothing
                    sd = store.stageAttempt(s, si.currentAttemptId, False,
                                            None, False, None)._1()
                    stats["stages"] += 1
                    stats["tasks"] += sd.numCompleteTasks()
                    stats["busy_ms"] += sd.executorRunTime()
                    stats["gc_ms"] += sd.jvmGcTime()
                    stats["shuffle_write_b"] += sd.shuffleWriteBytes()
                    stats["spill_b"] += sd.diskBytesSpilled()
            rec["jobs"] = stats


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover (children
    of one span run one after another, so their durations add)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def per_op_ms(spans: list[dict], name: str) -> float:
    """Median over operations of the time spent in spans called ``name``
    (inclusive of their children); 0.0 when no operation calls it."""
    per: dict[int, float] = {}
    for s in spans:
        if s["name"] == name:
            per[s["op"]] = per.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1e3
    return statistics.median(per.values()) if per else 0.0


def spark_per_op(spans: list[dict], n_ops: int) -> dict[str, float]:
    """Mean Spark work per operation over every traced span."""
    tot = dict(jobs=0, stages=0, tasks=0, busy_ms=0, gc_ms=0,
               shuffle_write_b=0, spill_b=0)
    for s in spans:
        for k, v in s.get("jobs", {}).items():
            tot[k] += v
    n = max(n_ops, 1)
    return {k: v / n for k, v in tot.items()}
