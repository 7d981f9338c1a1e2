"""Spans and Spark counters for the benchmark's traced runs.

A span is recorded in the benchmark's own code around a call into one
engine layer: name, start, end and parent, kept in memory and written out
when the run ends. Self time is a span's duration minus the part its
children cover. With tracing off every method is a cheap no-op, so the
timed runs measure the engine and nothing else.

Each traced engine call runs under its own Spark job group; after the call
the group's jobs are looked up in the status tracker and their stages'
counters (tasks, executor CPU, GC, shuffle, spill, input bytes) are read
from the status store once the listener bus has caught up.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# stage counters read from the status store, summed per call
STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "memoryBytesSpilled",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
}
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas")


class Tracer:
    def __init__(self, enabled: bool, spark=None, settle_s: float = 2.0):
        self.enabled = enabled
        self.spark = spark
        self.settle_s = settle_s
        self.spans: list[dict] = []
        self.calls: list[dict] = []   # per-call Spark counters
        self._stack: list[int] = []
        self._group = 0
        self.overhead_s = 0.0  # time spent reading counters

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def job_group(self, kind: str):
        """Run the body under a fresh job group and record its counters."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._group += 1
        group = f"perfbench-{self._group}"
        sc.setJobGroup(group, kind)
        rec = {"group": group, "kind": kind}
        try:
            yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            t0 = time.perf_counter()
            rec.update(self._counters(group))
            self.overhead_s += time.perf_counter() - t0
            self.calls.append(rec)

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.extend(info.stageIds)
        store = sc._jsc.sc().statusStore()
        out = {"jobs": len(jobs), "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        deadline = time.perf_counter() + self.settle_s
        for sid in stage_ids:
            data = self._stage(store, sid, deadline)
            if data is None:
                continue  # skipped stage (its shuffle output was reused)
            out["stages"] += 1
            for key, getter in STAGE_FIELDS.items():
                out[key] += int(getattr(data, getter)())
        return out

    @staticmethod
    def _stage(store, sid: int, deadline: float):
        """Last attempt of a finished stage, waiting for the listener bus
        until `deadline`; None for a stage that never ran."""
        while True:
            try:
                data = store.lastStageAttempt(sid)
            except Exception:  # py4j: NoSuchElementException, not yet posted
                data = None
            if data is not None:
                status = data.status().toString()
                if status in ("COMPLETE", "FAILED"):
                    return data
                if status == "SKIPPED":
                    return None
            if time.perf_counter() > deadline:
                return data if data is not None and data.status().toString() != "PENDING" else None
            time.sleep(0.02)

    # ------------------------------------------------------------ summaries

    def self_times(self) -> dict[str, float]:
        """Total self time (s) per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"] - child[s["id"]])
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "calls": self.calls,
                       "self_time_s": self.self_times(), **extra}, fh)


def python_nodes(df) -> int:
    """Python/Arrow evaluation nodes in a frame's executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(plan.count(n) for n in PYTHON_NODES)
