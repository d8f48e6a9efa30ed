"""Spans and Spark counters for the traced benchmark run.

A span brackets one call into an engine layer, made from the benchmark's
own code. While a span is open its Spark jobs carry a job tag
(``SparkContext.addJobTag`` is thread-local, so only this thread's jobs
are attributed); when it closes, the job ids for the tag are read from
the JVM status tracker and their stages from the status store, which
works with the UI server disabled. Spans stay in memory and are written
out once, at the end of the run.

Tags nest: a job started inside a child span carries the parent's tag
too, so a parent's counters include its children's. Self time is a
span's duration minus the time its children cover.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "scan_rows",
            "scan_bytes", "shuffle_bytes", "spill_bytes")
# counters that must repeat exactly for the same inputs and core count;
# compressed shuffle bytes depend on the order rows reach a map task
EXACT = ("jobs", "stages", "tasks", "scan_rows")


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._phase = "setup"

    def set_phase(self, phase: str) -> None:
        self._phase = phase

    @contextmanager
    def span(self, layer: str, op: str):
        if not self.enabled:
            yield {}
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "op_id": parent["op_id"] if parent else sid,
            "phase": self._phase,
            "layer": layer,
            "op": op,
            "tag": f"perfbench-{os.getpid()}-{sid}",
            "start": time.perf_counter(),
        }
        self._stack.append(rec)
        self.sc.addJobTag(rec["tag"])
        t_body = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = t_end = time.perf_counter()
            self.sc.removeJobTag(rec["tag"])
            self._stack.pop()
            rec.update(self._counters(rec["tag"]))
            # the tracer's own time: tagging before the body, and tagging
            # plus the status-store reads after it
            rec["overhead_s"] = (t_body - rec["start"]) + (time.perf_counter() - t_end)
            self.spans.append(rec)

    def _counters(self, tag: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status store is fed by the listener bus: drain it first
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = jsc.statusTracker(), jsc.statusStore()
        job_ids = sorted(int(j) for j in tracker.getJobIdsForTag(tag))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info.isDefined():
                stage_ids.update(int(s) for s in info.get().stageIds())
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(job_ids)
        out["job_ids"] = job_ids
        for s in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["scan_rows"] += sd.inputRecords()
            out["scan_bytes"] += sd.inputBytes()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def wrap(self, owner, attr: str, layer: str, op: str, after=None) -> None:
        """Replace ``owner.attr`` with a version that runs in a span.
        ``after(span, result)`` may add fields once the span has closed."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, op) as rec:
                result = fn(*args, **kwargs)
            if after is not None and rec:
                t0 = time.perf_counter()
                after(rec, result)
                rec["overhead_s"] += time.perf_counter() - t0
            return result

        setattr(owner, attr, traced)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def self_seconds(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus its children's."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def total(spans: list[dict], key: str) -> float:
    return sum(s[key] for s in spans)


def seconds(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)
