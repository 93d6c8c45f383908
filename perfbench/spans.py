"""Spans around calls into the program's layers, recorded from outside.

A span has a name, start, end, parent span and trace id; spans of one
benchmark operation share the trace id (``kv.get`` -> ``collection.get``,
``query`` -> ``query.build``/``query.plan``/``query.execute``). Each span
runs its calls under its own Spark job group, so after the run the job,
stage, task and failed-task counts of every span are read back through
``sparkContext.statusTracker()``.

With tracing off, :meth:`Tracer.span` does nothing but yield, so untraced
runs pay no job-group or bookkeeping cost. Spans stay in memory and are
written as JSON lines by :meth:`Tracer.dump` when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Span-name prefix -> the layer whose code runs inside the span. Root
# spans (the benchmark's own operations) belong to the "bench" layer:
# their self time is the client's model checks and bookkeeping.
LAYERS = (
    ("session.", "session"),
    ("collection.", "collection"),
    ("hadrolog.", "hadrolog"),
    ("query.build", "operators"),
    ("query.plan", "catalyst"),
    ("query.execute", "execution"),
)


def layer_of(name: str) -> str:
    for prefix, layer in LAYERS:
        if name.startswith(prefix):
            return layer
    return "bench"


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        # time the tracer itself spent inside timed operations
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "name": name,
            "group": f"perfbench-{sid}",
            **attrs,
        }
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    "spark.jobGroup.id", parent["group"] if parent else None
                )
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def resolve_counts(self) -> None:
        """Attach Spark job/stage/task counts to every span. Call once, after
        the last operation, so the status store has seen every task end."""
        if not self.enabled or self.sc is None:
            return
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 10
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.5)  # listener-bus lag for the final task-end events
        for rec in self.spans:
            jobs = stages = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for stid in info.stageIds:
                    st = tracker.getStageInfo(stid)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue  # skipped stage: its shuffle output was reused
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    def self_time_by_layer(self, spans: list[dict]) -> dict[str, float]:
        """Per layer, the sum over ``spans`` of duration minus the time
        covered by child spans (children run sequentially in one thread)."""
        child_s: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] = child_s.get(rec["parent"], 0.0) + (
                    rec["end"] - rec["start"]
                )
        out: dict[str, float] = {}
        for rec in spans:
            own = rec["end"] - rec["start"] - child_s.get(rec["id"], 0.0)
            layer = layer_of(rec["name"])
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec, default=str) + "\n")
