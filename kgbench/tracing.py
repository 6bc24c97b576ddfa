"""In-memory spans around the benchmark's calls into each engine layer,
plus the Spark counters of the jobs each call ran.

A span records name, start, end, parent and trace id; spans stay in
memory and are written out when the run ends.  With tracing on, every
span also tags the Spark jobs it triggers with its own job group, so
``statusTracker`` gives the jobs per layer and the event log (enabled
only in traced runs) gives their tasks, task time, shuffle, spill and
GC.  With tracing off a span is a bare context manager: no clock reads,
no job groups, and the extra counting jobs that only feed layer counts
are skipped by the callers (``Tracer.on``).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

LAYERS = [
    "session",
    "extraction",
    "dedup",
    "encode",
    "ntriples",
    "fixpoint",
    "ingest",
    "retract",
    "materialize",
    "match",
]
SPARK_COUNTERS = ["spark_jobs", "tasks", "failed_tasks", "task_s", "shuffle_bytes", "spill_bytes", "gc_s"]
# layer-specific counts; every one is a per-op mean in the result
LAYER_COUNTS = {
    "extraction": ["pages", "mentions", "fidelity_violations"],
    "dedup": ["kept_ratio"],
    "encode": ["stated_facts", "terms", "dup_ratio"],
    "ntriples": ["lines"],
    "fixpoint": ["rounds", "new_facts", "rules_dispatched", "s_per_round"],
    "ingest": ["new_facts", "store_facts"],
    "retract": ["removed_facts"],
    "materialize": ["bytes", "files"],
    "match": ["rows"],
}


def per_layer_names() -> list[str]:
    names = []
    for layer in LAYERS:
        names += [f"{layer}.busy_s"] + [f"{layer}.{c}" for c in SPARK_COUNTERS] + [f"{layer}.core_util"]
        names += [f"{layer}.{c}" for c in LAYER_COUNTS.get(layer, [])]
    return names + ["trace.overhead_s"]


class Span:
    __slots__ = ("id", "name", "parent", "trace_id", "start", "end", "counts")

    def __init__(self, sid, name, parent, trace_id):
        self.id, self.name, self.parent, self.trace_id = sid, name, parent, trace_id
        self.start = self.end = 0.0
        self.counts: dict[str, float] = {}


class Tracer:
    """Span recorder for a run with tracing ``enabled``.  ``on`` says
    whether the current op is traced; while it is off every span is a
    no-op and callers still get a Span to put counts on, which is then
    dropped."""

    def __init__(self, enabled: bool):
        self.enabled = self.on = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace_id = 0
        self.sc = None  # set once the session exists

    def new_trace(self) -> None:
        """Start a new trace id: one per workload op."""
        self._trace_id += 1

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield Span(0, name, None, 0)
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans) + 1, name, parent.id if parent else None, self._trace_id)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sp.id}", name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_ids(self) -> dict[int, list[int]]:
        """Span id -> Spark job ids, from ``statusTracker`` (read before
        the context stops)."""
        st = self.sc.statusTracker()
        return {sp.id: list(st.getJobIdsForGroup(f"span-{sp.id}")) for sp in self.spans}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "trace_id": s.trace_id,
                            "start": s.start,
                            "end": s.end,
                            "counts": s.counts,
                        }
                        for s in self.spans
                    ],
                    **extra,
                },
                f,
                indent=1,
            )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its direct children cover
    (children of one span run sequentially here, so they never overlap)."""
    own = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= s.end - s.start
    return own


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task counters, from the Spark event log
    (readable once the context has stopped).  Stages are attributed to
    the job group in their submission properties."""
    out: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    c = out.setdefault(
                        group,
                        {"tasks": 0, "failed_tasks": 0, "task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_s": 0.0},
                    )
                    c["tasks"] += 1
                    c["failed_tasks"] += int(bool(info.get("Failed")))
                    c["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return out


def layer_metrics(
    spans: list[Span], job_ids: dict[int, list[int]], counters: dict[str, dict], cores: int, ops: int
) -> dict[str, float]:
    """Fold spans into the per-layer metrics: every value is a mean per
    workload op (``ops`` = traced ops), except ``session.*`` (once per
    run).  A layer the workload never calls reports zeros."""
    own = self_times(spans)
    acc = {layer: {"busy_s": 0.0, "spark_jobs": 0} for layer in LAYERS}
    for layer in LAYERS:
        acc[layer].update({c: 0 for c in SPARK_COUNTERS[1:]})
        acc[layer].update({c: 0 for c in LAYER_COUNTS.get(layer, [])})
    for sp in spans:
        if sp.name not in acc:
            continue
        a = acc[sp.name]
        a["busy_s"] += own[sp.id]
        a["spark_jobs"] += len(job_ids.get(sp.id, []))
        for k, val in counters.get(f"span-{sp.id}", {}).items():
            a[k] += val
        for k, val in sp.counts.items():
            a[k] += val
    out: dict[str, float] = {}
    for layer, a in acc.items():
        div = 1 if layer == "session" else max(ops, 1)
        for k, val in a.items():
            out[f"{layer}.{k}"] = val / div
        busy = a["busy_s"]
        out[f"{layer}.core_util"] = a["task_s"] / (busy * cores) if busy > 0 else 0.0
    return out
