"""Spans and Spark counters recorded at the benchmark's layer boundaries.

The benchmark wraps every call it makes into a program layer (a
package module: ``session``, ``catalog``, ``pipelines``, ``sources``,
``operators``, ``functions``, ``streaming``, ``queries``) in a span.
Nothing inside the program is instrumented.

With tracing off, :meth:`Tracer.span` is a shared no-op context and no
Spark job group is set. With tracing on, each span records name,
start, end, parent span and operation id; a span with a ``layer``
also tags its Spark jobs with a job group and, when it ends, reads the
group's job, task, CPU and shuffle counters from Spark's status store.
Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

LAYERS = ("pipelines", "sources", "operators", "functions", "streaming", "queries")
SPARK_COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_cpu_s", "shuffle_bytes", "driver_only_s")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self.layer = defaultdict(lambda: defaultdict(float))  # layer -> counter -> total
        self._stack: list[int] = []
        self._groups = 0
        self.phase = "setup"  # setup | warmup | timed | check

    def attach(self, spark) -> None:
        """Use ``spark``'s status store for the counters of later spans."""
        self.spark = spark

    def span(self, name: str, layer: str | None = None, op: int | None = None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, layer, op)

    @contextlib.contextmanager
    def _span(self, name, layer, op):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "phase": self.phase,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext if layer and self.spark is not None else None
        group = None
        if sc is not None:
            self._groups += 1
            group = f"bench-{self._groups}"
            sc.setJobGroup(group, name)
        rec["wall0"] = time.time()
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["wall1"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec["spark"] = spark_counters(sc, group, rec["wall0"], rec["wall1"])
                if rec["phase"] == "timed":
                    for k, v in rec["spark"].items():
                        self.layer[layer][k] += v

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def write(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                out = {k: s[k] for k in ("id", "name", "parent", "op", "phase", "start", "end")}
                out["self_s"] = selft[s["id"]]
                if "spark" in s:
                    out["spark"] = s["spark"]
                f.write(json.dumps(out) + "\n")

    def durations(self, name: str, phase: str = "timed") -> list[float]:
        """Durations of the spans called ``name`` in ``phase``."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["phase"] == phase
        ]


def spark_counters(sc, group: str, wall0: float, wall1: float) -> dict:
    """Counters of every job run under ``group``, read from the status
    store once the listener bus has drained. ``driver_only_s`` is the
    part of ``[wall0, wall1]`` during which none of those jobs ran."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    intervals = []
    seen = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["jobs"] += 1
        t0 = job.submissionTime()
        t1 = job.completionTime()
        if t0.isDefined():
            end = t1.get().getTime() / 1000 if t1.isDefined() else wall1
            intervals.append((t0.get().getTime() / 1000, end))
        stages = job.stageIds()
        for i in range(stages.size()):
            sid = stages.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_bytes"] += st.shuffleWriteBytes()
    busy = 0.0
    cur0 = cur1 = None
    for a, b in sorted(intervals):
        a, b = max(a, wall0), min(b, wall1)
        if b <= a:
            continue
        if cur1 is None or a > cur1:
            if cur1 is not None:
                busy += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        busy += cur1 - cur0
    out["driver_only_s"] = max(0.0, (wall1 - wall0) - busy)
    return out
