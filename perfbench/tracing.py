"""Spans and Spark counts recorded from the benchmark's side of each call
into the program.

A span has a name, a layer, a start, an end, a parent and an op id.
While a span is open its Spark job group is set, so every job the call
runs is tagged; when it closes, the jobs of the group are read back
through ``statusTracker`` and their stages from the status store (task
time, input, shuffle and spill bytes).  A job belongs to the innermost
open span.  Spans stay in memory and are written out when the run ends.

With tracing off, ``span`` is a no-op: the untraced run pays nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time

from py4j.protocol import Py4JJavaError

COUNT_KEYS = ("jobs", "tasks", "task_s", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.cost_s = 0.0          # time spent reading counts back
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op"),
               "start": time.perf_counter() - self.t0, "child_cost_s": 0.0}
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            t = time.perf_counter()
            rec.update(self._counts(f"perfbench-{sid}"))
            rec["count_s"] = time.perf_counter() - t
            self.cost_s += rec["count_s"]
            if parent is not None:
                parent["child_cost_s"] += rec["count_s"]
            self.spans.append(rec)

    def _counts(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNT_KEYS, 0)
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                try:
                    st = store.lastStageAttempt(stage)
                except Py4JJavaError:      # skipped stage: never ran
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
        return out

    # -- aggregation ---------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def median(self, name: str, key: str = "s") -> float:
        """Median per call of a span's duration (``key="s"``) or count;
        0 when the workload never makes that call."""
        spans = self.named(name)
        if not spans:
            return 0.0
        if key == "s":
            return statistics.median(s["end"] - s["start"] for s in spans)
        return statistics.median(total(self.spans, s)[key] for s in spans)

    def self_times(self) -> dict[str, dict]:
        """Per layer: self time (span duration less the time its child
        spans and their count read-back cover), calls and own jobs."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
        out: dict[str, dict] = {}
        for s in self.spans:
            own = (s["end"] - s["start"] - child_s.get(s["id"], 0.0)
                   - s["child_cost_s"])
            row = out.setdefault(s["layer"], {"self_s": 0.0, "calls": 0,
                                              "jobs": 0})
            row["self_s"] += own
            row["calls"] += 1
            row["jobs"] += s["jobs"]
        return out

    def add(self, name: str, layer: str, start: float, end: float) -> None:
        """Record a span timed before the tracer existed (the session
        start); it has no Spark counts."""
        rec = {"id": next(self._ids), "name": name, "layer": layer,
               "parent": None, "op": None, "start": start - self.t0,
               "end": end - self.t0, "child_cost_s": 0.0, "count_s": 0.0}
        rec.update(dict.fromkeys(COUNT_KEYS, 0))
        self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "count_cost_s": self.cost_s}, fh)


def total(spans: list[dict], root: dict) -> dict:
    """A span's counts including every descendant's."""
    out = {k: root[k] for k in COUNT_KEYS}
    kids = [s for s in spans if s["parent"] == root["id"]]
    for k in kids:
        sub = total(spans, k)
        for key in COUNT_KEYS:
            out[key] += sub[key]
    return out


def report(tracer: Tracer) -> str:
    """The self-time table: each layer's share of the wall time the
    top-level spans cover, plus the part spent reading counts back."""
    wall_s = sum(s["end"] - s["start"] for s in tracer.spans
                 if s["parent"] is None)
    inner_cost = sum(s["count_s"] for s in tracer.spans
                     if s["parent"] is not None)
    rows = sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"])
    lines = [f"{'layer':<28}{'self_s':>10}{'share':>8}{'calls':>7}{'jobs':>7}"]
    for layer, r in rows:
        lines.append(f"{layer:<28}{r['self_s']:>10.3f}"
                     f"{100 * r['self_s'] / wall_s:>7.1f}%"
                     f"{r['calls']:>7}{r['jobs']:>7}")
    lines.append(f"{'(count read-back)':<28}{inner_cost:>10.3f}"
                 f"{100 * inner_cost / wall_s:>7.1f}%")
    accounted = sum(r["self_s"] for _, r in rows) + inner_cost
    lines.append(f"{'traced wall':<28}{wall_s:>10.3f}"
                 f"  (spans account for {accounted:.3f})")
    return "\n".join(lines)
