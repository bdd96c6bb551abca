"""What every workload shares: the closed-loop op timer, the output
checks and the latency summaries."""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from collections import defaultdict

#: what ``Run.op`` returns when the op raised
FAILED = object()


class Run:
    """One workload run: a single client in a closed loop (each op waits
    for the one before it).  Ops are timed by role (``read``/``write``)
    and by kind; a failed check or a raising op marks the run incorrect."""

    def __init__(self, spark, tracer, seconds: float, rng, work: str,
                 size: str):
        self.spark = spark
        self.tracer = tracer
        self.seconds = seconds
        self.rng = rng
        self.work = work
        self.size = size
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.by_kind: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def start_clock(self) -> None:
        """Start the timed phase; ``lat`` holds only its ops from here."""
        self.lat = defaultdict(list)
        self.t_start = time.perf_counter()

    def stop_clock(self) -> None:
        self.elapsed = time.perf_counter() - self.t_start

    def op(self, kind: str, role: str, layer: str, fn, *args, **kw):
        """Time one op inside a span; returns its result, or ``FAILED``
        when it raised (counted, with the traceback on stderr)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(kind, layer, op=self.attempted):
                out = fn(*args, **kw)
        except Exception:  # noqa: BLE001 - a failed op must not end the loop
            self.failed += 1
            print(f"perfbench: op {kind} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return FAILED
        dt = time.perf_counter() - t
        self.lat[role].append(dt)
        self.by_kind[kind].append(dt)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.mismatches.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    @property
    def correct(self) -> bool:
        return not self.mismatches and self.failed == 0

    def summary(self) -> dict:
        """Median and the highest percentile with at least ten samples
        beyond it, with the sample count, per op kind."""
        return {k: describe(v) for k, v in sorted(self.by_kind.items())}


def describe(values: list[float]) -> dict:
    out = {"n": len(values), "p50": statistics.median(values)}
    # the highest of p90/p75 that leaves at least ten samples above it
    for q in (90, 75):
        if len(values) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = statistics.quantiles(values, n=100)[q - 1]
            break
    return out
