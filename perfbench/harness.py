"""Shared pieces of the benchmark: the percentile rule, in-memory spans,
per-call Spark job accounting, and the result line.

Nothing here imports pyspark at module level, so the self-checks in
``test_harness.py`` run without a JVM.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from contextlib import contextmanager

# A failed operation enters the latency samples as +inf (it misses every
# bound); a non-finite figure is printed as this many milliseconds.
FAILED_MS = 1e9


def percentile(samples: list[float], q: float, min_beyond: int = 10) -> float:
    """``q``-quantile of ``samples`` (0 < q < 1), linearly interpolated
    between the two nearest ranks (numpy's default method).

    Raises ``ValueError`` unless at least ``min_beyond`` samples lie
    beyond the nearest rank ``ceil(q * n)``, so a reported tail is never
    one or two stragglers. Failed operations are +inf samples and sort
    last; a quantile that touches one is +inf."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    n = len(samples)
    if n - math.ceil(q * n) < min_beyond:
        raise ValueError(
            f"p{q * 100:g} of {n} samples leaves {n - math.ceil(q * n)} "
            f"beyond it; need {min_beyond}")
    xs = sorted(samples)
    h = (n - 1) * q
    lo = math.floor(h)
    a, b = xs[lo], xs[min(lo + 1, n - 1)]
    if math.isinf(a) or math.isinf(b):
        return max(a, b)
    return a + (h - lo) * (b - a)


def min_samples(q: float, min_beyond: int = 10) -> int:
    """Smallest sample count for which ``percentile(.., q)`` is allowed."""
    n = min_beyond
    while n - math.ceil(q * n) < min_beyond:
        n += 1
    return n


def finite(v: float) -> float:
    return v if math.isfinite(v) else FAILED_MS


# ---------------------------------------------------------------- spans
class Tracer:
    """Spans kept in memory: name, start, end, parent and request id.

    A disabled tracer records nothing and costs one attribute test per
    span, so untraced runs time the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self._spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, req: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "thread": threading.get_ident(),
            **attrs,
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self._spans.append(rec)

    @property
    def spans(self) -> list[dict]:
        with self._lock:
            return list(self._spans)

    def dump(self, path: str) -> None:
        """Write the spans, one JSON object a line, with self times."""
        spans = self.spans
        selfs = self_times(spans)
        with open(path, "w") as fh:
            for s in spans:
                fh.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def op_layers(spans: list[dict], ops: list[dict]) -> dict[str, float]:
    """Per-operation means of the layer figures every workload has: self
    time by phase (the spans tagged ``phase`` = build, plan or exec) and
    Spark jobs and stages (the ``ops`` records' probe counts)."""
    n = max(len(ops), 1)
    selfs = self_times(spans)
    phase = {"build": 0.0, "plan": 0.0, "exec": 0.0}
    for s in spans:
        if "phase" in s:
            phase[s["phase"]] += selfs[s["id"]]
    return {
        **{f"op.{p}_ms": t * 1e3 / n for p, t in phase.items()},
        "op.jobs": sum(r["jobs"] for r in ops) / n,
        "op.build_jobs": sum(r.get("build_jobs", r["jobs"]) for r in ops) / n,
        "op.exec_jobs": sum(r.get("exec_jobs", 0) for r in ops) / n,
        "op.stages": sum(r["stages"] for r in ops) / n,
    }


def span_cost_us(n: int = 20000) -> float:
    """Measured cost of recording one span, in microseconds."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n * 1e6


# ------------------------------------------------------- Spark job counts
class JobProbe:
    """Counts the Spark jobs and stages a call runs.

    Each probed call runs under its own job group (a thread-local
    property, so concurrent client threads do not mix), read back with
    ``statusTracker`` right after the call returns. The group ids also
    tag the timed work for the event-log parser (``PREFIX``)."""

    PREFIX = "pb:"

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._ids = itertools.count()

    @contextmanager
    def group(self, label: str):
        """Yields a dict that holds ``jobs`` and ``stages`` on exit."""
        out = {"jobs": 0, "stages": 0, "group": None}
        if not self.enabled:
            yield out
            return
        gid = f"{self.PREFIX}{next(self._ids)}:{label}"
        out["group"] = gid
        self.sc.setJobGroup(gid, label)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            out["jobs"] = len(jobs)
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages += len(info.stageIds)
            out["stages"] = stages


# ------------------------------------------------------------ result line
def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": finite(float(v)), "unit": u}
                    for k, (v, u) in metrics.items()},
    })
