"""Spans and small statistics for the benchmark's traced run.

A `Tracer` keeps every span in memory (name, start, end, parent span, run
id and free-form attributes) and writes them out once, when the run ends.
Spans are opened from the benchmark's own code around calls into the
package's layers; nothing inside `kinesis3_spark` is instrumented.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass


@dataclass
class Outcome:
    """What one workload run hands back to the runner."""

    setup_s: float  # program work before the clock starts (session excluded)
    latencies: list[float]  # one per operation, seconds
    throughput: float  # operations per second of the median timed operation or pass
    jobs_per_op: float  # Spark jobs started in the timed phase, per operation
    tasks_per_op: float  # Spark tasks started in the timed phase, per operation
    attempted: int  # operations whose outputs were checked
    failed: int  # of those, missing, wrong or raised
    layers: dict  # per-layer figures (traced runs only)
    detail: dict


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block as one span; the yielded dict takes attributes."""
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def maybe_span(tracer: Tracer | None, name: str, **attrs):
    """`tracer.span(...)`, or a no-op yielding None when not tracing."""
    return tracer.span(name, **attrs) if tracer is not None else nullcontext()


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1]); 0.0 for an empty sample."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def jobs_in_group(spark, group: str) -> set[int]:
    """Ids of the Spark jobs the status tracker holds for a job group."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def spark_started(spark) -> tuple[int, int]:
    """(jobs, tasks) the session has started so far: the next job id of
    the DAG scheduler and the next task id of the task scheduler, which
    both count up from 0."""
    sc = spark.sparkContext._jsc.sc()
    return int(sc.dagScheduler().nextJobId()), int(sc.taskScheduler().nextTaskId())


def per_op(before: tuple[int, int], after: tuple[int, int], ops: int) -> tuple[float, float]:
    """Jobs and tasks started between two `spark_started` readings, per op."""
    return tuple((b - a) / max(1, ops) for a, b in zip(before, after))
