"""Spans around the benchmark's calls into the engine, and Spark jobs
given to spans by time.

A span records a name and its wall interval. After the run, every Spark
job is read from the driver's status store (submission and completion
time, failed tasks) and given to the innermost span that was open when
the job was submitted. The benchmark is one client on one thread, so a
job submitted during a call belongs to that call, including jobs that
the engine submits from its own helper threads, which a job group would
miss.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark reports job times in whole milliseconds; Python's clock is finer.
_EDGE_MS = 1.0


class Tracer:
    """Collects spans and Spark jobs; does nothing when disabled."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int]] = []
        self.jobs: list[tuple[int, int, int, int]] = []
        self.self_s = 0.0
        self._depth = 0
        if enabled:
            self._sc = spark.sparkContext._jsc.sc()
            self._next_job = 0
            self.harvest()
            self.jobs.clear()  # jobs from before tracing started

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        start = time.time() * 1000.0
        self._depth += 1
        try:
            yield
        finally:
            self._depth -= 1
            self.spans.append((name, start, time.time() * 1000.0, self._depth))

    def harvest(self) -> None:
        """Read finished jobs from the status store. Call often enough that
        the store's retention (spark.ui.retainedJobs) never drops one."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        from py4j.protocol import Py4JJavaError

        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        while True:
            try:
                jd = store.job(self._next_job)
            except Py4JJavaError:
                break
            done = jd.completionTime()
            if not done.isDefined():
                break
            self.jobs.append(
                (
                    self._next_job,
                    jd.submissionTime().get().getTime(),
                    done.get().getTime(),
                    jd.numFailedTasks(),
                )
            )
            self._next_job += 1
        self.self_s += time.perf_counter() - t0

    def attribute(self) -> tuple[dict[int, list[tuple[int, int, int]]], int]:
        """Map span index -> [(submit_ms, complete_ms, failed_tasks)], and
        the number of jobs submitted while no span was open."""
        by_span: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
        unattributed = 0
        for _, sub, comp, failed in self.jobs:
            best = None
            for i, (_, s, e, depth) in enumerate(self.spans):
                if s - _EDGE_MS <= sub <= e + _EDGE_MS:
                    inside = s <= sub <= e
                    key = (inside, depth, s)
                    if best is None or key > best[0]:
                        best = (key, i)
            if best is None:
                unattributed += 1
            else:
                by_span[best[1]].append((sub, comp, failed))
        return by_span, unattributed

    def layer_stats(self) -> tuple[dict[str, dict[str, float]], dict[str, float]]:
        """Per span name: ms_p50 (call wall), jobs (median jobs per call),
        driver_gap_ms (median of call wall minus the union of its jobs'
        intervals), task_failures (sum). Plus trace-wide totals."""
        by_span, unattributed = self.attribute()
        calls: dict[str, list[tuple[float, int, float, int]]] = defaultdict(list)
        for i, (name, s, e, _) in enumerate(self.spans):
            jobs = by_span.get(i, [])
            busy = _union_ms([(max(a, s), min(b, e)) for a, b, _ in jobs])
            calls[name].append(
                (e - s, len(jobs), max(0.0, (e - s) - busy), sum(f for *_, f in jobs))
            )
        out = {}
        for name, rows in calls.items():
            out[name] = {
                "ms_p50": statistics.median(r[0] for r in rows),
                "jobs": statistics.median(r[1] for r in rows),
                "driver_gap_ms": statistics.median(r[2] for r in rows),
                "task_failures": sum(r[3] for r in rows),
                "calls": len(rows),
            }
        totals = {
            "unattributed_jobs": unattributed,
            "jobs": len(self.jobs),
            "task_failures": sum(j[3] for j in self.jobs),
        }
        return out, totals


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
