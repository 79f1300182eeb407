"""Shared pieces of the workloads: the timed-op recorder, percentiles,
memory and disk probes, and the run context."""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class _NullTracer:
    """Stands in for the Tracer where calls are not traced (warm-up)."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    def harvest(self) -> None:
        pass


NULL_TRACER = _NullTracer()


class Failed:
    """Returned by Ops.call when the op raised."""


FAILED = Failed()


def _conflict_errors() -> tuple[type, ...]:
    from feature_store_spark.sources import delta, iceberg_write

    return (delta.ConcurrentWriteError, iceberg_write.ConcurrentWriteError)


class Ops:
    """Times client calls and counts them. An exception fails the op
    without stopping the run; a commit conflict is retried (at most
    twice) and counted."""

    def __init__(self, tracer, cpu=None, jobs=None):
        self.by_span: dict[str, list[float]] = defaultdict(list)
        self.cpu, self.jobs = cpu, jobs
        self.cpu_ms: dict[str, list[float]] = defaultdict(list)
        self.job_counts: dict[str, list[int]] = defaultdict(list)
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.retries = 0
        self.errors: list[str] = []
        self.ms: dict[str, list[float]] = defaultdict(list)
        self._conflicts = _conflict_errors()

    def call(self, kind: str, span: str, fn):
        """Run ``fn`` as one op of ``kind`` inside span ``span``. Its wall
        ms goes to ``ms[kind]`` and ``by_span[span]``, its CPU ms to
        ``cpu_ms[kind]`` and its Spark job count to ``job_counts[kind]``."""
        self.attempted += 1
        for _ in range(3):
            c0 = self.cpu() if self.cpu else 0.0
            j0 = self.jobs() if self.jobs else 0
            t0 = time.perf_counter()
            try:
                with self.tracer.span(span):
                    out = fn()
            except self._conflicts:
                self.retries += 1
                continue
            except Exception as e:  # counted, reported, and the run goes on
                self.fail(f"{span}: {type(e).__name__}: {e}")
                return FAILED
            ms = (time.perf_counter() - t0) * 1000.0
            self.ms[kind].append(ms)
            self.by_span[span].append(ms)
            if self.cpu:
                self.cpu_ms[kind].append((self.cpu() - c0) * 1000.0)
            if self.jobs:
                self.job_counts[kind].append(self.jobs() - j0)
            return out
        self.fail(f"{span}: gave up after repeated commit conflicts")
        return FAILED

    def fail(self, message: str) -> None:
        self.failed += 1
        self.errors.append(message[:400])

    def check(self, what: str, mismatches: list[str]) -> None:
        """Count one output check; a non-empty mismatch list fails it."""
        self.attempted += 1
        if mismatches:
            self.fail(f"check {what}: {len(mismatches)} mismatches, e.g. {mismatches[:3]}")


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latency_summary(values: list[float], tail_pct: int) -> dict:
    """Mean, median and a fixed tail percentile, with the sample count and
    how many samples lie beyond the tail (the tail is meaningful when
    that is at least ten)."""
    tail = percentile(values, tail_pct)
    return {
        "mean": statistics.fmean(values),
        "p50": statistics.median(values),
        "tail": tail,
        "tail_pct": tail_pct,
        "samples": len(values),
        "beyond_tail": sum(v > tail for v in values),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _descendants(pid: int) -> list[int]:
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found += kids
        frontier += kids
    return found


class CpuClock:
    """CPU seconds used so far by this process and its children (the
    driver JVM), less the JVM's JIT compiler threads. Time the host
    steals from the machine is not in it, and neither is compilation,
    which in a young JVM is the largest and most erratic share of CPU
    (about half of it over one run) and is a warm-up cost, not the
    engine's."""

    def __init__(self):
        self.pids = [os.getpid()] + _descendants(os.getpid())
        self.tick = os.sysconf("SC_CLK_TCK")
        self._compiler: dict[tuple[int, str], bool] = {}
        self._jit: dict[tuple[int, str], int] = {}

    @staticmethod
    def _ticks(path: str) -> int:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])

    def __call__(self) -> float:
        total = 0
        for pid in self.pids:
            try:
                total += self._ticks(f"/proc/{pid}/stat")
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                key = (pid, tid)
                try:
                    if key not in self._compiler:
                        with open(f"/proc/{pid}/task/{tid}/comm") as f:
                            self._compiler[key] = "CompilerThre" in f.read()
                    if self._compiler[key]:
                        self._jit[key] = self._ticks(f"/proc/{pid}/task/{tid}/stat")
                except OSError:
                    pass  # the thread ended; its last reading stands
        return (total - sum(self._jit.values())) / self.tick


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its children — the
    driver JVM runs as a child of the Python process."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def jvm_stats(spark) -> dict[str, float]:
    """Driver JVM garbage-collection time and heap peak (sum of the heap
    pools' peaks) so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap = sum(
        p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if str(p.getType()) == "Heap memory"
    )
    mem = mf.getMemoryMXBean()
    mem.gc()
    return {
        "gc_ms": float(gc_ms),
        "heap_peak_mb": heap / 2**20,
        "heap_live_mb": mem.getHeapMemoryUsage().getUsed() / 2**20,
    }


def run_context(spark, seed: int, nproc: int, master: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "seed": seed,
        "nproc": nproc,
        "master": master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "spark_conf": dict(sorted(spark.conf.getAll.items())),
    }
