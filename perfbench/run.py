"""Feature-store benchmark: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

``--trace 0`` measures and prints the end-to-end metrics; ``--trace 1``
runs the same workload with spans around every engine call and prints
the per-layer metrics instead. Outputs are checked after the timed loop;
a failed op or a wrong output makes the result ``"correct": false`` and
the exit code 1. The run context (seed, cores, Spark conf, library
versions) is printed on the line before the result. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
SETUPS = 3  # set-up repeats per run; setup_s is the median of all but the first
CYCLE_S = 12  # one loop cycle per this many --seconds; a cycle takes about that long on 4 cores
TAIL_PCT = 75


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the work directory, and size
    the driver heap for a shared host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _import_engine():
    """Import the engine from this checkout only."""
    sys.path.insert(0, ROOT)
    try:
        import feature_store_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the engine from {ROOT}: {e}")
    if not os.path.abspath(feature_store_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: engine resolved outside the checkout: {feature_store_spark.__file__}")
    return feature_store_spark


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it exits when
    its stdin, a pipe from this process, closes."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)


def _metric_specs() -> tuple[list[dict], list[dict]]:
    with open(BENCHMARK) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve_train"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    e2e_specs, layer_specs = _metric_specs()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    fss = _import_engine()
    from perfbench.common import CpuClock, Ops, jvm_stats, latency_summary, peak_rss_mb, run_context
    from perfbench.trace import Tracer

    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    phases = {}
    t_start = time.perf_counter()
    spark = fss.get_spark("perfbench", master=master, shuffle_partitions=nproc)
    phases["session_s"] = time.perf_counter() - t_start
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        cpu = CpuClock()
        ops = Ops(tracer, cpu, spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs)
        if args.workload == "ingest":
            from perfbench.ingest import Ingest as Workload

            kind = "commit"
        else:
            from perfbench.serve_train import ServeTrain as Workload

            kind = "get"
        wl = Workload(spark, tracer, work, args.seed)

        # Set-up runs SETUPS times; setup_s is the median of all but the
        # first, which runs in a cold JVM. In a traced run the first
        # set-up is followed by an untimed warm-up pass over its tables,
        # so that the per-layer call times are those of a warm planner
        # and JIT (a verb's first call is several times slower). The
        # end-to-end metrics are counts, bytes and set-up time, which the
        # warm-up does not move, so untraced runs skip it.
        setup_s, setup_cpu = [], []
        for n in range(SETUPS):
            t0, c0 = time.perf_counter(), cpu()
            with tracer.span("bench.setup"):
                wl.setup(n)
            setup_s.append(time.perf_counter() - t0)
            setup_cpu.append(cpu() - c0)
            if n == 0 and args.trace:
                t0 = time.perf_counter()
                with tracer.span("bench.warmup"):
                    wl.warmup()
                phases["warmup_s"] = time.perf_counter() - t0
            tracer.harvest()

        c0, traced0 = cpu(), tracer.self_s
        stats = wl.loop(ops, max(1, round(args.seconds / CYCLE_S)))
        stats["cpu_s"] = cpu() - c0
        tracer.harvest()
        trace_s = tracer.self_s - traced0
        t0 = time.perf_counter()
        extra = wl.check(ops)
        phases["check_s"] = time.perf_counter() - t0
        tracer.harvest()
        jvm = jvm_stats(spark)

        rss_mb = peak_rss_mb()
        context = run_context(spark, args.seed, nproc, master)
    finally:
        _stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    phases["total_s"] = time.perf_counter() - t_start

    lat = latency_summary(ops.ms[kind], TAIL_PCT) if ops.ms[kind] else None
    cpu_lat = latency_summary(ops.cpu_ms[kind], TAIL_PCT) if ops.cpu_ms[kind] else None
    info = {
        "workload": args.workload,
        "timed_op": kind,
        "latency": lat,
        "cpu_latency": cpu_lat,
        "setup_s_each": setup_s,
        "phases": phases,
        "setup_cpu_s_each": setup_cpu,
        "jvm": jvm,
        "loop": stats,
        "ops": {"attempted": ops.attempted, "failed": ops.failed, "commit_retries": ops.retries},
        "errors": ops.errors[:10],
        "ms_by_span": {k: [round(x) for x in v] for k, v in ops.by_span.items()},
        "context": context,
    }
    if args.trace:
        layers, totals = tracer.layer_stats()
        info["spans"] = layers
        values = {
            "jvm.gc_ms": jvm["gc_ms"],
            "jvm.heap_peak_mb": jvm["heap_peak_mb"],
            "trace.overhead_frac": trace_s / (stats["wall_s"] - trace_s),
            "trace.unattributed_jobs": totals["unattributed_jobs"],
            "ops.failed_frac": ops.failed / max(ops.attempted, 1),
            "ops.commit_retries": ops.retries,
            "spark.task_failures": totals["task_failures"],
            "jvm.heap_live_mb": jvm["heap_live_mb"],
            "mem.peak_rss_mb": rss_mb,
            "loop.call_cpu_ms_mean": cpu_lat["mean"] if cpu_lat else 0.0,
            "loop.rows_per_cpu_s": extra["rows"] / stats["cpu_s"],
            "loop.call_cpu_ms_tail": cpu_lat["tail"] if cpu_lat else 0.0,
            "loop.call_ms_mean": lat["mean"] if lat else 0.0,
            "loop.call_ms_p50": lat["p50"] if lat else 0.0,
            "loop.call_ms_tail": lat["tail"] if lat else 0.0,
            "loop.rows_per_s": extra["rows"] / stats["wall_s"],
            "setup.wall_s": statistics.median(setup_s[1:]),
            **extra,
        }
        for name, st in layers.items():
            for stat in ("ms_p50", "jobs", "driver_gap_ms"):
                values[f"{name}.{stat}"] = st[stat]
        specs = layer_specs
    else:
        values = {
            "setup_s": statistics.median(setup_cpu[1:]),
            "jobs_per_call": statistics.fmean(ops.job_counts[kind]) if ops.job_counts[kind] else 0.0,
            "stored_bytes_per_live_row": extra["stored_bytes_per_live_row"],
        }
        specs = e2e_specs
    metrics = {
        s["name"]: {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]} for s in specs
    }
    correct = ops.failed == 0 and lat is not None
    print("perfbench info: " + json.dumps(info, default=str))
    print(
        json.dumps(
            {"correct": correct, "attempted": ops.attempted, "failed": ops.failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
