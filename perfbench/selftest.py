"""Self-test of the benchmark.

    python3 perfbench/selftest.py          # checkers only, a few seconds
    python3 perfbench/selftest.py --runs   # also runs every workload

The checker part feeds each output checker a correct result and then a
deliberately corrupted expected result, and fails unless the checker
accepts the first and rejects the second. ``--runs`` runs each workload
at the smallest size (one loop cycle) with tracing off and on, and
checks that every metric named in BENCHMARK.json is printed with its
unit; it also checks that the benchmark exits non-zero, without a
result line, in a directory that holds only the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402

from perfbench import checks  # noqa: E402


def _expect(name: str, ok: list[str], bad: list[str]) -> list[str]:
    errors = []
    if ok:
        errors.append(f"{name}: rejected a correct result: {ok}")
    if not bad:
        errors.append(f"{name}: accepted a corrupted expected result")
    return errors


def checker_tests() -> list[str]:
    errors = []
    row = lambda e, f, v, t: ("user", e, f, v, t, 0)  # noqa: E731

    # table replay and final-scan multiset check
    m = checks.TableModel()
    m.append(1, [row(1, "f0", 0.5, 10), row(2, "f0", 1.5, 10)])
    m.upsert(2, [row(1, "f0", 0.7, 20)])
    m.merge_newer(3, [row(2, "f0", 9.9, 5), row(3, "f0", 3.0, 30)])
    m.delete_range(4, 3, 4)
    scan = [row(1, "f0", 0.7, 20), row(2, "f0", 1.5, 10)]
    want = list(m.live.values())
    errors += _expect(
        "final scan",
        checks.diff_multisets(scan, want),
        checks.diff_multisets(scan, want[:-1] + [row(2, "f0", 1.6, 10)]),
    )
    # change feed: the upsert at 2 is delete(old) + insert(new); the
    # merge at 3 skips the older row for key 2 and inserts key 3
    feed = [
        ("delete", 2, *row(1, "f0", 0.5, 10)),
        ("insert", 2, *row(1, "f0", 0.7, 20)),
        ("insert", 3, *row(3, "f0", 3.0, 30)),
        ("delete", 4, *row(3, "f0", 3.0, 30)),
    ]
    want = m.changes_since(1)
    errors += _expect(
        "change feed",
        checks.diff_multisets(feed, want),
        checks.diff_multisets(feed, want + [("insert", 3, *row(2, "f0", 9.9, 5))]),
    )

    # training pull vs the DuckDB ASOF oracle
    ts = pa.timestamp("us", tz="UTC")
    records = pa.table(
        {
            "entity_id": pa.array([1, 1, 1, 2], pa.int64()),
            "feature_name": ["f0", "f0", "f1", "f0"],
            "value_float": [1.0, 2.0, 3.0, 4.0],
            "event_time": pa.array([100, 200, 150, 500], ts),
        }
    )
    labels = pa.table(
        {
            "rid": pa.array([0, 1, 2], pa.int64()),
            "entity_id": pa.array([1, 1, 2], pa.int64()),
            "event_time": pa.array([180, 200, 400], ts),
        }
    )
    want = checks.asof_oracle(labels, records, ["f0", "f1"], 1.0)
    got = {0: (1.0, 3.0), 1: (2.0, 3.0), 2: (float("nan"), None)}
    corrupt = dict(want)
    corrupt[1] = (1.0, 3.0)
    errors += _expect(
        "training pull", checks.diff_training(got, want), checks.diff_training(got, corrupt)
    )

    # batch-get routing and values
    got = {7: ("REDIS_CACHE", [1.0, -1.0]), 9: ("MISS", None)}
    want = {7: ("REDIS_CACHE", [1.0, -1.0]), 9: ("MISS", None)}
    errors += _expect(
        "batch get routing",
        checks.diff_lookups(got, want),
        checks.diff_lookups(got, {**want, 7: ("ROCKSDB_VECTOR", [1.0, -1.0])}),
    )
    errors += _expect(
        "batch get values",
        checks.diff_lookups(got, want),
        checks.diff_lookups(got, {**want, 7: ("REDIS_CACHE", [1.0, -2.0])}),
    )

    # scoring top-k vs the Python tree evaluation
    from feature_store_spark.scoring import example_model

    model = example_model(["a", "b", "c", "d"])
    items = [
        {"item_id": i, "a": 10.0 * i, "b": 9000.0 * i, "c": 0.01 * i, "d": None if i == 3 else 0.01 * i}
        for i in range(8)
    ]
    want = checks.topk_oracle(items, model, 3)
    errors += _expect(
        "score_topk",
        checks.diff_topk(list(want), want),
        checks.diff_topk(list(want), list(reversed(want))),
    )
    return errors


def _last_json(out: str) -> dict | None:
    lines = out.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def run_tests() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7", "--seconds", "1", "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            res = _last_json(p.stdout)
            where = f"{w['name']} trace {trace}"
            if p.returncode != 0 or res is None:
                errors.append(f"{where}: exit {p.returncode}, result {res}: {p.stderr[-500:]}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"} or not res["correct"]:
                errors.append(f"{where}: bad result keys or not correct: {list(res)}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    errors.append(f"{where}: metric {m['name']} missing or wrong: {got}")
            extra = set(res["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                errors.append(f"{where}: unlisted metrics {sorted(extra)}")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
    w = spec["workloads"][0]["name"]
    cmd = spec["command"] + ["--workload", w, "--seed", "7", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    if p.returncode == 0 or _last_json(p.stdout) is not None:
        errors.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    shutil.rmtree(bare, ignore_errors=True)
    return errors


def main() -> int:
    errors = checker_tests()
    if "--runs" in sys.argv[1:]:
        errors += run_tests()
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
