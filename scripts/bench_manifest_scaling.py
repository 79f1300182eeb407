"""Measure sf0.1 -> sf1 scaling of the TRANSACTIONAL layer (VERDICT r5
next-round #6): manifest append, copy-on-write MERGE (the
scalar_upsert path), and clustered compaction — the round-5 machinery
whose 100 TB story (docs/SCALE.md "Transactional tables") was
plan-shape argument only. Also measures the CAS-retry rate under
genuine commit contention (8 threads racing appends), since the retry
loop is the part of the protocol that only fires under concurrency.

Reference behavior being scaled: IcebergOfflineStore.java:78-114
(single-snapshot commit boundary) — the reference serializes
everything through one writer, so its merge throughput IS its
single-thread write path; the engine's claim is the same isolation
with distributed staging.

Run: python scripts/make_sf1.py && python scripts/bench_manifest_scaling.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import feature_store_spark as fss  # noqa: E402
from feature_store_spark.sources.commit import ConcurrentWriteError  # noqa: E402
from feature_store_spark.sources.manifest import ManifestedTable  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
WORK = "/tmp/manifest_scaling"
REPS = 3


def _median(xs):
    return round(statistics.median(xs), 3)


def bench_scale(spark, label: str, sf_dir: str, out: dict) -> None:
    from pyspark.sql import functions as F

    ev = fss.load_table(spark, sf_dir, "events")
    n = ev.count()
    # updates: every 10th event re-delivered with a bumped value —
    # the scalar_upsert regime (10% of keys overwritten, 90% kept)
    updates = ev.filter(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") + F.lit(1.0)
    )
    n_up = updates.count()
    row = {"rows": n, "update_rows": n_up}

    appends, merges, compacts = [], [], []
    for rep in range(REPS + 1):  # rep 0 warms JIT/scan, discarded
        path = os.path.join(WORK, f"{label}_{rep}")
        shutil.rmtree(path, ignore_errors=True)
        t = ManifestedTable(spark, path)
        t0 = time.time()
        t.append(ev)
        appends.append(time.time() - t0)
        t0 = time.time()
        t.merge_upsert(updates, keys=["event_id"], order_col="ts")
        merges.append(time.time() - t0)
        # scattered state for the compact: 32 shuffle-partition files
        # from the merge; rewrite clustered on user_id
        t0 = time.time()
        t.compact(n_files=4, cluster_by=["user_id"])
        compacts.append(time.time() - t0)
    # drop warmup rep 0
    row["append_sec"] = _median(appends[1:])
    row["merge_sec"] = _median(merges[1:])
    row["compact_sec"] = _median(compacts[1:])
    row["append_rows_per_sec"] = round(n / row["append_sec"])
    row["merge_rows_per_sec"] = round((n + n_up) / row["merge_sec"])
    row["compact_rows_per_sec"] = round(n / row["compact_sec"])
    out[label] = row


def bench_contention(spark, out: dict, writers: int = 8) -> None:
    """8 threads race single-partition appends at one table: counts
    CAS retries (ConcurrentWriteError is the protocol's designed collision
    signal — data files are staged once; only the metadata commit
    loops). All appends must land: final version == writers."""
    path = os.path.join(WORK, "contention")
    shutil.rmtree(path, ignore_errors=True)
    table = ManifestedTable(spark, path)
    df = spark.range(10_000).toDF("id").coalesce(1)
    df.count()

    retries = [0] * writers
    orig_commit = table._commit
    lock = threading.Lock()

    def counting_commit(*a, **kw):
        try:
            return orig_commit(*a, **kw)
        except ConcurrentWriteError:
            with lock:
                counting_commit.conflicts += 1
            raise

    counting_commit.conflicts = 0
    table._commit = counting_commit

    errs = []

    def writer(i: int) -> None:
        try:
            table.append(df, max_retries=writers + 2)
        except Exception as e:  # pragma: no cover - report, don't hang
            errs.append(repr(e))

    t0 = time.time()
    threads = [threading.Thread(target=writer, args=(i,)) for i in range(writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.time() - t0
    out["contention"] = {
        "writers": writers,
        "errors": errs,
        "final_version": table.current_version(),
        "cas_retries": counting_commit.conflicts,
        "retries_per_commit": round(counting_commit.conflicts / writers, 2),
        "wall_sec": round(wall, 3),
        "rows_committed": table.read().count(),
        "rows_expected": 10_000 * writers,
    }


def main() -> None:
    spark = fss.get_spark(
        "bench-manifest-scaling", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    bench_scale(spark, "sf0.1", SF01, out)
    if os.path.isdir(SF1):
        bench_scale(spark, "sf1", SF1, out)
        for k in ("append", "merge", "compact"):
            out[f"{k}_time_ratio_10x"] = round(
                out["sf1"][f"{k}_sec"] / out["sf0.1"][f"{k}_sec"], 2
            )
    bench_contention(spark, out)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
