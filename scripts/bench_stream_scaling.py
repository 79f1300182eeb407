"""Streaming-sink decade ladder (VERDICT r11 next #5).

The four streaming sinks (delta append, delta CDC upsert, iceberg
append, incremental HLL distinct) were graded for correctness but
never laddered: the 100 TB claim is that a micro-batch commit costs
O(batch + table METADATA), never O(table DATA). This measures it the
same way the r10/r11 HLL/MG refresh tables did: a FIXED 2-micro-batch
stream (same input files, byte for byte) runs against a table
pre-seeded from sf0.1 events (~600k rows) vs /tmp/sf1 events (~6M
rows), REPS times each with fresh table/checkpoint dirs, and the
report is the median stream wall per scale. Flat (ratio ~1x for 10x
committed data) is a pass; growth means the sink is re-reading the
table.

The upsert seed is written repartitionByRange on the zero-padded key
so data files carry tight key ranges — the batch updates the LOWEST
20k keys and the MERGE probe's min/max data-skipping should read a
sliver regardless of table size (scattered keys would degrade the
probe to a table scan, documented in delta_upsert).

Run: python scripts/make_sf1.py && python scripts/bench_stream_scaling.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import feature_store_spark as fss  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
REPS = 3
BATCH_ROWS = 20_000


def seed_frame(spark, sf_dir):
    """Per-event feature rows; entity_id zero-padded so lexicographic
    order == numeric order (range clustering + min/max skipping)."""
    ev = fss.load_table(spark, sf_dir, "events")
    return ev.select(
        F.lit("user").alias("entity_type"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias(
            "entity_id"
        ),
        F.col("value").cast("double").alias("value_float"),
        F.col("ts").alias("event_time"),
    )


def fixed_batches(spark):
    """The SAME two 20k-row micro-batches at both scales, drawn from
    sf0.1's lowest event_ids (present at both scales — sf1 replica 0
    is unshifted)."""
    ev = fss.load_table(spark, SF01, "events")
    low = (
        ev.orderBy("event_id")
        .limit(2 * BATCH_ROWS)
        .select(
            F.lit("user").alias("entity_type"),
            F.lpad(F.col("event_id").cast("string"), 12, "0").alias(
                "entity_id"
            ),
            (F.col("value").cast("double") * 2).alias("value_float"),
            F.col("ts").alias("event_time"),
            (F.col("event_id") % 2).alias("__half"),
        )
    )
    return [
        low.filter(F.col("__half") == i).drop("__half") for i in (0, 1)
    ]


def _write_batch_files(batches, in_dir):
    os.makedirs(in_dir, exist_ok=True)
    for i, b in enumerate(batches):
        tmp = f"{in_dir}__stage{i}"
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        [part] = [
            n for n in os.listdir(tmp) if n.endswith(".parquet")
        ]
        tgt = f"{in_dir}/batch-{i}.parquet"
        os.replace(f"{tmp}/{part}", tgt)
        os.utime(tgt, (1_700_000_000 + i * 60,) * 2)
        shutil.rmtree(tmp, ignore_errors=True)


def _run_stream(spark, in_dir, ckpt, schema, sink):
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.time()
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("stream did not finish in 600s")
    return time.time() - t0


SCHEMA = (
    "entity_type string, entity_id string, value_float double, "
    "event_time timestamp"
)


def measure(spark, scale_dir):
    from feature_store_spark.incremental import refresh_distinct_sketch
    from feature_store_spark.sources.delta import (
        delta_append,
        delta_append_sink,
        delta_upsert_sink,
    )
    from feature_store_spark.sources.iceberg_write import (
        iceberg_append,
        iceberg_append_sink,
    )
    from feature_store_spark.streaming.materializer import (
        incremental_distinct_sink,
    )

    seed = seed_frame(spark, scale_dir).localCheckpoint(eager=True)
    n_seed = seed.count()
    batches = fixed_batches(spark)
    out = {"seed_rows": n_seed}
    for family in (
        "delta_append", "delta_upsert", "delta_merge",
        "iceberg_append", "incremental_distinct",
    ):
        walls = []
        for _ in range(REPS):
            d = tempfile.mkdtemp(prefix=f"ladder-{family}-")
            try:
                _write_batch_files(batches, f"{d}/in")
                if family == "delta_append":
                    delta_append(seed, f"{d}/t")
                    sink = delta_append_sink(f"{d}/t", "ladder")
                    schema = SCHEMA
                elif family == "delta_upsert":
                    delta_append(
                        seed.repartitionByRange(16, "entity_id"),
                        f"{d}/t",
                    )
                    sink = delta_upsert_sink(
                        f"{d}/t", "ladder", keys=["entity_id"]
                    )
                    schema = SCHEMA
                elif family == "delta_merge":
                    delta_append(
                        seed.repartitionByRange(16, "entity_id"),
                        f"{d}/t",
                    )
                    from feature_store_spark.sources.delta import (
                        delta_merge_sink,
                    )

                    sink = delta_merge_sink(
                        f"{d}/t", "ladder", keys=["entity_id"],
                        when_matched=[
                            {
                                "condition": "src.value_float "
                                "> tgt.value_float",
                                "action": "update",
                                "set": {
                                    "value_float": "src.value_float"
                                },
                            }
                        ],
                    )
                    schema = SCHEMA
                elif family == "iceberg_append":
                    iceberg_append(seed, f"{d}/t")
                    sink = iceberg_append_sink(f"{d}/t", "ladder")
                    schema = SCHEMA
                else:
                    src, state = f"{d}/src", f"{d}/state"
                    delta_append(
                        seed.select("entity_type", "entity_id"), src
                    )
                    refresh_distinct_sketch(
                        spark, state, src, ["entity_type"], "entity_id"
                    )
                    sink = incremental_distinct_sink(
                        src, state, ["entity_type"], "entity_id",
                        "ladder",
                    )
                    schema = "entity_type string, entity_id string"
                    _write_batch_files(
                        [b.select("entity_type", "entity_id")
                         for b in batches],
                        f"{d}/in2",
                    )
                in_dir = f"{d}/in2" if family == "incremental_distinct" else f"{d}/in"
                walls.append(
                    _run_stream(spark, in_dir, f"{d}/ckpt", schema, sink)
                )
            finally:
                shutil.rmtree(d, ignore_errors=True)
        out[family] = round(statistics.median(walls), 3)
        print(
            f"  {family:22s} seed={n_seed:>9,}  "
            f"2-batch stream median {out[family]:.3f}s "
            f"(runs {[round(w, 3) for w in walls]})",
            flush=True,
        )
    return out


def main():
    spark = fss.get_spark("stream-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    report = {}
    for label, d in (("sf0.1", SF01), ("sf1", SF1)):
        print(f"{label} ({d}):", flush=True)
        report[label] = measure(spark, d)
    for fam in ("delta_append", "delta_upsert", "delta_merge",
                "iceberg_append", "incremental_distinct"):
        r = report["sf1"][fam] / report["sf0.1"][fam]
        print(f"ratio {fam}: {r:.2f}x for 10x committed data")
    print(json.dumps(report))


if __name__ == "__main__":
    main()
