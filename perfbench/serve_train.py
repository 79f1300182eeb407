"""serve_train: online batch gets, point-in-time training pulls and batch
scoring over stores built at set-up; nothing is committed in the loop.

Set-up writes seeded EAV feature history to a partitioned
``OfflineStore`` and materializes online vectors (``materialize_vectors``)
for the cache and vector tiers, plus latest scalars for the
scalar-assembly tier. The closed loop (one client, a fixed number of cycles) issues batch
``get_online_features`` calls over Zipf-skewed entity ids, so the hot
ids hit the cache tier and the tail falls through to vectors, scalar
assembly and misses. Each cycle of four gets also runs two training
pulls (``OfflineStore.generate_training_dataset`` and
``asof_training_set_columnar`` over the store's scan) and one
``score_topk`` batch. All outputs are checked after the
loop: gets against the expected tier routing and values, pulls against
a DuckDB ASOF oracle, top-k against a pure-Python tree evaluation.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa

from perfbench.checks import asof_oracle, diff_lookups, diff_topk, diff_training, topk_oracle
from perfbench.common import FAILED, NULL_TRACER, Ops, dir_bytes

FEATURES = ["f0", "f1", "f2", "f3", "f4"]
DEFAULTS = {f: -1.0 for f in FEATURES}
ENTITIES = 3000
TIERS = (  # id ranges: [lo, hi) -> expected source
    (0, 300, "REDIS_CACHE"),
    (300, 1500, "ROCKSDB_VECTOR"),
    (1500, 2400, "SCALAR_ASSEMBLY"),
    (2400, 3600, "MISS"),
)
ID_SPACE = TIERS[-1][1]
ZIPF_S = 0.8
GET_IDS = 100
LABEL_ROWS = 400
LOOKBACK_DAYS = 7.0
ITEMS = 5000
TOP_K = 50
DAY_US = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
HISTORY_DAYS = 7
NOW_MS = (T0_US + HISTORY_DAYS * DAY_US) // 1000
CACHE_TTL_MS = 3_600_000
CYCLE_GETS = 4
TS = pa.timestamp("us", tz="UTC")
SCORE_FEATURES = ["f0", "f1", "f2", "f3"]
SCORE_SCALES = [60.0, 80_000.0, 0.1, 0.1]


def tier_of(eid: int) -> str:
    for lo, hi, name in TIERS:
        if lo <= eid < hi:
            return name
    return "MISS"


def history(rng) -> pa.Table:
    """EAV feature history: for ~90% of (entity, feature) pairs, one to
    four records at distinct times within the last HISTORY_DAYS."""
    pairs = ENTITIES * len(FEATURES)
    counts = rng.integers(1, 5, pairs) * (rng.random(pairs) >= 0.1)
    pair = np.repeat(np.arange(pairs), counts)
    n = len(pair)
    # a pair's records sit in distinct hour slots, a quarter of the
    # history apart, so no two share a time
    slots = HISTORY_DAYS * 24
    j = np.arange(n) - np.repeat(np.cumsum(counts) - counts, counts)
    slot = (np.repeat(rng.integers(0, slots, pairs), counts) + j * (slots // 4)) % slots
    ts = T0_US + slot * 3_600_000_000 + rng.integers(0, 3_600_000_000, n)
    return pa.table(
        {
            "entity_type": pa.array(["user"] * n),
            "entity_id": pa.array(pair // len(FEATURES), pa.int64()),
            "feature_name": pa.array(np.array(FEATURES)[pair % len(FEATURES)]),
            "value_float": pa.array(np.round(rng.normal(size=n), 6), pa.float64()),
            "event_time": pa.array(ts, TS),
            "created_at": pa.array(ts + 1, TS),
        }
    )


def latest(records: pa.Table) -> dict[tuple[int, str], tuple[float, int]]:
    """(entity, feature) -> (value, event_time_us) of the newest record."""
    eid = records.column("entity_id").to_numpy()
    feat = records.column("feature_name").to_numpy(zero_copy_only=False)
    val = records.column("value_float").to_numpy()
    ts = records.column("event_time").cast(pa.int64()).to_numpy()
    order = np.lexsort((ts, feat, eid))
    last = order[np.r_[(eid[order][1:] != eid[order][:-1]) | (feat[order][1:] != feat[order][:-1]), True]]
    return {(int(eid[i]), str(feat[i])): (float(val[i]), int(ts[i])) for i in last}


class ServeTrain:
    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed

    def setup(self, n: int) -> None:
        from feature_store_spark.materialize import materialize_vectors
        from feature_store_spark.offline import OfflineStore
        from feature_store_spark.registry import FeatureView
        from pyspark.sql import functions as F

        spark = self.spark
        root = os.path.join(self.work, f"serve{n}")
        shutil.rmtree(root, ignore_errors=True)
        self.root = root
        self.records = history(np.random.default_rng([self.seed, 0]))
        self.latest = latest(self.records)
        self.store = OfflineStore(spark, os.path.join(root, "offline"))
        with self.tracer.span("bench.make_batch"):
            rec_df = spark.createDataFrame(self.records)
        with self.tracer.span("offline.OfflineStore.write_records"):
            self.store.write_records(rec_df)

        view = FeatureView("user_features", 1, "user", FEATURES, DEFAULTS)
        wide_ids = range(TIERS[0][0], TIERS[1][1])
        wide = pa.table(
            {
                "entity_id": pa.array(list(wide_ids), pa.int64()),
                **{
                    f: pa.array([self.latest.get((e, f), (None,))[0] for e in wide_ids], pa.float64())
                    for f in FEATURES
                },
                "event_time": pa.array(
                    [max((self.latest[(e, f)][1] for f in FEATURES if (e, f) in self.latest), default=None) for e in wide_ids],
                    TS,
                ),
            }
        )
        online = os.path.join(root, "online")
        with self.tracer.span("bench.make_batch"):
            wide_df = spark.createDataFrame(wide)
        with self.tracer.span("materialize.materialize_vectors"):
            vectors = materialize_vectors(wide_df, view, event_time_col="event_time", now_ms=NOW_MS)
            vectors.write.parquet(os.path.join(online, "vectors"))
        with self.tracer.span("bench.write_online"):
            cached = spark.read.parquet(os.path.join(online, "vectors")).filter(
                F.col("entity_id") < TIERS[0][1]
            )
            cached.withColumn("cached_at_ms", F.lit(NOW_MS - 60_000)).write.parquet(
                os.path.join(online, "cache")
            )
            lo, hi = TIERS[2][0], TIERS[2][1]
            keys = [k for k in self.latest if lo <= k[0] < hi]
            scalars = pa.table(
                {
                    "entity_id": pa.array([k[0] for k in keys], pa.int64()),
                    "feature_name": pa.array([k[1] for k in keys]),
                    "value": pa.array([self.latest[k][0] for k in keys], pa.float64()),
                    "event_time": pa.array([self.latest[k][1] for k in keys], TS),
                }
            )
            spark.createDataFrame(scalars).write.parquet(os.path.join(online, "scalars"))
        self.online = {
            name: spark.read.parquet(os.path.join(online, name))
            for name in ("vectors", "cache", "scalars")
        }
        self.stored_rows = self.records.num_rows + len(wide_ids) + TIERS[0][1] + len(keys)

    def _zipf_ids(self, rng) -> list[int]:
        ranks = np.arange(1, ID_SPACE + 1, dtype=float)
        p = ranks**-ZIPF_S
        return [int(x) for x in rng.choice(ID_SPACE, GET_IDS, replace=False, p=p / p.sum())]

    def _labels(self, rng) -> pa.Table:
        return pa.table(
            {
                "rid": pa.array(range(LABEL_ROWS), pa.int64()),
                "entity_id": pa.array(rng.integers(0, ENTITIES + 200, LABEL_ROWS), pa.int64()),
                "event_time": pa.array(
                    T0_US + rng.integers((HISTORY_DAYS - 3) * DAY_US, HISTORY_DAYS * DAY_US, LABEL_ROWS),
                    TS,
                ),
                "label": pa.array(rng.integers(0, 2, LABEL_ROWS), pa.int32()),
            }
        )

    def _items(self, rng) -> pa.Table:
        cols = {"item_id": pa.array(range(ITEMS), pa.int64())}
        for f, scale in zip(SCORE_FEATURES, SCORE_SCALES):
            v = rng.uniform(0, scale, ITEMS)
            cols[f] = pa.array([None if m else float(x) for x, m in zip(v, rng.random(ITEMS) < 0.05)], pa.float64())
        return pa.table(cols)

    def warmup(self) -> None:
        """One cycle of the loop's calls, untimed and unchecked."""
        ops = Ops(NULL_TRACER)
        tracer, self.tracer = self.tracer, NULL_TRACER
        try:
            self.loop(ops, 1)
        finally:
            self.tracer = tracer
        if ops.failed:
            raise RuntimeError(f"warm-up failed: {ops.errors}")

    def loop(self, ops: Ops, cycles: int) -> dict:
        """Run ``cycles`` cycles of four gets: after the second a
        ``generate_training_dataset`` pull, after the third a scoring
        batch, after the fourth an ``asof_training_set_columnar`` pull."""
        from feature_store_spark.operators.asof import asof_training_set_columnar
        from feature_store_spark.scoring import example_model, score_topk
        from feature_store_spark.serving import get_online_features

        spark, on = self.spark, self.online
        rng = np.random.default_rng([self.seed, 1])
        model = example_model(SCORE_FEATURES)
        self.model = model
        self.gets, self.pulls, self.scores = [], [], []
        served = 0
        start = time.perf_counter()
        i = 0
        while i < cycles * CYCLE_GETS:
            ids = self._zipf_ids(rng)
            req = pa.table({"entity_id": pa.array(ids, pa.int64()), "request_order": pa.array(range(len(ids)), pa.int64())})

            def get():
                out = get_online_features(
                    spark.createDataFrame(req),
                    on["vectors"],
                    on["scalars"],
                    FEATURES,
                    defaults=DEFAULTS,
                    now_ms=NOW_MS,
                    cache=on["cache"],
                    cache_ttl_ms=CACHE_TTL_MS,
                )
                return out.select("entity_id", "source", "values").toArrow()

            got = ops.call("get", "serving.get_online_features", get)
            if got is not FAILED:
                self.gets.append((ids, got))
                served += got.num_rows

            if i % CYCLE_GETS in (1, 3):
                labels = self._labels(rng)
                if i % CYCLE_GETS == 1:
                    span = "offline.generate_training_dataset"

                    def pull():
                        lab = spark.createDataFrame(labels)
                        return self.store.generate_training_dataset(
                            "user", FEATURES, lab, lookback_days=LOOKBACK_DAYS
                        ).toArrow()
                else:
                    span = "operators.asof.asof_training_set_columnar"

                    def pull():
                        lab = spark.createDataFrame(labels)
                        recs = self.store.scan(entity_type="user", feature_names=FEATURES)
                        return asof_training_set_columnar(
                            lab, recs, FEATURES, lookback_days=LOOKBACK_DAYS
                        ).toArrow()

                got = ops.call("pull", span, pull)
                if got is not FAILED:
                    self.pulls.append((labels, got))
                    served += got.num_rows
            if i % CYCLE_GETS == 2:
                items = self._items(rng)

                def topk():
                    df = spark.createDataFrame(items)
                    out = score_topk(df, model, {f: f for f in SCORE_FEATURES}, TOP_K, tiebreak=["item_id"])
                    return out.select("item_id", "score").toArrow()

                got = ops.call("score", "scoring.score_topk", topk)
                if got is not FAILED:
                    self.scores.append((items, got))
                    served += items.num_rows
            if self.tracer.enabled and i % CYCLE_GETS == CYCLE_GETS - 1:
                self.tracer.harvest()
            i += 1
        self.stats = {"gets": i, "wall_s": time.perf_counter() - start, "rows_served": served}
        return self.stats

    def expected_get(self, eid: int):
        src = tier_of(eid)
        known = any((eid, f) in self.latest for f in FEATURES)
        if src == "MISS" or (src == "SCALAR_ASSEMBLY" and not known):
            return ("MISS", None)
        return (src, [self.latest.get((eid, f), (DEFAULTS[f],))[0] for f in FEATURES])

    def check(self, ops: Ops) -> dict:
        sources = dict.fromkeys([t[2] for t in TIERS], 0)
        for ids, got in self.gets:
            actual = {
                e: (s, v)
                for e, s, v in zip(*(got.column(c).to_pylist() for c in ("entity_id", "source", "values")))
            }
            for s, _ in actual.values():
                sources[s] = sources.get(s, 0) + 1
            ops.check("batch get", diff_lookups(actual, {e: self.expected_get(e) for e in ids}))
        for labels, got in self.pulls:
            try:
                want = asof_oracle(labels, self.records, FEATURES, LOOKBACK_DAYS)
                actual = {
                    r: tuple(vals)
                    for r, *vals in zip(*(got.column(c).to_pylist() for c in ["rid"] + FEATURES))
                }
                ops.check("training pull", diff_training(actual, want))
            except Exception as e:
                ops.fail(f"check training pull: {type(e).__name__}: {e}")
        for items, got in self.scores:
            actual = list(zip(got.column("item_id").to_pylist(), got.column("score").to_pylist()))
            ops.check("score_topk", diff_topk(actual, topk_oracle(items.to_pylist(), self.model, TOP_K)))
        total = sum(sources.values()) or 1
        out = {f"serving.source_frac.{s}": n / total for s, n in sources.items()}
        out["stored_bytes_per_live_row"] = dir_bytes(self.root) / self.stored_rows
        out["rows"] = self.stats["rows_served"]
        return out
