"""Serving-path unit tests (SURVEY.md §2.2 L2/L7)."""

from pyspark.sql import functions as F

from feature_store_spark.serving import batch_lookup, get_online_features


def test_batch_lookup_null_value_is_a_hit(spark):
    """A stored row whose value column is NULL is a HIT, not a miss —
    found must come from join presence, never from a value probe."""
    table = spark.createDataFrame(
        [(1, 10.0), (2, None)], "k int, v double"
    )
    ids = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    got = {
        r["k"]: (r["v"], r["found"])
        for r in batch_lookup(ids, table, ["k"]).collect()
    }
    assert got[1] == (10.0, True)
    assert got[2] == (None, True)  # present key, null value: a hit
    assert got[3] == (None, False)  # genuinely absent key


def test_fallback_chain_sources(spark):
    """Routing: vector hit > scalar assembly > MISS, with the mask and
    staleness contract intact on each path."""
    vectors = spark.createDataFrame(
        [(1, [1.0, 2.0], [False, False], [100, 200])],
        "entity_id int, values array<double>, is_default_mask array<boolean>,"
        " value_ages_ms array<bigint>",
    )
    scalars = spark.createDataFrame(
        [(2, "f_a", 7.0, "2024-01-02 00:00:00")],
        "entity_id int, feature_name string, value double, event_time string",
    ).withColumn("event_time", F.col("event_time").cast("timestamp"))
    ids = spark.createDataFrame([(1,), (2,), (3,)], "entity_id int")
    out = {
        r["entity_id"]: r
        for r in get_online_features(
            ids,
            vectors,
            scalars,
            ["f_a", "f_b"],
            defaults={"f_b": -1.0},
            now_ms=1704153600000,  # 2024-01-02T00:00:00Z in ms
        ).collect()
    }
    assert out[1]["source"] == "ROCKSDB_VECTOR"
    assert out[1]["values"] == [1.0, 2.0]
    assert out[2]["source"] == "SCALAR_ASSEMBLY"
    assert out[2]["values"] == [7.0, -1.0]
    assert out[2]["is_default_mask"] == [False, True]
    assert out[3]["source"] == "MISS"
    assert out[3]["values"] is None


def test_schema_gate_null_rows_are_mismatches(spark):
    """A corrupt vector row with NULL schema_hash or NULL values must
    FAIL the gate — plain == yields NULL there and count_if would
    silently pass it."""
    from feature_store_spark.validation import schema_gate

    vectors = spark.createDataFrame(
        [
            (123, [1.0, 2.0]),
            (None, [1.0, 2.0]),  # null hash: mismatch
            (123, None),  # null values: length mismatch
        ],
        "schema_hash bigint, values array<double>",
    )
    r = schema_gate(vectors, 123, 2).collect()[0]
    assert r["n"] == 3
    assert r["hash_mismatches"] == 1
    assert r["length_mismatches"] == 1
    assert not r["hash_gate_passed"]
    assert not r["length_gate_passed"]


def test_staleness_gate_null_age_counts_unknown(spark):
    from feature_store_spark.validation import staleness_gate

    latest = spark.createDataFrame(
        [("f", 1000), ("f", None), ("f", -1), ("g", 50_000_000)],
        "feature_name string, age_ms bigint",
    )
    sla = spark.createDataFrame(
        [("f", 3600), ("g", 3600)], "feature_name string, max_age_seconds int"
    )
    got = {
        r["feature_name"]: r for r in staleness_gate(latest, sla).collect()
    }
    assert got["f"]["unknown_age_count"] == 2  # NULL and -1 both unknown
    assert got["f"]["stale_count"] == 0 and got["f"]["sla_passed"]
    assert got["g"]["stale_count"] == 1 and not got["g"]["sla_passed"]


def test_roundtrip_check_catches_missing_and_default_slots(spark):
    """The verification join must be FULL OUTER (a never-written
    vector is a violation) and null source slots are fine only when
    the served slot equals the view default."""
    from feature_store_spark.materialize import (
        materialize_vectors,
        roundtrip_check,
    )
    from feature_store_spark.registry import FeatureView

    view = FeatureView("v", 1, "m", ["f_a", "f_b"], defaults={"f_b": -1.0})
    wide = spark.createDataFrame(
        [(1, 1.0, 2.0), (2, 3.0, None), (3, 5.0, 6.0)],
        "entity_id int, f_a double, f_b double",
    )
    vectors = materialize_vectors(wide, view, now_ms=0)

    # complete round-trip: no violations (incl. the defaulted slot)
    assert roundtrip_check(wide, vectors, view).count() == 0

    # drop a vector: its entity must surface as a violation
    partial = vectors.filter(F.col("entity_id") != 3)
    assert roundtrip_check(wide, partial, view).count() == 1

    # corrupt a served slot to a non-default where the source is null
    corrupt = vectors.withColumn(
        "values",
        F.when(
            F.col("entity_id") == 2, F.array(F.lit(3.0), F.lit(99.0))
        ).otherwise(F.col("values")),
    )
    bad = roundtrip_check(wide, corrupt, view).collect()
    assert len(bad) == 1 and bad[0]["entity_id"] == 2


def test_roundtrip_check_nan_roundtrip_is_not_a_violation(spark):
    """A legitimately-NaN source slot that round-trips as NaN agrees —
    abs(NaN-NaN) <= tol is false under Spark NaN semantics, so without
    the explicit NaN==NaN ok-branch it was a false positive (ADVICE
    r5). A NaN served where the source is REAL must still violate."""
    from feature_store_spark.materialize import (
        materialize_vectors,
        roundtrip_check,
    )
    from feature_store_spark.registry import FeatureView

    view = FeatureView("v", 1, "m", ["f_a", "f_b"])
    wide = spark.createDataFrame(
        [(1, float("nan"), 2.0), (2, 3.0, 4.0)],
        "entity_id int, f_a double, f_b double",
    )
    vectors = materialize_vectors(wide, view, now_ms=0)
    # NaN in -> NaN out: faithful, zero violations
    assert roundtrip_check(wide, vectors, view).count() == 0

    # NaN served against a real source value: violation
    corrupt = vectors.withColumn(
        "values",
        F.when(
            F.col("entity_id") == 2,
            F.array(F.lit(float("nan")), F.lit(4.0)),
        ).otherwise(F.col("values")),
    )
    bad = roundtrip_check(wide, corrupt, view).collect()
    assert len(bad) == 1 and bad[0]["entity_id"] == 2


def test_cache_ttl_tier_expiry_backfill_and_age_forwarding(spark):
    """REDIS_CACHE tier semantics (S13): a fresh entry serves from the
    cache; an entry exactly AT the TTL boundary is expired (strict <)
    and falls through; served cache ages are aged forward by the time
    since caching so the staleness warning sees the TRUE age; the
    cache_backfill column is exactly the deeper-tier hits lacking a
    valid cache entry."""
    from feature_store_spark.serving import get_online_features

    NOW, TTL = 1_000_000, 60_000
    req = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["entity_id"])
    vectors = spark.createDataFrame(
        [
            (2, [9.0, 9.0], [False, False], [5, 5]),
            (3, [7.0, 7.0], [False, False], [5, 5]),
        ],
        "entity_id int, values array<double>, is_default_mask array<boolean>, "
        "value_ages_ms array<bigint>",
    )
    cache = spark.createDataFrame(
        [
            # fresh: cached 1ms ago
            (1, [1.0, 2.0], [False, False], [100, 200], NOW - 1),
            # boundary: cached exactly TTL ago -> EXPIRED
            (2, [8.0, 8.0], [False, False], [0, 0], NOW - TTL),
        ],
        "entity_id int, values array<double>, is_default_mask array<boolean>, "
        "value_ages_ms array<bigint>, cached_at_ms long",
    )
    out = {
        r["entity_id"]: r
        for r in get_online_features(
            req, vectors, None, ["a", "b"],
            now_ms=NOW, cache=cache, cache_ttl_ms=TTL,
        ).collect()
    }
    assert out[1]["source"] == "REDIS_CACHE"
    assert out[1]["values"] == [1.0, 2.0]
    # ages forwarded by elapsed=1ms
    assert out[1]["value_ages_ms"] == [101, 201]
    assert out[1]["cache_backfill"] is False
    # boundary entry expired -> vector tier serves, backfill flagged
    assert out[2]["source"] == "ROCKSDB_VECTOR"
    assert out[2]["values"] == [9.0, 9.0]
    assert out[2]["cache_backfill"] is True
    assert out[3]["source"] == "ROCKSDB_VECTOR"
    assert out[3]["cache_backfill"] is True
    assert out[4]["source"] == "MISS"
    assert out[4]["cache_backfill"] is False

    # TTL without a clock must be rejected loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="now_ms"):
        get_online_features(
            req, vectors, None, ["a", "b"], cache=cache, cache_ttl_ms=TTL
        )


def test_batch_lookup_broadcastable_plan_and_semantics(spark):
    """Review r10: broadcasting the PRESERVED side of a left join is
    silently ignored by Spark (the table shuffled on every lookup).
    The hits/misses shape must reach the table through broadcast hash
    joins only — no sort-merge join — with unchanged semantics."""
    from feature_store_spark.serving import batch_lookup

    table = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, None)], "k long, v string"
    )
    ids = spark.createDataFrame([(1,), (2,), (9,)], "k long")
    out = batch_lookup(ids, table, ["k"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    assert "SortMergeJoin" not in plan
    got = {(r["k"], r["v"], r["found"]) for r in out.collect()}
    assert got == {
        (1, "a", True),
        (1, "a2", True),   # duplicate stored rows fan out, as before
        (2, None, True),   # NULL value is a HIT
        (9, None, False),  # miss carries found=False
    }


def test_cache_age_forwarding_preserves_default_sentinel(spark):
    """Review r10: -1 (the default-slot age sentinel) must NOT be
    aged forward — elapsed-1 was a bogus non-negative age that made
    default slots look like real values."""
    from feature_store_spark.serving import get_online_features

    req = spark.createDataFrame([("e1",)], "entity_id string")
    cache = spark.createDataFrame(
        [("e1", [1.0, 0.0], [False, True], [5000, -1], 1_000_000)],
        "entity_id string, values array<double>, "
        "is_default_mask array<boolean>, value_ages_ms array<bigint>, "
        "cached_at_ms long",
    )
    out = get_online_features(
        req,
        vectors=None,
        scalars=None,
        feature_names=["a", "b"],
        cache=cache,
        cache_ttl_ms=600_000,
        now_ms=1_300_000,
    ).collect()[0]
    assert out["source"] == "REDIS_CACHE"
    # real slot aged by elapsed 300s; sentinel untouched
    assert out["value_ages_ms"] == [305_000, -1]


def _max_job_id(spark) -> int:
    sc = spark.sparkContext
    # the status store is fed by the listener bus; drain it so every
    # job submitted so far is visible
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _ancestors(plan: str, marker: str) -> list[list[str]]:
    """For each plan-tree line containing ``marker``: the node lines
    above it, nearest first (tree depth is the indent of the node)."""
    out, stack = [], []
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        if not body:
            continue
        depth = len(line) - len(body)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if marker in body:
            out.append([n for _, n in reversed(stack)])
        stack.append((depth, body))
    return out


def test_get_online_features_is_one_request_filtered_aggregate(spark, tmp_path):
    """A batch get over parquet tiers in the benchmark's mix (cache,
    vector, scalar-assembly and miss ids) runs at most three Spark jobs
    — the request broadcast, one shuffle, the result — and reaches
    every tier scan only through a LeftSemi join on the request ids:
    no tier is broadcast and no window sorts the scalar table."""
    import pyarrow as pa

    feats = ["f0", "f1", "f2"]
    ts = pa.timestamp("us", tz="UTC")
    t0 = 1_704_067_200_000_000
    vec_ids = list(range(0, 200))  # ids 0-49 are also cached
    envelope = {
        "values": pa.array([[float(e), 1.0, 2.0] for e in vec_ids]),
        "is_default_mask": pa.array([[False] * 3] * len(vec_ids)),
        "value_ages_ms": pa.array([[5, 5, 5]] * len(vec_ids), pa.list_(pa.int64())),
    }
    vectors = pa.table({"entity_id": pa.array(vec_ids, pa.int64()), **envelope})
    cache = vectors.slice(0, 50).append_column(
        "cached_at_ms", pa.array([t0 // 1000] * 50, pa.int64())
    )
    sc_ids = [e for e in range(200, 300) for _ in feats for _ in range(2)]
    scalars = pa.table(
        {
            "entity_id": pa.array(sc_ids, pa.int64()),
            "feature_name": pa.array([feats[i // 2 % 3] for i in range(len(sc_ids))]),
            "value": pa.array([float(i) for i in range(len(sc_ids))]),
            "event_time": pa.array([t0 + i for i in range(len(sc_ids))], ts),
        }
    )
    tiers = {}
    for name, table in (("cache", cache), ("vectors", vectors), ("scalars", scalars)):
        path = str(tmp_path / name)
        spark.createDataFrame(table).write.parquet(path)
        tiers[name] = spark.read.parquet(path)
    ids = list(range(0, 400, 4))  # 100 ids: 13 cached, 37 vectors, 25 scalars, 25 misses
    req = spark.createDataFrame(
        pa.table(
            {
                "entity_id": pa.array(ids, pa.int64()),
                "request_order": pa.array(range(len(ids)), pa.int64()),
            }
        )
    )
    out = get_online_features(
        req,
        tiers["vectors"],
        tiers["scalars"],
        feats,
        now_ms=t0 // 1000 + 1000,
        cache=tiers["cache"],
        cache_ttl_ms=60_000,
    )
    served = out.select("entity_id", "source")
    before = _max_job_id(spark)
    got = served.toArrow()
    jobs = _max_job_id(spark) - before
    sources = dict(zip(*(got.column(c).to_pylist() for c in ("entity_id", "source"))))
    assert sources == {
        e: "REDIS_CACHE" if e < 50 else "ROCKSDB_VECTOR" if e < 200
        else "SCALAR_ASSEMBLY" if e < 300 else "MISS"
        for e in ids
    }
    assert jobs <= 3, jobs

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan and "Window" not in plan
    # the tiers are the plan's only file scans
    scans = _ancestors(plan, "FileScan parquet")
    for cols in ("cached_at_ms", "feature_name", "values"):
        assert any(cols in line for line in plan.splitlines() if "FileScan" in line)
    for above in scans:
        at = next(i for i, n in enumerate(above) if "Join" in n)
        assert "LeftSemi" in above[at] and "entity_id" in above[at], above[at]
        assert not any("Exchange" in n for n in above[:at]), above[:at]
