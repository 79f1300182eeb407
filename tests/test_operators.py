"""Unit tests for windowed features, reshape, top-k, sessionize."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from feature_store_spark.operators.reshape import (
    assemble_flat,
    assemble_vectors,
    latest_per_key,
    melt,
    pivot_features,
)
from feature_store_spark.operators.sessionize import session_stats, sessionize
from feature_store_spark.operators.topk import top_k, top_k_per_group
from feature_store_spark.operators.windowed import (
    windowed_features_join,
    windowed_features_self,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def ev(spark):
    rows = [
        (1, ts("2024-01-01T00:00:00"), 10.0),
        (1, ts("2024-01-03T00:00:00"), 20.0),
        (1, ts("2024-01-09T00:00:00"), 30.0),   # window(7d) sees 01-03 only
        (1, ts("2024-01-09T00:00:00"), 40.0),   # same ts: excluded from each other
        (2, ts("2024-01-01T00:00:00"), 5.0),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def test_windowed_self(ev):
    out = windowed_features_self(ev, window_days=7.0)
    rows = {(r["user_id"], r["ts"], r["value"]): r for r in out.collect()}
    r = rows[(1, ts("2024-01-09T00:00:00"), 30.0)]
    assert r["w_count"] == 1 and r["w_sum"] == 20.0  # 01-01 is outside, same-ts excluded
    r2 = rows[(1, ts("2024-01-01T00:00:00"), 10.0)]
    assert r2["w_count"] == 0 and r2["w_sum"] is None
    r3 = rows[(1, ts("2024-01-03T00:00:00"), 20.0)]
    assert r3["w_count"] == 1 and r3["w_sum"] == 10.0


def test_windowed_join_matches_self(ev):
    anchors = ev.select("user_id", "ts").distinct()
    out = windowed_features_join(anchors, ev, window_days=7.0).collect()
    got = {(r["user_id"], r["ts"]): (r["w_count"], r["w_sum"]) for r in out}
    assert got[(1, ts("2024-01-09T00:00:00"))] == (1, 20.0)
    assert got[(1, ts("2024-01-01T00:00:00"))] == (0, None)
    assert got[(2, ts("2024-01-01T00:00:00"))] == (0, None)


def test_melt_pivot_roundtrip(spark):
    wide = spark.createDataFrame(
        [("e1", 1.0, 2.0), ("e2", 3.0, 4.0)], "entity_id string, f1 double, f2 double"
    )
    tall = melt(wide, ["entity_id"], ["f1", "f2"])
    assert tall.count() == 4
    back = pivot_features(tall, ["entity_id"], ["f1", "f2"])
    rows = {r["entity_id"]: (r["f1"], r["f2"]) for r in back.collect()}
    assert rows == {"e1": (1.0, 2.0), "e2": (3.0, 4.0)}


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [
            ("e1", "f1", 1.0, ts("2024-01-01T00:00:00"), ts("2024-01-01T00:00:00")),
            ("e1", "f1", 2.0, ts("2024-01-02T00:00:00"), ts("2024-01-02T00:00:00")),
            ("e1", "f1", 3.0, ts("2024-01-02T00:00:00"), ts("2024-01-02T01:00:00")),
        ],
        "entity_id string, feature_name string, value double, "
        "event_time timestamp, created_at timestamp",
    )
    out = latest_per_key(df, ["entity_id", "feature_name"], "event_time", ["created_at"])
    assert out.count() == 1
    assert out.first()["value"] == 3.0


def test_assemble_vectors_defaults_mask_ages(spark):
    scalars = spark.createDataFrame(
        [
            ("e1", "f1", 1.5, ts("2024-01-01T00:00:00")),
            ("e1", "f2", 2.5, ts("2024-01-02T00:00:00")),
            ("e2", "f1", 9.0, ts("2024-01-01T00:00:00")),
        ],
        "entity_id string, feature_name string, value double, event_time timestamp",
    )
    now_ms = int(ts("2024-01-03T00:00:00").timestamp() * 1000)
    out = assemble_vectors(
        scalars, ["f1", "f2", "f3"], defaults={"f3": -1.0}, now_ms=now_ms
    )
    rows = {r["entity_id"]: r for r in out.collect()}
    assert rows["e1"]["values"] == [1.5, 2.5, -1.0]
    assert rows["e1"]["is_default_mask"] == [False, False, True]
    assert rows["e1"]["value_ages_ms"][0] == 2 * 86400 * 1000
    assert rows["e1"]["value_ages_ms"][2] == -1
    assert rows["e2"]["values"] == [9.0, 0.0, -1.0]
    assert rows["e2"]["is_default_mask"] == [False, True, True]


def test_assemble_flat_grid(spark):
    scalars = spark.createDataFrame(
        [("e1", "f1", 1.0, ts("2024-01-01T00:00:00"))],
        "entity_id string, feature_name string, value double, event_time timestamp",
    )
    entities = spark.createDataFrame([("e1",), ("e2",)], ["entity_id"])
    out = assemble_flat(scalars, entities, ["f1", "f2"])
    assert out.count() == 4
    got = {(r["entity_id"], r["feature_name"]): (r["value"], r["is_default"]) for r in out.collect()}
    assert got[("e1", "f1")] == (1.0, False)
    assert got[("e2", "f2")] == (0.0, True)


def test_top_k(ev):
    out = top_k(ev, 2, [F.col("value").desc()]).collect()
    assert [r["value"] for r in out] == [40.0, 30.0]
    # k > n returns all
    assert top_k(ev, 100, [F.col("value").desc()]).count() == 5


def test_top_k_per_group(ev):
    out = top_k_per_group(ev, 1, ["user_id"], [F.col("value").desc()])
    got = {r["user_id"]: r["value"] for r in out.collect()}
    assert got == {1: 40.0, 2: 5.0}


def test_sessionize(spark):
    rows = [
        (1, ts("2024-01-01T00:00:00"), 1.0),
        (1, ts("2024-01-01T00:10:00"), 1.0),   # same session (10 min)
        (1, ts("2024-01-01T01:00:00"), 1.0),   # new session (50 min gap)
        (2, ts("2024-01-01T00:00:00"), 1.0),
    ]
    ev2 = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sessionize(ev2, gap_minutes=30.0)
    got = {(r["user_id"], r["ts"]): r["session_id"] for r in out.collect()}
    assert got[(1, ts("2024-01-01T00:00:00"))] == 1
    assert got[(1, ts("2024-01-01T00:10:00"))] == 1
    assert got[(1, ts("2024-01-01T01:00:00"))] == 2
    assert got[(2, ts("2024-01-01T00:00:00"))] == 1
    stats = session_stats(ev2, gap_minutes=30.0)
    s = {(r["user_id"], r["session_id"]): r for r in stats.collect()}
    assert s[(1, 1)]["n_events"] == 2
    assert s[(1, 1)]["duration_sec"] == 600.0


def test_target_encoding_keeps_null_category_rows(spark):
    """NULL is a category: the stats join must be null-safe, not an
    inner equi-join that silently drops every null-category row."""
    from feature_store_spark.operators.encoding import (
        frequency_encode,
        target_encode_loo,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 0), (None, 1), (None, 0), (None, 1)],
        "cat string, y int",
    )
    te = target_encode_loo(df, "cat", "y", m=2.0)
    assert te.count() == 5  # no rows lost
    prior = 3.0 / 5.0
    got = {
        (r["cat"], r["y"]): r["te"] for r in te.collect()
    }
    # null category: LOO over its own 3-row group
    assert got[(None, 1)] == pytest.approx((2 - 1 + 2 * prior) / (3 - 1 + 2))
    assert got[(None, 0)] == pytest.approx((2 - 0 + 2 * prior) / (3 - 1 + 2))

    fe = frequency_encode(df, "cat")
    assert fe.count() == 5
    fgot = {r["cat"]: r["freq"] for r in fe.collect()}
    assert fgot[None] == pytest.approx(3 / 5)
    assert fgot["a"] == pytest.approx(2 / 5)


def test_snapshot_diff_null_key_matches_itself(spark):
    """A NULL-keyed row present in both snapshots is one matched key
    (changed/unchanged), never a spurious added+removed pair."""
    from feature_store_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (None, 5.0)], "k int, v double"
    )
    new = spark.createDataFrame(
        [(1, 10.0), (None, 7.0)], "k int, v double"
    )
    got = {
        (r["k"], r["change_type"])
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {(1, "unchanged"), (None, "changed")}


def test_target_encode_loo_null_label_never_scored(spark):
    """Review r10e: the zero-denominator prior fallback must not score
    NULL-label rows (m=0, one labeled row per category hits denom==0
    for every row of the category)."""
    from feature_store_spark.operators.encoding import target_encode_loo

    rows = [("a", 1.0), ("a", None), ("a", None), ("b", 0.0)]
    df = spark.createDataFrame(rows, "cat string, y double")
    got = {
        (r["cat"], r["y"], r["te"])
        for r in target_encode_loo(df, "cat", "y", m=0.0).collect()
    }
    # labeled rows in singleton-label categories take the prior
    prior = 0.5
    assert ("a", 1.0, prior) in got and ("b", 0.0, prior) in got
    # NULL-label rows stay NULL, never the prior
    assert ("a", None, None) in got
    assert not any(c == "a" and y is None and te is not None
                   for c, y, te in got)


def test_asof_join_value_name_collision_refused(spark):
    """Review r10e: both sides carrying a column named 'value' with
    the default empty suffix must refuse at plan time, not emit two
    same-named output columns."""
    import datetime as dt

    import pytest as _pt

    from feature_store_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, base, 10.0)], "k long, t timestamp, value double"
    )
    right = spark.createDataFrame(
        [(1, base, 5.0)], "k long, t timestamp, value double"
    )
    with _pt.raises(ValueError, match="suffix"):
        asof_join(left, right, on=["k"], left_time="t")
    out = asof_join(left, right, on=["k"], left_time="t", suffix="_r")
    assert out.columns.count("value") == 1 and "value_r" in out.columns


def test_reshape_registry_r10m_guards(spark):
    """Review r10m: sentinel invariant, dotted feature names, empty
    grids, registry immutability/round-trip honesty."""
    import datetime as dt

    import pytest as _pt

    from feature_store_spark.operators.reshape import (
        assemble_flat,
        assemble_vectors,
    )
    from feature_store_spark.operators.sessionize import sessionize
    from feature_store_spark.registry import FeatureView, Registry

    base = dt.datetime(2024, 1, 1)
    scalars = spark.createDataFrame(
        [
            ("e1", "ctr.7d", 1.5, base),
            ("e1", "vol", None, base),  # NULL value: default served
        ],
        "entity_id string, feature_name string, value double, "
        "event_time timestamp",
    )
    out = assemble_vectors(
        scalars, ["ctr.7d", "vol"], defaults={"vol": 9.0}, now_ms=10**15
    ).collect()[0]
    # dotted name resolved; NULL value serves default + mask + age -1
    assert out["values"] == [1.5, 9.0]
    assert out["is_default_mask"] == [False, True]
    assert out["value_ages_ms"][1] == -1 and out["value_ages_ms"][0] >= 0

    # empty feature list: empty grid, not a schema-inference crash
    entities = spark.createDataFrame([("e1",)], "entity_id string")
    assert assemble_flat(scalars, entities, []).count() == 0

    # NULL timestamps do not shift session ids
    ev = spark.createDataFrame(
        [(1, None), (1, base), (1, base + dt.timedelta(minutes=5))],
        "user_id long, ts timestamp",
    )
    sids = [r["session_id"] for r in sessionize(ev).collect()]
    assert sids == [1, 1]

    # registry: feature immutability + named get_view error + stray
    # transform keys refused + tuple params canonicalized
    reg = Registry(spark)
    reg.register_feature("ctr", "user", default_value=0.0)
    reg.register_feature("ctr", "user", default_value=0.0)  # no-op
    with _pt.raises(ValueError, match="immutable"):
        reg.register_feature("ctr", "user", default_value=1.0)
    with _pt.raises(KeyError, match="no view"):
        reg.get_view("nope", 3)
    with _pt.raises(ValueError, match="non-member"):
        reg.register_view(
            FeatureView("v", 1, "user", ["a"], transforms={"typo": "x"})
        )
    v = FeatureView(
        "v", 1, "user", ["a"], transform_params={"a": {"ws": (1, 2)}}
    )
    reg.register_view(v)
    reg.register_view(
        FeatureView(
            "v", 1, "user", ["a"], transform_params={"a": {"ws": [1, 2]}}
        )
    )  # canonical forms compare equal -> idempotent no-op


def test_refresh_distinct_sketch_fold_equals_full(spark, tmp_path):
    """HLL fold state after N appends estimates IDENTICALLY to a
    one-shot sketch of the corpus (union = register-wise max over
    the same value set; serialized bytes may differ in sparse mode,
    which stores coupons in insertion order), the estimate is exact
    at small cardinality, and a redelivered refresh is a no-op under
    the txn token."""
    from pyspark.sql import functions as F

    from feature_store_spark.incremental import (
        distinct_view,
        refresh_distinct_sketch,
    )
    from feature_store_spark.sources.delta import (
        DeltaTable,
        delta_append,
        delta_head,
    )

    df = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") % 517).alias("v"),
    )
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    for i in range(3):
        delta_append(df.filter(F.col("id") % 3 == i), src)
        refresh_distinct_sketch(spark, state, src, ["k"], "v")
    v_before = delta_head(spark, state)[1]
    refresh_distinct_sketch(spark, state, src, ["k"], "v")  # redelivery
    assert delta_head(spark, state)[1] == v_before
    got = {
        r["k"]: r["distinct_estimate"]
        for r in distinct_view(spark, state, ["k"]).collect()
    }
    # id%3==i slices each cover a subset of v=id%517; exact per key
    want = {
        r["k"]: r["n"]
        for r in df.groupBy("k")
        .agg(F.count_distinct("v").alias("n"))
        .collect()
    }
    assert {k: round(v) for k, v in got.items()} == want
    # estimate-identity of the folded sketch vs a one-shot sketch
    folded = DeltaTable(spark, state).scan().select(
        "k", F.hll_sketch_estimate("distinct_sketch").alias("e")
    )
    oneshot = df.groupBy("k").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v", 14)).alias("e")
    )
    a = {r["k"]: r["e"] for r in folded.collect()}
    b = {r["k"]: r["e"] for r in oneshot.collect()}
    assert a == b
