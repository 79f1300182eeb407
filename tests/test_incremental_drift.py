"""Incremental drift monitoring (r10): the PSI current-window bin
counts are algebraic state maintained through refresh_fold — frozen
reference edges, O(append) refreshes, and at every version
psi_from_counts over the state equals psi_report over the full
window exactly."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from feature_store_spark.incremental import refresh_drift_counts
from feature_store_spark.sources.delta import (
    DeltaTable,
    delta_append,
    delta_head,
    delta_overwrite,
)
from feature_store_spark.stats import (
    drift_monitor_config,
    psi_from_counts,
    psi_report,
)


def _frames(spark, n=400):
    """Reference ~N(0-ish) vs current with feature `a` shifted and
    feature `b` stable; deterministic (md5-driven pseudo-uniforms),
    with NULLs sprinkled into both columns."""
    base = spark.range(n).select(
        F.col("id"),
        (
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 7), 16, 10)
            .cast("double")
            / 268435455.0
        ).alias("u"),
    )
    both = base.select(
        "id",
        F.when(F.col("id") % 17 != 0, F.col("u") * 10.0).alias("a"),
        F.when(F.col("id") % 13 != 0, F.col("u") * F.col("u")).alias("b"),
    )
    ref = both.filter(F.col("id") % 2 == 0).select("id", "a", "b")
    cur = both.filter(F.col("id") % 2 == 1).select(
        "id", (F.col("a") + 2.5).alias("a"), "b"
    )
    return ref, cur


def _read(spark, path):
    return DeltaTable(spark, path).scan()


def _report_set(df):
    return {
        (r["feature"], r["n_ref"], r["n_cur"], round(r["psi"], 9))
        for r in df.collect()
    }


def test_state_equals_full_recompute_at_every_version(spark, tmp_path):
    ref, cur = _frames(spark)
    cfg = drift_monitor_config(ref, ["a", "b"], bins=10)
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    for i in range(3):
        delta_append(cur.filter(F.col("id") % 3 == i), src)
        refresh_drift_counts(spark, state, src, cfg["edges"])
        if i == 1:  # redelivered refresh must be a no-op
            v_before = delta_head(spark, state)[1]
            refresh_drift_counts(spark, state, src, cfg["edges"])
            assert delta_head(spark, state)[1] == v_before
        # INVARIANT at every version: maintained == full recompute
        got = psi_from_counts(spark, cfg, _read(spark, state))
        want = psi_report(ref, _read(spark, src), ["a", "b"], bins=10)
        assert _report_set(got) == _report_set(want)
    # the injected shift actually registers as drift; b stays stable
    psi = {r["feature"]: r["psi"] for r in got.collect()}
    assert psi["a"] > 0.25
    assert psi["b"] < 0.1


def test_refresh_never_rescans_serving_log(spark, tmp_path):
    """The 100 TB property: after the first refresh, a new append's
    refresh reads only the appended files — no pre-existing serving
    data file is opened again."""
    ref, cur = _frames(spark)
    cfg = drift_monitor_config(ref, ["a", "b"], bins=10)
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    delta_append(cur.filter(F.col("id") % 3 == 0), src)
    refresh_drift_counts(spark, state, src, cfg["edges"])
    old_files = {
        os.path.abspath(os.path.join(src, a["path"]))
        for a in DeltaTable(spark, src).data_files()
    }
    v1 = delta_head(spark, src)[1]
    delta_append(cur.filter(F.col("id") % 3 == 1), src)
    delta = DeltaTable(spark, src).read_appended(v1)
    delta_files = {f.replace("file:", "") for f in delta.inputFiles()}
    assert delta_files and delta_files.isdisjoint(old_files)


def test_non_append_commit_falls_back_to_full(spark, tmp_path):
    ref, cur = _frames(spark)
    cfg = drift_monitor_config(ref, ["a", "b"], bins=10)
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    delta_append(cur, src)
    refresh_drift_counts(spark, state, src, cfg["edges"])
    # rewrite history: drop a third of the window
    delta_overwrite(
        cur.filter(F.col("id") % 3 != 0), src, delta_head(spark, src)[1]
    )
    refresh_drift_counts(spark, state, src, cfg["edges"])
    got = psi_from_counts(spark, cfg, _read(spark, state))
    want = psi_report(ref, _read(spark, src), ["a", "b"], bins=10)
    assert _report_set(got) == _report_set(want)


def test_nulls_do_not_bin_and_empty_feature_is_finite(spark, tmp_path):
    ref, cur = _frames(spark)
    cfg = drift_monitor_config(ref, ["a", "b"], bins=10)
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    # a batch where feature `a` is entirely NULL
    delta_append(
        cur.select("id", F.lit(None).cast("double").alias("a"), "b"), src
    )
    refresh_drift_counts(spark, state, src, cfg["edges"])
    got = {r["feature"]: r for r in psi_from_counts(
        spark, cfg, _read(spark, state)
    ).collect()}
    assert got["a"]["n_cur"] == 0
    assert got["a"]["psi"] == got["a"]["psi"]  # finite, not NaN
    assert got["b"]["n_cur"] > 0
    # matches the recompute on the same (all-NULL `a`) window
    want = psi_report(ref, _read(spark, src), ["a", "b"], bins=10)
    assert {
        (r["feature"], r["n_ref"], r["n_cur"], round(r["psi"], 9))
        for r in want.collect()
    } == {
        (r["feature"], r["n_ref"], r["n_cur"], round(r["psi"], 9))
        for r in psi_from_counts(spark, cfg, _read(spark, state)).collect()
    }


def test_single_bucket_monitor_degenerates_cleanly(spark, tmp_path):
    """bins=1 (no edges) is a degenerate but legal monitor: one
    bucket, PSI identically 0 whenever both windows have rows."""
    ref, cur = _frames(spark)
    cfg = drift_monitor_config(ref, ["a"], bins=1)
    assert cfg["edges"]["a"] == []
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    delta_append(cur, src)
    refresh_drift_counts(spark, state, src, cfg["edges"])
    got = psi_from_counts(spark, cfg, _read(spark, state)).collect()[0]
    assert got["psi"] == 0.0 and got["n_cur"] > 0
