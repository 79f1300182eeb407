"""Small-file compaction, as Delta OPTIMIZE (``delta_optimize``):
identical rows, file count near target, healthy tables untouched,
re-clustering, and a conflict instead of a lost concurrent append."""

import os

import pytest
from pyspark.sql import functions as F

from feature_store_spark.sources import commit
from feature_store_spark.sources.delta import (
    DeltaTable,
    delta_append,
    delta_optimize,
)


def _fragmented_table(spark, path, n_files=64, rows=6400):
    """One append landing ``n_files`` part files; callers take the
    ``no_staging_rebalance`` fixture, as a streaming or per-partition
    writer would leave them."""
    delta_append(
        spark.range(rows).select(
            F.col("id"),
            (F.col("id") % 97).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        ).repartition(n_files),
        path,
    )


def _files(spark, path):
    return DeltaTable(spark, path).data_files()


def _ids(spark, path):
    return sorted(
        r["id"] for r in DeltaTable(spark, path).scan().select("id").collect()
    )


def test_compact_reduces_files_preserves_rows(
    spark, tmp_path, no_staging_rebalance
):
    path = str(tmp_path / "t")
    _fragmented_table(spark, path)
    before_rows = _ids(spark, path)
    assert len(_files(spark, path)) >= 64

    v, removed, added = delta_optimize(spark, path, target_file_bytes=1 << 20)
    assert (v, removed) == (1, 64)
    # everything fits one 1 MB target file
    assert added == len(_files(spark, path)) <= 4
    assert _ids(spark, path) == before_rows
    # no leftover staging dirs
    assert not [n for n in os.listdir(path) if n.startswith(".")]


def test_healthy_table_is_left_alone(spark, tmp_path):
    path = str(tmp_path / "t2")
    delta_append(spark.range(100).coalesce(1), path)
    before = _files(spark, path)
    with pytest.raises(ValueError, match="nothing to optimize"):
        delta_optimize(spark, path)
    assert _files(spark, path) == before
    assert DeltaTable(spark, path).latest_version() == 0


def test_plan_compaction_thresholds(spark, tmp_path, no_staging_rebalance):
    path = str(tmp_path / "t3")
    _fragmented_table(spark, path, n_files=8, rows=800)
    sizes = [a["size"] for a in _files(spark, path)]
    # files at or above the target are not candidates
    with pytest.raises(ValueError, match="nothing to optimize"):
        delta_optimize(spark, path, target_file_bytes=min(sizes))
    # below it they are, and ceil(total / target) files come out
    _v, removed, added = delta_optimize(
        spark, path, target_file_bytes=128 << 20
    )
    assert (removed, added) == (8, 1)


def test_compact_with_sort_recluster(spark, tmp_path, no_staging_rebalance):
    path = str(tmp_path / "t4")
    _fragmented_table(spark, path)
    _v, _removed, added = delta_optimize(
        spark, path, target_file_bytes=1 << 20, zorder_by=["k", "id"]
    )
    assert added == len(_files(spark, path)) >= 1
    assert DeltaTable(spark, path).scan().count() == 6400


def test_compact_refuses_when_concurrent_append_lands(
    spark, tmp_path, monkeypatch, no_staging_rebalance
):
    """An append landing between OPTIMIZE's read and its commit must
    not be lost: the optimize conflicts and leaves the table as the
    racer left it."""
    path = str(tmp_path / "t")
    _fragmented_table(spark, path, n_files=8, rows=100)

    real_publish = commit.publish_if_absent
    state = {"raced": False}

    def racing_publish(directory, name, data):
        if not state["raced"] and '"OPTIMIZE"' in data:
            state["raced"] = True
            delta_append(spark.range(100, 110).select(
                F.col("id"), (F.col("id") % 97).alias("k"),
                F.md5(F.col("id").cast("string")).alias("payload"),
            ), path)
        return real_publish(directory, name, data)

    monkeypatch.setattr(commit, "publish_if_absent", racing_publish)
    with pytest.raises(commit.ConcurrentWriteError):
        delta_optimize(spark, path)
    # every row — including the racer's — still readable
    assert DeltaTable(spark, path).scan().count() == 110
