"""Transactional-table guarantees, checked against Delta (the engine's
one native table format): the offline store's appends/MERGEs must have
the commit boundary the reference gets from Iceberg
(IcebergOfflineStore.java:78-114) — a killed writer must NEVER expose a
partial table, at any kill point — plus txn idempotence, change reads,
data skipping, schema evolution and vacuum safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from feature_store_spark.sources import commit
from feature_store_spark.sources import delta as D
from feature_store_spark.sources.delta import (
    DeltaTable,
    delta_append,
    delta_head,
    delta_merge_latest,
    delta_optimize,
    delta_overwrite,
    delta_vacuum,
)

HOUR_RETENTION = {"delta.deletedFileRetentionDuration": "interval 1 hours"}

# Spark jobs of one small OfflineStore.generate_training_dataset collect
TRAINING_PULL_JOBS = 6


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _rows(df):
    return sorted((r["id"], r["tag"]) for r in df.collect())


def _scan(spark, path, **kw):
    return DeltaTable(spark, path).scan(**kw)


def _version(spark, path):
    return delta_head(spark, path)[1]


def _live(spark, path, filters=None):
    return DeltaTable(spark, path).data_files(filters=filters)


def _data_files_on_disk(path):
    """Parquet files under the table, outside the log and staging dirs."""
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return out


class TestCommitProtocol:
    def test_append_versions_and_roundtrip(self, spark, tmp_path):
        path = str(tmp_path / "t")
        assert _version(spark, path) == -1
        assert delta_append(_df(spark, 0, 5, "a"), path) == 0
        assert delta_append(_df(spark, 5, 8, "b"), path) == 1
        assert _version(spark, path) == 1
        assert _rows(_scan(spark, path)) == _rows(
            _df(spark, 0, 5, "a").unionByName(_df(spark, 5, 8, "b"))
        )

    def test_kill_during_data_write_exposes_nothing(
        self, spark, tmp_path, monkeypatch, no_staging_rebalance
    ):
        """Kill point 1: mid-way through moving staged part files into
        the table layout. The table must stay exactly the old version;
        the half-moved files are unreferenced garbage that vacuum
        removes, and the staging dir goes once it is a day old."""
        import time

        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 5, "a").repartition(2), path)
        before = _rows(_scan(spark, path))

        real_replace = os.replace
        calls = {"n": 0}

        def dying_replace(src, dst):
            calls["n"] += 1
            if calls["n"] >= 2:
                raise OSError("killed mid-stage")
            return real_replace(src, dst)

        monkeypatch.setattr(D.os, "replace", dying_replace)
        # the kill scenario needs the staged write to land MULTIPLE
        # part files (die mid-way through moving them); the staging
        # rebalance would coalesce this KB frame to one file, so
        # no_staging_rebalance opts out
        with pytest.raises(OSError, match="killed"):
            delta_append(_df(spark, 5, 9, "b").repartition(3), path)
        monkeypatch.undo()

        assert _version(spark, path) == 0
        assert _rows(_scan(spark, path)) == before  # no partial row
        # the orphan is on disk but unreferenced; vacuum reaps it
        assert len(_data_files_on_disk(path)) > len(_live(spark, path))
        delta_vacuum(spark, path, retention_ms=0)
        assert len(_data_files_on_disk(path)) == len(_live(spark, path))
        staging = [n for n in os.listdir(path) if n.startswith(".staging")]
        assert staging  # a live writer's could look the same
        day_old = time.time() - 25 * 3600
        for n in staging:
            os.utime(os.path.join(path, n), (day_old, day_old))
        delta_vacuum(spark, path, retention_ms=0)
        assert not [n for n in os.listdir(path) if n.startswith(".staging")]
        assert _rows(_scan(spark, path)) == before

    def test_kill_before_manifest_publish_exposes_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill point 2: data files fully staged, death before the
        log publish. The old version stays live; a plain retry commits
        cleanly afterwards."""
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 5, "a"), path)
        before = _rows(_scan(spark, path))

        def dying_publish(*_a, **_k):
            raise OSError("killed pre-publish")

        monkeypatch.setattr(commit, "publish_if_absent", dying_publish)
        with pytest.raises(OSError, match="pre-publish"):
            delta_append(_df(spark, 5, 9, "b"), path)
        monkeypatch.undo()

        assert _version(spark, path) == 0
        assert _rows(_scan(spark, path)) == before
        # recovery: the append simply runs again
        delta_append(_df(spark, 5, 9, "b"), path)
        assert _rows(_scan(spark, path)) == _rows(
            _df(spark, 0, 5, "a").unionByName(_df(spark, 5, 9, "b"))
        )

    def test_torn_manifest_write_invisible(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill point 3: death while writing the commit JSON itself
        (its temp file is not yet durable). The temp file never links
        into the log, so readers cannot see a torn commit."""
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 5, "a"), path)

        def dying_fsync(*a, **k):
            raise OSError("killed mid-serialize")

        monkeypatch.setattr(commit.os, "fsync", dying_fsync)
        with pytest.raises(OSError, match="mid-serialize"):
            delta_append(_df(spark, 5, 9, "b"), path)
        monkeypatch.undo()

        log = os.path.join(path, "_delta_log")
        assert [n for n in os.listdir(log) if n.startswith(".tmp-")]
        assert _version(spark, path) == 0
        assert len(_rows(_scan(spark, path))) == 5

    def test_concurrent_commit_race_retries_metadata_only(
        self, spark, tmp_path, monkeypatch
    ):
        """Two writers race for the same version: link(2) EEXIST makes
        the loser retry at the next version — a metadata-only retry
        (no data rewrite), and BOTH appends land."""
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 3, "a"), path)

        real_publish = commit.publish_if_absent
        state = {"raced": False}

        def racing_publish(directory, name, data):
            if not state["raced"]:
                state["raced"] = True
                # the rival wins the version first
                delta_append(_df(spark, 100, 103, "other"), path)
            return real_publish(directory, name, data)

        monkeypatch.setattr(commit, "publish_if_absent", racing_publish)
        delta_append(_df(spark, 3, 6, "b"), path)
        monkeypatch.undo()

        assert _version(spark, path) == 2  # 0 + racer + ours
        got = _rows(_scan(spark, path))
        assert len(got) == 9
        assert {tag for _, tag in got} == {"a", "b", "other"}
        # the retry re-committed the SAME staged files: nothing orphaned
        assert len(_data_files_on_disk(path)) == len(_live(spark, path))

    def test_merge_upsert_copy_on_write(self, spark, tmp_path):
        path = str(tmp_path / "t")
        base = spark.createDataFrame(
            [("u1", "f", 1.0, 10), ("u2", "f", 2.0, 10)],
            "k string, f string, v double, ts long",
        )
        delta_append(base, path)
        before = {a["path"] for a in _live(spark, path)}
        upd = spark.createDataFrame(
            [("u1", "f", 9.0, 20), ("u3", "f", 3.0, 20)],
            "k string, f string, v double, ts long",
        )
        v = delta_merge_latest(upd, path, keys=["k", "f"], order_col="ts")
        assert v == 1
        got = {r["k"]: r["v"] for r in _scan(spark, path).collect()}
        assert got == {"u1": 9.0, "u2": 2.0, "u3": 3.0}
        # pre-merge files replaced wholesale in one commit, never mixed
        assert not before & {a["path"] for a in _live(spark, path)}
        assert DeltaTable(spark, path).history()[-1]["n_removes"] == len(
            before
        )

    def test_vacuum_keeps_live_snapshot(self, spark, tmp_path):
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 4, "a"), path)
        delta_overwrite(_df(spark, 0, 2, "b"), path, 0)
        assert delta_vacuum(spark, path, retention_ms=0)
        assert _rows(_scan(spark, path)) == [(0, "b"), (1, "b")]


class TestManifestedOfflineStore:
    def test_partitioned_append_and_pruned_scan(self, spark, tmp_path):
        """The table read keeps hive partition parsing, so the
        entity_type filter still prunes partitions (S1/S3 semantics
        preserved under the transactional layout)."""
        from feature_store_spark.offline import OfflineStore

        store = OfflineStore(spark, str(tmp_path / "records"))
        df = spark.createDataFrame(
            [
                ("merchant", "m1", "gmv", 5.0, None),
                ("user", "u1", "clicks", 2.0, None),
            ],
            "entity_type string, entity_id string, feature_name string,"
            " value_float double, value_string string",
        ).withColumn("event_time", F.timestamp_millis(F.lit(86_400_000)))
        store.write_records(df)
        out = store.scan(entity_type="merchant")
        assert [r["entity_id"] for r in out.collect()] == ["m1"]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "entity_type" in plan
        # the partition value also skipped the other entity's file
        assert len(out.inputFiles()) == 1

    def test_merge_records_last_writer_wins(self, spark, tmp_path):
        from feature_store_spark.offline import OfflineStore

        store = OfflineStore(spark, str(tmp_path / "records"))
        mk = lambda eid, v, ms: (  # noqa: E731
            spark.createDataFrame(
                [("merchant", eid, "gmv", v, None)],
                "entity_type string, entity_id string,"
                " feature_name string, value_float double,"
                " value_string string",
            ).withColumn("event_time", F.timestamp_millis(F.lit(ms)))
            .withColumn("created_at", F.timestamp_millis(F.lit(ms)))
        )
        store.write_records(
            mk("m1", 1.0, 86_400_000).unionByName(mk("m2", 2.0, 86_400_000))
        )
        store.merge_records(mk("m1", 7.0, 172_800_000))
        got = {
            r["entity_id"]: r["value_float"]
            for r in store.scan(entity_type="merchant").collect()
        }
        assert got == {"m1": 7.0, "m2": 2.0}

    @staticmethod
    def _record(spark, eid, ms):
        return spark.createDataFrame(
            [("merchant", eid, "gmv", 1.0, None)],
            "entity_type string, entity_id string, feature_name string,"
            " value_float double, value_string string",
        ).select(
            "*",
            F.timestamp_millis(F.lit(ms)).alias("event_time"),
            F.timestamp_millis(F.lit(ms)).alias("created_at"),
        )

    def test_failed_overwrite_keeps_the_store(self, spark, tmp_path):
        """An overwrite whose job fails publishes nothing: the previous
        snapshot still reads back. (A plain parquet overwrite deletes
        the directory before its job runs.)"""
        from feature_store_spark.offline import OfflineStore

        store = OfflineStore(spark, str(tmp_path / "records"))
        one = self._record(spark, "m1", 86_400_000)
        store.write_records(one)
        bad = one.withColumn(
            "value_float",
            F.when(
                F.col("entity_id") == "m1", F.raise_error(F.lit("boom"))
            ).otherwise(F.col("value_float")),
        )
        with pytest.raises(Exception, match="boom"):
            store.write_records(bad, mode="overwrite")
        assert store.scan().count() == 1

    def test_scan_and_training_pull_job_counts(self, spark, tmp_path):
        """Building a scan plans from the Delta log and reads under the
        log's schema, so it launches no Spark job (a parquet directory
        read pays a footer-inference job). The pinned training pull
        catches such a job coming back."""
        from feature_store_spark.offline import OfflineStore
        from tests.test_commit_kernel import _max_job_id

        store = OfflineStore(spark, str(tmp_path / "records"))
        store.write_records(
            self._record(spark, "m1", 86_400_000).unionByName(
                self._record(spark, "m2", 2 * 86_400_000)
            )
        )
        before = _max_job_id(spark)
        store.scan(entity_type="merchant", feature_names=["gmv"])
        assert _max_job_id(spark) - before == 0
        labels = spark.createDataFrame(
            [("m1", 1)], "entity_id string, label int"
        ).withColumn("event_time", F.timestamp_millis(F.lit(3 * 86_400_000)))
        before = _max_job_id(spark)
        rows = store.generate_training_dataset(
            "merchant", ["gmv"], labels, lookback_days=7
        ).collect()
        assert [r["gmv"] for r in rows] == [1.0]
        assert _max_job_id(spark) - before == TRAINING_PULL_JOBS

    def test_date_window_spans_writer_and_reader_zones(self, spark, tmp_path):
        """``event_date`` is the writer's session-local day. A record
        written at UTC+14 lands a calendar day after its UTC date, and
        a reader's bound at UTC-12 dates a day before its UTC date: the
        scan's date window must still keep the record."""
        import datetime as dt
        from zoneinfo import ZoneInfo

        from feature_store_spark.offline import OfflineStore

        store = OfflineStore(spark, str(tmp_path / "records"))
        zone = "spark.sql.session.timeZone"
        saved = spark.conf.get(zone)
        try:
            spark.conf.set(zone, "Pacific/Kiritimati")
            # 2024-01-01T10:30Z
            store.write_records(self._record(spark, "m1", 1_704_105_000_000))
            spark.conf.set(zone, "Etc/GMT+12")
            # 2024-01-01T11:00Z
            bound = dt.datetime(2023, 12, 31, 23, 0, tzinfo=ZoneInfo("Etc/GMT+12"))
            out = store.scan(entity_type="merchant", time_max=bound)
            assert [r["entity_id"] for r in out.collect()] == ["m1"]
            assert ["event_date=2024-01-02" in f for f in out.inputFiles()] == [
                True
            ]
        finally:
            spark.conf.set(zone, saved)


class TestSnapshotSemantics:
    def test_time_travel_reads_old_snapshot(self, spark, tmp_path):
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 3, "a"), path)
        delta_overwrite(_df(spark, 0, 2, "b"), path, 0)
        assert _rows(_scan(spark, path, version=0)) == _rows(
            _df(spark, 0, 3, "a")
        )
        assert _rows(_scan(spark, path)) == _rows(_df(spark, 0, 2, "b"))
        with pytest.raises(ValueError, match="unknown delta version 9"):
            _scan(spark, path, version=9)

    def test_merge_conflicts_instead_of_erasing_interleaved_append(
        self, spark, tmp_path, monkeypatch
    ):
        """Lost-update guard: an append that lands between a MERGE's
        read and its commit must NOT be silently erased — the merge
        re-derives from the new version and both writes survive."""
        path = str(tmp_path / "t")
        schema = "k string, v double, ts long"
        delta_append(spark.createDataFrame([("u1", 1.0, 10)], schema), path)

        real_publish = commit.publish_if_absent
        state = {"raced": False}

        def racing_publish(directory, name, data):
            # only interleave under the merge's own replace-all commit
            if not state["raced"] and '"Overwrite"' in data:
                state["raced"] = True
                delta_append(
                    spark.createDataFrame([("u9", 9.0, 5)], schema), path
                )
            return real_publish(directory, name, data)

        monkeypatch.setattr(commit, "publish_if_absent", racing_publish)
        delta_merge_latest(
            spark.createDataFrame([("u1", 2.0, 20)], schema),
            path,
            keys=["k"],
            order_col="ts",
        )
        monkeypatch.undo()
        got = {r["k"]: r["v"] for r in _scan(spark, path).collect()}
        # the interleaved u9 append SURVIVES the merge
        assert got == {"u1": 2.0, "u9": 9.0}
        assert _version(spark, path) == 2  # append, racer, re-derived merge

    def test_txn_append_is_idempotent(self, spark, tmp_path):
        """(app_id, n) txn token: redelivering a committed micro-batch
        is a no-op — exactly-once contents over at-least-once
        delivery."""
        path = str(tmp_path / "t")
        v1 = delta_append(_df(spark, 0, 3, "a"), path, txn=("sink-1", 0))
        # redelivery
        v2 = delta_append(_df(spark, 0, 3, "a"), path, txn=("sink-1", 0))
        assert (v1, v2) == (0, 0)
        assert len(_rows(_scan(spark, path))) == 3
        delta_append(_df(spark, 3, 5, "b"), path, txn=("sink-1", 1))
        assert len(_rows(_scan(spark, path))) == 5
        t = DeltaTable(spark, path)
        assert t.txn_version("sink-1") == 1
        assert t.txn_version("unknown") == -1
        # a DIFFERENT app_id with the same counter is not deduped
        delta_append(_df(spark, 5, 6, "c"), path, txn=("sink-2", 0))
        assert len(_rows(_scan(spark, path))) == 6

    def test_transactional_compact_preserves_rows_and_cas(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        for i in range(4):
            delta_append(_df(spark, i * 2, i * 2 + 2, "a"), path)
        before = _rows(_scan(spark, path))
        n_files_before = len(_live(spark, path))
        v, _removed, _added = delta_optimize(spark, path)
        assert v == 4
        assert _rows(_scan(spark, path)) == before
        assert len(_live(spark, path)) < n_files_before
        # CAS: a replace-all derived from a stale version conflicts
        with pytest.raises(commit.ConcurrentWriteError):
            delta_overwrite(_df(spark, 0, 1, "x"), path, 2)


class TestManifestStreamSink:
    def test_stream_appends_idempotent_per_batch(self, spark, tmp_path):
        """availableNow stream → Delta through foreachBatch: every
        micro-batch is one atomic log commit carrying its (app_id,
        batch_id) txn; the final table equals the batch result, and
        re-running the SAME committed batch through the sink body is a
        no-op."""
        import time

        from feature_store_spark.sources.delta import delta_append_sink

        inp = tmp_path / "in"
        inp.mkdir()
        schema = "id long, tag string"
        for i in range(3):
            spark.createDataFrame(
                [(i * 10 + j, f"b{i}") for j in range(4)], schema
            ).coalesce(1).write.parquet(str(inp / f"f{i}"))
            time.sleep(1.1)

        path = str(tmp_path / "t")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(inp / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(
                delta_append_sink(path, "attr-sink")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = sorted(r["id"] for r in _scan(spark, path).collect())
        assert got == sorted(
            i * 10 + j for i in range(3) for j in range(4)
        )
        n_batches = _version(spark, path) + 1
        assert n_batches >= 2  # maxFilesPerTrigger=1 → one commit/batch
        last = DeltaTable(spark, path).txn_version("attr-sink")
        assert last == n_batches - 1  # batch ids 0..n-1

        # redelivery simulation: re-run the last committed batch
        sink = delta_append_sink(path, "attr-sink")
        sink(spark.createDataFrame([(999, "dup")], schema), last)
        assert _version(spark, path) == n_batches - 1  # no new commit
        assert 999 not in {r["id"] for r in _scan(spark, path).collect()}


class TestDataSkipping:
    def test_prune_drops_non_overlapping_files(self, spark, tmp_path):
        """Each append records its files' per-column [min, max] in the
        log; a filtered scan drops files whose range cannot overlap
        BEFORE Spark opens a footer, and re-applies the filter."""
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 100, "a").coalesce(1), path)
        delta_append(_df(spark, 100, 200, "b").coalesce(1), path)
        delta_append(_df(spark, 200, 300, "c").coalesce(1), path)
        assert len(_live(spark, path)) == 3

        rng = [("id", ">=", 120), ("id", "<=", 150)]
        pruned = _scan(spark, path, filters=rng)
        assert len(pruned.inputFiles()) == 1
        got = _rows(pruned)
        want = _rows(_scan(spark, path).filter(F.col("id").between(120, 150)))
        assert got == want and len(got) == 31

        # one-sided bounds
        assert len(_live(spark, path, [("id", ">=", 250)])) == 1
        assert len(_live(spark, path, [("id", "<=", 50)])) == 1
        # boundary overlap keeps the file (min/max are inclusive)
        edge = [("id", ">=", 99), ("id", "<=", 100)]
        assert len(_live(spark, path, edge)) == 2
        # everything pruned -> empty frame with the table schema
        empty = _scan(spark, path, filters=[("id", ">=", 900)])
        assert empty.count() == 0
        assert set(empty.columns) == {"id", "tag"}

    def test_unknown_column_never_prunes(self, spark, tmp_path):
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 10, "a").coalesce(1), path)
        assert len(_live(spark, path, [("nope", "=", 0)])) == 1

    def test_string_and_timestamp_ranges(self, spark, tmp_path):
        """String columns prune on their stats; time ranges prune on a
        date partition column (timestamp stats are not recorded)."""
        import datetime as dt

        path = str(tmp_path / "t")
        mk = lambda day, tag: (  # noqa: E731
            spark.range(2)
            .select(
                F.col("id"),
                F.lit(tag).alias("tag"),
                F.timestamp_millis(
                    F.lit(day * 86_400_000) + F.col("id") * 1000
                ).alias("ts"),
            )
            .withColumn("day", F.to_date("ts"))
            .coalesce(1)
        )
        delta_append(mk(1, "early"), path, partition_cols=["day"])
        delta_append(mk(30, "late"), path, partition_cols=["day"])

        pruned = _scan(
            spark,
            path,
            filters=[
                ("day", ">=", dt.date(1970, 1, 25)),
                ("day", "<=", dt.date(1970, 2, 15)),
            ],
        )
        assert len(pruned.inputFiles()) == 1
        assert {r["tag"] for r in pruned.collect()} == {"late"}
        # string column pruning (lexicographic)
        tags = [("tag", ">=", "a"), ("tag", "<=", "f")]
        assert len(_live(spark, path, tags)) == 1

    def test_offline_scan_time_bounds_skip_files(self, spark, tmp_path):
        """The ASOF pre-scan's lookback window drops out-of-window
        data files at planning time through the date partitions."""
        import datetime as dt

        from feature_store_spark.offline import OfflineStore

        store = OfflineStore(spark, str(tmp_path / "records"))
        mk = lambda day, eid: (  # noqa: E731
            spark.createDataFrame(
                [("merchant", eid, "gmv", 1.0, None)],
                "entity_type string, entity_id string,"
                " feature_name string, value_float double,"
                " value_string string",
            ).withColumn(
                "event_time",
                F.timestamp_millis(F.lit(day * 86_400_000)),
            )
        )
        store.write_records(mk(1, "m1"))
        store.write_records(mk(100, "m2"))
        out = store.scan(
            entity_type="merchant",
            time_min=dt.datetime(1970, 3, 1),
        )
        assert [r["entity_id"] for r in out.collect()] == ["m2"]
        assert len(out.inputFiles()) == 1

    def test_clustered_compact_makes_pruning_effective(
        self, spark, tmp_path
    ):
        """After interleaved appends every file spans the whole id
        domain (pruning keeps all); a clustered OPTIMIZE rewrites into
        disjoint ranges so the same filter touches ~1 file — same rows
        before and after."""
        path = str(tmp_path / "t")
        # interleaved ids: every append's file covers ~the full domain
        for k in range(3):
            delta_append(
                spark.range(k, 300, 3)
                .select(F.col("id"), F.lit(f"a{k}").alias("tag"))
                .coalesce(1),
                path,
            )
        rng = [("id", ">=", 10), ("id", "<=", 20)]
        assert len(_live(spark, path, rng)) == 3
        before = _rows(_scan(spark, path))

        total = sum(a["size"] for a in _live(spark, path))
        delta_optimize(
            spark, path, target_file_bytes=-(-total // 4), zorder_by=["id"]
        )
        assert _rows(_scan(spark, path)) == before
        assert len(_live(spark, path)) == 4
        assert len(_live(spark, path, rng)) == 1  # disjoint ranges now
        got = _rows(_scan(spark, path, filters=rng))
        assert got == [r for r in before if 10 <= r[0] <= 20]


@pytest.mark.parametrize("seed", [7, 23])
def test_randomized_op_sequences_match_model(spark, tmp_path, seed):
    """Model-based check: a seeded random sequence of
    append/overwrite/merge/optimize/vacuum against a plain in-memory
    model — after every op the committed table equals the model,
    version numbers are strictly increasing, and an unvacuumed old
    version time-travels to exactly its remembered rows."""
    import random

    rng = random.Random(seed)
    path = str(tmp_path / f"t{seed}")
    schema = "id long, ts long, tag string"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    model: dict[int, tuple[int, str]] = {}  # id -> (ts, tag)
    history: dict[int, dict] = {}
    next_id = 0
    clock = 0
    last_v = -1

    def fresh_rows(n):
        nonlocal next_id, clock
        out = []
        for _ in range(n):
            clock += 1
            out.append((next_id, clock, f"s{seed}"))
            next_id += 1
        return out

    for _step in range(12):
        op = rng.choice(["append", "append", "overwrite", "merge", "compact", "vacuum"])
        if last_v < 0 and op in ("compact", "vacuum"):
            continue  # no table yet: nothing to maintain
        if op == "append":
            rows = fresh_rows(rng.randint(1, 4))
            delta_append(mk(rows), path)
            model.update({r[0]: (r[1], r[2]) for r in rows})
        elif op == "overwrite":
            rows = fresh_rows(rng.randint(1, 3))
            delta_overwrite(mk(rows), path, last_v)
            model = {r[0]: (r[1], r[2]) for r in rows}
        elif op == "merge":
            # touch a mix of existing and new keys with LATER ts
            keys = rng.sample(sorted(model), min(2, len(model))) if model else []
            rows = []
            for k in keys:
                clock += 1
                rows.append((k, clock, "upd"))
            rows += fresh_rows(1)
            delta_merge_latest(mk(rows), path, keys=["id"], order_col="ts")
            model.update({r[0]: (r[1], r[2]) for r in rows})
        elif op == "compact":
            delta_optimize(spark, path, zorder_by=["id"])
        elif op == "vacuum":
            delta_vacuum(spark, path, retention_ms=0)
            history.clear()  # old versions' files are gone now
        v = _version(spark, path)
        assert v > last_v or op == "vacuum", (op, _step)
        last_v = v
        history[v] = dict(model)
        got = {
            r["id"]: (r["ts"], r["tag"]) for r in _scan(spark, path).collect()
        }
        assert got == model, (op, _step)
        # time-travel to a random unvacuumed version
        if len(history) > 1:
            old_v = rng.choice(sorted(history)[:-1])
            old = {
                r["id"]: (r["ts"], r["tag"])
                for r in _scan(spark, path, version=old_v).collect()
            }
            assert old == history[old_v], (op, _step, old_v)


class TestPruneSoundness:
    """Pruning must return a SUPERSET of the matching rows under mixed
    temporal granularity, NaN values, and incomparable types — never
    fewer rows, never a crash."""

    def test_date_bound_keeps_midnight_boundary_rows(
        self, spark, tmp_path
    ):
        """A date-typed bound vs a timestamp column: the row at
        midnight of that date matches ``ts <= DATE`` and must be
        returned."""
        import datetime as dt

        path = str(tmp_path / "t")
        delta_append(
            spark.range(2)
            .select(
                F.col("id"),
                F.timestamp_millis(
                    F.lit(86_400_000) + F.col("id") * 3_600_000
                ).alias("ts"),  # 1970-01-02 00:00 and 01:00
            )
            .coalesce(1),
            path,
        )
        bound = [("ts", "<=", dt.date(1970, 1, 2))]
        assert len(_live(spark, path, bound)) == 1
        assert _scan(spark, path, filters=bound).count() == 1

    def test_nan_rows_never_lost_by_lower_bound(self, spark, tmp_path):
        """Spark orders NaN above every number, so ``x >= 5.0`` matches
        a NaN row: a file holding NaN must survive lower-bound
        pruning, and the filtered scan must return that row."""
        path = str(tmp_path / "t")
        delta_append(
            spark.createDataFrame(
                [(1, 1.0), (2, float("nan"))], "id long, x double"
            ).coalesce(1),
            path,
        )
        assert len(_live(spark, path, [("x", ">=", 5.0)])) == 1
        assert _scan(spark, path, filters=[("x", ">=", 5.0)]).count() == 1
        # NaN fails `x <= hi`, so no matching row can hide there
        assert _scan(spark, path, filters=[("x", "<=", 0.5)]).count() == 0

    def test_incomparable_bound_types_keep_not_crash(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 5, "a").coalesce(1), path)
        # numeric bound against a string column: keep, don't TypeError
        assert len(_live(spark, path, [("tag", ">=", 0)])) == 1
        # string bound against a numeric column: same
        assert len(_live(spark, path, [("id", "<=", "z")])) == 1

    def test_vacuum_retention_protects_inflight_stage(
        self, spark, tmp_path
    ):
        """Vacuum must NOT delete freshly staged (uncommitted) files of
        a concurrent writer — inside the retention window they
        survive, the paused commit publishes, and the table stays
        readable."""
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 3, "a"), path)

        # stage-but-don't-commit, like a writer paused pre-publish
        adds = D._stage_adds(
            _df(spark, 3, 6, "b").coalesce(1), path, 1, [], ["id", "tag"]
        )
        delta_vacuum(spark, path, retention_ms=3_600_000)
        for a in adds:
            assert os.path.exists(os.path.join(path, a["add"]["path"]))
        # the paused writer now commits; table must be fully readable
        D._claim_or_raise(path, 1, adds, "append")
        assert len(_rows(_scan(spark, path))) == 6
        # retention 0 WOULD have deleted it — the single-writer-only
        # escape hatch
        path2 = str(tmp_path / "t2")
        delta_append(_df(spark, 0, 2, "a"), path2)
        adds2 = D._stage_adds(
            _df(spark, 2, 4, "b").coalesce(1), path2, 1, [], ["id", "tag"]
        )
        delta_vacuum(spark, path2, retention_ms=0)
        assert not any(
            os.path.exists(os.path.join(path2, a["add"]["path"]))
            for a in adds2
        )

    def test_vacuum_reaps_crashed_staging_and_tmp(self, spark, tmp_path):
        """A day-old staging dir or commit temp file is a crashed
        writer's and goes; a fresh one may be a live writer's and
        stays, even at zero data-file retention."""
        import time

        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 3, "a"), path)
        old = [
            os.path.join(path, ".staging-deadbeef"),
            os.path.join(path, "_delta_log", ".tmp-deadbeef"),
        ]
        fresh = [
            os.path.join(path, ".staging-cafef00d"),
            os.path.join(path, "_delta_log", ".tmp-cafef00d"),
        ]
        for staging, tmp in (old, fresh):
            os.makedirs(staging)
            with open(tmp, "w") as f:
                f.write("{}")
        two_days_ago = time.time() - 2 * 24 * 3600
        for p in old:
            os.utime(p, (two_days_ago, two_days_ago))
        delta_vacuum(spark, path, retention_ms=0)
        assert not any(os.path.exists(p) for p in old)
        assert all(os.path.exists(p) for p in fresh)
        assert len(_rows(_scan(spark, path))) == 3

    def test_vacuum_spares_an_in_flight_commit(
        self, spark, tmp_path, monkeypatch
    ):
        """Vacuum running while a writer sits between fsyncing its
        commit temp file and linking it (zero data-file retention, the
        default) must leave the temp file alone: the commit lands."""
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 3, "a"), path)
        real_link = commit.os.link
        reaped: list[str] = []

        def vacuum_then_link(src, dst):
            reaped.extend(delta_vacuum(spark, path))
            return real_link(src, dst)

        monkeypatch.setattr(commit.os, "link", vacuum_then_link)
        # a txn-only commit: no data file for vacuum to see as orphan
        v = delta_append(_df(spark, 0, 0, "b"), path, txn=("app", 7))
        monkeypatch.undo()
        assert v == 1 and reaped == []
        assert DeltaTable(spark, path).txn_version("app") == 7
        assert len(_rows(_scan(spark, path))) == 3


class TestManifestMergeSink:
    def test_stream_upserts_last_writer_wins_exactly_once(
        self, spark, tmp_path
    ):
        """Micro-batched upsert stream → Delta through the MERGE sink:
        later batches overwrite earlier values per key, the final
        table equals the batch latest_per_key oracle, and re-running a
        committed batch through the sink body is a no-op (exactly-once
        state over at-least-once delivery)."""
        import time

        from feature_store_spark.streaming.materializer import (
            merge_latest_sink,
        )

        inp = tmp_path / "in"
        inp.mkdir()
        schema = "k string, v double, ts long"
        batches = [
            [("a", 1.0, 10), ("b", 2.0, 10)],
            [("a", 9.0, 20), ("c", 3.0, 20)],
            [("b", 7.0, 30)],
        ]
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                str(inp / f"b{i}")
            )
            time.sleep(1.1)

        path = str(tmp_path / "t")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(inp / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(
                merge_latest_sink(path, "upsert-sink", ["k"], "ts")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = {r["k"]: r["v"] for r in _scan(spark, path).collect()}
        assert got == {"a": 9.0, "b": 7.0, "c": 3.0}
        n = _version(spark, path)
        assert n >= 2  # one merge commit per micro-batch

        # redelivery of the last committed batch: no state change
        sink = merge_latest_sink(path, "upsert-sink", ["k"], "ts")
        sink(
            spark.createDataFrame([("a", 999.0, 99)], schema),
            DeltaTable(spark, path).txn_version("upsert-sink"),
        )
        assert _version(spark, path) == n
        assert {r["k"]: r["v"] for r in _scan(spark, path).collect()} == got


class TestIncrementalRead:
    def test_read_appended_returns_only_new_rows(self, spark, tmp_path):
        path = str(tmp_path / "t")
        v0 = delta_append(_df(spark, 0, 5, "a"), path)
        delta_append(_df(spark, 5, 8, "b"), path)
        delta_append(_df(spark, 8, 10, "c"), path)
        t = DeltaTable(spark, path)
        assert _rows(t.read_appended(v0)) == _rows(
            _df(spark, 5, 8, "b").unionByName(_df(spark, 8, 10, "c"))
        )
        # bounded upper version
        assert _rows(t.read_appended(v0, 1)) == _rows(_df(spark, 5, 8, "b"))
        # since == latest -> empty with the table schema
        empty = t.read_appended(t.latest_version())
        assert empty.count() == 0
        assert set(empty.columns) == {"id", "tag"}
        # since -1 (nothing read yet) -> everything
        assert _rows(t.read_appended(-1)) == _rows(t.scan())

    def test_read_appended_refuses_non_append_ranges(self, spark, tmp_path):
        path = str(tmp_path / "t")
        v0 = delta_append(_df(spark, 0, 5, "a"), path)
        v1 = delta_overwrite(_df(spark, 0, 3, "ow"), path, v0)
        delta_append(_df(spark, 3, 6, "b"), path)
        t = DeltaTable(spark, path)
        with pytest.raises(ValueError, match="not an append"):
            t.read_appended(v0)
        # a range that starts AFTER the overwrite is fine
        assert _rows(t.read_appended(v1)) == _rows(_df(spark, 3, 6, "b"))

    def test_read_appended_refuses_compacted_range(self, spark, tmp_path):
        path = str(tmp_path / "t")
        v0 = delta_append(_df(spark, 0, 5, "a"), path)
        delta_append(_df(spark, 5, 8, "a"), path)
        delta_optimize(spark, path)
        with pytest.raises(ValueError, match="not an append"):
            DeltaTable(spark, path).read_appended(v0)

    def test_read_appended_refuses_missing_commit(self, spark, tmp_path):
        """A range whose commit JSON is gone cannot be proven
        append-only: refuse, so the caller recomputes."""
        path = str(tmp_path / "t")
        for i in range(3):
            delta_append(_df(spark, i * 2, i * 2 + 2, "a"), path)
        D.delta_checkpoint(spark, path)
        os.unlink(os.path.join(path, "_delta_log", f"{1:020d}.json"))
        t = DeltaTable(spark, path)
        assert len(_rows(t.scan())) == 6  # the checkpoint still serves
        with pytest.raises(ValueError, match="is gone"):
            t.read_appended(0)
        assert _rows(t.read_appended(1)) == _rows(_df(spark, 4, 6, "a"))

    def test_txn_version_pins_to_snapshot(self, spark, tmp_path):
        """TOCTOU guard: the txn high-water mark read at a pinned
        version must reflect THAT version, not the live head —
        refresh_fold relies on token and prev-state coming from one
        commit so a racer committing between the two reads can never
        leave a stale token against a newer state."""
        path = str(tmp_path / "t")
        v0 = delta_append(_df(spark, 0, 3, "a"), path, txn=("app", 5))
        delta_append(_df(spark, 3, 6, "b"), path, txn=("app", 9))
        t = DeltaTable(spark, path)
        assert t.txn_version("app") == 9
        assert t.txn_version("app", t.latest_version()) == 9
        assert t.txn_version("app", v0) == 5
        assert t.txn_version("other", v0) == -1


class TestIncrementalAggregate:
    @staticmethod
    def _vals(spark, lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).cast("string").alias("k"),
            (F.col("id") * 1.5).alias("v"),
        )

    @staticmethod
    def _full(spark, df):
        from feature_store_spark.incremental import partial_aggregate

        return sorted(
            tuple(r) for r in partial_aggregate(df, ["k"], "v").collect()
        )

    def test_incremental_equals_full_recompute(self, spark, tmp_path):
        from feature_store_spark import incremental as I

        src, state = str(tmp_path / "src"), str(tmp_path / "state")
        all_rows = self._vals(spark, 0, 30)
        for lo, hi in ((0, 10), (10, 20), (20, 30)):
            delta_append(self._vals(spark, lo, hi), src)
            I.refresh_aggregate(spark, state, src, ["k"], "v")
        got = sorted(tuple(r) for r in _scan(spark, state).collect())
        assert got == self._full(spark, all_rows)

    def test_refresh_is_idempotent_per_source_version(
        self, spark, tmp_path
    ):
        from feature_store_spark import incremental as I

        src, state = str(tmp_path / "src"), str(tmp_path / "state")
        delta_append(self._vals(spark, 0, 10), src)
        v = I.refresh_aggregate(spark, state, src, ["k"], "v")
        assert v == 0  # the first refresh creates the state table
        # redelivered refresh: txn high-water mark short-circuits;
        # no new state version, same contents
        assert I.refresh_aggregate(spark, state, src, ["k"], "v") == v
        assert _version(spark, state) == v
        assert sorted(tuple(r) for r in _scan(spark, state).collect()) == (
            self._full(spark, self._vals(spark, 0, 10))
        )

    def test_refresh_full_recompute_after_merge_commit(
        self, spark, tmp_path
    ):
        from feature_store_spark import incremental as I

        src, state = str(tmp_path / "src"), str(tmp_path / "state")
        delta_append(
            self._vals(spark, 0, 10).withColumn("ord", F.lit(0)), src
        )
        I.refresh_aggregate(spark, state, src, ["k"], "v")
        # a MERGE rewrites membership -> the next refresh must fall
        # back to full recompute, not double-count
        delta_merge_latest(
            self._vals(spark, 0, 5).withColumn("ord", F.lit(1)),
            src,
            keys=["k", "v"],
            order_col="ord",
        )
        delta_append(
            self._vals(spark, 10, 15).withColumn("ord", F.lit(0)), src
        )
        I.refresh_aggregate(spark, state, src, ["k"], "v")
        want = self._full(spark, _scan(spark, src).select("k", "v"))
        assert sorted(tuple(r) for r in _scan(spark, state).collect()) == want


class TestIncrementalViewSink:
    def test_redelivered_batches_never_double_count(
        self, spark, tmp_path
    ):
        """Drive the foreachBatch body directly with a crash-redelivery
        schedule: batch 0, batch 0 again (sink completed, checkpoint
        lost), batch 1, batch 1 again. Source table and aggregate
        state must both equal the once-each outcome."""
        from feature_store_spark.incremental import partial_aggregate
        from feature_store_spark.streaming.materializer import (
            incremental_view_sink,
        )

        src, state = str(tmp_path / "src"), str(tmp_path / "state")
        sink = incremental_view_sink(src, state, "app", ["tag"], "id")
        b0 = _df(spark, 0, 6, "a")
        b1 = _df(spark, 6, 10, "b")
        for batch, bid in ((b0, 0), (b0, 0), (b1, 1), (b1, 1)):
            sink(batch, bid)
        assert _rows(_scan(spark, src)) == _rows(b0.unionByName(b1))
        got = sorted(tuple(r) for r in _scan(spark, state).collect())
        want = sorted(
            tuple(r)
            for r in partial_aggregate(
                b0.unionByName(b1), ["tag"], "id"
            ).collect()
        )
        assert got == want


class TestSchemaWidening:
    def test_widened_append_column_survives_reads(self, spark, tmp_path):
        """A later append may WIDEN the schema with a new nullable
        column (``merge_schema=True``). The scan and read_appended
        must surface it (old rows NULL) even though the older files
        lack it."""
        path = str(tmp_path / "t")
        v0 = delta_append(_df(spark, 0, 5, "a"), path)
        delta_append(
            _df(spark, 5, 8, "b").withColumn("extra", F.col("id") * 10),
            path,
            merge_schema=True,
        )
        t = DeltaTable(spark, path)
        full = t.scan()
        assert "extra" in full.columns
        got = {r["id"]: r["extra"] for r in full.collect()}
        assert got[0] is None and got[7] == 70
        delta = t.read_appended(v0)
        assert "extra" in delta.columns
        assert {r["extra"] for r in delta.collect()} == {50, 60, 70}

    def test_narrow_append_does_not_erase_columns(self, spark, tmp_path):
        """An append missing an existing column must not narrow the
        recorded schema: the column stays readable (NULL for the new
        rows). Without ``merge_schema`` the protocol's enforcement
        refuses the batch instead."""
        path = str(tmp_path / "t")
        delta_append(
            _df(spark, 0, 3, "a").withColumn("extra", F.col("id") * 10),
            path,
        )
        with pytest.raises(ValueError, match="missing columns"):
            delta_append(_df(spark, 3, 5, "b"), path)
        delta_append(_df(spark, 3, 5, "b"), path, merge_schema=True)
        full = _scan(spark, path)
        assert "extra" in full.columns
        got = {r["id"]: r["extra"] for r in full.collect()}
        assert got[0] == 0 and got[2] == 20
        assert got[3] is None and got[4] is None

    def test_sink_batches_widen_and_narrow(self, spark, tmp_path):
        """The stream sinks keep the union-of-schemas contract: a
        micro-batch with a new column widens the source table, a
        later one without it lands NULLs, and the view state still
        folds every row."""
        from feature_store_spark.streaming.materializer import (
            incremental_view_sink,
        )

        src, state = str(tmp_path / "src"), str(tmp_path / "state")
        sink = incremental_view_sink(src, state, "app", ["tag"], "id")
        sink(_df(spark, 0, 3, "a"), 0)
        sink(_df(spark, 3, 6, "a").withColumn("extra", F.col("id")), 1)
        sink(_df(spark, 6, 9, "b"), 2)
        got = {r["id"]: r["extra"] for r in _scan(spark, src).collect()}
        assert got == {i: (i if 3 <= i < 6 else None) for i in range(9)}
        counts = {
            r["tag"]: r["n_rows"] for r in _scan(spark, state).collect()
        }
        assert counts == {"a": 6, "b": 3}

    def test_retyping_append_is_rejected(self, spark, tmp_path):
        """Same column name with a different type is corruption, not
        evolution — the commit must refuse."""
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 3, "a").withColumn("x", F.col("id")), path)
        with pytest.raises(ValueError, match="type changes"):
            delta_append(
                _df(spark, 3, 5, "b").withColumn(
                    "x", F.col("id").cast("string")
                ),
                path,
            )


class TestReviewR10Hardening:
    """Vacuum, version-numbering and prune regressions on the commit
    protocol."""

    def test_vacuum_never_deletes_concurrently_committed_manifest(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit landing AFTER vacuum captured its version (a
        concurrent writer mid-walk) is live and its files must survive
        under the table's retention window."""
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 3, "a"), path, properties=HOUR_RETENTION)
        delta_append(_df(spark, 3, 6, "b"), path)  # "lands mid-vacuum"
        # simulate: vacuum captured v0 as the latest before v1 landed
        monkeypatch.setattr(D.DeltaTable, "latest_version", lambda self: 0)
        delta_vacuum(spark, path)
        monkeypatch.undo()
        assert _version(spark, path) == 1
        assert len(_rows(_scan(spark, path))) == 6

    def test_vacuum_retention_protects_recent_old_manifests(
        self, spark, tmp_path
    ):
        """Files of past versions younger than retention survive (they
        may anchor an in-flight time-travel or read_appended window);
        retention 0 removes them (the single-writer escape hatch)."""
        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 3, "a"), path, properties=HOUR_RETENTION)
        delta_overwrite(_df(spark, 3, 6, "b"), path, 0)
        assert delta_vacuum(spark, path) == []  # table retention: 1 h
        assert len(_rows(_scan(spark, path, version=0))) == 3
        assert len(delta_vacuum(spark, path, retention_ms=0)) == 1

    def test_version_one_million_stays_visible_and_appendable(
        self, spark, tmp_path
    ):
        """Versions past six digits keep their zero-padded 20-digit
        names: the log stays readable and the next append numbers
        forward."""
        import shutil

        path = str(tmp_path / "t")
        delta_append(_df(spark, 0, 3, "a"), path)
        log = os.path.join(path, "_delta_log")
        src = os.path.join(log, f"{0:020d}.json")
        # teleport the log to v999999 + v1000000 (same content)
        for v in (999_999, 1_000_000):
            shutil.copy(src, os.path.join(log, f"{v:020d}.json"))
        os.unlink(src)
        assert _version(spark, path) == 1_000_000
        assert len(_rows(_scan(spark, path))) == 3
        assert delta_append(_df(spark, 3, 5, "b"), path) == 1_000_001
        assert len(_rows(_scan(spark, path))) == 5

    def test_prune_tz_aware_bound_degrades_to_no_skip(
        self, spark, tmp_path
    ):
        """A tz-aware datetime bound against a date partition is not
        comparable: the file must be kept, never a crash; the
        re-applied filter still answers exactly."""
        import datetime as _dt

        path = str(tmp_path / "t")
        df = spark.range(4).select(
            F.col("id"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=F.col("id").cast("int"))
            ).alias("event_time"),
        ).withColumn("day", F.to_date("event_time"))
        delta_append(df.coalesce(1), path, partition_cols=["day"])
        aware = _dt.datetime(2024, 1, 1, 2, tzinfo=_dt.timezone.utc)
        assert len(_live(spark, path, [("day", ">=", aware)])) == 1
        out = _scan(spark, path, filters=[("event_time", ">=", aware)])
        assert out.count() == 2  # 02:00 and 03:00 UTC

    def test_merge_upsert_widening_batch_evolves_schema(
        self, spark, tmp_path
    ):
        """A MERGE batch adding a nullable column must evolve the
        table schema, not AnalysisException a streaming upsert sink
        into a restart loop."""
        path = str(tmp_path / "t")
        base = spark.range(3).select(
            F.col("id"), F.lit(1).alias("v"),
            F.lit("2024-01-01").cast("timestamp").alias("ts"),
        )
        delta_append(base, path)
        wide = spark.range(1, 4).select(
            F.col("id"), F.lit(2).alias("v"),
            F.lit("2024-01-02").cast("timestamp").alias("ts"),
            F.lit("x").alias("extra"),
        )
        delta_merge_latest(wide, path, keys=["id"], order_col="ts")
        got = {
            r["id"]: (r["v"], r["extra"])
            for r in _scan(spark, path).collect()
        }
        assert got[0] == (1, None)   # old row, null-filled new column
        assert got[2] == (2, "x")    # upserted row carries it
