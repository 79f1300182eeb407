"""Transactional manifest-commit protocol (VERDICT r3 #6 / r4 missing
#2): the offline store's appends/MERGEs must have the commit boundary
the reference gets from Iceberg (IcebergOfflineStore.java:78-114) — a
killed writer must NEVER expose a partial table, at any kill point."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from feature_store_spark.sources import commit
from feature_store_spark.sources import manifest as M


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _rows(df):
    return sorted((r["id"], r["tag"]) for r in df.collect())


class TestCommitProtocol:
    def test_append_versions_and_roundtrip(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        assert t.current_version() == 0
        assert t.append(_df(spark, 0, 5, "a")) == 1
        assert t.append(_df(spark, 5, 8, "b")) == 2
        assert t.current_version() == 2
        assert _rows(t.read()) == _rows(
            _df(spark, 0, 5, "a").unionByName(_df(spark, 5, 8, "b"))
        )

    def test_kill_during_data_write_exposes_nothing(
        self, spark, tmp_path, monkeypatch, no_staging_rebalance
    ):
        """Kill point 1: mid-way through moving part files into data/.
        The snapshot must stay exactly the old one; the half-moved
        files are unreferenced garbage that vacuum removes."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 5, "a").repartition(2))
        before = _rows(t.read())

        real_rename = os.rename
        calls = {"n": 0}

        def dying_rename(src, dst):
            calls["n"] += 1
            if calls["n"] >= 2:
                raise OSError("killed mid-stage")
            return real_rename(src, dst)

        monkeypatch.setattr(M.os, "rename", dying_rename)
        # the kill scenario needs the staged write to land MULTIPLE
        # part files (die mid-way through moving them); the staging
        # rebalance would coalesce this KB frame to one file, so
        # no_staging_rebalance opts out
        with pytest.raises(OSError, match="killed"):
            t.append(_df(spark, 5, 9, "b").repartition(3))
        monkeypatch.undo()

        assert t.current_version() == 1
        assert _rows(t.read()) == before  # not one partial row visible
        # the orphan is on disk but unreferenced; vacuum reaps it
        n_disk = sum(len(fs) for _, _, fs in os.walk(t.data_dir))
        assert n_disk > len(t.files())
        t.vacuum(retention_seconds=0)
        assert _rows(t.read()) == before

    def test_kill_before_manifest_publish_exposes_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill point 2: data files fully staged, death before the
        manifest publish. Old snapshot stays live; a plain retry
        commits cleanly afterwards."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 5, "a"))
        before = _rows(t.read())

        def dying_publish(*_a, **_k):
            raise OSError("killed pre-publish")

        monkeypatch.setattr(commit, "publish_if_absent", dying_publish)
        with pytest.raises(OSError, match="pre-publish"):
            t.append(_df(spark, 5, 9, "b"))
        monkeypatch.undo()

        assert t.current_version() == 1
        assert _rows(t.read()) == before
        # recovery: the append simply runs again
        t.append(_df(spark, 5, 9, "b"))
        assert _rows(t.read()) == _rows(
            _df(spark, 0, 5, "a").unionByName(_df(spark, 5, 9, "b"))
        )

    def test_torn_manifest_write_invisible(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill point 3: death while writing the manifest itself (its
        temp file is not yet durable). The temp file never links into
        the log, so readers cannot see a torn manifest."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 5, "a"))

        real_fsync = commit.os.fsync

        def dying_fsync(*a, **k):
            raise OSError("killed mid-serialize")

        monkeypatch.setattr(commit.os, "fsync", dying_fsync)
        with pytest.raises(OSError, match="mid-serialize"):
            t.append(_df(spark, 5, 9, "b"))
        monkeypatch.setattr(commit.os, "fsync", real_fsync)

        assert t.current_version() == 1
        assert len(_rows(t.read())) == 5

    def test_concurrent_commit_race_retries_metadata_only(
        self, spark, tmp_path, monkeypatch
    ):
        """Two writers race for the same version: link(2) EEXIST makes
        the loser retry — a metadata-only retry on the refreshed base
        (no data rewrite), and BOTH appends land."""
        path = str(tmp_path / "t")
        t = M.ManifestedTable(spark, path)
        t.append(_df(spark, 0, 3, "a"))
        other = M.ManifestedTable(spark, path)

        real_publish = commit.publish_if_absent
        state = {"raced": False}

        def racing_publish(mdir, name, payload):
            if not state["raced"]:
                state["raced"] = True
                other.append(_df(spark, 100, 103, "other"))  # wins N first
            return real_publish(mdir, name, payload)

        monkeypatch.setattr(commit, "publish_if_absent", racing_publish)
        t.append(_df(spark, 3, 6, "b"))
        monkeypatch.undo()

        assert t.current_version() == 3  # 1 + racer + ours
        got = _rows(t.read())
        assert len(got) == 9
        assert {tag for _, tag in got} == {"a", "b", "other"}

    def test_merge_upsert_copy_on_write(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        base = spark.createDataFrame(
            [("u1", "f", 1.0, 10), ("u2", "f", 2.0, 10)],
            "k string, f string, v double, ts long",
        )
        t.append(base)
        upd = spark.createDataFrame(
            [("u1", "f", 9.0, 20), ("u3", "f", 3.0, 20)],
            "k string, f string, v double, ts long",
        )
        v = t.merge_upsert(upd, keys=["k", "f"], order_col="ts")
        assert v == 2
        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert got == {"u1": 9.0, "u2": 2.0, "u3": 3.0}
        # pre-merge snapshot files replaced wholesale, never mixed
        m = t._current_manifest()
        assert m["mode"] == "overwrite"

    def test_vacuum_keeps_live_snapshot(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 4, "a"))
        t.overwrite(_df(spark, 0, 2, "b"))
        stats = t.vacuum(retention_seconds=0)
        assert stats["removed_files"] > 0
        assert stats["removed_manifests"] == 1
        assert _rows(t.read()) == [(0, "b"), (1, "b")]


class TestManifestedOfflineStore:
    def test_partitioned_append_and_pruned_scan(self, spark, tmp_path):
        """The snapshot read keeps hive partition parsing, so the
        entity_type filter still prunes partitions (S1/S3 semantics
        preserved under the transactional layout)."""
        from feature_store_spark.offline import ManifestedOfflineStore

        store = ManifestedOfflineStore(spark, str(tmp_path / "records"))
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

    def test_merge_records_last_writer_wins(self, spark, tmp_path):
        from feature_store_spark.offline import ManifestedOfflineStore

        store = ManifestedOfflineStore(spark, str(tmp_path / "records"))
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


class TestSnapshotSemantics:
    def test_time_travel_reads_old_snapshot(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 3, "a"))
        t.overwrite(_df(spark, 0, 2, "b"))
        assert _rows(t.read(version=1)) == _rows(_df(spark, 0, 3, "a"))
        assert _rows(t.read()) == _rows(_df(spark, 0, 2, "b"))
        with pytest.raises(ValueError, match="no snapshot v9"):
            t.read(version=9)

    def test_merge_conflicts_instead_of_erasing_interleaved_append(
        self, spark, tmp_path, monkeypatch
    ):
        """Lost-update guard: an append that lands between a MERGE's
        read and its commit must NOT be silently erased — the merge
        re-derives from the new snapshot and both writes survive."""
        path = str(tmp_path / "t")
        t = M.ManifestedTable(spark, path)
        base = spark.createDataFrame(
            [("u1", 1.0, 10)], "k string, v double, ts long"
        )
        t.append(base)
        other = M.ManifestedTable(spark, path)

        real_publish = commit.publish_if_absent
        state = {"raced": False}

        def racing_publish(mdir, name, payload):
            # only interleave under the merge's own overwrite commit
            if (
                not state["raced"]
                and json.loads(payload)["mode"] == "overwrite"
            ):
                state["raced"] = True
                other.append(
                    spark.createDataFrame(
                        [("u9", 9.0, 5)], "k string, v double, ts long"
                    )
                )
            return real_publish(mdir, name, payload)

        monkeypatch.setattr(commit, "publish_if_absent", racing_publish)
        t.merge_upsert(
            spark.createDataFrame(
                [("u1", 2.0, 20)], "k string, v double, ts long"
            ),
            keys=["k"],
            order_col="ts",
        )
        monkeypatch.undo()
        got = {r["k"]: r["v"] for r in t.read().collect()}
        # the interleaved u9 append SURVIVES the merge
        assert got == {"u1": 2.0, "u9": 9.0}

    def test_txn_append_is_idempotent(self, spark, tmp_path):
        """Delta-style (app_id, n) token: redelivering a committed
        micro-batch is a no-op — exactly-once contents over
        at-least-once delivery."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        v1 = t.append(_df(spark, 0, 3, "a"), txn=("sink-1", 0))
        v2 = t.append(_df(spark, 0, 3, "a"), txn=("sink-1", 0))  # redelivery
        assert (v1, v2) == (1, 1)
        assert len(_rows(t.read())) == 3
        t.append(_df(spark, 3, 5, "b"), txn=("sink-1", 1))
        assert len(_rows(t.read())) == 5
        assert t.txn_version("sink-1") == 1
        assert t.txn_version("unknown") == -1
        # a DIFFERENT app_id with the same counter is not deduped
        t.append(_df(spark, 5, 6, "c"), txn=("sink-2", 0))
        assert len(_rows(t.read())) == 6

    def test_transactional_compact_preserves_rows_and_cas(
        self, spark, tmp_path
    ):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        for i in range(4):
            t.append(_df(spark, i * 2, i * 2 + 2, "a").repartition(3))
        before = _rows(t.read())
        n_files_before = len(t.files())
        v = t.compact(target_file_mb=128)
        assert v == 5
        assert _rows(t.read()) == before
        assert len(t.files()) < n_files_before
        # CAS: compacting against a stale base conflicts
        with pytest.raises(commit.ConcurrentWriteError):
            t.overwrite(_df(spark, 0, 1, "x"), require_base=2)


class TestManifestStreamSink:
    def test_stream_appends_idempotent_per_batch(self, spark, tmp_path):
        """availableNow stream → ManifestedTable through foreachBatch:
        every micro-batch is one atomic manifest commit carrying its
        (app_id, batch_id) token; the final snapshot equals the batch
        result, and re-running the SAME committed batch through the
        sink body is a no-op."""
        import time

        from feature_store_spark.streaming.materializer import (
            manifest_sink,
            start_manifest_materializer,
        )

        inp = tmp_path / "in"
        inp.mkdir()
        schema = "id long, tag string"
        for i in range(3):
            spark.createDataFrame(
                [(i * 10 + j, f"b{i}") for j in range(4)], schema
            ).coalesce(1).write.parquet(str(inp / f"f{i}"))
            time.sleep(1.1)

        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(inp / "*"))
        )
        q = start_manifest_materializer(
            stream,
            t,
            app_id="attr-sink",
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(180)

        got = sorted(r["id"] for r in t.read().collect())
        assert got == sorted(
            i * 10 + j for i in range(3) for j in range(4)
        )
        n_batches = t.current_version()
        assert n_batches >= 2  # maxFilesPerTrigger=1 → one commit/batch
        last = t.txn_version("attr-sink")
        assert last == n_batches - 1  # batch ids 0..n-1

        # redelivery simulation: re-run the last committed batch
        sink = manifest_sink(t, "attr-sink")
        sink(spark.createDataFrame([(999, "dup")], schema), last)
        assert t.current_version() == n_batches  # no new commit
        assert 999 not in {r["id"] for r in t.read().collect()}


class TestDataSkipping:
    def test_prune_drops_non_overlapping_files(self, spark, tmp_path):
        """Each append commits its files' per-column [min,max] into
        the manifest; read(prune=...) drops files whose range cannot
        overlap BEFORE Spark opens a footer, and the pruned frame is a
        superset of the true filter result (here: exactly it)."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 100, "a").coalesce(1))
        t.append(_df(spark, 100, 200, "b").coalesce(1))
        t.append(_df(spark, 200, 300, "c").coalesce(1))
        assert len(t.files()) == 3

        pruned = t.read(prune={"id": (120, 150)})
        assert len(pruned.inputFiles()) == 1
        got = _rows(pruned.filter(F.col("id").between(120, 150)))
        want = _rows(t.read().filter(F.col("id").between(120, 150)))
        assert got == want and len(got) == 31

        # one-sided bounds
        assert len(t.read(prune={"id": (250, None)}).inputFiles()) == 1
        assert len(t.read(prune={"id": (None, 50)}).inputFiles()) == 1
        # boundary overlap keeps the file (min/max are inclusive)
        assert len(t.read(prune={"id": (99, 100)}).inputFiles()) == 2
        # everything pruned -> empty frame with the committed schema
        empty = t.read(prune={"id": (900, 950)})
        assert empty.count() == 0
        assert set(empty.columns) == {"id", "tag"}

    def test_unknown_column_never_prunes(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 10, "a").coalesce(1))
        assert len(t.read(prune={"nope": (0, 1)}).inputFiles()) == 1

    def test_string_and_timestamp_ranges(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        mk = lambda day, tag: (  # noqa: E731
            spark.range(2)
            .select(
                F.col("id"),
                F.lit(tag).alias("tag"),
                F.timestamp_millis(
                    F.lit(day * 86_400_000) + F.col("id") * 1000
                ).alias("ts"),
            )
            .coalesce(1)
        )
        t.append(mk(1, "early"))
        t.append(mk(30, "late"))
        import datetime as dt

        pruned = t.read(
            prune={
                "ts": (
                    dt.datetime(1970, 1, 25),
                    dt.datetime(1970, 2, 15),
                )
            }
        )
        assert len(pruned.inputFiles()) == 1
        assert {r["tag"] for r in pruned.collect()} == {"late"}
        # string column pruning (lexicographic)
        assert len(t.read(prune={"tag": ("a", "f")}).inputFiles()) == 1

    def test_offline_scan_time_bounds_skip_files(self, spark, tmp_path):
        """The ASOF pre-scan's lookback window drops out-of-window
        data files at planning time through the manifest stats."""
        import datetime as dt

        from feature_store_spark.offline import ManifestedOfflineStore

        store = ManifestedOfflineStore(spark, str(tmp_path / "records"))
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
        domain (prune keeps all); a cluster_by compact rewrites into
        disjoint ranges so the same prune touches ~1 file — same rows
        before and after."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        # interleaved ids: every append's file covers ~the full domain
        for k in range(3):
            t.append(
                spark.range(k, 300, 3)
                .select(F.col("id"), F.lit(f"a{k}").alias("tag"))
                .coalesce(1)
            )
        assert len(t.read(prune={"id": (10, 20)}).inputFiles()) == 3
        before = _rows(t.read())

        t.compact(cluster_by=["id"], n_files=4)
        assert _rows(t.read()) == before
        assert len(t.files()) == 4
        pruned = t.read(prune={"id": (10, 20)})
        assert len(pruned.inputFiles()) == 1  # disjoint ranges now
        got = _rows(pruned.filter(F.col("id").between(10, 20)))
        assert got == [r for r in before if 10 <= r[0] <= 20]


@pytest.mark.parametrize("seed", [7, 23])
def test_randomized_op_sequences_match_model(spark, tmp_path, seed):
    """Model-based check: a seeded random sequence of
    append/overwrite/merge/compact/vacuum against a plain in-memory
    model — after every op the committed snapshot equals the model,
    version numbers are strictly increasing, and an unvacuumed old
    version time-travels to exactly its remembered rows."""
    import random

    rng = random.Random(seed)
    t = M.ManifestedTable(spark, str(tmp_path / f"t{seed}"))
    schema = "id long, ts long, tag string"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    model: dict[int, tuple[int, str]] = {}  # id -> (ts, tag)
    history: dict[int, dict] = {}
    next_id = 0
    clock = 0

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
        if op == "append":
            rows = fresh_rows(rng.randint(1, 4))
            t.append(mk(rows))
            model.update({r[0]: (r[1], r[2]) for r in rows})
        elif op == "overwrite":
            rows = fresh_rows(rng.randint(1, 3))
            t.overwrite(mk(rows))
            model = {r[0]: (r[1], r[2]) for r in rows}
        elif op == "merge":
            # touch a mix of existing and new keys with LATER ts
            keys = rng.sample(sorted(model), min(2, len(model))) if model else []
            rows = []
            for k in keys:
                clock += 1
                rows.append((k, clock, "upd"))
            rows += fresh_rows(1)
            t.merge_upsert(mk(rows), keys=["id"], order_col="ts")
            model.update({r[0]: (r[1], r[2]) for r in rows})
        elif op == "compact":
            t.compact(cluster_by=["id"], n_files=2)
        elif op == "vacuum":
            t.vacuum(retention_seconds=0)
            history.clear()  # old versions are gone now
        v = t.current_version()
        history[v] = dict(model)
        got = {r["id"]: (r["ts"], r["tag"]) for r in t.read().collect()}
        assert got == model, (op, _step)
        # time-travel to a random unvacuumed version
        if len(history) > 1:
            old_v = rng.choice(sorted(history)[:-1])
            old = {
                r["id"]: (r["ts"], r["tag"])
                for r in t.read(version=old_v).collect()
            }
            assert old == history[old_v], (op, _step, old_v)


class TestPruneSoundness:
    """Code-review findings: pruning must return a SUPERSET of the
    matching rows under mixed temporal granularity, NaN values, and
    incomparable types — never fewer rows, never a crash."""

    def test_date_bound_keeps_midnight_boundary_rows(
        self, spark, tmp_path
    ):
        """A date-typed upper bound vs timestamp-column stats: the
        file whose min row IS midnight of that date must be kept
        (string-compare would prune it and lose matching rows)."""
        import datetime as dt

        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(
            spark.range(2)
            .select(
                F.col("id"),
                F.timestamp_millis(
                    F.lit(86_400_000) + F.col("id") * 3_600_000
                ).alias("ts"),  # 1970-01-02 00:00 and 01:00
            )
            .coalesce(1)
        )
        pruned = t.read(prune={"ts": (None, dt.date(1970, 1, 2))})
        assert len(pruned.inputFiles()) == 1
        kept = pruned.filter(
            F.col("ts") <= F.lit(dt.date(1970, 1, 2)).cast("timestamp")
        )
        assert kept.count() == 1  # the midnight row survives

    def test_nan_rows_never_lost_by_lower_bound(self, spark, tmp_path):
        """Spark orders NaN above every number, but parquet footer
        stats exclude NaN — so a float column must not prune on the
        LOWER bound (fmax < lo cannot prove no NaN matches)."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(
            spark.createDataFrame(
                [(1, 1.0), (2, float("nan"))], "id long, x double"
            ).coalesce(1)
        )
        pruned = t.read(prune={"x": (5.0, None)})
        assert len(pruned.inputFiles()) == 1  # kept despite fmax=1.0
        # ...because the real filter matches the NaN row in Spark
        assert pruned.filter(F.col("x") >= 5.0).count() == 1
        # upper-bound pruning on float columns still PRUNES — sound,
        # because NaN fails `x <= hi` too (no matching row can hide)
        assert t.read(prune={"x": (None, 0.5)}).count() == 0
        assert t.read().filter(F.col("x") <= 0.5).count() == 0

    def test_incomparable_bound_types_keep_not_crash(
        self, spark, tmp_path
    ):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 5, "a").coalesce(1))
        # numeric bound against a string column: keep, don't TypeError
        assert len(t.read(prune={"tag": (0, 9)}).inputFiles()) == 1
        # string bound against a numeric column: same
        assert len(t.read(prune={"id": ("a", "z")}).inputFiles()) == 1

    def test_vacuum_retention_protects_inflight_stage(
        self, spark, tmp_path, monkeypatch
    ):
        """Review finding: vacuum must NOT delete freshly staged
        (uncommitted) files of a concurrent writer — with the default
        retention they survive, the interrupted commit retries, and
        the table stays readable."""
        path = str(tmp_path / "t")
        t = M.ManifestedTable(spark, path)
        t.append(_df(spark, 0, 3, "a"))

        # stage-but-don't-commit, like a writer paused pre-publish
        rels, schema_json, stats = t._stage(
            _df(spark, 3, 6, "b").coalesce(1), None
        )
        other = M.ManifestedTable(spark, path)
        other.vacuum()  # default retention: fresh stage survives
        for rel in rels:
            assert os.path.exists(os.path.join(t.data_dir, rel))
        # the paused writer now commits; table must be fully readable
        t._commit(rels, schema_json, "append", stats=stats)
        assert len(_rows(t.read())) == 6
        # retention 0 WOULD have deleted it — the documented
        # single-writer-only escape hatch
        t2 = M.ManifestedTable(spark, str(tmp_path / "t2"))
        t2.append(_df(spark, 0, 2, "a"))
        rels2, sj2, st2 = t2._stage(_df(spark, 2, 4, "b").coalesce(1), None)
        t2.vacuum(retention_seconds=0)
        assert not any(
            os.path.exists(os.path.join(t2.data_dir, r)) for r in rels2
        )

    def test_vacuum_reaps_crashed_staging_and_tmp(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 3, "a"))
        os.makedirs(os.path.join(t.path, ".staging-deadbeef"))
        open(
            os.path.join(t.manifest_dir, ".tmp-deadbeef"), "w"
        ).write("{}")
        t.vacuum(retention_seconds=0)
        assert not os.path.exists(os.path.join(t.path, ".staging-deadbeef"))
        assert not os.path.exists(
            os.path.join(t.manifest_dir, ".tmp-deadbeef")
        )
        assert len(_rows(t.read())) == 3


class TestManifestMergeSink:
    def test_stream_upserts_last_writer_wins_exactly_once(
        self, spark, tmp_path
    ):
        """Micro-batched upsert stream → ManifestedTable through the
        MERGE sink: later batches overwrite earlier values per key,
        the final snapshot equals the batch latest_per_key oracle,
        and re-running a committed batch through the sink body is a
        no-op (exactly-once state over at-least-once delivery)."""
        import time

        from feature_store_spark.streaming.materializer import (
            manifest_merge_sink,
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

        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(inp / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(
                manifest_merge_sink(t, "upsert-sink", keys=["k"], order_col="ts")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert got == {"a": 9.0, "b": 7.0, "c": 3.0}
        n = t.current_version()
        assert n >= 3  # one merge commit per micro-batch

        # redelivery of the last committed batch: no state change
        sink = manifest_merge_sink(t, "upsert-sink", keys=["k"], order_col="ts")
        sink(
            spark.createDataFrame([("a", 999.0, 99)], schema),
            t.txn_version("upsert-sink"),
        )
        assert t.current_version() == n
        assert {r["k"]: r["v"] for r in t.read().collect()} == got


class TestIncrementalRead:
    def test_read_appended_returns_only_new_rows(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 5, "a"))
        v1 = t.current_version()
        t.append(_df(spark, 5, 8, "b"))
        t.append(_df(spark, 8, 10, "c"))
        assert _rows(t.read_appended(v1)) == _rows(
            _df(spark, 5, 8, "b").unionByName(_df(spark, 8, 10, "c"))
        )
        # bounded upper version
        assert _rows(t.read_appended(v1, version=2)) == _rows(
            _df(spark, 5, 8, "b")
        )
        # since == current -> empty with the table schema
        empty = t.read_appended(t.current_version())
        assert empty.count() == 0
        assert set(empty.columns) == {"id", "tag"}
        # since 0 -> everything
        assert _rows(t.read_appended(0)) == _rows(t.read())

    def test_read_appended_refuses_non_append_ranges(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 5, "a"))
        v1 = t.current_version()
        t.overwrite(_df(spark, 0, 3, "ow"))
        t.append(_df(spark, 3, 6, "b"))
        with pytest.raises(ValueError, match="not append"):
            t.read_appended(v1)
        # a range that starts AFTER the overwrite is fine
        assert _rows(t.read_appended(2)) == _rows(_df(spark, 3, 6, "b"))

    def test_read_appended_refuses_compacted_range(self, spark, tmp_path):
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 5, "a"))
        v1 = t.current_version()
        t.append(_df(spark, 5, 8, "a"))
        t.compact()
        with pytest.raises(ValueError, match="not append"):
            t.read_appended(v1)

    def test_read_appended_empty_range_on_legacy_schemaless_manifest(
        self, spark, tmp_path
    ):
        """ADVICE r6 #2: a legacy manifest with no ``schema`` record
        must yield an empty frame on the no-new-files branch, not a
        KeyError (callers catch ValueError for the recompute fallback,
        so a KeyError would crash refresh_aggregate outright)."""
        import json

        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 5, "a"))
        v1 = t.current_version()
        mpath = os.path.join(t.manifest_dir, f"v{v1:06d}.json")
        with open(mpath) as f:
            m = json.load(f)
        m.pop("schema", None)
        with open(mpath, "w") as f:
            json.dump(m, f)
        empty = t.read_appended(v1)  # since == current, no new files
        assert empty.count() == 0

    def test_txn_version_pins_to_snapshot(self, spark, tmp_path):
        """ADVICE r6 #1 (TOCTOU): the txn high-water mark read at a
        pinned version must reflect THAT snapshot, not the live head —
        refresh_aggregate relies on token and prev-state coming from
        one manifest so a racer committing between the two reads can
        never leave a stale token against a newer state."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 3, "a"), txn=("app", 5))
        v1 = t.current_version()
        t.append(_df(spark, 3, 6, "b"), txn=("app", 9))
        assert t.txn_version("app") == 9
        assert t.txn_version("app", version=t.current_version()) == 9
        assert t.txn_version("app", version=v1) == 5
        assert t.txn_version("app", version=0) == -1
        assert t.txn_version("other", version=v1) == -1


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

        src = M.ManifestedTable(spark, str(tmp_path / "src"))
        state = M.ManifestedTable(spark, str(tmp_path / "state"))
        all_rows = self._vals(spark, 0, 30)
        for lo, hi in ((0, 10), (10, 20), (20, 30)):
            src.append(self._vals(spark, lo, hi))
            I.refresh_aggregate(state, src, ["k"], "v")
        got = sorted(tuple(r) for r in state.read().collect())
        assert got == self._full(spark, all_rows)

    def test_refresh_is_idempotent_per_source_version(
        self, spark, tmp_path
    ):
        from feature_store_spark import incremental as I

        src = M.ManifestedTable(spark, str(tmp_path / "src"))
        state = M.ManifestedTable(spark, str(tmp_path / "state"))
        src.append(self._vals(spark, 0, 10))
        v = I.refresh_aggregate(state, src, ["k"], "v")
        # redelivered refresh: txn high-water mark short-circuits;
        # no new state version, same contents
        assert I.refresh_aggregate(state, src, ["k"], "v") == v
        assert state.current_version() == v
        assert sorted(tuple(r) for r in state.read().collect()) == (
            self._full(spark, self._vals(spark, 0, 10))
        )

    def test_refresh_full_recompute_after_merge_commit(
        self, spark, tmp_path
    ):
        from feature_store_spark import incremental as I

        src = M.ManifestedTable(spark, str(tmp_path / "src"))
        state = M.ManifestedTable(spark, str(tmp_path / "state"))
        src.append(
            self._vals(spark, 0, 10).withColumn("ord", F.lit(0))
        )
        I.refresh_aggregate(state, src, ["k"], "v")
        # a MERGE rewrites membership -> the next refresh must fall
        # back to full recompute, not double-count
        src.merge_upsert(
            self._vals(spark, 0, 5).withColumn("ord", F.lit(1)),
            keys=["k", "v"],
            order_col="ord",
        )
        src.append(self._vals(spark, 10, 15).withColumn("ord", F.lit(0)))
        I.refresh_aggregate(state, src, ["k"], "v")
        want = self._full(
            spark, src.read().select("k", "v")
        )
        assert sorted(tuple(r) for r in state.read().collect()) == want


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

        src = M.ManifestedTable(spark, str(tmp_path / "src"))
        state = M.ManifestedTable(spark, str(tmp_path / "state"))
        sink = incremental_view_sink(src, state, "app", ["tag"], "id")
        b0 = _df(spark, 0, 6, "a")
        b1 = _df(spark, 6, 10, "b")
        for batch, bid in ((b0, 0), (b0, 0), (b1, 1), (b1, 1)):
            sink(batch, bid)
        assert _rows(src.read()) == _rows(b0.unionByName(b1))
        got = sorted(tuple(r) for r in state.read().collect())
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
        column. read() and read_appended() must surface it (old rows
        NULL) — without mergeSchema Spark samples one footer and the
        column silently vanishes when an old file is sampled."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 5, "a"))
        v1 = t.current_version()
        t.append(
            _df(spark, 5, 8, "b").withColumn("extra", F.col("id") * 10)
        )
        full = t.read()
        assert "extra" in full.columns
        got = {r["id"]: r["extra"] for r in full.collect()}
        assert got[0] is None and got[7] == 70
        delta = t.read_appended(v1)
        assert "extra" in delta.columns
        assert {r["extra"] for r in delta.collect()} == {50, 60, 70}

    def test_narrow_append_does_not_erase_columns(self, spark, tmp_path):
        """An append missing an existing column must not narrow the
        recorded schema: the column stays readable (NULL for the new
        rows)."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(
            _df(spark, 0, 3, "a").withColumn("extra", F.col("id") * 10)
        )
        t.append(_df(spark, 3, 5, "b"))
        full = t.read()
        assert "extra" in full.columns
        got = {r["id"]: r["extra"] for r in full.collect()}
        assert got[0] == 0 and got[2] == 20
        assert got[3] is None and got[4] is None

    def test_retyping_append_is_rejected(self, spark, tmp_path):
        """Same column name with a different type is corruption, not
        evolution — the commit must refuse."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 3, "a").withColumn("x", F.col("id")))
        with pytest.raises(ValueError, match="never retypes"):
            t.append(
                _df(spark, 3, 5, "b").withColumn(
                    "x", F.col("id").cast("string")
                )
            )


class TestReviewR10Hardening:
    """Round-10 self-review regressions on the commit protocol."""

    def test_vacuum_never_deletes_concurrently_committed_manifest(
        self, spark, tmp_path, monkeypatch
    ):
        """A manifest committed AFTER vacuum captured its current
        snapshot (a concurrent writer mid-walk) is live and must
        survive — unlinking it destroyed a committed append."""
        path = str(tmp_path / "t")
        t = M.ManifestedTable(spark, path)
        t.append(_df(spark, 0, 3, "a"))   # v1
        t.append(_df(spark, 3, 6, "b"))   # v2 — "lands mid-vacuum"
        v1 = t._manifest_at(1)
        # simulate: vacuum captured v1 as current before v2 landed;
        # DEFAULT retention (the production setting — retention 0 is
        # the documented single-writer escape hatch where concurrent
        # state legitimately dies)
        monkeypatch.setattr(
            M.ManifestedTable, "_current_manifest", lambda self: v1
        )
        t.vacuum()
        monkeypatch.undo()
        # v2 (newer than the captured current) must still be there,
        # manifest AND data — the old code unlinked every manifest
        # except the captured current regardless of age
        assert t.current_version() == 2
        assert len(_rows(t.read())) == 6

    def test_vacuum_retention_protects_recent_old_manifests(
        self, spark, tmp_path
    ):
        """Past snapshots younger than retention survive (they may
        anchor an in-flight time-travel or read_appended window);
        retention 0 removes them (the single-writer escape hatch)."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 3, "a"))   # v1
        t.append(_df(spark, 3, 6, "b"))   # v2
        stats = t.vacuum()  # default 24h retention
        assert stats["removed_manifests"] == 0
        assert len(_rows(t.read(version=1))) == 3  # time travel intact
        stats0 = t.vacuum(retention_seconds=0)
        assert stats0["removed_manifests"] == 1

    def test_version_one_million_stays_visible_and_appendable(
        self, spark, tmp_path
    ):
        """%06d grows to 7 digits at version 1,000,000; the manifest
        regex must keep matching or the table bricks (current_version
        stuck, every commit EEXIST-conflicting forever)."""
        import json as _json

        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        t.append(_df(spark, 0, 3, "a"))   # v1
        # teleport the log to v999999 + v1000000 (same content)
        src = os.path.join(t.manifest_dir, "v000001.json")
        for v in (999_999, 1_000_000):
            payload = _json.load(open(src))
            payload["version"] = v
            with open(
                os.path.join(t.manifest_dir, f"v{v:06d}.json"), "w"
            ) as f:
                _json.dump(payload, f)
        os.unlink(src)
        assert t.current_version() == 1_000_000
        assert len(_rows(t.read())) == 3
        v = t.append(_df(spark, 3, 5, "b"))
        assert v == 1_000_001
        assert len(_rows(t.read())) == 5

    def test_prune_tz_aware_bound_degrades_to_no_skip(
        self, spark, tmp_path
    ):
        """A tz-aware datetime bound is not provably on the committed
        stats' (naive, session-local) clock: the read must keep every
        file, never crash comparing naive vs aware."""
        import datetime as _dt

        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        df = spark.range(4).select(
            F.col("id"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=F.col("id").cast("int"))
            ).alias("event_time"),
        )
        t.append(df.coalesce(1))
        aware = _dt.datetime(2024, 1, 1, 2, tzinfo=_dt.timezone.utc)
        out = t.read(prune={"event_time": (aware, None)})
        assert out.count() == 4  # superset kept, no TypeError

    def test_merge_upsert_widening_batch_evolves_schema(
        self, spark, tmp_path
    ):
        """A MERGE batch adding a nullable column must evolve the
        snapshot schema like append does, not AnalysisException a
        streaming upsert sink into a restart loop."""
        t = M.ManifestedTable(spark, str(tmp_path / "t"))
        base = spark.range(3).select(
            F.col("id"), F.lit(1).alias("v"),
            F.lit("2024-01-01").cast("timestamp").alias("ts"),
        )
        t.append(base)
        wide = spark.range(1, 4).select(
            F.col("id"), F.lit(2).alias("v"),
            F.lit("2024-01-02").cast("timestamp").alias("ts"),
            F.lit("x").alias("extra"),
        )
        t.merge_upsert(wide, keys=["id"], order_col="ts")
        got = {r["id"]: (r["v"], r["extra"]) for r in t.read().collect()}
        assert got[0] == (1, None)   # old row, null-filled new column
        assert got[2] == (2, "x")    # upserted row carries it
