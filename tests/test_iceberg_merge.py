"""iceberg_merge — conditional / partial-column / by-source MERGE
arms on the one-snapshot equality-delete physics (VERDICT r12 next
#1: arm parity with delta_merge on the format the reference's offline
store actually uses, IcebergOfflineStore.java:78-114)."""

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

TS = datetime.datetime(2024, 3, 1)
S = (
    "entity_type string, entity_id string, value_float double, "
    "event_time timestamp"
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, S)


class TestIcebergMergeArms:
    def test_conditional_partial_arms_and_changelog(
        self, spark, tmp_path
    ):
        """Ordered arms, first-true fires, partial SET keeps target
        values, no-arm-fired matched rows survive with their source
        row consumed, conditional insert — and the changelog over the
        commit reads EXACTLY the fired deletes/inserts."""
        from feature_store_spark.sources.iceberg import IcebergTable
        from feature_store_spark.sources.iceberg_write import (
            iceberg_append,
            iceberg_merge,
        )

        d = str(tmp_path / "im")
        base = _frame(
            spark, [("user", str(i), float(i), TS) for i in range(10)]
        )
        s1 = iceberg_append(base, d)
        batch = _frame(
            spark,
            [
                ("user", "1", 100.0, TS),  # arm 1: partial update
                ("user", "2", 0.0, TS),  # arm 2: delete
                ("user", "3", -1.0, TS),  # matched, no arm fires
                ("user", "50", 500.0, TS),  # inserts
                ("user", "51", -5.0, TS),  # insert blocked by cond
            ],
        )
        snap, nu, nd, ni = iceberg_merge(
            batch,
            d,
            keys=["entity_id"],
            when_matched=[
                {
                    "condition": "src.value_float > 50",
                    "action": "update",
                    "set": {
                        "value_float":
                        "tgt.value_float + src.value_float"
                    },
                },
                {
                    "condition": "src.value_float = 0.0",
                    "action": "delete",
                },
            ],
            insert_condition="src.value_float > 0",
        )
        assert (nu, nd, ni) == (1, 1, 1)
        got = {
            r["entity_id"]: r["value_float"]
            for r in IcebergTable(spark, d).scan().collect()
        }
        want = {str(i): float(i) for i in range(10)}
        want["1"] = 101.0
        del want["2"]
        want["50"] = 500.0
        assert got == want
        cc = {
            (r["_change_type"], r["entity_id"]): r["value_float"]
            for r in IcebergTable(spark, d).changes(s1).collect()
        }
        assert cc == {
            ("delete", "1"): 1.0,
            ("delete", "2"): 2.0,
            ("insert", "1"): 101.0,
            ("insert", "50"): 500.0,
        }

    def test_sibling_rows_of_fired_key_are_carried(
        self, spark, tmp_path
    ):
        """The equality delete is KEY-granular: a fired key whose
        target holds extra live rows that fired no arm must re-land
        them verbatim, or the merge would silently drop rows no arm
        touched."""
        from feature_store_spark.sources.iceberg import IcebergTable
        from feature_store_spark.sources.iceberg_write import (
            iceberg_append,
            iceberg_merge,
        )

        d = str(tmp_path / "imc")
        iceberg_append(
            _frame(
                spark, [("user", "a", 1.0, TS), ("user", "b", 5.0, TS)]
            ),
            d,
        )
        iceberg_append(_frame(spark, [("user", "a", 2.0, TS)]), d)
        snap, nu, nd, ni = iceberg_merge(
            _frame(spark, [("user", "a", 100.0, TS)]),
            d,
            keys=["entity_id"],
            when_matched=[
                {
                    "condition": "tgt.value_float = 1.0",
                    "action": "update",
                    "set": {"value_float": "src.value_float"},
                }
            ],
            insert=False,
        )
        got = sorted(
            (r["entity_id"], r["value_float"])
            for r in IcebergTable(spark, d).scan().collect()
        )
        assert got == [("a", 2.0), ("a", 100.0), ("b", 5.0)]
        assert (nu, nd, ni) == (1, 0, 0)

    def test_pure_delete_noop_and_txn(self, spark, tmp_path):
        from feature_store_spark.sources.iceberg import IcebergTable
        from feature_store_spark.sources.iceberg_write import (
            iceberg_append,
            iceberg_merge,
            iceberg_txn_version,
        )

        d = str(tmp_path / "imd")
        iceberg_append(
            _frame(
                spark, [("user", "a", 1.0, TS), ("user", "b", 5.0, TS)]
            ),
            d,
        )
        # pure delete: snapshot carries only the delete manifest
        snap, nu, nd, ni = iceberg_merge(
            _frame(spark, [("user", "b", 0.0, TS)]),
            d,
            keys=["entity_id"],
            when_matched=[{"condition": None, "action": "delete"}],
            insert=False,
        )
        assert (nu, nd, ni) == (0, 1, 0)
        assert [
            r["entity_id"]
            for r in IcebergTable(spark, d).scan().collect()
        ] == ["a"]
        # no-op merge commits nothing
        n_snaps = len(IcebergTable(spark, d).snapshots())
        snap, nu, nd, ni = iceberg_merge(
            _frame(spark, [("user", "zz", 1.0, TS)]),
            d,
            keys=["entity_id"],
            when_matched=[{"condition": None, "action": "delete"}],
            insert=False,
        )
        assert (nu, nd, ni) == (0, 0, 0)
        assert len(IcebergTable(spark, d).snapshots()) == n_snaps
        # quiet batch with txn: metadata-only watermark advance
        empty = spark.createDataFrame([], S)
        iceberg_merge(
            empty,
            d,
            keys=["entity_id"],
            when_matched=[
                {"condition": None, "action": "update", "set": None}
            ],
            txn=("app", 3),
        )
        assert iceberg_txn_version(d, "app") == 3
        assert IcebergTable(spark, d).scan().count() == 1
        # redelivery no-ops (no table change, no new snapshot)
        before = len(IcebergTable(spark, d).snapshots())
        iceberg_merge(
            _frame(spark, [("user", "a", 9.0, TS)]),
            d,
            keys=["entity_id"],
            when_matched=[
                {"condition": None, "action": "update", "set": None}
            ],
            txn=("app", 3),
        )
        assert len(IcebergTable(spark, d).snapshots()) == before
        assert [
            r["value_float"]
            for r in IcebergTable(spark, d).scan().collect()
        ] == [1.0]

    def test_refusals(self, spark, tmp_path):
        from feature_store_spark.sources.iceberg_write import (
            iceberg_append,
            iceberg_merge,
        )

        d = str(tmp_path / "imr")
        iceberg_append(_frame(spark, [("user", "a", 1.0, TS)]), d)
        with pytest.raises(ValueError, match="multiple rows"):
            iceberg_merge(
                _frame(
                    spark,
                    [("user", "x", 1.0, TS), ("user", "x", 2.0, TS)],
                ),
                d,
                keys=["entity_id"],
                when_matched=[
                    {"condition": None, "action": "update", "set": None}
                ],
            )
        with pytest.raises(ValueError, match="SETs merge key"):
            iceberg_merge(
                _frame(spark, [("user", "x", 1.0, TS)]),
                d,
                keys=["entity_id"],
                when_matched=[
                    {
                        "condition": None,
                        "action": "update",
                        "set": {"entity_id": "'y'"},
                    }
                ],
            )
        with pytest.raises(ValueError, match="not the last arm"):
            iceberg_merge(
                _frame(spark, [("user", "x", 1.0, TS)]),
                d,
                keys=["entity_id"],
                when_matched=[
                    {"condition": None, "action": "update", "set": None},
                    {"condition": "1=1", "action": "delete"},
                ],
            )
        with pytest.raises(ValueError, match="deviates"):
            iceberg_merge(
                _frame(spark, [("user", "x", 1.0, TS)]).withColumn(
                    "extra", F.lit(1)
                ),
                d,
                keys=["entity_id"],
            )
        with pytest.raises(ValueError, match="explicit 'set'"):
            iceberg_merge(
                _frame(spark, [("user", "x", 1.0, TS)]),
                d,
                keys=["entity_id"],
                when_not_matched_by_source=[
                    {"condition": None, "action": "update", "set": None}
                ],
            )

    def test_create_path_and_merge_sink(self, spark, tmp_path):
        """First merge on a missing table degenerates to CREATE +
        the insert arm; the foreachBatch sink disarms by-source arms
        on EMPTY micro-batches (an idle trigger must never wipe the
        table) while still advancing the watermark."""
        from feature_store_spark.sources.iceberg import IcebergTable
        from feature_store_spark.sources.iceberg_write import (
            iceberg_merge,
            iceberg_merge_sink,
            iceberg_txn_version,
        )

        d = str(tmp_path / "ims")
        snap, nu, nd, ni = iceberg_merge(
            _frame(
                spark,
                [("user", "a", 1.0, TS), ("user", "b", -1.0, TS)],
            ),
            d,
            keys=["entity_id"],
            insert_condition="src.value_float > 0",
        )
        assert (nu, nd, ni) == (0, 0, 1)
        assert IcebergTable(spark, d).scan().count() == 1
        sink = iceberg_merge_sink(
            d,
            keys=["entity_id"],
            app_id="sink",
            when_matched=[
                {"condition": None, "action": "update", "set": None}
            ],
            when_not_matched_by_source=[
                {"condition": None, "action": "delete"}
            ],
        )
        sink(_frame(spark, [("user", "c", 3.0, TS)]), 0)
        # 'a' vanished from the snapshot -> by-source delete
        assert sorted(
            r["entity_id"]
            for r in IcebergTable(spark, d).scan().collect()
        ) == ["c"]
        # EMPTY batch: by-source arms disarmed, watermark advances
        sink(spark.createDataFrame([], S), 1)
        assert IcebergTable(spark, d).scan().count() == 1
        assert iceberg_txn_version(d, "sink") == 1


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    base=st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.tuples(
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, width=32
            ),
            st.sampled_from(["x", "y"]),
        ),
        min_size=1,
        max_size=12,
    ),
    batch=st.dictionaries(
        st.integers(min_value=0, max_value=25),
        st.tuples(
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, width=32
            ),
            st.sampled_from(["b", "k", "n"]),
        ),
        min_size=1,
        max_size=12,
    ),
    thr=st.floats(min_value=-50, max_value=50, allow_nan=False),
)
def test_iceberg_merge_conditional_matches_dict_oracle(
    spark, tmp_path_factory, base, batch, thr
):
    """The delta_merge dict-fold property, re-run against the
    equality-delete physics: for ANY base table, ANY batch and ANY
    threshold, the conditional MERGE equals the plain python fold —
    partial SET keeps target columns, a matched row firing no arm
    survives with its source row consumed."""
    from feature_store_spark.sources.iceberg import IcebergTable
    from feature_store_spark.sources.iceberg_write import (
        iceberg_append,
        iceberg_merge,
    )

    d = str(tmp_path_factory.mktemp("imergeprop") / "t")
    sch = (
        "eid long, val double, tag string, entity_type string, "
        "event_time timestamp"
    )
    iceberg_append(
        spark.createDataFrame(
            [
                (k, float(v), tag, "user", TS)
                for k, (v, tag) in base.items()
            ],
            sch,
        ),
        d,
    )
    iceberg_merge(
        spark.createDataFrame(
            [
                (k, float(v), tag, "user", TS)
                for k, (v, tag) in batch.items()
            ],
            sch,
        ),
        d,
        keys=["eid"],
        when_matched=[
            {
                "condition": f"src.tag = 'b' AND tgt.val > {thr!r}",
                "action": "update",
                "set": {"val": "tgt.val + src.val"},
            },
            {"condition": "src.tag = 'k'", "action": "delete"},
        ],
        insert_condition="src.val >= 0",
    )
    want = {k: (float(v), tag) for k, (v, tag) in base.items()}
    for k, (v, tag) in batch.items():
        if k in want:
            tv, ttag = want[k]
            if tag == "b" and tv > thr:
                want[k] = (tv + float(v), ttag)
            elif tag == "k":
                want.pop(k)
        elif float(v) >= 0:
            want[k] = (float(v), tag)
    got = {
        r["eid"]: (r["val"], r["tag"])
        for r in IcebergTable(spark, d).scan().collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][1] == want[k][1]
        assert got[k][0] == pytest.approx(want[k][0])


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    base=st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, width=32
        ),
        min_size=1,
        max_size=12,
    ),
    snap_keys=st.sets(
        st.integers(min_value=0, max_value=25), max_size=12
    ),
    thr=st.floats(min_value=-50, max_value=50, allow_nan=False),
)
def test_iceberg_merge_sync_matches_dict_oracle(
    spark, tmp_path_factory, base, snap_keys, thr
):
    """Snapshot-sync MERGE (by-source arms + schema evolution) ==
    dict fold, equality-delete physics."""
    from feature_store_spark.sources.iceberg import IcebergTable
    from feature_store_spark.sources.iceberg_write import (
        iceberg_append,
        iceberg_merge,
    )

    d = str(tmp_path_factory.mktemp("isyncprop") / "t")
    iceberg_append(
        spark.createDataFrame(
            [(k, float(v), "user", TS) for k, v in base.items()],
            "eid long, val double, entity_type string, "
            "event_time timestamp",
        ),
        d,
    )
    snap = spark.createDataFrame(
        [
            (k, float(k) * 2, "snap", "user", TS)
            for k in sorted(snap_keys)
        ],
        "eid long, val double, tag string, entity_type string, "
        "event_time timestamp",
    )
    iceberg_merge(
        snap,
        d,
        keys=["eid"],
        when_matched=[
            {"condition": None, "action": "update", "set": None}
        ],
        when_not_matched_by_source=[
            {
                "condition": f"tgt.val > {thr!r}",
                "action": "update",
                "set": {"tag": "'orphan'"},
            },
            {"condition": None, "action": "delete"},
        ],
        evolve=True,
    )
    want: dict[int, tuple] = {}
    for k, v in base.items():
        if k in snap_keys:
            want[k] = (float(k) * 2, "snap")
        elif float(v) > thr:
            want[k] = (float(v), "orphan")
    for k in snap_keys:
        if k not in base:
            want[k] = (float(k) * 2, "snap")
    got = {
        r["eid"]: (r["val"], r["tag"])
        for r in IcebergTable(spark, d).scan().collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][1] == want[k][1]
        assert got[k][0] == pytest.approx(want[k][0])
