"""The shared MERGE planner (``sources/merge.py``) under its three
verbs: every frame a merge materializes is released on every exit path,
and random arm lists on both formats match a pure-Python reference
MERGE."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

N_ROWS = 300
VERBS = ("delta_merge", "delta_upsert", "iceberg_merge")
ARMS = [{"condition": None, "action": "update", "set": None}]


def _frame(spark, lo, hi, shift=0):
    return spark.range(lo, hi).select(
        F.lit("user").alias("entity_type"),
        F.col("id").alias("entity_id"),
        (F.col("id") * 0.5 + shift).alias("value_float"),
        F.timestamp_seconds(F.col("id") * 3600).alias("event_time"),
    )


def _persisted(spark) -> set[int]:
    """Ids of the session's persisted RDDs. The driver holds them
    weakly, so an RDD leaked earlier may vanish at any JVM GC; a test
    compares ids, not counts."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in ids}


def _call(verb, batch, path, keys=("entity_id",)):
    from feature_store_spark.sources import delta as d
    from feature_store_spark.sources import iceberg_write as i

    keys = list(keys)
    if verb == "delta_merge":
        return d.delta_merge(batch, path, keys, when_matched=ARMS)
    if verb == "delta_upsert":
        return d.delta_upsert(batch, path, keys)
    return i.iceberg_merge(batch, path, keys, when_matched=ARMS)


@pytest.mark.parametrize("case", ["ok", "duplicate_key", "schema_drift"])
@pytest.mark.parametrize("verb", VERBS)
def test_merge_verbs_release_what_they_materialize(
    spark, tmp_path, verb, case
):
    """A checkpointed frame's blocks stay persisted until its RDD is
    unpersisted; ``DataFrame.unpersist`` does not reach them. Each
    verb, whether it commits or refuses, leaves the session's
    persisted-RDD count where it found it."""
    from feature_store_spark.sources.delta import delta_append
    from feature_store_spark.sources.iceberg_write import iceberg_append

    path = str(tmp_path / "t")
    base = _frame(spark, 0, N_ROWS)
    if verb.startswith("delta"):
        delta_append(base, path)
    else:
        iceberg_append(base, path)
    batch = _frame(spark, N_ROWS // 2, N_ROWS + N_ROWS // 2, 1)
    if case == "duplicate_key":
        batch = batch.unionByName(batch.limit(1))
    elif case == "schema_drift":
        batch = batch.withColumn(
            "value_float", F.col("value_float").cast("string")
        )
    before = _persisted(spark)
    if case == "ok":
        _call(verb, batch, path)
    else:
        with pytest.raises(ValueError, match="multiple rows|deviates"):
            _call(verb, batch, path)
    assert _persisted(spark) - before == set()


@pytest.mark.parametrize("verb", VERBS)
def test_composite_key_tuples_compare_null_parts_equal(
    spark, tmp_path, verb
):
    """A source key tuple repeats when every part repeats, NULL parts
    included (NULLs group together, as under ``groupBy``), so two
    ``(NULL, 'a')`` rows refuse; ``(2, 'a')`` and ``(2, 'b')`` are two
    keys and land as two rows."""
    import datetime

    from feature_store_spark.sources.delta import DeltaTable
    from feature_store_spark.sources.iceberg import IcebergTable

    def batch(rows):
        ts = datetime.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [("user", e, k2, v, ts) for e, k2, v in rows],
            "entity_type string, entity_id long, k2 string, "
            "value_float double, event_time timestamp",
        )

    path, keys = str(tmp_path / "t"), ("entity_id", "k2")
    with pytest.raises(ValueError, match="multiple rows for key"):
        _call(verb, batch([(None, "a", 1.0), (None, "a", 2.0)]), path, keys)
    _call(verb, batch([(2, "a", 1.0), (2, "b", 2.0)]), path, keys)
    with pytest.raises(ValueError, match="multiple rows for key"):
        _call(verb, batch([(None, "a", 1.0), (None, "a", 2.0)]), path, keys)
    _call(verb, batch([(2, "a", 3.0), (2, "b", 4.0)]), path, keys)
    table = (DeltaTable if verb.startswith("delta") else IcebergTable)(
        spark, path
    )
    got = sorted(
        tuple(r) for r in table.scan()
        .select("entity_id", "k2", "value_float").collect()
    )
    assert got == [(2, "a", 3.0), (2, "b", 4.0)]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_quiet_batch_schema_checked_before_txn(spark, tmp_path, fmt):
    """An empty batch whose schema deviates from the table refuses, as
    a non-empty one does: the refusal leaves the table version and the
    txn watermark where they were."""
    from feature_store_spark.sources.delta import (
        DeltaTable,
        delta_append,
        delta_merge,
    )
    from feature_store_spark.sources.iceberg import IcebergTable
    from feature_store_spark.sources.iceberg_write import (
        iceberg_append,
        iceberg_merge,
        iceberg_txn_version,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, 1.0)], "eid long, val double")
    batch = spark.createDataFrame([], "eid long, val string")
    if fmt == "delta":
        delta_append(base, path)
        merge = delta_merge

        def state():
            t = DeltaTable(spark, path)
            return t.latest_version(), t.txn_version("a")
    else:
        iceberg_append(base, path, partition_spec=[])
        merge = iceberg_merge

        def state():
            snaps = IcebergTable(spark, path).snapshots()
            return snaps, iceberg_txn_version(path, "a")

    before = state()
    with pytest.raises(ValueError, match="deviates"):
        merge(batch, path, ["eid"], when_matched=ARMS, txn=("a", 1))
    assert state() == before
    assert before[1] < 1


# ---- random arm lists against a pure-Python reference MERGE ----------


def _and(a, b):
    if a is False or b is False:
        return False
    return None if a is None or b is None else True


def _cmp(op):
    return lambda a, b: None if a is None or b is None else op(a, b)


_gt, _ge = _cmp(lambda a, b: a > b), _cmp(lambda a, b: a >= b)
_eq = _cmp(lambda a, b: a == b)
_add, _mul = _cmp(lambda a, b: a + b), _cmp(lambda a, b: a * b)

# every SQL snippet an arm may use, with its SQL-NULL meaning over the
# (source row, target row) pair; by-source arms see no source row
EXPRS = {
    "src.val > tgt.val": lambda s, t: _gt(s["val"], t["val"]),
    "src.tag = 'b'": lambda s, t: _eq(s["tag"], "b"),
    "src.tag = 'k'": lambda s, t: _eq(s["tag"], "k"),
    "src.val IS NULL": lambda s, t: s["val"] is None,
    "tgt.val > 1": lambda s, t: _gt(t["val"], 1.0),
    "tgt.tag = 'x'": lambda s, t: _eq(t["tag"], "x"),
    "src.tag = 'b' AND tgt.val > 0": lambda s, t: _and(
        _eq(s["tag"], "b"), _gt(t["val"], 0.0)
    ),
    "src.val >= 0": lambda s, t: _ge(s["val"], 0.0),
    "tgt.val + src.val": lambda s, t: _add(t["val"], s["val"]),
    "src.val * 2": lambda s, t: _mul(s["val"], 2.0),
    "src.tag": lambda s, t: s["tag"],
    "tgt.val * 10": lambda s, t: _mul(t["val"], 10.0),
    "'u'": lambda s, t: "u",
    "'orphan'": lambda s, t: "orphan",
}
MATCHED_CONDS = [
    "src.val > tgt.val", "src.tag = 'b'", "src.tag = 'k'",
    "src.val IS NULL", "tgt.val > 1", "src.tag = 'b' AND tgt.val > 0",
]
MATCHED_SETS = [
    {"val": "tgt.val + src.val"},
    {"tag": "src.tag"},
    {"val": "src.val * 2", "tag": "'u'"},
]
SOURCE_CONDS = ["tgt.val > 1", "tgt.tag = 'x'"]
SOURCE_SETS = [{"tag": "'orphan'"}, {"val": "tgt.val * 10"}]
VALS = st.one_of(st.none(), st.integers(-3, 4).map(float))


def _arms(draw, conds, sets, star, max_arms):
    n = draw(st.integers(0, max_arms))
    arms = []
    for i in range(n):
        last = [None] if i == n - 1 else []
        cond = draw(st.sampled_from(conds + last))
        if draw(st.booleans()):
            arms.append({"condition": cond, "action": "delete"})
        else:
            s = draw(st.sampled_from(sets + ([None] if star else [])))
            arms.append({"condition": cond, "action": "update", "set": s})
    return arms


@st.composite
def merges(draw):
    """A target with duplicate live rows per key allowed, a batch with
    unique keys, and random arm lists of both classes."""
    when_matched = _arms(draw, MATCHED_CONDS, MATCHED_SETS, True, 3)
    by_source = _arms(draw, SOURCE_CONDS, SOURCE_SETS, False, 2)
    return {
        "base": draw(
            st.lists(
                st.tuples(
                    st.integers(0, 6), VALS, st.sampled_from(["x", "y", None])
                ),
                min_size=1,
                max_size=8,
            )
        ),
        "batch": draw(
            st.dictionaries(
                st.integers(0, 8),
                st.tuples(VALS, st.sampled_from(["b", "k", "n", None])),
                max_size=8,
            )
        ),
        "when_matched": when_matched,
        "by_source": by_source,
        "insert": draw(st.booleans()) or not (when_matched or by_source),
        "insert_condition": draw(
            st.sampled_from([None, "src.val >= 0", "src.tag = 'b'"])
        ),
        "evolve": draw(st.booleans()),
    }


def reference_merge(case):
    """MERGE INTO over Python rows: (rows after, (updated, deleted,
    inserted)). Each live target row tries its arm class in order;
    SQL NULL never fires."""
    cols = ["eid", "val", "tag"] + (["note"] if case["evolve"] else [])
    src = {
        k: dict(zip(cols, (k, v, tag, f"n{k}")))
        for k, (v, tag) in case["batch"].items()
    }
    rows, n = [], [0, 0, 0]
    for eid, v, tag in case["base"]:
        t = dict(zip(cols, (eid, v, tag, None)))
        s = src.get(eid)
        arms = case["when_matched"] if s else case["by_source"]
        arm = next(
            (
                a for a in arms
                if a["condition"] is None
                or EXPRS[a["condition"]](s, t) is True
            ),
            None,
        )
        if arm is None:
            rows.append(t)
        elif arm["action"] == "delete":
            n[1] += 1
        else:
            n[0] += 1
            if arm["set"] is None:
                rows.append(dict(s))
            else:
                rows.append(
                    {**t, **{c: EXPRS[e](s, t) for c, e in arm["set"].items()}}
                )
    target_keys = {eid for eid, _, _ in case["base"]}
    cond = case["insert_condition"]
    for k, s in src.items():
        if k in target_keys or not case["insert"]:
            continue
        if cond is None or EXPRS[cond](s, None) is True:
            rows.append(dict(s))
            n[2] += 1
    return rows, tuple(n)


CONDITIONAL = {
    "base": [(1, 2.0, "x"), (2, 4.0, "y"), (3, -1.0, "x"), (4, 0.0, "y")],
    "batch": {
        1: (3.0, "b"),  # partial update
        2: (1.0, "k"),  # delete
        3: (4.0, "n"),  # matched, no arm fires
        4: (2.0, "b"),  # matched, the update's target test fails
        7: (2.0, "n"),  # insert
        8: (-2.0, "b"),  # insert refused by its condition
    },
    "when_matched": [
        {"condition": "src.tag = 'b' AND tgt.val > 0", "action": "update",
         "set": {"val": "tgt.val + src.val"}},
        {"condition": "src.tag = 'k'", "action": "delete"},
    ],
    "by_source": [],
    "insert": True,
    "insert_condition": "src.val >= 0",
    "evolve": False,
}
SYNC = {
    "base": [(1, 2.0, "x"), (2, 4.0, "y"), (3, -1.0, "x"), (4, 0.0, "y")],
    "batch": {1: (2.0, "n"), 5: (3.0, "n")},
    "when_matched": [{"condition": None, "action": "update", "set": None}],
    "by_source": [
        {"condition": "tgt.val > 1", "action": "update",
         "set": {"tag": "'orphan'"}},
        {"condition": None, "action": "delete"},
    ],
    "insert": True,
    "insert_condition": None,
    "evolve": True,
}


def _sort_key(row):
    return tuple((v is None, v) for v in row)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@example(case=CONDITIONAL)
@example(case=SYNC)
@given(case=merges())
def test_merge_matches_reference(spark, tmp_path_factory, fmt, case):
    """Random matched and by-source arm lists, conditional inserts and
    schema evolution over targets with duplicate live rows per key:
    both formats land the reference's rows and counts. Duplicate
    target rows exercise Iceberg's sibling carry against Delta's
    row-level kills."""
    from feature_store_spark.sources.delta import (
        DeltaTable,
        delta_append,
        delta_merge,
    )
    from feature_store_spark.sources.iceberg import IcebergTable
    from feature_store_spark.sources.iceberg_write import (
        iceberg_append,
        iceberg_merge,
    )

    path = str(tmp_path_factory.mktemp("merge") / "t")
    schema = "eid long, val double, tag string"
    base = spark.createDataFrame(case["base"], schema)
    rows = [(k, v, tag, f"n{k}") for k, (v, tag) in case["batch"].items()]
    batch = spark.createDataFrame(rows, schema + ", note string")
    if not case["evolve"]:
        batch = batch.drop("note")
    kw = {
        "keys": ["eid"],
        "when_matched": case["when_matched"],
        "when_not_matched_by_source": case["by_source"],
        "insert": case["insert"],
        "insert_condition": case["insert_condition"],
        "evolve": case["evolve"],
    }
    if fmt == "delta":
        delta_append(base, path)
        _, *counts = delta_merge(batch, path, **kw)
        got = DeltaTable(spark, path).scan()
    else:
        iceberg_append(base, path, partition_spec=[])
        _, *counts = iceberg_merge(batch, path, partition_spec=[], **kw)
        got = IcebergTable(spark, path).scan()
    want, want_counts = reference_merge(case)
    # a merge that commits nothing leaves an evolving column unadded
    cols = [c for c in ("eid", "val", "tag", "note") if c in got.columns]
    got_rows = [tuple(r) for r in got.select(*cols).collect()]
    assert sorted(got_rows, key=_sort_key) == sorted(
        (tuple(r.get(c) for c in cols) for r in want), key=_sort_key
    )
    assert tuple(counts) == want_counts
