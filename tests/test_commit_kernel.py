"""The shared commit kernel (``sources/commit.py``) under Delta and
Iceberg: per-verb and keyed-query Spark job counts, the incremental
refresh's job choreography, file bounds built from row-group footers
(partial stats, NaN), the session-conf precondition, and cleanup when
a write fails before publish."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

N_ROWS = 300
MERGE_ARMS = [
    {"condition": "src.event_time > tgt.event_time", "action": "update",
     "set": None}
]
DELETE_ARMS = [
    {"condition": "src.entity_id % 3 = 0", "action": "delete"},
    {"condition": None, "action": "update",
     "set": {"value_float": "src.value_float"}},
]
# the snapshot-sync shape: UPDATE SET *, a partial by-source SET, a
# by-source delete, and a source column the merge adds to the table
SYNC = {
    "when_matched": [{"condition": None, "action": "update", "set": None}],
    "when_not_matched_by_source": [
        {"condition": "tgt.entity_id % 2 = 0", "action": "update",
         "set": {"value_float": "tgt.value_float * 2"}},
        {"condition": None, "action": "delete"},
    ],
    "evolve": True,
}


# a batch the table already committed: a keyed write of it is a no-op
TXN = ("app", 1)


def _frame(spark, lo=0, hi=N_ROWS, shift=0):
    return spark.range(lo, hi).select(
        F.lit("user").alias("entity_type"),
        F.col("id").alias("entity_id"),
        (F.col("id") * 0.5 + shift).alias("value_float"),
        F.timestamp_seconds(F.col("id") * 3600 + 86400 * shift).alias(
            "event_time"
        ),
    )


def _batch(spark):
    return _frame(spark, N_ROWS // 2, N_ROWS + N_ROWS // 2, 1)


def _sync_batch(spark):
    return _batch(spark).withColumn("tag", F.lit("snap"))


def _cdc_batch(spark):
    return _batch(spark).withColumn(
        "op",
        F.when(F.col("entity_id") % 5 == 0, "d").otherwise("u"),
    )


def _max_job_id(spark) -> int:
    sc = spark.sparkContext
    # the status store is fed by the listener bus; drain it so every
    # job submitted so far (helper threads included) is visible
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _delta(verb):
    from feature_store_spark.sources import delta as d

    def setup(spark, path):
        if verb.endswith("_create"):
            return
        d.delta_append(_frame(spark), path)
        d.delta_append(_frame(spark, N_ROWS, 2 * N_ROWS), path)
        if verb.endswith("_redelivered"):
            d.delta_append(_frame(spark, 2 * N_ROWS, 3 * N_ROWS), path,
                           txn=TXN)

    calls = {
        "delta_append": lambda s, p: d.delta_append(
            _frame(s, 2 * N_ROWS, 3 * N_ROWS), p
        ),
        "delta_upsert": lambda s, p: d.delta_upsert(
            _frame(s, N_ROWS // 2, N_ROWS + N_ROWS // 2, 1), p,
            keys=["entity_id"],
        ),
        "delta_merge": lambda s, p: d.delta_merge(
            _frame(s, N_ROWS // 2, N_ROWS + N_ROWS // 2, 1), p,
            keys=["entity_id"], when_matched=MERGE_ARMS,
        ),
        "delta_upsert_cdc": lambda s, p: d.delta_upsert(
            _cdc_batch(s), p, keys=["entity_id"], op_col="op",
        ),
        "delta_merge_sync": lambda s, p: d.delta_merge(
            _sync_batch(s), p, keys=["entity_id"], **SYNC,
        ),
        "delta_merge_insert_only": lambda s, p: d.delta_merge(
            _batch(s), p, keys=["entity_id"],
        ),
        "delta_merge_delete": lambda s, p: d.delta_merge(
            _batch(s), p, keys=["entity_id"], when_matched=DELETE_ARMS,
        ),
        "delta_upsert_redelivered": lambda s, p: d.delta_upsert(
            _batch(s), p, keys=["entity_id"], txn=TXN,
        ),
        "delta_merge_redelivered": lambda s, p: d.delta_merge(
            _batch(s), p, keys=["entity_id"], when_matched=MERGE_ARMS,
            txn=TXN,
        ),
        "delta_upsert_create": lambda s, p: d.delta_upsert(
            _frame(s), p, keys=["entity_id"],
        ),
        "delta_merge_create": lambda s, p: d.delta_merge(
            _frame(s), p, keys=["entity_id"], when_matched=MERGE_ARMS,
        ),
        "delta_delete_where": lambda s, p: d.delta_delete_where(
            s, p, [("entity_id", "<", 50)]
        ),
        "delta_optimize": lambda s, p: d.delta_optimize(s, p),
        "delta_overwrite": lambda s, p: d.delta_overwrite(
            _frame(s, N_ROWS // 2, N_ROWS + N_ROWS // 2, 1), p, 1
        ),
    }
    return setup, calls[verb]


def _iceberg(verb):
    from feature_store_spark.sources import iceberg_write as i
    from feature_store_spark.sources.iceberg import IcebergTable

    def setup(spark, path):
        if verb.endswith("_create"):
            return
        i.iceberg_append(_frame(spark), path)
        i.iceberg_append(_frame(spark, N_ROWS, 2 * N_ROWS), path)
        if verb.endswith("_redelivered"):
            i.iceberg_append(_frame(spark, 2 * N_ROWS, 3 * N_ROWS), path,
                             txn=TXN)
        if verb in ("iceberg_scan_with_deletes", "iceberg_changes_upsert"):
            # equality deletes from the upsert
            i.iceberg_upsert(_batch(spark), path, keys=["entity_id"])
        if verb in ("iceberg_scan_with_deletes", "iceberg_changes_delete"):
            # position deletes from the delete
            i.iceberg_delete_where(spark, path, [("entity_id", "<", 50)])
        if verb == "iceberg_scan_evolved":
            # the older files lack the appended column
            i.iceberg_append(_batch(spark).withColumn("tag", F.lit("t")), path)

    def changes(spark, path):
        t = IcebergTable(spark, path)
        return t.changes(from_snapshot_id=t.snapshots()[-2][0]).collect()

    calls = {
        "iceberg_append": lambda s, p: i.iceberg_append(
            _frame(s, 2 * N_ROWS, 3 * N_ROWS), p
        ),
        "iceberg_upsert": lambda s, p: i.iceberg_upsert(
            _frame(s, N_ROWS // 2, N_ROWS + N_ROWS // 2, 1), p,
            keys=["entity_id"],
        ),
        "iceberg_merge": lambda s, p: i.iceberg_merge(
            _frame(s, N_ROWS // 2, N_ROWS + N_ROWS // 2, 1), p,
            keys=["entity_id"], when_matched=MERGE_ARMS,
        ),
        "iceberg_merge_sync": lambda s, p: i.iceberg_merge(
            _sync_batch(s), p, keys=["entity_id"], **SYNC,
        ),
        "iceberg_merge_insert_only": lambda s, p: i.iceberg_merge(
            _batch(s), p, keys=["entity_id"],
        ),
        "iceberg_merge_delete": lambda s, p: i.iceberg_merge(
            _batch(s), p, keys=["entity_id"], when_matched=DELETE_ARMS,
        ),
        "iceberg_merge_redelivered": lambda s, p: i.iceberg_merge(
            _batch(s), p, keys=["entity_id"], when_matched=MERGE_ARMS,
            txn=TXN,
        ),
        "iceberg_merge_create": lambda s, p: i.iceberg_merge(
            _frame(s), p, keys=["entity_id"], when_matched=MERGE_ARMS,
        ),
        "iceberg_delete_where": lambda s, p: i.iceberg_delete_where(
            s, p, [("entity_id", "<", 50)]
        ),
        "iceberg_rewrite": lambda s, p: i.iceberg_rewrite(s, p),
        "iceberg_scan_with_deletes": lambda s, p: IcebergTable(s, p)
        .scan()
        .collect(),
        "iceberg_scan_evolved": lambda s, p: IcebergTable(s, p)
        .scan()
        .collect(),
        "iceberg_changes_upsert": changes,
        "iceberg_changes_delete": changes,
    }
    return setup, calls[verb]


# Spark jobs per verb call at a few hundred rows. Job counts are
# deterministic, so a change here is a change in job choreography: the
# commit path must not move them without a reason.
EXPECTED_JOBS = {
    "delta_append": 2,
    "delta_upsert": 5,
    "delta_merge": 7,
    "delta_upsert_cdc": 5,
    "delta_merge_sync": 9,
    "delta_merge_insert_only": 5,
    "delta_merge_delete": 7,
    "delta_upsert_redelivered": 0,
    "delta_merge_redelivered": 0,
    "delta_upsert_create": 3,
    "delta_merge_create": 4,
    "delta_delete_where": 1,
    "delta_optimize": 1,
    "delta_overwrite": 2,
    "iceberg_append": 2,
    "iceberg_upsert": 3,
    "iceberg_merge": 9,
    "iceberg_merge_sync": 13,
    "iceberg_merge_insert_only": 6,
    "iceberg_merge_delete": 9,
    "iceberg_merge_redelivered": 0,
    "iceberg_merge_create": 4,
    "iceberg_delete_where": 2,
    "iceberg_rewrite": 2,
    "iceberg_scan_with_deletes": 5,
    "iceberg_scan_evolved": 1,
    "iceberg_changes_upsert": 7,
    "iceberg_changes_delete": 5,
}


@pytest.mark.parametrize("verb", list(EXPECTED_JOBS))
def test_verb_job_counts_pinned(spark, tmp_path, verb):
    setup, call = (_delta if verb.startswith("delta_") else _iceberg)(verb)
    path = str(tmp_path / "t")
    setup(spark, path)
    before = _max_job_id(spark)
    call(spark, path)
    jobs = _max_job_id(spark) - before
    assert jobs == EXPECTED_JOBS[verb]


def test_evolved_iceberg_scan_builds_without_jobs(spark, tmp_path):
    """Older files that lack an appended column are read under an
    explicit schema: building the scan infers no footer in a job."""
    from feature_store_spark.sources.iceberg import IcebergTable

    setup, _ = _iceberg("iceberg_scan_evolved")
    path = str(tmp_path / "t")
    setup(spark, path)
    before = _max_job_id(spark)
    IcebergTable(spark, path).scan()
    assert _max_job_id(spark) == before


# Spark jobs of one keyed catalog query at sf0.001, its call and its
# collect: the MERGE and upsert choreography as the driver runs it.
EXPECTED_QUERY_JOBS = {
    "delta_upsert": 16,
    "delta_merge_conditional": 23,
    "delta_merge_sync": 22,
    "iceberg_merge_conditional": 26,
    "iceberg_merge_sync": 31,
}


@pytest.mark.parametrize("name", list(EXPECTED_QUERY_JOBS))
def test_keyed_query_job_counts_pinned(spark, sf_dir, name):
    from feature_store_spark.queries import QUERIES

    fn, _ = QUERIES[name]
    before = _max_job_id(spark)
    fn(spark, sf_dir).toPandas()
    assert _max_job_id(spark) - before == EXPECTED_QUERY_JOBS[name]


LONG_KEY = "k" + "x" * 4999  # sorts after every short key


@pytest.fixture
def small_row_groups(spark):
    """Writers in this test cut ~100-row row groups: Spark's parquet
    writer reads the block size from the shared session's Hadoop conf,
    so it is set for the test and restored after."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", "2048")
    try:
        yield
    finally:
        if prev is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev)


def _long_key_frame(spark):
    rows = [(f"k{i:04d}", i) for i in range(400)] + [(LONG_KEY, 400)]
    return spark.createDataFrame(rows, "key string, v long").coalesce(1)


def _assert_statless_row_group(paths):
    """The fixture's point: some row group holds keys but its footer
    has no min/max (parquet-mr drops stats over 4 KB)."""
    import pyarrow.parquet as pq

    hit = False
    for p in paths:
        md = pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "key"
            st = col.statistics
            all_null = (
                st is not None
                and st.has_null_count
                and st.null_count == col.num_values
            )
            if (st is None or not st.has_min_max) and not all_null:
                hit = True
    assert hit


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_partial_footer_stats_never_prune_matching_rows(
    spark, tmp_path, small_row_groups, fmt
):
    path = str(tmp_path / fmt)
    df = _long_key_frame(spark)
    t, files = _write_table(spark, fmt, path, df)
    _assert_statless_row_group(files)
    for k in (LONG_KEY, "k0399", "k0000"):
        assert t.scan(filters=[("key", "=", k)]).count() == 1, k[:8]


def _write_table(spark, fmt, path, df):
    """One commit of ``df`` in ``fmt``: the table and its data files."""
    if fmt == "delta":
        from feature_store_spark.sources.delta import DeltaTable, delta_append

        delta_append(df, path)
        t = DeltaTable(spark, path)
        return t, [os.path.join(path, a["path"]) for a in t.data_files()]
    from feature_store_spark.sources.iceberg import IcebergTable
    from feature_store_spark.sources.iceberg_write import iceberg_append

    iceberg_append(df, path, partition_spec=[])
    t = IcebergTable(spark, path)
    return t, [f["path"] for f in t.data_files(None, None)]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_nan_footer_bounds_never_prune_matching_rows(spark, tmp_path, fmt):
    """Spark's writer folds NaN into a double column's footer max, and
    Spark orders NaN above every number (``NaN >= 0.5`` and
    ``NaN = NaN`` hold). A NaN bound must read as unknown, so every
    filtered scan returns what Spark's own filter does."""
    import json

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, float("nan"))], "id long, v double"
    ).coalesce(1)
    t, _files = _write_table(spark, fmt, str(tmp_path / fmt), df)
    for f in [
        ("v", "=", 2.0),
        ("v", ">", 1.5),
        ("v", ">=", 0.5),
        ("v", ">=", 5.0),
        ("v", "in", [2.0, 7.0]),
        ("v", "=", float("nan")),
    ]:
        from feature_store_spark.sources.iceberg import _Filter

        want = df.filter(_Filter(*f).sql()).count()
        assert t.scan(filters=[f]).count() == want, f
    if fmt == "delta":
        # the log stays valid JSON: no NaN bound is written
        log = os.path.join(str(tmp_path / fmt), "_delta_log")
        with open(os.path.join(log, f"{0:020d}.json")) as fh:
            text = fh.read()
        assert "NaN" not in text
        [add] = [
            json.loads(x)["add"] for x in text.splitlines() if '"add"' in x
        ]
        assert "v" not in json.loads(add["stats"])["maxValues"]


def test_refresh_choreography_pinned(spark, tmp_path):
    """Spark jobs per step of the incremental refresh on a 300-row
    source: a source append, the first refresh (creates the state),
    each later refresh (read_appended + fold + replace-all commit), and
    a redelivered refresh (a txn no-op, no job at all)."""
    from feature_store_spark.incremental import refresh_aggregate
    from feature_store_spark.sources.delta import delta_append

    src, state = str(tmp_path / "src"), str(tmp_path / "state")

    def jobs(fn):
        before = _max_job_id(spark)
        fn()
        return _max_job_id(spark) - before

    def refresh():
        refresh_aggregate(spark, state, src, ["entity_type"], "value_float")

    assert jobs(lambda: delta_append(_frame(spark), src)) <= 2
    assert jobs(refresh) <= 3
    for i in (1, 2):
        delta_append(_frame(spark, i * N_ROWS, (i + 1) * N_ROWS), src)
        assert jobs(refresh) <= 4
    assert jobs(refresh) == 0


def test_stage_refuses_int96_timestamps(spark, tmp_path):
    """INT96 timestamps carry no footer min/max. The kernel refuses to
    stage them: flipping the process-global conf around a write would
    race concurrent writers."""
    from feature_store_spark.sources import commit
    from feature_store_spark.sources.iceberg_write import iceberg_append

    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        with pytest.raises(ValueError, match="TIMESTAMP_MICROS"):
            commit.stage(_frame(spark), str(tmp_path / "staged"))
        with pytest.raises(ValueError, match="TIMESTAMP_MICROS"):
            iceberg_append(_frame(spark), str(tmp_path / "ice"))
    finally:
        spark.conf.set(key, prev)
    assert not os.path.exists(tmp_path / "staged")
    # nothing staged, nothing committed
    assert not os.path.exists(tmp_path / "ice" / "data")
    assert not os.listdir(tmp_path / "ice" / "metadata")


def test_failed_delete_file_write_leaves_nothing(
    spark, tmp_path, monkeypatch
):
    """An upsert whose equality-delete write fails (after its data
    write succeeded) removes both staged dirs and commits nothing."""
    from feature_store_spark.sources import commit
    from feature_store_spark.sources.iceberg import IcebergTable
    from feature_store_spark.sources.iceberg_write import (
        iceberg_append,
        iceberg_upsert,
    )

    path = str(tmp_path / "ice")
    iceberg_append(_frame(spark), path)
    t = IcebergTable(spark, path)
    rows_before = sorted(map(tuple, t.scan().collect()))
    history_before = t.snapshots_df().collect()
    data_dir = os.path.join(path, "data")
    dirs_before = set(os.listdir(data_dir))

    real_stage = commit.stage

    def failing_stage(df, staging_dir, *args, **kwargs):
        if "eq-deletes" in os.path.basename(staging_dir):
            # a write that died part-way: debris, then the error
            os.makedirs(staging_dir)
            open(os.path.join(staging_dir, "part-0.parquet"), "w").close()
            raise OSError("delete-file write failed")
        return real_stage(df, staging_dir, *args, **kwargs)

    monkeypatch.setattr(commit, "stage", failing_stage)
    with pytest.raises(OSError, match="delete-file write failed"):
        iceberg_upsert(
            _frame(spark, 0, 50, 1), path, keys=["entity_id"]
        )
    monkeypatch.undo()

    t = IcebergTable(spark, path)
    assert sorted(map(tuple, t.scan().collect())) == rows_before
    assert t.snapshots_df().collect() == history_before
    assert set(os.listdir(data_dir)) == dirs_before


# A batch no set-up committed: a keyed write of it lands and records it.
NEW_TXN = ("app", 7)


def _delta_commit_call(verb):
    """(set-up, call) for one Delta write verb; the call returns the
    version it committed."""
    from feature_store_spark.sources import delta as d

    setup, _ = _delta("delta_append")

    def restore_setup(spark, path):
        setup(spark, path)
        d.delta_delete_where(spark, path, [("entity_id", "<", 50)])
        d.delta_append(_frame(spark, 2 * N_ROWS, 3 * N_ROWS), path)

    calls = {
        "delta_append": (setup, lambda s, p: d.delta_append(
            _frame(s, 2 * N_ROWS, 3 * N_ROWS), p, txn=NEW_TXN
        )),
        "delta_append_create": (lambda s, p: None, lambda s, p: (
            d.delta_append(_frame(s), p, column_mapping="id", txn=NEW_TXN)
        )),
        "delta_overwrite": (setup, lambda s, p: d.delta_overwrite(
            _batch(s), p, 1, txn=NEW_TXN
        )),
        "delta_overwrite_create": (lambda s, p: None, lambda s, p: (
            d.delta_overwrite(_frame(s), p, -1)
        )),
        "delta_upsert": (setup, lambda s, p: d.delta_upsert(
            _batch(s), p, keys=["entity_id"], txn=NEW_TXN
        )[0]),
        "delta_merge": (setup, lambda s, p: d.delta_merge(
            _batch(s), p, keys=["entity_id"], when_matched=MERGE_ARMS,
            txn=NEW_TXN,
        )[0]),
        "delta_merge_sync": (setup, lambda s, p: d.delta_merge(
            _sync_batch(s), p, keys=["entity_id"], **SYNC,
        )[0]),
        "delta_delete_where": (setup, lambda s, p: d.delta_delete_where(
            s, p, [("entity_id", "<", 50)]
        )[0]),
        "delta_optimize": (restore_setup, lambda s, p: (
            d.delta_optimize(s, p)[0]
        )),
        "delta_restore": (restore_setup, lambda s, p: (
            d.delta_restore(s, p, 1)[0]
        )),
    }
    return calls[verb]


# What each Delta write verb commits: the log's action kinds in order
# (a run of one kind written once), commitInfo's operation and
# operationParameters (None when absent).
EXPECTED_COMMITS = {
    "delta_append": (["commitInfo", "add", "txn"], "WRITE", None),
    "delta_append_create": (
        ["commitInfo", "protocol", "metaData", "add", "txn"], "WRITE", None
    ),
    "delta_overwrite": (
        ["commitInfo", "remove", "add", "txn"], "WRITE",
        {"mode": "Overwrite"},
    ),
    "delta_overwrite_create": (
        ["commitInfo", "protocol", "metaData", "add"], "WRITE",
        {"mode": "Overwrite"},
    ),
    "delta_upsert": (
        ["commitInfo", "protocol", "remove", "add", "remove", "add",
         "txn"],
        "MERGE", None,
    ),
    "delta_merge": (
        ["commitInfo", "protocol", "remove", "add", "remove", "add",
         "txn"],
        "MERGE", None,
    ),
    "delta_merge_sync": (
        ["commitInfo", "metaData", "protocol", "remove", "add", "remove",
         "add"],
        "MERGE", None,
    ),
    "delta_delete_where": (
        ["commitInfo", "protocol", "remove", "add"], "DELETE", None
    ),
    "delta_optimize": (["commitInfo", "remove", "add"], "OPTIMIZE", None),
    "delta_restore": (
        ["commitInfo", "remove", "add"], "RESTORE", {"version": "1"}
    ),
}


@pytest.mark.parametrize("verb", list(EXPECTED_COMMITS))
def test_delta_commit_records_pinned(spark, tmp_path, verb):
    """Each Delta write verb's commit JSON: ordered action kinds,
    commitInfo first with its operation and parameters, a passed txn
    last, and every remove carrying a deletion timestamp."""
    import json

    setup, call = _delta_commit_call(verb)
    path = str(tmp_path / "t")
    setup(spark, path)
    v = call(spark, path)
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    kinds = [next(iter(a)) for a in actions]
    runs = [k for i, k in enumerate(kinds) if i == 0 or kinds[i - 1] != k]
    want_kinds, want_op, want_params = EXPECTED_COMMITS[verb]
    assert runs == want_kinds
    info = actions[0]["commitInfo"]
    assert info["operation"] == want_op
    assert info.get("operationParameters") == want_params
    if kinds[-1] == "txn":
        assert actions[-1]["txn"] == {
            "appId": NEW_TXN[0], "version": NEW_TXN[1], "lastUpdated": 0
        }
    for a in actions:
        if "remove" in a:
            assert a["remove"]["deletionTimestamp"] > 0


@pytest.mark.parametrize("verb", ["delta_overwrite", "delta_restore"])
def test_delta_removes_share_commit_timestamp(spark, tmp_path, verb):
    """One clock reading per commit: every remove's deletionTimestamp
    is the commitInfo timestamp."""
    import json

    setup, call = _delta_commit_call(verb)
    path = str(tmp_path / "t")
    setup(spark, path)
    v = call(spark, path)
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    stamps = {a["remove"]["deletionTimestamp"] for a in actions
              if "remove" in a}
    assert stamps == {actions[0]["commitInfo"]["timestamp"]}
