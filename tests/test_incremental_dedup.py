"""Incremental corpus dedup (VERDICT r8 next #2): MinHash band state
maintained via read_appended; each refresh processes ONLY appended
docs and the accumulated pairs equal a full recompute."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from feature_store_spark import incremental as I
from feature_store_spark.incremental import refresh_minhash_dedup
from feature_store_spark.operators.dedup import (
    minhash_dedup_pairs,
    minhash_pairs_incremental,
    minhash_wide_from_docs,
)
from feature_store_spark.sources.delta import (
    DeltaTable,
    delta_append,
    delta_head,
    delta_overwrite,
)

BASE = [
    "the quick brown fox jumps over the lazy dog and runs far away today",
    "a completely different document about spark query engines and shuffles",
    "el rapido zorro marron salta sobre el perro perezoso de la casa",
    "machine learning feature stores serve vectors online and offline daily",
    "rows columns partitions shuffles joins aggregates windows and sorts",
    "seven red balloons drift over the quiet harbor before the storm hits",
]


def _corpus(spark):
    rows = [(i, t) for i, t in enumerate(BASE)]
    # near-dups of docs 0..2 (first word dropped), landing in LATER
    # batches than their originals so old-vs-new pairing is exercised
    for i in range(3):
        rows.append((100 + i, BASE[i].split(" ", 1)[1]))
    # an exact dup of doc 3 in the same batch as its original
    rows.append((103, BASE[3]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _tables(tmp_path):
    return (str(tmp_path / n) for n in ("src", "sig", "pairs"))


def _read(spark, path):
    return DeltaTable(spark, path).scan()


def _v(spark, path):
    return delta_head(spark, path)[1]


def _live_paths(spark, path):
    return {
        os.path.abspath(os.path.join(path, a["path"]))
        for a in DeltaTable(spark, path).data_files()
    }


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in df.collect()
    }


def test_incremental_equals_full_recompute(spark, tmp_path):
    corpus = _corpus(spark)
    src, sig, pairs = _tables(tmp_path)
    for i in range(3):
        delta_append(corpus.filter(F.col("doc_id") % 3 == i), src)
        refresh_minhash_dedup(spark, sig, pairs, src)
        if i == 1:  # redelivered refresh must be a no-op
            v_before = _v(spark, pairs)
            refresh_minhash_dedup(spark, sig, pairs, src)
            assert _v(spark, pairs) == v_before
        # INVARIANT at every version: accumulated == full recompute
        full = minhash_dedup_pairs(_read(spark, src))
        assert _pairs_set(_read(spark, pairs)) == _pairs_set(full)
    # the planted near-dups were actually found
    got = _pairs_set(_read(spark, pairs))
    assert {(a, b) for a, b, _ in got} >= {(0, 100), (1, 101), (2, 102),
                                           (3, 103)}


def test_refresh_never_rescans_corpus(spark, tmp_path):
    """The 100 TB property, plan-asserted: the delta read touches only
    the appended files, and the pair job's file footprint is state +
    delta — no pre-existing source data file is opened again."""
    corpus = _corpus(spark)
    src, sig, pairs = _tables(tmp_path)
    delta_append(corpus.filter(F.col("doc_id") % 3 == 0), src)
    refresh_minhash_dedup(spark, sig, pairs, src)
    old_files = _live_paths(spark, src)
    v1 = _v(spark, src)
    delta_append(corpus.filter(F.col("doc_id") % 3 == 1), src)
    # the delta scan's file set is exactly the NEW files
    delta = DeltaTable(spark, src).read_appended(v1)
    delta_files = {f.replace("file:", "") for f in delta.inputFiles()}
    assert delta_files.isdisjoint(old_files)
    assert delta_files  # and it reads something
    # the incremental pair plan reads signature STATE, not the corpus
    new_sigs = minhash_wide_from_docs(delta).localCheckpoint(eager=True)
    p = minhash_pairs_incremental(_read(spark, sig), new_sigs)
    pair_files = {f.replace("file:", "") for f in p.inputFiles()}
    src_files = _live_paths(spark, src)
    assert pair_files.isdisjoint(src_files)


def test_non_append_commit_falls_back_to_full(spark, tmp_path):
    """An overwrite in the window breaks 'new files == new rows';
    the refresh must full-recompute instead of guessing."""
    corpus = _corpus(spark)
    src, sig, pairs = _tables(tmp_path)
    delta_append(corpus.filter(F.col("doc_id") < 100), src)
    refresh_minhash_dedup(spark, sig, pairs, src)
    # rewrite history: drop doc 1, keep everything else + the dups
    delta_overwrite(corpus.filter(F.col("doc_id") != 1), src, _v(spark, src))
    refresh_minhash_dedup(spark, sig, pairs, src)
    full = minhash_dedup_pairs(_read(spark, src))
    assert _pairs_set(_read(spark, pairs)) == _pairs_set(full)
    got = {(a, b) for a, b, _ in _pairs_set(_read(spark, pairs))}
    assert (1, 101) not in got  # the dropped doc's pair is gone
    assert (0, 100) in got


def test_crash_between_commits_recovers(spark, tmp_path, monkeypatch):
    """Crash AFTER the pairs commit but BEFORE the sig commit: the
    re-run recomputes the same window, no-ops the pairs append on its
    txn token, and completes the sig append — no duplicate pairs, no
    lost signatures."""
    corpus = _corpus(spark)
    src, sig, pairs = _tables(tmp_path)
    delta_append(corpus.filter(F.col("doc_id") % 3 == 0), src)
    refresh_minhash_dedup(spark, sig, pairs, src)
    delta_append(corpus.filter(F.col("doc_id") % 3 != 0), src)

    real_append = I.delta_append
    # first attempt: pairs commit lands, sig commit dies
    state = {"fail_next_sig": True}

    def flaky(df, table_dir, *a, **kw):
        if table_dir == sig and state["fail_next_sig"]:
            state["fail_next_sig"] = False
            raise RuntimeError("injected crash")
        return real_append(df, table_dir, *a, **kw)

    monkeypatch.setattr(I, "delta_append", flaky)
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_minhash_dedup(spark, sig, pairs, src)
    pairs_after_crash = _pairs_set(_read(spark, pairs))
    # re-run: completes cleanly, pairs unchanged (token no-op)
    refresh_minhash_dedup(spark, sig, pairs, src)
    assert _pairs_set(_read(spark, pairs)) == pairs_after_crash
    full = minhash_dedup_pairs(_read(spark, src))
    assert _pairs_set(_read(spark, pairs)) == _pairs_set(full)
    # sig state covers the whole corpus now: a further refresh no-ops
    v = _v(spark, pairs)
    refresh_minhash_dedup(spark, sig, pairs, src)
    assert _v(spark, pairs) == v


def test_crash_then_new_append_before_rerun(spark, tmp_path, monkeypatch):
    """ADVICE r9 #2 regression: crash between the pairs and sig
    commits, then a NEW source append lands BEFORE the re-run. The
    old re-run drove its window from the sig hwm, so the widened
    window re-committed the crashed window's pairs under the fresh
    token — permanent duplicates. The torn-state repair completes
    the missing sig commit for the crashed window FIRST, then folds
    only the genuinely new append."""
    corpus = _corpus(spark)
    src, sig, pairs = _tables(tmp_path)
    delta_append(corpus.filter(F.col("doc_id") % 3 == 0), src)
    refresh_minhash_dedup(spark, sig, pairs, src)
    delta_append(corpus.filter(F.col("doc_id") % 3 == 1), src)

    real_append = I.delta_append
    state = {"fail_next_sig": True}

    def flaky(df, table_dir, *a, **kw):
        if table_dir == sig and state["fail_next_sig"]:
            state["fail_next_sig"] = False
            raise RuntimeError("injected crash")
        return real_append(df, table_dir, *a, **kw)

    monkeypatch.setattr(I, "delta_append", flaky)
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_minhash_dedup(spark, sig, pairs, src)
    # the poisoning event: a new source commit BEFORE the re-run
    delta_append(corpus.filter(F.col("doc_id") % 3 == 2), src)
    refresh_minhash_dedup(spark, sig, pairs, src)
    full = minhash_dedup_pairs(_read(spark, src))
    # row-level too: not just the set — duplicates would survive a
    # set comparison
    rows = [
        (r["id_a"], r["id_b"]) for r in _read(spark, pairs).collect()
    ]
    assert len(rows) == len(set(rows))
    assert _pairs_set(_read(spark, pairs)) == _pairs_set(full)
    # and a redelivered refresh still no-ops
    v = _v(spark, pairs)
    refresh_minhash_dedup(spark, sig, pairs, src)
    assert _v(spark, pairs) == v


def test_exact_dedup_incremental_equals_full(spark, tmp_path):
    """refresh_exact_dedup through the generic refresh_fold core:
    state equals the full groupBy recompute at every version, and a
    redelivered refresh no-ops on its txn token."""
    from feature_store_spark.incremental import refresh_exact_dedup

    corpus = _corpus(spark)
    src, state = str(tmp_path / "src"), str(tmp_path / "state")

    def full(df):
        return {
            (r["fingerprint"], r["keeper_id"], r["n_copies"])
            for r in df.selectExpr(
                "md5(lower(trim(text))) AS fingerprint", "doc_id"
            )
            .groupBy("fingerprint")
            .agg(
                F.min("doc_id").alias("keeper_id"),
                F.count(F.lit(1)).alias("n_copies"),
            )
            .collect()
        }

    for i in range(3):
        delta_append(corpus.filter(F.col("doc_id") % 3 == i), src)
        refresh_exact_dedup(spark, state, src)
        if i == 1:
            v = _v(spark, state)
            refresh_exact_dedup(spark, state, src)
            assert _v(spark, state) == v  # redelivery no-op
        got = {
            (r["fingerprint"], r["keeper_id"], r["n_copies"])
            for r in _read(spark, state).collect()
        }
        assert got == full(_read(spark, src))
    # the planted exact dup of doc 3 collapsed to keeper 3, copies 2
    by_keeper = {
        r["keeper_id"]: r["n_copies"] for r in _read(spark, state).collect()
    }
    assert by_keeper[3] == 2


def test_stream_sink_redelivery_is_noop(spark, tmp_path):
    """incremental_dedup_sink: redelivering a completed (batch_id,
    batch) — the foreachBatch crash-recovery contract — changes
    neither the corpus nor the pairs state."""
    from feature_store_spark.streaming.materializer import (
        incremental_dedup_sink,
    )

    corpus = _corpus(spark)
    src, sig, pairs = _tables(tmp_path)
    sink = incremental_dedup_sink(src, sig, pairs, "app")
    b0 = corpus.filter(F.col("doc_id") % 2 == 0)
    b1 = corpus.filter(F.col("doc_id") % 2 == 1)
    sink(b0, 0)
    sink(b1, 1)
    full = minhash_dedup_pairs(_read(spark, src))
    assert _pairs_set(_read(spark, pairs)) == _pairs_set(full)
    vs = (_v(spark, src), _v(spark, sig),
          _v(spark, pairs))
    sink(b1, 1)  # redelivery
    assert vs == (_v(spark, src), _v(spark, sig),
                  _v(spark, pairs))
    assert _pairs_set(_read(spark, pairs)) == _pairs_set(full)


def test_state_compaction_preserves_tokens_and_answers(spark, tmp_path):
    """Compacting the signature state mid-stream (overwrite with the
    same rows, a replace-all commit) must
    preserve the txn high-water mark: the next refresh still reads
    only the NEW append, no duplicate signatures, pairs still equal
    the full recompute."""
    corpus = _corpus(spark)
    src, sig, pairs = _tables(tmp_path)
    for i in (0, 1):
        delta_append(corpus.filter(F.col("doc_id") % 3 == i), src)
        refresh_minhash_dedup(spark, sig, pairs, src)
    hwm = DeltaTable(spark, sig).txn_version("incremental-dedup")
    # compact: one overwrite snapshot, same rows, fewer files
    delta_overwrite(_read(spark, sig).coalesce(1), sig, _v(spark, sig))
    # mark survived
    assert DeltaTable(spark, sig).txn_version("incremental-dedup") == hwm
    n_sigs = _read(spark, sig).count()
    delta_append(corpus.filter(F.col("doc_id") % 3 == 2), src)
    refresh_minhash_dedup(spark, sig, pairs, src)
    # no duplicate signatures (each doc exactly once)
    assert _read(spark, sig).select("doc_id").distinct().count() == \
        _read(spark, sig).count() > n_sigs
    full = minhash_dedup_pairs(_read(spark, src))
    assert _pairs_set(_read(spark, pairs)) == _pairs_set(full)
