"""Offline store: the EAV ``feature_records`` fact table
(IcebergOfflineStore.java:42-52) as one Delta table, plus the
training-data generation entry point.

Every write is one Delta commit (write files → claim the next
``_delta_log`` version put-if-absent), the protocol
IcebergOfflineStore.java:78-114 gets from Iceberg: a crashed or failed
writer never exposes a partial table and never loses the snapshot
before it; concurrent appenders serialize on the version claim with no
data rewrite. Partitioning mirrors the reference's Iceberg spec —
identity(entity_type) x day(event_time) (:54-57) — which at 100 TB is
what lets the ASOF pre-scan prune to [min(label)-lookback, max(label)]
without touching other partitions.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_spark.sources.delta import (
    DeltaTable,
    delta_append,
    delta_head,
    delta_merge_latest,
    delta_overwrite,
)

PARTITIONING = ("entity_type", "event_date")


def _dated(df: DataFrame) -> DataFrame:
    return df.withColumn("event_date", F.to_date("event_time"))


class OfflineStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def write_records(self, df: DataFrame, mode: str = "append") -> int:
        """S1/S2: one Delta commit, ``append`` (a batch's new nullable
        columns widen the table and the table columns it lacks land
        NULL) or ``overwrite`` (a new snapshot; the old one stays
        readable if the write fails). ``event_date`` is a derived
        partition column (day(event_time)). Returns the version.

        The frame is clustered by the partition columns first: without
        it each task writes a file per partition it holds, and every
        file costs its log stats. Any other mode raises — Spark modes
        like 'ignore'/'error' must not fall through to a destructive
        snapshot replacement."""
        dated = _dated(df).hint("rebalance", *PARTITIONING)
        if mode == "append":
            return delta_append(dated, self.path, PARTITIONING, merge_schema=True)
        if mode == "overwrite":
            return delta_overwrite(
                dated,
                self.path,
                delta_head(self.spark, self.path)[1],
                PARTITIONING,
            )
        raise ValueError(
            f"OfflineStore.write_records: mode {mode!r} — "
            "the store supports 'append' and 'overwrite'"
        )

    def merge_records(
        self, updates: DataFrame, txn: tuple[str, int] | None = None
    ) -> int:
        """Last-writer-wins MERGE on the EAV key, committed atomically
        (copy-on-write; readers see pre- or post-merge, never half).
        ``txn`` passes an idempotence token through for streaming
        upsert pipelines (see ``delta_merge_latest``)."""
        return delta_merge_latest(
            _dated(updates),
            self.path,
            keys=["entity_type", "entity_id", "feature_name"],
            order_col="event_time",
            tiebreak_cols=["created_at"],
            partition_cols=PARTITIONING,
            txn=txn,
        )

    def scan(
        self,
        entity_type: str | None = None,
        feature_names: Sequence[str] | None = None,
        time_min=None,
        time_max=None,
    ) -> DataFrame:
        """S3/F1/F2: filtered scan. The ``entity_type`` and
        ``event_date`` partition values drop files at PLANNING time
        (the work IcebergOfflineStore.java:140-147 does by hand with
        Expressions.and); the exact ``feature_name`` and ``event_time``
        filters then apply in full.

        The date window widens three days on each side of the bounds'
        own dates: ``event_date`` is the writer's session-local day,
        and the extreme writer/reader zone pair (UTC+14 vs UTC-12) puts
        one instant's local dates up to 26 h — two calendar days —
        apart. The window only shrinks the file list, so a wider one
        costs files read, never rows."""
        prune = []
        if entity_type is not None:
            prune.append(("entity_type", "=", entity_type))
        for bound, op, sign in ((time_min, ">=", -1), (time_max, "<=", 1)):
            if isinstance(bound, _dt.datetime):
                bound = bound.date()
            if isinstance(bound, _dt.date):
                prune.append(
                    ("event_date", op, bound + sign * _dt.timedelta(days=3))
                )
        df = DeltaTable(self.spark, self.path).scan(filters=prune)
        if feature_names is not None:
            df = df.filter(F.col("feature_name").isin(list(feature_names)))
        if time_min is not None:
            df = df.filter(F.col("event_time") >= F.lit(time_min))
        if time_max is not None:
            df = df.filter(F.col("event_time") <= F.lit(time_max))
        return df

    def generate_training_dataset(
        self,
        entity_type: str,
        feature_names: Sequence[str],
        label_events: DataFrame,
        lookback_days: float = 180.0,
        missing_as_nan: bool = True,
    ) -> DataFrame:
        """The reference's analytical query (§3.2): point-in-time
        feature attachment for each (entity_id, event_time, label) row.
        Missing -> NaN to match IcebergOfflineStore.java:189 (pass
        ``missing_as_nan=False`` to keep SQL nulls). Runs the
        single-shuffle columnar ASOF plan (operators.asof)."""
        from feature_store_spark.operators.asof import asof_training_set_columnar

        # bound the records scan by the LABEL time range (one tiny agg
        # over the label side): with the date-partition pruning in
        # scan this is what actually prunes the flagship training path
        # to [min(label)-lookback, max(label)] as the module docstring
        # promises
        b = label_events.agg(
            F.min("event_time").alias("lo"), F.max("event_time").alias("hi")
        ).first()
        time_min = time_max = None
        if b["lo"] is not None:
            time_min = b["lo"] - _dt.timedelta(days=float(lookback_days))
            time_max = b["hi"]
        records = self.scan(
            entity_type=entity_type,
            feature_names=feature_names,
            time_min=time_min,
            time_max=time_max,
        )
        out = asof_training_set_columnar(
            label_events,
            records,
            feature_names,
            lookback_days=lookback_days,
        )
        if missing_as_nan:
            out = out.na.fill(float("nan"), subset=list(feature_names))
        return out
