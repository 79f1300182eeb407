"""Offline store: the EAV ``feature_records`` fact table
(IcebergOfflineStore.java:42-52) as partitioned Parquet/Delta, plus the
training-data generation entry point.

Partitioning mirrors the reference's Iceberg spec —
identity(entity_type) x day(event_time) (:54-57) — which at 100 TB is
what lets the ASOF pre-scan prune to [min(label)-lookback, max(label)]
without touching other partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("feature_name", T.StringType(), False),
        T.StructField("value_float", T.DoubleType(), True),
        T.StructField("value_string", T.StringType(), True),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("pipeline_id", T.StringType(), True),
        T.StructField("view_version", T.IntegerType(), True),
    ]
)


class OfflineStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def write_records(self, df: DataFrame, mode: str = "append") -> None:
        """S1/S2: partitioned append. ``event_date`` is a derived
        partition column (day(event_time))."""
        (
            df.withColumn("event_date", F.to_date("event_time"))
            .write.mode(mode)
            .partitionBy("entity_type", "event_date")
            .parquet(self.path)
        )

    @staticmethod
    def _apply_scan_filters(
        df: DataFrame,
        entity_type: str | None,
        feature_names: Sequence[str] | None,
        time_min,
        time_max,
    ) -> DataFrame:
        """The shared predicate chain of every scan variant — one
        definition so a semantics fix cannot diverge between the
        plain and the manifested store."""
        if entity_type is not None:
            df = df.filter(F.col("entity_type") == entity_type)
        if feature_names is not None:
            df = df.filter(F.col("feature_name").isin(list(feature_names)))
        # time bounds ALSO derive event_date partition predicates
        # (review r10l): Catalyst cannot infer bounds on the derived
        # partition column from an event_time filter, so every date
        # partition of the entity used to be listed and its footers
        # opened. The date bounds are widened TWO days on each side
        # (ADVICE r10): to_date depends on the session timezone, and
        # the extreme writer/reader zone pair (UTC+14 vs UTC-12) puts
        # two instants' local dates up to 26h — TWO calendar days —
        # apart. The predicate is only a pruning aid; the row-level
        # event_time filter (kept below) preserves exactness.
        if time_min is not None:
            df = df.filter(
                (F.col("event_time") >= F.lit(time_min))
                & (
                    F.col("event_date")
                    >= F.date_sub(F.to_date(F.lit(time_min)), 2)
                )
            )
        if time_max is not None:
            df = df.filter(
                (F.col("event_time") <= F.lit(time_max))
                & (
                    F.col("event_date")
                    <= F.date_add(F.to_date(F.lit(time_max)), 2)
                )
            )
        return df

    def scan(
        self,
        entity_type: str | None = None,
        feature_names: Sequence[str] | None = None,
        time_min=None,
        time_max=None,
    ) -> DataFrame:
        """S3/F1/F2: filtered scan. All predicates are plain ``filter``
        calls — Catalyst pushes them into the parquet scan and prunes
        partitions (the work IcebergOfflineStore.java:140-147 does by
        hand with Expressions.and)."""
        return self._apply_scan_filters(
            self.spark.read.parquet(self.path),
            entity_type,
            feature_names,
            time_min,
            time_max,
        )

    def manifested(self) -> "ManifestedOfflineStore":
        """The transactional variant at this path: a Delta table in
        the same partition layout."""
        return ManifestedOfflineStore(self.spark, self.path)

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
        # over the label side): with the date-partition predicates in
        # _apply_scan_filters this is what actually prunes the
        # flagship training path to [min(label)-lookback, max(label)]
        # as the module docstring promises (review r10l) — previously
        # no time bound reached the scan at all
        import datetime as _dt

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


class ManifestedOfflineStore(OfflineStore):
    """S1/S2 with the reference's COMMIT BOUNDARY: appends and MERGEs
    are Delta commits (write files → claim the next ``_delta_log``
    version put-if-absent), the protocol IcebergOfflineStore.java:78-114
    gets from Iceberg. A crashed writer never exposes a partial table;
    concurrent appenders serialize on the version claim with no data
    rewrite. ``scan`` keeps the same pushdown/pruning behavior — the
    live files read under a basePath, so hive partition values still
    parse and prune. Appends evolve the schema: a batch's new nullable
    columns widen the table and the table columns it lacks land NULL."""

    PARTITIONING = ("entity_type", "event_date")

    def _dated(self, df: DataFrame) -> DataFrame:
        return df.withColumn("event_date", F.to_date("event_time"))

    def write_records(self, df: DataFrame, mode: str = "append") -> int:
        # only the two transactional modes exist here — Spark modes
        # like 'ignore'/'error' must not fall through to a DESTRUCTIVE
        # snapshot replacement (review r10: any unrecognized mode,
        # typos included, silently overwrote the committed table)
        from feature_store_spark.sources.delta import (
            delta_append,
            delta_head,
            delta_overwrite,
        )

        dated = self._dated(df)
        if mode == "append":
            return delta_append(
                dated, self.path, self.PARTITIONING, merge_schema=True
            )
        if mode == "overwrite":
            return delta_overwrite(
                dated,
                self.path,
                delta_head(self.spark, self.path)[1],
                self.PARTITIONING,
            )
        raise ValueError(
            f"ManifestedOfflineStore.write_records: mode {mode!r} — "
            "the transactional store supports 'append' and 'overwrite'"
        )

    def merge_records(
        self, updates: DataFrame, txn: tuple[str, int] | None = None
    ) -> int:
        """Last-writer-wins MERGE on the EAV key, committed atomically
        (copy-on-write; readers see pre- or post-merge, never half).
        ``txn`` passes an idempotence token through for streaming
        upsert pipelines (see ``delta_merge_latest``)."""
        from feature_store_spark.sources.delta import delta_merge_latest

        return delta_merge_latest(
            self._dated(updates),
            self.path,
            keys=["entity_type", "entity_id", "feature_name"],
            order_col="event_time",
            tiebreak_cols=["created_at"],
            partition_cols=self.PARTITIONING,
            txn=txn,
        )

    def scan(
        self,
        entity_type: str | None = None,
        feature_names: Sequence[str] | None = None,
        time_min=None,
        time_max=None,
    ) -> DataFrame:
        # entity_type and event_date partition values drop files at
        # PLANNING time; the dates widen three days, a superset of the
        # session-local two-day window below, which still applies in
        # full — pruning only shrinks the file list.
        import datetime as _dt

        from feature_store_spark.sources.delta import DeltaTable

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
        return self._apply_scan_filters(
            DeltaTable(self.spark, self.path).scan(filters=prune),
            entity_type,
            feature_names,
            time_min,
            time_max,
        )
