"""Reshaping operators: melt (wide -> EAV), pivot (EAV -> wide), and
positional vector assembly (SURVEY.md §2.7 U2/U3/U5, §2.2 L6).

The reference's feature vectors are positional arrays ordered by
``feature_view_members.position`` (feature_store.proto:49-68); scalar
assembly fills gaps with defaults and records a mask + per-slot ages
(RocksDBFeatureStore.java:281-328). Here assembly is one
``groupBy(entity)`` with a ``max_by`` per slot, then ``array()`` of the
slots in schema order; the slot helpers are shared with the serving
get (serving.py), so both apply one default / mask / age rule.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from feature_store_spark.session import local_rows_df


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    name_col: str = "feature_name",
    value_col: str = "value",
) -> DataFrame:
    """Wide -> tall (attribute form). Mirrors ParquetExportHelper.java:31-60.

    Uses Spark's native ``unpivot`` (no shuffle: a generate over the
    scan), casting all value columns to double first.
    """
    casted = df.select(
        *[F.col(c) for c in id_cols],
        *[F.col(c).cast("double").alias(c) for c in value_cols],
    )
    return casted.unpivot(
        ids=list(id_cols),
        values=list(value_cols),
        variableColumnName=name_col,
        valueColumnName=value_col,
    )


def pivot_features(
    df: DataFrame,
    key_cols: Sequence[str],
    feature_names: Sequence[str],
    name_col: str = "feature_name",
    value_col: str = "value",
    agg: str = "first",
) -> DataFrame:
    """Tall -> wide. Mirrors IcebergOfflineStore.java:174-193.

    ``feature_names`` is passed to ``pivot`` explicitly so Spark skips
    the extra distinct-values job — at 100 TB that scan is not free.

    ``agg="first"`` is deterministic only when (key, name) is unique —
    on duplicates it returns a partition-order-dependent row. Reduce
    first (``latest_per_key``) or pass an order-free agg (``max``,
    ``sum``) when the input can carry duplicates.
    """
    agg_fn = getattr(F, agg)
    return (
        df.groupBy(*key_cols)
        .pivot(name_col, list(feature_names))
        .agg(agg_fn(F.col(value_col)))
    )


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Latest row per key by (time desc, tiebreaks desc) — the
    "current value" read the online store answers with RocksDB point
    lookups. One shuffle + in-partition top-1 (no full sort)."""
    order = [F.col(time_col).desc()] + [
        F.col(t).desc_nulls_last() for t in tiebreak_cols
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier, so dotted or
    keyword names (``ctr.7d``, ``values``) resolve as one column."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_double(x: float) -> str:
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        return f"CAST('{x}' AS DOUBLE)"
    return f"{x!r}D"


def _epoch_ms_sql(ts: str) -> str:
    # functions.epoch_ms as SQL text: floor of the epoch microseconds
    return f"CAST(floor(unix_micros({ts}) / 1000) AS BIGINT)"


def in_features_sql(name_col: str, feature_names: Sequence[str]) -> str:
    """Predicate: the row's feature is a member of the view."""
    if not feature_names:
        return "false"
    return f"{sql_ident(name_col)} IN ({', '.join(map(sql_str, feature_names))})"


def slot_projection_sql(
    name_col: str,
    value_col: str,
    time_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> list[str]:
    """A scalar row as slot-aggregation input: ``__n`` its feature,
    ``__s`` the (v double, t epoch-ms) struct a slot serves, ``__o``
    its recency key (time, then tiebreaks, then the value).

    ``max`` over ``__o`` is the row ``latest_per_key`` keeps: struct
    fields order NULL lowest, so a NULL time loses to any time and a
    NULL tiebreak to any tiebreak (time desc, tiebreaks desc nulls
    last). The value comes last so an exact tie still picks one
    deterministic row. The value is cast to double INSIDE the struct:
    the sentinel invariant is "mask true <=> default served <=> age
    -1", and it keys on the value AS SERVED — a NULL raw
    value serves the default, so its t must not leak into the age."""
    v = f"CAST({sql_ident(value_col)} AS DOUBLE)"
    t = sql_ident(time_col)
    order = ", ".join([t, *map(sql_ident, tiebreak_cols), v])
    return [
        f"{sql_ident(name_col)} AS __n",
        f"named_struct('v', {v}, 't', {_epoch_ms_sql(t)}) AS __s",
        f"struct({order}) AS __o",
    ]


def slot_aggregates_sql(feature_names: Sequence[str]) -> list[str]:
    """One ``max_by`` per feature over rows projected by
    ``slot_projection_sql``: ``__slot<i>`` is the latest (v, t) of
    feature i for the group, NULL when the group has none."""
    return [
        f"max_by(__s, CASE WHEN __n = {sql_str(n)} THEN __o END) AS __slot{i}"
        for i, n in enumerate(feature_names)
    ]


def slot_vectors_sql(
    feature_names: Sequence[str],
    defaults: dict[str, float] | None = None,
    now_ms: int | None = None,
) -> tuple[str, str, str]:
    """Slot structs -> (values, is_default_mask, value_ages_ms) SQL.

    RocksDBFeatureStore.java:281-328: a slot with no value serves the
    feature's default with mask true and age -1; a served value has
    mask false and age ``now - t`` (-1 when its time is NULL)."""
    defaults = defaults or {}
    now = f"{int(now_ms)}L" if now_ms is not None else _epoch_ms_sql("current_timestamp()")
    slots = [f"__slot{i}" for i in range(len(feature_names))]
    values = [
        f"coalesce({s}.v, {_sql_double(defaults.get(n, 0.0))})"
        for s, n in zip(slots, feature_names)
    ]
    mask = [f"{s}.v IS NULL" for s in slots]
    ages = [
        f"CASE WHEN {s}.v IS NULL OR {s}.t IS NULL THEN -1L ELSE {now} - {s}.t END"
        for s in slots
    ]
    return (
        f"CAST(array({', '.join(values)}) AS array<double>)",
        f"CAST(array({', '.join(mask)}) AS array<boolean>)",
        f"CAST(array({', '.join(ages)}) AS array<bigint>)",
    )


def assemble_vectors(
    scalars: DataFrame,
    feature_names: Sequence[str],
    defaults: dict[str, float] | None = None,
    entity_col: str = "entity_id",
    name_col: str = "feature_name",
    value_col: str = "value",
    time_col: str = "event_time",
    now_ms: int | None = None,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Scalar -> positional-vector assembly with defaults, mask and ages.

    Reference: RocksDBFeatureStore.java:281-328 — for each feature of
    the schema, MultiGet the scalar; missing -> default + mask=true +
    age=-1; present -> value + age=now-event_time. Each slot holds the
    latest row of its (entity, feature) by time desc, then tiebreaks
    desc nulls last.

    Output: entity_col, ``values array<double>`` (schema order),
    ``is_default_mask array<boolean>``, ``value_ages_ms array<long>``.

    One shuffle: a ``groupBy(entity)`` with one ``max_by`` per slot,
    built from SQL text (each Column built in Python is a py4j round
    trip). Slots are positional, so feature names never become column
    names (a feature ``ctr.7d`` or one named like ``entity_col`` needs
    no quoting).
    """
    feature_names = list(feature_names)
    values, mask, ages = slot_vectors_sql(feature_names, defaults, now_ms)
    # a view without members still needs one aggregate to group by
    aggs = slot_aggregates_sql(feature_names) or ["count(1)"]
    slots = (
        scalars.where(in_features_sql(name_col, feature_names))
        .selectExpr(
            sql_ident(entity_col),
            *slot_projection_sql(name_col, value_col, time_col, tiebreak_cols),
        )
        .groupBy(entity_col)
        .agg(*map(F.expr, aggs))
    )
    return slots.selectExpr(
        sql_ident(entity_col),
        f"{values} AS values",
        f"{mask} AS is_default_mask",
        f"{ages} AS value_ages_ms",
    )


def assemble_flat(
    scalars: DataFrame,
    entities: DataFrame,
    feature_names: Sequence[str],
    default_value: float = 0.0,
    entity_col: str = "entity_id",
    name_col: str = "feature_name",
    value_col: str = "value",
    time_col: str = "event_time",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Flat (exploded) form of vector assembly: one row per
    (entity, feature) over the full entity x schema grid, with default
    fill + is_default mask. Hash-friendly for oracle comparison and the
    natural shape to MERGE into an online table."""
    feature_names = list(feature_names)
    latest = latest_per_key(
        scalars.filter(F.col(name_col).isin(feature_names)),
        [entity_col, name_col],
        time_col,
        tiebreak_cols,
    ).select(
        F.col(entity_col),
        F.col(name_col),
        F.col(value_col).cast("double").alias("__v"),
        F.col(time_col).alias("__t"),
    )
    grid = entities.select(entity_col).distinct().crossJoin(
        F.broadcast(
            local_rows_df(
                entities.sparkSession,
                [(n,) for n in feature_names],
                # explicit DDL: an empty feature list (a view with no
                # members) must yield an empty grid, not a cannot-
                # infer-schema crash (review r10m)
                f"{name_col} string",
            )
        )
    )
    joined = grid.join(latest, [entity_col, name_col], "left")
    return joined.select(
        F.col(entity_col),
        F.col(name_col),
        F.coalesce(F.col("__v"), F.lit(default_value)).alias("value"),
        F.col("__v").isNull().alias("is_default"),
        F.col("__t").alias("event_time"),
    )
