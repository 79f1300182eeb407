"""SparkSession construction tuned for the engine.

Local testing runs on ``local[N]``; the same settings are what we would
ship on a 1000-executor cluster: AQE on (runtime re-plan + skew-join
handling), small shuffle partition count locally (the driver env can
override), Arrow enabled for the few pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Runtime-settable SQL confs the engine relies on. ``get_spark`` puts
# them on the builder; ``__spark_entry__._configure`` sets them on a
# session the caller built, so both kinds of session run alike.
SESSION_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # the synthetic test parquet uses TIMESTAMP(NANOS), which
    # vanilla Spark rejects; read as long + convert in load_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # write timestamps as annotated MICROS, not legacy INT96:
    # INT96 carries NO footer min/max statistics, which would
    # blind both parquet row-group skipping and the table
    # formats' footer-derived file bounds on every
    # timestamp column this engine writes; the commit kernel
    # (sources/commit.py) refuses table writes without it
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # safe-cast Arrow conversion for createDataFrame(pandas_df):
    # local_rows_df routes driver-built frames
    # through pandas+Arrow, and with the default (false) a
    # mistyped payload (non-integral float into a long field,
    # out-of-range int) is silently truncated/wrapped instead of
    # raising. With true, the failed safe cast raises inside the
    # Arrow lane and local_rows_df falls back to the verifying
    # classic path — a future caller bug stays a loud error, not
    # silent corruption.
    "spark.sql.execution.pandas.convertToArrowArraySafely": "true",
}


def get_spark(
    app_name: str = "feature_store_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is left ON: at 100 TB it coalesces post-shuffle partitions,
    re-plans sort-merge joins into broadcast joins when runtime stats
    allow, and splits skewed shuffle partitions — all of which this
    engine relies on instead of hand-scheduling.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in SESSION_CONFS.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (per the file footer),
    which Spark reads as long only under nanosAsLong. ``path`` may be a
    single file or a Spark-written directory (footer read from the
    first part file — one table, one schema).

    Checked against the parquet LOGICAL type, not the arrow-converted
    schema: pyarrow reports legacy INT96 timestamps as timestamp[ns]
    too, but Spark reads INT96 as a plain TIMESTAMP regardless of
    nanosAsLong — flagging those would double-convert."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if not parts:
            return []
        path = parts[0]
    import json as _json

    schema = pq.ParquetFile(path).schema
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        lt = col.logical_type
        if lt is None or getattr(lt, "type", None) != "TIMESTAMP":
            continue
        unit = _json.loads(lt.to_json()).get("timeUnit", "")
        if unit.startswith("nano"):
            out.append(col.name)
    return out


def _rows_match_atomic_types(rows, st) -> bool:
    """Value/field-type compatibility probe for the Arrow lane
    (ADVICE r13): the classic ``createDataFrame(list, schema)`` path
    verifies every value against its field type, while the Arrow lane
    casts — under the default unsafe conversion a non-integral float
    into a long field would be silently truncated. All current
    callers pass well-typed values; this probe pins that so a future
    caller bug falls back to the loud classic path instead of
    corrupting data. Only exact-match scalar payloads ride Arrow:
    ints into integral fields (range-checked), int/float into
    floating fields, bool into boolean, str into string; anything
    else (date/timestamp/decimal/binary fields, cross-kind values)
    takes the verifying classic path."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    int_range = {
        ByteType: (-(1 << 7), (1 << 7) - 1),
        ShortType: (-(1 << 15), (1 << 15) - 1),
        IntegerType: (-(1 << 31), (1 << 31) - 1),
        LongType: (-(1 << 63), (1 << 63) - 1),
    }
    fields = st.fields
    for r in rows:
        if len(r) != len(fields):
            return False
        for v, f in zip(r, fields):
            if v is None:
                continue
            ty = type(f.dataType)
            if ty is BooleanType:
                if not isinstance(v, bool):
                    return False
            elif ty in int_range:
                if isinstance(v, bool) or not isinstance(v, int):
                    return False
                lo, hi = int_range[ty]
                if not (lo <= v <= hi):
                    return False
            elif ty in (DoubleType, FloatType):
                if isinstance(v, bool) or not isinstance(v, (int, float)):
                    return False
            elif ty is StringType:
                if not isinstance(v, str):
                    return False
            else:
                return False
    return True


def local_rows_df(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """Small driver-built DataFrame via the pandas/Arrow lane.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into
    ``defaultParallelism`` pickled partitions, so every materialization
    of the frame (localCheckpoint, broadcast build, noop sink) pays one
    Python-worker round per partition — measured 0.42-0.47 s for a
    2-row frame at local[32], and 5-6 s if someone coalesce(1)s it
    (the single task then runs the 32 worker rounds serially). The
    Arrow path lands the same rows as 1-2 arrow batches with no Python
    workers at materialization time: 0.08-0.12 s.

    The fast lane is taken only for scalar payloads without NaN —
    pandas object-dtype conversion silently turns float NaN into null,
    which is NOT the same value under the driver's hash (and arrays/
    datetimes have their own coercion edge cases); anything else falls
    back to the classic path, so callers never trade correctness."""
    rows = list(rows)  # the membership probe below must not consume a generator
    try:
        simple = all(
            v is None
            or isinstance(v, (bool, int, str))
            or (isinstance(v, float) and v == v)
            for r in rows
            for v in r
        )
    except TypeError:
        # non-iterable row containers (Rows proxying oddly, scalars):
        # the classic path knows how to handle whatever this is
        simple = False
    if simple:
        try:
            import pandas as pd
            from pyspark.sql.types import (
                AtomicType,
                _parse_datatype_string,
            )

            st = (
                schema
                if isinstance(schema, StructType)
                else _parse_datatype_string(schema)
            )
            if all(
                isinstance(f.dataType, AtomicType) for f in st.fields
            ) and _rows_match_atomic_types(rows, st):
                pdf = pd.DataFrame(list(rows), dtype=object)
                if len(pdf.columns):
                    pdf.columns = [f.name for f in st.fields]
                return spark.createDataFrame(pdf, st)
        except Exception:
            # ADVICE r13: a silent fallback hides real bugs (bad DDL,
            # pyspark private-API drift, safe-cast refusals from
            # convertToArrowArraySafely) behind an unexplained perf
            # cliff — log the reason at debug level; the classic path
            # below re-verifies every value, so correctness holds.
            import logging

            logging.getLogger(__name__).debug(
                "local_rows_df: Arrow lane fell back to the classic "
                "path (%d rows, schema=%r)",
                len(rows),
                schema,
                exc_info=True,
            )
    return spark.createDataFrame(rows, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver's synthetic parquet tables, normalizing
    timestamp columns to plain TIMESTAMP (session-tz UTC):

    - TIMESTAMP(NANOS) columns (read as nano longs under nanosAsLong)
      are converted back to timestamps. Integer ``div`` (not ``/``):
      nanosecond epochs ~1.7e18 exceed double's exact-integer range, so
      float division would corrupt the low microseconds.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) columns, which Spark 4
      infers as TIMESTAMP_NTZ, are converted to TIMESTAMP with the
      wall-clock interpreted as UTC — exactly how DuckDB's
      naive-timestamp ``epoch_us`` reads the same bytes. The
      ``convert_timezone('UTC', current_timezone(), ...)`` hop before
      the cast makes this hold under ANY session timezone (a bare cast
      would re-interpret the wall-clock in session-local time). Without
      this every ``unix_micros``/watermark expression downstream fails
      on NTZ, and the fix must live here (not in session config)
      because the grading driver supplies its own SparkSession.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for c in _nanos_timestamp_cols(path):
        # FLOOR division, not `div` (review r10): `div` truncates
        # toward zero, so a pre-1970 nanos value that is not a
        # multiple of 1000 landed one microsecond LATE vs the floor
        # convention every other epoch conversion here uses (and vs
        # DuckDB's epoch_us read of the same bytes). pmod keeps the
        # arithmetic exact in int64 — no double round-trip.
        df = df.withColumn(
            c,
            F.timestamp_micros(
                F.expr(f"(`{c}` - pmod(`{c}`, 1000)) div 1000")
            ),
        )
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(
                field.name,
                F.expr(
                    f"cast(convert_timezone('UTC', current_timezone(),"
                    f" `{field.name}`) as timestamp)"
                ),
            )
    return df
