"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship query (point-in-time ASOF training set, the
               reference's core analytical query, §3.2) at sf0.001.
queries()    — one callable per implemented operator (SURVEY.md §2 +
               the LLM-pipeline additions), (spark, sf_dir) -> DataFrame.
oracle_sql() — DuckDB-equivalent SQL per query for the correctness gate.

Implementations live in feature_store_spark.queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _configure(spark: SparkSession) -> SparkSession:
    """Apply engine session settings to a driver-provided session
    (the driver builds its own SparkSession; the nanos conf must be
    set before any parquet read): every runtime-settable conf
    ``get_spark`` uses (``session.SESSION_CONFS``), plus shuffle
    partitions sized to the box (a vanilla 200 would pay 200-task
    stages on fixture-scale aggregates before AQE coalesces)."""
    import os

    from feature_store_spark.session import SESSION_CONFS

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    for key, value in SESSION_CONFS.items():
        spark.conf.set(key, value)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus),
    )
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from feature_store_spark.queries import q_asof_features

    return q_asof_features(_configure(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from feature_store_spark.queries import QUERIES

    def wrap(fn):
        return lambda spark, sf_dir: fn(_configure(spark), sf_dir)

    return {name: wrap(fn) for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from feature_store_spark.queries import QUERIES

    return {name: sql for name, (_, sql) in QUERIES.items() if sql is not None}
