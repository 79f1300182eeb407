"""The commit kernel shared by the two table formats (Delta, Iceberg).

Every format commits the way the reference's offline store does
(IcebergOfflineStore.java:78-114): write data files nobody references
yet, then claim the next version by atomically creating its metadata
file. This module owns the two halves:

- ``stage`` — the Spark write of a frame into a private staging dir,
  the file walk, per-file row counts and column ranges (parquet
  footers, or one Spark aggregate for ORC), zero-row-file drop, and
  removal of the staging dir when anything fails;
- ``publish_if_absent`` — the put-if-absent commit point (tmp write,
  fsync, ``os.link``, directory fsync), whose lost race is the one
  ``ConcurrentWriteError``.

What stays per format: where the staged files land (Delta's canonical
layout, in place for Iceberg) and how a ``StagedFile.col_ranges``
entry is encoded (Delta stats JSON, Iceberg byte bounds). On an object
store without atomic create-exclusive, ``publish_if_absent`` is the
seam to swap for a catalog conditional put.
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_TS_TYPE_KEY = "spark.sql.parquet.outputTimestampType"


class ConcurrentWriteError(RuntimeError):
    """Another writer claimed the version this commit targeted.
    Appends may retry at the next version (they commute); a commit
    derived from the pre-commit state (DELETE, MERGE, OPTIMIZE, every
    Iceberg snapshot) surfaces it so the caller re-reads and retries —
    silently overwriting would lose the rival's commit."""


@dataclass
class StagedFile:
    """One written data file: absolute path, row count, size, and the
    per-column ``[min, max]`` over the whole file (raw footer values;
    epoch micros / days for ORC temporals). A column missing from
    ``col_ranges`` has unknown bounds and must never prune."""

    path: str
    rows: int
    bytes: int
    col_ranges: dict[str, list]


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


def _footer(path: str) -> StagedFile:
    """Row count and column ranges from one parquet footer (KBs, never
    data pages). A file's range covers every row group: a row group
    holding values but no min/max (parquet-mr and pyarrow drop stats
    over 4 KB; legacy INT96 timestamps carry none) makes the column's
    bounds unknown for the whole file, since a range built from the
    other row groups would prune rows that match. A NaN min or max
    makes the bounds unknown the same way. All-null row groups have
    nothing to bound and are skipped."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    ranges: dict[str, list] = {}
    unknown: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in unknown:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                if (
                    st is not None
                    and st.has_null_count
                    and st.null_count == col.num_values
                ):
                    continue
                unknown.add(name)
                ranges.pop(name, None)
                continue
            if _is_nan(st.min) or _is_nan(st.max):
                # parquet-mr folds NaN into float min/max; a NaN bound
                # orders against nothing, so it is recorded as unknown
                unknown.add(name)
                ranges.pop(name, None)
                continue
            r = ranges.get(name)
            if r is None:
                ranges[name] = [st.min, st.max]
            else:
                r[0] = min(r[0], st.min)
                r[1] = max(r[1], st.max)
    return StagedFile(path, md.num_rows, os.path.getsize(path), ranges)


def footer_stats(paths: list[str]) -> list[StagedFile]:
    """``_footer`` over many files. The reads are independent KB-scale
    I/O, so a thread pool keeps them off the commit's critical path."""
    with ThreadPoolExecutor(max_workers=16) as pool:
        return list(pool.map(_footer, paths))


def _orc_stats(df: DataFrame, staging_dir: str, paths: list[str],
               partition_cols) -> list[StagedFile]:
    """Per-file stats for ORC, which pyarrow exposes no column
    statistics for: ONE Spark aggregate grouped on
    ``_metadata.file_path`` over the just-written files. Temporal
    ranges come back in Iceberg's units (epoch micros / days, computed
    Spark-side so no driver timezone can skew them); float and double
    ranges exclude NaN."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    written = spark.read.orc(staging_dir)
    aggs = [F.count(F.lit(1)).alias("__n")]
    statable: list[str] = []
    for f in df.schema.fields:
        name, t = f.name, f.dataType
        if name in partition_cols or name not in written.columns:
            continue
        if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            c = F.unix_micros(F.col(name))
        elif isinstance(t, T.DateType):
            c = F.datediff(F.col(name), F.lit("1970-01-01"))
        elif isinstance(t, (T.FloatType, T.DoubleType)):
            c = F.when(~F.isnan(F.col(name)), F.col(name))
        elif isinstance(t, (T.ByteType, T.ShortType, T.IntegerType,
                            T.LongType, T.StringType)):
            c = F.col(name)
        else:
            continue  # boolean/binary: bounds add no pruning
        statable.append(name)
        aggs.append(F.min(c).alias(f"__mn_{name}"))
        aggs.append(F.max(c).alias(f"__mx_{name}"))
    by_path: dict[str, tuple[int, dict]] = {}
    for r in (
        written.groupBy(F.col("_metadata.file_path").alias("__path"))
        .agg(*aggs)
        .collect()
    ):
        p = r["__path"]
        # Hadoop renders local URIs as file:/x, file:///x, or
        # file://host/x — reduce all to a bare /x
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        by_path[p] = (
            int(r["__n"]),
            {
                name: [r[f"__mn_{name}"], r[f"__mx_{name}"]]
                for name in statable
                if r[f"__mn_{name}"] is not None
            },
        )
    if paths and not any(p in by_path for p in paths):
        # a universal miss is a path-normalization bug, not data —
        # committing bound-less entries would silently disable file
        # pruning for the whole commit
        raise RuntimeError(
            f"orc stats job matched none of {len(paths)} written "
            f"files (sample key: {next(iter(by_path), None)!r})"
        )
    missed = [p for p in paths if p not in by_path]
    if missed:
        # a zero-row file never groups in the aggregate; a NON-empty
        # file missing from it is a per-path normalization bug that
        # would understate the commit. pyarrow.orc gives nrows, which
        # tells the two apart exactly.
        from pyarrow import orc as _po

        nonempty = [p for p in missed if _po.ORCFile(p).nrows > 0]
        if nonempty:
            raise RuntimeError(
                f"orc stats job missed {len(nonempty)} non-empty "
                f"written file(s) (path normalization bug): "
                f"{nonempty[:3]}"
            )
    out = []
    for p in paths:
        rows, ranges = by_path.get(p, (0, {}))
        out.append(StagedFile(p, rows, os.path.getsize(p), ranges))
    return out


def stage(
    df: DataFrame,
    staging_dir: str,
    partition_cols=(),
    fmt: str = "parquet",
    rebalance: bool = True,
    validate=None,
) -> list[StagedFile]:
    """Write ``df`` under ``staging_dir`` (hive-partitioned by
    ``partition_cols``) and return its non-empty files with their
    stats, in path order. Zero-row files (an empty frame still writes
    one) are deleted, never returned: callers read "nothing landed"
    from an empty list instead of paying an ``isEmpty()`` job.

    ``rebalance`` adds an AQE-sized REBALANCE to unpartitioned writes:
    staged frames are usually shuffle- or localCheckpoint-derived, so
    their partition count is the configured parallelism, not the data
    size, and written as-is every commit would land
    ``shuffle.partitions`` near-empty files. It is safe over
    nondeterministic columns (Delta's spark_partition_id()-keyed
    identity values evaluate below the exchange). Callers whose frame
    already IS the layout (range-clustered, coalesced, sorted) pass
    False. ``validate`` runs right after the write, before any stats
    are read — the hook for rule checks observed on the write itself.

    Nothing under ``staging_dir`` is referenced by any table until the
    caller publishes, and any failure here removes the dir."""
    if fmt == "parquet" and any(
        isinstance(f.dataType, T.TimestampType) for f in df.schema.fields
    ):
        # INT96 timestamps carry no footer min/max, so every written
        # file would record unknown bounds and time-range pruning would
        # never fire. The session must write annotated micros;
        # get_spark sets it, and a write verb never flips
        # process-global conf under concurrent writers.
        ts_type = df.sparkSession.conf.get(_TS_TYPE_KEY, "INT96")
        if str(ts_type).upper() != "TIMESTAMP_MICROS":
            raise ValueError(
                f"{_TS_TYPE_KEY} is {ts_type!r}; table writes need "
                "'TIMESTAMP_MICROS' so timestamp columns get footer "
                "statistics (set it on the session, as get_spark does)"
            )
    if rebalance and not partition_cols:
        df = df.hint("rebalance")
    writer = df.write.mode("overwrite").format(fmt)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    try:
        writer.save(staging_dir)
        if validate is not None:
            validate()
        paths = sorted(
            os.path.join(root, name)
            for root, _dirs, names in os.walk(staging_dir)
            for name in names
            if name.endswith(f".{fmt}")
        )
        if fmt == "orc":
            files = _orc_stats(df, staging_dir, paths, set(partition_cols))
        else:
            files = footer_stats(paths)
    except BaseException:
        shutil.rmtree(staging_dir, ignore_errors=True)
        raise
    for f in files:
        if f.rows == 0:
            os.remove(f.path)
    return [f for f in files if f.rows > 0]


def publish_if_absent(directory: str, name: str, data: str) -> None:
    """THE commit point: create ``directory/name`` holding ``data``
    only if no other writer has. The content is fully written and
    fsynced to a private tmp first, then published with ``os.link`` —
    put-if-absent AND atomic, so neither a crash (even SIGKILL
    mid-write) nor a concurrent reader can observe a torn commit; a
    killed writer leaves only an unlinked ``.tmp-*`` file. Raises
    ``ConcurrentWriteError`` when the name is already taken.

    The directory is fsynced too: link(2) updates a dirent, and a power
    loss before it reaches disk would lose a commit that a streaming
    checkpoint may already count as done (the batch would never be
    redelivered)."""
    tmp = os.path.join(directory, f".tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(directory, name))
    except FileExistsError:
        raise ConcurrentWriteError(
            f"{directory}: {name} was committed by another writer; "
            "re-read and retry"
        ) from None
    finally:
        os.unlink(tmp)
    dfd = os.open(directory, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
