"""Transactional manifest commits for plain-parquet tables.

The reference commits offline-store appends through Iceberg: data files
are written first, then a snapshot commit makes them visible atomically
(``IcebergOfflineStore.java:78-114`` — ``writeFeatureRecords`` writes a
parquet file, then ``table.newAppend().appendFile(...).commit()``).
Plain ``df.write.mode("append").parquet(path)`` has no such boundary: a
crashed job leaves readers seeing half an append, and two concurrent
writers can interleave part-files. This module supplies the same
commit protocol over bare parquet + a JSON log, Spark-first. The log
design is Delta Lake's (an ordered ``vN.json`` sequence where the
atomic put-if-absent of version N IS commit N), which avoids the
classic pointer-flip hazard: with a separate "current" pointer, a
writer that claims version N and dies before flipping blocks N forever,
and a late flip after someone else committed N+1 silently loses their
update. With create-exclusive-as-commit there is no second step to
die before.

Layout::

    <table>/data/<commit-uuid>/...     # part files; hive dirs ok
    <table>/_manifests/v000007.json    # snapshot 7: file list + schema

Protocol:

1. WRITE  — the Spark job writes to a staging dir; finished part files
   move (same-filesystem rename, no copy) under ``data/<uuid>/``.
   Nothing references them yet: a crash here leaves unreferenced
   garbage, never a partial table.
2. COMMIT — the new snapshot (current files + new files for append;
   new files only for overwrite) is published as ``_manifests/vN.json``
   through ``commit.publish_if_absent`` (temp file, fsync, ``os.link``;
   the kernel shared with the Delta and Iceberg writers). link(2) is atomic
   and fails with EEXIST if another writer took N first — the loser
   re-reads the new current snapshot and retries (append commits are
   order-independent: the retry is a pure metadata re-commit, the data
   files are not rewritten). A manifest is either fully present or
   absent; readers can never observe a torn one.

Readers resolve current = highest ``vN.json``, then load the snapshot's
explicit file list with ``spark.read.option("basePath", data_dir)
.parquet(*files)`` so hive partition columns still parse and partition
pruning still works.

Scale note: on an object store without atomic create-exclusive, step 2
is the seam to swap for a catalog conditional-put (the reason
Delta/Iceberg carry a catalog or rely on S3 put-if-absent); step 1 is
object-store-safe as-is (unique keys, never overwritten). On
HDFS/POSIX this implementation is atomic as written. MERGE is
copy-on-write: the merged result commits as an overwrite snapshot, the
standard Spark pattern for upserts without a row-level-delete format.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_spark.sources import commit
from feature_store_spark.sources.commit import ConcurrentWriteError

# 6+ digits, not exactly 6 (review r10): version %06d grows past six
# digits at 1,000,000 commits — a strict {6} regex made that manifest
# invisible (current_version stuck, every retry EEXIST-conflicting on
# the same version: a permanently bricked table with one committed
# but unreadable snapshot)
_MANIFEST_RE = re.compile(r"^v(\d{6,})\.json$")


def _merge_schema_json(base_json: str, new_json: str) -> str:
    """Union of two recorded schemas, base field order first, new
    fields appended; raises on a same-name type conflict. Operates on
    the JSON structs directly so no Spark session is needed."""
    base_s = json.loads(base_json)
    new_s = json.loads(new_json)
    by_name = {f["name"]: f for f in base_s.get("fields", [])}
    fields = list(base_s.get("fields", []))
    for f in new_s.get("fields", []):
        prev = by_name.get(f["name"])
        if prev is None:
            fields.append(f)
        elif prev.get("type") != f.get("type"):
            raise ValueError(
                f"append changes column {f['name']!r} type "
                f"{prev.get('type')!r} -> {f.get('type')!r}; schema "
                "evolution only adds columns, it never retypes them"
            )
    return json.dumps({**base_s, "fields": fields})


def _norm_stat(v):
    """Normalize a parquet footer min/max into a JSON-storable,
    ORDER-PRESERVING value: numbers/strings/bools pass through,
    datetimes/dates become fixed-width ISO strings (lexicographic
    order == chronological order), anything else is dropped (no
    stats = never pruned = always correct)."""
    import datetime as _dt

    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _parse_temporal(s: str):
    """Parse a committed temporal stat / bound string back to a
    datetime (date-only strings become midnight — exactly how Spark
    casts DATE to TIMESTAMP). Returns None if not temporal-shaped."""
    import datetime as _dt

    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return _dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    return None


def _prune_cmp(stat, bound):
    """Compare a committed file stat against a prune bound for data
    skipping: returns -1/0/1, or None when the pair is NOT provably
    comparable — in which case the caller must KEEP the file (pruning
    may only ever drop files it can prove non-overlapping; a wrong
    granularity or type mix must degrade to no-skip, never to a
    dropped matching row or a crash).

    Temporal values compare as parsed datetimes, never as raw
    strings: '2024-01-01' (a date bound or DATE-column stat) and
    '2024-01-01 00:00:00.000000' (a TIMESTAMP-column stat) are the
    SAME instant, but as strings they order unequal — the lexical
    comparison would prune files whose boundary rows match the real
    filter."""
    import datetime as _dt
    import math as _m

    if isinstance(bound, _dt.date) and not isinstance(bound, _dt.datetime):
        bound = _dt.datetime(bound.year, bound.month, bound.day)
    if isinstance(bound, (_dt.datetime, _dt.date)):
        if isinstance(bound, _dt.datetime) and bound.tzinfo is not None:
            # committed stats are NAIVE session-local strings; a
            # tz-aware bound is not provably on the same clock, and
            # naive-vs-aware comparison raises TypeError — degrade to
            # no-skip, the contract above (review r10)
            return None
        if not isinstance(stat, str):
            return None
        parsed = _parse_temporal(stat)
        if parsed is None:
            return None
        return (parsed > bound) - (parsed < bound)
    if isinstance(bound, bool) or isinstance(stat, bool):
        return None  # bool ranges are useless for range pruning
    if isinstance(bound, (int, float)) and isinstance(stat, (int, float)):
        if isinstance(bound, float) and _m.isnan(bound):
            return None
        if isinstance(stat, float) and _m.isnan(stat):
            return None
        return (stat > bound) - (stat < bound)
    if isinstance(bound, str) and isinstance(stat, str):
        # if BOTH parse as temporals, compare as instants (mixed
        # date/timestamp granularity); otherwise plain lexicographic
        ps, pb = _parse_temporal(stat), _parse_temporal(bound)
        if ps is not None and pb is not None:
            return (ps > pb) - (ps < pb)
        if (ps is None) != (pb is None):
            return None
        return (stat > bound) - (stat < bound)
    return None


def _stat_lt(stat, bound) -> bool:
    c = _prune_cmp(stat, bound)
    return c is not None and c < 0


def _stat_gt(stat, bound) -> bool:
    c = _prune_cmp(stat, bound)
    return c is not None and c > 0


class ManifestedTable:
    """A parquet table whose visible state is a manifest snapshot."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest_dir = os.path.join(path, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # ------------------------------------------------------- snapshot
    def current_version(self) -> int:
        """0 = empty table (no committed snapshot)."""
        versions = [
            int(m.group(1))
            for fn in os.listdir(self.manifest_dir)
            if (m := _MANIFEST_RE.match(fn))
        ]
        return max(versions, default=0)

    def _manifest_at(self, version: int) -> dict | None:
        if version == 0:
            return None
        path = os.path.join(self.manifest_dir, f"v{version:06d}.json")
        try:
            with open(path, encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"ManifestedTable: no snapshot v{version} at {self.path!r}"
                " (vacuumed, or never committed)"
            ) from None

    def _current_manifest(self) -> dict | None:
        return self._manifest_at(self.current_version())

    def files(self, version: int | None = None) -> list[str]:
        m = (
            self._current_manifest()
            if version is None
            else self._manifest_at(version)
        )
        if not m:
            return []
        return [os.path.join(self.data_dir, rel) for rel in m["files"]]

    def read(
        self,
        version: int | None = None,
        prune: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """The committed snapshot — exactly the manifest's files, with
        hive partition columns intact via basePath. ``version`` time-
        travels to an earlier snapshot (valid until ``vacuum`` reaps
        it) — Iceberg's snapshot reads, one JSON file away.

        ``prune`` is manifest-level DATA SKIPPING: ``{col: (lo, hi)}``
        drops every data file whose committed [min, max] range for
        ``col`` cannot overlap ``[lo, hi]`` (either bound may be None
        for one-sided predicates) BEFORE Spark ever opens a footer —
        the planning-time skip an Iceberg manifest provides, which at
        100 TB is the difference between listing a handful of files
        and opening a million footers. Files with no recorded stats
        for a column are always kept (unknown never prunes), so
        pruning is purely an IO optimization: the caller must still
        apply the real ``filter`` — the pruned frame contains a
        SUPERSET of the matching rows, never fewer."""
        m = (
            self._current_manifest()
            if version is None
            else self._manifest_at(version)
        )
        rels = list(m["files"]) if m else []
        if m and prune:
            stats = m.get("file_stats", {})
            # floating columns never prune on the LOWER bound: Spark
            # orders NaN above every number (NaN >= lo is TRUE), but
            # parquet footer min/max exclude NaN, so fmax < lo cannot
            # prove the absence of matching NaN rows
            float_cols = set()
            if m.get("schema"):
                for f in json.loads(m["schema"]).get("fields", []):
                    if f.get("type") in ("double", "float"):
                        float_cols.add(f.get("name"))

            def keep(rel: str) -> bool:
                franges = stats.get(rel)
                if not franges:
                    return True
                for c, (lo, hi) in prune.items():
                    if c not in franges:
                        continue
                    fmin, fmax = franges[c]
                    if (
                        lo is not None
                        and c not in float_cols
                        and _stat_lt(fmax, lo)
                    ):
                        return False
                    if hi is not None and _stat_gt(fmin, hi):
                        return False
                return True

            rels = [rel for rel in rels if keep(rel)]
        if not m or not rels:
            schema = (
                T.StructType.fromJson(json.loads(m["schema"]))
                if m and m.get("schema")
                else T.StructType([])
            )
            return self.spark.createDataFrame([], schema)
        return self._read_files(rels, m)

    def read_appended(
        self, since_version: int, version: int | None = None
    ) -> DataFrame:
        """Change-data read for append-only ranges: exactly the rows
        added by commits in ``(since_version, version]`` — the files in
        the target snapshot that the base snapshot does not reference.
        This is what makes INCREMENTAL downstream maintenance possible
        (see :mod:`feature_store_spark.incremental`): a 100 TB table
        that grew by 100 GB since the last refresh is re-read at the
        100 GB, not the 100 TB (Delta CDF / Iceberg incremental-scan
        semantics for the append-only case, one JSON diff away).

        Every commit in the range must be an ``append``: an overwrite,
        MERGE, or compaction rewrites file membership, so "new files"
        no longer means "new rows" — the method raises ``ValueError``
        and the caller must fall back to a full recompute (the same
        contract Iceberg's incremental scan enforces by failing on
        non-append snapshots). Compaction is rejected conservatively
        even though it preserves row content: its rewritten files
        would double-count every compacted row. Raises ``ValueError``
        too if an intermediate manifest was vacuumed away."""
        to_v = self.current_version() if version is None else int(version)
        since = int(since_version)
        target = self._manifest_at(to_v) if to_v > 0 else None
        if to_v <= since or target is None:
            schema = (
                T.StructType.fromJson(json.loads(target["schema"]))
                if target and target.get("schema")
                else T.StructType([])
            )
            return self.spark.createDataFrame([], schema)
        for v in range(since + 1, to_v + 1):
            # _manifest_at raises its own ValueError for a vacuumed
            # version (v >= 1 here), which is the "cannot prove the
            # range is append-only" guard
            m = self._manifest_at(v)
            if m.get("mode") != "append":
                raise ValueError(
                    f"commit v{v} is '{m.get('mode')}', not append — "
                    "incremental read undefined; full recompute required"
                )
        base = self._manifest_at(since) if since > 0 else None
        base_files = set(base["files"]) if base else set()
        new_rels = [r for r in target["files"] if r not in base_files]
        if not new_rels:
            # legacy manifests may lack a schema record — mirror the
            # guarded empty-range branch above rather than KeyError-ing
            # (callers catch ValueError, not KeyError, for fallback)
            schema = (
                T.StructType.fromJson(json.loads(target["schema"]))
                if target.get("schema")
                else T.StructType([])
            )
            return self.spark.createDataFrame([], schema)
        return self._read_files(new_rels, target)

    def _read_files(self, rels: list[str], manifest: dict) -> DataFrame:
        """Scan a file list under the snapshot's RECORDED schema —
        the Delta/Iceberg design: the log, not footer inference, owns
        the schema. This is what makes schema-WIDENING appends (new
        nullable column) read correctly: without it Spark samples one
        footer, and the new column silently vanishes whenever an old
        file is sampled — a wrong-answer bug. Old files simply
        surface NULL for columns they lack. (The alternative,
        ``mergeSchema``, is correct too but reads every footer at
        planning time — at a million files that is the whole planning
        budget; the recorded schema is one JSON field away.)"""
        reader = self.spark.read.option("basePath", self.data_dir)
        if manifest.get("schema"):
            reader = reader.schema(
                T.StructType.fromJson(json.loads(manifest["schema"]))
            )
        else:  # legacy manifest without a schema record
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(
            *(os.path.join(self.data_dir, r) for r in rels)
        )

    # --------------------------------------------------------- writes
    def _stage(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None,
        preserve_layout: bool = False,
    ) -> tuple[list[str], str, dict]:
        """Step 1: stage through the commit kernel, then rename the
        files under data/<commit-uuid>/ preserving partition subdirs.
        Returns (relative paths, schema json, per-file column ranges
        for data-skipping). Unreferenced until commit."""
        commit_id = uuid.uuid4().hex
        staging = os.path.join(self.path, f".staging-{commit_id}")
        staged = commit.stage(
            df,
            staging,
            partition_cols=partition_by or (),
            rebalance=not preserve_layout,
        )
        rels: list[str] = []
        stats: dict[str, dict] = {}
        for f in staged:
            rel = os.path.join(commit_id, os.path.relpath(f.path, staging))
            dst = os.path.join(self.data_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(f.path, dst)
            rels.append(rel)
            stats[rel] = {}
            for c, (lo, hi) in f.col_ranges.items():
                lo, hi = _norm_stat(lo), _norm_stat(hi)
                # no nested-column pruning; unusable stats stay unknown
                if "." not in c and lo is not None and hi is not None:
                    stats[rel][c] = [lo, hi]
        shutil.rmtree(staging, ignore_errors=True)
        if partition_by and rels:
            # read-back schema: partition cols come back typed-by-path
            schema_json = (
                self.spark.read.option("basePath", self.data_dir)
                .parquet(*(os.path.join(self.data_dir, r) for r in rels))
                .schema.json()
            )
        else:
            schema_json = df.schema.json()
        return rels, schema_json, stats

    def _commit(
        self,
        new_rels: list[str],
        schema_json: str,
        mode: str,
        require_base: int | None = None,
        txn: tuple[str, int] | None = None,
        stats: dict | None = None,
    ) -> int:
        """Step 2: commit the next version via atomic put-if-absent.

        ``require_base``: compare-and-swap guard for read-modify-write
        commits (MERGE, compaction): they derived their result FROM a
        specific snapshot, so if anything committed since, publishing
        would silently erase that interleaved write — conflict instead
        and let the caller re-derive (Iceberg's snapshot-id
        validation). Plain appends never pass it: a file-list union
        against whatever base wins the race is always correct.

        ``txn``: Delta-style idempotent-writer token ``(app_id, n)``
        recorded in the manifest; a commit whose n is <= the recorded
        high-water mark for that app_id is a duplicate delivery and is
        skipped by the caller (see ``append``).
        """
        base = self._current_manifest()
        base_version = base["version"] if base else 0
        if require_base is not None and base_version != require_base:
            raise ConcurrentWriteError(
                f"snapshot advanced v{require_base} -> v{base_version} "
                "under a read-modify-write commit — re-derive and retry"
            )
        version = base_version + 1
        files = list(base["files"]) if (base and mode == "append") else []
        files += new_rels
        if base and mode == "append" and base.get("schema"):
            # append-mode schema is the validated UNION of base and
            # batch (Delta's schema evolution): a widening append adds
            # its new nullable columns; a batch MISSING existing
            # columns must not narrow the recorded schema (reads apply
            # the recorded schema, so narrowing would silently erase a
            # column from every older file); a same-name/different-
            # type column is rejected — that is corruption, not
            # evolution.
            schema_json = _merge_schema_json(base["schema"], schema_json)
        txns = dict(base.get("txns", {})) if base else {}
        if txn is not None:
            txns[txn[0]] = max(int(txns.get(txn[0], -1)), int(txn[1]))
        file_stats = (
            dict(base.get("file_stats", {}))
            if (base and mode == "append")
            else {}
        )
        file_stats.update(stats or {})
        payload = {
            "version": version,
            "files": files,
            "schema": schema_json,
            "mode": mode,
            "txns": txns,
            "file_stats": file_stats,
        }
        commit.publish_if_absent(
            self.manifest_dir, f"v{version:06d}.json", json.dumps(payload)
        )
        return version

    def txn_version(self, app_id: str, version: int | None = None) -> int:
        """Highest committed ``txn`` counter for ``app_id`` (-1 if
        none) — the restart-recovery read of an idempotent writer.
        ``version`` pins the read to a specific snapshot so a caller
        that also reads table state at that snapshot sees token and
        state from ONE manifest (no torn read across a racer's
        commit)."""
        m = (
            self._current_manifest()
            if version is None
            else (self._manifest_at(version) if version > 0 else None)
        )
        return int((m or {}).get("txns", {}).get(app_id, -1))

    def append(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None = None,
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Transactional append (S2 with the reference's commit
        boundary). Data files are written ONCE; only the metadata
        commit retries on a version race.

        ``txn=(app_id, n)`` makes the append IDEMPOTENT per writer:
        if a commit with counter >= n is already recorded for app_id
        (a redelivered micro-batch after a sink restart), the append
        is a no-op returning the current version — exactly-once table
        contents over at-least-once delivery, Delta's txn design."""
        if txn is not None and self.txn_version(txn[0]) >= int(txn[1]):
            return self.current_version()
        rels, schema_json, stats = self._stage(df, partition_by)
        for _ in range(max_retries):
            try:
                return self._commit(
                    rels, schema_json, "append", txn=txn, stats=stats
                )
            except ConcurrentWriteError:
                # racer won the version; re-check duplicate delivery
                # (the racer may have been US via a retried channel)
                if txn is not None and self.txn_version(txn[0]) >= int(
                    txn[1]
                ):
                    return self.current_version()
                continue
        raise ConcurrentWriteError(
            f"append lost the version race {max_retries} times"
        )

    def overwrite(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None = None,
        require_base: int | None = None,
        txn: tuple[str, int] | None = None,
        preserve_layout: bool = False,
    ) -> int:
        """Full-snapshot replacement (what a commit MERGE lands as).
        Pass ``require_base`` when the new snapshot was DERIVED from
        version N — the commit then conflicts instead of erasing
        writes that landed after N. ``txn`` records an idempotence
        token atomically with the snapshot (see ``append``).
        ``preserve_layout=True`` writes the frame's own partitioning
        verbatim (no staging rebalance) — for callers that already
        clustered/sized the rewrite, e.g. ``compact``."""
        rels, schema_json, stats = self._stage(
            df, partition_by, preserve_layout=preserve_layout
        )
        return self._commit(
            rels,
            schema_json,
            "overwrite",
            require_base=require_base,
            txn=txn,
            stats=stats,
        )

    def merge_upsert(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        order_col: str,
        tiebreak_cols: Sequence[str] = (),
        partition_by: Sequence[str] | None = None,
        max_retries: int = 3,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Copy-on-write MERGE: last-writer-wins per key across the
        committed snapshot ∪ updates, committed as one overwrite
        snapshot — readers see pre-merge or post-merge state, never a
        half-merged table (EXAMPLE.md:86-90 upsert semantics with
        IcebergOfflineStore.java's commit boundary). The commit
        carries a require_base CAS on the snapshot the merge read:
        an append interleaving between read and commit conflicts the
        merge (which re-derives from the new snapshot) instead of
        being silently erased. ``txn=(app_id, n)`` makes the MERGE
        idempotent per writer — a redelivered micro-batch whose
        counter is already committed is a no-op, so a streaming
        upsert sink gets exactly-once table state."""
        from feature_store_spark.operators.reshape import latest_per_key

        if txn is not None and self.txn_version(txn[0]) >= int(txn[1]):
            return self.current_version()
        for _ in range(max_retries):
            base_version = self.current_version()
            current = self.read()
            # allowMissingColumns: MERGE evolves schema the same way
            # append does (review r10) — a widening batch adds its new
            # nullable columns, a batch missing existing columns
            # null-fills them, instead of AnalysisException-ing a
            # streaming upsert sink into a restart loop
            merged = latest_per_key(
                current.unionByName(updates, allowMissingColumns=True)
                if current.columns
                else updates,
                list(keys),
                order_col,
                list(tiebreak_cols),
            )
            try:
                return self.overwrite(
                    merged,
                    partition_by,
                    require_base=base_version,
                    txn=txn,
                )
            except ConcurrentWriteError:
                # the racer may have been our own redelivered token
                if txn is not None and self.txn_version(txn[0]) >= int(
                    txn[1]
                ):
                    return self.current_version()
                continue
        raise ConcurrentWriteError(
            f"merge_upsert lost the snapshot race {max_retries} times"
        )

    def compact(
        self,
        target_file_mb: int = 128,
        partition_by: Sequence[str] | None = None,
        cluster_by: Sequence[str] | None = None,
        n_files: int | None = None,
    ) -> int:
        """Transactional OPTIMIZE: rewrite the current snapshot into
        ~target-sized files and commit as one overwrite with a
        require_base CAS — a concurrent append conflicts the compact
        (harmless; re-run) rather than being erased by it. Old files
        stay until ``vacuum``. This is the manifest-commit form of
        ``sources.compaction.compact``.

        ``cluster_by`` range-partitions + sorts the rewrite on those
        columns, so each output file covers a DISJOINT value range —
        which is what makes the manifest's [min,max] data skipping
        bite: after scattered appends every file spans the whole
        domain and ``prune`` keeps everything; after a clustered
        compact a point/range read touches ~1 file (Delta's
        OPTIMIZE ZORDER intent, expressed as repartitionByRange; use
        ``functions.zorder2_expr`` as the cluster key for two-column
        locality)."""
        base_version = self.current_version()
        m = self._manifest_at(base_version)
        if not m or not m["files"]:
            return base_version
        total = sum(
            os.path.getsize(os.path.join(self.data_dir, rel))
            for rel in m["files"]
        )
        n_target = (
            int(n_files)
            if n_files
            else int(max(1, -(-total // (target_file_mb * 1024 * 1024))))
        )
        snap = self.read(base_version)
        if cluster_by:
            cols = [F.col(c) for c in cluster_by]
            snap = snap.repartitionByRange(n_target, *cols)
            snap = snap.sortWithinPartitions(*cols)
        else:
            snap = snap.repartition(n_target)
        return self.overwrite(
            snap,
            partition_by=partition_by,
            require_base=base_version,
            # the rewrite above IS the layout (range-clustered files
            # or target-sized round-robin) — the staging rebalance
            # must not undo it
            preserve_layout=True,
        )

    # -------------------------------------------------------- hygiene
    def vacuum(self, retention_seconds: float = 24 * 3600) -> dict:
        """Remove unreferenced data files, stale manifests, and
        crash-leftover staging/temp debris.

        ``retention_seconds`` is the concurrency guard (Delta's vacuum
        retention, same reasoning): a file younger than the window is
        NEVER deleted even if unreferenced, because it may belong to
        an IN-FLIGHT commit — another writer stages files into
        ``data/`` before its manifest publish, and deleting them would
        let that commit publish a manifest pointing at nothing (a
        corrupted table; the exact failure the protocol exists to
        prevent). The default 24 h is safe for any writer that stages
        and commits within a day; pass 0 ONLY when no other writer
        can be active (tests, single-writer maintenance windows).
        The live manifest's files are never touched regardless of age.
        The same guard applies to MANIFESTS: only versions strictly
        older than the snapshot this vacuum captured, and past
        retention, are removed — a version committed concurrently
        (newer than the captured one) is live by definition.
        Also reaps crashed writers' ``.staging-*`` dirs under the
        table root and ``.tmp-*`` manifest serialization leftovers,
        under the same age guard."""
        import time as _time

        cutoff = _time.time() - retention_seconds

        def _old(p: str) -> bool:
            try:
                return os.path.getmtime(p) <= cutoff
            except OSError:
                return False  # raced away already

        m = self._current_manifest()
        live = set(m["files"]) if m else set()
        current_v = int(m["version"]) if m else 0
        removed_files = 0
        for root, _dirs, fnames in os.walk(self.data_dir):
            for fn in fnames:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.data_dir)
                if rel not in live and _old(full):
                    os.unlink(full)
                    removed_files += 1
        removed_manifests = 0
        for fn in os.listdir(self.manifest_dir):
            full = os.path.join(self.manifest_dir, fn)
            mm = _MANIFEST_RE.match(fn)
            if mm:
                # only manifests STRICTLY OLDER than the captured
                # current AND past retention die (review r10): a
                # version committed by a concurrent writer while this
                # vacuum walks (v > current_v) is a LIVE snapshot —
                # unlinking it destroyed a committed append whose
                # data files the next vacuum would then reap as
                # unreferenced; and a younger-than-retention old
                # manifest may still anchor an in-flight time-travel
                # or read_appended window
                if int(mm.group(1)) < current_v and _old(full):
                    os.unlink(full)
                    removed_manifests += 1
            elif fn.startswith(".tmp-") and _old(full):
                os.unlink(full)  # crashed mid-publish serialization
        # crashed writers' staging dirs (die between job-write and
        # the rename loop) live under the table root
        for fn in os.listdir(self.path):
            full = os.path.join(self.path, fn)
            if (
                fn.startswith(".staging-")
                and os.path.isdir(full)
                and _old(full)
            ):
                shutil.rmtree(full, ignore_errors=True)
        # prune emptied commit dirs
        for root, dirs, fnames in os.walk(self.data_dir, topdown=False):
            if root != self.data_dir and not dirs and not fnames:
                os.rmdir(root)
        return {
            "removed_files": removed_files,
            "removed_manifests": removed_manifests,
        }
