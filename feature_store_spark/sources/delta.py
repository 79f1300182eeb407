"""Delta Lake tables: the engine's native transactional format (public
protocol: https://github.com/delta-io/delta/blob/master/PROTOCOL.md).

Every write verb stages files through sources/commit.py and claims the
next ``_delta_log`` version put-if-absent: appends retry at the next
version (they commute), every verb derived from a read version
(replace-all, MERGE, DELETE, OPTIMIZE, RESTORE) conflicts instead. The
same module scans tables a Delta writer produced, next to
sources/iceberg.py.

Physical shape: the Delta log is line-delimited JSON commits
(``_delta_log/%020d.json``) with add/remove file actions, plus
periodic parquet checkpoints (single-file or multi-part; ALL parts of
the chosen version are replayed, and an incomplete part set refuses
loudly). Replaying it is driver-side metadata work (KBs per commit);
per-file ``stats`` (numRecords/minValues/maxValues) and hive-style
``partitionValues`` drive file pruning, and only the surviving
parquet paths reach ``spark.read.parquet`` — where partition columns
are reconstructed via ``basePath`` and Catalyst takes over row-group
pruning. Filters are re-applied to the frame, so pruning is an
optimization, never the correctness boundary.

Modern-reader features supported (round 8):
- DELETION VECTORS (reader version 3 / ``deletionVectors``): the
  public RoaringBitmapArray format (sources/roaring.py) — inline
  (Z85) and on-disk ``.bin`` DVs are decoded at plan time (KB-scale
  metadata) and removed via a broadcast anti-join on
  ``_metadata.row_index``, the same shape as Iceberg positional
  deletes. ``delta_delete_rows`` WRITES a spec-conforming DV commit.
- COLUMN MAPPING (modes ``name`` and ``id``): physical parquet names
  (``col-<uuid>``) are resolved back to logical names from the
  schemaString's ``delta.columnMapping.physicalName`` metadata; in
  ``id`` mode the parquet footers' field ids are checked first (the
  protocol's resolution rule), falling back to physical names.
  Partition values and file stats are keyed by PHYSICAL names in
  mapped tables; pruning translates through the mapping.

Remaining scope gates (loud): v2 checkpoints, type widening, nested
column mapping; parquet data files only.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from functools import reduce
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from feature_store_spark.session import local_rows_df
from feature_store_spark.sources import commit
from feature_store_spark.sources.commit import ConcurrentWriteError
from feature_store_spark.sources.hive_paths import (
    hive_escape,
    parse_partition_segs,
)
from feature_store_spark.sources.iceberg import _Filter
from feature_store_spark.sources.merge import Merge

# Reader features this reader actually implements. The Delta spec
# (PROTOCOL.md, "Table Features") requires a reader to REFUSE any
# readerFeature it does not implement — an unknown feature (e.g.
# variantType) silently misread as its fallback representation is
# wrong data, not graceful degradation. So: allowlist, not blocklist
# (ADVICE r8). Writer-only features never appear in readerFeatures
# and need no entry here.
_SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    # vacuumProtocolCheck is reader-relevant only in that readers must
    # tolerate its presence; no read-path behavior change.
    "vacuumProtocolCheck",
}

# Writer features this writer implements or can honor (PROTOCOL.md,
# "Table Features": a writer must refuse to commit into a table whose
# writerFeatures list a feature it cannot honor — the write-side twin
# of the reader allowlist above; VERDICT r12 wrong #1: a silent
# append into a checkConstraints table is wrong data by the spec's
# own rule). Honoring is conditional for several features and checked
# per-commit by _writer_feature_gate: appendOnly consults the
# delta.appendOnly property (append proceeds, mutating verbs refuse),
# checkConstraints are ENFORCED against the rows being landed, and
# invariants / generatedColumns / identityColumns are honored only
# while the schema declares none (vacuous — a declared one would need
# expression evaluation this writer doesn't do, so it refuses).
# rowTracking is deliberately ABSENT: it obliges writers to assign
# fresh row ids/commit versions to every added row, which nothing
# here materializes — unknown-feature refusal is the correct outcome.
_HANDLED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "generatedColumns",
    "identityColumns",
    "columnMapping",
    "deletionVectors",
    "timestampNtz",
    "vacuumProtocolCheck",
    # domainMetadata obliges writers to PRESERVE domain actions;
    # an append-only log replay preserves them by construction
    "domainMetadata",
}


def _writer_feature_gate(
    t: "DeltaTable",
    meta: dict,
    verb: str,
    *,
    mutates: bool,
    adds_rows: bool = True,
    full_rows: bool = False,
    identity_ok: bool = False,
) -> list[tuple[str, str]]:
    """Write-side protocol gate, called by every verb that commits
    into an EXISTING table before it builds any action. Refuses
    writer features outside _HANDLED_WRITER_FEATURES, refuses
    mutating verbs on append-only tables, and — for identity columns
    always, and for invariant/generated columns on verbs that DON'T
    land complete rows (``full_rows=False``, e.g. MERGE's
    partial-column arms) — refuses landing rows the declarations
    can't be honored for. Full-row verbs (append/upsert) pass
    ``full_rows=True`` and honor generated columns + invariants via
    :func:`_apply_generated_columns` / :func:`_enforce_invariants`.
    Returns the table's CHECK constraints ``[(name, sql), ...]`` for
    the caller to enforce on the rows it lands (see
    :func:`_enforce_check_constraints`)."""
    proto = t._protocol(None)
    feats = set(proto.get("writerFeatures") or [])
    unknown = sorted(feats - _HANDLED_WRITER_FEATURES)
    if unknown:
        raise NotImplementedError(
            f"{t.path}: delta writer features {unknown} are not "
            f"supported — {verb} refuses rather than commit a state "
            "the feature's own writers would consider corrupt (spec "
            "requires refusing unknown writer features; supported: "
            f"{sorted(_HANDLED_WRITER_FEATURES)})"
        )
    conf = meta.get("configuration") or {}
    if (
        mutates
        and str(conf.get("delta.appendOnly", "")).lower() == "true"
    ):
        raise ValueError(
            f"{t.path}: table is append-only (delta.appendOnly=true) "
            f"— {verb} deletes or rewrites existing rows; only "
            "appends are allowed here"
        )
    if adds_rows:
        bad: list[str] = []
        for f in json.loads(meta["schemaString"])["fields"]:
            md = f.get("metadata") or {}
            if "delta.invariants" in md and not full_rows:
                bad.append(f"invariant on column {f['name']!r}")
            if "delta.generationExpression" in md and not full_rows:
                bad.append(f"generated column {f['name']!r}")
            if (
                any(k.startswith("delta.identity.") for k in md)
                and not identity_ok
            ):
                bad.append(f"identity column {f['name']!r}")
        if bad:
            raise NotImplementedError(
                f"{t.path}: {verb} cannot honor {bad} — generation/"
                "invariant expressions are evaluated only on "
                "FULL-ROW landing verbs (append/upsert; a partial-"
                "column MERGE arm could silently break them), and "
                "identity allocation happens only on delta_append "
                "(an upsert/merge re-landing an existing key would "
                "ambiguously reallocate its id). Landing unchecked "
                "rows would be wrong data by the table's own "
                "declaration"
            )
    return sorted(
        (k[len("delta.constraints."):], v)
        for k, v in conf.items()
        if k.startswith("delta.constraints.")
    )


def _deferred_rule_checks(
    gen_checks: list[tuple[str, str, object]],
    invs: list[tuple[str, str]],
    constraints: list[tuple[str, str]],
    table_dir: str,
    verb: str,
):
    """ONE fused violation-count aggregate for every declared
    write-path rule — generated-column verification, column
    invariants, CHECK constraints — plus a validator raising in the
    same precedence order the eager passes used (generated →
    invariants → CHECK), with the same messages.

    Built to be OBSERVED on the staging write itself (r14, guide
    §1.2/§5): each rule family previously ran its own aggregation
    job over the batch lineage before the write, so a
    generated+invariant+CHECK table paid up to three extra full
    scans of the un-materialized batch per append. As observed
    metrics the counts ride the write job — zero extra passes at any
    scale; a violating batch is detected right after the staging
    write and refused before any file enters the table layout or the
    log sees a commit (the staging dir is removed, so refused
    commits still leave no state).

    Returns ``(exprs, validate)``; ``validate`` accepts any mapping
    (an ``Observation.get`` dict or a Row) keyed by the expr aliases.
    """
    exprs = []
    for i, (name, sql, ty) in enumerate(gen_checks):
        ty_s = ty if isinstance(ty, str) else json.dumps(ty)
        exprs.append(
            F.sum(
                (
                    ~F.col(name).eqNullSafe(F.expr(sql).cast(ty_s))
                ).cast("long")
            ).alias(f"__g{i}")
        )
    for i, (_col, sql) in enumerate(invs):
        # NULL violates (the invariants spec requires TRUE per row)
        exprs.append(
            F.sum(
                (
                    ~F.coalesce(F.expr(sql).cast("boolean"), F.lit(False))
                ).cast("long")
            ).alias(f"__i{i}")
        )
    for i, (_name, sql) in enumerate(constraints):
        # NULL passes (SQL CHECK semantics: only FALSE fails)
        exprs.append(
            F.sum(
                (
                    ~F.coalesce(F.expr(sql).cast("boolean"), F.lit(True))
                ).cast("long")
            ).alias(f"__c{i}")
        )

    def validate(m) -> None:
        bad = {
            name: int(m[f"__g{i}"] or 0)
            for i, (name, _sql, _ty) in enumerate(gen_checks)
            if int(m[f"__g{i}"] or 0)
        }
        if bad:
            raise ValueError(
                f"{table_dir}: {verb} provided generated-column "
                f"values that do not satisfy their generation "
                f"expressions {bad} (mismatching-row count per "
                "column) — the generatedColumns writer feature "
                "requires consistency, so the commit is refused"
            )
        viol = {
            col: int(m[f"__i{i}"] or 0)
            for i, (col, _sql) in enumerate(invs)
            if int(m[f"__i{i}"] or 0)
        }
        if viol:
            raise ValueError(
                f"{table_dir}: {verb} violates column invariant(s) "
                f"{viol} (violating-row count per column) — the "
                "invariants writer feature requires enforcement, so "
                "the commit is refused"
            )
        violc = {
            name: int(m[f"__c{i}"] or 0)
            for i, (name, _sql) in enumerate(constraints)
            if int(m[f"__c{i}"] or 0)
        }
        if violc:
            raise ValueError(
                f"{table_dir}: {verb} violates CHECK constraint(s) "
                f"{violc} (violating-row count per constraint) — the "
                "table's checkConstraints writer feature requires "
                "enforcement, so the commit is refused"
            )

    return exprs, validate


def _enforce_check_constraints(
    df: DataFrame,
    constraints: list[tuple[str, str]],
    table_dir: str,
    verb: str,
) -> None:
    """CHECK-constraint enforcement (writer feature
    checkConstraints): ONE aggregate over the rows being landed
    counts violations of every constraint at once — zero extra jobs
    on tables that declare none. NULL results don't violate (SQL
    CHECK semantics: only FALSE fails). Eager form of
    :func:`_deferred_rule_checks` (the write verbs observe the same
    expressions on their staging write instead)."""
    if not constraints:
        return
    exprs, validate = _deferred_rule_checks(
        [], [], constraints, table_dir, verb
    )
    validate(df.agg(*exprs).first())


def _generation_rules(
    meta: dict, table_dir: str
) -> tuple[list[tuple[str, str, object]], list[tuple[str, str]]]:
    """Collect the schema's generated-column and invariant rules:
    ``(generated, invariants)`` where generated is
    ``[(column, sql_expression, delta_type), ...]`` (from
    ``delta.generationExpression`` column metadata) and invariants is
    ``[(column, sql_expression), ...]`` (from ``delta.invariants``,
    whose value is the spec's ``{"expression": {"expression": sql}}``
    JSON). An invariant payload this writer can't parse refuses —
    landing rows unchecked against a declared-but-unreadable rule
    would be wrong data by the table's own declaration."""
    gens: list[tuple[str, str, object]] = []
    invs: list[tuple[str, str]] = []
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        if "delta.generationExpression" in md:
            gens.append(
                (f["name"], md["delta.generationExpression"], f["type"])
            )
        if "delta.invariants" in md:
            try:
                expr = json.loads(md["delta.invariants"])[
                    "expression"
                ]["expression"]
            except (ValueError, KeyError, TypeError):
                raise NotImplementedError(
                    f"{table_dir}: column {f['name']!r} declares "
                    f"delta.invariants={md['delta.invariants']!r}, "
                    "not the spec's "
                    '{"expression": {"expression": sql}} shape — '
                    "refusing rather than landing unchecked rows"
                )
            invs.append((f["name"], expr))
    return gens, invs


def _compute_generated_columns(
    df: DataFrame,
    gens: list[tuple[str, str, object]],
) -> tuple[DataFrame, list[tuple[str, str, object]]]:
    """Honor generated columns (writer feature generatedColumns) on
    a full-row landing verb: a generated column ABSENT from the
    incoming frame is computed from its generation expression
    (Catalyst ``F.expr``, cast to the declared type) — pure
    projection, no job; a PRESENT one must be VERIFIED (the spec
    obliges writers to ensure provided values satisfy the
    expression) — those are returned as check tuples for
    :func:`_deferred_rule_checks`, so the verification aggregate
    rides the staging write instead of its own pass. Nested types
    compare with eqNullSafe like everything else."""
    checks = [g for g in gens if g[0] in df.columns]
    for name, sql, ty in gens:
        if name not in df.columns:
            ty_s = ty if isinstance(ty, str) else json.dumps(ty)
            df = df.withColumn(name, F.expr(sql).cast(ty_s))
    return df, checks


def _apply_generated_columns(
    df: DataFrame,
    gens: list[tuple[str, str, object]],
    table_dir: str,
    verb: str,
) -> DataFrame:
    """Eager compute-and-verify form of
    :func:`_compute_generated_columns` (the write verbs defer the
    verification aggregate onto their staging write instead)."""
    if not gens:
        return df
    df, checks = _compute_generated_columns(df, gens)
    if checks:
        exprs, validate = _deferred_rule_checks(
            checks, [], [], table_dir, verb
        )
        validate(df.agg(*exprs).first())
    return df


def _identity_rules(meta: dict) -> list[dict]:
    """Collect identity-column declarations (writer feature
    identityColumns): ``delta.identity.start`` / ``.step`` /
    ``.allowExplicitInsert`` / ``.highWaterMark`` column metadata.
    A zero step is corrupt table state — refused."""
    out = []
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        if not any(k.startswith("delta.identity.") for k in md):
            continue
        step = int(md.get("delta.identity.step", 1))
        if step == 0:
            raise ValueError(
                f"identity column {f['name']!r} declares step=0 — "
                "no value can ever be allocated"
            )
        out.append(
            {
                "name": f["name"],
                "type": f["type"],
                "start": int(md.get("delta.identity.start", 1)),
                "step": step,
                "explicit": (
                    lambda raw: raw
                    if isinstance(raw, bool)
                    else str(raw).lower() == "true"
                )(md.get("delta.identity.allowExplicitInsert", False)),
                "hwm": (
                    int(md["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in md
                    else None
                ),
            }
        )
    return out


def _further(a: int | None, b: int | None, step: int) -> int | None:
    """The value further along the identity sequence (max for
    positive step, min for negative)."""
    if a is None:
        return b
    if b is None:
        return a
    return max(a, b) if step > 0 else min(a, b)


def _apply_identity_columns(
    df: DataFrame,
    idents: list[dict],
    table_dir: str,
    verb: str,
) -> tuple[DataFrame, dict]:
    """Honor identity columns on an append: a column ABSENT from the
    frame is ALLOCATED — fresh values past the high-water mark, step
    arithmetic respected — and a PRESENT one is admitted only when
    the declaration allows explicit inserts (the spec's
    allowExplicitInsert), advancing the mark past the landed values.

    Allocation is the scalable two-pass shape: one per-partition
    count aggregate (metadata-sized result), driver prefix-sums the
    offsets, then values assign as
    ``base + (offset[pid] + rank_in_partition) * step`` via a
    row_number window keyed by the partition id — no global sort, no
    single-partition bottleneck, parallelism preserved at any scale.
    Values are unique and sequence-aligned; contiguity across
    batches is NOT promised (matching the spec, which only requires
    uniqueness and direction). Returns the augmented frame and
    ``{name: new_high_water_mark}`` for the columns whose mark must
    advance in this commit's metaData."""
    from pyspark.sql import Window

    new_hwm: dict[str, int] = {}
    for ident in idents:
        name, step = ident["name"], ident["step"]
        base_next = (
            ident["start"]
            if ident["hwm"] is None
            else ident["hwm"] + step
        )
        if name in df.columns:
            if not ident["explicit"]:
                raise ValueError(
                    f"{table_dir}: {verb} provides values for "
                    f"identity column {name!r}, but the declaration "
                    "has allowExplicitInsert=false — the commit is "
                    "refused"
                )
            ext = df.agg(
                F.max(name) if step > 0 else F.min(name)
            ).first()[0]
            adv = _further(ident["hwm"], int(ext), step) if (
                ext is not None
            ) else ident["hwm"]
            if adv is not None and adv != ident["hwm"]:
                new_hwm[name] = adv
            continue
        counts = (
            df.withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid")
            .count()
            .collect()
        )
        n = sum(r["count"] for r in counts)
        if n == 0:
            continue
        offs, acc = {}, 0
        for r in sorted(counts, key=lambda r: r["__pid"]):
            offs[int(r["__pid"])] = acc
            acc += int(r["count"])
        off_df = local_rows_df(
            df.sparkSession,
            [(p, o) for p, o in offs.items()],
            "__pid int, __off long",
        )
        w = Window.partitionBy("__pid").orderBy(
            F.monotonically_increasing_id()
        )
        df = (
            df.withColumn("__pid", F.spark_partition_id())
            .withColumn("__rn", F.row_number().over(w) - 1)
            .join(F.broadcast(off_df), "__pid")
            .withColumn(
                name,
                (
                    F.lit(base_next)
                    + (F.col("__off") + F.col("__rn")) * F.lit(step)
                ).cast(
                    ident["type"]
                    if isinstance(ident["type"], str)
                    else "long"
                ),
            )
            .drop("__pid", "__rn", "__off")
        )
        new_hwm[name] = base_next + (n - 1) * step
    return df, new_hwm


def _identity_metadata_action(meta: dict, new_hwm: dict) -> dict:
    """The metaData action advancing identity high-water marks —
    rides in the SAME commit as the adds that consumed the values
    (the protocol's rule: writers must keep the mark ahead of every
    committed value)."""
    sj = json.loads(meta["schemaString"])
    for f in sj["fields"]:
        if f["name"] in new_hwm:
            f["metadata"] = {
                **(f.get("metadata") or {}),
                "delta.identity.highWaterMark": int(
                    new_hwm[f["name"]]
                ),
            }
    out = {
        k: v
        for k, v in meta.items()
        if k
        in (
            "id",
            "format",
            "schemaString",
            "partitionColumns",
            "configuration",
        )
    }
    out["schemaString"] = json.dumps(sj)
    return {"metaData": out}


def _enforce_invariants(
    df: DataFrame,
    invs: list[tuple[str, str]],
    table_dir: str,
    verb: str,
) -> None:
    """Column-invariant enforcement (legacy writer feature
    invariants): one aggregate counts rows where each declared
    expression is not TRUE. Unlike SQL CHECK, a NULL result violates
    — the spec requires the expression to BE true for every row, so
    indeterminate is not a pass. Eager form of
    :func:`_deferred_rule_checks` (the write verbs observe the same
    expressions on their staging write instead)."""
    if not invs:
        return
    exprs, validate = _deferred_rule_checks(
        [], invs, [], table_dir, verb
    )
    validate(df.agg(*exprs).first())


class DeltaTable:
    """Read-only view over a Delta Lake table directory.

    ``scan(filters=[("col", "=", lit), ...])`` returns a DataFrame
    over the pruned file set (ops ``=, !=, <, <=, >, >=, in``);
    ``scan(version=...)`` time-travels by replaying the log up to that
    commit."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path[7:] if path.startswith("file://") else path
        self.log_dir = os.path.join(self.path, "_delta_log")
        if not os.path.isdir(self.log_dir):
            raise FileNotFoundError(f"{self.path}: no _delta_log")
        self._state_cache: dict[int, tuple] = {}
        self._protocol_cache: dict[int, dict] = {}
        self._tombstone_cache: dict[int, list[dict]] = {}
        self._sig_cache: dict[str, tuple] = {}
        self._dv_cache: dict[tuple, Any] = {}

    def _footer_sigs(self, paths: list[str]) -> dict[str, tuple]:
        """Footer (column name, field id) signatures per data file —
        thread-pooled KB reads, cached per table object (committed
        data files are immutable). Shared by the fast-path
        homogeneity check and the grouped evolution-aware reads."""
        from concurrent.futures import ThreadPoolExecutor

        from feature_store_spark.sources.iceberg import parquet_field_ids

        todo = [p for p in paths if p not in self._sig_cache]
        if todo:
            with ThreadPoolExecutor(max_workers=16) as pool:
                for p, sig in zip(todo, pool.map(parquet_field_ids, todo)):
                    self._sig_cache[p] = sig
        return {p: self._sig_cache[p] for p in paths}

    # -- log replay

    def latest_version(self) -> int:
        """Max of the last JSON commit and the newest complete
        checkpoint — a compacted log may have a checkpoint NEWER than
        any surviving JSON commit."""
        vs = self._commit_versions()
        ck = self._checkpoint_at_or_before(1 << 62)
        cands = ([vs[-1]] if vs else []) + ([ck[0]] if ck else [])
        if not cands:
            raise ValueError(f"{self.path}: empty delta log")
        return max(cands)

    def _commit_versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json") and name[:-5].isdigit():
                out.append(int(name[:-5]))
        return sorted(out)

    def _checkpoint_at_or_before(self, version: int):
        """(checkpoint_version, [ALL checkpoint parquet parts]) or
        None. Handles both the classic single-file layout
        (``%020d.checkpoint.parquet``) and the multi-part layout
        (``%020d.checkpoint.%010d.%010d.parquet`` = version, part,
        total parts). A version whose part set is incomplete — a
        concurrent checkpoint writer mid-upload, or torn cleanup — is
        SKIPPED in favor of the next older complete checkpoint (or a
        pure JSON replay): a partial state must never be replayed, and
        an earlier complete state + the JSON suffix is still exact."""
        single: dict[int, str] = {}
        parts: dict[int, dict[int, str]] = {}
        totals: dict[int, int] = {}
        for name in os.listdir(self.log_dir):
            m = re.fullmatch(r"(\d{20})\.checkpoint\.parquet", name)
            if m:
                single[int(m.group(1))] = os.path.join(self.log_dir, name)
                continue
            m = re.fullmatch(
                r"(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet", name
            )
            if m:
                v = int(m.group(1))
                parts.setdefault(v, {})[int(m.group(2))] = os.path.join(
                    self.log_dir, name
                )
                totals[v] = int(m.group(3))
        candidates = sorted(
            (v for v in set(single) | set(parts) if v <= version),
            reverse=True,
        )
        for v in candidates:
            if v in single:
                return v, [single[v]]
            want = totals[v]
            have = parts[v]
            if len(have) == want and set(have) == set(
                range(1, want + 1)
            ):
                return v, [have[i] for i in range(1, want + 1)]
            # incomplete: try the next older checkpoint
        return None

    def _state(
        self, version: int | None
    ) -> tuple[dict, list[dict], dict[str, int]]:
        """Replay to (metaData, live add actions, txn high-water marks
        by appId) at ``version``."""
        versions = self._commit_versions()
        if version is None:
            # latest = max(JSON, checkpoint) — a compacted log can
            # have a checkpoint NEWER than any surviving JSON commit,
            # and 'latest' resolved from JSON alone would be stale
            version = self.latest_version()
        if version in self._state_cache:
            # one DeltaTable = one pinned view of the log; scan() and
            # data_files() share a single replay per version
            return self._state_cache[version]
        if version not in versions and not self._checkpoint_at_or_before(
            version
        ):
            raise ValueError(f"unknown delta version {version}")

        adds: dict[str, dict] = {}
        # un-expired remove TOMBSTONES (spec: checkpoints must carry
        # them so readers/VACUUM tooling replaying from the checkpoint
        # keep tombstone visibility); a later re-add clears the
        # tombstone. Kept in a parallel cache — state consumers see
        # the same (meta, adds, txns) tuple as before.
        removes: dict[str, dict] = {}
        meta: dict = {}
        protocol: dict = {}
        txns: dict[str, int] = {}
        start = 0
        ckpt = self._checkpoint_at_or_before(version)
        if ckpt is not None:
            cv, paths = ckpt
            import pyarrow.parquet as pq

            for p in paths:
                tbl = pq.read_table(p)
                for row in tbl.to_pylist():
                    if row.get("metaData") and row["metaData"].get("id"):
                        meta = dict(row["metaData"])
                        meta["configuration"] = _as_dict(
                            meta.get("configuration")
                        )
                    if row.get("protocol") and row["protocol"].get(
                        "minReaderVersion"
                    ) is not None:
                        protocol = row["protocol"]
                    add = row.get("add")
                    if add and add.get("path"):
                        add = dict(add)
                        # parquet checkpoints store partitionValues as
                        # a MAP; pyarrow hands map cells back as
                        # [(k, v), ...] — normalize to the dict the
                        # JSON-commit path produces
                        add["partitionValues"] = _as_dict(
                            add.get("partitionValues")
                        )
                        adds[add["path"]] = add
                        removes.pop(add["path"], None)
                    rem = row.get("remove")
                    if rem and rem.get("path"):
                        adds.pop(rem["path"], None)
                        rem = dict(rem)
                        rem["partitionValues"] = _as_dict(
                            rem.get("partitionValues")
                        )
                        removes[rem["path"]] = rem
                    txn = row.get("txn")
                    if txn and txn.get("appId") is not None:
                        txns[txn["appId"]] = max(
                            txns.get(txn["appId"], -1),
                            int(txn["version"]),
                        )
            start = cv + 1
        for v in versions:
            if v < start or v > version:
                continue
            with open(os.path.join(self.log_dir, f"{v:020d}.json")) as f:
                for line in f:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "metaData" in action:
                        meta = action["metaData"]
                    elif "protocol" in action:
                        protocol = action["protocol"]
                    elif "add" in action:
                        adds[action["add"]["path"]] = action["add"]
                        removes.pop(action["add"]["path"], None)
                    elif "remove" in action:
                        adds.pop(action["remove"]["path"], None)
                        removes[action["remove"]["path"]] = action[
                            "remove"
                        ]
                    elif "txn" in action:
                        t = action["txn"]
                        txns[t["appId"]] = max(
                            txns.get(t["appId"], -1), int(t["version"])
                        )
        self._check_protocol(protocol)
        if not meta:
            raise ValueError(f"{self.path}: delta log has no metaData")
        out = (meta, list(adds.values()), txns)
        self._state_cache[version] = out
        self._protocol_cache[version] = protocol
        self._tombstone_cache[version] = list(removes.values())
        return out

    def tombstones(self, version: int | None = None) -> list[dict]:
        """Remove actions still live (not re-added) at ``version`` —
        what a spec-shaped checkpoint must carry so external readers
        and VACUUM tooling keep tombstone visibility."""
        if version is None:
            version = self.latest_version()
        self._state(version)
        return self._tombstone_cache.get(version, [])

    def _protocol(self, version: int | None = None) -> dict:
        """The protocol action in force at ``version`` (replayed with
        the same state machinery)."""
        if version is None:
            version = self.latest_version()
        self._state(version)
        return self._protocol_cache.get(version, {})

    def _check_protocol(self, protocol: dict) -> None:
        feats = set(protocol.get("readerFeatures") or [])
        bad = feats - _SUPPORTED_READER_FEATURES
        if bad:
            raise NotImplementedError(
                f"{self.path}: delta reader features {sorted(bad)} are not "
                "supported (spec requires refusing unknown reader "
                "features; supported: "
                f"{sorted(_SUPPORTED_READER_FEATURES)})"
            )
        if protocol.get("minReaderVersion", 1) > 3:
            raise NotImplementedError(
                f"{self.path}: minReaderVersion "
                f"{protocol['minReaderVersion']} > 3"
            )

    # -- column mapping

    def _mapping(self, meta: dict) -> tuple[str, list[dict]]:
        """(mode, top-level fields) where each field carries the
        logical ``name``, the parquet ``physical`` name, the mapping
        ``id`` (or None), and the delta ``type``. Signaled by
        minReaderVersion>=2 + ``delta.columnMapping.mode`` in the
        table configuration (the v2 signal ADVICE r7 flagged — the
        feature list alone is a v3 concept)."""
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if mode not in ("none", "name", "id"):
            raise NotImplementedError(
                f"{self.path}: delta.columnMapping.mode={mode!r} is not "
                "supported (none/name/id only)"
            )
        schema = json.loads(meta["schemaString"])
        fields = []
        for f in schema["fields"]:
            md = f.get("metadata") or {}
            phys = md.get("delta.columnMapping.physicalName", f["name"])
            fid = md.get("delta.columnMapping.id")
            if mode != "none" and not isinstance(f["type"], str):
                raise NotImplementedError(
                    f"{self.path}: column mapping over nested column "
                    f"{f['name']!r} is not supported (flat schemas only)"
                )
            fields.append(
                {
                    "name": f["name"],
                    "physical": phys if mode != "none" else f["name"],
                    "id": int(fid) if fid is not None else None,
                    "type": f["type"],
                }
            )
        return mode, fields

    # -- deletion vectors

    def _dv_positions(self, add: dict | None):
        """The row ordinals ``add``'s deletion vector kills, as a
        SORTED int64 numpy array (empty without one), decoded once per
        descriptor per table object (PROTOCOL.md 'Deletion Vector
        Descriptor Schema': inline Z85, relative-with-UUID, or
        absolute-path storage). Numpy end to end — a 10⁵–10⁶-position
        DV decodes in milliseconds where the per-value Python loop took
        seconds."""
        from feature_store_spark.sources.roaring import (
            deserialize_rbm_array_np,
            dv_file_path,
            read_dv_from_file,
            z85_decode,
        )

        key = _dv_key(add)
        if key is None:
            return np.empty(0, dtype=np.int64)
        if key not in self._dv_cache:
            d = add["deletionVector"]
            st = d["storageType"]
            if st == "i":
                pos = deserialize_rbm_array_np(
                    z85_decode(d["pathOrInlineDv"])
                )
            elif st in ("u", "p"):
                pos = read_dv_from_file(
                    dv_file_path(self.path, d),
                    int(d["offset"]),
                    int(d["sizeInBytes"]),
                    as_numpy=True,
                )
            else:
                raise NotImplementedError(
                    f"{self.path}: deletionVector storageType {st!r}"
                )
            self._dv_cache[key] = pos
        return self._dv_cache[key]

    def _filter_positions(
        self, df: DataFrame, positions: dict, how: str
    ) -> DataFrame:
        """Keep (``left_semi``) or drop (``left_anti``) the rows of the
        ``__fp``/``__pos``-tagged ``df`` whose row ordinal is among
        ``positions[absolute data-file path]`` — the one (file,
        ordinal) join every deletion-vector read uses, the Iceberg
        positional-delete shape. The pairs are built at plan time,
        numpy/pandas end to end: no per-position Python objects even
        at 10⁶ deletes."""
        import pandas as pd

        parts = [
            pd.DataFrame(
                {
                    "__dv_fp": np.full(len(pos), fp, dtype=object),
                    "__dv_pos": np.asarray(pos, dtype=np.int64),
                }
            )
            for fp, pos in positions.items()
            if len(pos)
        ]
        if not parts:
            return df if how == "left_anti" else df.limit(0)
        pdf = pd.concat(parts, ignore_index=True)
        sel = self.spark.createDataFrame(pdf)
        if len(pdf) <= 4_000_000:
            sel = F.broadcast(sel)
        return df.join(
            sel,
            (df["__fp"] == sel["__dv_fp"]) & (df["__pos"] == sel["__dv_pos"]),
            how,
        )

    # -- planning

    def schema(self, version: int | None = None) -> dict:
        meta, _, _ = self._state(version)
        return json.loads(meta["schemaString"])

    def txn_version(self, app_id: str, version: int | None = None) -> int:
        """Highest committed streaming-txn counter for ``app_id`` (-1
        if none) — the Delta protocol's ``txn`` action, the
        restart-recovery read of an idempotent writer. ``version`` pins
        the read to one snapshot, so a caller that also reads table
        state there sees token and state from the same commit."""
        _, _, txns = self._state(version)
        return txns.get(app_id, -1)

    def _commit_summary(self, version: int) -> dict:
        """ONE parse of a commit file: {timestamp_ms, operation,
        n_adds, n_removes}. The FIRST commitInfo line wins (the rule
        both time travel and DESCRIBE HISTORY share — one parser, so
        they can never disagree); mtime is the spec's fallback."""
        p = os.path.join(self.log_dir, f"{version:020d}.json")
        ts = None
        op = None
        n_adds = n_removes = 0
        with open(p) as f:
            for line in f:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    if op is None:
                        op = a["commitInfo"].get("operation")
                    if ts is None and a["commitInfo"].get(
                        "timestamp"
                    ) is not None:
                        ts = int(a["commitInfo"]["timestamp"])
                elif "add" in a:
                    n_adds += 1
                elif "remove" in a:
                    n_removes += 1
        if ts is None:
            ts = int(os.path.getmtime(p) * 1000)
        return {
            "timestamp_ms": ts,
            "operation": op,
            "n_adds": n_adds,
            "n_removes": n_removes,
        }

    def _version_timestamps(self) -> list[tuple[int, int]]:
        """(version, epoch-ms) per JSON commit — the commitInfo
        timestamp when present, else the commit file's mtime (the
        Delta spec's own time-travel resolution rule)."""
        return [
            (v, self._commit_summary(v)["timestamp_ms"])
            for v in self._commit_versions()
        ]

    def version_as_of(self, as_of_ms: int) -> int:
        """Time travel by wall clock: the latest version committed at
        or before ``as_of_ms``."""
        eligible = [
            (ts, v)
            for v, ts in self._version_timestamps()
            if ts <= as_of_ms
        ]
        if not eligible:
            raise ValueError(
                f"{self.path}: no commit at or before {as_of_ms}"
            )
        return max(eligible)[1]

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one dict per JSON commit — version,
        commit timestamp (commitInfo, else file mtime), operation, and
        per-commit action counts. ONE parse per commit file, shared
        with the time-travel timestamp resolution."""
        return [
            {"version": v, **self._commit_summary(v)}
            for v in self._commit_versions()
        ]

    def data_files(
        self,
        version: int | None = None,
        filters: list[tuple] | None = None,
    ) -> list[dict]:
        meta, adds, _ = self._state(version)
        _, fields = self._mapping(meta)
        # stats and partitionValues are keyed by PHYSICAL names in
        # column-mapped tables: translate the logical filter columns
        log2phys = {f["name"]: f["physical"] for f in fields}
        fs = [
            _Filter(log2phys.get(c, c), op, v)
            for c, op, v in (filters or [])
        ]
        types = {
            f["physical"]: f["type"]
            for f in fields
            if isinstance(f["type"], str)
        }
        part_cols = [
            log2phys.get(c, c) for c in (meta.get("partitionColumns") or [])
        ]
        return [
            add
            for add in adds
            if self._add_might_match(add, fs, types, part_cols)
        ]

    def _add_might_match(self, add, fs, types, part_cols) -> bool:
        # INVARIANT: stats min/max are EXACT (untruncated) — the
        # commit kernel's footer ranges (sources/commit.py), encoded
        # by _stage_adds. delta_upsert/delta_merge use this
        # pruning for their match probes, where a file hidden by a
        # TRUNCATED max (Delta proper truncates long strings and
        # marks maxValues as a prefix bound) would make the merge
        # INSERT a duplicate instead of updating. If stat truncation
        # is ever added, prefix-bound maxima must widen the interval
        # here, not narrow it (ADVICE r12; property-tested with long
        # unicode keys in test_properties.py).
        if not fs:
            return True
        pvals = add.get("partitionValues") or {}
        stats = {}
        if add.get("stats"):
            try:
                stats = json.loads(add["stats"])
            except (TypeError, ValueError):
                stats = {}
        mins = stats.get("minValues") or {}
        maxs = stats.get("maxValues") or {}
        for f in fs:
            t = types.get(f.col)
            if f.col in pvals:
                v = _parse_partition_value(pvals[f.col], t)
                if v is not None and not f.might_match(v, v):
                    return False
            lo = _coerce_stat(mins.get(f.col), t)
            hi = _coerce_stat(maxs.get(f.col), t)
            if (lo is not None or hi is not None) and not f.might_match(
                lo, hi
            ):
                return False
        return True

    def scan(
        self,
        version: int | None = None,
        filters: list[tuple] | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """The table at ``version`` (default latest), optionally pruned
        by ``filters``. An unmapped table's files read under the log's
        recorded schema (``metaData.schemaString``) here and in every
        write verb's probe, so no read of them costs a Spark
        footer-inference job."""
        if as_of_ms is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_ms, not both")
            version = self.version_as_of(as_of_ms)
        meta, _, _ = self._state(version)
        adds = self.data_files(version, filters)
        if not adds:
            all_adds = self.data_files(version, None)
            if not all_adds:
                # typed empty frame from the table schema (a CREATE
                # TABLE commit has protocol+metaData and no files)
                return self.spark.createDataFrame([], _log_schema(meta))
            return self._assemble([all_adds[0]], meta, tagged=False).limit(0)
        df = self._assemble_live(adds, meta, tagged=False)
        for f in filters or []:
            df = df.filter(_Filter(*f).sql())
        return df

    def read_appended(self, since: int, to: int | None = None) -> DataFrame:
        """The rows added by the commits in ``(since, to]`` (``to``
        defaults to the latest version; ``since=-1`` starts at the
        table's first commit), read under the schema at ``to`` — the
        change read incremental maintenance folds, O(append) instead
        of O(table).

        Raises ``ValueError`` when a commit in the range removes a file
        (overwrite, MERGE, DELETE, OPTIMIZE: its adds no longer mean
        new rows) or when a commit's JSON is gone; the caller falls
        back to a full recompute."""
        to = self.latest_version() if to is None else int(to)
        adds: list[dict] = []
        for v in range(int(since) + 1, to + 1):
            try:
                with open(os.path.join(self.log_dir, f"{v:020d}.json")) as f:
                    actions = [json.loads(ln) for ln in f if ln.strip()]
            except FileNotFoundError:
                raise ValueError(
                    f"{self.path}: commit {v} is gone; the range "
                    "cannot be proven append-only"
                ) from None
            if any("remove" in a for a in actions):
                raise ValueError(
                    f"{self.path}: commit {v} removes files, not an "
                    "append; incremental read undefined"
                )
            adds.extend(a["add"] for a in actions if "add" in a)
        meta, _, _ = self._state(to)
        if not adds:
            return self.spark.createDataFrame([], _log_schema(meta))
        return self._assemble_live(adds, meta, tagged=False)

    def _assemble_live(
        self,
        adds: list[dict],
        meta: dict,
        tagged: bool = True,
    ) -> DataFrame:
        """``_assemble`` minus the rows the adds' deletion vectors
        already killed, keeping the ``__fp``/``__pos`` tags — the
        LIVE row set a MERGE probe must match against (a DV-dead row
        is not a row; firing a merge arm on one would resurrect it).
        ``tagged=False`` drops the tags; without deletion vectors the
        scan then never reads the row-index metadata column."""
        dv_adds = [a for a in adds if a.get("deletionVector")]
        df = self._assemble(adds, meta, tagged or bool(dv_adds))
        if dv_adds:
            df = self._filter_positions(
                df,
                {self._abs(a): self._dv_positions(a) for a in dv_adds},
                "left_anti",
            )
        return df if tagged else df.drop("__fp", "__pos")

    def _abs(self, add: dict) -> str:
        """The absolute path of ``add``'s data file, as ``__fp``
        carries it."""
        return os.path.abspath(os.path.join(self.path, add["path"]))

    def _assemble(
        self,
        adds: list[dict],
        meta: dict,
        tagged: bool = True,
    ) -> DataFrame:
        """Read the add set to a frame with LOGICAL column names plus,
        when ``tagged``, ``__fp`` (absolute data-file path) / ``__pos``
        (row ordinal) tags for deletion-vector matching.

        Unmapped hive-layout tables keep the single-scan ``basePath``
        fast path (partition dirs reconstruct the columns). Mapped or
        non-hive tables group files by partition tuple (and, in id
        mode, by footer field-id signature), inject typed partition
        literals from ``partitionValues``, resolve physical column
        names back to logical, and union — group count is bounded by
        the pruned set's partition count, not its file count."""
        mode, fields = self._mapping(meta)
        logical_parts = meta.get("partitionColumns") or []
        log2phys = {f["name"]: f["physical"] for f in fields}
        types = {f["name"]: f["type"] for f in fields}
        phys_parts = [log2phys.get(c, c) for c in logical_parts]

        def tag(frame):
            return _tag(frame) if tagged else frame

        paths = [os.path.join(self.path, a["path"]) for a in adds]
        if mode == "none":
            # an unmapped table's files read under the log schema: a
            # file written before a column was added reads NULL for it,
            # and no read pays Spark's footer-inference job
            reader = self.spark.read.schema(_log_schema(meta))
            if not logical_parts:
                return tag(reader.parquet(*paths))
            if all(
                all(f"{c}=" in a["path"] for c in phys_parts)
                for a in adds
            ):
                return tag(
                    reader.option("basePath", self.path).parquet(*paths)
                )
        # a mapped file's columns resolve through its footer signature
        # (in id mode by field id); unmapped files group by partition
        sig_of = self._footer_sigs(paths) if mode != "none" else {}

        data_fields = [f for f in fields if f["name"] not in logical_parts]
        groups: dict[tuple, list[str]] = {}
        pvals_of: dict[tuple, tuple] = {}
        for a in adds:
            p = os.path.join(self.path, a["path"])
            pv = tuple(
                (a.get("partitionValues") or {}).get(c) for c in phys_parts
            )
            key = (pv, sig_of.get(p))
            groups.setdefault(key, []).append(p)
            pvals_of[key] = pv
        frames = []
        for key, ps in groups.items():
            pv, sig = key
            g = tag(
                self.spark.read.schema(
                    _log_schema(meta, logical_parts)
                ).parquet(*ps)
                if mode == "none"
                else self.spark.read.parquet(*ps)
            )
            # homogeneous group: the footer names ARE the file schema
            present = {name for name, _ in sig} if sig else set(g.columns)
            by_id = (
                {fid: name for name, fid in sig if fid is not None}
                if mode == "id" and sig
                else {}
            )
            cols = []
            for f in data_fields:
                if f["id"] is not None and f["id"] in by_id:
                    cols.append(F.col(by_id[f["id"]]).alias(f["name"]))
                elif f["physical"] in present:
                    cols.append(F.col(f["physical"]).alias(f["name"]))
                else:
                    # column added after this file was written
                    cols.append(
                        F.lit(None)
                        .cast(_ddl(f["type"]))
                        .alias(f["name"])
                    )
            for lc, v in zip(logical_parts, pv):
                cols.append(
                    F.lit(v).cast(_ddl(types.get(lc))).alias(lc)
                )
            frames.append(
                g.select(*cols, *(["__fp", "__pos"] if tagged else []))
            )
        out = frames[0]
        for g in frames[1:]:
            out = out.unionByName(g)
        return out


def _tag(df: DataFrame) -> DataFrame:
    """``df`` (a parquet read) plus the ``__fp`` (absolute data-file
    path) / ``__pos`` (row ordinal) tags deletion vectors match on."""
    return df.withColumn(
        "__fp",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
    ).withColumn("__pos", F.col("_metadata.row_index"))


def _claim_commit(log_dir: str, version: int, actions: list[dict]) -> bool:
    """Claim ``_delta_log/<version>.json`` through the kernel's
    put-if-absent publish. Returns False when another writer already
    owns the version."""
    try:
        commit.publish_if_absent(
            log_dir,
            f"{version:020d}.json",
            "".join(json.dumps(a) + "\n" for a in actions),
        )
    except ConcurrentWriteError:
        return False
    return True


def _claim_or_raise(
    table_dir: str, version: int, actions: list[dict], verb: str
) -> None:
    """Claim ``version`` for a commit derived from the pre-commit state
    (DELETE, MERGE, OPTIMIZE, RESTORE do not commute): a lost race is a
    loud ConcurrentWriteError, never a retry at the next version."""
    if not _claim_commit(
        os.path.join(table_dir, "_delta_log"), version, actions
    ):
        raise ConcurrentWriteError(
            f"{table_dir}: version {version} was committed by another "
            f"writer while {verb} ran; re-read and retry"
        )


def _commit_actions(
    operation: str,
    body: list[dict],
    params: dict | None = None,
    txn: tuple[str, int] | None = None,
    data_change: bool = True,
) -> list[dict]:
    """One Delta commit's actions, the only place a write verb's
    ``commitInfo``, ``remove`` and ``txn`` actions are built:
    ``commitInfo`` (``operation``, ``params`` as its
    ``operationParameters``) first, then ``body`` in order, then the
    ``txn`` action when one is passed. A body entry ``{"remove": add}``
    names the live add action it removes; it becomes the protocol's
    remove action with ``data_change`` as its ``dataChange``. One clock
    reading stamps the commitInfo and every remove's
    ``deletionTimestamp``."""
    now_ms = int(time.time() * 1000)
    info: dict[str, Any] = {"timestamp": now_ms, "operation": operation}
    if params is not None:
        info["operationParameters"] = params
    out: list[dict] = [{"commitInfo": info}]
    for a in body:
        if "remove" in a:
            r = a["remove"]
            a = {"remove": {"path": r["path"], "dataChange": data_change,
                            "deletionTimestamp": now_ms,
                            "partitionValues": r.get("partitionValues") or {},
                            "size": r.get("size")}}
        out.append(a)
    if txn is not None:
        out.append({"txn": {"appId": txn[0], "version": int(txn[1]),
                            "lastUpdated": 0}})
    return out


def _dv_key(add: dict | None):
    """The identity of ``add``'s deletion vector (None without one):
    the protocol's unique id — storage type, path or inline bytes, and
    the offset within a shared DV file. Adds with equal keys kill the
    same rows."""
    d = (add or {}).get("deletionVector")
    if not d:
        return None
    return (d.get("storageType"), d.get("pathOrInlineDv"), d.get("offset"))


def _as_dict(v) -> dict:
    """Normalize a parquet-checkpoint MAP cell (pyarrow returns
    ``[(k, v), ...]``) or None to the plain dict the JSON-commit
    replay produces."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    return dict(v)


_DELTA_TO_DDL = {
    "string": "string",
    "integer": "int",
    "long": "bigint",
    "short": "smallint",
    "byte": "tinyint",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp_ntz",
    "binary": "binary",
}


def _log_schema(meta: dict, drop=(), physical: bool = False):
    """The log's recorded table schema (``metaData.schemaString``) as
    a Spark read schema, minus the ``drop`` columns (logical names).
    Reading a table's files under it costs no footer-inference job, and
    a file written before a column was added reads NULL for it.
    ``physical`` names each column by its column-mapping physical name,
    the name a mapped table's files carry."""
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    fields = [f for f in schema.fields if f.name not in drop]
    if physical:
        fields = [
            T.StructField(
                f.metadata.get("delta.columnMapping.physicalName", f.name),
                f.dataType,
                f.nullable,
            )
            for f in fields
        ]
    return T.StructType(fields)


def _ddl(t) -> str:
    """Delta schemaString primitive type -> Spark cast DDL (string
    fallback keeps unknown types readable, never droppable)."""
    if isinstance(t, str):
        if t.startswith("decimal"):
            return t
        return _DELTA_TO_DDL.get(t, "string")
    return "string"


def _parse_partition_value(s: str | None, type_str: str | None):
    if s is None or type_str is None:
        return None
    try:
        if type_str in ("integer", "long", "short", "byte"):
            return int(s)
        if type_str in ("double", "float"):
            return float(s)
        if type_str == "boolean":
            return s == "true"
        if type_str == "string":
            return s
        if type_str == "date":
            import datetime

            return datetime.date.fromisoformat(s)
    except ValueError:
        return None
    return None  # timestamps/decimals: no pruning, stay safe


_INTERVAL_UNITS_MS = {
    "week": 7 * 86_400_000, "weeks": 7 * 86_400_000,
    "day": 86_400_000, "days": 86_400_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "minute": 60_000, "minutes": 60_000,
    "second": 1_000, "seconds": 1_000,
}


def _parse_interval_ms(s: str | None) -> int | None:
    """Delta table-property interval ("interval 1 week") -> millis;
    None for absent/unparseable (caller applies its default)."""
    if not s:
        return None
    m = re.fullmatch(
        r"\s*interval\s+(\d+)\s+([a-z]+)\s*", s.strip(), re.I
    )
    if not m or m.group(2).lower() not in _INTERVAL_UNITS_MS:
        return None
    return int(m.group(1)) * _INTERVAL_UNITS_MS[m.group(2).lower()]


def _coerce_stat(v, type_str: str | None):
    if v is None or type_str is None:
        return None
    if type_str in ("integer", "long", "short", "byte"):
        return int(v) if not isinstance(v, bool) else None
    if type_str in ("double", "float"):
        return float(v)
    if type_str in ("string", "boolean"):
        return v
    return None


# -------------------------------------------------------------- writer


def _norm_type(t):
    """Delta schemaString type with NULLABILITY markers stripped
    recursively — schema enforcement compares what the files can
    actually disagree on (structure + primitive types), not the
    nested nullable/metadata flags Spark toggles between a computed
    expression and the same data read back from parquet (review
    r10d #2)."""
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return (
                "struct",
                tuple(
                    (f["name"], _norm_type(f["type"]))
                    for f in t.get("fields", [])
                ),
            )
        if kind == "array":
            return ("array", _norm_type(t.get("elementType")))
        if kind == "map":
            return (
                "map",
                _norm_type(t.get("keyType")),
                _norm_type(t.get("valueType")),
            )
        return ("?", json.dumps(t, sort_keys=True))
    return t


def _stage_adds(
    df: DataFrame,
    table_dir: str,
    version: int,
    partition_cols: list[str],
    mapping: tuple[str, list[dict]] = ("none", []),
    post_write_validate=None,
    rebalance: bool = True,
    partition_values: dict | None = None,
) -> list[dict]:
    """Stage ``df`` (LOGICAL column names) through the commit kernel,
    move its files into the canonical Delta layout (partition dirs
    directly under the table root, unique names — one directory
    structure across commits, which Spark's partition discovery over
    the table requires) and return their add actions. Shared by every
    verb that lands data, so a MERGE or OPTIMIZE lands files with the
    exact layout, naming and stats shape of an append.

    ``mapping`` is the table's column mapping (``DeltaTable._mapping``:
    mode and fields). In a mapped table every column is written under
    its PHYSICAL name with its ``parquet.field.id`` (id-mode readers
    resolve columns by id, per PROTOCOL.md), and the stats and
    ``partitionValues`` are keyed by physical name; no other writer
    applies the mapping.

    ``post_write_validate`` checks the write-path rule aggregates
    (generated columns, invariants, CHECK) observed on ``df``; a
    refused batch never leaves staging. ``partition_values`` (OPTIMIZE,
    keyed by physical name) lands an unpartitioned write under one
    known partition and marks the adds ``dataChange: false``."""
    mode, fields = mapping
    phys_of = {f["name"]: f["physical"] for f in fields}
    wdf = df
    if mode != "none":
        missing = [c for c in df.columns if c not in phys_of]
        if missing:
            raise ValueError(
                f"{table_dir}: columns {missing} are not in the mapped "
                "table schema"
            )
        id_of = {f["name"]: f["id"] for f in fields}
        wdf = df.select(
            *[
                F.col(c).alias(
                    phys_of[c],
                    metadata={}
                    if id_of[c] is None
                    else {"parquet.field.id": id_of[c]},
                )
                for c in df.columns
            ]
        )
    part_phys = [phys_of.get(c, c) for c in partition_cols]
    data_cols = [c for c in wdf.columns if c not in part_phys]
    staging = os.path.join(table_dir, f".staging-{uuid.uuid4().hex[:8]}")
    staged = commit.stage(
        wdf,
        staging,
        partition_cols=part_phys if partition_values is None else (),
        rebalance=rebalance,
        validate=post_write_validate,
    )
    out: list[dict] = []
    for f in staged:
        if partition_values is None:
            segs = [
                s
                for s in os.path.relpath(f.path, staging).split("/")[:-1]
                if "=" in s
            ]
        else:
            # values come from the log; paths get the hive-escaped
            # form (null -> __HIVE_DEFAULT_PARTITION__ dir)
            segs = [
                f"{hive_escape(c)}={hive_escape(v)}"
                for c, v in partition_values.items()
            ]
        os.makedirs(os.path.join(table_dir, *segs), exist_ok=True)
        rel = os.path.join(
            *segs, f"part-{version:05d}-{uuid.uuid4().hex}.parquet"
        )
        os.replace(f.path, os.path.join(table_dir, rel))
        # Spark's writer hive-escapes dir segments; partitionValues
        # must carry the REAL value (escaped form only in `path`)
        pvals = (
            parse_partition_segs(rel)
            if partition_values is None
            else partition_values
        )
        # exact footer min/max, NEVER truncated: the upsert/merge
        # probes prune files through _add_might_match on these bounds,
        # and a prefix-truncated max could hide a matching key
        # (duplicate insert instead of update). Delta proper truncates
        # long string stats; this writer deliberately does not (ADVICE
        # r12 pins the invariant).
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        for c, (lo, hi) in f.col_ranges.items():
            lo, hi = _json_stat(lo), _json_stat(hi)
            if c in data_cols and lo is not None and hi is not None:
                mins[c], maxs[c] = lo, hi
        out.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {
                        c: pvals.get(c) for c in part_phys
                    },
                    "size": f.bytes,
                    "modificationTime": 0,
                    "dataChange": partition_values is None,
                    "stats": json.dumps(
                        {
                            "numRecords": f.rows,
                            "minValues": mins,
                            "maxValues": maxs,
                        }
                    ),
                }
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return out


def _evolve_delta_schema(
    meta0: dict,
    added: list[dict],
    mode: str,
    map_fields: list[dict],
    relaxed: set[str] = frozenset(),
) -> dict:
    """Build the updated ``metaData`` action for schema evolution:
    ``added`` (spark-schema field dicts) append to the table schema
    as nullable columns (old files have no values — they read NULL),
    and the ``relaxed`` table columns become nullable (a batch
    lacking them lands NULLs).
    In mapped tables each new column is assigned a fresh physical
    name + field id above the recorded high-water mark;
    ``map_fields`` is extended in place so the staging write's
    physical rename sees the new columns. Shared by
    delta_append(merge_schema=True) and delta_merge(evolve=True) so
    both verbs evolve with byte-identical metadata shapes."""
    cur_fields = json.loads(meta0["schemaString"])["fields"]
    conf = dict(meta0.get("configuration") or {})
    sj = {
        "type": "struct",
        "fields": [
            {**f, "nullable": True} if f["name"] in relaxed else f
            for f in cur_fields
        ],
    }
    for f in added:
        nf = dict(f)
        nf["nullable"] = True  # old files have no values
        if mode != "none":
            next_id = (
                max(
                    max(x["id"] for x in map_fields),
                    int(
                        conf.get("delta.columnMapping.maxColumnId", 0)
                    ),
                )
                + 1
            )
            phys = f"col-{uuid.uuid4().hex[:12]}"
            map_fields.append(
                {
                    "name": f["name"],
                    "physical": phys,
                    "id": next_id,
                    "type": f["type"],
                }
            )
            nf["metadata"] = {
                **(nf.get("metadata") or {}),
                "delta.columnMapping.id": next_id,
                "delta.columnMapping.physicalName": phys,
            }
            conf["delta.columnMapping.maxColumnId"] = str(next_id)
        sj["fields"].append(nf)
    md = dict(meta0)
    md["schemaString"] = json.dumps(sj)
    md["configuration"] = conf
    return {"metaData": md}


def delta_append(
    df: DataFrame,
    table_dir: str,
    partition_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    column_mapping: str | None = None,
    properties: dict | None = None,
    merge_schema: bool = False,
    column_metadata: dict | None = None,
) -> int:
    """Append ``df`` as one Delta commit (creating the table on first
    call). Executors write hive-partitioned parquet; the driver
    records add actions with footer-derived stats (numRecords +
    min/max per leaf column) and publishes the next
    ``_delta_log/%020d.json`` atomically. Returns the commit version.

    ``txn=(app_id, version)`` records the Delta protocol's ``txn``
    action in the same commit and makes redelivery a NO-OP when the
    table's high-water mark for ``app_id`` already covers ``version``
    — the exactly-once handshake Structured Streaming's foreachBatch
    needs.

    ``column_mapping='name'|'id'`` (first commit only) creates the
    table in that column-mapping mode: data files carry generated
    PHYSICAL names (``col-<hex>``) and, in both modes, parquet
    field_ids from ``delta.columnMapping.id`` (Spark's
    ``parquet.field.id`` schema metadata); the schemaString records
    the logical→physical mapping and the protocol advertises
    minReaderVersion 2 / minWriterVersion 5. Later appends adopt
    whatever mode the table already has.

    ``properties`` (first commit only) merges table properties into
    ``metaData.configuration`` — e.g.
    ``delta.deletedFileRetentionDuration`` ("interval 1 week"), which
    VACUUM and the checkpoint tombstone window honor.

    Schema ENFORCEMENT (the protocol's default): an append whose
    DataFrame drops a table column or changes a column's type
    refuses; one that ADDS columns refuses unless
    ``merge_schema=True``, which commits an updated ``metaData``
    action in the SAME commit (the protocol's evolution shape) — new
    columns land nullable, and in mapped tables they get fresh
    ``delta.columnMapping`` ids/physical names with ``maxColumnId``
    bumped, so committed files' ids never repoint. Readers null-fill
    the new columns for pre-evolution files. ``merge_schema=True``
    also admits a batch that lacks table columns: they are written
    as typed NULLs (and recorded nullable), so the table schema is
    the union of both and never narrows.

    Concurrent appenders arbitrate on the version claim: a lost race
    re-checks the txn mark and retries at the next version with the
    same staged files, unless the table definition changed."""
    spark = df.sparkSession
    partition_cols = list(partition_cols or [])
    log_dir = os.path.join(table_dir, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)

    existing = [
        int(n[:-5])
        for n in os.listdir(log_dir)
        if n.endswith(".json") and n[:-5].isdigit()
    ]
    # checkpoints count toward the version chain too: a log whose
    # JSON prefix was compacted away must keep numbering FORWARD
    for n in os.listdir(log_dir):
        m = re.match(r"(\d{20})\.checkpoint(\.|$)", n)
        if m:
            existing.append(int(m.group(1)))
    version = (max(existing) + 1) if existing else 0
    # (exprs, validate) of the declared write-path rules — observed
    # on the staging write below instead of eager per-family passes
    deferred_checks: tuple = ([], None)
    if column_metadata:
        # CREATE-time column metadata (``{col: {"delta.generation
        # Expression": sql, "delta.invariants": json, ...}}``) — the
        # authoring path for generated-column / invariant tables.
        # Schema metadata is table state: altering it on an existing
        # table is a different operation, refused here.
        if version > 0:
            raise ValueError(
                f"{table_dir}: column_metadata declares schema "
                "metadata at CREATE time; the table already exists"
            )
        unknown_cols = sorted(set(column_metadata) - set(df.columns))
        if unknown_cols:
            raise ValueError(
                f"column_metadata names column(s) {unknown_cols} "
                "not in the frame"
            )
        # the declared rules bind from the very first batch: verify
        # provided generated values, enforce invariants and any
        # delta.constraints.* passed via properties
        ty_of = {
            f["name"]: f["type"]
            for f in json.loads(df.schema.json())["fields"]
        }
        gens0 = [
            (c, md["delta.generationExpression"], ty_of[c])
            for c, md in column_metadata.items()
            if "delta.generationExpression" in md
        ]
        invs0 = []
        for c, md in column_metadata.items():
            if "delta.invariants" in md:
                try:
                    invs0.append(
                        (
                            c,
                            json.loads(md["delta.invariants"])[
                                "expression"
                            ]["expression"],
                        )
                    )
                except (ValueError, KeyError, TypeError):
                    raise ValueError(
                        f"column_metadata for {c!r}: delta.invariants "
                        'must be the spec\'s {"expression": '
                        '{"expression": sql}} JSON'
                    )
        # rules are enforced via ONE fused aggregate OBSERVED on the
        # staging write (r14, guide §1.2/§5) — the old shape ran one
        # aggregation job per rule family over the un-materialized
        # batch lineage; see _deferred_rule_checks
        df, gen_checks0 = _compute_generated_columns(df, gens0)
        deferred_checks = _deferred_rule_checks(
            gen_checks0,
            invs0,
            sorted(
                (k[len("delta.constraints."):], v)
                for k, v in (properties or {}).items()
                if k.startswith("delta.constraints.")
            ),
            table_dir,
            "delta_append",
        )
        # identity declarations at CREATE: the declared column is in
        # the frame (the frame IS the schema source), so this is an
        # explicit insert — admitted only when the declaration allows
        # it, and the high-water mark seeds from the landed values
        for c, cmd in column_metadata.items():
            if not any(k.startswith("delta.identity.") for k in cmd):
                continue
            raw = cmd.get("delta.identity.allowExplicitInsert", False)
            allow = (
                raw
                if isinstance(raw, bool)
                else str(raw).lower() == "true"
            )
            if not allow:
                raise ValueError(
                    f"{table_dir}: identity column {c!r} declares "
                    "allowExplicitInsert=false, but CREATE lands the "
                    "frame's values for it — declare "
                    "allowExplicitInsert=true or seed with the "
                    "start value"
                )
            step0 = int(cmd.get("delta.identity.step", 1))
            if step0 == 0:
                raise ValueError(
                    f"identity column {c!r} declares step=0"
                )
            ext = df.agg(
                F.max(c) if step0 > 0 else F.min(c)
            ).first()[0]
            if ext is not None:
                cmd = dict(cmd)
                cmd["delta.identity.highWaterMark"] = int(ext)
                column_metadata[c] = cmd
    evolution_md: dict | None = None
    ident_hwm: dict = {}
    if version > 0:
        t = DeltaTable(spark, table_dir)
        if txn is not None:
            app_id, txn_v = txn
            if t.txn_version(app_id) >= int(txn_v):
                return max(existing)  # redelivered batch: no-op
        meta0, _, _ = t._state(None)
        # write-side protocol gate (VERDICT r12 next #4): appends are
        # allowed on append-only tables but must still refuse unknown
        # writer features and enforce declared CHECK constraints;
        # generated columns are computed/verified and invariants
        # enforced BEFORE the CHECKs so constraints referencing a
        # generated column see its value
        constraints = _writer_feature_gate(
            t,
            meta0,
            "delta_append",
            mutates=False,
            full_rows=True,
            identity_ok=True,
        )
        idents = _identity_rules(meta0)
        ident_hwm: dict = {}
        if idents:
            df, ident_hwm = _apply_identity_columns(
                df, idents, table_dir, "delta_append"
            )
        gens, invs = _generation_rules(meta0, table_dir)
        # ONE fused rule aggregate, observed on the staging write
        # (r14): the three eager passes each re-ran the whole batch
        # lineage — on a generated+invariant+CHECK table that was 3
        # extra full scans per append (and the delta_generated 8-core
        # blowup: every extra pass re-paid the scan at 1/4 the
        # parallelism). The expressions and refusal messages are
        # identical; they now cost zero extra jobs.
        df, gen_checks = _compute_generated_columns(df, gens)
        deferred_checks = _deferred_rule_checks(
            gen_checks, invs, constraints, table_dir, "delta_append"
        )
        mode, map_fields = t._mapping(meta0)
        # schema enforcement / evolution against the CURRENT logical
        # schema — silently landing files whose schema drifted from
        # the schemaString would make readers narrow or null columns
        # with no record of why (review r10d)
        tbl_parts = meta0.get("partitionColumns") or []
        if list(partition_cols) != list(tbl_parts):
            # partitioning is a TABLE property: files appended under a
            # different layout would read their partition column as
            # NULL (the grouped reader injects it from
            # partitionValues, which such files don't carry)
            raise ValueError(
                f"{table_dir}: table is partitioned by {tbl_parts}; "
                f"append passed partition_cols={list(partition_cols)}"
            )
        cur_fields = json.loads(meta0["schemaString"])["fields"]
        cur_types = {f["name"]: f["type"] for f in cur_fields}
        df_fields = json.loads(df.schema.json())["fields"]
        new_types = {f["name"]: f["type"] for f in df_fields}
        mismatched = sorted(
            n
            for n in new_types
            if n in cur_types
            and _norm_type(new_types[n]) != _norm_type(cur_types[n])
        )
        absent = sorted(n for n in cur_types if n not in new_types)
        relaxed: set[str] = set()
        if merge_schema and absent:
            # the union of both schemas: the table's columns the batch
            # lacks land as typed NULLs (and turn nullable)
            from pyspark.sql import types as T

            fill = [
                f
                for f in T.StructType.fromJson(
                    json.loads(meta0["schemaString"])
                ).fields
                if f.name in absent
            ]
            df = df.withColumns(
                {f.name: F.lit(None).cast(f.dataType) for f in fill}
            )
            relaxed = {f.name for f in fill if not f.nullable}
            absent = []
        added = [f for f in df_fields if f["name"] not in cur_types]
        if mismatched or absent:
            raise ValueError(
                f"{table_dir}: append schema deviates from the table "
                f"(type changes: {mismatched}, missing columns: "
                f"{absent}) — the protocol enforces the schema; "
                "rewrite the table to change it"
            )
        if added and not merge_schema:
            raise ValueError(
                f"{table_dir}: append carries unknown column(s) "
                f"{[f['name'] for f in added]} — pass "
                "merge_schema=True to evolve the table schema"
            )
        if added or relaxed:
            evolution_md = _evolve_delta_schema(
                meta0, added, mode, map_fields, relaxed
            )
    else:
        mode = column_mapping or "none"
        if mode not in ("none", "name", "id"):
            raise ValueError(f"column_mapping must be name/id, got {mode!r}")
        map_fields = [
            {
                "name": f.name,
                "physical": (
                    f"col-{uuid.uuid4().hex[:12]}"
                    if mode != "none"
                    else f.name
                ),
                "id": i + 1,
                "type": f.dataType.jsonValue(),
            }
            for i, f in enumerate(df.schema.fields)
        ]
    check_exprs, check_validate = deferred_checks
    post_write_validate = None
    if check_exprs:
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(obs, *check_exprs)
        post_write_validate = lambda: check_validate(obs.get)  # noqa: E731

    actions: list[dict] = []
    if evolution_md is not None:
        # the updated metaData rides in the SAME commit as the files
        # that first carry the new columns (the protocol's evolution
        # shape) — replay order makes it current before any reader
        # sees those adds
        if ident_hwm:
            raise NotImplementedError(
                f"{table_dir}: schema evolution and identity "
                "allocation in ONE commit would need a merged "
                "metaData action — split the append"
            )
        actions.append(evolution_md)
    if ident_hwm:
        # same-commit rule as evolution: the mark advances with the
        # adds that consumed the values
        actions.append(_identity_metadata_action(meta0, ident_hwm))
    if version == 0:
        if mode == "none":
            # spec minimums: 2 = invariants, 3 = CHECK constraints,
            # 4 = generated columns — declare the highest the table
            # actually uses so legacy writers that can't honor the
            # declarations refuse
            min_w = 2
            if any(
                k.startswith("delta.constraints.")
                for k in (properties or {})
            ):
                min_w = 3
            if any(
                "delta.generationExpression" in md
                for md in (column_metadata or {}).values()
            ):
                min_w = 4
            if any(
                any(k.startswith("delta.identity.") for k in md)
                for md in (column_metadata or {}).values()
            ):
                min_w = 6
            actions.append(
                {"protocol": {"minReaderVersion": 1,
                              "minWriterVersion": min_w}}
            )
            schema_string = df.schema.json()
            configuration: dict = {}
        else:
            actions.append(
                {"protocol": {"minReaderVersion": 2,
                              "minWriterVersion": 5}}
            )
            sj = json.loads(df.schema.json())
            for f, mf in zip(sj["fields"], map_fields):
                f["metadata"] = {
                    "delta.columnMapping.id": mf["id"],
                    "delta.columnMapping.physicalName": mf["physical"],
                }
            schema_string = json.dumps(sj)
            configuration = {
                "delta.columnMapping.mode": mode,
                "delta.columnMapping.maxColumnId": str(len(map_fields)),
            }
        if properties:
            configuration = {**configuration, **properties}
        if column_metadata:
            sj = json.loads(schema_string)
            for f in sj["fields"]:
                if f["name"] in column_metadata:
                    f["metadata"] = {
                        **(f.get("metadata") or {}),
                        **column_metadata[f["name"]],
                    }
            schema_string = json.dumps(sj)
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": partition_cols,
                    "configuration": configuration,
                }
            }
        )
    actions.extend(
        _stage_adds(
            df,
            table_dir,
            version,
            partition_cols,
            (mode, map_fields),
            post_write_validate=post_write_validate,
        )
    )
    actions = _commit_actions("WRITE", actions, txn=txn)
    # optimistic concurrency: claim the version put-if-absent. Lost
    # races on APPENDS commute — recheck the txn mark (the rival may
    # have committed this very batch) and retry at the next version.
    # A lost race on table CREATION is not retryable (our
    # protocol/metaData decisions are stale): loud error.
    while not _claim_commit(log_dir, version, actions):
        if version == 0:
            raise ConcurrentWriteError(
                f"{table_dir}: another writer created the table "
                "concurrently; re-read and retry the append"
            )
        t2 = DeltaTable(spark, table_dir)
        if txn is not None and t2.txn_version(txn[0]) >= int(txn[1]):
            return t2.latest_version()  # rival committed our batch
        # appends only commute while the table DEFINITION stands: a
        # rival schema / partitioning / mapping change makes our
        # already-written files stale — surface, don't mix layouts
        cur_meta, _, _ = t2._state(None)
        if (
            cur_meta.get("schemaString") != meta0.get("schemaString")
            or cur_meta.get("partitionColumns")
            != meta0.get("partitionColumns")
            or (cur_meta.get("configuration") or {})
            != (meta0.get("configuration") or {})
        ):
            raise ConcurrentWriteError(
                f"{table_dir}: table metadata changed concurrently "
                "with the append; re-read and retry"
            )
        version = t2.latest_version() + 1
    # touch spark to keep the session-arg contract obvious
    assert spark is not None
    return version


def delta_head(
    spark: SparkSession, table_dir: str
) -> tuple[DeltaTable | None, int]:
    """``(table, latest version)``, or ``(None, -1)`` before the
    table's first commit: -1 means "nothing written", never version 0."""
    try:
        t = DeltaTable(spark, table_dir)
        return t, t.latest_version()
    except (FileNotFoundError, ValueError):
        return None, -1


def delta_overwrite(
    df: DataFrame,
    table_dir: str,
    read_version: int,
    partition_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Replace-all commit: remove every file live at ``read_version``
    and add ``df``'s files (``dataChange: true``) in ONE commit that
    claims exactly ``read_version + 1``, so a result derived from
    ``read_version`` raises ``ConcurrentWriteError`` instead of erasing
    a commit that landed after it. ``read_version=-1`` creates the
    table, partitioned by ``partition_cols``. The frame's schema
    becomes the table's. ``txn`` is recorded, not checked (the caller
    decides redelivery). Returns the committed version."""
    from pyspark.sql import types as T

    read_version = int(read_version)
    partition_cols = list(partition_cols or [])
    schema_string = df.schema.json()
    actions: list[dict] = []
    if read_version < 0:
        os.makedirs(os.path.join(table_dir, "_delta_log"), exist_ok=True)
        actions += [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": str(uuid.uuid4()),
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema_string,
                          "partitionColumns": partition_cols,
                          "configuration": {}}},
        ]
    else:
        t = DeltaTable(df.sparkSession, table_dir)
        meta, adds, _ = t._state(read_version)
        constraints = _writer_feature_gate(
            t, meta, "delta_overwrite", mutates=True
        )
        if t._mapping(meta)[0] != "none":
            raise NotImplementedError(
                f"{table_dir}: replace-all on a column-mapped table"
            )
        tbl_parts = meta.get("partitionColumns") or []
        if partition_cols and partition_cols != tbl_parts:
            raise ValueError(
                f"{table_dir}: table is partitioned by {tbl_parts}; "
                f"overwrite passed partition_cols={partition_cols}"
            )
        partition_cols = tbl_parts
        if constraints:
            _enforce_check_constraints(
                df, constraints, table_dir, "delta_overwrite"
            )

        def shape(s: str) -> list:
            return [
                (f.name, _norm_type(f.dataType.jsonValue()))
                for f in T.StructType.fromJson(json.loads(s)).fields
            ]

        if shape(schema_string) != shape(meta["schemaString"]):
            actions.append(
                {"metaData": {**meta, "schemaString": schema_string}}
            )
        actions += [{"remove": a} for a in adds]
    actions += _stage_adds(df, table_dir, read_version + 1, partition_cols)
    _claim_or_raise(
        table_dir,
        read_version + 1,
        _commit_actions(
            "WRITE", actions, {"mode": "Overwrite"}, txn
        ),
        "overwrite",
    )
    return read_version + 1


def delta_merge_latest(
    updates: DataFrame,
    table_dir: str,
    keys: list[str],
    order_col: str,
    tiebreak_cols: list[str] | tuple = (),
    partition_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Last-writer-wins copy-on-write MERGE: the table becomes
    ``latest_per_key(scan ∪ updates)`` by ``order_col`` (then
    ``tiebreak_cols``), committed through :func:`delta_overwrite` with
    a CAS on the scanned version; a lost race re-derives (three tries).
    Unlike :func:`delta_upsert` it collapses duplicate keys on either
    side, and a batch that adds or lacks columns evolves or
    null-fills the schema. ``txn=(app_id, n)`` makes a redelivered
    batch a no-op; ``partition_cols`` applies when the merge creates
    the table. Every 10th version is checkpointed. Returns the
    committed version."""
    from feature_store_spark.operators.reshape import latest_per_key

    for _ in range(3):
        t, base = delta_head(updates.sparkSession, table_dir)
        if (
            t is not None
            and txn is not None
            and t.txn_version(txn[0], base) >= int(txn[1])
        ):
            return base
        merged = latest_per_key(
            updates
            if t is None
            else t.scan(version=base).unionByName(
                updates, allowMissingColumns=True
            ),
            list(keys),
            order_col,
            list(tiebreak_cols),
        )
        try:
            v = delta_overwrite(merged, table_dir, base, partition_cols, txn)
        except ConcurrentWriteError:
            continue
        _checkpoint_due(updates.sparkSession, table_dir, v)
        return v
    raise ConcurrentWriteError(
        f"{table_dir}: merge lost the version race 3 times"
    )


def delta_optimize(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 << 20,
    zorder_by: list[str] | None = None,
) -> tuple[int, int, int]:
    """Transactional OPTIMIZE: per partition, bin-pack small files
    into ~``target_file_bytes`` outputs and commit the swap as
    remove+add actions with ``dataChange: false`` (readers of any
    version see identical rows — the Delta OPTIMIZE contract). Files
    carrying DELETION VECTORS are always rewritten with their deleted
    rows materialized away, so OPTIMIZE doubles as DV compaction.

    ``zorder_by=[col, col]`` (logical names) Z-ORDER-clusters each
    partition while compacting: two numeric columns interleave through
    ``functions.zorder2_expr`` (real Morton key, min-max pruning on
    BOTH dimensions); any other arity falls back to hierarchical sort.
    Z-ordering forces a rewrite of every file in the partition.

    The 100 TB physics: continuously-appended tables accumulate
    KB-scale files whose footer/open overhead dominates scans; the
    rewrite is executor work (coalesce per partition — no shuffle
    unless Z-ordering, which needs the range partition), the commit is
    driver metadata. Column-mapped tables rewrite each column under
    its physical name and field id. Returns
    ``(version, files_removed, files_added)``."""
    import math

    t = DeltaTable(spark, table_dir)
    version = t.latest_version() + 1
    meta, _, _ = t._state(None)
    # OPTIMIZE preserves rows (dataChange=false), which appendOnly
    # permits — but unknown writer features still refuse
    _writer_feature_gate(
        t, meta, "delta_optimize", mutates=False, adds_rows=False
    )
    mapping = t._mapping(meta)
    fields = mapping[1]
    logical_parts = meta.get("partitionColumns") or []
    log2phys = {f["name"]: f["physical"] for f in fields}
    part_phys = [log2phys.get(c, c) for c in logical_parts]
    for c in zorder_by or []:
        if c not in log2phys:
            raise ValueError(f"zorder column {c!r} is not in the schema")
    data_fields = [f for f in fields if f["name"] not in logical_parts]

    adds = t.data_files(None, None)
    groups: dict[tuple, list[dict]] = {}
    for a in adds:
        pv = tuple(
            (a.get("partitionValues") or {}).get(c) for c in part_phys
        )
        groups.setdefault(pv, []).append(a)

    removes: list[dict] = []
    new_adds: list[dict] = []
    for pv, group in sorted(groups.items(), key=lambda kv: str(kv[0])):
        if zorder_by:
            cands = list(group)
        else:
            cands = [
                a
                for a in group
                if a.get("deletionVector")
                or (a.get("size") or 0) < int(target_file_bytes)
            ]
        dv_adds = [a for a in cands if a.get("deletionVector")]
        if not cands or (len(cands) < 2 and not dv_adds and not zorder_by):
            continue
        paths = [os.path.join(t.path, a["path"]) for a in cands]
        # the files read under the log schema, by physical name: a
        # file written before a merge_schema append reads NULL for the
        # new column instead of one footer's schema dropping it
        df = spark.read.schema(
            _log_schema(meta, logical_parts, physical=True)
        ).parquet(*paths)
        if dv_adds:
            df = t._filter_positions(
                _tag(df),
                {t._abs(a): t._dv_positions(a) for a in dv_adds},
                "left_anti",
            )
        df = df.select(
            *[F.col(f["physical"]).alias(f["name"]) for f in data_fields]
        )
        total = sum(int(a.get("size") or 0) for a in cands)
        n_out = max(1, math.ceil(total / int(target_file_bytes)))
        if zorder_by:
            if len(zorder_by) == 2:
                from feature_store_spark.functions import zorder2_expr

                zkey = zorder2_expr(F.col(zorder_by[0]), F.col(zorder_by[1]))
            else:
                zkey = F.struct(*[F.col(c) for c in zorder_by])
            df = df.repartitionByRange(n_out, zkey).sortWithinPartitions(
                zkey
            )
        else:
            df = df.coalesce(n_out)
        new_adds.extend(
            _stage_adds(
                df,
                table_dir,
                version,
                logical_parts,
                mapping,
                # the coalesce / range clustering above IS the layout
                rebalance=False,
                partition_values=dict(zip(part_phys, pv)),
            )
        )
        removes.extend({"remove": a} for a in cands)
    if not removes:
        raise ValueError(
            f"{table_dir}: nothing to optimize (every file already "
            f">= {target_file_bytes} bytes, no deletion vectors)"
        )
    actions = _commit_actions(
        "OPTIMIZE", removes + new_adds, data_change=False
    )
    _claim_or_raise(table_dir, version, actions, "OPTIMIZE")
    return version, len(removes), len(new_adds)


def delta_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int | None = None,
    to_version: int | None = None,
    between_timestamps: tuple[int, int | None] | None = None,
) -> DataFrame:
    """Row-level CHANGE FEED for ``(from_version, to_version]``,
    derived from the log itself (CDF semantics without requiring the
    writer to emit ``_change_data`` files): every returned row carries
    ``_change_type`` (``insert`` / ``delete``) and
    ``_commit_version``. Per commit, only ``dataChange: true`` actions
    count — OPTIMIZE's remove+add shuffles are invisible, exactly as
    Delta CDF specifies:

    - a NEW path added → its live rows (minus any DV it was born
      with) are inserts;
    - a path removed and not re-added → the rows live at the PREVIOUS
      version (file minus its then-DV) are deletes;
    - a path removed and re-added with a bigger deletion vector (the
      delta_delete_where shape) → exactly the NEWLY-deleted ordinals
      (DV_new − DV_old) are deletes.

    The scan machinery (column unmapping, typed partition literals)
    is shared with ``scan`` via ``_assemble``; position selection is
    a broadcast join on ``_metadata.row_index``.

    Log compaction (VERDICT r8 next #8): a version whose JSON commit
    is gone is RECONSTRUCTED from checkpoint state diffs when that is
    provably exact — state at both v-1 and v must be replayable
    (i.e. checkpoints cover them), and the file-level diff must be
    adds-only, removes-only, and/or DV-growth (the streaming-append
    and delete shapes). A diff with BOTH added and removed paths is
    genuinely ambiguous — an OPTIMIZE (dataChange:false, invisible to
    the feed) is indistinguishable from a rewrite (visible) once the
    commit's dataChange flags are gone — and raises loudly, never a
    guessed feed.

    ``between_timestamps=(from_ms, to_ms)`` is the wall-clock form —
    the same as-of-inclusive resolution as
    ``IcebergTable.changes(between_timestamps=...)`` (r13): the base
    is the version current AT ``from_ms`` (a commit stamped exactly
    at ``from_ms`` is baseline, not feed), the head the version
    current at ``to_ms`` (``None`` = latest). NOTE this is the
    repo-wide as-of convention, deliberately shared with
    ``scan(version=...)`` time travel — Delta Spark's
    ``startingTimestamp`` option instead rounds UP to the next
    commit and includes it; convert with ``version_as_of`` if you
    need that rounding. A ``from_ms`` before the first commit
    refuses (no baseline state); mutually exclusive with the
    version arguments."""
    t = DeltaTable(spark, table_dir)
    if between_timestamps is not None:
        if from_version is not None or to_version is not None:
            raise ValueError(
                "delta_changes: pass either versions or "
                "between_timestamps, not both"
            )
        from_ms, to_ms = between_timestamps
        from_version = t.version_as_of(int(from_ms))
        if to_ms is not None:
            if int(to_ms) < int(from_ms):
                raise ValueError(
                    f"delta_changes: between_timestamps window is "
                    f"inverted ({from_ms} > {to_ms})"
                )
            to_version = t.version_as_of(int(to_ms))
    if from_version is None:
        raise ValueError(
            "delta_changes: from_version (or between_timestamps) "
            "is required"
        )
    if to_version is None:
        to_version = t.latest_version()
    if from_version > to_version:
        raise ValueError("from_version must be <= to_version")
    versions = set(t._commit_versions())

    def _provable(sv: int) -> bool:
        """_state(sv) silently skips missing JSON versions, so a diff
        is only trustworthy when the replay chain is COMPLETE: a
        checkpoint at c <= sv plus every JSON commit in (c, sv]."""
        ck = t._checkpoint_at_or_before(sv)
        lo = (ck[0] if ck else -1) + 1
        return all(x in versions for x in range(lo, sv + 1))

    def _reconstructed_actions(v: int):
        """(commit_adds, commit_removes, all_adds, all_removes) for a
        compacted-away version, from the state diff v-1 → v."""
        if not (_provable(v - 1) and _provable(v)):
            raise ValueError(
                f"{table_dir}: commit {v} is gone (log compacted) and "
                "no checkpoint pair proves the states on both sides; "
                "the change feed for this range is unrecoverable"
            )
        _, prev_adds, _ = t._state(v - 1)
        _, cur_adds, _ = t._state(v)
        prevm = {a["path"]: a for a in prev_adds}
        curm = {a["path"]: a for a in cur_adds}
        added = {p: a for p, a in curm.items() if p not in prevm}
        removed = {
            p: {"path": p, "dataChange": True}
            for p in prevm
            if p not in curm
        }
        if added and removed:
            raise ValueError(
                f"{table_dir}: compacted commit {v} both added and "
                "removed files — an OPTIMIZE (invisible to the feed) "
                "is indistinguishable from a rewrite (visible) without "
                "the commit's dataChange flags; change feed ambiguous"
            )
        dv_changed = {
            p: curm[p]
            for p in curm
            if p in prevm and _dv_key(curm[p]) != _dv_key(prevm[p])
        }
        # a descriptor CHANGE is only reconstructible as a delete
        # feed when the position set grew; a shrink (RESTORE-shaped
        # commit) resurrects rows, which the downstream
        # positions(cur)-positions(prev) diff would render as an
        # EMPTY feed — a guessed answer, violating the provably-
        # exact-or-raise contract (ADVICE r9 #4)
        for p in dv_changed:
            if len(gone(curm[p], prevm[p])):
                raise ValueError(
                    f"{table_dir}: compacted commit {v} shrank the "
                    f"deletion vector of {p} (a RESTORE-shaped "
                    "change); resurrected rows cannot be attributed "
                    "without the commit's own actions — change feed "
                    "for this range is unrecoverable"
                )
        commit_adds = {**added, **dv_changed}
        return (
            commit_adds,
            removed,
            dict(commit_adds),
            list(removed),
        )

    def gone(a: dict, b: dict):
        """The ordinals ``a``'s deletion vector spares and ``b``'s
        kills (each descriptor decodes once across the whole range)."""
        return np.setdiff1d(
            t._dv_positions(b), t._dv_positions(a), assume_unique=True
        )

    frames: list[DataFrame] = []
    meta_now, _, _ = t._state(to_version)
    # rolling adds-by-path state: ONE base replay, then each commit's
    # own actions advance it — O(commits), not O(commits^2)
    _, base_adds, _ = t._state(from_version)
    state_by_path: dict[str, dict] = {a["path"]: a for a in base_adds}

    def rows_of(adds_v, version, change, keep=None):
        """ONE frame for a whole batch of files of one (version,
        change type): the per-file loop would union N single-file
        scans; batching keeps it one multi-file scan per commit per
        change type. The files' live rows, or with ``keep`` ({abs path:
        ordinals}) exactly those rows."""
        if keep is None:
            df = t._assemble_live(adds_v, meta_now, tagged=False)
        else:
            df = t._filter_positions(
                t._assemble(adds_v, meta_now), keep, "left_semi"
            ).drop("__fp", "__pos")
        return df.withColumn("_change_type", F.lit(change)).withColumn(
            "_commit_version", F.lit(int(version))
        )

    for v in range(from_version + 1, to_version + 1):
        prev_by_path = state_by_path
        commit_adds: dict[str, dict] = {}
        commit_removes: dict[str, dict] = {}
        all_adds: dict[str, dict] = {}
        all_removes: list[str] = []
        if v not in versions:
            (
                commit_adds,
                commit_removes,
                all_adds,
                all_removes,
            ) = _reconstructed_actions(v)
        else:
            with open(
                os.path.join(t.log_dir, f"{v:020d}.json")
            ) as f:
                for line in f:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "add" in action:
                        all_adds[action["add"]["path"]] = action["add"]
                        if action["add"].get("dataChange", True):
                            commit_adds[action["add"]["path"]] = action[
                                "add"
                            ]
                    elif "remove" in action:
                        all_removes.append(action["remove"]["path"])
                        if action["remove"].get("dataChange", True):
                            commit_removes[
                                action["remove"]["path"]
                            ] = action["remove"]
        inserts: list[dict] = []
        dv_prev_adds: list[dict] = []
        dv_select: dict = {}
        res_adds: list[dict] = []
        res_select: dict = {}
        for path, add in commit_adds.items():
            prev = prev_by_path.get(path)
            if prev is None:
                inserts.append(add)
                continue
            new_dead = gone(prev, add)
            if len(new_dead):
                dv_prev_adds.append(prev)
                dv_select[t._abs(prev)] = new_dead
            # a SHRUNK deletion vector (the RESTORE shape) means rows
            # came back to life — the feed must carry them as inserts,
            # not silently show an empty commit
            resurrected = gone(add, prev)
            if len(resurrected):
                res_adds.append(add)
                res_select[t._abs(add)] = resurrected
        removed_adds = [
            prev_by_path[path]
            for path in commit_removes
            # a same-commit re-add is handled as a DV delta
            if path not in commit_adds and path in prev_by_path
        ]
        if inserts:
            frames.append(rows_of(inserts, v, "insert"))
        if res_adds:
            frames.append(rows_of(res_adds, v, "insert", res_select))
        if dv_prev_adds:
            frames.append(rows_of(dv_prev_adds, v, "delete", dv_select))
        if removed_adds:
            frames.append(rows_of(removed_adds, v, "delete"))
        # advance the rolling state with ALL of this commit's actions
        # (OPTIMIZE's dataChange:false shuffles included — they are
        # invisible to the FEED but very much part of the state).
        # In place: prev_by_path is dead after this point in the
        # iteration (the frames hold the add dicts, not the state
        # dict), so no per-version copy of a possibly-huge file map
        for path in all_removes:
            state_by_path.pop(path, None)
        state_by_path.update(all_adds)
    if not frames:
        base = t.scan(version=to_version).limit(0)
        return base.withColumn(
            "_change_type", F.lit("insert")
        ).withColumn("_commit_version", F.lit(0)).limit(0)
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# age past which a ``.staging-*`` dir or ``_delta_log/.tmp-*`` file
# can only be a crashed writer's
_DEBRIS_GRACE_S = 24 * 3600


def delta_vacuum(
    spark: SparkSession,
    table_dir: str,
    dry_run: bool = False,
    retention_ms: int | None = None,
) -> list[str]:
    """VACUUM: delete every data/DV file under the table that the
    CURRENT version no longer references — the garbage OPTIMIZE,
    DELETE, and overwrites leave behind — EXCEPT files still inside
    the retention grace period (Delta proper's rule): a tombstoned
    file whose ``deletionTimestamp`` is younger than the retention,
    or an untracked orphan whose mtime is (a concurrent writer's
    in-flight data files must not look like garbage). Time travel to
    versions whose files are vacuumed stops working, exactly as in
    Delta proper. Crashed writers' ``.staging-*`` dirs and unpublished
    ``_delta_log/.tmp-*`` files are reaped once they are a day old,
    whatever ``retention_ms`` says, so a live writer's never are.
    Returns the deleted (or, with ``dry_run``, deletable) paths
    relative to the table root.

    ``retention_ms`` defaults to the table property
    ``delta.deletedFileRetentionDuration`` when set, else 0 — the
    pre-r9 exporter-grade behavior (no concurrent readers to grace)
    stays the default for tables that never declared a retention.

    Driver-side metadata + unlink only: referenced-set construction
    is one log replay, candidate listing is one directory walk."""
    from feature_store_spark.sources.roaring import dv_file_path

    t = DeltaTable(spark, table_dir)
    meta, adds, _ = t._state(None)
    if retention_ms is None:
        retention_ms = _parse_interval_ms(
            (meta.get("configuration") or {}).get(
                "delta.deletedFileRetentionDuration"
            )
        ) or 0
    now_ms = int(time.time() * 1000)
    cutoff = now_ms - int(retention_ms)
    tomb_ts = {
        os.path.normpath(r["path"]): int(r.get("deletionTimestamp") or 0)
        for r in t.tombstones()
    }
    referenced: set[str] = set()
    for a in adds:
        referenced.add(os.path.normpath(a["path"]))
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            # SAME resolver the scan-time loader uses — a live DV,
            # relative or absolute, must never look like garbage
            referenced.add(
                os.path.normpath(
                    os.path.relpath(
                        dv_file_path(t.path, dv), t.path
                    )
                )
            )
    doomed: list[str] = []
    for root, dirs, files in os.walk(t.path):
        dirs[:] = [
            d for d in dirs
            if d != "_delta_log" and not d.startswith(".")
        ]
        for name in files:
            if not (
                name.endswith(".parquet")
                or (name.startswith("deletion_vector_")
                    and name.endswith(".bin"))
            ):
                continue
            rel = os.path.normpath(
                os.path.relpath(os.path.join(root, name), t.path)
            )
            if rel in referenced:
                continue
            if retention_ms > 0:
                ts = tomb_ts.get(rel)
                if ts is None:
                    # untracked orphan: grace by mtime (a concurrent
                    # writer's staged-but-uncommitted file)
                    ts = int(
                        os.path.getmtime(os.path.join(t.path, rel)) * 1000
                    )
                if ts > cutoff:
                    continue  # inside the retention window
            doomed.append(rel)

    def stale(rel: str) -> bool:
        try:
            mtime = os.path.getmtime(os.path.join(t.path, rel))
        except OSError:
            return False  # its writer finished and removed it
        return mtime <= now_ms / 1000 - _DEBRIS_GRACE_S

    # crashed writers' debris: staging dirs under the root and
    # unpublished commit temp files in the log. A live writer's are
    # minutes old at most, whatever the data-file retention says.
    debris = [
        rel
        for rel in [n for n in os.listdir(t.path)
                    if n.startswith(".staging-")]
        + [os.path.join("_delta_log", n)
           for n in os.listdir(t.log_dir) if n.startswith(".tmp-")]
        if stale(rel)
    ]
    if not dry_run:
        for rel in doomed:
            os.remove(os.path.join(t.path, rel))
        for rel in debris:
            p = os.path.join(t.path, rel)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
    return sorted(doomed + debris)


def delta_checkpoint(spark: SparkSession, table_dir: str) -> int:
    """Write a classic single-file parquet CHECKPOINT of the table's
    latest state (``%020d.checkpoint.parquet`` + ``_last_checkpoint``)
    so replay cost stops growing with commit count — the log-compaction
    move every long-running Delta sink needs. Spec-shaped columns:
    ``partitionValues``/``configuration`` are parquet MAPs, protocol
    feature lists are arrays, add actions keep their stats JSON and
    deletionVector descriptor, and un-expired remove TOMBSTONES are
    carried (spec retention window — ADVICE r8). Returns the
    checkpointed version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = DeltaTable(spark, table_dir)
    version = t.latest_version()
    meta, adds, txns = t._state(version)
    protocol = t._protocol(version)

    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    schema = pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        (
                            "format",
                            pa.struct([("provider", pa.string())]),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        (
                            "configuration",
                            pa.map_(pa.string(), pa.string()),
                        ),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        (
                            "partitionValues",
                            pa.map_(pa.string(), pa.string()),
                        ),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        ("deletionVector", dv_t),
                    ]
                ),
            ),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                        (
                            "partitionValues",
                            pa.map_(pa.string(), pa.string()),
                        ),
                        ("size", pa.int64()),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct(
                    [("appId", pa.string()), ("version", pa.int64())]
                ),
            ),
        ]
    )
    rows: list[dict] = [
        {
            "protocol": {
                "minReaderVersion": protocol.get("minReaderVersion", 1),
                "minWriterVersion": protocol.get("minWriterVersion", 2),
                "readerFeatures": protocol.get("readerFeatures"),
                "writerFeatures": protocol.get("writerFeatures"),
            }
        },
        {
            "metaData": {
                "id": meta["id"],
                "format": {"provider": "parquet"},
                "schemaString": meta["schemaString"],
                "partitionColumns": meta.get("partitionColumns") or [],
                "configuration": list(
                    (meta.get("configuration") or {}).items()
                ),
            }
        },
    ]
    for app_id, v in sorted(txns.items()):
        rows.append({"txn": {"appId": app_id, "version": int(v)}})
    for a in adds:
        dv = a.get("deletionVector")
        rows.append(
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": list(
                        (a.get("partitionValues") or {}).items()
                    ),
                    "size": a.get("size"),
                    "modificationTime": a.get("modificationTime") or 0,
                    "dataChange": False,
                    "stats": a.get("stats"),
                    "deletionVector": (
                        {
                            "storageType": dv["storageType"],
                            "pathOrInlineDv": dv["pathOrInlineDv"],
                            "offset": dv.get("offset"),
                            "sizeInBytes": int(dv["sizeInBytes"]),
                            "cardinality": int(dv["cardinality"]),
                        }
                        if dv
                        else None
                    ),
                }
            }
        )
    # spec: a checkpoint must carry UN-EXPIRED remove tombstones
    # (delta.deletedFileRetentionDuration, default 1 week) so readers
    # and VACUUM tooling replaying from it keep tombstone visibility.
    # Unstamped tombstones (deletionTimestamp missing/0, legacy logs)
    # are KEPT — dropping is only licensed by proven expiry.
    retention_ms = _parse_interval_ms(
        (meta.get("configuration") or {}).get(
            "delta.deletedFileRetentionDuration"
        )
    )
    if retention_ms is None:
        retention_ms = 7 * 24 * 3600 * 1000
    cutoff = int(time.time() * 1000) - retention_ms
    for rem in t.tombstones(version):
        ts = int(rem.get("deletionTimestamp") or 0)
        if 0 < ts < cutoff:
            continue  # provably expired
        rows.append(
            {
                "remove": {
                    "path": rem["path"],
                    "deletionTimestamp": ts,
                    "dataChange": bool(rem.get("dataChange", True)),
                    "partitionValues": list(
                        (rem.get("partitionValues") or {}).items()
                    ),
                    "size": rem.get("size"),
                }
            }
        )
    log_dir = os.path.join(table_dir, "_delta_log")
    ck = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    tmp = ck + ".tmp"
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    os.replace(tmp, ck)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)
    return version


def _checkpoint_due(
    spark: SparkSession, table_dir: str, version: int, every: int | None = 10
) -> None:
    """Checkpoint after every ``every``-th commit (the standard Delta
    cadence), so a long-running writer never makes its readers replay
    an unbounded JSON log."""
    if every and version > 0 and version % int(every) == 0:
        delta_checkpoint(spark, table_dir)


def delta_append_sink(
    table_dir: str,
    app_id: str,
    partition_cols: list[str] | None = None,
    checkpoint_every: int | None = 10,
):
    """foreachBatch body: exactly-once micro-batch appends into a
    Delta table via the protocol's txn action — crash after commit +
    checkpoint loss redelivers the batch, and the recorded (app_id,
    batch_id) high-water mark turns the redelivery into a no-op.

    ``checkpoint_every=N`` writes a parquet checkpoint after every
    Nth commit (the standard Delta cadence), so a long-running stream
    does not make every future reader replay an unbounded JSON log."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        v = delta_append(
            batch_df,
            table_dir,
            partition_cols=partition_cols,
            txn=(app_id, int(batch_id)),
        )
        _checkpoint_due(batch_df.sparkSession, table_dir, v, checkpoint_every)

    return sink


def delta_upsert_sink(
    table_dir: str,
    app_id: str,
    keys: list[str],
    op_col: str | None = None,
    latest_by: str | None = None,
    checkpoint_every: int | None = 10,
):
    """foreachBatch body: exactly-once micro-batch CDC MERGE into a
    Delta table — each batch lands through :func:`delta_upsert`
    (latest-wins by key, optional ``op_col`` delete rows), carrying
    the protocol's txn action so a redelivered batch after a crash +
    checkpoint loss is a no-op. The streaming twin of the Flink
    Iceberg CDC sink, in the Delta format.

    ``latest_by``: micro-batch boundaries are arbitrary, so one batch
    can legally carry several versions of a key (delta_upsert would
    refuse). Naming the CDC order column (LSN / source timestamp)
    keeps only each key's latest row per batch — and REFUSES on a
    tie at the top (two rows claiming the same latest position is a
    feed bug; picking one silently would be nondeterministic
    replay)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        b = _latest_per_key(
            batch_df, keys, latest_by, batch_id, "delta_upsert_sink"
        )
        v, _n = delta_upsert(
            b,
            table_dir,
            keys=list(keys),
            txn=(app_id, int(batch_id)),
            op_col=op_col,
        )
        _checkpoint_due(batch_df.sparkSession, table_dir, v, checkpoint_every)

    return sink


def _latest_per_key(
    b: DataFrame,
    keys: list[str],
    latest_by: str | None,
    batch_id: int,
    label: str,
) -> DataFrame:
    """Keep each key's latest row per micro-batch by the CDC order
    column (micro-batch boundaries are arbitrary, so one batch can
    legally carry several versions of a key); REFUSES on a tie at
    the top — two rows claiming the same latest position is a feed
    bug, and picking one silently would be nondeterministic replay.
    Shared by delta_upsert_sink and delta_merge_sink."""
    from pyspark.sql import Window, functions as F

    if latest_by is None:
        return b
    w = Window.partitionBy(*list(keys)).orderBy(
        F.col(latest_by).desc()
    )
    ranked = (
        b.withColumn("__rn", F.row_number().over(w))
        .withColumn("__rk", F.rank().over(w))
    )
    tie = (
        ranked.filter((F.col("__rn") == 2) & (F.col("__rk") == 1))
        .limit(1)
        .collect()
    )
    if tie:
        kv = {k: tie[0][k] for k in keys}
        raise ValueError(
            f"{label}: key {kv} has two rows tied on "
            f"{latest_by!r} in batch {batch_id} — the latest row is "
            "ambiguous; fix the feed's order column"
        )
    return ranked.filter(F.col("__rn") == 1).drop("__rn", "__rk")


def delta_merge_sink(
    table_dir: str,
    app_id: str,
    keys: list[str],
    when_matched: list[dict] | None = None,
    insert: bool = True,
    insert_condition: str | None = None,
    when_not_matched_by_source: list[dict] | None = None,
    evolve: bool = False,
    latest_by: str | None = None,
    checkpoint_every: int | None = 10,
):
    """foreachBatch body: exactly-once micro-batch CONDITIONAL MERGE
    — each batch lands through :func:`delta_merge` (arm-ordered
    conditional / partial-column updates, deletes, conditional
    inserts, optional by-source arms and schema evolution) carrying
    the txn action, so a redelivered batch after a crash + checkpoint
    loss is a no-op. The streaming twin of delta_upsert_sink for
    feeds whose semantics don't fit full-row replacement. ``latest_by``
    behaves as in :func:`delta_upsert_sink`. A quiet micro-batch
    (nothing fired, nothing staged) still records its txn watermark
    in one small commit — exactly-once bookkeeping must advance even
    when the data doesn't.

    An EMPTY micro-batch disarms the by-source arms for that batch:
    in a stream, an empty batch is a scheduling artifact, not an
    upstream statement that the snapshot is empty — letting an
    unconditional ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` see it
    would silently wipe the table on an idle trigger. A genuinely
    empty snapshot sync belongs in a direct :func:`delta_merge`
    call, where passing an empty frame is an explicit decision."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        b = _latest_per_key(
            batch_df, keys, latest_by, batch_id, "delta_merge_sink"
        )
        by_src = when_not_matched_by_source
        if by_src and b.isEmpty():
            by_src = None
        v, _nu, _nd, _ni = delta_merge(
            b,
            table_dir,
            keys=list(keys),
            when_matched=when_matched,
            insert=insert,
            insert_condition=insert_condition,
            when_not_matched_by_source=by_src,
            evolve=evolve,
            txn=(app_id, int(batch_id)),
        )
        _checkpoint_due(batch_df.sparkSession, table_dir, v, checkpoint_every)

    return sink


def delta_delete_where(
    spark: SparkSession,
    table_dir: str,
    filters: list[tuple],
) -> tuple[int, int]:
    """Merge-on-read ``DELETE WHERE`` via DELETION VECTORS on a Delta
    table: no data file is rewritten — each affected file's matching
    row ordinals are recorded as a RoaringBitmapArray in ONE
    ``deletion_vector_<uuid>.bin`` file (PROTOCOL.md format, built by
    sources/roaring.py), and the commit re-adds the file with the DV
    descriptor attached (storageType ``u``). The right physics at
    100 TB, exactly like iceberg_delete_where: a delete touches a
    sliver of a huge table and rewriting parquet for it is wasted I/O.

    Files that already carry a DV get the union of old + new
    positions (bitmaps merge; the old DV file becomes garbage for
    VACUUM). The commit upgrades the protocol to reader 3 / writer 7
    with the required feature lists. Returns
    ``(commit_version, rows_newly_deleted)``.

    Matching rows' ordinals ARE collected to the driver — bounded by
    the delete's own size (the sliver), not the table; a delete big
    enough to strain the driver is a job for copy-on-write rewrite,
    not DVs."""
    t = DeltaTable(spark, table_dir)
    version = t.latest_version() + 1
    meta, _, _ = t._state(None)
    _writer_feature_gate(
        t, meta, "delta_delete_where", mutates=True, adds_rows=False
    )
    mode, _fields = t._mapping(meta)
    adds = t.data_files(None, filters)
    if not adds:
        raise ValueError(
            f"{table_dir}: DELETE WHERE matched no files — nothing "
            "committed"
        )
    df = t._assemble(adds, meta)
    for f in filters:
        df = df.filter(_Filter(*f).sql())
    kill_actions, n_new = _dv_kill(
        t, table_dir, [df.select("__fp", "__pos")], mode
    )
    if not kill_actions:
        raise ValueError(
            f"{table_dir}: DELETE WHERE matched no live rows — "
            "nothing committed (the table version is unchanged)"
        )
    _claim_or_raise(
        table_dir, version, _commit_actions("DELETE", kill_actions), "DELETE"
    )
    return version, n_new


def _is_table(table_dir: str) -> bool:
    """A Delta table exists at ``table_dir``: its log holds a commit or
    a checkpoint. A log whose JSON prefix was compacted away is still a
    table, and reading it as missing would downgrade a MERGE to a plain
    append."""
    log_dir = os.path.join(table_dir, "_delta_log")
    return os.path.isdir(log_dir) and any(
        (n.endswith(".json") and n[:-5].isdigit())
        or re.match(r"\d{20}\.checkpoint(\.|$)", n)
        for n in os.listdir(log_dir)
    )


def _conform(m, table_dir: str, meta: dict, src: DataFrame,
             evolve: bool = False) -> list[dict]:
    """The planner's schema check on Delta types, nullability stripped
    (:func:`_norm_type`). Returns the spark-schema field dicts of the
    source columns the table lacks."""
    fields = json.loads(src.schema.json())["fields"]
    added = m.conform(
        table_dir,
        {
            f["name"]: _norm_type(f["type"])
            for f in json.loads(meta["schemaString"])["fields"]
        },
        {f["name"]: _norm_type(f["type"]) for f in fields},
        evolve,
        "delta_merge(evolve=True) or delta_append(merge_schema=True)",
    )
    return [f for f in fields if f["name"] in added]


def _merge_commit(
    t: DeltaTable,
    table_dir: str,
    version: int,
    meta: dict,
    kills: list[DataFrame],
    to_stage: DataFrame | None,
    txn: tuple[str, int] | None,
    evolved: dict | None = None,
    post_validate=None,
) -> tuple[int, int, int]:
    """Delta's MERGE tail: kill the rows each ``kills`` frame names by
    (``__fp``, ``__pos``) through one deletion-vector file, stage
    ``to_stage`` under the table's column mapping, and claim ``version``
    as one MERGE commit. ``evolved`` is a schema-evolution ``metaData``
    action committed ahead of the files. Returns ``(version, rows
    newly killed, rows staged)``. With nothing to kill, land or record
    it commits nothing and returns the current version.

    MERGE does not commute: a rival commit may have added files
    carrying the merge's keys or re-DV'd the files it re-adds, so a
    lost race raises instead of retrying at the next version."""
    actions: list[dict] = []
    if evolved is not None:
        # replay order makes the widened schema current before any
        # reader sees the files that first carry the new columns
        actions.append(evolved)
        meta = evolved["metaData"]
    mapping = t._mapping(meta)
    kill_actions, n_killed = _dv_kill(t, table_dir, kills, mapping[0])
    actions.extend(kill_actions)
    n_staged = 0
    if to_stage is not None:
        # an empty frame stages nothing: the commit kernel drops
        # zero-row part files
        staged = _stage_adds(
            to_stage,
            table_dir,
            version,
            meta.get("partitionColumns") or [],
            mapping,
            post_write_validate=post_validate,
        )
        n_staged = sum(
            json.loads(a["add"]["stats"])["numRecords"] for a in staged
        )
        actions.extend(staged)
    if not actions and txn is None:
        # nothing fired, nothing lands, no watermark to record: a pure
        # commitInfo MERGE every quiet micro-batch would churn the log
        return t.latest_version(), 0, 0
    _claim_or_raise(
        table_dir, version, _commit_actions("MERGE", actions, txn=txn), "MERGE"
    )
    return version, n_killed, n_staged


def delta_upsert(
    df: DataFrame,
    table_dir: str,
    keys: list[str],
    partition_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    op_col: str | None = None,
) -> tuple[int, int]:
    """Keyed upsert as ONE Delta commit, the CDC sink verb: every live
    target row whose key tuple appears in ``df`` dies through a deletion
    vector on its existing file (no data file rewritten), and each of
    ``df``'s rows lands once as a new data file. A key held by two live
    target rows therefore lands one row, where ``UPDATE SET *`` would
    land two. Conditional and partial-column arms live in
    :func:`delta_merge`; both share the planner in
    :mod:`feature_store_spark.sources.merge`.

    Generated columns absent from ``df`` are computed from the incoming
    row, and invariants and CHECK constraints bind the landed rows;
    append-only tables refuse. Refusals: duplicate key tuples in ``df``,
    schema drift (upsert does not evolve), a ``partition_cols`` that is
    not the table's, a lost commit race.

    ``op_col`` makes the batch a full CDC feed: rows whose ``op_col`` is
    ``d`` / ``delete`` (case-insensitive) only kill their key, and every
    other row upserts. The op column is dropped before writing. A key
    carried by both a delete row and an upsert row refuses as a
    duplicate.

    ``txn=(app_id, version)`` makes a redelivered batch a no-op, the
    :func:`delta_append` handshake. The first call on a missing table
    creates it through :func:`delta_append`.

    Returns ``(commit_version, target_rows_replaced)``, counting rows
    killed by upserts and deletes alike."""
    m = Merge(df, keys, "delta_upsert")
    is_live = None
    if op_col is not None:
        if op_col not in df.columns:
            raise ValueError(
                f"delta_upsert: op_col {op_col!r} not in the source "
                f"frame (columns: {df.columns})"
            )
        if op_col in keys:
            raise ValueError(
                f"delta_upsert: op_col {op_col!r} cannot be a key"
            )
        is_live = ~F.coalesce(
            F.lower(F.col(op_col).cast("string")).isin("d", "delete"),
            F.lit(False),
        )
    spark = df.sparkSession
    t = DeltaTable(spark, table_dir) if _is_table(table_dir) else None
    if t is not None and txn is not None and t.txn_version(txn[0]) >= int(
        txn[1]
    ):
        # a redelivered batch is a no-op, decided before any Spark job
        return t.latest_version(), 0
    with m:
        m.load(is_live)
        live = m.df if op_col is None else m.df.filter(is_live).drop(op_col)
        if t is None:
            v = delta_append(
                live, table_dir, partition_cols=partition_cols, txn=txn
            )
            return v, 0
        version = t.latest_version() + 1
        meta, _, _ = t._state(None)
        # the rule checks are observed on the staging write: an empty
        # live frame stages nothing and so violates nothing
        constraints = _writer_feature_gate(
            t, meta, "delta_upsert", mutates=True, full_rows=True
        )
        gens, invs = _generation_rules(meta, table_dir)
        live, gen_checks = _compute_generated_columns(live, gens)
        check_exprs, check_validate = _deferred_rule_checks(
            gen_checks, invs, constraints, table_dir, "delta_upsert"
        )
        post_validate = None
        if check_exprs:
            obs = Observation()
            live = live.observe(obs, *check_exprs)
            post_validate = lambda: check_validate(obs.get)  # noqa: E731
        tbl_parts = meta.get("partitionColumns") or []
        if partition_cols is not None and list(partition_cols) != list(
            tbl_parts
        ):
            raise ValueError(
                f"{table_dir}: table is partitioned by {tbl_parts}; "
                f"upsert passed partition_cols={list(partition_cols)}"
            )
        _conform(m, table_dir, meta, live)
        # the kill rule: every row of a batch key dies, read through
        # the key-pruned target (dead rows too: the tail counts only
        # rows not already dead)
        adds = t.data_files(None, m.filters) if not m.empty else []
        kills = []
        if adds:
            kills.append(
                t._assemble(adds, meta)
                .join(
                    F.broadcast(m.df.select(*keys)),
                    on=list(keys),
                    how="leftsemi",
                )
                .select("__fp", "__pos")
            )
        v, n_replaced, _ = _merge_commit(
            t,
            table_dir,
            version,
            meta,
            kills,
            live if m.n_live else None,
            txn,
            post_validate=post_validate,
        )
    return v, n_replaced


def _dv_kill(
    t: DeltaTable,
    table_dir: str,
    kills: list[DataFrame],
    mode: str,
) -> tuple[list[dict], int]:
    """The deletion-vector kill path of DELETE and MERGE: collect the
    union of the ``kills`` frames of (``__fp``, ``__pos``) in one job,
    merge each touched file's positions with its old DV, and mint ONE
    deletion-vector file for the files that gain a kill. Returns the
    protocol-upgrade + remove/re-add body for :func:`_commit_actions`
    (none when no live row dies) and the number of rows newly
    killed.

    The collect is bounded by the verb's own matched rows (the sliver),
    not the table; a kill set big enough to strain the driver is a job
    for a copy-on-write rewrite, not DVs."""
    from feature_store_spark.sources.roaring import (
        write_dv_file,
        z85_encode,
    )

    if not kills:
        return [], 0
    hits = reduce(DataFrame.unionByName, kills).toPandas()
    by_file: dict[str, set[int]] = {}
    for fp, pos in zip(hits["__fp"], hits["__pos"]):
        by_file.setdefault(fp, set()).add(int(pos))
    affected: list[tuple[dict, list[int], int]] = []
    n_killed = 0
    for add in t.data_files() if by_file else []:
        new = by_file.get(t._abs(add))
        if not new:
            continue
        old = set(t._dv_positions(add).tolist())
        merged = sorted(old | new)
        if len(merged) > len(old):
            n_killed += len(merged) - len(old)
            affected.append((add, merged, len(merged)))
    if not affected:
        return [], 0
    actions: list[dict] = []
    dv_uuid = uuid.uuid4()
    dv_path = os.path.join(table_dir, f"deletion_vector_{dv_uuid}.bin")
    descs = write_dv_file(dv_path, [m for _, m, _ in affected])
    # protocol upgrade only when DVs are actually minted; UNION with
    # the existing feature lists (replay takes the LAST protocol
    # action — replacing would drop declared features)
    prev = t._protocol(None)
    r_feats = {"deletionVectors"} | set(prev.get("readerFeatures") or [])
    w_feats = {"deletionVectors"} | set(prev.get("writerFeatures") or [])
    if mode != "none":
        r_feats.add("columnMapping")
        w_feats.add("columnMapping")
    actions.append(
        {
            "protocol": {
                "minReaderVersion": max(
                    3, int(prev.get("minReaderVersion") or 1)
                ),
                "minWriterVersion": max(
                    7, int(prev.get("minWriterVersion") or 1)
                ),
                "readerFeatures": sorted(r_feats),
                "writerFeatures": sorted(w_feats),
            }
        }
    )
    for (add, _m, card), (off, sz, _c) in zip(affected, descs):
        actions.append({"remove": add})
        new_add = dict(add)
        new_add["dataChange"] = True
        new_add["deletionVector"] = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(dv_uuid.bytes),
            "offset": off,
            "sizeInBytes": sz,
            "cardinality": card,
        }
        actions.append({"add": new_add})
    return actions, n_killed


def delta_merge(
    df: DataFrame,
    table_dir: str,
    keys: list[str],
    when_matched: list[dict] | None = None,
    insert: bool = True,
    insert_condition: str | None = None,
    when_not_matched_by_source: list[dict] | None = None,
    evolve: bool = False,
    txn: tuple[str, int] | None = None,
) -> tuple[int, int, int, int]:
    """Conditional / partial-column MERGE as ONE Delta commit. The arm
    grammar, ``evolve`` and the refusals are the planner's, stated once
    in :mod:`feature_store_spark.sources.merge`.

    Delta physics: fired target rows die through deletion vectors on
    their existing files (no data file rewritten); their (file,
    ordinal) pairs are collected to the driver, bounded by the merge's
    fired rows, not the table. Replacement and insert rows land as new
    data files with footer stats, and schema evolution rides in the
    same commit (fresh field ids and physical names in mapped tables),
    so :func:`delta_changes` reads the commit exactly. CHECK constraints
    bind every landed row. A lost commit race refuses.

    ``txn=(app_id, version)`` makes a redelivered batch a no-op; a quiet
    batch that must advance the watermark commits it alone. The first
    call on a missing table creates it with the insert arm's rows.

    Returns ``(commit_version, n_updated, n_deleted, n_inserted)``. A
    merge where nothing fires, nothing inserts and no ``txn`` needs
    recording commits nothing and returns the current version."""
    m = Merge(
        df, keys, "delta_merge", when_matched, insert, insert_condition,
        when_not_matched_by_source,
    )
    spark = df.sparkSession
    t = DeltaTable(spark, table_dir) if _is_table(table_dir) else None
    if t is not None and txn is not None and t.txn_version(txn[0]) >= int(
        txn[1]
    ):
        # a redelivered batch is a no-op, decided before any Spark job
        return t.latest_version(), 0, 0, 0
    with m:
        m.load()
        if t is None:
            ins, n = m.inserts_only(table_dir)
            return delta_append(ins, table_dir, txn=txn), 0, 0, n
        version = t.latest_version() + 1
        meta, _, _ = t._state(None)
        if m.quiet:
            # a quiet batch's schema is checked before its txn is
            # recorded, as a non-empty batch's is
            _conform(m, table_dir, meta, m.df, evolve)
            v, _, _ = _merge_commit(t, table_dir, version, meta, [], None, txn)
            return v, 0, 0, 0
        constraints = _writer_feature_gate(
            t, meta, "delta_merge", mutates=True
        )
        added = _conform(m, table_dir, meta, m.df, evolve)
        evolved = None
        if added:
            mode, map_fields = t._mapping(meta)
            evolved = _evolve_delta_schema(meta, added, mode, map_fields)

        def live_target(filters):
            adds = t.data_files(None, filters)
            return t._assemble_live(adds, meta) if adds else None

        m.plan(live_target, ["__fp", "__pos"])
        to_stage = m.to_stage()
        post_validate = None
        if to_stage is not None and constraints:
            # CHECK constraints bind every row this merge lands,
            # observed on the staging write
            exprs, validate = _deferred_rule_checks(
                [], [], constraints, table_dir, "delta_merge"
            )
            obs = Observation()
            to_stage = to_stage.observe(obs, *exprs)
            post_validate = lambda: validate(obs.get)  # noqa: E731
        v, _, n_staged = _merge_commit(
            t, table_dir, version, meta, m.kills, to_stage, txn,
            evolved, post_validate,
        )
    if v != version:
        return v, 0, 0, 0
    return v, m.n_updated, m.n_deleted, n_staged - m.n_updated


def delta_restore(
    spark: SparkSession,
    table_dir: str,
    version: int,
) -> tuple[int, int, int]:
    """``RESTORE TABLE ... TO VERSION AS OF v`` as ONE commit — the
    rollback verb (bad batch landed, revert the table state without
    losing history). Pure metadata: the commit removes every file
    (path + DV state) live now but not at ``version`` and re-adds
    every file live at ``version`` but not now (including files whose
    deletion vector GREW since — restoring un-deletes those rows by
    re-adding the old DV state). No data is rewritten; time travel to
    the in-between versions still works.

    Refuses when a file the target version needs no longer exists on
    disk (VACUUM already reclaimed it) — a restore that silently
    resurrects a missing file corrupts every later scan.

    Returns ``(commit_version, files_removed, files_restored)``."""
    t = DeltaTable(spark, table_dir)
    cur_v = t.latest_version()
    if version == cur_v:
        raise ValueError(
            f"{table_dir}: already at version {version} — nothing to "
            "restore"
        )
    meta_t, adds_t, _ = t._state(version)
    meta_c, adds_c, _ = t._state(None)
    # RESTORE removes files live now (rewrites history's tip):
    # append-only tables refuse, unknown writer features refuse. The
    # restored rows themselves were a prior committed state — no
    # fresh-row constraint enforcement needed.
    _writer_feature_gate(
        t, meta_c, "delta_restore", mutates=True, adds_rows=False
    )

    cur_by_path = {a["path"]: a for a in adds_c}
    tgt_by_path = {a["path"]: a for a in adds_t}
    gone_paths = [
        p
        for p in tgt_by_path
        if not os.path.exists(os.path.join(t.path, p))
    ]
    # the target adds' deletion-vector .bin files are needs too: a
    # DV descriptor pointing at a bin delta_vacuum already reclaimed
    # would commit fine and then fail EVERY later scan of that file
    # (advice r11) — refuse up front, same contract as data files
    from feature_store_spark.sources.roaring import dv_file_path

    gone_paths += sorted(
        {
            os.path.relpath(dvp, t.path)
            for a in adds_t
            if a.get("deletionVector")
            # inline DVs ("i") live in the descriptor itself
            and a["deletionVector"].get("storageType") in ("u", "p")
            for dvp in [dv_file_path(t.path, a["deletionVector"])]
            if not os.path.exists(dvp)
        }
    )
    if gone_paths:
        raise ValueError(
            f"{table_dir}: cannot restore to version {version} — "
            f"{len(gone_paths)} file(s) it needs (data or deletion-"
            f"vector) were vacuumed (e.g. {gone_paths[0]!r})"
        )
    removes = [p for p in cur_by_path if p not in tgt_by_path]
    readds = [
        a
        for p, a in tgt_by_path.items()
        if p not in cur_by_path
        or _dv_key(cur_by_path[p]) != _dv_key(a)
    ]
    if not removes and not readds and meta_t == meta_c:
        raise ValueError(
            f"{table_dir}: table state at {cur_v} already equals "
            f"version {version} — nothing to restore"
        )
    actions: list[dict] = []
    if meta_t != meta_c:
        # RESTORE also restores the table definition (schema,
        # partitioning, configuration) — protocol is NOT downgraded
        # (the spec forbids it; old readers of the restored schema
        # still need the current feature set to read the log)
        actions.append({"metaData": meta_t})
    actions += [{"remove": cur_by_path[p]} for p in removes]
    for a in readds:
        if a["path"] in cur_by_path:
            # DV state changed: remove+add pair, the same convention
            # delta_delete_where commits (replay alone would accept a
            # bare re-add, but external readers expect the pair)
            actions.append({"remove": cur_by_path[a["path"]]})
        actions.append({"add": {**a, "dataChange": True}})
    next_v = cur_v + 1
    _claim_or_raise(
        table_dir,
        next_v,
        _commit_actions(
            "RESTORE", actions, {"version": str(int(version))}
        ),
        "RESTORE",
    )
    return next_v, len(removes), len(readds)


def _json_stat(v):
    """Parquet footer stat -> JSON-encodable delta stat value (skip
    types delta stats don't carry losslessly here)."""
    import datetime

    if isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (bytes, bytearray)):
        try:
            return bytes(v).decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return None  # timestamps prune via partitions here
    return None
