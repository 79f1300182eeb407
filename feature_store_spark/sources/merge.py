"""``MERGE INTO`` planned once for Delta and Iceberg.

Arm grammar (Delta's ``MERGE INTO``). ``keys`` name the match columns.
``when_matched`` is an ordered list of arms, each a dict::

    {"condition": "<sql over src.*/tgt.*>" | None,
     "action": "update",
     "set": {"col": "<sql over src.*/tgt.*>", ...} | None}
    {"condition": ..., "action": "delete"}

For each live target row whose key tuple matches a source row, the
arms are tried in order and the first whose condition is true fires
(NULL reads as false). If none fires, the target row survives untouched
and the source row is consumed. ``set`` updates only the named columns;
every other column keeps the target value. ``set=None`` is ``UPDATE SET
*``. Only the last arm may omit its condition, since an earlier
unconditional arm would shadow the rest. ``insert`` adds ``WHEN NOT
MATCHED [AND insert_condition] THEN INSERT *`` for source rows whose key
matches no live target row.

``when_not_matched_by_source`` arms have the same shape, but their
conditions and SETs speak ``tgt.*`` only: they apply to live target rows
whose key the batch lacks (the snapshot-sync form). They read the whole
live table, because no smaller correct read exists, and an update arm
needs an explicit ``set``: there is no source row for ``SET *``.

``evolve=True`` appends source columns unknown to the table as nullable
columns in the same commit; rows the merge does not rewrite read NULL
for them. Type changes and missing table columns always refuse: INSERT *
and UPDATE SET * need the full row.

Refusals: empty keys, a merge that can change nothing, duplicate source
key tuples (which row's arms win is undefined), SET on a merge key, SET
of an unknown column, a non-last unconditional arm, a by-source update
arm without ``set``, schema drift.

Scale shape. The batch is materialized once, each row tagged with its
key's row count by one window over the keys (one shuffle). Metrics
observed on that checkpoint answer the duplicate-key refusal, emptiness
and the per-key min/max that prune the target scan, so the checks cost
no job of their own. The matched probe broadcasts the batch against the
pruned live target; arm predicates and SET expressions are Catalyst
expressions inside that one join. Per-arm counts are observed on the
probe's materialization, so they cost no job of their own. The key sets
broadcast under semi and anti joins are not de-duplicated: such a join
returns the same rows either way, and a ``distinct`` costs a shuffle.

Division of labour. :class:`Merge` owns everything above. A format hands
:meth:`Merge.plan` its live target frame and the columns that identify a
killed row, and keeps table existence, the txn redelivery read, its
schema metadata, its kill encoding and its commit. When the kill
identity is the merge key (Iceberg equality deletes), killing a key
kills every live row that carries it, so the planner carries the unfired
siblings of a fired key back into the rows to land; a positional
identity (Delta's ``__fp``/``__pos`` deletion vectors) needs no carry.

Every frame the planner materializes is released when the ``with Merge``
block exits, whether the merge commits or refuses.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def release(*frames: DataFrame) -> None:
    """Free the blocks of localCheckpointed frames. ``DataFrame.unpersist``
    does not reach them: the checkpointed RDD sits under the frame's
    ``LogicalRDD`` plan, and only unpersisting that RDD frees it."""
    for f in frames:
        f._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _validate_arms(
    arms: list[dict], keys: list[str], label: str, verb: str
) -> tuple[dict[int, dict | None], set[int]]:
    """Shape-check an ordered arm list. Returns ``({arm: set map, or
    None for SET *}, {delete arms})`` with 1-based arm indexes."""
    upd: dict[int, dict | None] = {}
    dels: set[int] = set()
    for i, arm in enumerate(arms, start=1):
        action = arm.get("action")
        if action not in ("update", "delete"):
            raise ValueError(
                f"{verb}: {label} arm {i} action must be "
                f"'update' or 'delete', got {action!r}"
            )
        if arm.get("condition") is None and i != len(arms):
            raise ValueError(
                f"{verb}: {label} arm {i} has no condition but "
                "is not the last arm — it would shadow every arm "
                "after it (Delta's MERGE rule)"
            )
        if action == "delete":
            if arm.get("set"):
                raise ValueError(
                    f"{verb}: {label} arm {i} is a delete — "
                    "'set' is meaningless"
                )
            dels.add(i)
            continue
        s = arm.get("set")
        bad = sorted(set(s or ()) & set(keys))
        if bad:
            raise ValueError(
                f"{verb}: {label} arm {i} SETs merge key(s) {bad} — "
                "rewriting the match key under a merge is ambiguous"
            )
        upd[i] = dict(s) if s is not None else None
    return upd, dels


def _arm_case(arms: list[dict]) -> Column:
    """The index of the first arm whose condition holds, 0 for none."""
    case = None
    for i, arm in enumerate(arms, start=1):
        cond = arm.get("condition")
        cond = F.expr(cond) if cond is not None else F.lit(True)
        case = F.when(cond, i) if case is None else case.when(cond, i)
    return case.otherwise(0).alias("__arm")


def _isin(arms) -> Column:
    return F.col("__arm").isin(list(arms)) if arms else F.lit(False)


def _replacements(frame: DataFrame, upd: dict, cols: list[str]) -> DataFrame:
    """The rows the update arms land: each column takes the fired arm's
    SET expression, the source value under SET *, or else the target
    value."""
    out = []
    for c in cols:
        e = None
        for i, s in upd.items():
            v = F.col(
                f"__s_{c}" if s is None
                else f"__a{i}_{c}" if c in s
                else f"__t_{c}"
            )
            hit = F.col("__arm") == i
            e = F.when(hit, v) if e is None else e.when(hit, v)
        out.append(e.alias(c))
    return frame.filter(_isin(upd)).select(*out)


class Merge:
    """One MERGE over a source batch, used as a context manager: every
    frame it materializes is released when the block exits.

    A format calls :meth:`load`, then either :meth:`inserts_only` (no
    table yet) or :meth:`conform` and :meth:`plan`, and commits
    :attr:`kills` and :meth:`to_stage` in its own encoding."""

    def __init__(
        self,
        df: DataFrame,
        keys: list[str],
        verb: str,
        when_matched: list[dict] | None = None,
        insert: bool = True,
        insert_condition: str | None = None,
        by_source: list[dict] | None = None,
    ):
        self.df, self.keys, self.verb = df, list(keys), verb
        self.when_matched = list(when_matched or [])
        self.by_source = list(by_source or [])
        self.insert, self.insert_condition = insert, insert_condition
        if not self.keys:
            raise ValueError(f"{verb}: keys must be non-empty")
        if not (self.when_matched or insert or self.by_source):
            raise ValueError(
                f"{verb}: no matched arms, no by-source arms and "
                "insert=False — the merge can never change anything"
            )
        missing = [k for k in self.keys if k not in df.columns]
        if missing:
            raise ValueError(
                f"{verb}: key column(s) {missing} not in the source "
                f"frame (columns: {df.columns})"
            )
        self.upd, self.dels = _validate_arms(
            self.when_matched, self.keys, "matched", verb
        )
        self.src_upd, self.src_dels = _validate_arms(
            self.by_source, self.keys, "by-source", verb
        )
        for i, s in self.upd.items():
            unknown = sorted(set(s or ()) - set(df.columns))
            if unknown:
                raise ValueError(
                    f"{verb}: matched arm {i} SETs unknown column(s) "
                    f"{unknown}"
                )
        none_sets = sorted(i for i, s in self.src_upd.items() if s is None)
        if none_sets:
            raise ValueError(
                f"{verb}: by-source update arm(s) {none_sets} need an "
                "explicit 'set' — there is no source row for SET *"
            )
        self._held: list[DataFrame] = []
        self.kills: list[DataFrame] = []
        self.stage: list[DataFrame] = []
        self.n_updated = self.n_deleted = self.n_carried = 0
        self.added: list[str] = []

    def __enter__(self) -> Merge:
        return self

    def __exit__(self, *exc) -> None:
        held, self._held = self._held, []
        release(*held)

    def _materialize(self, frame: DataFrame, **metrics: Column):
        """``frame`` checkpointed, held for release, and the ``metrics``
        observed during the checkpoint job (no job of their own), with
        their Spark types kept: a key bound need not be an int."""
        if metrics:
            obs = Observation()
            frame = frame.observe(
                obs, *[e.alias(k) for k, e in metrics.items()]
            )
        frame = frame.localCheckpoint(eager=True)
        self._held.append(frame)
        return frame, obs.get if metrics else {}

    def load(self, is_live: Column | None = None) -> None:
        """Materialize the batch once, each row tagged with its key's
        row count (a window groups NULL keys together, as ``groupBy``
        does), and read off that one job the duplicate-key refusal,
        emptiness, the count of rows where ``is_live`` holds and the
        per-key bounds in :attr:`filters`."""
        keys = self.keys
        live = F.lit(True) if is_live is None else is_live
        ck, kb = self._materialize(
            self.df.withColumn(
                "__kn", F.count(F.lit(1)).over(Window.partitionBy(*keys))
            ),
            maxn=F.max("__kn"),
            n=F.count(F.lit(1)),
            nlive=F.count(F.when(live, 1)),
            **{f"lo{i}": F.min(k) for i, k in enumerate(keys)},
            **{f"hi{i}": F.max(k) for i, k in enumerate(keys)},
        )
        if (kb["maxn"] or 0) > 1:
            # error path only: one more job to name an offending key
            dup = ck.filter(F.col("__kn") > 1).first()
            kv = {k: dup[k] for k in keys}
            raise ValueError(
                f"{self.verb}: source has multiple rows for key {kv} — "
                "MERGE cannot decide which one wins; de-duplicate the "
                "batch first (e.g. latest-by-timestamp per key)"
            )
        self.df = ck.drop("__kn")
        self.empty = not kb["n"]
        self.n_live = kb["nlive"]
        self.filters: list[tuple] = []
        for i, k in enumerate(keys):
            lo, hi = kb[f"lo{i}"], kb[f"hi{i}"]
            if lo is not None and hi is not None and not isinstance(
                lo, (bytes, bytearray)
            ):
                self.filters.extend([(k, ">=", lo), (k, "<=", hi)])

    @property
    def quiet(self) -> bool:
        """An empty batch without by-source arms changes nothing."""
        return self.empty and not self.by_source

    def inserts_only(self, table_dir: str) -> tuple[DataFrame, int]:
        """The create path, where every source row is NOT MATCHED: the
        materialized insert rows and their count."""
        if not self.insert:
            raise ValueError(
                f"{self.verb}: {table_dir} does not exist and "
                "insert=False — nothing to merge into"
            )
        ins = self.df.alias("src")
        if self.insert_condition is not None:
            ins = ins.filter(F.expr(self.insert_condition))
        ins, n = self._materialize(ins, n=F.count(F.lit(1)))
        return ins, n["n"]

    def conform(
        self,
        table_dir: str,
        table_types: dict[str, object],
        source_types: dict[str, object],
        evolve: bool = False,
        hint: str = "",
    ) -> list[str]:
        """Schema enforcement over format-normalized column types (table
        order, source order). Returns the source columns the table
        lacks, which only ``evolve`` admits."""
        mismatched = sorted(
            n for n, t in source_types.items()
            if n in table_types and t != table_types[n]
        )
        absent = sorted(n for n in table_types if n not in source_types)
        unknown = [n for n in source_types if n not in table_types]
        if mismatched or absent or (unknown and not evolve):
            raise ValueError(
                f"{table_dir}: merge source schema deviates from the "
                f"table (type changes: {mismatched}, missing: {absent}, "
                f"unknown: {sorted(unknown)}) — MERGE enforces the "
                f"schema; evolve via {hint}"
            )
        bad_keys = [k for k in self.keys if k not in table_types]
        if bad_keys:
            raise ValueError(
                f"{table_dir}: key column(s) {bad_keys} not in the table "
                "schema"
            )
        self.added = unknown
        self.tbl_cols = list(table_types) + unknown
        bad_sets = sorted(
            {c for s in self.src_upd.values() for c in s} - set(self.tbl_cols)
        )
        if bad_sets:
            raise ValueError(
                f"{self.verb}: by-source arm SETs unknown column(s) "
                f"{bad_sets}"
            )
        return unknown

    def plan(
        self,
        live_target: Callable[[list[tuple] | None], DataFrame | None],
        kill_cols: list[str],
    ) -> None:
        """Run the probes. ``live_target(filters)`` returns the live
        target rows pruned by ``filters`` (``None``: the whole table),
        or ``None`` when there are none to read; ``kill_cols`` name the
        target columns that identify a killed row. Fills :attr:`kills`
        (one frame of ``kill_cols`` per probe that fired), :attr:`stage`
        and the counts."""
        keys, df = self.keys, self.df
        by_key = list(kill_cols) == keys
        ident = list(dict.fromkeys(keys + list(kill_cols)))
        types = {f.name: f.dataType for f in df.schema.fields}

        def tgt(c: str) -> Column:
            # typed NULL for a column this very commit adds
            if c in self.added:
                return F.lit(None).cast(types[c])
            return F.col(f"tgt.{c}")

        def probe(arms: list[dict], upd: dict) -> list[Column]:
            sel = [F.col(f"tgt.{c}").alias(c) for c in ident]
            sel.append(_arm_case(arms))
            sel += [tgt(c).alias(f"__t_{c}") for c in self.tbl_cols]
            for i, s in upd.items():
                for c, e in (s or {}).items():
                    sel.append(F.expr(e).alias(f"__a{i}_{c}"))
            return sel

        def counts(upd, dels) -> dict[str, Column]:
            return {
                "u": F.count(F.when(_isin(upd), 1)),
                "d": F.count(F.when(_isin(dels), 1)),
            }

        carry = [F.col(f"__t_{c}").alias(c) for c in self.tbl_cols]
        matched = None
        live = (
            live_target(self.filters)
            if self.when_matched and not self.empty
            else None
        )
        if live is not None:
            tj = live.alias("tgt").join(
                F.broadcast(df).alias("src"),
                on=[F.col(f"tgt.{k}") == F.col(f"src.{k}") for k in keys],
                how="inner",
            )
            # every key-matched pair, fired or not: a matched source
            # row is consumed even when no arm fires
            frame = tj.select(
                *probe(self.when_matched, self.upd),
                *[F.col(f"src.{c}").alias(f"__s_{c}") for c in self.tbl_cols],
            )
            metrics = counts(self.upd, self.dels)
            if by_key:
                fired = F.max((F.col("__arm") > 0).cast("int"))
                frame = frame.withColumn(
                    "__fired", fired.over(Window.partitionBy(*keys))
                )
                sibling = (F.col("__arm") == 0) & (F.col("__fired") == 1)
                metrics["c"] = F.count(F.when(sibling, 1))
            matched, n = self._materialize(frame, **metrics)
            if n["u"] or n["d"]:
                self.kills.append(
                    matched.filter(F.col("__arm") > 0).select(*kill_cols)
                )
            if n["u"]:
                self.stage.append(
                    _replacements(matched, self.upd, self.tbl_cols)
                )
            if n.get("c"):
                self.stage.append(matched.filter(sibling).select(*carry))
            self._count(n)

        live = live_target(None) if self.by_source else None
        if live is not None:
            nosrc = live.alias("tgt").join(
                F.broadcast(df.select(*keys)),
                on=keys,
                how="left_anti",
            ).select(*probe(self.by_source, self.src_upd))
            # materialized size = FIRED rows only: an arm expected to
            # fire on a large table fraction belongs in a copy-on-write
            # rewrite
            fired, n = self._materialize(
                nosrc.filter(F.col("__arm") > 0),
                n=F.count(F.lit(1)),
                **counts(self.src_upd, self.src_dels),
            )
            if n["n"]:
                self.kills.append(fired.select(*kill_cols))
                if n["u"]:
                    self.stage.append(
                        _replacements(fired, self.src_upd, self.tbl_cols)
                    )
                if by_key:
                    siblings, c = self._materialize(
                        nosrc.filter(F.col("__arm") == 0)
                        .join(
                            F.broadcast(fired.select(*keys)),
                            on=keys,
                            how="leftsemi",
                        )
                        .select(*carry),
                        c=F.count(F.lit(1)),
                    )
                    if c["c"]:
                        self.stage.append(siblings)
                    n.update(c)
            self._count(n)

        if self.insert and not self.empty:
            hit = None
            if matched is not None:
                hit = matched.select(*keys)
            elif not self.when_matched:
                # no matched arms still consumes matched source rows
                live = live_target(self.filters)
                if live is not None:
                    hit = live.join(
                        F.broadcast(df.select(*keys)),
                        on=keys,
                        how="leftsemi",
                    ).select(*keys)
            ins = df.alias("src")
            if hit is not None:
                ins = ins.join(F.broadcast(hit), on=keys, how="left_anti")
            if self.insert_condition is not None:
                ins = ins.filter(F.expr(self.insert_condition))
            self.stage.append(ins.select(*self.tbl_cols))

    def _count(self, n: dict[str, int]) -> None:
        self.n_updated += n["u"]
        self.n_deleted += n["d"]
        self.n_carried += n.get("c", 0)

    def to_stage(self) -> DataFrame | None:
        """Every row the merge lands, or ``None``."""
        if not self.stage:
            return None
        return reduce(DataFrame.unionByName, self.stage)
