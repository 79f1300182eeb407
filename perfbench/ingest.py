"""ingest: keyed feature batches committed to one Delta and one Iceberg
table, with periodic maintenance and redelivered batches.

Closed loop, one client, a fixed number of cycles. A cycle is four
rounds; each round commits one batch of ~2K rows to each format with
one verb: append, upsert, conditional MERGE, ``delete_where``. After the
upsert round every maintenance verb runs (Delta optimize, checkpoint,
vacuum; Iceberg rewrite, expire-snapshots). Upsert and MERGE batches repeat ~30% of their
keys from the live table. Every MERGE batch is redelivered with the
same ``txn`` token, which must be a no-op. Nothing is
read inside the timed loop; the final tables and their change feeds
are checked afterwards against a pure-Python replay.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa

from perfbench.checks import COLUMNS, TableModel, arrow_rows, diff_multisets
from perfbench.common import FAILED, NULL_TRACER, Ops, dir_bytes

FEATURES = ["f0", "f1", "f2", "f3", "f4"]
INIT_ENTITIES = 2000  # 10K rows per table at set-up
BATCH_ENTITIES = 400  # 2K rows per batch
REPEAT_SHARE = 0.3
DELETE_ENTITIES = 40  # width of a delete_where entity-id range
DAY_US = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_DAYS = 3
VERBS = ("append", "upsert", "merge", "delete_where")
# maintenance runs mid-cycle: a fresh table has nothing to compact, and
# the change feed checked at the end must not start before a vacuum
MAINTAIN_AFTER = "upsert"
ICEBERG_KEEP = 12  # snapshots kept by expire; more than a change-feed range spans
CHANGES_BACK = 1  # commits covered by the checked change feed
KEYS = ["entity_id", "feature_name"]
MERGE_ARMS = [
    {"condition": "src.event_time > tgt.event_time", "action": "update", "set": None}
]
SCHEMA = pa.schema(
    [
        ("entity_type", pa.string()),
        ("entity_id", pa.int64()),
        ("feature_name", pa.string()),
        ("value_float", pa.float64()),
        ("event_time", pa.timestamp("us", tz="UTC")),
        ("created_at", pa.timestamp("us", tz="UTC")),
    ]
)


class Feed:
    """Seeded batches for one table: new entities count up from the
    table's own range, repeated ones are drawn from its live keys."""

    def __init__(self, seed: int, fmt_no: int):
        self.rng = np.random.default_rng([seed, fmt_no])
        self.next_entity = fmt_no * 10_000_000

    def new_entities(self, n: int) -> list[int]:
        out = list(range(self.next_entity, self.next_entity + n))
        self.next_entity += n
        return out

    def rows(self, entities: list[int], created_us: int) -> list[tuple]:
        n = len(entities) * len(FEATURES)
        values = np.round(self.rng.normal(size=n), 6)
        times = T0_US + self.rng.integers(0, SPAN_DAYS * DAY_US, n)
        return [
            ("user", e, f, float(values[i]), int(times[i]), created_us)
            for i, (e, f) in enumerate((e, f) for e in entities for f in FEATURES)
        ]

    def keyed_batch(self, model: TableModel, created_us: int) -> list[tuple]:
        live = sorted({k[0] for k in model.live})
        n_old = min(int(BATCH_ENTITIES * REPEAT_SHARE), len(live))
        old = [int(x) for x in self.rng.choice(live, n_old, replace=False)]
        return self.rows(old + self.new_entities(BATCH_ENTITIES - n_old), created_us)

    def delete_range(self, model: TableModel) -> tuple[int, int]:
        live = sorted({k[0] for k in model.live})
        lo = int(live[int(self.rng.integers(0, len(live)))])
        return lo, lo + DELETE_ENTITIES


def to_arrow(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        [pa.array(c, type=SCHEMA.field(i).type) for i, c in enumerate(cols)],
        schema=SCHEMA,
    )


class Table:
    """One format's verbs, behind one interface."""

    def __init__(self, spark, fmt: str, path: str):
        self.spark, self.fmt, self.path = spark, fmt, path
        self.model = TableModel()
        self.layer = "sources.delta" if fmt == "delta" else "sources.iceberg_write"

    def verb(self, name: str) -> str:
        return f"{self.layer}.{self.fmt}_{name}"

    def version(self) -> int:
        if self.fmt == "delta":
            from feature_store_spark.sources.delta import DeltaTable

            return DeltaTable(self.spark, self.path).latest_version()
        from feature_store_spark.sources.iceberg import IcebergTable

        return IcebergTable(self.spark, self.path).meta["current-snapshot-id"]

    def write(self, verb: str, df, txn=None):
        """Run a write verb; return the version it committed."""
        if self.fmt == "delta":
            from feature_store_spark.sources import delta as d

            if verb == "append":
                return d.delta_append(df, self.path, txn=txn)
            if verb == "upsert":
                return d.delta_upsert(df, self.path, keys=KEYS, txn=txn)[0]
            if verb == "merge":
                return d.delta_merge(df, self.path, keys=KEYS, when_matched=MERGE_ARMS, txn=txn)[0]
        else:
            from feature_store_spark.sources import iceberg_write as i

            if verb == "append":
                return i.iceberg_append(df, self.path, txn=txn)
            if verb == "upsert":
                return i.iceberg_upsert(df, self.path, keys=KEYS)
            if verb == "merge":
                return i.iceberg_merge(df, self.path, keys=KEYS, when_matched=MERGE_ARMS, txn=txn)[0]
        raise ValueError(verb)

    def delete_where(self, lo: int, hi: int):
        filters = [("entity_id", ">=", lo), ("entity_id", "<", hi)]
        if self.fmt == "delta":
            from feature_store_spark.sources.delta import delta_delete_where

            return delta_delete_where(self.spark, self.path, filters)[0]
        from feature_store_spark.sources.iceberg_write import iceberg_delete_where

        return iceberg_delete_where(self.spark, self.path, filters)

    def maintenance(self) -> list[tuple[str, str, object]]:
        """This format's maintenance verbs in order: span name, short name,
        callable."""
        if self.fmt == "delta":
            from feature_store_spark.sources import delta as d

            verbs = [
                ("optimize", lambda: d.delta_optimize(self.spark, self.path)),
                ("checkpoint", lambda: d.delta_checkpoint(self.spark, self.path)),
                ("vacuum", lambda: d.delta_vacuum(self.spark, self.path)),
            ]
        else:
            from feature_store_spark.sources import iceberg_write as i

            verbs = [
                ("rewrite", lambda: i.iceberg_rewrite(self.spark, self.path)),
                ("expire_snapshots", lambda: i.iceberg_expire_snapshots(self.path, keep_last=ICEBERG_KEEP)),
            ]
        return [(self.verb(name), name, fn) for name, fn in verbs]

    def scan(self, filters=None):
        if self.fmt == "delta":
            from feature_store_spark.sources.delta import DeltaTable

            return DeltaTable(self.spark, self.path).scan(filters=filters)
        from feature_store_spark.sources.iceberg import IcebergTable

        return IcebergTable(self.spark, self.path).scan(filters=filters)

    def changes(self, base: int):
        if self.fmt == "delta":
            from feature_store_spark.sources.delta import delta_changes

            return delta_changes(self.spark, self.path, from_version=base), "_commit_version"
        from feature_store_spark.sources.iceberg import IcebergTable

        return IcebergTable(self.spark, self.path).changes(from_snapshot_id=base), "_snapshot_id"

    def data_files(self, filters=None) -> list[dict]:
        if self.fmt == "delta":
            from feature_store_spark.sources.delta import DeltaTable

            return DeltaTable(self.spark, self.path).data_files(filters=filters)
        from feature_store_spark.sources.iceberg import IcebergTable

        return IcebergTable(self.spark, self.path).data_files(None, filters)

    def read_layer(self) -> str:
        return "sources.delta" if self.fmt == "delta" else "sources.iceberg"


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class Ingest:
    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed

    def setup(self, n: int) -> None:
        """Create both tables with the same seeded initial rows."""
        root = os.path.join(self.work, f"ingest{n}")
        shutil.rmtree(root, ignore_errors=True)
        self.tables = [
            Table(self.spark, "delta", os.path.join(root, "delta")),
            Table(self.spark, "iceberg", os.path.join(root, "iceberg")),
        ]
        self.feeds = [Feed(self.seed, k) for k in range(2)]
        for t, feed in zip(self.tables, self.feeds):
            rows = feed.rows(feed.new_entities(INIT_ENTITIES), T0_US + SPAN_DAYS * DAY_US)
            with self.tracer.span("bench.make_batch"):
                df = self.spark.createDataFrame(to_arrow(rows))
            t.model.append(t.write("append", df), rows)
        self.vacuumed_at = {t.fmt: -1 for t in self.tables}

    def warmup(self) -> None:
        """One full verb cycle, untimed and unchecked, on the current
        tables; the first call of a verb is several times slower than the
        next."""
        ops = Ops(NULL_TRACER)
        tracer, self.tracer = self.tracer, NULL_TRACER
        try:
            self.loop(ops, 1)
        finally:
            self.tracer = tracer
        if ops.failed:
            raise RuntimeError(f"warm-up failed: {ops.errors}")

    def loop(self, ops: Ops, cycles: int) -> dict:
        """Run ``cycles`` whole cycles: every write verb once per format,
        with every maintenance verb after the upsert round."""
        start = time.perf_counter()
        rows_committed = 0
        noop = [0, 0]  # redeliveries that changed nothing, redeliveries
        user_bytes = {t.fmt: 0 for t in self.tables}
        written = {t.fmt: 0 for t in self.tables}
        seen = {t.fmt: _files(t.path) for t in self.tables}
        r = 0
        while r < cycles * len(VERBS):
            verb = VERBS[r % len(VERBS)]
            created = T0_US + SPAN_DAYS * DAY_US + (r + 1) * 1_000_000
            for t, feed in zip(self.tables, self.feeds):
                if verb == "delete_where":
                    lo, hi = feed.delete_range(t.model)
                    v = ops.call("commit", t.verb("delete_where"), lambda: t.delete_where(lo, hi))
                    if v is not FAILED:
                        rows_committed += t.model.delete_range(v, lo, hi)
                    continue
                rows = (
                    feed.rows(feed.new_entities(BATCH_ENTITIES), created)
                    if verb == "append"
                    else feed.keyed_batch(t.model, created)
                )
                batch = to_arrow(rows)
                with self.tracer.span("bench.make_batch"):
                    df = self.spark.createDataFrame(batch)
                txn = None if (t.fmt, verb) == ("iceberg", "upsert") else (f"perfbench-{t.fmt}", r)
                v = ops.call("commit", t.verb(verb), lambda: t.write(verb, df, txn))
                if v is FAILED:
                    continue
                {"append": t.model.append, "upsert": t.model.upsert, "merge": t.model.merge_newer}[verb](v, rows)
                rows_committed += len(rows)
                user_bytes[t.fmt] += batch.nbytes
                if verb == "merge":  # redeliver: same batch, same txn token
                    again = ops.call("redelivery", "sources.txn_redelivery", lambda: t.write(verb, df, txn))
                    if again is not FAILED:
                        noop[1] += 1
                        if t.version() == v:
                            noop[0] += 1
                        else:
                            ops.fail(f"{t.fmt} redelivery of txn {txn} committed again")
            if verb == MAINTAIN_AFTER:
                for t in self.tables:
                    for span, name, fn in t.maintenance():
                        if ops.call("commit", span, fn) is not FAILED and name == "vacuum":
                            self.vacuumed_at[t.fmt] = t.version()
            if self.tracer.enabled:
                self.tracer.harvest()
                for t in self.tables:
                    now = _files(t.path)
                    written[t.fmt] += sum(s for p, s in now.items() if p not in seen[t.fmt])
                    seen[t.fmt] = now
            r += 1
        wall = time.perf_counter() - start
        self.stats = {
            "rounds": r,
            "wall_s": wall,
            "rows_committed": rows_committed,
            "redeliveries": noop[1],
            "redelivery_noops": noop[0],
            "bytes_written_per_user_byte": {
                f: written[f] / user_bytes[f] if user_bytes[f] else 0.0 for f in written
            },
        }
        return self.stats

    def check(self, ops: Ops) -> dict:
        """Compare the final scans and the change feed of the last commits
        with the replay; gather the read-side ratios (files a pruned scan
        would read, delete files) from table metadata."""
        out = {}
        for t in self.tables:
            layer = t.read_layer()
            verb = f"{layer}.{t.fmt}_scan"
            try:
                with self.tracer.span(verb):
                    got = arrow_rows(t.scan().toArrow(), COLUMNS)
                ops.check(f"{t.fmt} final scan", diff_multisets(got, list(t.model.live.values())))

                lo = min(k[0] for k in t.model.live)
                hi = lo + (max(k[0] for k in t.model.live) - lo) // 8
                with self.tracer.span("bench.file_stats"):
                    all_files = t.data_files()
                    pruned = t.data_files([("entity_id", ">=", lo), ("entity_id", "<", hi)])
                data = [f for f in all_files if not f.get("is_delete")]
                out[f"{layer}.scan.files_read_frac"] = (
                    len([f for f in pruned if not f.get("is_delete")]) / len(data) if data else 0.0
                )
                if t.fmt == "iceberg":
                    out[f"{layer}.scan.delete_files"] = float(len(all_files) - len(data))

                commits = t.model.commits
                first = max(0, len(commits) - CHANGES_BACK - 1)
                if t.fmt == "delta":
                    while first < len(commits) - 1 and commits[first][0] < self.vacuumed_at["delta"]:
                        first += 1
                base = commits[first][0]
                with self.tracer.span(f"{layer}.{t.fmt}_changes"):
                    feed, vcol = t.changes(base)
                    got = arrow_rows(feed.toArrow(), ["_change_type", vcol] + COLUMNS)
                want = [
                    (kind, v, *row)
                    for v, ins, dels in commits[first + 1 :]
                    for kind, rows in (("insert", ins), ("delete", dels))
                    for row in rows
                ]
                ops.check(f"{t.fmt} change feed", diff_multisets(got, want))
            except Exception as e:
                ops.fail(f"check {t.fmt}: {type(e).__name__}: {e}")
        s = self.stats
        if s["redeliveries"]:
            out["sources.txn_redelivery_noop_frac"] = s["redelivery_noops"] / s["redeliveries"]
        for f, ratio in s["bytes_written_per_user_byte"].items():
            layer = "sources.delta" if f == "delta" else "sources.iceberg_write"
            out[f"{layer}.bytes_written_per_user_byte"] = ratio
        out["stored_bytes_per_live_row"] = sum(dir_bytes(t.path) for t in self.tables) / sum(
            len(t.model.live) for t in self.tables
        )
        out["rows"] = s["rows_committed"]
        return out
