"""Expected results, computed without Spark, and the checkers that compare
the engine's outputs with them. Each checker returns a list of mismatch
descriptions; an empty list means the output is correct."""

from __future__ import annotations

import math
from collections import Counter

# Feature-table row: (entity_type, entity_id, feature_name, value_float,
# event_time_us, created_at_us); the key is (entity_id, feature_name).
COLUMNS = ["entity_type", "entity_id", "feature_name", "value_float", "event_time", "created_at"]


def key(row: tuple) -> tuple:
    return (row[1], row[2])


class TableModel:
    """Replay of the write verbs over one keyed feature table, keeping the
    live rows and, per commit, the rows it inserted and deleted."""

    def __init__(self):
        self.live: dict[tuple, tuple] = {}
        self.commits: list[tuple[int, list[tuple], list[tuple]]] = []

    def _commit(self, version: int, ins: list[tuple], dels: list[tuple]) -> None:
        for r in dels:
            del self.live[key(r)]
        for r in ins:
            self.live[key(r)] = r
        self.commits.append((version, ins, dels))

    def append(self, version: int, rows: list[tuple]) -> None:
        assert not any(key(r) in self.live for r in rows), "append batches carry new keys"
        self._commit(version, list(rows), [])

    def upsert(self, version: int, rows: list[tuple]) -> None:
        dels = [self.live[key(r)] for r in rows if key(r) in self.live]
        self._commit(version, list(rows), dels)

    def merge_newer(self, version: int, rows: list[tuple]) -> None:
        """WHEN MATCHED AND src.event_time > tgt.event_time THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *."""
        ins, dels = [], []
        for r in rows:
            old = self.live.get(key(r))
            if old is None:
                ins.append(r)
            elif r[4] > old[4]:
                ins.append(r)
                dels.append(old)
        self._commit(version, ins, dels)

    def delete_range(self, version: int, lo: int, hi: int) -> int:
        dels = [r for r in self.live.values() if lo <= r[1] < hi]
        self._commit(version, [], dels)
        return len(dels)

    def changes_since(self, version: int) -> list[tuple]:
        """(change_type, version, *row) for every commit after ``version``."""
        out = []
        for v, ins, dels in self.commits:
            if v > version:
                out += [("insert", v, *r) for r in ins]
                out += [("delete", v, *r) for r in dels]
        return out


def _cell(v):
    if hasattr(v, "timestamp"):  # datetime -> epoch microseconds
        return round(v.timestamp() * 1_000_000)
    return v


def arrow_rows(table, columns: list[str]) -> list[tuple]:
    cols = [table.column(c).to_pylist() for c in columns]
    return [tuple(_cell(v) for v in row) for row in zip(*cols)]


def diff_multisets(actual: list[tuple], expected: list[tuple]) -> list[str]:
    a, e = Counter(actual), Counter(expected)
    if a == e:
        return []
    missing = list((e - a).elements())[:5]
    extra = list((a - e).elements())[:5]
    return [
        f"{len(actual)} rows vs {len(expected)} expected; "
        f"missing {missing}; unexpected {extra}"
    ]


def asof_oracle(labels, records, features: list[str], lookback_days: float) -> dict:
    """DuckDB ASOF join: for each label row (rid, entity_id, event_time),
    the value of each feature's latest record at or before the label time
    and no older than the earliest label time minus the lookback — the
    engine's documented window. Returns {rid: (v_f0, v_f1, ...)}."""
    import duckdb

    con = duckdb.connect()
    con.register("labels", labels)
    con.register("recs", records)
    lookback_s = int(lookback_days * 86400)
    joined = ", ".join(f"a{i}.value_float" for i in range(len(features)))
    froms = "labels l"
    for i, f in enumerate(features):
        froms += (
            f" ASOF LEFT JOIN (SELECT * FROM recs WHERE feature_name = '{f}' "
            f"AND event_time >= (SELECT min(event_time) FROM labels) "
            f"- INTERVAL {lookback_s} SECONDS) a{i} "
            f"ON l.entity_id = a{i}.entity_id AND l.event_time >= a{i}.event_time"
        )
    rows = con.execute(f"SELECT l.rid, {joined} FROM {froms}").fetchall()
    con.close()
    return {r[0]: tuple(r[1:]) for r in rows}


def _same_value(a, b) -> bool:
    a = None if a is None or (isinstance(a, float) and math.isnan(a)) else a
    b = None if b is None or (isinstance(b, float) and math.isnan(b)) else b
    if a is None or b is None:
        return a is b
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def diff_training(actual: dict, expected: dict) -> list[str]:
    """Training rows keyed by rid; a missing feature may read NULL or NaN."""
    out = []
    if set(actual) != set(expected):
        out.append(f"rids differ: {sorted(set(actual) ^ set(expected))[:5]}")
    for rid in sorted(set(actual) & set(expected)):
        if not all(_same_value(a, b) for a, b in zip(actual[rid], expected[rid])):
            out.append(f"rid {rid}: {actual[rid]} vs {expected[rid]}")
    return out


def diff_lookups(actual: dict, expected: dict) -> list[str]:
    """Batch get responses keyed by entity id: (source, values)."""
    out = []
    if set(actual) != set(expected):
        out.append(f"ids differ: {sorted(set(actual) ^ set(expected))[:5]}")
    for eid in sorted(set(actual) & set(expected)):
        (src, vals), (esrc, evals) = actual[eid], expected[eid]
        if src != esrc:
            out.append(f"id {eid}: routed to {src}, expected {esrc}")
        elif (vals is None) != (evals is None) or (
            vals is not None
            and (len(vals) != len(evals) or not all(map(_same_value, vals, evals)))
        ):
            out.append(f"id {eid}: values {vals} vs {evals}")
    return out


def tree_score(model: dict, row: dict) -> float:
    """The scoring module's tree semantics: ``x < threshold`` goes yes, a
    missing value follows the node's ``missing`` side; leaves summed onto
    base_score, then the logistic link."""
    raw = float(model.get("base_score", 0.0))
    for node in model["trees"]:
        while "leaf" not in node:
            x = row[node["split"]]
            missing = x is None or (isinstance(x, float) and math.isnan(x))
            if node.get("missing", "left") == "left":
                yes = missing or x < node["threshold"]
            else:
                yes = not missing and x < node["threshold"]
            node = node["yes"] if yes else node["no"]
        raw += node["leaf"]
    return 1.0 / (1.0 + math.exp(-raw))


def topk_oracle(items: list[dict], model: dict, k: int) -> list[tuple[int, float]]:
    scored = [(it["item_id"], tree_score(model, it)) for it in items]
    scored.sort(key=lambda t: (-round(t[1], 12), t[0]))
    return scored[:k]


def diff_topk(actual: list[tuple[int, float]], expected: list[tuple[int, float]]) -> list[str]:
    if [a[0] for a in actual] == [e[0] for e in expected] and all(
        abs(a[1] - e[1]) <= 1e-9 for a, e in zip(actual, expected)
    ):
        return []
    return [f"top-k {actual[:5]} vs expected {expected[:5]}"]
