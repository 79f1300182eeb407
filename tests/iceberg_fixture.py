"""Author a spec-conforming Apache Iceberg v2 table on local disk.

Test fixture for feature_store_spark.sources.iceberg: builds the
reference's offline-store shape (EAV feature records partitioned by
identity(entity_type) + day(event_time), IcebergOfflineStore.java:
42-57) with real parquet data files, Avro manifests + manifest lists
(via the in-repo avro_io writer), and vN.metadata.json — the layout a
filesystem-catalog Iceberg writer produces. Field ids, partition
field ids, bound serialization, and avro field names follow the
public Iceberg spec so the reader is exercised against the same
structures a real table carries.
"""

from __future__ import annotations

import json
import os
import struct
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from feature_store_spark.sources.avro_io import read_avro, write_avro
from feature_store_spark.sources.iceberg_write import (
    MANIFEST_LIST_SCHEMA,
    manifest_schema,
)

US_PER_DAY = 86_400_000_000

SCHEMA_FIELDS = [
    {"id": 1, "name": "entity_type", "required": True, "type": "string"},
    {"id": 2, "name": "entity_id", "required": True, "type": "string"},
    {"id": 3, "name": "feature_name", "required": True, "type": "string"},
    {"id": 4, "name": "value_float", "required": False, "type": "double"},
    {"id": 6, "name": "event_time", "required": True, "type": "timestamptz"},
]

PARTITION_SPEC = [
    {"name": "entity_type", "transform": "identity", "source-id": 1,
     "field-id": 1000},
    {"name": "event_time_day", "transform": "day", "source-id": 6,
     "field-id": 1001},
]

MANIFEST_SCHEMA = manifest_schema(
    [
        {"name": "entity_type", "avro": "string"},
        {"name": "event_time_day", "avro": "int"},
    ]
)


# the row-dict key of each base field id; a column added by
# ``IcebergFixture.evolve`` is keyed by its field id
_ROW_KEY = {1: "entity_type", 2: "entity_id", 3: "feature_name",
            4: "value_float", 6: "event_time_us"}
_ARROW_TYPE = {"string": pa.string(), "double": pa.float64(),
               "date": pa.date32(), "long": pa.int64(),
               "timestamptz": pa.timestamp("us", tz="UTC")}
_BOUND_FORMAT = {"double": "<d", "date": "<i", "long": "<q",
                 "timestamptz": "<q"}


def _write_parquet(
    path: str, rows: list[dict], fields: list[dict] = SCHEMA_FIELDS
) -> tuple[int, dict, dict]:
    """Write one data file with a column per schema field; returns
    (n_rows, lower_bounds, upper_bounds) keyed by field id with
    Iceberg single-value binary encoding (numeric, date and timestamp
    columns). The parquet schema carries PARQUET:field_id per column,
    as real Iceberg writers emit — what field-id column resolution
    reads."""
    schema = pa.schema([
        pa.field(
            f["name"], _ARROW_TYPE[f["type"]],
            metadata={b"PARQUET:field_id": str(f["id"]).encode()},
        )
        for f in fields
    ])
    pq.write_table(pa.table({
        f["name"]: [r.get(_ROW_KEY.get(f["id"], f["id"])) for r in rows]
        for f in fields
    }, schema=schema), path)
    lowers, uppers = {}, {}
    for f in fields:
        fmt = _BOUND_FORMAT.get(f["type"])
        vals = [
            v for v in (r.get(_ROW_KEY.get(f["id"], f["id"])) for r in rows)
            if v is not None
        ]
        if fmt and vals:
            lowers[f["id"]] = struct.pack(fmt, min(vals))
            uppers[f["id"]] = struct.pack(fmt, max(vals))
    return len(rows), lowers, uppers


def _day(us: int) -> int:
    return us // US_PER_DAY


# avro data-file schema (spec: data files may be AVRO; columns carry
# field-id attributes, timestamptz encodes as long timestamp-micros)
AVRO_DATA_SCHEMA = {
    "type": "record",
    "name": "r_data",
    "fields": [
        {"name": "entity_type", "type": "string", "field-id": 1},
        {"name": "entity_id", "type": "string", "field-id": 2},
        {"name": "feature_name", "type": "string", "field-id": 3},
        {"name": "value_float", "type": ["null", "double"],
         "field-id": 4},
        {"name": "event_time",
         "type": {"type": "long", "logicalType": "timestamp-micros"},
         "field-id": 6},
    ],
}


def _write_avro_data(path: str, rows: list[dict]) -> tuple[int, dict, dict]:
    """AVRO twin of :func:`_write_parquet`: one OCF data file with the
    same bounds encoding for the manifest."""
    recs = [
        {
            "entity_type": r["entity_type"],
            "entity_id": r["entity_id"],
            "feature_name": r["feature_name"],
            "value_float": r["value_float"],
            "event_time": r["event_time_us"],
        }
        for r in rows
    ]
    write_avro(path, AVRO_DATA_SCHEMA, recs, codec="deflate")
    vals = [r["value_float"] for r in rows if r["value_float"] is not None]
    ts = [r["event_time_us"] for r in rows]
    lowers = {6: struct.pack("<q", min(ts))}
    uppers = {6: struct.pack("<q", max(ts))}
    if vals:
        lowers[4] = struct.pack("<d", min(vals))
        uppers[4] = struct.pack("<d", max(vals))
    return len(rows), lowers, uppers


DELETE_MANIFEST_SCHEMA = manifest_schema(
    [
        {"name": "entity_type", "avro": "string"},
        {"name": "event_time_day", "avro": "int"},
    ]
)

# manifest-entry schema for equality-delete files: same as the delete
# schema plus the spec's equality_ids field on data_file
EQ_MANIFEST_SCHEMA = json.loads(json.dumps(DELETE_MANIFEST_SCHEMA))
EQ_MANIFEST_SCHEMA["fields"][4]["type"]["fields"].append(
    {"name": "equality_ids",
     "type": ["null", {"type": "array", "items": "int"}]}
)
EQ_MANIFEST_SCHEMA["fields"][4]["type"]["name"] = "r2eq"

# global equality deletes are written under an UNPARTITIONED spec (the
# Iceberg rule: a delete's scope is its spec — unpartitioned = table-
# wide, partitioned = its partition only)
UNPARTITIONED_SPEC_ID = 1
EQ_GLOBAL_MANIFEST_SCHEMA = manifest_schema([])
EQ_GLOBAL_MANIFEST_SCHEMA["fields"][4]["type"]["fields"].append(
    {"name": "equality_ids",
     "type": ["null", {"type": "array", "items": "int"}]}
)
EQ_GLOBAL_MANIFEST_SCHEMA["fields"][4]["type"]["name"] = "r2eqg"


class IcebergFixture:
    """Op-sequence builder: each append / pos_delete / eq_delete call
    commits one snapshot, so tests can interleave them (the sequencing
    semantics of equality deletes only bite when an append FOLLOWS a
    delete). Call ``finish()`` to write vN.metadata.json."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.data_dir = os.path.join(table_dir, "data")
        self.meta_dir = os.path.join(table_dir, "metadata")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        self.manifests: list[dict] = []
        self.snapshots: list[dict] = []
        self.snap_id = 0
        self.fields = [dict(f) for f in SCHEMA_FIELDS]
        self.schemas = [
            {"type": "struct", "schema-id": 0, "fields": self.fields}
        ]

    def evolve(self, fields: list[dict]) -> None:
        """Make ``fields`` the current schema (a new schema-id; the
        history stays): later appends write their columns, and the
        earlier files keep theirs."""
        self.fields = [dict(f) for f in fields]
        self.schemas.append({
            "type": "struct",
            "schema-id": len(self.schemas),
            "fields": self.fields,
        })

    def _commit(self, operation: str) -> None:
        mlist = os.path.join(self.meta_dir, f"snap-{self.snap_id}.avro")
        write_avro(mlist, MANIFEST_LIST_SCHEMA, list(self.manifests),
                   codec="deflate")
        snap = {
            "snapshot-id": self.snap_id,
            "timestamp-ms": 1700000000000 + self.snap_id,
            "sequence-number": self.snap_id,
            "summary": {"operation": operation},
            "manifest-list": mlist,
            "schema-id": self.schemas[-1]["schema-id"],
        }
        if self.snapshots:
            snap["parent-snapshot-id"] = self.snapshots[-1]["snapshot-id"]
        self.snapshots.append(snap)

    def _manifest_rec(self, mpath, content, n_files, n_rows, partitions):
        return {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": self.snap_id,
            "min_sequence_number": self.snap_id,
            "added_snapshot_id": self.snap_id,
            "added_files_count": n_files,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": partitions,
        }

    def append(
        self, batch: list[dict], file_format: str = "PARQUET"
    ) -> None:
        self.snap_id += 1
        by_part: dict[tuple, list[dict]] = {}
        for r in batch:
            by_part.setdefault(
                (r["entity_type"], _day(r["event_time_us"])), []
            ).append(r)
        writer, ext = (
            (_write_avro_data, "avro")
            if file_format == "AVRO"
            else (lambda p, rows: _write_parquet(p, rows, self.fields),
                  "parquet")
        )
        entries, n_rows = [], 0
        for (etype, day), rows in sorted(by_part.items()):
            fname = (
                f"{etype}-{day}-{self.snap_id}-"
                f"{uuid.uuid4().hex[:8]}.{ext}"
            )
            fpath = os.path.join(self.data_dir, fname)
            n, lowers, uppers = writer(fpath, rows)
            n_rows += n
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": self.snap_id,
                    "sequence_number": self.snap_id,
                    "file_sequence_number": self.snap_id,
                    "data_file": {
                        "content": 0,
                        "file_path": fpath,
                        "file_format": file_format,
                        "partition": {"entity_type": etype,
                                      "event_time_day": day},
                        "record_count": n,
                        "file_size_in_bytes": os.path.getsize(fpath),
                        "lower_bounds": [
                            {"key": k, "value": v}
                            for k, v in sorted(lowers.items())
                        ],
                        "upper_bounds": [
                            {"key": k, "value": v}
                            for k, v in sorted(uppers.items())
                        ],
                    },
                }
            )
        mpath = os.path.join(
            self.meta_dir, f"manifest-{self.snap_id}.avro"
        )
        write_avro(mpath, MANIFEST_SCHEMA, entries, codec="deflate")
        ets = sorted(k[0] for k in by_part)
        days = sorted(k[1] for k in by_part)
        self.manifests.append(self._manifest_rec(
            mpath, 0, len(entries), n_rows,
            [
                {"contains_null": False, "contains_nan": None,
                 "lower_bound": ets[0].encode(),
                 "upper_bound": ets[-1].encode()},
                {"contains_null": False, "contains_nan": None,
                 "lower_bound": struct.pack("<i", days[0]),
                 "upper_bound": struct.pack("<i", days[-1])},
            ],
        ))
        self._commit("append")

    def _file_by_part(self):
        out = {}
        for mf in self.manifests:
            if mf["content"] != 0:
                continue
            recs, _ = read_avro(mf["manifest_path"])
            for e in recs:
                part = e["data_file"]["partition"]
                out[(part["entity_type"], part["event_time_day"])] = (
                    e["data_file"]["file_path"]
                )
        return out

    def pos_delete(self, deletes: list[tuple[str, int, int]]) -> None:
        """(entity_type, day, row_pos) triples -> one positional-delete
        snapshot (delete parquet of (file_path, pos), content=1)."""
        self.snap_id += 1
        file_by_part = self._file_by_part()
        by_part: dict[tuple, list[dict]] = {}
        for et, day, pos in deletes:
            by_part.setdefault((et, day), []).append(
                {"file_path": file_by_part[(et, day)], "pos": pos}
            )
        # one delete file PER PARTITION, each stamped with its
        # partition (what a real writer emits; what lets readers prune
        # delete files with the same machinery as data files)
        for (et, day), del_rows in sorted(by_part.items()):
            dpath = os.path.join(
                self.data_dir,
                f"pos-deletes-{self.snap_id}-{et}-{day}.parquet",
            )
            pq.write_table(
                pa.table({
                    "file_path": pa.array(
                        [r["file_path"] for r in del_rows], pa.string()),
                    "pos": pa.array(
                        [r["pos"] for r in del_rows], pa.int64()),
                }),
                dpath,
            )
            self._delete_manifest(dpath, (et, day), len(del_rows),
                                  content=1, equality_ids=None)
        self._commit("overwrite")

    def eq_delete(
        self,
        entity_ids: list[str],
        partition: tuple[str, int] | None = None,
        entity_types: list[str] | None = None,
    ) -> None:
        """Equality-delete snapshot on entity_id (field id 2): rows in
        DATA FILES WITH LOWER SEQUENCE NUMBERS whose entity_id matches
        are deleted; later appends are untouched (the spec's
        sequencing rule). ``entity_types`` keys the delete on
        (entity_type, entity_id) (field ids 1 and 2) instead.

        ``partition=None`` writes the delete under the UNPARTITIONED
        spec — a GLOBAL delete (the spec's scope rule). Passing
        ``(entity_type, day)`` writes it under the table's partitioned
        spec, scoping it to that partition only (the Flink-CDC write
        shape for a partitioned upsert stream)."""
        self.snap_id += 1
        dpath = os.path.join(
            self.data_dir, f"eq-deletes-{self.snap_id}.parquet"
        )
        # the key columns under their current names, with field ids
        keys = {2: entity_ids}
        if entity_types is not None:
            keys = {1: entity_types, **keys}
        names = {f["id"]: f["name"] for f in self.fields}
        pq.write_table(
            pa.table([pa.array(v, pa.string()) for v in keys.values()],
                     schema=pa.schema([
                         pa.field(names[i], pa.string(), metadata={
                             b"PARQUET:field_id": str(i).encode()})
                         for i in keys
                     ])),
            dpath,
        )
        self._delete_manifest(dpath, partition, len(entity_ids),
                              content=2, equality_ids=list(keys))
        self._commit("overwrite")

    def _delete_manifest(self, dpath, partition, n_rows, content,
                         equality_ids):
        if partition is None:
            part_rec: dict = {}
            spec_id = UNPARTITIONED_SPEC_ID
            schema = EQ_GLOBAL_MANIFEST_SCHEMA
        else:
            et, day = partition
            part_rec = {"entity_type": et, "event_time_day": day}
            spec_id = 0
            schema = (
                EQ_MANIFEST_SCHEMA
                if equality_ids is not None
                else DELETE_MANIFEST_SCHEMA
            )
        entry = {
            "status": 1,
            "snapshot_id": self.snap_id,
            "sequence_number": self.snap_id,
            "file_sequence_number": self.snap_id,
            "data_file": {
                "content": content,
                "file_path": dpath,
                "file_format": "PARQUET",
                "partition": part_rec,
                "record_count": n_rows,
                "file_size_in_bytes": os.path.getsize(dpath),
                "lower_bounds": None,
                "upper_bounds": None,
            },
        }
        if equality_ids is not None:
            entry["data_file"]["equality_ids"] = equality_ids
        self._del_seq = getattr(self, "_del_seq", 0) + 1
        mpath = os.path.join(
            self.meta_dir,
            f"manifest-del-{self.snap_id}-{self._del_seq}.avro",
        )
        write_avro(mpath, schema, [entry], codec="deflate")
        rec = self._manifest_rec(mpath, 1, 1, n_rows, None)
        rec["partition_spec_id"] = spec_id
        self.manifests.append(rec)

    def finish(self) -> None:
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": self.table_dir,
            "last-sequence-number": self.snap_id,
            "last-updated-ms": 1700000000000 + self.snap_id,
            "last-column-id": max(
                f["id"] for sch in self.schemas for f in sch["fields"]
            ),
            "current-schema-id": self.schemas[-1]["schema-id"],
            "schemas": self.schemas,
            "default-spec-id": 0,
            "partition-specs": [
                {"spec-id": 0, "fields": PARTITION_SPEC},
                {"spec-id": UNPARTITIONED_SPEC_ID, "fields": []},
            ],
            "last-partition-id": 1001,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "current-snapshot-id": self.snap_id,
            "snapshots": self.snapshots,
        }
        with open(os.path.join(self.meta_dir,
                               f"v{self.snap_id}.metadata.json"),
                  "w") as f:
            json.dump(meta, f)
        with open(os.path.join(self.meta_dir, "version-hint.text"),
                  "w") as f:
            f.write(str(self.snap_id))


def write_iceberg_table(
    table_dir: str,
    batches: list[list[dict]],
    positional_deletes: list[tuple[str, int, int]] | None = None,
) -> None:
    """Back-compat wrapper: appends then one optional positional-delete
    snapshot."""
    fx = IcebergFixture(table_dir)
    for b in batches:
        fx.append(b)
    if positional_deletes:
        fx.pos_delete(positional_deletes)
    fx.finish()
