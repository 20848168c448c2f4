"""Table metadata (iceberg-rust-spec/src/spec/table_metadata.rs:55-145).

One JSON document per table version; every commit writes a fresh
``<location>/metadata/v{N}-{uuid}.metadata.json`` (table_metadata.rs:360
``new_metadata_location``) and the catalog CAS-swaps the pointer.
"""

from __future__ import annotations

import json
import time
import uuid as _uuid
from dataclasses import dataclass, field, replace

from iceberg_rust_archive_spark.spec.partition import PartitionSpec
from iceberg_rust_archive_spark.spec.schema import Schema
from iceberg_rust_archive_spark.spec.snapshot import (
    MAIN_BRANCH, Snapshot, SnapshotReference,
)
from iceberg_rust_archive_spark.spec.sort import SortOrder

FORMAT_VERSION = 2

# Table property keys honored by the writer (table_metadata.rs:46-49;
# sources/write.py). The level applies to zstd, in both the driver tier
# and Spark's writer.
PROP_COMPRESSION = "write.parquet.compression-codec"
PROP_COMPRESSION_LEVEL = "write.parquet.compression-level"
PROP_ORC_COMPRESSION = "write.orc.compression-codec"
PROP_TARGET_FILE_SIZE = "write.target-file-size-bytes"
DEFAULT_TARGET_FILE_SIZE = 512_000_000  # write.rs:66


@dataclass(frozen=True)
class TableMetadata:
    table_uuid: str
    location: str
    last_sequence_number: int = 0
    last_updated_ms: int = 0
    last_column_id: int = 0
    schemas: dict = field(default_factory=dict)          # schema_id -> Schema
    current_schema_id: int = 0
    partition_specs: dict = field(default_factory=dict)  # spec_id -> PartitionSpec
    default_spec_id: int = 0
    last_partition_id: int = 999
    sort_orders: dict = field(default_factory=dict)      # order_id -> SortOrder
    default_sort_order_id: int = 0
    snapshots: dict = field(default_factory=dict)        # snapshot_id -> Snapshot
    refs: dict = field(default_factory=dict)             # name -> SnapshotReference
    snapshot_log: tuple = field(default_factory=tuple)   # ({timestamp-ms, snapshot-id})
    metadata_log: tuple = field(default_factory=tuple)
    properties: dict = field(default_factory=dict)
    # spec `statistics` list: Puffin stats files keyed by snapshot-id
    # ({snapshot-id, statistics-path, file-size-in-bytes,
    #   file-footer-size-in-bytes, blob-metadata: [...]})
    statistics: tuple = field(default_factory=tuple)
    # spec `partition-statistics` list ({snapshot-id, statistics-path,
    # file-size-in-bytes}; the file is Parquet, one row per partition)
    partition_statistics: tuple = field(default_factory=tuple)
    format_version: int = FORMAT_VERSION
    # v3 row lineage: next row id to assign; commits adding data files
    # to a v3 table advance it by the rows they added
    next_row_id: int = 0

    # --- accessors -------------------------------------------------------
    def current_schema(self, branch: str | None = None) -> Schema:
        """Schema for a branch's snapshot, else current (table_metadata.rs:156-183)."""
        snap = self.current_snapshot(branch)
        if snap is not None and snap.schema_id is not None:
            return self.schemas[snap.schema_id]
        return self.schemas[self.current_schema_id]

    def default_spec(self) -> PartitionSpec:
        return self.partition_specs[self.default_spec_id]

    def current_snapshot(self, branch: str | None = None) -> Snapshot | None:
        ref = self.refs.get(branch or MAIN_BRANCH)
        if ref is None:
            return None
        return self.snapshots.get(ref.snapshot_id)

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot | None:
        return self.snapshots.get(snapshot_id)

    def snapshot_as_of_ms(self, ts_ms: int) -> Snapshot | None:
        """Time travel: latest snapshot at or before ``ts_ms``."""
        best = None
        for entry in self.snapshot_log:
            if entry["timestamp-ms"] <= ts_ms:
                best = entry["snapshot-id"]
        return self.snapshots.get(best) if best is not None else None

    def new_metadata_location(self) -> str:
        version = len(self.metadata_log) + 1
        return (f"{self.location}/metadata/v{version}-"
                f"{_uuid.uuid4().hex[:12]}.metadata.json")

    # --- construction ----------------------------------------------------
    @staticmethod
    def new(location: str, schema: Schema, spec: PartitionSpec | None = None,
            sort_order: SortOrder | None = None,
            properties: dict | None = None) -> "TableMetadata":
        spec = spec or PartitionSpec(0, ())
        sort_order = sort_order or SortOrder(0, ())
        # column default-values are a v3 construct: a table CREATEd with
        # DEFAULT columns starts at format-version 3 (a v2 reader would
        # silently return NULL where the initial-default applies), unless
        # the creator explicitly pins an older version via property.
        fmt = FORMAT_VERSION
        pin = str((properties or {}).get("format-version", "")).strip()
        from iceberg_rust_archive_spark.spec.types import contains_variant
        has_defaults = any(
            getattr(f, "initial_default", None) is not None
            or getattr(f, "write_default", None) is not None
            for f in schema.fields)
        has_variant = any(contains_variant(f.field_type)
                          for f in schema.fields)
        if pin:
            fmt = int(float(pin))
        if has_defaults or has_variant:
            if fmt < 3:
                construct = ("column DEFAULTs" if has_defaults
                             else "variant columns")
                if pin:
                    raise ValueError(
                        f"{construct} require format-version 3, but "
                        f"the table pins {pin}")
                fmt = 3
        return TableMetadata(
            format_version=fmt,
            table_uuid=str(_uuid.uuid4()), location=location.rstrip("/"),
            last_updated_ms=int(time.time() * 1000),
            last_column_id=schema.highest_field_id(),
            schemas={schema.schema_id: schema},
            current_schema_id=schema.schema_id,
            partition_specs={spec.spec_id: spec}, default_spec_id=spec.spec_id,
            last_partition_id=max([999] + [f.field_id for f in spec.fields]),
            sort_orders={sort_order.order_id: sort_order},
            default_sort_order_id=sort_order.order_id,
            properties=dict(properties or {}),
        )

    def with_snapshot(self, snapshot: Snapshot,
                      branch: str | None = None) -> "TableMetadata":
        branch = branch or MAIN_BRANCH
        existing = self.refs.get(branch)
        if existing is not None and existing.ref_type == "tag":
            # Tags are immutable pointers (create_tag's contract): writing
            # "to" one would silently move and retype it into a branch.
            raise ValueError(
                f"ref {branch!r} is a tag; tags are immutable — "
                "create a branch to write")
        snaps = dict(self.snapshots)
        snaps[snapshot.snapshot_id] = snapshot
        refs = dict(self.refs)
        if existing is not None:
            # Carry the branch's configured retention forward: rebuilding the
            # ref from scratch would silently erase min_snapshots_to_keep /
            # max_snapshot_age_ms / max_ref_age_ms on every commit, so a later
            # expire_snapshots could delete ancestry the user pinned.
            refs[branch] = replace(existing, snapshot_id=snapshot.snapshot_id)
        else:
            refs[branch] = SnapshotReference(snapshot.snapshot_id, "branch")
        log = self.snapshot_log + (
            {"timestamp-ms": snapshot.timestamp_ms,
             "snapshot-id": snapshot.snapshot_id},)
        return replace(self, snapshots=snaps, refs=refs, snapshot_log=log,
                       last_sequence_number=max(self.last_sequence_number,
                                                snapshot.sequence_number),
                       last_updated_ms=snapshot.timestamp_ms)

    # --- serde -----------------------------------------------------------
    def to_json(self) -> dict:
        main = self.refs.get(MAIN_BRANCH)
        return {
            # independent readers (Java, pyiceberg) resolve the current
            # snapshot from this field, not from refs — omitting it reads
            # as "empty table" elsewhere even though refs.main is set
            **({"current-snapshot-id": main.snapshot_id}
               if main is not None else {}),
            "format-version": self.format_version,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "last-sequence-number": self.last_sequence_number,
            "last-updated-ms": self.last_updated_ms,
            "last-column-id": self.last_column_id,
            "schemas": [s.to_json() for s in self.schemas.values()],
            "current-schema-id": self.current_schema_id,
            "partition-specs": [s.to_json() for s in self.partition_specs.values()],
            "default-spec-id": self.default_spec_id,
            "last-partition-id": self.last_partition_id,
            "sort-orders": [s.to_json() for s in self.sort_orders.values()],
            "default-sort-order-id": self.default_sort_order_id,
            "snapshots": [s.to_json() for s in self.snapshots.values()],
            "refs": {k: v.to_json() for k, v in self.refs.items()},
            "snapshot-log": list(self.snapshot_log),
            "metadata-log": list(self.metadata_log),
            "properties": self.properties,
            **({"statistics": list(self.statistics)}
               if self.statistics else {}),
            **({"partition-statistics": list(self.partition_statistics)}
               if self.partition_statistics else {}),
            # v3 row lineage: required for v3 documents; omitted below
            # so v2 documents keep validating against the vendored
            # v2 JSON Schema byte-for-byte
            **({"next-row-id": self.next_row_id}
               if self.format_version >= 3 else {}),
        }

    @staticmethod
    def from_json(d: dict) -> "TableMetadata":
        # V1 compatibility shim (reference: table_metadata.rs:428-814):
        # V1 docs carry singular `schema` / `partition-spec` and may omit
        # the id-keyed maps; upgrade them to the V2 shape in memory.
        if "schemas" not in d and "schema" in d:
            s = dict(d["schema"])
            s.setdefault("schema-id", d.get("current-schema-id", 0))
            d = {**d, "schemas": [s], "current-schema-id": s["schema-id"]}
        if "partition-specs" not in d:
            fields = d.get("partition-spec", [])
            d = {**d, "partition-specs": [
                {"spec-id": d.get("default-spec-id", 0), "fields": fields}]}
        schemas = {s["schema-id"]: Schema.from_json(s) for s in d["schemas"]}
        specs = {s["spec-id"]: PartitionSpec.from_json(s)
                 for s in d["partition-specs"]}
        orders = {s["order-id"]: SortOrder.from_json(s)
                  for s in d.get("sort-orders", [{"order-id": 0, "fields": []}])}
        snaps = {s["snapshot-id"]: Snapshot.from_json(s)
                 for s in d.get("snapshots", [])}
        refs = {k: SnapshotReference.from_json(v)
                for k, v in d.get("refs", {}).items()}
        # writers that predate refs (or minimal external ones) carry only
        # current-snapshot-id; synthesize the main branch from it
        cur = d.get("current-snapshot-id")
        if cur is not None and cur != -1 and MAIN_BRANCH not in refs \
                and cur in snaps:
            refs[MAIN_BRANCH] = SnapshotReference(cur, "branch")
        return TableMetadata(
            table_uuid=d["table-uuid"], location=d["location"],
            last_sequence_number=d.get("last-sequence-number", 0),
            last_updated_ms=d.get("last-updated-ms", 0),
            last_column_id=d.get("last-column-id", 0),
            schemas=schemas, current_schema_id=d["current-schema-id"],
            partition_specs=specs, default_spec_id=d.get("default-spec-id", 0),
            last_partition_id=d.get("last-partition-id", 999),
            sort_orders=orders,
            default_sort_order_id=d.get("default-sort-order-id", 0),
            snapshots=snaps, refs=refs,
            snapshot_log=tuple(d.get("snapshot-log", [])),
            metadata_log=tuple(d.get("metadata-log", [])),
            properties=d.get("properties", {}),
            statistics=tuple(d.get("statistics", [])),
            partition_statistics=tuple(d.get("partition-statistics", [])),
            format_version=d.get("format-version", FORMAT_VERSION),
            next_row_id=d.get("next-row-id", 0),
        )

    def dumps(self) -> str:
        return json.dumps(self.to_json(), indent=None, separators=(",", ":"))

    @staticmethod
    def loads(s: str) -> "TableMetadata":
        return TableMetadata.from_json(json.loads(s))
