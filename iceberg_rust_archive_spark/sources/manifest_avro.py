"""Iceberg-spec Avro encoding of manifests and manifest lists.

Mirrors the reference's Avro manifest writer
(iceberg-rust/src/table/manifest.rs:155-499, manifest_list.rs:36-97):
``manifest_entry`` / ``manifest_file`` records with the spec's field
names and field-id attributes, column bounds as single-value binary
serialization (spec Appendix D), and the table schema JSON carried in
the container-file metadata — which is what makes the files readable
by external Iceberg tooling and by the stock Java Avro library
(tests/test_avro_interop.py drives ``org.apache.avro.file
.DataFileReader`` over them through the Spark JVM).

Single-value bound encoding by Iceberg type:
- int → 4-byte LE, long → 8-byte LE, float → 4-byte LE, double → 8-byte
  LE IEEE-754, boolean → 0x00/0x01, string → UTF-8 bytes,
- timestamp/timestamptz → 8-byte LE epoch micros (our in-memory bound
  for timestamps is already epoch micros),
- date → 4-byte LE days since 1970-01-01 (in-memory bound is an ISO
  string; converted on encode, restored on decode),
- decimal(P,S) → minimum-length two's-complement BIG-endian unscaled
  int, exactly the spec's Appendix D encoding (r13 — decimal bounds
  only became harvestable with the walker-first footer parse). The
  per-file ``bound-types`` metadata tags these ``decimal-binary(P,S)``
  so pre-r13 manifests — which encoded decimals as UTF-8 ``str(value)``
  under the plain ``decimal(P,S)`` tag — keep decoding on their legacy
  path (manifests are immutable; the tag travels with the file),
- anything else → UTF-8 of ``str(value)``.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import json
import re as _re
import struct

from iceberg_rust_archive_spark.spec.types import (
    DECIMAL_CONTEXT, decimal_unscaled_bytes,
)

_EPOCH = _dt.date(1970, 1, 1)


def _decimal_scale(t: str) -> int:
    m = _re.search(r"\((\d+)\s*,\s*(\d+)\)", t)
    return int(m.group(2)) if m else 0


# ---------------------------------------------------------------------------
# single-value serialization (spec Appendix D)
# ---------------------------------------------------------------------------

def encode_bound(value, ice_type: str | None) -> bytes:
    if value is None:
        return b""
    t = ice_type or ""
    if t == "int":
        return struct.pack("<i", int(value))
    if t in ("long", "time") or t.startswith("timestamp"):
        # time = µs since midnight, an 8-byte long per Appendix D (r16:
        # previously fell to the int fallback — same bytes — but the
        # DECODE side had no branch and crashed reading them back)
        return struct.pack("<q", int(value))
    if t == "float":
        return struct.pack("<f", float(value))
    if t == "double":
        return struct.pack("<d", float(value))
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t == "date":
        if isinstance(value, str):
            value = (_dt.date.fromisoformat(value) - _EPOCH).days
        return struct.pack("<i", int(value))
    if t == "string":
        return str(value).encode("utf-8")
    if t == "uuid":
        # spec single-value serialization: 16-byte big-endian (a
        # foreign reader decodes exactly 16 bytes; UTF-8 of the hex
        # string would misparse there). A value that is NOT a parseable
        # uuid (e.g. a string-truncated bound replayed from a pre-r16
        # DataFile) drops the bound rather than failing the commit —
        # bounds are optional, a crashed commit is not (r16).
        import uuid as _u
        try:
            return _u.UUID(str(value)).bytes
        except (ValueError, AttributeError, TypeError):
            return None
    if t.startswith("decimal-binary"):
        scale = _decimal_scale(t)
        unscaled = _dec.Decimal(str(value)).scaleb(scale, DECIMAL_CONTEXT)
        n = int(unscaled)
        if n != unscaled:
            raise ValueError(
                f"decimal bound {value!r} not representable at scale "
                f"{scale} — rounding a bound would un-bound it")
        return decimal_unscaled_bytes(n)
    # value-typed fallback (no schema context / exotic type)
    if isinstance(value, bool):
        return b"\x01" if value else b"\x00"
    if isinstance(value, int):
        return struct.pack("<q", value)
    if isinstance(value, float):
        return struct.pack("<d", value)
    return str(value).encode("utf-8")


def decode_bound(data: bytes, ice_type: str | None):
    if data == b"":
        return None
    t = ice_type or "string"
    if t == "int":
        return struct.unpack("<i", data)[0]
    if t in ("long", "time") or t.startswith("timestamp"):
        return struct.unpack("<q", data)[0]
    if t == "float":
        return struct.unpack("<f", data)[0]
    if t == "double":
        return struct.unpack("<d", data)[0]
    if t == "boolean":
        return data == b"\x01"
    if t == "date":
        return (_EPOCH + _dt.timedelta(
            days=struct.unpack("<i", data)[0])).isoformat()
    if t == "uuid":
        import uuid as _u
        if len(data) == 16:
            return str(_u.UUID(bytes=bytes(data)))
        return data.decode("utf-8")  # pre-r14 manifests: hex string
    if t.startswith("decimal-binary"):
        return _dec.Decimal(
            int.from_bytes(data, "big", signed=True)
        ).scaleb(-_decimal_scale(t), DECIMAL_CONTEXT)
    if t.startswith("decimal"):
        # pre-r13 manifests: UTF-8 str(value) — parse back to a typed
        # Decimal so old tables' decimal bounds prune too
        try:
            return _dec.Decimal(data.decode("utf-8"))
        except (UnicodeDecodeError, _dec.InvalidOperation):
            return data.decode("utf-8", errors="replace")
    return data.decode("utf-8")


# ---------------------------------------------------------------------------
# avro schemas (field names + field-ids per the Iceberg table spec)
# ---------------------------------------------------------------------------

def _opt(t):
    return ["null", t]


def _kv_map(name: str, key_id: int, value_id: int, value_type: str) -> dict:
    """Iceberg encodes int-keyed maps as array<record{key,value}>
    (avro map keys must be strings)."""
    return {"type": "array", "logicalType": "map", "items": {
        "type": "record", "name": name, "fields": [
            {"name": "key", "type": "int", "field-id": key_id},
            {"name": "value", "type": value_type, "field-id": value_id},
        ]}}


def _py_avro_type(values: list) -> str:
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, int):
            return "long"
        if isinstance(v, float):
            return "double"
        return "string"
    return "string"


def partition_avro_fields(pf_names: list[str],
                          partitions: list[dict]) -> list[dict]:
    """r102 partition-record fields, typed from the observed values
    (a spec-complete writer derives them from the partition spec's
    transform result types; transformed values here are long/string/
    double/bool which covers every transform we emit)."""
    out = []
    for i, name in enumerate(pf_names):
        vals = [p.get(name) for p in partitions]
        out.append({"name": name, "type": _opt(_py_avro_type(vals)),
                    "field-id": 1000 + i})
    return out


def manifest_entry_schema(partition_fields: list[dict]) -> dict:
    bound = {"type": "array", "logicalType": "map", "items": {
        "type": "record", "name": "k126_v127", "fields": [
            {"name": "key", "type": "int", "field-id": 126},
            {"name": "value", "type": "bytes", "field-id": 127}]}}
    bound2 = json.loads(json.dumps(bound))
    bound2["items"]["name"] = "k129_v130"
    data_file = {"type": "record", "name": "r2", "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "field-id": 102, "type": {
            "type": "record", "name": "r102",
            "fields": partition_fields}},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {"name": "column_sizes", "field-id": 108,
         "type": _opt(_kv_map("k117_v118", 117, 118, "long"))},
        {"name": "value_counts", "field-id": 109,
         "type": _opt(_kv_map("k119_v120", 119, 120, "long"))},
        {"name": "null_value_counts", "field-id": 110,
         "type": _opt(_kv_map("k121_v122", 121, 122, "long"))},
        {"name": "nan_value_counts", "field-id": 137,
         "type": _opt(_kv_map("k138_v139", 138, 139, "long"))},
        {"name": "distinct_counts", "field-id": 111,
         "type": _opt(_kv_map("k123_v124", 123, 124, "long"))},
        {"name": "lower_bounds", "type": _opt(bound), "field-id": 125},
        {"name": "upper_bounds", "type": _opt(bound2), "field-id": 128},
        {"name": "split_offsets", "field-id": 132, "type": _opt(
            {"type": "array", "items": "long", "element-id": 133})},
        {"name": "equality_ids", "field-id": 135, "type": _opt(
            {"type": "array", "items": "int", "element-id": 136})},
        {"name": "referenced_data_file", "field-id": 143,
         "type": _opt("string")},
        {"name": "content_offset", "field-id": 144, "type": _opt("long")},
        {"name": "first_row_id", "field-id": 142, "type": _opt("long")},
        {"name": "content_size_in_bytes", "field-id": 145,
         "type": _opt("long")},
    ]}
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": _opt("long"), "field-id": 1},
        {"name": "sequence_number", "type": _opt("long"), "field-id": 3},
        {"name": "file_sequence_number", "type": _opt("long"),
         "field-id": 4},
        {"name": "data_file", "type": data_file, "field-id": 2},
    ]}


MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions", "field-id": 507, "type": _opt(
            {"type": "array", "element-id": 508, "items": {
                "type": "record", "name": "r508", "fields": [
                    {"name": "contains_null", "type": "boolean",
                     "field-id": 509},
                    {"name": "contains_nan", "type": _opt("boolean"),
                     "field-id": 518},
                    {"name": "lower_bound", "type": _opt("bytes"),
                     "field-id": 510},
                    {"name": "upper_bound", "type": _opt("bytes"),
                     "field-id": 511},
                ]}})},
        {"name": "first_row_id", "field-id": 520, "type": _opt("long")},
    ]}


# ---------------------------------------------------------------------------
# ManifestEntry / ManifestListEntry <-> avro dicts
# ---------------------------------------------------------------------------

def _map_out(d: dict) -> list[dict] | None:
    return ([{"key": int(k), "value": v} for k, v in sorted(d.items())]
            if d else None)


def _map_in(lst) -> dict:
    return {e["key"]: e["value"] for e in lst} if lst else {}


def entry_to_avro(e, field_types: dict[int, str]) -> dict:
    df = e.data_file
    return {
        "status": e.status, "snapshot_id": e.snapshot_id,
        "sequence_number": e.sequence_number,
        "file_sequence_number": e.file_sequence_number,
        "data_file": {
            "content": df.content, "file_path": df.file_path,
            # the spec writes the enum name UPPERCASE ("PARQUET"/"ORC");
            # readers (incl. ours) accept any case but external writers
            # emit upper, so match them byte-for-byte
            "file_format": (df.file_format or "parquet").upper(),
            "partition": dict(df.partition),
            "record_count": df.record_count,
            "file_size_in_bytes": df.file_size_in_bytes,
            "column_sizes": _map_out(df.column_sizes),
            "value_counts": _map_out(df.value_counts),
            "null_value_counts": _map_out(df.null_value_counts),
            "nan_value_counts": _map_out(df.nan_value_counts),
            "distinct_counts": _map_out(df.distinct_counts),
            "lower_bounds": _bounds_out(df.lower_bounds, field_types),
            "upper_bounds": _bounds_out(df.upper_bounds, field_types),
            "split_offsets": list(df.split_offsets)
            if df.split_offsets is not None else None,
            "equality_ids": list(df.equality_ids)
            if df.equality_ids is not None else None,
            "referenced_data_file": df.referenced_data_file,
            "content_offset": df.content_offset,
            "content_size_in_bytes": df.content_size_in_bytes,
            "first_row_id": df.first_row_id,
        }}


def _bounds_out(bounds: dict, field_types: dict[int, str]):
    if not bounds:
        return None
    out = [{"key": int(k),
            "value": encode_bound(v, field_types.get(int(k)))}
           for k, v in sorted(bounds.items())]
    return [e for e in out if e["value"] is not None] or None


def _bounds_in(lst, field_types: dict[int, str]) -> dict:
    if not lst:
        return {}
    return {e["key"]: decode_bound(e["value"], field_types.get(e["key"]))
            for e in lst}


def entry_from_avro(d: dict, field_types: dict[int, str]):
    """V2 and V1 manifest entries (manifest.rs:90-117 try_from_v1/v2):
    V1 carries no content (implicitly data), no sequence numbers
    (inherit 0, the V1→V2 migration rule), and an extra
    block_size_in_bytes we ignore."""
    from iceberg_rust_archive_spark.spec.manifest import DataFile, ManifestEntry
    f = d["data_file"]
    df = DataFile(
        f.get("content", 0), f["file_path"],
        (f["file_format"] or "parquet").lower(),
        {k: v for k, v in f["partition"].items()},
        f["record_count"], f["file_size_in_bytes"],
        _map_in(f.get("column_sizes")), _map_in(f.get("value_counts")),
        _map_in(f.get("null_value_counts")),
        _map_in(f.get("nan_value_counts")),
        _map_in(f.get("distinct_counts")),
        _bounds_in(f.get("lower_bounds"), field_types),
        _bounds_in(f.get("upper_bounds"), field_types),
        tuple(f["equality_ids"]) if f.get("equality_ids") is not None
        else None,
        tuple(f["split_offsets"]) if f.get("split_offsets") is not None
        else None,
        f.get("referenced_data_file"), f.get("content_offset"),
        f.get("content_size_in_bytes"), f.get("first_row_id"))
    return ManifestEntry(d["status"], df, d.get("snapshot_id"),
                         d.get("sequence_number"),
                         d.get("file_sequence_number"))


def mle_to_avro(m, ptypes: list[str]) -> dict:
    return {
        "manifest_path": m.manifest_path,
        "manifest_length": m.manifest_length,
        "partition_spec_id": m.partition_spec_id, "content": m.content,
        "sequence_number": m.sequence_number,
        "min_sequence_number": m.min_sequence_number,
        "added_snapshot_id": m.added_snapshot_id,
        "added_files_count": m.added_files_count,
        "existing_files_count": m.existing_files_count,
        "deleted_files_count": m.deleted_files_count,
        "added_rows_count": m.added_rows_count,
        "existing_rows_count": m.existing_rows_count,
        "deleted_rows_count": m.deleted_rows_count,
        "partitions": [{
            "contains_null": p.contains_null,
            "contains_nan": p.contains_nan,
            "lower_bound": encode_bound(
                p.lower_bound, t) if p.lower_bound is not None else None,
            "upper_bound": encode_bound(
                p.upper_bound, t) if p.upper_bound is not None else None,
        } for p, t in zip(m.partitions,
                          ptypes + ["string"] * len(m.partitions))]
        or None,
        "first_row_id": m.first_row_id,
    }


def mle_from_avro(d: dict, ptypes: list[str]):
    """V2 and V1 manifest-file rows (manifest_list.rs V1/V2 structs):
    V1 has no content (data) or sequence numbers (0), and names its
    counts ``added_data_files_count`` etc."""
    from iceberg_rust_archive_spark.spec.manifest import (
        FieldSummary, ManifestListEntry,
    )
    parts = d.get("partitions") or []
    summaries = tuple(FieldSummary(
        p["contains_null"], p.get("contains_nan"),
        decode_bound(p["lower_bound"], t)
        if p.get("lower_bound") is not None else None,
        decode_bound(p["upper_bound"], t)
        if p.get("upper_bound") is not None else None)
        for p, t in zip(parts, ptypes + ["string"] * len(parts)))

    def count(v2_name, v1_name, default=0):
        v = d.get(v2_name)
        if v is None:
            v = d.get(v1_name)
        return v if v is not None else default

    return ManifestListEntry(
        d["manifest_path"], d["manifest_length"], d["partition_spec_id"],
        d.get("content", 0), d.get("sequence_number", 0),
        d.get("min_sequence_number", 0),
        d["added_snapshot_id"],
        count("added_files_count", "added_data_files_count"),
        count("existing_files_count", "existing_data_files_count"),
        count("deleted_files_count", "deleted_data_files_count"),
        count("added_rows_count", "added_rows_count"),
        count("existing_rows_count", "existing_rows_count"),
        count("deleted_rows_count", "deleted_rows_count"), summaries,
        d.get("first_row_id"))


def field_types_from_schema_json(schema_json: str | None) -> dict[int, str]:
    """field_id → primitive type name, for bound (de)serialization."""
    if not schema_json:
        return {}
    out: dict[int, str] = {}

    def walk(fields):
        for f in fields:
            t = f.get("type")
            if isinstance(t, dict) and t.get("type") == "struct":
                walk(t["fields"])
            elif isinstance(t, str):
                out[f["id"]] = t
    try:
        walk(json.loads(schema_json).get("fields", []))
    except (ValueError, KeyError, TypeError):
        return {}
    return out
