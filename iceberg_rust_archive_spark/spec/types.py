"""Iceberg type system and Spark conversion.

Mirrors the reference's ``Type`` enum (iceberg-rust-spec/src/spec/types.rs:34-93)
and its Arrow conversion semantics (iceberg-rust-spec/src/arrow/schema.rs:80-177),
re-targeted at ``pyspark.sql.types`` per the mapping table in SURVEY.md §1.2.

Primitive types are represented as canonical lowercase strings
(``"long"``, ``"decimal(10,2)"``, ``"fixed[16]"``); nested types are
dataclasses carrying table-unique field ids — field ids, never names, are the
backbone of schema evolution / stats / equality deletes (types.rs:376-389).
"""

from __future__ import annotations

import decimal
import re
from dataclasses import dataclass, field
from typing import Union

from pyspark.sql import types as T

PRIMITIVES = {
    "boolean", "int", "long", "float", "double", "date", "time",
    "timestamp", "timestamptz", "string", "uuid", "binary",
    # v3: semi-structured values with per-value types (spec §Variant);
    # maps to Spark's VariantType — parquet carries the binary
    # metadata/value pair (Spark may additionally shred typed_value)
    "variant",
}
_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")
_FIXED_RE = re.compile(r"^fixed\[(\d+)\]$")

# Iceberg decimals carry up to 38 digits; Python's default context
# rounds to 28. Rescale decimals (scaleb) under this one so no digit
# is lost.
DECIMAL_CONTEXT = decimal.Context(prec=100)


def decimal_unscaled_bytes(unscaled: int) -> bytes:
    """Big-endian two's complement of an unscaled decimal in the
    minimum number of bytes: the spec's hash input and single-value
    form (-128 is ``80``, not ``ff80``)."""
    nbits = (unscaled if unscaled >= 0 else ~unscaled).bit_length()
    return unscaled.to_bytes(nbits // 8 + 1, "big", signed=True)


@dataclass(frozen=True)
class NestedField:
    """A named, id-carrying field (types.rs:376-389).

    ``initial_default`` / ``write_default`` are the v3 default-value
    fields: initial-default is the value READERS substitute for rows in
    data files that predate the column (files physically missing the
    field — NOT files that stored an explicit NULL); write-default is
    what WRITERS fill when the input omits the column."""
    field_id: int
    name: str
    field_type: "IcebergType"
    required: bool = False
    doc: str | None = None
    initial_default: object = None
    write_default: object = None

    def to_json(self) -> dict:
        d = {"id": self.field_id, "name": self.name,
             "required": self.required, "type": type_to_json(self.field_type)}
        if self.doc is not None:
            d["doc"] = self.doc
        if self.initial_default is not None:
            d["initial-default"] = self.initial_default
        if self.write_default is not None:
            d["write-default"] = self.write_default
        return d

    @staticmethod
    def from_json(d: dict) -> "NestedField":
        return NestedField(d["id"], d["name"], type_from_json(d["type"]),
                           d.get("required", False), d.get("doc"),
                           d.get("initial-default"), d.get("write-default"))


@dataclass(frozen=True)
class StructTypeSpec:
    fields: tuple[NestedField, ...] = field(default_factory=tuple)

    def field_by_id(self, fid: int) -> NestedField | None:
        for f in self.fields:
            if f.field_id == fid:
                return f
        return None

    def field_by_name(self, name: str) -> NestedField | None:
        for f in self.fields:
            if f.name == name:
                return f
        return None


@dataclass(frozen=True)
class ListTypeSpec:
    element_id: int
    element: "IcebergType"
    element_required: bool = False


@dataclass(frozen=True)
class MapTypeSpec:
    key_id: int
    key: "IcebergType"
    value_id: int
    value: "IcebergType"
    value_required: bool = False


IcebergType = Union[str, StructTypeSpec, ListTypeSpec, MapTypeSpec]


def is_primitive(t: IcebergType) -> bool:
    return isinstance(t, str)


def contains_variant(t: IcebergType) -> bool:
    """True when ``t`` is or nests a v3 ``variant`` (format-version gate)."""
    if isinstance(t, str):
        return t == "variant"
    if isinstance(t, StructTypeSpec):
        return any(contains_variant(f.field_type) for f in t.fields)
    if isinstance(t, ListTypeSpec):
        return contains_variant(t.element)
    if isinstance(t, MapTypeSpec):
        return contains_variant(t.key) or contains_variant(t.value)
    return False


def validate_primitive(t: str) -> None:
    if t in PRIMITIVES or _DECIMAL_RE.match(t) or _FIXED_RE.match(t):
        return
    raise ValueError(f"unknown iceberg primitive type: {t!r}")


def type_to_json(t: IcebergType):
    """Iceberg JSON single-value type representation (spec-compatible)."""
    if isinstance(t, str):
        validate_primitive(t)
        # spec serializes fixed as "fixed[N]" and decimal as "decimal(p, s)"
        return t
    if isinstance(t, StructTypeSpec):
        return {"type": "struct", "fields": [f.to_json() for f in t.fields]}
    if isinstance(t, ListTypeSpec):
        return {"type": "list", "element-id": t.element_id,
                "element": type_to_json(t.element),
                "element-required": t.element_required}
    if isinstance(t, MapTypeSpec):
        return {"type": "map", "key-id": t.key_id, "key": type_to_json(t.key),
                "value-id": t.value_id, "value": type_to_json(t.value),
                "value-required": t.value_required}
    raise TypeError(f"not an iceberg type: {t!r}")


def type_from_json(j) -> IcebergType:
    if isinstance(j, str):
        validate_primitive(j)
        return j
    kind = j["type"]
    if kind == "struct":
        return StructTypeSpec(tuple(NestedField.from_json(f) for f in j["fields"]))
    if kind == "list":
        return ListTypeSpec(j["element-id"], type_from_json(j["element"]),
                            j.get("element-required", False))
    if kind == "map":
        return MapTypeSpec(j["key-id"], type_from_json(j["key"]),
                           j["value-id"], type_from_json(j["value"]),
                           j.get("value-required", False))
    raise ValueError(f"bad type json: {j!r}")


# --- Spark conversion (SURVEY §1.2 mapping table; arrow/schema.rs:80-140) ---

def iceberg_to_spark_type(t: IcebergType) -> T.DataType:
    if isinstance(t, str):
        m = _DECIMAL_RE.match(t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        if _FIXED_RE.match(t):
            return T.BinaryType()
        return {
            "boolean": T.BooleanType(), "int": T.IntegerType(),
            "long": T.LongType(), "float": T.FloatType(),
            "double": T.DoubleType(), "date": T.DateType(),
            # Spark has no TimeType: µs since midnight as long (SURVEY §1.2)
            "time": T.LongType(),
            "timestamp": T.TimestampNTZType(), "timestamptz": T.TimestampType(),
            "string": T.StringType(), "uuid": T.StringType(),
            "binary": T.BinaryType(),
            "variant": T.VariantType(),
        }[t]
    if isinstance(t, StructTypeSpec):
        return T.StructType([
            T.StructField(f.name, iceberg_to_spark_type(f.field_type),
                          nullable=not f.required,
                          metadata={"parquet.field.id": f.field_id})
            for f in t.fields])
    if isinstance(t, ListTypeSpec):
        return T.ArrayType(iceberg_to_spark_type(t.element),
                           containsNull=not t.element_required)
    if isinstance(t, MapTypeSpec):
        return T.MapType(iceberg_to_spark_type(t.key),
                         iceberg_to_spark_type(t.value),
                         valueContainsNull=not t.value_required)
    raise TypeError(f"not an iceberg type: {t!r}")


def spark_to_iceberg_type(t: T.DataType, next_id) -> IcebergType:
    """Inverse conversion; ``next_id`` is a callable allocating fresh field ids
    (mirrors new_fields_with_ids, arrow/schema.rs:179-235)."""
    if isinstance(t, T.BooleanType):
        return "boolean"
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(t, T.LongType):
        return "long"
    if isinstance(t, T.FloatType):
        return "float"
    if isinstance(t, T.DoubleType):
        return "double"
    if isinstance(t, T.DecimalType):
        return f"decimal({t.precision},{t.scale})"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, T.TimestampNTZType):
        return "timestamp"
    if isinstance(t, T.TimestampType):
        return "timestamptz"
    if isinstance(t, T.StringType):
        return "string"
    if isinstance(t, T.BinaryType):
        return "binary"
    if isinstance(t, T.VariantType):
        return "variant"
    if isinstance(t, T.StructType):
        fields = []
        for f in t.fields:
            fid = next_id()
            fields.append(NestedField(fid, f.name,
                                      spark_to_iceberg_type(f.dataType, next_id),
                                      required=not f.nullable))
        return StructTypeSpec(tuple(fields))
    if isinstance(t, T.ArrayType):
        eid = next_id()
        return ListTypeSpec(eid, spark_to_iceberg_type(t.elementType, next_id),
                            element_required=not t.containsNull)
    if isinstance(t, T.MapType):
        kid = next_id()
        key = spark_to_iceberg_type(t.keyType, next_id)
        vid = next_id()
        val = spark_to_iceberg_type(t.valueType, next_id)
        return MapTypeSpec(kid, key, vid, val,
                           value_required=not t.valueContainsNull)
    raise TypeError(f"unsupported spark type: {t!r}")


def spark_schema_for(struct: StructTypeSpec) -> T.StructType:
    st = iceberg_to_spark_type(struct)
    assert isinstance(st, T.StructType)
    return st
