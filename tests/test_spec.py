"""Spec-layer round-trips (mirrors reference layer-1 tests, SURVEY §5.1)."""

import datetime as dt

from iceberg_rust_archive_spark.functions.transforms import (
    bucket_value, murmur3_32, transform_value, truncate_value,
)
from iceberg_rust_archive_spark.spec import (
    DataFile, ManifestEntry, ManifestListEntry, FieldSummary, NestedField,
    PartitionField, PartitionSpec, Schema, Snapshot, SortField, SortOrder,
    StructTypeSpec, ListTypeSpec, MapTypeSpec, TableMetadata,
    ViewMetadata, MaterializedViewMetadata, RefreshState,
)
from iceberg_rust_archive_spark.spec.types import (
    iceberg_to_spark_type, type_from_json, type_to_json,
)
from iceberg_rust_archive_spark.spec.view_metadata import SourceTableState
from pyspark.sql import types as T


ORDERS_SCHEMA = Schema(0, StructTypeSpec((
    NestedField(1, "id", "long", True),
    NestedField(2, "customer_id", "long", True),
    NestedField(3, "product_id", "long", True),
    NestedField(4, "date", "date", True),
    NestedField(5, "amount", "int", True),
)))


def test_type_json_roundtrip():
    types = ["boolean", "int", "long", "float", "double", "decimal(10,2)",
             "date", "time", "timestamp", "timestamptz", "string", "uuid",
             "fixed[16]", "binary",
             StructTypeSpec((NestedField(1, "a", "int", True),
                             NestedField(2, "b", ListTypeSpec(3, "string")),)),
             MapTypeSpec(4, "string", 5, "double")]
    for t in types:
        assert type_from_json(type_to_json(t)) == t


def test_spark_type_mapping():
    assert iceberg_to_spark_type("long") == T.LongType()
    assert iceberg_to_spark_type("timestamp") == T.TimestampNTZType()
    assert iceberg_to_spark_type("timestamptz") == T.TimestampType()
    assert iceberg_to_spark_type("time") == T.LongType()
    assert iceberg_to_spark_type("uuid") == T.StringType()
    assert iceberg_to_spark_type("decimal(10,2)") == T.DecimalType(10, 2)
    st = iceberg_to_spark_type(ORDERS_SCHEMA.struct)
    assert [f.name for f in st.fields] == ["id", "customer_id", "product_id",
                                           "date", "amount"]
    assert st.fields[0].metadata["parquet.field.id"] == 1


def test_schema_roundtrip_and_project():
    s2 = Schema.from_json(ORDERS_SCHEMA.to_json())
    assert s2 == ORDERS_SCHEMA
    proj = ORDERS_SCHEMA.project([2, 4])
    assert [f.name for f in proj.fields] == ["customer_id", "date"]
    assert ORDERS_SCHEMA.highest_field_id() == 5


def test_partition_spec_roundtrip_and_parse():
    spec = PartitionSpec(0, (PartitionField(4, 1000, "date_day", "day"),))
    assert PartitionSpec.from_json(spec.to_json()) == spec
    ids = iter(range(1000, 1010))
    f = PartitionSpec.parse_transform_expr("month(date)", lambda: next(ids),
                                           ORDERS_SCHEMA)
    assert f == PartitionField(4, 1000, "date_month", "month")
    f2 = PartitionSpec.parse_transform_expr("bucket(16, id)", lambda: next(ids),
                                            ORDERS_SCHEMA)
    assert f2.transform == "bucket[16]" and f2.source_id == 1


def test_sort_order_roundtrip():
    o = SortOrder(1, (SortField(4, "identity", "desc", "nulls-last"),))
    assert SortOrder.from_json(o.to_json()) == o


def test_manifest_roundtrip():
    df = DataFile(0, "/tmp/x.parquet", "parquet", {"date_day": 18262},
                  100, 1234, lower_bounds={1: 1, 4: "2020-01-01"},
                  upper_bounds={1: 6, 4: "2020-02-02"},
                  null_value_counts={1: 0}, equality_ids=None)
    entry = ManifestEntry(1, df, snapshot_id=7, sequence_number=1)
    assert ManifestEntry.from_json(entry.to_json()) == entry
    mle = ManifestListEntry("m.json", 10, 0, 0, 1, 1, 7,
                            partitions=(FieldSummary(False, None, 18262, 18293),))
    assert ManifestListEntry.from_json(mle.to_json()) == mle


def test_table_metadata_roundtrip_and_snapshots():
    md = TableMetadata.new("/tmp/warehouse/db/orders", ORDERS_SCHEMA,
                           PartitionSpec(0, (PartitionField(4, 1000, "date_day", "day"),)))
    snap = Snapshot(snapshot_id=1, sequence_number=1, timestamp_ms=1000,
                    manifest_list="ml1.json", summary={"operation": "append"},
                    schema_id=0)
    md2 = md.with_snapshot(snap)
    assert md2.current_snapshot().snapshot_id == 1
    snap2 = Snapshot(2, 2, 2000, "ml2.json", {"operation": "append"}, 1, 0)
    md3 = md2.with_snapshot(snap2)
    assert md3.current_snapshot().parent_snapshot_id == 1
    assert md3.last_sequence_number == 2
    rt = TableMetadata.loads(md3.dumps())
    assert rt.current_snapshot().snapshot_id == 2
    assert rt.current_schema() == ORDERS_SCHEMA
    assert rt.snapshot_as_of_ms(1500).snapshot_id == 1
    # branch write does not disturb main
    snapb = Snapshot(3, 3, 3000, "ml3.json", {}, 2, 0)
    md4 = md3.with_snapshot(snapb, branch="dev")
    assert md4.current_snapshot().snapshot_id == 2
    assert md4.current_snapshot("dev").snapshot_id == 3


def test_view_and_mv_metadata_roundtrip():
    vm = ViewMetadata.new("/tmp/wh/db/v1", "SELECT 1 AS x", ORDERS_SCHEMA)
    assert ViewMetadata.from_json(vm.to_json()).sql == "SELECT 1 AS x"
    vm2 = vm.with_new_version("SELECT 2 AS x", ORDERS_SCHEMA)
    assert vm2.sql == "SELECT 2 AS x" and vm2.current_version_id == 2

    mv = MaterializedViewMetadata.new_mv("/tmp/wh/db/mv1", "SELECT 1 AS x",
                                         ORDERS_SCHEMA, "db.mv1_storage")
    rt = MaterializedViewMetadata.from_json(mv.to_json())
    assert rt.storage_table == "db.mv1_storage"

    rs = RefreshState(1, (SourceTableState("u1", "main", 42),))
    rt2 = RefreshState.from_json_str(rs.to_json_str())
    assert rt2.snapshot_for("u1") == 42
    assert rt2.snapshot_for("u2") is None


# --- transforms: test vectors (year/day/hour match the reference's
# arrow/transform.rs:126-260; month is the SPEC ordinal — months since
# 1970-01 — one LESS than the reference's values.rs:857-861, which is
# off-by-one vs Iceberg-java and would make foreign readers mis-prune) ----

def test_date_transforms_reference_vectors():
    for days, y, m in [(19478, 53, 640), (19523, 53, 641), (19723, 54, 648)]:
        d = dt.date(1970, 1, 1) + dt.timedelta(days=days)
        assert transform_value("year", d, "date") == y
        assert transform_value("month", d, "date") == m
        assert transform_value("day", d, "date") == days
    # spec pin: 2023-05-15 → 640 (Iceberg-java MonthTransform semantics)
    assert transform_value("month", dt.date(2023, 5, 15), "date") == 640


def test_far_future_micros_are_exact():
    """Value-side epoch micros compute in exact integer arithmetic:
    float64 round-trips (total_seconds()*1e6) are off by up to ~32µs
    beyond 2^53 µs (≈ year 2255), putting a boundary instant in the
    wrong hour/identity partition vs the column path's exact
    _floor_div."""
    ts = dt.datetime(2999, 12, 31, 23, 59, 59, 999999)
    micros = transform_value("identity", ts, "timestamptz")
    td = ts - dt.datetime(1970, 1, 1)
    want = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    assert micros == want and micros % 10 == 9  # float would round this
    assert transform_value("hour", ts, "timestamptz") \
        == want // 3_600_000_000
    # pre-epoch floor semantics hold too
    early = dt.datetime(1969, 12, 31, 23, 59, 59, 999999)
    assert transform_value("identity", early, "timestamptz") == -1
    assert transform_value("hour", early, "timestamptz") == -1


def test_month_transform_negative_dates():
    # months since 1970-01 goes negative before the epoch
    assert transform_value("month", dt.date(1969, 12, 15), "date") == -1
    assert transform_value("month", dt.date(1969, 5, 1), "date") == -8
    assert transform_value("month", dt.date(1970, 1, 31), "date") == 0
    assert transform_value("year", dt.date(1969, 12, 15), "date") == -1


def test_timestamp_transforms_reference_vectors():
    for micros, hours, days, months in [
            (1682937000000000, 467482, 19478, 640),
            (1686840330000000, 468566, 19523, 641),
            (1704067200000000, 473352, 19723, 648)]:
        ts = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=micros)
        assert transform_value("hour", ts, "timestamp") == hours
        assert transform_value("day", ts, "timestamp") == days
        assert transform_value("month", ts, "timestamp") == months


def test_murmur3_known_vectors():
    # public murmur3_x86_32 vectors (seed 0)
    assert murmur3_32(b"") == 0
    assert murmur3_32(b"hello") == 0x248BFA47
    assert murmur3_32(b"hello, world") == 0x149BBB7F


def test_bucket_matches_spec_semantics():
    # spec: (hash & Integer.MAX_VALUE) % N, int/date WIDENED to 8-byte
    # LE (Appendix B — reference divergence: values.rs:112,362 packs
    # i32 and mods the raw u32)
    import struct
    for v, n in [(34, 16), (1, 10), (123456, 7)]:
        expected = (murmur3_32(struct.pack("<q", v)) & 0x7FFFFFFF) % n
        assert bucket_value(v, n, "int") == expected
        # widening makes int and long bucket IDENTICALLY — the property
        # a foreign engine's typed probe depends on
        assert bucket_value(v, n, "long") == expected
    assert bucket_value("iceberg", 16, "string") == \
        (murmur3_32(b"iceberg") & 0x7FFFFFFF) % 16
    assert bucket_value(34, 1 << 20, "date") == bucket_value(
        34, 1 << 20, "int")


def test_bucket_hash_spec_appendix_vectors():
    """The Iceberg spec's published Appendix B hash vectors — the
    strongest cross-engine pin available without a second engine in
    the sandbox: any byte-encoding or widening mistake lands off these
    by construction. (The signed view of our unsigned murmur matches
    the spec's listed int32 values.)"""
    import datetime as dtm

    from iceberg_rust_archive_spark.functions.transforms import (
        _single_value_bytes,
    )

    def h(value, t):
        u = murmur3_32(_single_value_bytes(value, t))
        return u - (1 << 32) if u >= (1 << 31) else u

    assert h(34, "int") == 2017239379
    assert h(34, "long") == 2017239379
    assert h(dtm.date(2017, 11, 16), "date") == -653330422
    assert h((22 * 3600 + 31 * 60 + 8) * 1_000_000, "time") == -662762989
    assert h(dtm.datetime(2017, 11, 16, 22, 31, 8),
             "timestamp") == -2047944441
    assert h(dtm.datetime(2017, 11, 16, 14, 31, 8,
                          tzinfo=dtm.timezone(dtm.timedelta(hours=-8))),
             "timestamptz") == -2047944441
    assert h("iceberg", "string") == 1210000089
    assert h("f79c3e09-677c-4bbd-a479-3f349cb785e7",
             "uuid") == 1488055340
    assert h(b"\x00\x01\x02\x03", "binary") == -188683207
    assert h("14.20", "decimal(9,2)") == -500754589


def test_truncate():
    assert truncate_value(7, 5, "int") == 5
    assert truncate_value(-7, 5, "int") == -10  # rem_euclid semantics
    assert truncate_value("icebergs", 7, "string") == "iceberg"
    # Iceberg spec Appendix B published examples
    import decimal
    assert truncate_value(1, 10, "int") == 0
    assert truncate_value(-1, 10, "int") == -10
    assert truncate_value("iceberg", 3, "string") == "ice"
    assert truncate_value("10.65", 50, "decimal(9,2)") \
        == decimal.Decimal("10.50")



def test_int_truncate_near_min_matches_scalar(spark):
    """``truncate[W]`` of an int within W of the int minimum leaves the
    int range; the Spark column (ANSI arithmetic) must give the scalar
    path's value instead of raising an overflow."""
    from iceberg_rust_archive_spark.functions.transforms import (
        transform_column,
    )
    vals = [-2_147_483_641, -2_147_483_648, 2_147_483_647, -7, 0]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = [r[0] for r in df.select(
        transform_column("truncate[10]", "v", "int")).collect()]
    assert got == [truncate_value(v, 10, "int") for v in vals]

def test_v1_table_metadata_compat():
    """V1 docs (singular schema / partition-spec, no id-keyed maps) must
    load through the V1→V2 shim (table_metadata.rs:428-814)."""
    from iceberg_rust_archive_spark.spec.table_metadata import TableMetadata
    v1 = {
        "format-version": 1,
        "table-uuid": "11111111-2222-3333-4444-555555555555",
        "location": "/tmp/t",
        "last-updated-ms": 1,
        "last-column-id": 2,
        "schema": {"type": "struct", "fields": [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "d", "type": "date", "required": False},
        ]},
        "partition-spec": [
            {"source-id": 2, "field-id": 1000, "name": "d_day",
             "transform": "day"},
        ],
        "properties": {},
    }
    md = TableMetadata.from_json(v1)
    assert md.format_version == 1
    assert md.current_schema().field_by_name("k").field_id == 1
    spec = md.default_spec()
    assert spec.fields[0].transform == "day"
    assert spec.fields[0].source_id == 2
    # and it re-serializes as a V2-shaped doc that round-trips
    md2 = TableMetadata.from_json(md.to_json())
    assert md2.current_schema().field_by_name("d").field_type == "date"


def test_manifest_merge_target_selection():
    """Merge-target choice mirrors the reference (append.rs:100-191):
    partitioned → smallest bounding rectangle after expansion, with
    earlier-dimension priority; unpartitioned → fewest rows."""
    from iceberg_rust_archive_spark.spec.manifest import (
        DataFile, FieldSummary, ManifestListEntry,
    )
    from iceberg_rust_archive_spark.transaction import Transaction

    def mle(path, rows, bounds):
        return ManifestListEntry(
            manifest_path=path, manifest_length=1, partition_spec_id=0,
            content=0, sequence_number=1, min_sequence_number=1,
            added_snapshot_id=1, added_files_count=1,
            added_rows_count=rows,
            partitions=tuple(FieldSummary(lower_bound=lo, upper_bound=hi)
                             for lo, hi in bounds))

    def df_(day):
        return DataFile(0, f"/f{day}.parquet", "parquet",
                        {"d_day": day}, 1, 1)

    # new files land at day 100-101; m_near covers [90, 110], m_far
    # covers [0, 20] — expanding m_far would span [0, 101], so m_near
    # must win even though m_far is "older"/smaller in rows
    m_near = mle("near", 500, [(90, 110)])
    m_far = mle("far", 10, [(0, 20)])
    got = Transaction._select_merge_target(
        [m_far, m_near], [df_(100), df_(101)], ["d_day"])
    assert got is m_near

    # earlier dimension has priority: equal first-dim spans fall through
    # to the second dimension
    m_a = mle("a", 1, [(0, 10), (0, 100)])
    m_b = mle("b", 1, [(0, 10), (40, 60)])
    got = Transaction._select_merge_target(
        [m_a, m_b],
        [DataFile(0, "/x.parquet", "parquet", {"d_day": 5, "b": 50}, 1, 1)],
        ["d_day", "b"])
    assert got is m_b

    # unpartitioned: fewest rows wins (select_manifest_unpartitioned)
    m_big = mle("big", 1000, [])
    m_small = mle("small", 3, [])
    got = Transaction._select_merge_target(
        [m_big, m_small], [DataFile(0, "/y.parquet", "parquet", {}, 1, 1)],
        [])
    assert got is m_small

    # manifests without partition summaries never beat ones with them
    m_none = mle("none", 1, [])
    got = Transaction._select_merge_target(
        [m_none, m_near], [df_(100)], ["d_day"])
    assert got is m_near

    # string identity partitions order lexicographically
    m_s1 = mle("s1", 1, [("aaaa", "cccc")])
    m_s2 = mle("s2", 1, [("mmmm", "zzzz")])
    got = Transaction._select_merge_target(
        [m_s1, m_s2],
        [DataFile(0, "/z.parquet", "parquet", {"k": "bbbb"}, 1, 1)],
        ["k"])
    assert got is m_s1


def test_manifest_v1_read_shim(tmp_path):
    """Foreign V1 manifests (no content/sequence-number fields, V1
    count names, block_size_in_bytes present) must read through the
    same functions V2 uses (manifest.rs:90-117 try_from_v1)."""
    from iceberg_rust_archive_spark.sources.avro_io import write_ocf
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest, read_manifest_list,
    )

    man_path = str(tmp_path / "v1-manifest.avro")
    v1_entry_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": "long", "field-id": 1},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "field-id": 102, "type": {
                        "type": "record", "name": "r102", "fields": [
                            {"name": "d_day", "type": ["null", "int"],
                             "field-id": 1000}]}},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {"name": "block_size_in_bytes", "type": "long",
                     "field-id": 105},
                ]}},
        ]}
    write_ocf(man_path, v1_entry_schema, [
        {"status": 1, "snapshot_id": 77, "data_file": {
            "file_path": "/d/f1.parquet", "file_format": "PARQUET",
            "partition": {"d_day": 18262}, "record_count": 10,
            "file_size_in_bytes": 1234, "block_size_in_bytes": 67108864}},
    ], {"format-version": "1", "partition-spec-id": "0"})

    [e] = read_manifest(man_path)
    assert e.data_file.content == 0          # implicit data
    assert e.sequence_number == 0            # V1 inherits 0
    assert e.data_file.partition == {"d_day": 18262}
    assert e.data_file.record_count == 10

    list_path = str(tmp_path / "v1-list.avro")
    v1_list_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_data_files_count", "type": "int",
             "field-id": 504},
            {"name": "existing_data_files_count", "type": "int",
             "field-id": 505},
            {"name": "deleted_data_files_count", "type": "int",
             "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
        ]}
    write_ocf(list_path, v1_list_schema, [
        {"manifest_path": man_path, "manifest_length": 999,
         "partition_spec_id": 0, "added_snapshot_id": 77,
         "added_data_files_count": 1, "existing_data_files_count": 0,
         "deleted_data_files_count": 0, "added_rows_count": 10},
    ], {"format-version": "1"})

    [mle] = read_manifest_list(list_path)
    assert mle.content == 0
    assert mle.sequence_number == 0 and mle.min_sequence_number == 0
    assert mle.added_files_count == 1
    assert mle.added_rows_count == 10
    # and the pointed-to V1 manifest reads through the same path
    assert read_manifest(mle.manifest_path)[0].data_file.record_count == 10


def test_string_bound_truncation():
    """String bounds truncate at 16 chars like the spec's metrics
    default: lower = plain prefix, upper = prefix with last code point
    incremented, so [lo, hi] still contains every bounded value."""
    from iceberg_rust_archive_spark.sources.stats import (
        _trunc_lower, _trunc_upper,
    )
    long_lo = "aaaaaaaaaaaaaaaaZZZ"   # 19 chars
    long_hi = "zzzzzzzzzzzzzzzz___tail"
    assert _trunc_lower(long_lo) == "a" * 16
    up = _trunc_upper(long_hi)
    assert len(up) == 16 and up == "z" * 15 + "{"
    # invariant: truncated bounds still bound the originals
    assert _trunc_lower(long_lo) <= long_lo
    assert long_hi <= up
    # short strings unchanged
    assert _trunc_lower("abc") == "abc" and _trunc_upper("abc") == "abc"
    # all-U+10FFFF upper is un-incrementable → bound dropped
    assert _trunc_upper(chr(0x10FFFF) * 20) is None
    # a MID-string increment drops the un-incrementable tail; the result
    # is NUL-padded back to 16 so the exactness gate in metadata_min_max
    # (len >= TRUNCATE_BOUND_LEN → "may be truncated") still fires —
    # a shorter incremented bound would read as an exact max
    mid = "ab" + chr(0x10FFFF) * 20
    up2 = _trunc_upper(mid)
    assert up2 == "ac" + "\0" * 14 and len(up2) == 16
    assert mid <= up2


def test_trunc_upper_skips_surrogate_range():
    """Incrementing a prefix ending in U+D7FF must jump to U+E000 —
    chr(0xD800) is a lone surrogate that UTF-8 cannot encode (Iceberg
    UnicodeUtil.truncateStringMax behavior)."""
    from iceberg_rust_archive_spark.sources.stats import (
        TRUNCATE_BOUND_LEN, _trunc_upper,
    )
    s = "a" * (TRUNCATE_BOUND_LEN - 1) + "퟿" + "tail"
    out = _trunc_upper(s)
    assert out == "a" * (TRUNCATE_BOUND_LEN - 1) + ""
    out.encode("utf-8")  # must be encodable
    assert out > s[:TRUNCATE_BOUND_LEN]
    # all-U+10FFFF prefix is un-incrementable → bound dropped
    assert _trunc_upper("\U0010ffff" * (TRUNCATE_BOUND_LEN + 1)) is None


def test_concurrent_manifest_reads_match_serial(tmp_path):
    """The scan's thread-pooled manifest fetch (mirroring the reference's
    unordered concurrent stream, iceberg-rust/src/table/mod.rs:313-356)
    must return exactly the serial loop's entries, in input order, over
    100+ manifests."""
    from iceberg_rust_archive_spark.operators.scan import _read_manifests
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest, write_manifest,
    )

    mdir = str(tmp_path / "metadata")
    import os
    os.makedirs(mdir)
    mles = []
    for i in range(120):
        df = DataFile(0, f"/data/f{i}.parquet", "parquet",
                      {"bucket": i % 8}, 100 + i, 10_000 + i,
                      lower_bounds={1: i}, upper_bounds={1: i + 100},
                      null_value_counts={1: 0})
        entries = [ManifestEntry(1, df, snapshot_id=i,
                                 sequence_number=i + 1,
                                 file_sequence_number=i + 1)]
        mles.append(write_manifest(mdir, entries, 0, 0, i, i + 1,
                                   ["bucket"]))
    paths = [m.manifest_path for m in mles]
    serial = [read_manifest(p) for p in paths]
    concurrent = _read_manifests(paths)
    assert concurrent == serial
    # order preserved: entry i carries sequence_number i+1
    for i, entries in enumerate(concurrent):
        assert entries[0].sequence_number == i + 1


def test_bulk_relation_matches_varargs(spark, tmp_path):
    """read_data_files' single-round-trip JVM path handoff (engaged at
    ≥_BULK_PATHS_MIN leaf paths) builds the identical relation as the
    public varargs API — same rows, same schema."""
    import iceberg_rust_archive_spark.sources.readers as rd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType()),
                         StructField("v", LongType())])
    paths = []
    for i in range(70):
        p = str(tmp_path / f"f{i:03d}.parquet")
        spark.createDataFrame([(i, i * 10)], schema) \
            .coalesce(1).write.mode("overwrite").parquet(p + ".d")
        import glob as _g
        paths.append(_g.glob(p + ".d/part-*.parquet")[0])
    assert len(paths) >= rd._BULK_PATHS_MIN
    bulk = rd.read_data_files(
        spark, schema, [(p, "parquet") for p in paths])
    rows_bulk = sorted(tuple(r) for r in bulk.collect())
    old_min = rd._BULK_PATHS_MIN
    rd._BULK_PATHS_MIN = 10**9  # force varargs
    try:
        var = rd.read_data_files(
            spark, schema, [(p, "parquet") for p in paths])
        rows_var = sorted(tuple(r) for r in var.collect())
    finally:
        rd._BULK_PATHS_MIN = old_min
    assert rows_bulk == rows_var
    assert [f.name for f in bulk.schema.fields] \
        == [f.name for f in var.schema.fields]
    assert len(rows_bulk) == 70


def _write_two_rowgroup_parquet(path, rg1, rg2):
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("x", pa.float64())])
    w = pq.ParquetWriter(path, schema)
    w.write_table(pa.table({"x": pa.array(rg1, pa.float64())}))
    w.write_table(pa.table({"x": pa.array(rg2, pa.float64())}))
    w.close()


def test_inf_rowgroup_poisons_file_upper_bound(tmp_path):
    """A row group whose max is +inf must not let another row group's
    finite max become the file's upper bound — pruning on ``x > 100``
    would drop the file and lose the inf rows (bounds must bound EVERY
    row; only NaN is spec-exempt)."""
    from iceberg_rust_archive_spark.sources.stats import harvest_one

    p = str(tmp_path / "inf_hi.parquet")
    _write_two_rowgroup_parquet(p, [float("inf")], [1.0, 5.0])
    df = harvest_one(p, {"x": 1})
    assert 1 not in df.upper_bounds, \
        f"upper bound {df.upper_bounds.get(1)} does not bound +inf"
    # min over [inf] is +inf: skipping it for the LOWER bound is sound
    # (the other group's 1.0 still lower-bounds everything).
    assert df.lower_bounds.get(1) == 1.0


def test_neg_inf_rowgroup_poisons_file_lower_bound(tmp_path):
    from iceberg_rust_archive_spark.sources.stats import harvest_one

    p = str(tmp_path / "inf_lo.parquet")
    _write_two_rowgroup_parquet(p, [float("-inf")], [2.0, 3.0])
    df = harvest_one(p, {"x": 1})
    assert 1 not in df.lower_bounds, \
        f"lower bound {df.lower_bounds.get(1)} does not bound -inf"
    assert df.upper_bounds.get(1) == 3.0


def test_inf_file_is_not_pruned_by_range_predicate(tmp_path):
    """End-to-end: prune_datafiles must keep a mixed-rowgroup inf file
    for ``x > 100`` (the inf row matches)."""
    from iceberg_rust_archive_spark.predicates import Pred, prune_datafiles
    from iceberg_rust_archive_spark.sources.stats import harvest_one

    p = str(tmp_path / "inf_mix.parquet")
    _write_two_rowgroup_parquet(p, [float("inf")], [1.0, 5.0])
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "x", "double", True),)))
    f = harvest_one(p, {"x": 1})
    kept = prune_datafiles([Pred("x", ">", 100.0)], schema, [f])
    assert kept == [f]


def test_decimal_bounds_float_literal_boundary_not_pruned():
    """r13: a FLOAT literal against DECIMAL bounds must compare in
    DOUBLE space (Spark promotes the decimal column to double). The
    literal 0.57 is binary ~0.56999…; an exact-space compare would say
    Decimal('0.57') > 0.57 and PRUNE the file whose only row Spark's
    `price = 0.57` actually matches."""
    import decimal

    from iceberg_rust_archive_spark.predicates import (
        Pred, file_fully_matches, prune_datafiles,
    )
    from iceberg_rust_archive_spark.spec.manifest import DataFile

    schema = Schema(0, StructTypeSpec((
        NestedField(1, "price", "decimal(10,2)", True),)))
    d = decimal.Decimal("0.57")
    f = DataFile(0, "f.parquet", "parquet", {}, 1, 100,
                 value_counts={1: 1}, null_value_counts={1: 0},
                 lower_bounds={1: d}, upper_bounds={1: d})
    for op in ("=", "<=", ">="):
        assert prune_datafiles([Pred("price", op, 0.57)], schema,
                               [f]) == [f], op
        # the metadata-count containment proof agrees with Spark too
        assert file_fully_matches([Pred("price", op, 0.57)], schema, f), op
    # exact-typed literals keep exact semantics
    assert prune_datafiles([Pred("price", "=", d)], schema, [f]) == [f]


def test_vectorized_bucket_matches_scalar_hypothesis():
    """The numpy lane-op murmur3 over the 8-byte-LE widening must be
    byte-identical to the scalar spec path for every long-carried type
    (r15: the vectorized bucket write path replaces the s.map loop)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from iceberg_rust_archive_spark.functions.transforms import (
        _murmur3_32_long_le, murmur3_32,
    )
    import struct

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(-(2 ** 63), 2 ** 63 - 1),
                    min_size=1, max_size=64))
    def check(vs):
        got = _murmur3_32_long_le(np.array(vs, dtype=np.int64))
        want = [murmur3_32(struct.pack("<q", v)) for v in vs]
        assert got.tolist() == want

    check()


def test_series_to_long_carriers():
    """Every dtype carrier Spark's Arrow bridge can hand the bucket UDF
    converts to the spec's long hash input: int64, nullable float64
    (truncate-toward-zero like int()), datetime64[ns] micros, and
    object datetime.date → day ordinals; unknown carriers fall back."""
    import numpy as np
    import pandas as pd

    from iceberg_rust_archive_spark.functions.transforms import (
        _series_to_long, bucket_value,
    )
    vals, mask = _series_to_long(pd.Series([34, -1, 2 ** 62]), "long")
    assert vals.tolist() == [34, -1, 2 ** 62] and not mask.any()
    vals, mask = _series_to_long(pd.Series([34.0, None]), "long")
    assert vals[0] == 34 and mask.tolist() == [False, True]
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    vals, mask = _series_to_long(
        pd.Series([ts, None], dtype="datetime64[ns]"), "timestamp")
    td = ts - dt.datetime(1970, 1, 1)
    assert vals[0] == (td.days * 86_400 + td.seconds) * 1_000_000
    assert mask.tolist() == [False, True]
    vals, mask = _series_to_long(
        pd.Series([dt.date(2017, 11, 16), None], dtype=object), "date")
    assert vals[0] == (dt.date(2017, 11, 16) - dt.date(1970, 1, 1)).days
    assert mask.tolist() == [False, True]
    # pre-epoch date floors to the negative ordinal, matching scalar
    vals, _ = _series_to_long(
        pd.Series([dt.date(1969, 12, 31)], dtype=object), "date")
    assert vals[0] == -1
    assert bucket_value(dt.date(1969, 12, 31), 16, "date") == \
        bucket_value(-1, 16, "int")
    # strings are not a long carrier — scalar path decides
    assert _series_to_long(pd.Series(["x"], dtype=object), "string") is None


def test_partition_value_from_str_exact_and_typed():
    """Dir-string → partition-tuple parsing keeps exact integer micros
    (the float64 round-trip was ±32µs past year 2255 — ADVICE r15),
    normalizes offset-carrying ISO strings to UTC, and accepts
    spec-typed day-ordinal carriers for identity dates."""
    from iceberg_rust_archive_spark.sources.write import (
        _partition_value_from_str as p,
    )
    ts = dt.datetime(2999, 12, 31, 23, 59, 59, 999999)
    td = ts - dt.datetime(1970, 1, 1)
    want = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    assert want % 10 == 9  # float64 would round this digit away
    assert p("2999-12-31T23:59:59.999999", "identity", "timestamp") == want
    assert p("2999-12-31 23:59:59.999999", "identity", "timestamptz") == want
    # an offset-carrying string is the SAME instant, not its wall time
    assert p("2999-12-31T18:59:59.999999-05:00", "identity",
             "timestamptz") == want
    assert p("19478", "identity", "date") == 19478  # int carrier
    assert p("2023-05-01", "identity", "date") == \
        (dt.date(2023, 5, 1) - dt.date(1970, 1, 1)).days


def test_vectorized_date_bucket_out_of_ns_range_falls_back():
    """r15 review fix: dates outside datetime64[ns]'s range (sentinels
    like 9999-12-31, anything before 1677/after 2262) coerce to NaT in
    the vectorized carrier — bucketing them NULL would write a null
    partition tuple for a REAL value (foreign readers pruning on
    bucket(d)=k then lose the file). The carrier must refuse and the
    scalar path must answer."""
    import pandas as pd

    from iceberg_rust_archive_spark.functions.transforms import (
        _series_to_long,
    )
    s = pd.Series([dt.date(9999, 12, 31), dt.date(2020, 1, 1)],
                  dtype=object)
    assert _series_to_long(s, "date") is None  # scalar fallback
    # in-range object dates still take the fast path
    ok = _series_to_long(pd.Series([dt.date(2020, 1, 1), None],
                                   dtype=object), "date")
    assert ok is not None and ok[1].tolist() == [False, True]
    # the scalar path itself handles the sentinel
    assert bucket_value(dt.date(9999, 12, 31), 16, "date") == \
        bucket_value((dt.date(9999, 12, 31) - dt.date(1970, 1, 1)).days,
                     16, "long")


def test_vectorized_varlen_bucket_matches_scalar_hypothesis():
    """r15 verdict #2: the ragged-row numpy murmur3 over UTF-8/raw
    bytes must be byte-identical to the scalar spec path for every
    string and binary batch — arbitrary unicode (multi-byte UTF-8,
    surrogone-free astral planes), empty strings, and 0-3 byte tails
    all land on the same lanes."""
    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from iceberg_rust_archive_spark.functions.transforms import (
        _murmur3_32_varlen, _series_to_ragged_bytes, murmur3_32,
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.text(max_size=24), min_size=1, max_size=48))
    def check_str(vs):
        buf, offs, _ = _series_to_ragged_bytes(
            pd.Series(vs, dtype=object), "string")
        got = _murmur3_32_varlen(buf, offs)
        assert got.tolist() == [
            murmur3_32(v.encode("utf-8")) for v in vs]

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.binary(max_size=24), min_size=1, max_size=48))
    def check_bin(vs):
        buf, offs, _ = _series_to_ragged_bytes(
            pd.Series(vs, dtype=object), "binary")
        got = _murmur3_32_varlen(buf, offs)
        assert got.tolist() == [murmur3_32(v) for v in vs]

    check_str()
    check_bin()


def test_varlen_bucket_carriers_and_guards():
    """_series_to_ragged_bytes carrier contract: UTF-8 string batches,
    raw binary/bytearray batches, null masks; non-varlen types and
    mixed-object batches decline (scalar path decides); the padded-
    matrix width guard declines a batch with one multi-KB row instead
    of allocating rows×maxlen."""
    import numpy as np
    import pandas as pd

    from iceberg_rust_archive_spark.functions.transforms import (
        _murmur3_32_varlen, _series_to_ragged_bytes, bucket_value,
        murmur3_32,
    )
    buf, offs, mask = _series_to_ragged_bytes(
        pd.Series(["iceberg", None, ""], dtype=object), "string")
    h = _murmur3_32_varlen(buf, offs)
    def signed(u):
        return int(u) - (1 << 32) if u >= (1 << 31) else int(u)
    assert signed(h[0]) == 1210000089  # Appendix B
    assert mask.tolist() == [False, True, False]
    assert ((int(h[0]) & 0x7FFFFFFF) % 16
            ) == bucket_value("iceberg", 16, "string")
    buf, offs, mask = _series_to_ragged_bytes(
        pd.Series([b"\x00\x01\x02\x03", bytearray(b"ab"), None],
                  dtype=object), "binary")
    h = _murmur3_32_varlen(buf, offs)
    assert signed(h[0]) == -188683207  # Appendix B
    assert h[1] == murmur3_32(b"ab")
    assert mask.tolist() == [False, False, True]
    # pandas nullable StringDtype carrier works too (Arrow bridge)
    buf, offs, mask = _series_to_ragged_bytes(
        pd.Series(["a", pd.NA], dtype="string"), "string")
    assert _murmur3_32_varlen(buf, offs)[0] == murmur3_32(b"a")
    assert mask.tolist() == [False, True]
    # non-varlen types and mixed batches decline
    assert _series_to_ragged_bytes(
        pd.Series(["14.20"], dtype=object), "decimal(9,2)") is None
    assert _series_to_ragged_bytes(
        pd.Series(["a", 3], dtype=object), "string") is None
    # width guard: one 5 KB row in a short-id batch → scalar fallback
    buf, offs, _ = _series_to_ragged_bytes(
        pd.Series(["y" * 5000, "z"], dtype=object), "string")
    assert _murmur3_32_varlen(buf, offs) is None


def test_vectorized_decimal_uuid_bucket_vectors_and_guards():
    """r16: decimal and uuid ride the varlen murmur3 kernel — decimal
    through Arrow decimal128 ingest + a vectorized minimal-BE
    two's-complement strip, uuid through a vectorized hex parse of the
    canonical 36-char spelling. Appendix B vectors pin both; every
    non-canonical spelling falls back to the permissive scalar path
    (batch-level None, never a silent per-row misparse)."""
    import uuid as uuid_mod
    from decimal import Decimal

    import pandas as pd

    from iceberg_rust_archive_spark.functions.transforms import (
        _murmur3_32_varlen, _series_to_ragged_bytes, _single_value_bytes,
        bucket_value, murmur3_32,
    )

    def signed(u):
        return int(u) - (1 << 32) if u >= (1 << 31) else int(u)

    # Appendix B: decimal(9,2) 14.20 → hash -500754589
    decs = [Decimal("14.20"), None, Decimal("0"), Decimal("-0.01"),
            Decimal("1.28"), Decimal("-123456789.99")]
    buf, offs, mask = _series_to_ragged_bytes(
        pd.Series(decs, dtype=object), "decimal(9,2)")
    h = _murmur3_32_varlen(buf, offs)
    assert signed(h[0]) == -500754589
    assert mask.tolist() == [v is None for v in decs]
    for i, v in enumerate(decs):
        if v is not None:
            assert bytes(buf[offs[i]:offs[i + 1]]) == \
                _single_value_bytes(v, "decimal(9,2)")
    # >18-digit unscaled values (beyond int64) stay exact via the
    # 16-byte decimal128 carrier
    wide = Decimal("12345678901234567890123.456")
    buf, offs, _ = _series_to_ragged_bytes(
        pd.Series([wide, -wide], dtype=object), "decimal(30,3)")
    assert bytes(buf[offs[0]:offs[1]]) == \
        _single_value_bytes(wide, "decimal(30,3)")
    assert bytes(buf[offs[1]:offs[2]]) == \
        _single_value_bytes(-wide, "decimal(30,3)")
    # values at a different exponent rescale to the TYPE scale (the
    # spec hashes the unscaled value at the declared scale)
    buf, offs, _ = _series_to_ragged_bytes(
        pd.Series([Decimal("5")], dtype=object), "decimal(9,2)")
    assert bytes(buf[offs[0]:offs[1]]) == \
        _single_value_bytes(Decimal("5.00"), "decimal(9,2)")
    # >38-digit batch declines to the scalar path
    assert _series_to_ragged_bytes(
        pd.Series([Decimal(10) ** 40], dtype=object),
        "decimal(38,0)") is None

    # Appendix B: uuid f79c3e09-… → hash 1488055340; case-insensitive
    u = "f79c3e09-677c-4bbd-a479-3f349cb785e7"
    us = [u, None, u.upper(), "00000000-0000-0000-0000-000000000000"]
    buf, offs, mask = _series_to_ragged_bytes(
        pd.Series(us, dtype=object), "uuid")
    h = _murmur3_32_varlen(buf, offs)
    assert signed(h[0]) == 1488055340
    assert h[0] == h[2]
    assert mask.tolist() == [v is None for v in us]
    for i, v in enumerate(us):
        if v is not None:
            assert bytes(buf[offs[i]:offs[i + 1]]) == \
                uuid_mod.UUID(v).bytes
    assert ((int(h[0]) & 0x7FFFFFFF) % 16) == bucket_value(u, 16, "uuid")
    # non-canonical spellings the scalar uuid.UUID parse accepts must
    # decline as a BATCH (urn:, braces, no-hyphen, bad hex, bad length)
    for bad in (f"urn:uuid:{u}", "{" + u + "}", u.replace("-", ""),
                u[:-1] + "g", u[:-1]):
        assert _series_to_ragged_bytes(
            pd.Series([u, bad], dtype=object), "uuid") is None
    # …and the scalar fallback parses the permissive spellings to the
    # same bucket (uuid.UUID normalizes urn:/braces/no-hyphen forms)
    for ok in (f"urn:uuid:{u}", "{" + u + "}", u.replace("-", "")):
        assert bucket_value(ok, 16, "uuid") == bucket_value(u, 16, "uuid")
    # all-null batches stay on the vector path (masked zeros)
    for t in ("uuid", "decimal(9,2)"):
        buf, offs, mask = _series_to_ragged_bytes(
            pd.Series([None, None], dtype=object), t)
        assert mask.tolist() == [True, True]
        assert _murmur3_32_varlen(buf, offs) is not None


def test_vectorized_decimal_uuid_matches_scalar_hypothesis():
    """Generative pin: the vectorized decimal/uuid hash equals the
    scalar spec path for arbitrary unscaled values (±10^30, mixed
    exponents) and arbitrary UUIDs (random 128-bit, random hex case)."""
    import uuid as uuid_mod
    from decimal import Decimal

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from iceberg_rust_archive_spark.functions.transforms import (
        _murmur3_32_varlen, _series_to_ragged_bytes, _single_value_bytes,
        murmur3_32,
    )

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.integers(-(10 ** 30), 10 ** 30),
                    min_size=1, max_size=32))
    def check_dec(unscaled):
        vs = [Decimal(x).scaleb(-3) for x in unscaled]
        buf, offs, _ = _series_to_ragged_bytes(
            pd.Series(vs, dtype=object), "decimal(33,3)")
        got = _murmur3_32_varlen(buf, offs)
        assert got.tolist() == [
            murmur3_32(_single_value_bytes(v, "decimal(33,3)"))
            for v in vs]

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, (1 << 128) - 1),
                              st.booleans()),
                    min_size=1, max_size=32))
    def check_uuid(pairs):
        vs = [str(uuid_mod.UUID(int=i)).upper() if up
              else str(uuid_mod.UUID(int=i)) for i, up in pairs]
        buf, offs, _ = _series_to_ragged_bytes(
            pd.Series(vs, dtype=object), "uuid")
        got = _murmur3_32_varlen(buf, offs)
        assert got.tolist() == [
            murmur3_32(uuid_mod.UUID(v).bytes) for v in vs]

    check_dec()
    check_uuid()


def test_decimal_unscaled_bytes_minimal_and_exact():
    """Decimal hash input and bound bytes are the MINIMAL big-endian
    two's complement of the exact unscaled value: -2^(8k-1) fits in k
    bytes (-1.28 is ``80``, not ``ff80``), and a 30-digit decimal is
    rescaled without the default context's 28-digit rounding. The
    vectorized bucket path agrees with the scalar one on both."""
    from decimal import Decimal

    import pandas as pd

    from iceberg_rust_archive_spark.functions.transforms import (
        _murmur3_32_varlen, _series_to_ragged_bytes, _single_value_bytes,
        murmur3_32, truncate_value,
    )
    from iceberg_rust_archive_spark.sources.manifest_avro import (
        decode_bound, encode_bound,
    )

    cases = [("-1.28", "decimal(9,2)", "80"),
             ("-327.68", "decimal(9,2)", "8000"),
             ("-1.29", "decimal(9,2)", "ff7f"),
             ("1.28", "decimal(9,2)", "0080"),
             ("-0.01", "decimal(9,2)", "ff"),
             ("0", "decimal(9,2)", "00"),
             ("999999999999999999999999999.950", "decimal(30,3)",
              (10 ** 30 - 50).to_bytes(13, "big", signed=True).hex())]
    for v, t, want in cases:
        assert _single_value_bytes(Decimal(v), t).hex() == want, v
        bt = t.replace("decimal", "decimal-binary")
        assert encode_bound(Decimal(v), bt).hex() == want, v
        assert decode_bound(bytes.fromhex(want), bt) == Decimal(v), v
        buf, offs, _ = _series_to_ragged_bytes(
            pd.Series([Decimal(v)], dtype=object), t)
        assert _murmur3_32_varlen(buf, offs).tolist() == [
            murmur3_32(bytes.fromhex(want))], v
    assert truncate_value(Decimal("999999999999999999999999999.950"), 10,
                          "decimal(30,3)") \
        == Decimal("999999999999999999999999999.950")
