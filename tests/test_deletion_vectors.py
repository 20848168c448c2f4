"""Deletion vectors (Iceberg v3 shape): roaring serialization,
DV write/scan merge-on-read, parquet↔DV coexistence, and the
convert-to-DV maintenance path."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from iceberg_rust_archive_spark.catalog import FileCatalog
from iceberg_rust_archive_spark.sources.roaring import (
    deserialize_positions, serialize_positions,
)
from iceberg_rust_archive_spark.spec.manifest import (
    CONTENT_POSITION_DELETES,
)
from iceberg_rust_archive_spark.table import Table

from test_engine import (  # noqa: F401
    BATCH1, BATCH2, COLS, DAY_SPEC, ORDERS_SCHEMA, _mk_table, _sums,
)


@pytest.fixture()
def catalog(tmp_path):
    return FileCatalog(str(tmp_path / "warehouse"))


def test_roaring_roundtrip_shapes():
    import random
    random.seed(11)
    cases = [
        [], [0], [65535], [65536], [131071], [4294967295],
        [2**32], [2**32 + 65536], [2**40 + 5, 3, 2**40 + 6],
        list(range(4096)),              # exactly array-container max
        list(range(4097)),              # first bitmap container
        list(range(0, 300000, 3)),      # several mixed containers
        random.sample(range(10**6), 20000),
        [random.randrange(2**62) for _ in range(1000)],
        [7] * 10,                       # dedup
    ]
    for c in cases:
        assert deserialize_positions(serialize_positions(c)) \
            == sorted(set(c))


def test_dv_blob_spec_framing():
    """Pin the v3 deletion-vector-v1 blob layout so spec-compliant
    external readers can decode: u32 BE len(magic+vector), magic
    D1 D3 39 64, portable-64 vector (u64 LE bitmap count · u32 LE key ·
    standard 32-bit page, no byte-length field), u32 BE CRC-32
    (plain zlib/java.util.zip.CRC32 per the v3 Puffin DV layout —
    NOT CRC-32C, which this engine briefly wrote in r8 and still
    accepts on read)."""
    import struct
    import zlib

    from iceberg_rust_archive_spark.sources.roaring import (
        DV_MAGIC, SERIAL_COOKIE_NO_RUN,
    )
    blob = serialize_positions([1, 5, (3 << 32) + 9])
    (body_len,) = struct.unpack_from(">I", blob, 0)
    assert blob[4:8] == DV_MAGIC == bytes((0xD1, 0xD3, 0x39, 0x64))
    assert len(blob) == 4 + body_len + 4
    body = blob[4:4 + body_len]
    (crc,) = struct.unpack_from(">I", blob, 4 + body_len)
    assert crc == zlib.crc32(body) & 0xFFFFFFFF
    # vector: 2 bitmaps (high keys 0 and 3), each a standard page
    (n_maps,) = struct.unpack_from("<Q", blob, 8)
    assert n_maps == 2
    (key0,) = struct.unpack_from("<I", blob, 16)
    (cookie0,) = struct.unpack_from("<I", blob, 20)
    assert key0 == 0 and cookie0 == SERIAL_COOKIE_NO_RUN


def test_crc32c_known_vector():
    # the canonical CRC-32C check value (RFC 3720 appendix / Castagnoli)
    from iceberg_rust_archive_spark.sources.roaring import crc32c
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_dv_blob_accepts_crc32c_fallback_and_rejects_garbage():
    import struct
    import zlib

    from iceberg_rust_archive_spark.sources.roaring import crc32c
    blob = serialize_positions([10, 20, 99999])
    (body_len,) = struct.unpack_from(">I", blob, 0)
    body = blob[4:4 + body_len]
    # blobs this engine wrote in r8 carried CRC-32C — accept on read
    alt = blob[:4 + body_len] + struct.pack(">I", crc32c(body))
    assert deserialize_positions(alt) == [10, 20, 99999]
    bad = blob[:4 + body_len] + struct.pack(">I", (zlib.crc32(body) ^ 1))
    with pytest.raises(ValueError, match="checksum"):
        deserialize_positions(bad)


def test_dv_legacy_pre_r8_framing_still_decodes():
    import struct

    from iceberg_rust_archive_spark.sources.roaring import _serialize32
    # pre-r8 engine framing: u64 LE bucket count · per bucket u32 key,
    # u32 byte-length, page — tables written by earlier rounds must read
    vals = [3, 7, 65540]
    page = _serialize32(vals)
    legacy = struct.pack("<Q", 1) + struct.pack("<II", 0, len(page)) + page
    assert deserialize_positions(legacy) == vals


def test_roaring_bitmap_container_density():
    # a dense 64k block serializes as one 8 KiB bitmap container, not
    # 128 KiB of u16 arrays
    b = serialize_positions(list(range(65536)))
    assert len(b) < 9000


def _dv_entries(t):
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest, read_manifest_list,
    )
    snap = t.metadata.current_snapshot()
    out = []
    for m in read_manifest_list(snap.manifest_list):
        for e in read_manifest(m.manifest_path):
            if e.data_file.content == CONTENT_POSITION_DELETES \
                    and e.data_file.file_format == "puffin":
                out.append(e)
    return out


def test_dv_delete_end_to_end(spark, catalog):
    t = _mk_table(catalog, "orders_dv")
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    t.delete_where_pos(spark, F.col("customer_id") == 1, use_dv=True)
    assert _sums(t, spark) == {1: 4, 3: 3}

    # DV manifest entries carry the v3 pointer fields and round-trip
    # through spec Avro
    dvs = _dv_entries(t)
    assert dvs and all(
        d.data_file.referenced_data_file
        and d.data_file.content_offset is not None
        and d.data_file.content_size_in_bytes > 0 for d in dvs)

    # the puffin blob really is the roaring bitmap for that file
    from iceberg_rust_archive_spark.sources.puffin import read_puffin
    blobs, _ = read_puffin(dvs[0].data_file.file_path)
    assert blobs[0]["type"] == "deletion-vector-v1"
    pos = deserialize_positions(blobs[0]["payload"])
    assert pos == sorted(set(pos)) and len(pos) >= 1

    # rows appended after the DV survive (path-scoped by construction)
    t.append(spark, spark.createDataFrame(BATCH2, COLS))
    assert _sums(t, spark) == {1: 6, 2: 1, 3: 4}

    # a repeat call deletes ONLY the newly-matching rows (old pairs
    # anti-joined away via the decoded DV priors)
    t.delete_where_pos(spark, F.col("customer_id") == 1, use_dv=True)
    assert _sums(t, spark) == {1: 6, 2: 1, 3: 3}


def test_dv_pairs_df_both_decode_paths(spark, catalog, monkeypatch):
    """dv_pairs_df decodes driver-side under the byte threshold and
    via the executor RDD path above it — identical pairs either way."""
    from iceberg_rust_archive_spark.operators import scan as scan_mod

    t = _mk_table(catalog, "orders_dvpaths")
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    t.delete_where_pos(spark, F.col("customer_id") == 1, use_dv=True)
    dvs = [e.data_file for e in _dv_entries(t)]
    assert dvs
    fast = sorted(map(tuple, scan_mod.dv_pairs_df(spark, dvs).collect()))
    monkeypatch.setattr(scan_mod, "DV_DRIVER_DECODE_MAX_BYTES", 0)
    slow = sorted(map(tuple, scan_mod.dv_pairs_df(spark, dvs).collect()))
    assert fast == slow and fast


def test_dv_merge_and_replace_single_dv_per_file(spark, catalog):
    """v3 invariant: a data file has at most ONE live deletion vector.
    A second DV delete touching an already-DV'd file merges the prior
    bitmap into the new blob and drops the old entry in the same
    commit — spec readers that apply only one DV stay correct."""
    t = _mk_table(catalog, "orders_dvmerge")
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    # ids 1 and 2 share the 2020-01-01 partition file → second call
    # must merge into the first call's bitmap, not stack a second DV
    t.delete_where_pos(spark, F.col("id") == 1, use_dv=True)
    t.delete_where_pos(spark, F.col("id") == 2, use_dv=True)
    by_ref = {}
    for e in _dv_entries(t):
        by_ref.setdefault(e.data_file.referenced_data_file, []).append(e)
    assert by_ref, "expected live DV entries"
    for ref, entries in by_ref.items():
        assert len(entries) == 1, \
            f"{ref} has {len(entries)} live DVs (must merge-and-replace)"
    # the merged bitmap carries BOTH deletes
    from iceberg_rust_archive_spark.object_store import store_for
    d = next(iter(by_ref.values()))[0].data_file
    assert d.record_count == 2
    blob = store_for(d.file_path).read_bytes(
        d.file_path)[d.content_offset:
                     d.content_offset + d.content_size_in_bytes]
    assert len(deserialize_positions(blob)) == 2
    assert _sums(t, spark) == {1: 5, 2: 1, 3: 3}
    # results stay right after more appends + a third DV round
    t.append(spark, spark.createDataFrame(BATCH2, COLS))
    t.delete_where_pos(spark, F.col("id") == 5, use_dv=True)
    refs = [e.data_file.referenced_data_file for e in _dv_entries(t)]
    assert len(refs) == len(set(refs))  # still ≤1 DV per data file
    assert _sums(t, spark) == {1: 5, 2: 2, 3: 4}


def test_dv_commit_bumps_format_version(spark, catalog):
    t = _mk_table(catalog, "orders_dvv3")
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    assert t.metadata.format_version == 2
    t.delete_where_pos(spark, F.col("id") == 1, use_dv=True)
    assert t.metadata.format_version == 3


def test_v3_row_lineage_assignment(spark, catalog):
    """v3 row lineage: once a table is format-version 3, every commit
    assigns first-row-id to its ADDED data files from the table's
    next-row-id counter, records the range start on the snapshot, and
    advances next-row-id by the added record count (spec §Row Lineage;
    serialized as manifest field 142 / snapshot first-row-id /
    metadata next-row-id)."""
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )

    t = _mk_table(catalog, "orders_rowlineage")
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    t.delete_where_pos(spark, F.col("id") == 1, use_dv=True)  # → v3
    assert t.metadata.format_version == 3
    base = t.metadata.next_row_id
    t.append(spark, spark.createDataFrame(BATCH2, COLS))
    md = t.metadata
    snap = md.current_snapshot()
    assert snap.first_row_id == base
    assert md.next_row_id == base + len(BATCH2)
    added = [e.data_file
             for entries in read_manifests(
                 [m.manifest_path
                  for m in read_manifest_list(snap.manifest_list)])
             for e in entries
             if e.snapshot_id == snap.snapshot_id
             and e.data_file.content == 0]
    spans = sorted((f.first_row_id, f.record_count) for f in added)
    assert spans and spans[0][0] == base
    assert sum(rc for _, rc in spans) == len(BATCH2)
    # ranges are contiguous: each file starts where the previous ended
    for (a, rc), (b, _) in zip(spans, spans[1:]):
        assert b == a + rc

    # read surface: scan(with_row_id=True) materializes _row_id =
    # first-row-id + ordinal; pre-v3 files read back NULL
    rows = t.scan(spark, with_row_id=True).collect()
    assert len(rows) == len(BATCH1) + len(BATCH2) - 1  # one DV-deleted
    lineaged = sorted(r._row_id for r in rows if r._row_id is not None)
    assert lineaged == list(range(base, base + len(BATCH2)))
    assert sum(1 for r in rows if r._row_id is None) \
        == len(BATCH1) - 1  # the v2-era files, minus the deleted row
    # companion lineage column: every row carries its file's data
    # sequence — the BATCH2 rows were committed later, so their
    # sequence is strictly higher than every BATCH1 row's
    seqs = {r._row_id is not None: set()
            for r in rows}
    for r in rows:
        seqs[r._row_id is not None].add(
            r._last_updated_sequence_number)
    assert all(s is not None for vals in seqs.values() for s in vals)
    assert min(seqs[True]) > max(seqs[False])


def test_dv_rejected_on_pinned_v2_table(spark, catalog):
    from iceberg_rust_archive_spark.catalog.base import CommitFailedError
    t = Table.create(catalog, "db.orders_pin2", ORDERS_SCHEMA, DAY_SPEC,
                     properties={"format-version": "2"})
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    with pytest.raises(CommitFailedError, match="format-version 3"):
        t.delete_where_pos(spark, F.col("id") == 1, use_dv=True)


def test_dv_table_property_default(spark, catalog):
    t = Table.create(catalog, "db.orders_dvprop", ORDERS_SCHEMA, DAY_SPEC,
                     properties={"write.delete.format": "dv"})
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    t.delete_where_pos(spark, F.col("id") <= 2)  # property selects DV
    assert _dv_entries(t)
    assert _sums(t, spark) == {1: 5, 2: 1, 3: 3}


def test_dv_coexists_with_parquet_and_equality(spark, catalog):
    t = _mk_table(catalog, "orders_dvmix")
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    t.delete_where_pos(spark, F.col("customer_id") == 1, use_dv=True)
    t.delete_where_pos(spark, F.col("id") == 2)          # parquet pairs
    t.delete_where_equal(spark, spark.createDataFrame([(6,)], ["id"]),
                         ["id"])                          # eq delete
    # remaining: id 3 only (1,4,5 cust-1 DV; 2 parquet; 6 eq)
    rows = sorted(r["id"] for r in t.scan(spark).collect())
    assert rows == [3]


def test_sql_delete_routes_to_dv_on_opted_in_table(spark, tmp_path):
    """SQL DELETE on a table with write.delete.format=dv writes a
    deletion vector (content=1, puffin) instead of an equality-delete
    file — the skinny-pairs path through the SQL shim."""
    from iceberg_rust_archive_spark.plans.engine import Engine
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )

    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    eng.sql("CREATE TABLE db.dvt (k BIGINT, v STRING)")
    eng.sql("ALTER TABLE db.dvt SET TBLPROPERTIES "
            "('write.delete.format'='dv')")
    eng.sql("INSERT INTO db.dvt VALUES (1,'a'),(2,'b'),(3,'c')")
    eng.sql("DELETE FROM db.dvt WHERE k = 2")
    t = eng.load_table("db.dvt")
    assert t.metadata.format_version == 3
    snap = t.metadata.current_snapshot()
    deletes = [e.data_file
               for entries in read_manifests(
                   [m.manifest_path
                    for m in read_manifest_list(snap.manifest_list)])
               for e in entries
               if e.data_file.content == CONTENT_POSITION_DELETES]
    assert deletes and all(
        (d.file_format or "").lower() == "puffin" for d in deletes)
    assert {r.k for r in eng.sql("SELECT * FROM db.dvt").collect()}         == {1, 3}
    # changelog still resolves the deleted row
    ev = [(r.k, r._change_type) for r in t.changes(spark).collect()]
    assert ev.count((2, "delete")) == 1
    # subquery predicates fall back to the eq-delete path and still work
    eng.sql("CREATE TABLE db.keys (k BIGINT)")
    eng.sql("INSERT INTO db.keys VALUES (3)")
    eng.sql("DELETE FROM db.dvt WHERE k IN (SELECT k FROM db.keys)")
    assert {r.k for r in eng.sql("SELECT * FROM db.dvt").collect()}         == {1}


def test_rewrite_position_deletes_converts_to_dv(spark, catalog):
    from iceberg_rust_archive_spark.maintenance import (
        rewrite_position_deletes,
    )
    t = _mk_table(catalog, "orders_dvconv")
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    t.delete_where_pos(spark, F.col("id") == 1)
    t.delete_where_pos(spark, F.col("id") == 4)
    before = _sums(t, spark)
    t = rewrite_position_deletes(spark, t, to_dv=True)
    # id 1 (prod 1, amt 1) and id 4 (prod 2 — its only row) deleted
    assert _sums(t, spark) == before == {1: 6, 3: 3}
    dvs = _dv_entries(t)
    # exactly one DV per referenced data file, no parquet pos files left
    refs = [d.data_file.referenced_data_file for d in dvs]
    assert len(refs) == len(set(refs)) >= 1
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest, read_manifest_list,
    )
    snap = t.metadata.current_snapshot()
    pq_pos = [e for m in read_manifest_list(snap.manifest_list)
              for e in read_manifest(m.manifest_path)
              if e.data_file.content == CONTENT_POSITION_DELETES
              and e.data_file.file_format != "puffin"
              and e.status != 2]
    assert not pq_pos

    # and merging DVs with further parquet deletes still reads right
    t.delete_where_pos(spark, F.col("id") == 3)  # prod 1, amount 3
    assert _sums(t, spark) == {1: 3, 3: 3}


def test_position_deletes_metadata_table(spark, catalog):
    t = _mk_table(catalog, "orders_dvinspect")
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    t.delete_where_pos(spark, F.col("id") == 1, use_dv=True)
    t.delete_where_pos(spark, F.col("id") == 2)
    rows = t.inspect(spark, "position_deletes").collect()
    by_fmt = {}
    for r in rows:
        by_fmt.setdefault(r["delete_format"], []).append(r)
    assert len(by_fmt["puffin"]) == 1
    assert len(by_fmt["parquet"]) == 1
    # pairs point at live data files
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )
    mlist = read_manifest_list(t.metadata.current_snapshot().manifest_list)
    live = {e.data_file.file_path.replace("file:", "")
            for es in read_manifests([m.manifest_path for m in mlist])
            for e in es if e.data_file.content == 0}
    for r in rows:
        assert r["file_path"] in live


def test_changelog_resolves_dv_deletes(spark, catalog):
    """Table.changes() resolves deletion-vector position deletes to the
    removed ROWS, same as parquet pairs — the CDC surface is
    delete-format agnostic."""
    t = _mk_table(catalog, "orders_dvcdc")
    t.append(spark, spark.createDataFrame(BATCH1, COLS))
    t.delete_where_pos(spark, F.col("customer_id") == 1, use_dv=True)
    ch = t.changes(spark).collect()
    dels = {r["id"] for r in ch if r["_change_type"] == "delete"}
    ins = {r["id"] for r in ch if r["_change_type"] == "insert"}
    assert ins == {1, 2, 3, 4, 5, 6}
    assert dels == {1, 4, 5}  # the customer-1 rows


def test_concurrent_dv_writers_merge_not_accumulate(spark, catalog):
    """Two DV writers planning from the SAME snapshot both merge from
    the same prior vector set; without a commit-time guard the later
    commit lands a SECOND live DV for the data file (our scan unions
    pairs so results stay right, but spec readers may resolve only one
    vector). The commit now refuses the conflicting set and the
    statement re-plans, merging the racing vector — afterwards exactly
    ONE live DV references the file and both deletes apply."""
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )
    from iceberg_rust_archive_spark.spec import (
        NestedField, PartitionSpec, Schema, StructTypeSpec,
    )
    from iceberg_rust_archive_spark.spec.manifest import STATUS_DELETED
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(catalog, "db.dv_race", schema, PartitionSpec(0, ()))
    t = t.append(spark, spark.createDataFrame(
        [(i, i) for i in range(6)], "k long, v long").coalesce(1))
    stale = Table.load(catalog, "db.dv_race")  # snapshot BEFORE writer A
    t.delete_where_pos(spark, F.col("k") == 0, use_dv=True)  # writer A
    # writer B plans from the stale snapshot — must replan and merge
    stale.delete_where_pos(spark, F.col("k") == 1, use_dv=True)
    t = t.refresh()
    assert sorted(r["k"] for r in t.scan(spark).collect()) \
        == [2, 3, 4, 5]
    snap = t.metadata.current_snapshot()
    live = [e.data_file for entries in read_manifests(
                [m.manifest_path
                 for m in read_manifest_list(snap.manifest_list)])
            for e in entries if e.status != STATUS_DELETED
            and e.data_file.content == CONTENT_POSITION_DELETES]
    refs = [d.referenced_data_file for d in live]
    assert len(refs) == len(set(refs)) == 1, refs


def test_changelog_refuses_expired_parent_on_delete_commit(spark,
                                                           catalog):
    """Delete events resolve against the PARENT state; when expiry
    removed the parent, resolution would silently yield wrong events
    (empty prior ⇒ dropped deletes) — changes() must refuse loudly."""
    import time as _time

    from iceberg_rust_archive_spark.maintenance import expire_snapshots
    from iceberg_rust_archive_spark.spec import (
        NestedField, PartitionSpec, Schema, StructTypeSpec,
    )
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(catalog, "db.exp_cdc", schema, PartitionSpec(0, ()))
    t = t.append(spark, spark.createDataFrame(
        [(i, i) for i in range(4)], "k long, v long").coalesce(1))
    t = t.delete_where_equal(spark,
                             spark.createDataFrame([(1,)], ["k"]), ["k"])
    t = expire_snapshots(
        t, older_than_ms=int(_time.time() * 1000) + 10_000)
    assert len(t.metadata.snapshots) == 1
    with pytest.raises(ValueError, match="expired"):
        t.changes(spark).collect()


def test_changelog_respects_eq_delete_partition_scope(spark, catalog):
    """An equality-delete file scoped to ONE partition (eq columns
    excluding the partition source — the foreign-writer shape of the
    r10 streaming ADVICE) must emit deletes only for that partition's
    rows. Key-only resolution emitted a phantom delete for the
    matching row in the OTHER partition even though the scan keeps it
    (r11 fix: the parent state carries its file's partition key via
    the scan's broadcast tag join, and each delete file's scope rides
    the key relation)."""
    import dataclasses
    import datetime as dt

    from iceberg_rust_archive_spark.sources.write import write_datafiles
    from iceberg_rust_archive_spark.spec.manifest import (
        CONTENT_EQUALITY_DELETES,
    )
    from test_engine import BATCH1, COLS, DAY_SPEC, ORDERS_SCHEMA

    t = Table.create(catalog, "db.chg_scope", ORDERS_SCHEMA, DAY_SPEC)
    t = t.append(spark, spark.createDataFrame(BATCH1, COLS))
    files = write_datafiles(
        spark, t.metadata, spark.createDataFrame([(1,), (4,)], ["id"]),
        content=CONTENT_EQUALITY_DELETES, equality_ids=(1,))
    jan1 = (dt.date(2020, 1, 1) - dt.date(1970, 1, 1)).days
    scoped = [dataclasses.replace(f, partition={"date_day": jan1})
              for f in files]
    txn = t.new_transaction().append_delete_files(scoped)
    txn.commit_with_retry(lambda x: x.append_delete_files(scoped))
    t = t.refresh()
    assert sorted(r.id for r in t.scan(spark).collect()) \
        == [2, 3, 4, 5, 6]  # id 4 lives in 2020-02-02: out of scope
    dels = sorted(r["id"] for r in t.changes(spark).collect()
                  if r["_change_type"] == "delete")
    assert dels == [1], dels
    # a global delete in a later commit still resolves table-wide
    t.delete_where_equal(spark, spark.createDataFrame([(4,)], ["id"]),
                         ["id"])
    t = t.refresh()
    dels = sorted((r["id"], r["_change_ordinal"])
                  for r in t.changes(spark).collect()
                  if r["_change_type"] == "delete")
    assert dels == [(1, 2), (4, 3)], dels


def test_changelog_reads_eq_deletes_in_one_key_relation(spark, catalog):
    """A commit adding several equality-delete files (global and
    partition-scoped) resolves its delete events through ONE key
    relation per equality-id set, not one per file, and the scoped
    file still emits deletes only inside its partition."""
    import dataclasses

    from iceberg_rust_archive_spark.sources.write import write_datafiles
    from iceberg_rust_archive_spark.spec.manifest import (
        CONTENT_EQUALITY_DELETES,
    )
    from test_engine import BATCH1, COLS, DAY_SPEC, ORDERS_SCHEMA

    from tests.conftest import file_relations

    t = Table.create(catalog, "db.chg_keys", ORDERS_SCHEMA, DAY_SPEC)
    t = t.append(spark, spark.createDataFrame(BATCH1, COLS))
    files = []
    for ids in ([1], [2, 6], [5]):
        files += write_datafiles(
            spark, t.metadata,
            spark.createDataFrame([(i,) for i in ids], ["id"])
            .coalesce(1),
            content=CONTENT_EQUALITY_DELETES, equality_ids=(1,))
    jan1 = (dt.date(2020, 1, 1) - dt.date(1970, 1, 1)).days
    # ids 2 and 6 scoped to 2020-01-01: id 6 lives in 2020-02-02
    files[1] = dataclasses.replace(files[1], partition={"date_day": jan1})
    txn = t.new_transaction().append_delete_files(files)
    txn.commit_with_retry(lambda x: x.append_delete_files(files))
    t = t.refresh()
    assert sorted(r.id for r in t.scan(spark).collect()) == [3, 4, 6]
    ch = t.changes(spark)
    dels = sorted(r["id"] for r in ch.collect()
                  if r["_change_type"] == "delete")
    assert dels == [1, 2, 5], dels
    del_paths = {f.file_path for f in files}
    key_rels = [fs for fs in file_relations(ch) if fs & del_paths]
    assert len(files) >= 3 and len(key_rels) == 1, key_rels


@pytest.mark.parametrize("to_dv", [False, True])
def test_changelog_survives_pos_delete_rewrite(spark, catalog, to_dv):
    """A rewrite_position_deletes commit touches only DELETE files
    (data files carry over untouched), so row-level state is unchanged
    — the changelog must emit NOTHING for it instead of refusing the
    whole range, and every pre-rewrite delete keeps its original
    ordinal. A data rewrite (compact) must still refuse."""
    from collections import Counter

    from iceberg_rust_archive_spark.maintenance import (
        compact_table, rewrite_position_deletes,
    )
    from iceberg_rust_archive_spark.spec import (
        NestedField, PartitionSpec, Schema, StructTypeSpec,
    )
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(catalog, f"db.rpd_cdc_{int(to_dv)}", schema,
                     PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame(
        [(i, i * 10) for i in range(6)], "k long, v long").coalesce(1))
    t = t.refresh()
    t.delete_where_pos(spark, F.col("k") == 0)
    t = t.refresh()
    t.delete_where_pos(spark, F.col("k") == 1)
    t = t.refresh()
    t = rewrite_position_deletes(spark, t, to_dv=to_dv)
    ev = t.changes(spark).collect()
    dels = Counter((r["k"], r["_change_ordinal"]) for r in ev
                   if r["_change_type"] == "delete")
    assert dels == Counter({(0, 2): 1, (1, 3): 1}), dels
    assert sorted(r["k"] for r in t.scan(spark).collect()) \
        == [2, 3, 4, 5]
    pre_compact = t.metadata.current_snapshot().snapshot_id
    t = compact_table(spark, t)
    with pytest.raises(ValueError, match="replace commit"):
        # range holding ONLY the compact commit: a data rewrite must
        # still refuse (the full-history read additionally fails on
        # physically-removed files — compaction deletes them)
        t.changes(spark, from_snapshot_id=pre_compact).collect()


def test_update_where_pos_dv_roundtrip(spark, catalog):
    """DV-routed UPDATE: matched rows' positions become merged deletion
    vectors and post-SET rows land as new files in ONE commit; the scan
    sees the rewritten values, a prior DV on the same file merges
    (one-DV-per-file invariant), and the changelog emits the
    delete(old)+insert(new) retraction pair exactly once."""
    from collections import Counter

    from iceberg_rust_archive_spark.spec import (
        NestedField, PartitionSpec, Schema, StructTypeSpec,
    )
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(catalog, "db.dv_upd", schema, PartitionSpec(0, ()),
                     properties={"write.delete.format": "dv"})
    t.append(spark, spark.createDataFrame(
        [(i, i * 10) for i in range(6)], "k long, v long").coalesce(1))
    t = t.refresh()
    # a prior DV on the same file — the UPDATE's vector must merge it
    t.delete_where_pos(spark, F.col("k") == 5, use_dv=True)
    t = t.refresh()
    t = t.update_where_pos(spark, "k >= 2 AND k <= 3",
                           {"v": "v + 1000"})
    got = {r["k"]: r["v"] for r in t.scan(spark).collect()}
    assert got == {0: 0, 1: 10, 2: 1020, 3: 1030, 4: 40}
    # one-DV-per-file invariant: the update superseded the k=5 vector
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )
    from iceberg_rust_archive_spark.spec.manifest import STATUS_DELETED
    snap = t.metadata.current_snapshot()
    live_dvs = [e.data_file for entries in read_manifests(
                    [m.manifest_path
                     for m in read_manifest_list(snap.manifest_list)])
                for e in entries if e.status != STATUS_DELETED
                and e.data_file.content == CONTENT_POSITION_DELETES]
    assert len({d.referenced_data_file for d in live_dvs}) \
        == len(live_dvs) == 1
    ev = t.changes(spark).collect()
    dels = Counter((r["k"], r["_change_ordinal"]) for r in ev
                   if r["_change_type"] == "delete")
    assert dels == Counter({(5, 2): 1, (2, 3): 1, (3, 3): 1}), dels
    ins3 = sorted(r["k"] for r in ev if r["_change_type"] == "insert"
                  and r["_change_ordinal"] == 3)
    assert ins3 == [2, 3]


def test_engine_update_routes_to_dv_on_opted_in_table(spark, tmp_path):
    """Engine SQL UPDATE on a write.delete.format=dv table writes DV
    position deletes (no equality-delete files), and the table state
    matches the eq-path twin."""
    from iceberg_rust_archive_spark.plans.engine import Engine
    from iceberg_rust_archive_spark.spec.manifest import (
        CONTENT_EQUALITY_DELETES,
    )
    cat = FileCatalog(str(tmp_path / "wh"))
    eng = Engine(spark, cat)
    for name, props in (("db.u_dv", {"write.delete.format": "dv"}),
                        ("db.u_eq", {})):
        t = _mk_table_named(cat, name, props)
        t.append(spark, spark.createDataFrame(BATCH1, COLS))
        eng.sql(f"UPDATE {name} SET amount = amount * 2 "
                f"WHERE customer_id = 1")
    dv_rows = sorted((r["id"], r["amount"]) for r in
                     eng.sql("SELECT id, amount FROM db.u_dv").collect())
    eq_rows = sorted((r["id"], r["amount"]) for r in
                     eng.sql("SELECT id, amount FROM db.u_eq").collect())
    assert dv_rows == eq_rows
    t = Table.load(cat, "db.u_dv")
    files = t.inspect(spark, "files").collect()
    assert any(r["content"] == CONTENT_POSITION_DELETES
               and (r["file_format"] or "").lower() == "puffin"
               for r in files)
    assert not any(r["content"] == CONTENT_EQUALITY_DELETES
                   for r in files)


def _mk_table_named(cat, name, props):
    from iceberg_rust_archive_spark.spec import PartitionSpec
    return Table.create(cat, name, ORDERS_SCHEMA, PartitionSpec(0, ()),
                        properties=props)


def test_changelog_merged_dv_emits_each_delete_once(spark, catalog):
    """A second DV commit on the same data file MERGES the prior bitmap
    (v3 one-DV-per-file invariant), so its blob re-encodes positions
    already dead. ``changes()`` must subtract the parent snapshot's
    live pairs — each row's delete surfaces exactly once, at the commit
    that killed it (a CDC consumer replaying a double retraction would
    corrupt an incremental aggregate)."""
    from collections import Counter

    from iceberg_rust_archive_spark.spec import (
        NestedField, PartitionSpec, Schema, StructTypeSpec,
    )
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(catalog, "db.dv_merge_cdc", schema,
                     PartitionSpec(0, ()))
    # ONE data file so the second delete's DV must merge the first's
    t.append(spark, spark.createDataFrame(
        [(i, i * 10) for i in range(6)], "k long, v long").coalesce(1))
    t = t.refresh()
    t.delete_where_pos(spark, F.col("k") == 0, use_dv=True)
    t = t.refresh()
    t.delete_where_pos(spark, F.col("k") == 1, use_dv=True)
    t = t.refresh()
    ev = t.changes(spark).collect()
    dels = Counter((r["k"], r["_change_ordinal"]) for r in ev
                   if r["_change_type"] == "delete")
    assert dels == Counter({(0, 2): 1, (1, 3): 1}), dels
    # replay from empty reproduces the final state
    net = Counter()
    for r in ev:
        net[r["k"]] += 1 if r["_change_type"] == "insert" else -1
    assert sorted(k for k, n in net.items() if n > 0) == [2, 3, 4, 5]
