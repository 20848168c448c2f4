"""ORC data-file format (``write.format.default=orc``).

The Iceberg spec records a format per data file (manifest field r101),
so a table may hold parquet and ORC files side by side; the reference
engine is parquet-only on the write path, so this is a parity superset.
Delete files always stay parquet (see sources/write.py)."""

import datetime as dt

import pytest

from iceberg_rust_archive_spark.catalog import FileCatalog
from iceberg_rust_archive_spark.predicates import Pred
from iceberg_rust_archive_spark.sources.manifests import (
    read_manifest_list, read_manifests,
)
from iceberg_rust_archive_spark.spec import (
    NestedField, PartitionField, PartitionSpec, Schema, StructTypeSpec,
)
from iceberg_rust_archive_spark.table import Table

pytestmark = pytest.mark.usefixtures("no_leaked_caches")

SCHEMA = Schema(0, StructTypeSpec((
    NestedField(1, "id", "long", True),
    NestedField(2, "grp", "string", True),
    NestedField(3, "date", "date", True),
    NestedField(4, "amount", "int", True),
)))
DAY_SPEC = PartitionSpec(0, (PartitionField(3, 1000, "date_day", "day"),))

ROWS = [(1, "a", dt.date(2020, 1, 1), 10),
        (2, "b", dt.date(2020, 1, 1), 20),
        (3, "a", dt.date(2020, 2, 2), 30),
        (4, None, dt.date(2020, 2, 2), 40)]
COLS = ["id", "grp", "date", "amount"]


@pytest.fixture()
def catalog(tmp_path):
    return FileCatalog(str(tmp_path / "wh"))


def _orc_table(catalog, name, spec=None):
    return Table.create(catalog, f"db.{name}", SCHEMA, spec or DAY_SPEC,
                        properties={"write.format.default": "orc"})


def _data_entries(t):
    snap = t.metadata.current_snapshot()
    mlist = read_manifest_list(snap.manifest_list)
    out = []
    for entries in read_manifests([m.manifest_path for m in mlist]):
        out.extend(e for e in entries if e.status != 2)
    return out


def test_orc_roundtrip_and_file_format(spark, catalog):
    t = _orc_table(catalog, "orc_rt")
    t.append(spark, spark.createDataFrame(ROWS, COLS))
    got = {r["id"]: r["amount"] for r in t.scan(spark).collect()}
    assert got == {1: 10, 2: 20, 3: 30, 4: 40}
    entries = [e for e in _data_entries(t) if e.data_file.content == 0]
    assert entries and all(
        e.data_file.file_format == "orc" and
        e.data_file.file_path.endswith(".orc") for e in entries)
    # harvested ORC stats carry bounds usable for pruning
    df0 = entries[0].data_file
    assert df0.record_count > 0 and df0.file_size_in_bytes > 0
    assert df0.lower_bounds and df0.upper_bounds


def test_orc_partition_and_file_pruning(spark, catalog):
    t = _orc_table(catalog, "orc_prune")
    t.append(spark, spark.createDataFrame(ROWS, COLS))
    pruned = t.scan(spark, filter=[Pred("date", "=", dt.date(2020, 1, 1))])
    assert sorted(r["id"] for r in pruned.collect()) == [1, 2]
    # only the 2020-01-01 partition's file(s) feed the plan
    assert all("2020-01" in f or "date_day=18262" in f
               for f in pruned.inputFiles())
    # column-bound pruning on the ORC-harvested min/max
    hi = t.scan(spark, filter=[Pred("amount", ">", 35)])
    assert [r["id"] for r in hi.collect()] == [4]


def test_orc_equality_delete_merge_on_read(spark, catalog):
    t = _orc_table(catalog, "orc_del")
    t.append(spark, spark.createDataFrame(ROWS, COLS))
    t.delete_where_equal(
        spark, spark.createDataFrame([(2,)], ["id"]), ["id"])
    t = t.refresh()
    assert sorted(r["id"] for r in t.scan(spark).collect()) == [1, 3, 4]
    # the delete file itself stays parquet (module contract)
    dels = [e for e in _data_entries(t) if e.data_file.content == 2]
    assert dels and all(
        e.data_file.file_format == "parquet" for e in dels)


def test_orc_multi_stratum_scan_matches_parquet_twin(spark, catalog):
    """Equality deletes at several sequence numbers, global and
    partition-scoped: an ORC table (no _metadata.row_index) plans its
    merge-on-read pass without row ordinals and returns the same rows
    as its Parquet twin."""
    got = {}
    for fmt in ("parquet", "orc"):
        t = Table.create(catalog, f"db.strata_{fmt}", SCHEMA, DAY_SPEC,
                         properties={"write.format.default": fmt})
        t = t.append(spark, spark.createDataFrame(ROWS, COLS))
        t = t.delete_where_equal(
            spark, spark.createDataFrame([(2,)], ["id"]), ["id"])
        t = t.append(spark, spark.createDataFrame(
            [(5, "c", dt.date(2020, 1, 1), 50),
             (6, None, dt.date(2020, 2, 2), 60)], COLS))
        t = t.delete_where_equal(
            spark, spark.createDataFrame([(3,), (5,)], ["id"]), ["id"])
        # keyed on the partition source → scoped to its partition
        t = t.delete_where_equal(
            spark, spark.createDataFrame(
                [(6, dt.date(2020, 2, 2)), (1, dt.date(2020, 2, 2))],
                ["id", "date"]), ["id", "date"])
        t = t.append(spark, spark.createDataFrame(
            [(7, "d", dt.date(2020, 1, 1), 70)], COLS))
        df = t.scan(spark)
        if fmt == "orc":
            assert "row_index" not in \
                df._jdf.queryExecution().analyzed().toString()
        got[fmt] = sorted(tuple(r) for r in df.collect())
    assert [r[0] for r in got["orc"]] == [1, 4, 7]
    assert got["orc"] == got["parquet"]


def test_orc_scoped_eq_delete_changelog_matches_parquet_twin(spark,
                                                             catalog):
    """A commit with a partition-scoped equality delete: ``changes()``
    resolves it against the parent state tagged by file path only, so
    an ORC table (no row ordinals) gives its Parquet twin's changelog."""
    got = {}
    for fmt in ("parquet", "orc"):
        t = Table.create(catalog, f"db.cdc_{fmt}", SCHEMA, DAY_SPEC,
                         properties={"write.format.default": fmt})
        t = t.append(spark, spark.createDataFrame(ROWS, COLS))
        first = t.metadata.current_snapshot().snapshot_id
        t = t.delete_where_equal(
            spark, spark.createDataFrame(
                [(3, dt.date(2020, 2, 2)), (1, dt.date(2020, 2, 2))],
                ["id", "date"]), ["id", "date"])
        assert any(any(v is not None for v in e.data_file.partition.values())
                   for e in _data_entries(t) if e.data_file.content == 2)
        got[fmt] = sorted(
            (r["id"], r["_change_type"]) for r in
            t.changes(spark, from_snapshot_id=first).collect())
    assert got["orc"] == [(3, "delete")]
    assert got["orc"] == got["parquet"]


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_same_file_added_twice_keeps_a_copy_per_entry(spark, tmp_path,
                                                      fmt):
    """A file registered twice is two manifest entries at two sequence
    numbers: the scan yields one copy of its rows per entry, and each
    copy sees only the deletes newer than its own entry (v=1 was
    deleted before the second registration, v=2 after it)."""
    import os

    from iceberg_rust_archive_spark.maintenance import add_files
    from iceberg_rust_archive_spark.plans.engine import Engine

    src = str(tmp_path / "src")
    spark.range(6).selectExpr("id AS k", "id AS v").coalesce(1) \
        .write.format(fmt).save(src)
    f = next(os.path.join(src, n) for n in os.listdir(src)
             if n.endswith("." + fmt))
    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    eng.sql("CREATE TABLE db.twice (k BIGINT, v BIGINT)")
    add_files(spark, eng.load_table("db.twice"), [f], fmt=fmt)
    eng.sql("DELETE FROM db.twice WHERE v = 1")
    add_files(spark, eng.load_table("db.twice"), [f], fmt=fmt)
    eng.sql("DELETE FROM db.twice WHERE v = 2")
    got = sorted(r.v for r in eng.sql("SELECT v FROM db.twice").collect())
    assert got == [0, 0, 1, 3, 3, 4, 4, 5, 5]


def test_orc_position_delete_refused(spark, catalog):
    t = _orc_table(catalog, "orc_posdel")
    t.append(spark, spark.createDataFrame(ROWS, COLS))
    from pyspark.sql import functions as F
    with pytest.raises(ValueError, match="parquet"):
        t.delete_where_pos(spark, F.col("id") == 2)


def test_mixed_parquet_then_orc_scan(spark, catalog):
    t = Table.create(catalog, "db.mixed_fmt", SCHEMA, DAY_SPEC)
    t.append(spark, spark.createDataFrame(ROWS[:2], COLS))
    # flip the format property via a metadata-only properties commit
    txn = t.new_transaction().set_properties(
        {"write.format.default": "orc"})
    txn.commit_with_retry(lambda tx: tx.set_properties(
        {"write.format.default": "orc"}))
    t = t.refresh()
    t.append(spark, spark.createDataFrame(ROWS[2:], COLS))
    t = t.refresh()
    fmts = {e.data_file.file_format for e in _data_entries(t)
            if e.data_file.content == 0}
    assert fmts == {"parquet", "orc"}
    got = sorted(r["id"] for r in t.scan(spark).collect())
    assert got == [1, 2, 3, 4]


def test_orc_compaction_keeps_format_and_rows(spark, catalog):
    from iceberg_rust_archive_spark.maintenance import compact_table
    t = _orc_table(catalog, "orc_compact", PartitionSpec(0, ()))
    for i in range(3):
        t.append(spark, spark.createDataFrame(
            [(10 * i + j, "g", dt.date(2020, 1, 1 + i), j)
             for j in range(3)], COLS))
    t = t.refresh()
    before = sorted(r["id"] for r in t.scan(spark).collect())
    t = compact_table(spark, t)
    after = sorted(r["id"] for r in t.scan(spark).collect())
    assert after == before
    fmts = {e.data_file.file_format for e in _data_entries(t)
            if e.data_file.content == 0}
    assert fmts == {"orc"}


def test_bad_format_property_rejected(spark, catalog):
    t = Table.create(catalog, "db.badfmt", SCHEMA, DAY_SPEC,
                     properties={"write.format.default": "avro"})
    with pytest.raises(ValueError, match="avro"):
        t.append(spark, spark.createDataFrame(ROWS, COLS))
