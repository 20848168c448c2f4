"""Independent-engine read-back (the role Trino plays in the
reference's tests/integration_trino.rs:1-323): pyiceberg — a reader
this repo shares zero code with — loads an engine-written table from
its metadata.json alone and must agree on row count, a column sum, and
partition pruning.

pyiceberg is not installed in this sandbox, so the module skips with a
visible reason; it runs unmodified wherever ``pip install pyiceberg``
is possible. Everything it exercises is the on-disk contract the other
interop tests pin piecewise (Java-Avro manifest round-trip in
test_avro_interop.py, vendored spec JSON-schema validation in
test_spec_validation.py) — this is the end-to-end composition:
metadata.json → manifest list → manifests → parquet data.

Each test writes small local relations, which take the driver-side
write tier; ``test_pyiceberg_interop_spark_writer`` reruns every test
on Spark's writer.
"""

import datetime as dt

import pytest

pyiceberg = pytest.importorskip(
    "pyiceberg",
    reason="pyiceberg not installed in this sandbox — install it to run "
           "the independent-engine read-back gate")

from pyspark.sql import functions as F  # noqa: E402

from conftest import local_rows  # noqa: E402

from iceberg_rust_archive_spark.catalog import FileCatalog  # noqa: E402


@pytest.fixture()
def catalog(tmp_path):
    return FileCatalog(str(tmp_path / "warehouse"))


def _static_table(metadata_location):
    from pyiceberg.table import StaticTable
    return StaticTable.from_metadata(metadata_location)


def test_pyiceberg_reads_partitioned_append(spark, catalog):
    from test_engine import BATCH1, BATCH2, COLS, _mk_table

    t = _mk_table(catalog, "orders_pyiceberg")
    t.append(spark, local_rows(spark, BATCH1, COLS))
    t.append(spark, local_rows(spark, BATCH2, COLS))

    pt = _static_table(t.metadata_location)
    scanned = pt.scan().to_arrow()
    assert scanned.num_rows == len(BATCH1) + len(BATCH2)
    import pyarrow.compute as pc
    assert pc.sum(scanned["amount"]).as_py() == sum(
        r[4] for r in BATCH1 + BATCH2)

    # partition pruning through the day() transform the engine wrote
    pruned = pt.scan(row_filter="date >= '2020-02-01'").to_arrow()
    assert pruned.num_rows == sum(
        1 for r in BATCH1 + BATCH2 if r[3] >= dt.date(2020, 2, 1))


def test_pyiceberg_applies_deletes(spark, catalog):
    from test_engine import BATCH1, COLS, _mk_table

    t = _mk_table(catalog, "orders_pyiceberg_del")
    t.append(spark, local_rows(spark, BATCH1, COLS))
    t.delete_where_equal(spark, local_rows(spark, [(1,), (4,)], ["id"]),
                         ["id"])
    t.delete_where_pos(spark, F.col("id") == 2)

    pt = _static_table(t.metadata_location)
    got = sorted(pt.scan().to_arrow()["id"].to_pylist())
    assert got == [3, 5, 6]


def test_pyiceberg_reads_deletion_vectors(spark, catalog):
    """v3 DV read-back: requires a pyiceberg version with deletion-
    vector support; the spec blob framing (magic, CRC, portable-64
    roaring) is what test_deletion_vectors.py pins byte-level."""
    from test_engine import BATCH1, COLS, _mk_table

    t = _mk_table(catalog, "orders_pyiceberg_dv")
    t.append(spark, local_rows(spark, BATCH1, COLS))
    t.delete_where_pos(spark, F.col("id") <= 2, use_dv=True)

    pt = _static_table(t.metadata_location)
    got = sorted(pt.scan().to_arrow()["id"].to_pylist())
    assert got == [3, 4, 5, 6]


def test_pyiceberg_prunes_month_partitions(spark, catalog):
    """The r14 month-transform alignment end-to-end: pyiceberg projects
    a date predicate into the SPEC's month space (months since 1970-01,
    2023-05 → 640). Had the engine written the reference's off-by-one
    ordinals (values.rs:857-861), pyiceberg's pruning would drop the
    partitions holding matching rows — this test returns short."""
    from test_engine import ORDERS_SCHEMA
    from iceberg_rust_archive_spark.spec import (
        PartitionField, PartitionSpec,
    )
    from iceberg_rust_archive_spark.table import Table

    spec = PartitionSpec(0, (PartitionField(4, 1000, "date_month",
                                            "month"),))
    t = Table.create(catalog, "db.orders_pyiceberg_month", ORDERS_SCHEMA,
                     spec)
    rows = [(i, i, i, dt.date(2020 + i % 2, 1 + i % 6, 5 + i), i)
            for i in range(12)]
    cols = ["id", "customer_id", "product_id", "date", "amount"]
    t.append(spark, local_rows(spark, rows, cols))

    pt = _static_table(t.metadata_location)
    assert pt.scan().to_arrow().num_rows == len(rows)
    lo, hi = dt.date(2020, 2, 1), dt.date(2020, 5, 1)
    scan = pt.scan(row_filter=f"date >= '{lo}' and date < '{hi}'")
    got = sorted(scan.to_arrow()["id"].to_pylist())
    assert got == sorted(r[0] for r in rows if lo <= r[3] < hi)
    # pruning engaged: the foreign planner kept fewer files than exist
    assert len(list(scan.plan_files())) < len(list(pt.scan().plan_files()))


def test_pyiceberg_prunes_bucket_partitions(spark, catalog):
    """bucket[4] cross-reader: pyiceberg computes murmur3 over the
    spec's single-value serialization to prune on `id = k` — agreeing
    row sets prove the engine's bucket hash and partition tuples are
    byte-compatible with an independent spec implementation."""
    from test_engine import ORDERS_SCHEMA
    from iceberg_rust_archive_spark.spec import (
        PartitionField, PartitionSpec,
    )
    from iceberg_rust_archive_spark.table import Table

    spec = PartitionSpec(0, (PartitionField(1, 1000, "id_bucket",
                                            "bucket[4]"),))
    t = Table.create(catalog, "db.orders_pyiceberg_bucket", ORDERS_SCHEMA,
                     spec)
    rows = [(i, i, i, dt.date(2021, 1, 1 + i % 20), i) for i in range(40)]
    cols = ["id", "customer_id", "product_id", "date", "amount"]
    t.append(spark, local_rows(spark, rows, cols))

    pt = _static_table(t.metadata_location)
    for key in (7, 23):
        scan = pt.scan(row_filter=f"id = {key}")
        assert scan.to_arrow()["id"].to_pylist() == [key]
        assert len(list(scan.plan_files())) < len(
            list(pt.scan().plan_files()))


def test_pyiceberg_reads_variant_table(spark, catalog):
    """v3 variant cross-read: the engine's shredded-variant parquet +
    walker-harvested stats must load in a reader that never saw this
    repo. Skips (not fails) on pyiceberg versions predating variant."""
    from iceberg_rust_archive_spark.spec import (
        NestedField, PartitionSpec, Schema, StructTypeSpec,
    )
    from iceberg_rust_archive_spark.table import Table

    vschema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "payload", "variant", False))))
    t = Table.create(catalog, "db.var_pyiceberg", vschema,
                     PartitionSpec(0, ()))
    df = spark.range(8).selectExpr(
        "id AS k", "parse_json(to_json(struct(id AS a, id * 2 AS b)))"
        " AS payload")
    t.append(spark, df)
    try:
        pt = _static_table(t.metadata_location)
        arrow = pt.scan().to_arrow()
    except Exception as e:  # noqa: BLE001 — feature-gate, not a failure
        pytest.skip(f"pyiceberg version lacks v3 variant read: {e!r}")
    assert arrow.num_rows == 8
    assert sorted(arrow["k"].to_pylist()) == list(range(8))


@pytest.mark.parametrize("case", [
    test_pyiceberg_reads_partitioned_append,
    test_pyiceberg_applies_deletes,
    test_pyiceberg_reads_deletion_vectors,
    test_pyiceberg_prunes_month_partitions,
    test_pyiceberg_prunes_bucket_partitions,
    test_pyiceberg_reads_variant_table,
], ids=lambda f: f.__name__)
def test_pyiceberg_interop_spark_writer(spark, catalog, spark_writer, case):
    case(spark, catalog)
