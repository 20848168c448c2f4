"""The driver-side write tier (sources/write.py ``_write_arrow``): which
frames take it, what it runs, and a differential check against Spark's
writer — identical rows and identical harvested ``DataFile`` stats for
every allow-listed type, every partition transform, equality-delete
files, sort orders and file rolling."""

import json
import math

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from conftest import broadcast_threshold

from iceberg_rust_archive_spark.catalog.file_catalog import FileCatalog
from iceberg_rust_archive_spark.predicates import Pred, prune_datafiles
from iceberg_rust_archive_spark.session import local_frame
from iceberg_rust_archive_spark.sources import write as write_mod
from iceberg_rust_archive_spark.sources.manifests import (
    read_manifest, read_manifest_list,
)
from iceberg_rust_archive_spark.sources.readers import read_data_files
from iceberg_rust_archive_spark.spec.manifest import (
    CONTENT_DATA, CONTENT_EQUALITY_DELETES,
)
from iceberg_rust_archive_spark.spec.partition import (
    PartitionField, PartitionSpec,
)
from iceberg_rust_archive_spark.spec.schema import (
    NestedField, Schema, StructTypeSpec,
)
from iceberg_rust_archive_spark.spec.sort import SortField, SortOrder
from iceberg_rust_archive_spark.spec.types import spark_schema_for
from iceberg_rust_archive_spark.table import Table

ALL_TYPES = Schema(0, StructTypeSpec((
    NestedField(1, "id", "long", True),
    NestedField(2, "i", "int", True),
    NestedField(3, "b", "boolean", True),
    NestedField(4, "f", "float", True),
    NestedField(5, "x", "double", True),
    NestedField(6, "d9", "decimal(9,2)", True),
    NestedField(7, "d18", "decimal(18,4)", True),
    NestedField(8, "d30", "decimal(30,3)", True),
    NestedField(9, "dt", "date", True),
    NestedField(10, "tsn", "timestamp", True),
    NestedField(11, "ts", "timestamptz", True),
    NestedField(12, "s", "string", True),
)))

ROWS = 300


def all_types_frame(spark):
    """ROWS rows over every allow-listed type, with NULLs in each
    column, and string values that exercise the partition markers:
    NULL, '', '%00'-prefixed, the default-partition name and characters
    Spark escapes in directory names. Built from ``range``, so the
    optimizer sizes it exactly."""
    return spark.range(ROWS).selectExpr(
        "id",
        "if(id % 11 = 0, null, cast(id % 40 - 20 as int)) AS i",
        "if(id % 13 = 0, null, id % 3 = 0) AS b",
        "if(id % 17 = 0, null, cast(id as float) / 8) AS f",
        "if(id % 19 = 0, null, id * 1.25d - 100) AS x",
        "if(id % 23 = 0, null, cast(id * 3.17 - 200 as decimal(9,2))) AS d9",
        "if(id % 29 = 0, null, cast(id * 123456.789 as decimal(18,4)))"
        " AS d18",
        "if(id % 31 = 0, null, cast('999999999999999999999999999.950'"
        " as decimal(30,3)) - id * 1000000) AS d30",
        "if(id % 37 = 0, null, date_add(date'2023-11-20',"
        " cast(id * 3 % 400 as int))) AS dt",
        "if(id % 41 = 0, null, cast(timestamp_micros(1700000000000000"
        " + (id % 4) * 86400000000 + id) as timestamp_ntz)) AS tsn",
        "if(id % 43 = 0, null, timestamp_micros(1700000000000000"
        " + (id % 5) * 3600000000 + id * 1000)) AS ts",
        "case id % 10 when 0 then null when 1 then '' "
        "when 2 then concat('%00', id % 3) "
        "when 3 then '__HIVE_DEFAULT_PARTITION__' "
        "when 4 then 'a/b=c:d%' else concat('v', id % 5) end AS s")


def _spec(*fields):
    return PartitionSpec(0, tuple(
        PartitionField(ALL_TYPES.field_by_name(col).field_id, 1000 + k,
                       f"p{k}_{col}", tr)
        for k, (col, tr) in enumerate(fields)))


def _files(t):
    snap = t.metadata.current_snapshot()
    return [e.data_file for mle in read_manifest_list(snap.manifest_list)
            for e in read_manifest(mle.manifest_path)]


def _stats(files):
    """Every harvested stat except sizes, one record per file, in a
    writer-independent order."""
    recs = [{"content": f.content, "equality_ids": f.equality_ids,
             "partition": json.dumps(f.partition, sort_keys=True,
                                     default=str),
             "record_count": f.record_count,
             "value_counts": f.value_counts,
             "null_value_counts": f.null_value_counts,
             "nan_value_counts": f.nan_value_counts,
             "lower_bounds": f.lower_bounds,
             "upper_bounds": f.upper_bounds} for f in files]
    return sorted(recs, key=lambda r: (r["partition"], r["record_count"],
                                       repr(sorted(r["lower_bounds"]
                                                   .items()))))


def _rows(spark, schema, files):
    df = read_data_files(spark, spark_schema_for(schema.struct),
                         [(f.file_path, f.file_format) for f in files])
    return sorted((tuple(r) for r in df.collect()), key=repr)


class _Spy:
    """Counts the calls of one writer function."""

    def __init__(self, monkeypatch, name):
        self.calls = 0
        real = getattr(write_mod, name)

        def wrapped(*a, **kw):
            self.calls += 1
            return real(*a, **kw)
        monkeypatch.setattr(write_mod, name, wrapped)


CASES = {
    "identity_bucket": dict(spec=_spec(("s", "identity"),
                                       ("id", "bucket[4]"))),
    "year_hour": dict(spec=_spec(("dt", "year"), ("ts", "hour"))),
    "month_day": dict(spec=_spec(("dt", "month"), ("tsn", "day"))),
    "truncate": dict(spec=_spec(("s", "truncate[3]"),
                                ("i", "truncate[10]"))),
    # one sorted writer task on both sides, so the record cap splits
    # the same rows into the same files
    "sorted_split": dict(
        sort=SortOrder(1, (SortField(2, direction="asc"),
                           SortField(1, direction="desc",
                                     null_order="nulls-last"))),
        props={"write.target-file-size-bytes": "2000"}, coalesce=True),
    "eq_delete": dict(spec=_spec(("s", "identity")), eq=("id", "s")),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_tier_matches_spark_writer(spark, tmp_path, monkeypatch,
                                          case):
    """Both writers, one input: the same rows, and the same record
    counts, bounds, value/null/NaN counts and partition tuples in every
    file."""
    c = CASES[case]
    cat = FileCatalog(str(tmp_path / "wh"))
    cat.create_namespace("db")
    df = all_types_frame(spark)
    if c.get("coalesce"):
        df = df.coalesce(1)
    schema, content, eq_ids = ALL_TYPES, CONTENT_DATA, None
    if "eq" in c:
        eq_ids = tuple(ALL_TYPES.field_by_name(n).field_id for n in c["eq"])
        schema = ALL_TYPES.project(list(eq_ids))
        content = CONTENT_EQUALITY_DELETES
        df = df.select(*c["eq"])
    out = {}
    for writer in ("driver", "spark"):
        t = Table.create(cat, f"db.{case}_{writer}", ALL_TYPES,
                         c.get("spec"), sort_order=c.get("sort"),
                         properties=c.get("props"))
        spy = _Spy(monkeypatch, "_write_spark")
        with broadcast_threshold(spark,
                                 "10485760" if writer == "driver" else "-1"):
            files = write_mod.write_datafiles(spark, t.metadata, df,
                                              content, eq_ids)
        assert spy.calls == (writer == "spark")
        out[writer] = files
    drv, spk = out["driver"], out["spark"]
    if case == "sorted_split":
        assert len(drv) == math.ceil(ROWS / 128)  # the 128-row floor cap
    assert _stats(drv) == _stats(spk)
    want = sorted((tuple(r) for r in df.collect()), key=repr)
    assert _rows(spark, schema, drv) == want
    assert _rows(spark, schema, spk) == want
    if case == "sorted_split":
        # each file holds a run of Spark's order: i ascending with NULLs
        # first, then id descending
        for f in sorted(drv, key=lambda f: f.file_path):
            got = [tuple(r) for r in read_data_files(
                spark, spark_schema_for(schema.struct),
                [(f.file_path, "parquet")]).select("i", "id").collect()]
            assert got == sorted(got, key=lambda r: (
                r[0] is not None, r[0] if r[0] is not None else 0, -r[1]))


def test_small_append_runs_one_job_no_exchange(spark, tmp_path,
                                               monkeypatch):
    """A small append collects once: one Spark job, no Exchange, and no
    Spark write."""
    cat = FileCatalog(str(tmp_path / "wh"))
    cat.create_namespace("db")
    t = Table.create(cat, "db.t", ALL_TYPES, _spec(("dt", "month")))
    df = all_types_frame(spark)
    DataFrame = type(df)
    plans = []
    real = DataFrame.toArrow

    def to_arrow(self):
        tbl = real(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return tbl
    monkeypatch.setattr(DataFrame, "toArrow", to_arrow)  # classic frames
    spy = _Spy(monkeypatch, "_write_spark")
    sc = spark.sparkContext
    sc.setJobGroup("driver-tier-append", "small append")
    try:
        t = t.append(spark, df)
        jobs = sc.statusTracker().getJobIdsForGroup("driver-tier-append")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1, jobs
    assert len(plans) == 1 and "Exchange" not in plans[0], plans
    assert spy.calls == 0
    assert t.scan(spark).count() == ROWS


@pytest.mark.parametrize("why", ["over_threshold", "bloom_filter"])
def test_spark_writer_beyond_the_tier(spark, tmp_path, monkeypatch, why):
    """A frame over the broadcast threshold, or a table with a
    bloom-filter property, runs Spark's write job."""
    cat = FileCatalog(str(tmp_path / "wh"))
    cat.create_namespace("db")
    props = {"write.parquet.bloom-filter-enabled.column.id": "true"} \
        if why == "bloom_filter" else None
    t = Table.create(cat, "db.t", ALL_TYPES, properties=props)
    spy = _Spy(monkeypatch, "_write_spark")
    with broadcast_threshold(spark, "1k" if why == "over_threshold"
                             else "10485760"):
        t = t.append(spark, all_types_frame(spark))
    assert spy.calls == 1
    assert t.scan(spark).count() == ROWS


def test_failed_collect_falls_back_to_spark_writer(spark, tmp_path,
                                                    monkeypatch):
    """A frame the optimizer underestimates (Spark sizes a string at
    20 B whatever its length) can fail its collect, for example on
    ``spark.driver.maxResultSize``; the write then runs on Spark's
    writer instead of failing."""
    cat = FileCatalog(str(tmp_path / "wh"))
    cat.create_namespace("db")
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "id", "long", True),
        NestedField(2, "payload", "string", True))))
    t = Table.create(cat, "db.t", schema)
    df = spark.range(64).select(
        "id", F.expr("repeat('x', 100000)").alias("payload"))
    assert write_mod._driver_sized(spark, df)  # 64 rows × (8 + 20) B

    def failing(self):
        raise Py4JError("Total size of serialized results is bigger "
                        "than spark.driver.maxResultSize")
    monkeypatch.setattr(type(df), "toArrow", failing)
    spy = _Spy(monkeypatch, "_write_spark")
    with pytest.warns(RuntimeWarning, match="maxResultSize"):
        t = t.append(spark, df)
    assert spy.calls == 1
    monkeypatch.undo()
    got = t.scan(spark).select(F.sum(F.length("payload"))).collect()[0][0]
    assert got == 64 * 100000


def test_driver_tier_counts_nans_exactly(spark, tmp_path):
    """The tier counts NaNs from the collected rows: a file with NaNs
    records its exact count and is kept for ``>``, which NaN satisfies
    in Spark — also by Spark's parquet row-group filter, which would
    skip the NaN rows on pyarrow's NaN-free min/max — and a NaN-free
    file records 0, so ``>`` prunes it."""
    cat = FileCatalog(str(tmp_path / "wh"))
    cat.create_namespace("db")
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "x", "double", True),
        NestedField(3, "f", "float", True))))
    spec = PartitionSpec(0, (PartitionField(1, 1000, "k", "identity"),))
    t = Table.create(cat, "db.t", schema, spec)
    df = spark.range(40).selectExpr(
        "id % 2 AS k",
        "if(id % 2 = 0 AND id % 8 = 0, double('NaN'), id * 1.0d) AS x",
        "if(id % 2 = 0 AND id % 10 = 0, float('NaN'), cast(id as float))"
        " AS f")
    t = t.append(spark, df)
    files = {f.partition["k"]: f for f in _files(t)}
    assert files[0].nan_value_counts == {2: 5, 3: 4}
    assert files[1].nan_value_counts == {2: 0, 3: 0}
    kept = prune_datafiles([Pred("x", ">", 100.0)], schema,
                           list(files.values()), spec)
    assert [f.partition["k"] for f in kept] == [0]
    assert t.scan(spark, filter=[Pred("x", ">", 100.0)]).count() == 5
    assert t.scan(spark).filter("isnan(f)").count() == 4


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_compression_level_honored(spark, tmp_path, writer):
    """``write.parquet.compression-level`` reaches both writers: two
    zstd levels give different file sizes and the same rows."""
    cat = FileCatalog(str(tmp_path / "wh"))
    cat.create_namespace("db")
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "id", "long", True),
        NestedField(2, "h", "string", True))))
    df = spark.range(20000).selectExpr(
        "id * 7919 % 100003 AS id", "sha1(cast(id % 5000 as string)) AS h")
    sizes, rows = {}, {}
    for level in ("1", "19"):
        t = Table.create(cat, f"db.t{level}", schema,
                         properties={"write.parquet.compression-level":
                                     level})
        with broadcast_threshold(spark, "10485760" if writer == "driver"
                                 else "-1"):
            t = t.append(spark, df.coalesce(1))
        sizes[level] = sum(f.file_size_in_bytes for f in _files(t))
        rows[level] = sorted(tuple(r) for r in t.scan(spark).collect())
    assert sizes["1"] != sizes["19"], sizes
    assert rows["1"] == rows["19"]


def _stored_rdds(spark) -> set:
    return {i.id() for i in
            spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _leaf(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


@pytest.mark.parametrize("fail", [False, True], ids=["exit", "exception"])
def test_materialized_sizes_by_what_it_stored(spark, fail):
    """``session.materialized`` sizes its result by the bytes the block
    manager stored, not by the optimizer's estimate: a join of a few
    rows that the optimizer sizes far over the threshold becomes a
    driver-side ``LocalRelation`` (so its writes take the driver tier)
    and its checkpoint is released at once; a result over the threshold
    stays the checkpoint. Both are released on exit and on an
    exception."""
    from iceberg_rust_archive_spark.session import materialized
    joined = spark.range(1000).join(spark.range(1000), "id")
    assert not write_mod._driver_sized(spark, joined)  # 1000² × 8 B
    before = _stored_rdds(spark)

    class Boom(Exception):
        pass

    for thr, leaf in (("10485760", "LocalRelation"), ("1024", "LogicalRDD")):
        with broadcast_threshold(spark, thr):
            try:
                with materialized(joined) as m:
                    assert _leaf(m) == leaf
                    assert m.count() == 1000
                    held = _stored_rdds(spark) - before
                    assert len(held) == (leaf == "LogicalRDD"), held
                    if leaf == "LocalRelation":
                        assert write_mod._driver_sized(spark, m)
                    if fail:
                        raise Boom()
            except Boom:
                pass
        assert _stored_rdds(spark) <= before


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_nul_partition_values_round_trip(spark, tmp_path, monkeypatch,
                                         writer):
    """Spark's directory escaping leaves NUL raw, so a string partition
    value holding one could not be written by Spark's writer. Both
    writers commit the exact value as the identity and truncate tuples,
    and an '=' probe finds its rows; values that look like the markers
    stay distinct."""
    cat = FileCatalog(str(tmp_path / "wh"))
    cat.create_namespace("db")
    sch = Schema(0, StructTypeSpec((
        NestedField(1, "k", "string", True),
        NestedField(2, "v", "long", True))))
    values = ["\x00", "a\x00b", "%\x00%25", "%01", "%01\x00", "%00",
              "", "plain", "\x02\U0001f600\x00'0", "\U0001f600\x7f"]
    rows = [(k, i) for i, k in enumerate(values)] + [(None, len(values))]
    for tr, cut in (("identity", None), ("truncate[3]", 3)):
        spec = PartitionSpec(0, (PartitionField(1, 1000, "pk", tr),))
        t = Table.create(cat, f"db.nul_{tr[:5]}", sch, spec)
        spy = _Spy(monkeypatch, "_write_spark")
        with broadcast_threshold(spark,
                                 "10485760" if writer == "driver" else "-1"):
            t = t.append(spark, local_frame(spark, rows, "k string, v long"))
        assert spy.calls == (writer == "spark")
        monkeypatch.undo()
        tuples = {f.partition["pk"] for f in _files(t)}
        assert tuples == {k if k is None else k[:cut] for k, _ in rows}
        for k, v in rows[:-1]:
            got = sorted(r["v"] for r in t.scan(
                spark, filter=[Pred("k", "=", k)]).collect())
            assert got == [v], (tr, k, got)
