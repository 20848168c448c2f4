import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    from iceberg_rust_archive_spark.session import get_spark
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from iceberg_rust_archive_spark.session import load_tables
    return load_tables(spark, SF_DIR)


@pytest.fixture()
def no_leaked_caches(spark):
    """Fail a test that leaves a cached relation or a persisted RDD
    behind: every cached frame is released by its owner. Counted
    against the state the test started from, so a leak from an earlier
    test is not blamed on this one.

    Counts alone can miss a leak: a later statement that replaces a temp
    view uncaches every plan reading it, which brings the count back.
    So every frame that calls ``cache()``/``persist()`` during the test
    is recorded, and one that still reports ``is_cached`` at teardown
    was never unpersisted by its owner."""
    from pyspark.sql.classic.dataframe import DataFrame
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keys()) | {
            i.id() for i in jsc.sc().getRDDStorageInfo()}

    frames, originals = [], {n: getattr(DataFrame, n)
                             for n in ("cache", "persist")}
    for name, orig in originals.items():
        def record(self, *args, _orig=orig, **kw):
            frames.append(self)
            return _orig(self, *args, **kw)
        setattr(DataFrame, name, record)
    cached, rdds = cache.numCachedEntries(), persisted()
    try:
        yield
    finally:
        for name, orig in originals.items():
            setattr(DataFrame, name, orig)
    held = [f for f in frames if f.is_cached]
    for f in held:
        f.unpersist()  # the next test starts clean either way
    assert not held, f"{len(held)} cached frame(s) never unpersisted"
    leaked = persisted() - rdds
    assert not leaked, f"persisted RDDs left behind: {sorted(leaked)}"
    assert cache.numCachedEntries() <= cached, \
        "cached relations left behind"


def file_relations(df) -> list[set[str]]:
    """The input files of each file-source relation in ``df``'s
    analyzed plan, as scheme-less paths (the form manifests record).
    Driver-built ``LocalRelation``s are not counted."""
    import re
    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    out = []
    while it.hasNext():
        leaf = it.next()
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            out.append({re.sub(r"^file:/+", "/", p)
                        for p in leaf.relation().location().inputFiles()})
    return out


@contextmanager
def broadcast_threshold(spark, value):
    """Set ``spark.sql.autoBroadcastJoinThreshold`` for a block and
    restore it afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.fixture()
def spark_writer(spark):
    """Route the test's writes through Spark's writer: with the
    broadcast threshold off, no frame qualifies for the driver-side
    write tier (sources/write.py)."""
    with broadcast_threshold(spark, "-1"):
        yield


def local_rows(spark, rows, cols):
    """``spark.createDataFrame(rows, cols)`` as a driver-built
    ``LocalRelation``, whose size the optimizer knows, so a small write
    of it takes the driver-side write tier (a row list alone becomes a
    ``LogicalRDD`` of unknown size, which always takes Spark's
    writer)."""
    from iceberg_rust_archive_spark.session import local_frame
    return local_frame(spark, [tuple(r) for r in rows],
                       spark.createDataFrame(rows, cols).schema)
