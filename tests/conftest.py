import os
import sys

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
    test is not blamed on this one."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keys()) | {
            i.id() for i in jsc.sc().getRDDStorageInfo()}

    cached, rdds = cache.numCachedEntries(), persisted()
    yield
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
