"""MV incremental-refresh golden scenarios (SURVEY §5.4, FIXTURES F5) and
the SQL shim (planner.rs DDL surface)."""

import pytest

from conftest import broadcast_threshold
from iceberg_rust_archive_spark.catalog import FileCatalog
from iceberg_rust_archive_spark.plans.engine import Engine
from iceberg_rust_archive_spark.plans.sqlparse import (
    find_relations, parse_select,
)
from iceberg_rust_archive_spark.plans.mv import (
    CHANGELOG_AGG, FULL, INCR_AGG, INCR_APPEND, classify,
)
from iceberg_rust_archive_spark.sources.manifests import (
    read_manifest_list, read_manifests,
)
from iceberg_rust_archive_spark.spec.manifest import (
    CONTENT_DATA, CONTENT_EQUALITY_DELETES, STATUS_ADDED, STATUS_DELETED,
)

pytestmark = pytest.mark.usefixtures("no_leaked_caches")


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    eng.sql("CREATE TABLE db.orders (id BIGINT NOT NULL, customer_id BIGINT, "
            "product_id BIGINT, date DATE, quantity INT) "
            "PARTITIONED BY (day(date))")
    eng.sql("INSERT INTO db.orders VALUES "
            "(1,1,1,DATE '2020-01-01',1),(2,2,1,DATE '2020-01-01',1),"
            "(3,3,1,DATE '2020-01-01',3),(4,1,2,DATE '2020-02-02',1),"
            "(5,1,1,DATE '2020-02-02',2),(6,3,3,DATE '2020-02-02',3)")
    return eng


def _sums(engine, table_or_query):
    df = engine.sql(f"SELECT product_id, sum(quantity) AS q FROM "
                    f"{table_or_query} GROUP BY product_id")
    return {r[0]: r[1] for r in df.collect()}


def test_classify():
    assert classify(parse_select(
        "SELECT a, b FROM t WHERE a < 3")) == INCR_APPEND
    assert classify(parse_select(
        "SELECT sum(a) AS s, b FROM t GROUP BY b")) == INCR_AGG
    assert classify(parse_select(
        "SELECT avg(a) AS s, b FROM t GROUP BY b")) == FULL
    assert classify(parse_select(
        "SELECT DISTINCT a FROM t")) == FULL
    assert classify(parse_select(
        "SELECT a, row_number() OVER (ORDER BY a) AS rn FROM t")) == FULL
    assert classify(parse_select(
        "SELECT a FROM t LEFT JOIN u ON t.a = u.b")) == FULL
    assert find_relations(
        "SELECT * FROM a JOIN db.b ON x = y JOIN c ON p = q") == \
        ["a", "db.b", "c"]


def test_variant_source_mv_routes_full(engine):
    """r12 verdict #6: an MV whose source carries a variant column (or
    whose SQL calls variant_get) refreshes FULL by explicit policy even
    when the SQL shape would classify IncrementalAppend — and stays
    correct across refreshes."""
    engine.sql("CREATE TABLE db.vsrc (k BIGINT, p VARIANT)")
    engine.sql("INSERT INTO db.vsrc SELECT 1, parse_json('{\"n\": 10}')")
    # projection shape = IncrementalAppend textually; variant source
    # must force FullOverwrite on every refresh
    engine.sql("CREATE MATERIALIZED VIEW db.vmv AS "
               "SELECT k, variant_get(p, '$.n', 'int') AS n FROM db.vsrc")
    assert engine.refresh_materialized_view("db.vmv") == FULL
    engine.sql("INSERT INTO db.vsrc SELECT 2, parse_json('{\"n\": 20}')")
    assert engine.refresh_materialized_view("db.vmv") == FULL
    got = {r.k: r.n for r in engine.sql("SELECT * FROM db.vmv").collect()}
    assert got == {1: 10, 2: 20}
    assert engine.refresh_materialized_view("db.vmv") == "Fresh"


def test_filter_projection_mv(engine):
    """materialized_view/mod.rs:439-628: filter+projection MV,
    {1:7, 2:1} then {1:9, 2:2} after incremental insert."""
    engine.sql("CREATE MATERIALIZED VIEW db.mv AS "
               "SELECT product_id, quantity FROM db.orders "
               "WHERE product_id < 3")
    assert engine.sql("SELECT refresh_materialized_view('db.mv')") \
        .collect()[0][0] == FULL
    assert _sums(engine, "db.mv") == {1: 7, 2: 1}

    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,3,DATE '2020-01-03',1),(8,2,1,DATE '2020-01-03',2),"
               "(9,2,2,DATE '2020-01-03',1)")
    assert engine.refresh_materialized_view("db.mv") == INCR_APPEND
    assert _sums(engine, "db.mv") == {1: 9, 2: 2}
    # refresh again with fresh sources → no-op
    assert engine.refresh_materialized_view("db.mv") == "Fresh"


def test_aggregate_mv_incremental(engine):
    """delta_queries/mod.rs:470-892 shape: aggregate MV merged
    incrementally (sum → old+new; new groups via anti-join; old group rows
    retracted by equality delete)."""
    # merge-on-read shape: with the broadcast threshold off no storage
    # scan is provably small, so the refresh never copies on write
    with broadcast_threshold(engine.spark, "-1"):
        engine.sql("CREATE MATERIALIZED VIEW db.agg_mv AS "
                   "SELECT sum(quantity) AS total, product_id FROM db.orders "
                   "GROUP BY product_id")
        engine.refresh_materialized_view("db.agg_mv")
        got = {r["product_id"]: r["total"]
               for r in engine.sql("SELECT * FROM db.agg_mv").collect()}
        assert got == {1: 7, 2: 1, 3: 3}

        engine.sql("INSERT INTO db.orders VALUES "
                   "(7,1,3,DATE '2020-01-03',1),(8,2,1,DATE '2020-01-03',2),"
                   "(9,2,4,DATE '2020-01-03',5)")  # product 4 is a NEW group
        assert engine.refresh_materialized_view("db.agg_mv") == INCR_AGG
        got = {r["product_id"]: r["total"]
               for r in engine.sql("SELECT * FROM db.agg_mv").collect()}
        assert got == {1: 9, 2: 1, 3: 4, 4: 5}
        # the incremental path must not have rescanned/rewritten everything:
        # storage table now has data + equality-delete files
        storage = engine.load_table("db.agg_mv_storage")
        mlist = read_manifest_list(
            storage.metadata.current_snapshot().manifest_list)
        assert any(m.content == 1 for m in mlist), "expected delete manifest"


def _live_delete_strata(table) -> set:
    """Distinct sequence numbers of the live equality deletes: the
    merge-on-read strata a scan of ``table`` must apply."""
    mans = [m.manifest_path for m in read_manifest_list(
        table.metadata.current_snapshot().manifest_list) if m.content == 1]
    return {e.sequence_number for entries in read_manifests(mans)
            for e in entries if e.status != STATUS_DELETED
            and e.data_file.content == CONTENT_EQUALITY_DELETES}


@pytest.mark.parametrize("mv_sql", [
    "SELECT sum(quantity) AS total, product_id FROM db.orders "
    "GROUP BY product_id",
    # one group: each refresh writes one delete file, so the commit
    # path packs the delete manifests into 1-2 while strata grow
    "SELECT sum(quantity) AS total, product_id FROM db.orders "
    "WHERE product_id = 1 GROUP BY product_id",
], ids=["multi_group", "single_group"])
def test_mv_refresh_loop_auto_compacts(engine, mv_sql):
    """An INCR_AGG refresh loop must not grow the storage table's
    merge-on-read chain without bound: once the live delete strata
    (distinct delete sequence numbers, not delete manifests) reach the
    threshold the driver rewrites the storage table, the refresh state
    survives the compaction (the NEXT refresh is still INCR_AGG, not a
    silent FULL demotion), and the MV contents stay equal to a full
    recompute throughout."""
    from iceberg_rust_archive_spark.plans.mv import (
        _STORAGE_COMPACT_DELETE_STRATA,
    )
    # merge-on-read shape: with the broadcast threshold off no storage
    # scan is provably small, so the refresh never copies on write
    with broadcast_threshold(engine.spark, "-1"):
        engine.sql(f"CREATE MATERIALIZED VIEW db.loop_mv AS {mv_sql}")
        engine.refresh_materialized_view("db.loop_mv")
        max_strata, compacted = 0, False
        for i in range(7, 7 + 2 * _STORAGE_COMPACT_DELETE_STRATA):
            engine.sql(f"INSERT INTO db.orders VALUES "
                       f"({i},1,1,DATE '2020-03-01',{i % 3 + 1})")
            assert engine.refresh_materialized_view("db.loop_mv") == INCR_AGG
            want = {r[1]: r[0] for r in engine.sql(mv_sql).collect()}
            got = {r["product_id"]: r["total"] for r in
                   engine.sql("SELECT * FROM db.loop_mv").collect()}
            assert got == want, f"divergence after refresh {i}"
            strata = len(_live_delete_strata(
                engine.load_table("db.loop_mv_storage")))
            compacted = compacted or strata == 0
            max_strata = max(max_strata, strata)
        # the chain was bounded by the threshold, and at least one
        # compaction actually ran (strata dropped back to zero)
        assert max_strata < _STORAGE_COMPACT_DELETE_STRATA, max_strata
        assert compacted


def test_mv_null_group_key_keeps_history(engine, monkeypatch):
    """A NULL group key merges with its stored row: the merge join
    matches it null-safely, and the copy-on-write merge takes a present
    side's key by a presence marker (NULL is a legal key), or the group
    restarts from the delta alone. A sum over NULL values only stays
    NULL through the merge, in a stored group and in a brand-new one."""
    engine.sql("CREATE TABLE db.nk (k STRING, v BIGINT)")
    engine.sql("INSERT INTO db.nk VALUES ('a', 1), (NULL, 10), ('b', NULL)")
    mv_sql = "SELECT k, count(*) AS n, sum(v) AS s FROM db.nk GROUP BY k"
    engine.sql(f"CREATE MATERIALIZED VIEW db.nk_mv AS {mv_sql}")
    assert engine.refresh_materialized_view("db.nk_mv") == FULL
    engine.sql("INSERT INTO db.nk VALUES "
               "('a', 2), (NULL, 20), ('b', NULL), ('c', NULL)")
    _forbid_spark_writer(monkeypatch)
    assert engine.refresh_materialized_view("db.nk_mv") == INCR_AGG
    _assert_copied_on_write(engine.load_table("db.nk_mv_storage"))
    got = {tuple(r) for r in engine.sql("SELECT * FROM db.nk_mv").collect()}
    assert got == {tuple(r) for r in engine.sql(mv_sql).collect()}
    assert got == {("a", 2, 3), (None, 2, 30), ("b", 2, None),
                   ("c", 1, None)}


def test_global_aggregate_mv_stays_one_row(engine):
    """An aggregate without GROUP BY has no keys to retract by: the
    merged row replaces the stored one (copy-on-write, whatever the
    threshold) instead of piling up beside it."""
    mv_sql = "SELECT count(*) AS n, sum(quantity) AS q FROM db.orders"
    engine.sql(f"CREATE MATERIALIZED VIEW db.g_mv AS {mv_sql}")
    engine.refresh_materialized_view("db.g_mv")
    engine.sql("INSERT INTO db.orders VALUES (7,1,3,DATE '2020-01-03',4)")
    assert engine.refresh_materialized_view("db.g_mv") == INCR_AGG
    _assert_copied_on_write(engine.load_table("db.g_mv_storage"))
    engine.sql("DELETE FROM db.orders WHERE id = 1")
    with broadcast_threshold(engine.spark, "-1"):
        assert engine.refresh_materialized_view("db.g_mv") == CHANGELOG_AGG
    _assert_copied_on_write(engine.load_table("db.g_mv_storage"))
    got = [tuple(r) for r in engine.sql("SELECT * FROM db.g_mv").collect()]
    assert got == [tuple(r) for r in engine.sql(mv_sql).collect()]
    assert got == [(6, 14)]


def test_mv_refresh_owns_its_lifetimes(engine, spark):
    """A small-delta incremental refresh commits one data file and one
    equality-delete file, and leaves no cached relation, no persisted
    RDD and no changed session conf behind."""
    # merge-on-read shape: with the broadcast threshold off no storage
    # scan is provably small, so the refresh never copies on write
    with broadcast_threshold(engine.spark, "-1"):
        engine.sql("CREATE MATERIALIZED VIEW db.own_mv AS "
                   "SELECT product_id, count(*) AS n, sum(quantity) AS q "
                   "FROM db.orders GROUP BY product_id")
        engine.refresh_materialized_view("db.own_mv")
        engine.sql("INSERT INTO db.orders VALUES "
                   "(7,1,3,DATE '2020-01-03',1),(8,2,1,DATE '2020-01-03',2),"
                   "(9,2,4,DATE '2020-01-03',5)")
        cache = spark._jsparkSession.sharedState().cacheManager()
        jsc = spark.sparkContext._jsc.sc()
        confs, cached = dict(spark.conf.getAll), cache.numCachedEntries()
        stored = {i.id() for i in jsc.getRDDStorageInfo()}
        assert engine.refresh_materialized_view("db.own_mv") == INCR_AGG
        assert dict(spark.conf.getAll) == confs
        assert cache.numCachedEntries() == cached
        assert {i.id() for i in jsc.getRDDStorageInfo()} <= stored
        snap = engine.load_table("db.own_mv_storage") \
            .metadata.current_snapshot()
        added = [e.data_file.content for entries in read_manifests(
            [m.manifest_path for m in read_manifest_list(snap.manifest_list)])
            for e in entries
            if e.status == STATUS_ADDED and e.snapshot_id == snap.snapshot_id]
        assert sorted(added) == [CONTENT_DATA, CONTENT_EQUALITY_DELETES]


def test_mor_scan_tags_are_local_relations(engine):
    """With several delete strata the merge-on-read scan tags each data
    file with its sequence number through a driver-built relation; it
    must be a JVM LocalRelation, not a LogicalRDD whose every use
    schedules a parallelize stage."""
    # merge-on-read shape: with the broadcast threshold off no storage
    # scan is provably small, so the refresh never copies on write
    with broadcast_threshold(engine.spark, "-1"):
        engine.sql("CREATE MATERIALIZED VIEW db.mor_mv AS "
                   "SELECT sum(quantity) AS total, product_id FROM db.orders "
                   "GROUP BY product_id")
        engine.refresh_materialized_view("db.mor_mv")
        for i in range(7, 10):
            engine.sql(f"INSERT INTO db.orders VALUES "
                       f"({i},1,{i % 2 + 1},DATE '2020-03-01',1)")
            assert engine.refresh_materialized_view("db.mor_mv") == INCR_AGG
        storage = engine.load_table("db.mor_mv_storage")
        assert len(_live_delete_strata(storage)) == 3
        plan = storage.scan(engine.spark)._jdf.queryExecution() \
            .analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan



def _forbid_spark_writer(monkeypatch):
    """Fail any write that reaches Spark's writer: every file must come
    from the driver-side write tier."""
    from iceberg_rust_archive_spark.sources import write as write_mod

    def spark_writer(*a, **k):
        raise AssertionError("write reached Spark's writer")
    monkeypatch.setattr(write_mod, "_write_spark", spark_writer)


def _assert_copied_on_write(storage):
    """The current snapshot replaced the storage with at most one data
    file and left no delete file and no delete manifest."""
    snap = storage.metadata.current_snapshot()
    mlist = read_manifest_list(snap.manifest_list)
    assert not any(m.content == 1 for m in mlist), "delete manifest"
    added = [e.data_file.content for entries in read_manifests(
        [m.manifest_path for m in mlist]) for e in entries
        if e.status == STATUS_ADDED and e.snapshot_id == snap.snapshot_id]
    assert added in ([], [CONTENT_DATA]), added
    assert snap.summary["operation"] == "replace"
    assert snap.summary["total-delete-files"] == "0"


def test_small_mv_refresh_copies_on_write(engine, monkeypatch):
    """A keyed aggregate MV whose storage is provably small refreshes
    copy-on-write: over several appends each refresh commits exactly
    one data file and no delete file, nothing reaches Spark's writer,
    and the MV equals a full recompute."""
    mv_sql = ("SELECT product_id, count(*) AS n, sum(quantity) AS q "
              "FROM db.orders GROUP BY product_id")
    engine.sql(f"CREATE MATERIALIZED VIEW db.cow_mv AS {mv_sql}")
    engine.refresh_materialized_view("db.cow_mv")
    _forbid_spark_writer(monkeypatch)
    for i in range(7, 12):
        engine.sql(f"INSERT INTO db.orders VALUES "
                   f"({i},1,{i % 5 + 1},DATE '2020-03-01',{i})")
        assert engine.refresh_materialized_view("db.cow_mv") == INCR_AGG
        storage = engine.load_table("db.cow_mv_storage")
        _assert_copied_on_write(storage)
        assert storage.metadata.current_snapshot() \
            .summary["total-data-files"] == "1"
        got = {tuple(r) for r in
               engine.sql("SELECT * FROM db.cow_mv").collect()}
        assert got == {tuple(r) for r in engine.sql(mv_sql).collect()}


def test_refresh_logs_its_merge_choice(engine, caplog):
    """The refresh logs its merge choice at DEBUG: copy-on-write for a
    small storage table; with a threshold below the storage size, the
    merge-on-read path — one data and one equality-delete file, a
    checkpointed merge and Spark's writer."""
    import logging
    caplog.set_level(logging.DEBUG, logger="iceberg_rust_archive_spark")
    engine.sql("CREATE MATERIALIZED VIEW db.log_mv AS "
               "SELECT product_id, count(*) AS n FROM db.orders "
               "GROUP BY product_id")
    engine.refresh_materialized_view("db.log_mv")

    def refresh(i):
        engine.sql(f"INSERT INTO db.orders VALUES "
                   f"({i},1,3,DATE '2020-01-03',1)")
        caplog.clear()
        assert engine.refresh_materialized_view("db.log_mv") == INCR_AGG
        return " | ".join(r.getMessage() for r in caplog.records)

    log = refresh(7)
    assert "copy-on-write merge" in log, log
    assert "materialized: local relation" in log, log
    assert "write: driver tier" in log, log
    with broadcast_threshold(engine.spark, "1"):
        log = refresh(8)
    assert "merge-on-read merge" in log, log
    assert "materialized: checkpoint" in log, log
    assert "write: Spark's writer" in log, log
    snap = engine.load_table("db.log_mv_storage") \
        .metadata.current_snapshot()
    assert snap.summary["total-delete-files"] == "1"


def test_join_aggregate_mv(engine):
    """delta_queries/mod.rs:470-892: aggregate over join, incremental after
    inserts into ONE side, then into BOTH sides."""
    engine.sql("CREATE TABLE db.lineitem (orderkey BIGINT, qty DOUBLE, "
               "status STRING)")
    engine.sql("INSERT INTO db.lineitem VALUES (1, 2.0, 'x'), (2, 3.0, 'x')")
    engine.sql("CREATE TABLE db.heads (orderkey BIGINT, st STRING)")
    engine.sql("INSERT INTO db.heads VALUES (1, 'O'), (2, 'F')")
    engine.sql("CREATE MATERIALIZED VIEW db.jmv AS "
               "SELECT sum(l.qty) AS total, o.st FROM db.lineitem l "
               "JOIN db.heads o ON l.orderkey = o.orderkey GROUP BY o.st")
    engine.refresh_materialized_view("db.jmv")
    got = {r["st"]: r["total"]
           for r in engine.sql("SELECT * FROM db.jmv").collect()}
    assert got == {"O": 2.0, "F": 3.0}

    # insert into lineitem only
    engine.sql("INSERT INTO db.lineitem VALUES (1, 5.0, 'y')")
    assert engine.refresh_materialized_view("db.jmv") == INCR_AGG
    got = {r["st"]: r["total"]
           for r in engine.sql("SELECT * FROM db.jmv").collect()}
    assert got == {"O": 7.0, "F": 3.0}

    # insert into BOTH sides: delta must count δL⋈O_new ∪ L_old⋈δO exactly
    engine.sql("INSERT INTO db.heads VALUES (3, 'O')")
    engine.sql("INSERT INTO db.lineitem VALUES (3, 10.0, 'z'), (2, 1.0, 'w')")
    assert engine.refresh_materialized_view("db.jmv") == INCR_AGG
    got = {r["st"]: r["total"]
           for r in engine.sql("SELECT * FROM db.jmv").collect()}
    assert got == {"O": 17.0, "F": 4.0}


def test_case_aggregate_mv(engine):
    """delta_queries/mod.rs:893-1198: CASE WHEN inside an incremental sum."""
    engine.sql("CREATE TABLE db.ords (okey BIGINT, pri STRING, st STRING)")
    engine.sql("INSERT INTO db.ords VALUES (1,'1-URGENT','O'),"
               "(2,'5-LOW','O'),(3,'2-HIGH','F')")
    engine.sql("CREATE MATERIALIZED VIEW db.cmv AS "
               "SELECT sum(CASE WHEN pri IN ('1-URGENT','2-HIGH') THEN 1 "
               "ELSE 0 END) AS high_count, st FROM db.ords GROUP BY st")
    engine.refresh_materialized_view("db.cmv")
    got = {r["st"]: r["high_count"]
           for r in engine.sql("SELECT * FROM db.cmv").collect()}
    assert got == {"O": 1, "F": 1}
    engine.sql("INSERT INTO db.ords VALUES (4,'2-HIGH','O'),(5,'5-LOW','F')")
    assert engine.refresh_materialized_view("db.cmv") == INCR_AGG
    got = {r["st"]: r["high_count"]
           for r in engine.sql("SELECT * FROM db.cmv").collect()}
    assert got == {"O": 2, "F": 1}


def test_plain_view_replay(engine):
    engine.sql("CREATE VIEW db.v AS SELECT product_id, quantity "
               "FROM db.orders WHERE quantity >= 2")
    rows = engine.sql("SELECT sum(quantity) AS s FROM db.v").collect()
    assert rows[0][0] == 8  # rows (3,3),(5,2),(6,3)


def test_min_max_aggregate_mv(engine, monkeypatch):
    engine.sql("CREATE MATERIALIZED VIEW db.mm AS "
               "SELECT min(quantity) AS mn, max(quantity) AS mx, product_id "
               "FROM db.orders GROUP BY product_id")
    engine.refresh_materialized_view("db.mm")
    engine.sql("INSERT INTO db.orders VALUES "
               "(10,9,1,DATE '2020-03-01',9),(11,9,3,DATE '2020-03-01',0)")
    _forbid_spark_writer(monkeypatch)
    assert engine.refresh_materialized_view("db.mm") == INCR_AGG
    _assert_copied_on_write(engine.load_table("db.mm_storage"))
    got = {r["product_id"]: (r["mn"], r["mx"])
           for r in engine.sql("SELECT * FROM db.mm").collect()}
    assert got == {1: (1, 9), 2: (1, 1), 3: (0, 3)}


def test_tpch_q12_shaped_mv(engine):
    """delta_queries/mod.rs:1199-1517: the TPC-H q12-shaped MV — aggregate
    with CASE over a join of month-partitioned lineitem/orders, seeded,
    refreshed, then BOTH sources extended (the lineitem_2/orders_2 CSV
    slices in the reference) and incrementally re-refreshed."""
    engine.sql("CREATE TABLE db.l12 (l_orderkey BIGINT, l_shipmode STRING, "
               "l_shipdate DATE, l_commitdate DATE, l_receiptdate DATE) "
               "PARTITIONED BY (month(l_shipdate))")
    engine.sql("CREATE TABLE db.o12 (o_orderkey BIGINT, "
               "o_orderpriority STRING, o_orderdate DATE) "
               "PARTITIONED BY (month(o_orderdate))")
    engine.sql("INSERT INTO db.l12 VALUES "
               "(1,'MAIL',DATE '1994-01-10',DATE '1994-01-15',DATE '1994-01-20'),"
               "(2,'SHIP',DATE '1994-02-10',DATE '1994-02-20',DATE '1994-02-15'),"
               "(3,'MAIL',DATE '1994-03-05',DATE '1994-03-01',DATE '1994-03-10'),"
               "(4,'RAIL',DATE '1994-04-01',DATE '1994-04-10',DATE '1994-04-05')")
    engine.sql("INSERT INTO db.o12 VALUES "
               "(1,'1-URGENT',DATE '1994-01-01'),"
               "(2,'5-LOW',DATE '1994-02-01'),"
               "(3,'2-HIGH',DATE '1994-03-01'),"
               "(4,'3-MEDIUM',DATE '1994-03-20')")

    q12 = ("SELECT l.l_shipmode, "
           "sum(CASE WHEN o.o_orderpriority = '1-URGENT' "
           "OR o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) "
           "AS high_line_count, "
           "sum(CASE WHEN o.o_orderpriority <> '1-URGENT' "
           "AND o.o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) "
           "AS low_line_count "
           "FROM db.l12 l JOIN db.o12 o ON l.l_orderkey = o.o_orderkey "
           "GROUP BY l.l_shipmode")
    engine.sql(f"CREATE MATERIALIZED VIEW db.q12mv AS {q12}")
    engine.refresh_materialized_view("db.q12mv")

    def mv_rows():
        return {r["l_shipmode"]: (r["high_line_count"], r["low_line_count"])
                for r in engine.sql("SELECT * FROM db.q12mv").collect()}

    assert mv_rows() == {"MAIL": (2, 0), "SHIP": (0, 1), "RAIL": (0, 1)}

    # the reference's *_2 incremental slices: new rows in BOTH sources,
    # including a new shipmode group and more rows for existing groups
    engine.sql("INSERT INTO db.l12 VALUES "
               "(5,'AIR',DATE '1994-05-02',DATE '1994-05-10',DATE '1994-05-06'),"
               "(6,'MAIL',DATE '1994-06-01',DATE '1994-06-05',DATE '1994-06-03')")
    engine.sql("INSERT INTO db.o12 VALUES "
               "(5,'2-HIGH',DATE '1994-04-25'),"
               "(6,'4-NOT SPECIFIED',DATE '1994-05-20')")
    assert engine.refresh_materialized_view("db.q12mv") == INCR_AGG

    assert mv_rows() == {"MAIL": (2, 1), "SHIP": (0, 1), "RAIL": (0, 1),
                         "AIR": (1, 0)}
    # MV must equal a from-scratch recompute of its defining query
    direct = {r["l_shipmode"]: (r["high_line_count"], r["low_line_count"])
              for r in engine.sql(q12).collect()}
    assert mv_rows() == direct


def test_sql_delete_from(engine):
    """DELETE FROM via the SQL shim → equality-delete merge-on-read."""
    assert _sums(engine, "db.orders") == {1: 7, 2: 1, 3: 3}
    engine.sql("DELETE FROM db.orders WHERE customer_id = 1")
    # rows (1,1,1,·,1), (4,1,2,·,1), (5,1,1,·,2) removed
    assert _sums(engine, "db.orders") == {1: 4, 3: 3}
    engine.sql("DELETE FROM db.orders WHERE product_id = 3 AND quantity > 2")
    assert _sums(engine, "db.orders") == {1: 4}


def test_join_view_mv_incremental_append(engine):
    """delta_queries/mod.rs:32-469: a plain JOIN view (no aggregate) —
    incremental refresh must APPEND exactly the delta join terms
    (δA⋈B ∪ A'⋈δB), not recompute the world."""
    engine.sql("CREATE TABLE db.jl (orderkey BIGINT, qty DOUBLE)")
    engine.sql("CREATE TABLE db.jo (orderkey BIGINT, st STRING)")
    engine.sql("INSERT INTO db.jl VALUES (1, 2.0), (2, 3.0)")
    engine.sql("INSERT INTO db.jo VALUES (1, 'O'), (2, 'F'), (3, 'O')")
    engine.sql("CREATE MATERIALIZED VIEW db.jv AS "
               "SELECT l.orderkey AS okey, l.qty AS qty, o.st AS st "
               "FROM db.jl l JOIN db.jo o ON l.orderkey = o.orderkey")
    engine.refresh_materialized_view("db.jv")

    def rows():
        return sorted(tuple(r) for r in
                      engine.sql("SELECT okey, qty, st FROM db.jv").collect())

    assert rows() == [(1, 2.0, "O"), (2, 3.0, "F")]

    # grow BOTH sides; new lineitem 3 joins the PRE-EXISTING order 3,
    # and new order 4 joins the NEW lineitem 4 — both delta terms fire
    engine.sql("INSERT INTO db.jl VALUES (3, 5.0), (4, 7.0)")
    engine.sql("INSERT INTO db.jo VALUES (4, 'P')")
    from iceberg_rust_archive_spark.plans.mv import INCR_APPEND
    assert engine.refresh_materialized_view("db.jv") == INCR_APPEND
    assert rows() == [(1, 2.0, "O"), (2, 3.0, "F"), (3, 5.0, "O"),
                      (4, 7.0, "P")]
    # idempotent: refreshing again with no changes is a no-op
    assert engine.refresh_materialized_view("db.jv") == "Fresh"
    assert rows() == [(1, 2.0, "O"), (2, 3.0, "F"), (3, 5.0, "O"),
                      (4, 7.0, "P")]


def test_mv_full_refresh_after_source_delete(engine):
    """A source-table DELETE invalidates the append-only delta rules
    (mod.rs:291-358). The reference recomputes fully; here a sum-only
    single-source MV (no COUNT(*) multiplicity) falls to the scoped
    group recompute — still exact, touched groups only."""
    from iceberg_rust_archive_spark.plans.mv import CHANGELOG_SCOPED

    engine.sql("CREATE MATERIALIZED VIEW db.dmv AS "
               "SELECT product_id, sum(quantity) AS q FROM db.orders "
               "GROUP BY product_id")
    engine.refresh_materialized_view("db.dmv")
    got = {r[0]: r[1] for r in
           engine.sql("SELECT product_id, q FROM db.dmv").collect()}
    assert got == {1: 7, 2: 1, 3: 3}

    engine.sql("DELETE FROM db.orders WHERE customer_id = 1")
    assert engine.refresh_materialized_view("db.dmv") == CHANGELOG_SCOPED
    got = {r[0]: r[1] for r in
           engine.sql("SELECT product_id, q FROM db.dmv").collect()}
    assert got == {1: 4, 3: 3}

    # append-only changes afterwards go back to incremental
    engine.sql("INSERT INTO db.orders VALUES "
               "(7, 2, 1, DATE '2020-01-03', 2)")
    assert engine.refresh_materialized_view("db.dmv") == INCR_AGG
    got = {r[0]: r[1] for r in
           engine.sql("SELECT product_id, q FROM db.dmv").collect()}
    assert got == {1: 6, 3: 3}


def test_mv_changelog_refresh_survives_source_deletes(engine, spark,
                                                      monkeypatch):
    """A sum/count aggregate MV with COUNT(*) stays INCREMENTAL through
    source DELETEs: the changelog's signed weights retract the deleted
    rows' contributions, fully-deleted groups disappear (dropped from
    the copy-on-write result), and the result equals a from-scratch
    recompute — where the reference must fall back to FullOverwrite."""
    from iceberg_rust_archive_spark.plans.mv import CHANGELOG_AGG

    engine.sql("CREATE MATERIALIZED VIEW db.clv AS "
               "SELECT product_id, count(*) AS n, sum(quantity) AS q "
               "FROM db.orders GROUP BY product_id")
    assert engine.refresh_materialized_view("db.clv") == FULL

    def mv_rows():
        return {r.product_id: (r.n, r.q) for r in
                engine.sql("SELECT product_id, n, q FROM db.clv")
                .collect()}
    assert mv_rows() == {1: (4, 7), 2: (1, 1), 3: (1, 3)}

    # delete one row of product 1 AND product 2's only row; also
    # append a new product-4 row — a mixed delete+append interval
    engine.sql("DELETE FROM db.orders WHERE id = 3")      # p1, qty 3
    engine.sql("DELETE FROM db.orders WHERE product_id = 2")
    engine.sql("INSERT INTO db.orders VALUES "
               "(7, 2, 4, DATE '2020-03-03', 5)")

    _forbid_spark_writer(monkeypatch)
    assert engine.refresh_materialized_view("db.clv") == CHANGELOG_AGG
    assert mv_rows() == {1: (3, 4), 3: (1, 3), 4: (1, 5)}
    _assert_copied_on_write(engine.load_table("db.clv_storage"))

    # UPDATE = delete+insert in one commit; changelog handles it too
    engine.sql("UPDATE db.orders SET quantity = quantity + 10 "
               "WHERE product_id = 3")
    assert engine.refresh_materialized_view("db.clv") == CHANGELOG_AGG
    assert mv_rows() == {1: (3, 4), 3: (1, 13), 4: (1, 5)}

    # equivalence with a full recompute of the same SQL
    want = {r.product_id: (r.n, r.q) for r in engine.sql(
        "SELECT product_id, count(*) AS n, sum(quantity) AS q "
        "FROM db.orders GROUP BY product_id").collect()}
    assert mv_rows() == want

    # and append-only intervals still use the cheaper INCR_AGG path
    engine.sql("INSERT INTO db.orders VALUES "
               "(8, 1, 1, DATE '2020-03-04', 1)")
    assert engine.refresh_materialized_view("db.clv") == INCR_AGG
    assert mv_rows()[1] == (4, 5)


def test_mv_having_classified_full_and_correct(engine):
    """HAVING filters the TOTAL aggregate, so incremental delta passes
    would be wrong (a group whose delta fails the predicate but whose
    merged total passes would be dropped) — classified FULL, and the
    refreshed contents equal the direct query."""
    from iceberg_rust_archive_spark.plans.sqlparse import parse_select

    sql = ("SELECT product_id, count(*) AS n, sum(quantity) AS q "
           "FROM db.orders GROUP BY product_id HAVING count(*) > 1")
    p = parse_select(sql)
    assert p.has_having and p.group_by == ["product_id"]
    assert classify(p) == FULL

    engine.sql(f"CREATE MATERIALIZED VIEW db.hv AS {sql}")
    engine.refresh_materialized_view("db.hv")
    engine.sql("INSERT INTO db.orders VALUES "
               "(9, 2, 2, DATE '2020-04-01', 4)")
    assert engine.refresh_materialized_view("db.hv") == FULL
    got = {r.product_id: (r.n, r.q) for r in
           engine.sql("SELECT * FROM db.hv").collect()}
    want = {r.product_id: (r.n, r.q) for r in engine.sql(
        "SELECT product_id, count(*) AS n, sum(quantity) AS q "
        "FROM db.orders GROUP BY product_id HAVING count(*) > 1"
    ).collect()}
    assert got == want and 2 in got  # product 2 crossed the bar


def test_mv_classify_rejects_limit_and_distinct_aggs():
    """LIMIT bounds the total result — classifies FULL. DISTINCT
    aggregates are not additive across deltas, so they can never be
    INCR_AGG; single-source keyed ones take the touched-group scoped
    recompute instead (r6), and everything else stays FULL."""
    from iceberg_rust_archive_spark.plans.mv import DISTINCT_SCOPED

    assert classify(parse_select(
        "SELECT a, b FROM t LIMIT 10")) == FULL
    assert classify(parse_select(
        "SELECT k, sum(x) AS s FROM t GROUP BY k LIMIT 5")) == FULL
    assert classify(parse_select(
        "SELECT k, count(DISTINCT x) AS n FROM t GROUP BY k")) \
        == DISTINCT_SCOPED
    assert classify(parse_select(
        "SELECT k, sum(DISTINCT x) AS s FROM t GROUP BY k")) \
        == DISTINCT_SCOPED
    # keyless / multi-source DISTINCT aggregates have no scoped path
    assert classify(parse_select(
        "SELECT count(DISTINCT x) AS n FROM t")) == FULL
    # plain additive aggregates keep their incremental classification
    assert classify(parse_select(
        "SELECT k, count(*) AS n FROM t GROUP BY k")) == INCR_AGG


def test_mv_classify_expression_wrapped_aggregates_full():
    """sum(x)+1 / round(sum(x),2) are not merge-able named aggregates —
    classify FULL. Union TEXT also classifies FULL at this level: the
    refresh driver splits top-level UNION ALL into branches BEFORE
    classification (test_union_mv_incremental), so classify() only ever
    sees a whole union as the generic fallback. Expression GROUP BY
    keys stay incremental (the delta SQL re-derives them)."""
    assert classify(parse_select(
        "SELECT k, sum(x) + 1 AS y FROM t GROUP BY k")) == FULL
    assert classify(parse_select(
        "SELECT k, round(sum(x), 2) AS y FROM t GROUP BY k")) == FULL
    assert classify(parse_select(
        "SELECT a FROM t UNION ALL SELECT a FROM u")) == FULL
    assert classify(parse_select(
        "SELECT upper(k) AS ku, sum(x) AS s FROM t "
        "GROUP BY upper(k)")) == INCR_AGG


def test_union_mv_incremental(engine):
    """δ(∪ᵢ Bᵢ) = ∪ᵢ δBᵢ (transform.rs:85-100): a UNION ALL MV over two
    sources refreshes incrementally — append to one source runs ONE
    branch-bound delta pass, the commit appends exactly the delta rows
    (proof the pass scanned only the appended snapshot range: a full
    branch re-scan would re-emit the pre-existing rows and break the
    multiset equality below), and the result equals a full recompute."""
    engine.sql("CREATE TABLE db.returns (id BIGINT NOT NULL, "
               "customer_id BIGINT, product_id BIGINT, date DATE, "
               "quantity INT)")
    engine.sql("INSERT INTO db.returns VALUES "
               "(100,1,1,DATE '2020-01-05',5),(101,2,2,DATE '2020-01-06',1)")
    union_sql = ("SELECT product_id, quantity FROM db.orders "
                 "WHERE quantity > 0 "
                 "UNION ALL "
                 "SELECT product_id, quantity FROM db.returns")
    engine.sql(f"CREATE MATERIALIZED VIEW db.umv AS {union_sql}")

    def multiset(q):
        return sorted((r[0], r[1]) for r in engine.sql(q).collect())

    assert engine.refresh_materialized_view("db.umv") == FULL  # bootstrap
    assert multiset("SELECT * FROM db.umv") == multiset(union_sql)

    # append to ONE source → incremental, and the storage commit holds
    # exactly the 1 delta row (not a re-emission of either branch)
    engine.sql("INSERT INTO db.returns VALUES "
               "(102,3,3,DATE '2020-01-07',4)")
    assert engine.refresh_materialized_view("db.umv") == INCR_APPEND
    assert multiset("SELECT * FROM db.umv") == multiset(union_sql)
    storage = engine.load_table("db.umv_storage")
    summ = storage.metadata.current_snapshot().summary
    assert summ["operation"] == "append"
    assert summ["added-records"] == "1"

    # append to BOTH sources → two branch passes, one appended commit
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,3,DATE '2020-01-03',2)")
    engine.sql("INSERT INTO db.returns VALUES "
               "(103,1,1,DATE '2020-01-08',7)")
    assert engine.refresh_materialized_view("db.umv") == INCR_APPEND
    assert multiset("SELECT * FROM db.umv") == multiset(union_sql)
    summ = engine.load_table("db.umv_storage") \
        .metadata.current_snapshot().summary
    assert summ["added-records"] == "2"

    # fresh sources → no-op; a branch-filter respecting delta: a row the
    # WHERE excludes must not appear after refresh
    assert engine.refresh_materialized_view("db.umv") == "Fresh"
    engine.sql("INSERT INTO db.orders VALUES "
               "(8,2,1,DATE '2020-01-09',0)")  # quantity > 0 filters it
    assert engine.refresh_materialized_view("db.umv") == INCR_APPEND
    assert multiset("SELECT * FROM db.umv") == multiset(union_sql)

    # a DELETE in a source invalidates the append-only expansion → the
    # generic path recomputes (always-correct fallback), result still
    # matches
    engine.sql("DELETE FROM db.returns WHERE id = 100")
    assert engine.refresh_materialized_view("db.umv") == FULL
    assert multiset("SELECT * FROM db.umv") == multiset(union_sql)


def test_union_mv_same_table_both_branches(engine):
    """The same source table may feed several branches with different
    projections/filters — each branch takes its own delta pass."""
    union_sql = ("SELECT product_id, quantity FROM db.orders "
                 "WHERE product_id = 1 "
                 "UNION ALL "
                 "SELECT customer_id AS product_id, quantity "
                 "FROM db.orders WHERE product_id <> 1")
    engine.sql(f"CREATE MATERIALIZED VIEW db.umv2 AS {union_sql}")

    def multiset(q):
        return sorted((r[0], r[1]) for r in engine.sql(q).collect())

    engine.refresh_materialized_view("db.umv2")
    assert multiset("SELECT * FROM db.umv2") == multiset(union_sql)
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,9,1,DATE '2020-01-03',2),(8,9,2,DATE '2020-01-03',3)")
    assert engine.refresh_materialized_view("db.umv2") == INCR_APPEND
    assert multiset("SELECT * FROM db.umv2") == multiset(union_sql)
    # one row matched branch 1, one matched branch 2
    summ = engine.load_table("db.umv2_storage") \
        .metadata.current_snapshot().summary
    assert summ["added-records"] == "2"


def test_union_subquery_aggregate_mv_incremental(engine):
    """Aggregate over a UNION ALL subquery — the Union distribution
    composed with the aggregate delta rule (transform.rs:107-197 ∘
    :85-100): δ passes run the OUTER aggregate over ONE branch's delta
    each, re-merged by the existing IncrementalAggregate machinery."""
    from iceberg_rust_archive_spark.plans.mv import INCR_AGG

    engine.sql("CREATE TABLE db.returns (id BIGINT NOT NULL, "
               "customer_id BIGINT, product_id BIGINT, date DATE, "
               "quantity INT)")
    engine.sql("INSERT INTO db.returns VALUES "
               "(100,1,1,DATE '2020-01-05',5),(101,2,2,DATE '2020-01-06',1)")
    inner = ("SELECT product_id, quantity FROM db.orders "
             "WHERE quantity > 0 "
             "UNION ALL "
             "SELECT product_id, quantity FROM db.returns")
    mv_sql = (f"SELECT product_id, count(*) AS n, sum(quantity) AS q "
              f"FROM ( {inner} ) u GROUP BY product_id")
    engine.sql(f"CREATE MATERIALIZED VIEW db.uamv AS {mv_sql}")

    def want():
        return {r[0]: (r[1], r[2]) for r in engine.sql(mv_sql).collect()}

    def got():
        return {r["product_id"]: (r["n"], r["q"]) for r in
                engine.sql("SELECT * FROM db.uamv").collect()}

    assert engine.refresh_materialized_view("db.uamv") == FULL
    assert got() == want()

    # one source grows → one branch pass, aggregate-merged
    engine.sql("INSERT INTO db.returns VALUES "
               "(102,3,4,DATE '2020-01-07',4)")  # product 4 = NEW group
    assert engine.refresh_materialized_view("db.uamv") == INCR_AGG
    assert got() == want()

    # both sources grow → two branch passes
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,3,DATE '2020-01-03',2)")
    engine.sql("INSERT INTO db.returns VALUES "
               "(103,1,1,DATE '2020-01-08',7)")
    assert engine.refresh_materialized_view("db.uamv") == INCR_AGG
    assert got() == want()
    assert engine.refresh_materialized_view("db.uamv") == "Fresh"

    # a source DELETE retracts through the union: signed changelog
    # weights ride the appended __w item through the branch projection
    # (the NegDelta analog, transform.rs:287-297) — no full recompute
    from iceberg_rust_archive_spark.plans.mv import CHANGELOG_AGG
    engine.sql("DELETE FROM db.returns WHERE id = 100")
    assert engine.refresh_materialized_view("db.uamv") == CHANGELOG_AGG
    assert got() == want()

    # deleting a group's LAST row retracts the group entirely
    engine.sql("DELETE FROM db.returns WHERE product_id = 4")
    assert engine.refresh_materialized_view("db.uamv") == CHANGELOG_AGG
    assert got() == want()
    assert 4 not in got()

    # deletes from BOTH sources in one interval still merge exactly
    engine.sql("DELETE FROM db.orders WHERE id = 7")
    engine.sql("DELETE FROM db.returns WHERE id = 103")
    assert engine.refresh_materialized_view("db.uamv") == CHANGELOG_AGG
    assert got() == want()


def test_union_subquery_projection_mv_incremental(engine):
    """Outer σ/π over a UNION ALL subquery stays IncrementalAppend."""
    inner = ("SELECT product_id, quantity FROM db.orders "
             "WHERE product_id = 1 "
             "UNION ALL "
             "SELECT customer_id AS product_id, quantity "
             "FROM db.orders WHERE product_id <> 1")
    mv_sql = (f"SELECT product_id, quantity * 2 AS q2 "
              f"FROM ( {inner} ) u WHERE quantity > 1")
    engine.sql(f"CREATE MATERIALIZED VIEW db.upmv AS {mv_sql}")

    def multiset(q):
        return sorted((r[0], r[1]) for r in engine.sql(q).collect())

    engine.refresh_materialized_view("db.upmv")
    assert multiset("SELECT * FROM db.upmv") == multiset(mv_sql)
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,9,1,DATE '2020-01-03',2),(8,9,2,DATE '2020-01-03',3),"
               "(9,9,2,DATE '2020-01-03',1)")  # third row filtered out
    assert engine.refresh_materialized_view("db.upmv") == INCR_APPEND
    assert multiset("SELECT * FROM db.upmv") == multiset(mv_sql)
    summ = engine.load_table("db.upmv_storage") \
        .metadata.current_snapshot().summary
    assert summ["operation"] == "append"
    assert summ["added-records"] == "2"


def test_union_subquery_join_mv_incremental(engine):
    """δ through JOIN-over-UNION (the reference's transform_down
    propagates PosDelta through Join∘Union, delta_queries/
    transform.rs:381-479): a relation JOINed AFTER the union subquery
    no longer forces FULL — the union acts as relation 0 of the outer
    triangular binding (branch δ-passes bind the dim to its OLD
    snapshot; a stale dim gets its own pass over the full union at
    NEW with the dim bound to its δ scan)."""
    engine.sql("CREATE TABLE db.rets (id BIGINT NOT NULL, "
               "product_id BIGINT, quantity INT)")
    engine.sql("INSERT INTO db.rets VALUES (100,2,5),(101,3,1)")
    engine.sql("CREATE TABLE db.dimp (product_id BIGINT NOT NULL, "
               "pname VARCHAR)")
    engine.sql("INSERT INTO db.dimp VALUES (1,'alpha'),(2,'beta')")
    inner = ("SELECT product_id, quantity FROM db.orders "
             "WHERE quantity > 0 "
             "UNION ALL "
             "SELECT product_id, quantity FROM db.rets")
    mv_sql = (f"SELECT u.product_id, d.pname, u.quantity "
              f"FROM ( {inner} ) u "
              f"JOIN db.dimp d ON u.product_id = d.product_id")
    engine.sql(f"CREATE MATERIALIZED VIEW db.ujmv AS {mv_sql}")

    def multiset(q):
        return sorted((r[0], r[1], r[2]) for r in engine.sql(q).collect())

    assert engine.refresh_materialized_view("db.ujmv") == FULL
    assert multiset("SELECT * FROM db.ujmv") == multiset(mv_sql)

    # one union-branch source grows → one branch δ-pass, dim at OLD
    engine.sql("INSERT INTO db.rets VALUES (102,1,7),(103,9,2)")
    assert engine.refresh_materialized_view("db.ujmv") == INCR_APPEND
    assert multiset("SELECT * FROM db.ujmv") == multiset(mv_sql)
    summ = engine.load_table("db.ujmv_storage") \
        .metadata.current_snapshot().summary
    # delta-only: of the two appended rets rows only product 1 joins
    assert summ["operation"] == "append"
    assert summ["added-records"] == "1"

    # the OUTER dim grows: its δ-pass joins the full union at NEW
    # against only the appended dim rows — product 3's fact rows
    # (2 in orders+rets) appear now that the dim row exists
    engine.sql("INSERT INTO db.dimp VALUES (3,'gamma')")
    assert engine.refresh_materialized_view("db.ujmv") == INCR_APPEND
    assert multiset("SELECT * FROM db.ujmv") == multiset(mv_sql)
    summ = engine.load_table("db.ujmv_storage") \
        .metadata.current_snapshot().summary
    assert summ["operation"] == "append"
    assert summ["added-records"] == "2"

    # union sources AND dim grow in one interval → branch passes plus
    # the dim pass, no double counting across the triangle
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,3,DATE '2020-01-03',4)")
    engine.sql("INSERT INTO db.rets VALUES (104,4,6)")
    engine.sql("INSERT INTO db.dimp VALUES (4,'delta'),(9,'iota')")
    assert engine.refresh_materialized_view("db.ujmv") == INCR_APPEND
    assert multiset("SELECT * FROM db.ujmv") == multiset(mv_sql)
    assert engine.refresh_materialized_view("db.ujmv") == "Fresh"

    # a DELETE in any source invalidates the append-only expansion:
    # falls back to FULL and stays exact
    engine.sql("DELETE FROM db.rets WHERE id = 100")
    assert engine.refresh_materialized_view("db.ujmv") == FULL
    assert multiset("SELECT * FROM db.ujmv") == multiset(mv_sql)


def test_union_subquery_join_aggregate_mv_incremental(engine):
    """Aggregate over JOIN-over-UNION: the same triangular passes feed
    the existing IncrementalAggregate merge."""
    engine.sql("CREATE TABLE db.dimp2 (product_id BIGINT NOT NULL, "
               "pname VARCHAR)")
    engine.sql("INSERT INTO db.dimp2 VALUES (1,'alpha'),(2,'beta'),"
               "(3,'gamma')")
    inner = ("SELECT product_id, quantity FROM db.orders "
             "UNION ALL "
             "SELECT product_id, quantity * 2 AS quantity "
             "FROM db.orders WHERE product_id = 2")
    mv_sql = (f"SELECT d.pname, count(*) AS n, sum(u.quantity) AS q "
              f"FROM ( {inner} ) u "
              f"JOIN db.dimp2 d ON u.product_id = d.product_id "
              f"GROUP BY d.pname")
    engine.sql(f"CREATE MATERIALIZED VIEW db.ujamv AS {mv_sql}")

    def want():
        return {r[0]: (r[1], r[2]) for r in engine.sql(mv_sql).collect()}

    def got():
        return {r["pname"]: (r["n"], r["q"]) for r in
                engine.sql("SELECT * FROM db.ujamv").collect()}

    assert engine.refresh_materialized_view("db.ujamv") == FULL
    assert got() == want()
    engine.sql("INSERT INTO db.orders VALUES "
               "(8,2,2,DATE '2020-01-04',5)")   # doubles through branch 2
    assert engine.refresh_materialized_view("db.ujamv") == INCR_AGG
    assert got() == want()
    engine.sql("INSERT INTO db.dimp2 VALUES (9,'iota')")  # no fact rows
    engine.sql("INSERT INTO db.orders VALUES "
               "(9,1,9,DATE '2020-01-04',1)")   # joins the NEW dim row
    assert engine.refresh_materialized_view("db.ujamv") == INCR_AGG
    assert got() == want()
    assert engine.refresh_materialized_view("db.ujamv") == "Fresh"

    # deletes retract through the JOIN-over-union: signed changelog
    # weights in the branch passes (dim at OLD) and, for a dim delete,
    # a weighted pass over the full union at NEW — no full recompute
    from iceberg_rust_archive_spark.plans.mv import CHANGELOG_AGG
    engine.sql("DELETE FROM db.orders WHERE id = 8")
    assert engine.refresh_materialized_view("db.ujamv") == CHANGELOG_AGG
    assert got() == want()
    # deleting a dim row retracts its whole group
    engine.sql("DELETE FROM db.dimp2 WHERE product_id = 9")
    assert engine.refresh_materialized_view("db.ujamv") == CHANGELOG_AGG
    assert got() == want()
    assert "iota" not in got()
    # fact and dim deletes in ONE interval still merge exactly
    engine.sql("DELETE FROM db.orders WHERE id = 1")
    engine.sql("DELETE FROM db.dimp2 WHERE product_id = 3")
    assert engine.refresh_materialized_view("db.ujamv") == CHANGELOG_AGG
    assert got() == want()


def test_union_distinct_mv_stays_full(engine):
    """Bare UNION dedups across branches — δ distribution is unsound
    (an appended row may duplicate one the other branch already
    contributed), so refresh recomputes."""
    union_sql = ("SELECT product_id FROM db.orders "
                 "UNION "
                 "SELECT product_id FROM db.orders WHERE quantity > 1")
    engine.sql(f"CREATE MATERIALIZED VIEW db.udv AS {union_sql}")
    engine.refresh_materialized_view("db.udv")
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,1,DATE '2020-01-03',2)")
    assert engine.refresh_materialized_view("db.udv") == FULL
    got = sorted(r[0] for r in
                 engine.sql("SELECT * FROM db.udv").collect())
    assert got == sorted(r[0] for r in engine.sql(union_sql).collect())


def test_split_union():
    from iceberg_rust_archive_spark.plans.sqlparse import split_union
    assert split_union("SELECT a FROM t") == (["SELECT a FROM t"], None)
    bs, k = split_union(
        "SELECT a FROM t UNION ALL SELECT b FROM u UNION ALL "
        "SELECT c FROM v")
    assert k == "all" and len(bs) == 3 and bs[2] == "SELECT c FROM v"
    _, k2 = split_union("SELECT a FROM t UNION SELECT b FROM u")
    assert k2 == "distinct"
    _, k3 = split_union(
        "SELECT a FROM t UNION ALL SELECT b FROM u UNION SELECT c FROM v")
    assert k3 == "distinct"  # one bare UNION poisons the chain
    # unions inside subqueries/strings don't split the top level
    bs4, k4 = split_union(
        "SELECT a FROM (SELECT a FROM t UNION ALL SELECT a FROM u) x")
    assert k4 is None and len(bs4) == 1
    bs5, k5 = split_union("SELECT 'union all' AS s FROM t")
    assert k5 is None and len(bs5) == 1
    # 'reunion' is not a keyword
    bs6, k6 = split_union("SELECT reunion FROM t")
    assert k6 is None and len(bs6) == 1
    # parenthesized branches peel their enclosing parens
    bs7, k7 = split_union(
        "(SELECT a FROM t) UNION ALL (SELECT b FROM u)")
    assert k7 == "all" and bs7 == ["SELECT a FROM t", "SELECT b FROM u"]


def test_mv_changelog_refresh_join_sources_with_deletes(engine):
    """Multi-source generalization: a JOIN aggregate MV stays
    incremental through DELETEs on either side — weighted changelog
    passes multiply retraction weights through the join (IVM /
    Z-relation algebra) and the merged groups equal a recompute."""
    from iceberg_rust_archive_spark.plans.mv import CHANGELOG_AGG

    engine.sql("CREATE TABLE db.cust (customer_id BIGINT, region STRING)")
    engine.sql("INSERT INTO db.cust VALUES (1,'E'),(2,'W'),(3,'E')")
    sql = ("SELECT c.region, count(*) AS n, sum(o.quantity) AS q "
           "FROM db.orders o JOIN db.cust c "
           "ON o.customer_id = c.customer_id GROUP BY c.region")
    engine.sql(f"CREATE MATERIALIZED VIEW db.jmv AS {sql}")
    engine.refresh_materialized_view("db.jmv")

    def mv_rows():
        return {r.region: (r.n, r.q) for r in
                engine.sql("SELECT * FROM db.jmv").collect()}
    def want():
        return {r.region: (r.n, r.q) for r in engine.sql(sql).collect()}
    assert mv_rows() == want() == {"E": (5, 10), "W": (1, 1)}

    # delete a fact row AND a dim row (kills all of customer 2's join
    # output), append a new fact for a surviving customer
    engine.sql("DELETE FROM db.orders WHERE id = 3")       # c3/E, qty 3
    engine.sql("DELETE FROM db.cust WHERE customer_id = 2")
    engine.sql("INSERT INTO db.orders VALUES "
               "(7, 1, 9, DATE '2020-03-01', 4)")
    assert engine.refresh_materialized_view("db.jmv") == CHANGELOG_AGG
    assert mv_rows() == want()
    assert "W" not in mv_rows()  # region W's only row retracted away

    # deletes on BOTH sides in one interval, plus dim re-insert
    engine.sql("DELETE FROM db.orders WHERE customer_id = 3")
    engine.sql("INSERT INTO db.cust VALUES (2, 'W')")
    assert engine.refresh_materialized_view("db.jmv") == CHANGELOG_AGG
    assert mv_rows() == want()


def test_mv_avg_incremental_via_decomposition(engine):
    """avg(E) MVs persist sum/count pairs and stay incremental —
    through appends (INCR_AGG) and deletes (CHANGELOG_AGG); reads
    re-derive avg, always equal to a direct recompute."""
    from iceberg_rust_archive_spark.plans.mv import CHANGELOG_AGG

    sql = ("SELECT product_id, count(*) AS n, avg(quantity) AS aq "
           "FROM db.orders GROUP BY product_id")
    engine.sql(f"CREATE MATERIALIZED VIEW db.avgmv AS {sql}")
    assert engine.refresh_materialized_view("db.avgmv") == FULL

    def mv_rows():
        return {r.product_id: (r.n, r.aq) for r in
                engine.sql("SELECT * FROM db.avgmv").collect()}
    def want():
        return {r.product_id: (r.n, r.aq)
                for r in engine.sql(sql).collect()}
    assert mv_rows() == want()
    assert mv_rows()[1] == (4, 1.75)  # quantities 1,1,3,2

    engine.sql("INSERT INTO db.orders VALUES "
               "(7, 2, 1, DATE '2020-03-01', 9)")
    assert engine.refresh_materialized_view("db.avgmv") == INCR_AGG
    assert mv_rows() == want()
    assert mv_rows()[1] == (5, 3.2)   # +qty 9 → 16/5

    engine.sql("DELETE FROM db.orders WHERE id IN (1, 2)")  # two qty-1 rows
    assert engine.refresh_materialized_view("db.avgmv") == CHANGELOG_AGG
    assert mv_rows() == want()
    assert mv_rows()[1] == (3, 14.0 / 3)


def test_mv_minmax_scoped_recompute_under_deletes(engine):
    """min/max MVs can't retract algebraically; under source DELETEs
    only the TOUCHED groups are recomputed from base and replaced —
    vanished groups disappear, untouched groups' storage rows are not
    rewritten, and contents always equal a recompute."""
    from iceberg_rust_archive_spark.plans.mv import CHANGELOG_SCOPED

    sql = ("SELECT product_id, max(quantity) AS mx, min(quantity) AS mn "
           "FROM db.orders GROUP BY product_id")
    engine.sql(f"CREATE MATERIALIZED VIEW db.mmv AS {sql}")
    engine.refresh_materialized_view("db.mmv")

    def mv_rows():
        return {r.product_id: (r.mx, r.mn) for r in
                engine.sql("SELECT * FROM db.mmv").collect()}
    def want():
        return {r.product_id: (r.mx, r.mn)
                for r in engine.sql(sql).collect()}
    assert mv_rows() == want() == {1: (3, 1), 2: (1, 1), 3: (3, 3)}

    # delete product 1's max row (max must DROP — the non-retractable
    # case) and product 2's only row (group vanishes)
    engine.sql("DELETE FROM db.orders WHERE id = 3")  # p1 qty 3
    engine.sql("DELETE FROM db.orders WHERE product_id = 2")
    assert engine.refresh_materialized_view("db.mmv") == CHANGELOG_SCOPED
    assert mv_rows() == want() == {1: (2, 1), 3: (3, 3)}

    # mixed interval: delete + append touching an untouched group
    engine.sql("INSERT INTO db.orders VALUES "
               "(7, 1, 3, DATE '2020-03-01', 9)")
    engine.sql("DELETE FROM db.orders WHERE id = 5")  # p1 qty 2
    assert engine.refresh_materialized_view("db.mmv") == CHANGELOG_SCOPED
    assert mv_rows() == want() == {1: (1, 1), 3: (9, 3)}


def test_mv_changelog_refresh_after_position_delete(engine, spark):
    """Position-delete commits flow through the changelog too — the
    weighted refresh stays incremental and exact."""
    from pyspark.sql import functions as SF

    from iceberg_rust_archive_spark.plans.mv import CHANGELOG_AGG

    sql = ("SELECT product_id, count(*) AS n, sum(quantity) AS q "
           "FROM db.orders GROUP BY product_id")
    engine.sql(f"CREATE MATERIALIZED VIEW db.pmv AS {sql}")
    engine.refresh_materialized_view("db.pmv")

    t = engine.load_table("db.orders")
    t.delete_where_pos(spark, SF.col("id") == 3)  # p1, qty 3

    assert engine.refresh_materialized_view("db.pmv") == CHANGELOG_AGG
    got = {r.product_id: (r.n, r.q) for r in
           engine.sql("SELECT * FROM db.pmv").collect()}
    want = {r.product_id: (r.n, r.q) for r in engine.sql(sql).collect()}
    assert got == want == {1: (3, 4), 2: (1, 1), 3: (1, 3)}


def test_mv_source_compaction_forces_full(engine, spark):
    """A source-table COMPACTION (Replace commit) between refreshes is
    not changelog-expressible at sub-table cost — the refresh must fall
    back to FULL (and stay correct), not changelog-replay a rewrite."""
    from iceberg_rust_archive_spark import maintenance as mt

    sql = ("SELECT product_id, count(*) AS n, sum(quantity) AS q "
           "FROM db.orders GROUP BY product_id")
    engine.sql(f"CREATE MATERIALIZED VIEW db.cmv AS {sql}")
    engine.refresh_materialized_view("db.cmv")

    engine.sql("DELETE FROM db.orders WHERE id = 3")
    mt.compact_table(spark, engine.load_table("db.orders"))
    t = engine.load_table("db.orders")
    assert t.metadata.current_snapshot().summary["operation"] == "replace"

    assert engine.refresh_materialized_view("db.cmv") == FULL
    got = {r.product_id: (r.n, r.q) for r in
           engine.sql("SELECT * FROM db.cmv").collect()}
    want = {r.product_id: (r.n, r.q) for r in engine.sql(sql).collect()}
    assert got == want


def test_changelog_refuses_replace_commits(spark, tmp_path):
    """Table.changes across a Replace commit (truncate/compaction) must
    refuse loudly: the replaced files are physically gone, so row-level
    changes cannot be derived — same contract as Iceberg's changelog
    scan on non-expressible snapshots."""
    from iceberg_rust_archive_spark.plans.engine import Engine

    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    eng.sql("CREATE TABLE db.tr (k BIGINT)")
    eng.sql("INSERT INTO db.tr VALUES (1),(2)")
    t = eng.load_table("db.tr")
    snap1 = t.metadata.current_snapshot().snapshot_id
    eng.sql("TRUNCATE TABLE db.tr")
    eng.sql("INSERT INTO db.tr VALUES (9)")
    t = eng.load_table("db.tr")
    with pytest.raises(ValueError, match="replace commit"):
        t.changes(spark, from_snapshot_id=snap1).collect()
    # a range that starts AFTER the replace works fine
    snaps = sorted(t.metadata.snapshots.values(),
                   key=lambda s: s.sequence_number)
    repl = next(s for s in snaps
                if s.summary.get("operation") == "replace")
    ch = [(r.k, r._change_type) for r in
          t.changes(spark,
                    from_snapshot_id=repl.snapshot_id).collect()]
    assert ch == [(9, "insert")]


def test_mv_over_view_and_over_mv(engine):
    """MV over a plain VIEW (inlined subquery → full recompute) and MV
    over another MV (rebinds to the inner storage table → incremental
    source tracking works through the layer)."""
    engine.sql("CREATE VIEW db.w AS "
               "SELECT product_id, quantity * 2 AS q2 FROM db.orders")
    engine.sql("CREATE MATERIALIZED VIEW db.vm AS "
               "SELECT product_id, sum(q2) AS s FROM db.w "
               "GROUP BY product_id")
    assert engine.refresh_materialized_view("db.vm") == FULL
    got = {r.product_id: r.s for r in
           engine.sql("SELECT * FROM db.vm").collect()}
    assert got == {1: 14, 2: 2, 3: 6}

    # layered MV: aggregates the inner MV's storage table
    engine.sql("CREATE MATERIALIZED VIEW db.vm2 AS "
               "SELECT count(*) AS n, sum(s) AS total FROM db.vm")
    engine.refresh_materialized_view("db.vm2")
    r = engine.sql("SELECT * FROM db.vm2").collect()[0]
    assert (r.n, r.total) == (3, 22)

    # source change propagates through refreshes of both layers
    engine.sql("INSERT INTO db.orders VALUES "
               "(7, 1, 1, DATE '2020-05-01', 5)")
    engine.refresh_materialized_view("db.vm")
    engine.refresh_materialized_view("db.vm2")
    r = engine.sql("SELECT * FROM db.vm2").collect()[0]
    assert (r.n, r.total) == (3, 32)


def test_mv_mixed_case_identifiers(spark, tmp_path):
    """MV create/refresh/read with MiXeD-cAsE identifiers — every
    catalog touchpoint must canonicalize."""
    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA DB")
    eng.sql("CREATE TABLE DB.T (k BIGINT, v BIGINT)")
    eng.sql("INSERT INTO db.T VALUES (1,10),(2,20)")
    eng.sql("CREATE MATERIALIZED VIEW DB.MV1 AS "
            "SELECT SUM(v) AS s, k FROM DB.T GROUP BY k")
    assert eng.sql("SELECT refresh_materialized_view('DB.MV1')") \
        .collect()[0][0] == FULL
    eng.sql("INSERT INTO DB.t VALUES (1, 5)")
    assert eng.refresh_materialized_view("Db.Mv1") == INCR_AGG
    got = sorted((r.k, r.s) for r in
                 eng.sql("SELECT k, s FROM db.mv1").collect())
    assert got == [(1, 15), (2, 20)]


def test_distinct_agg_mv_scoped_incremental(engine):
    """count(DISTINCT x) has no delta-merge expression, but a
    single-source keyed MV still refreshes incrementally by recomputing
    ONLY the touched groups (the reference classifies every DISTINCT
    aggregate FullOverwrite — mod.rs:370-415)."""
    from iceberg_rust_archive_spark.plans.mv import DISTINCT_SCOPED

    sql = ("SELECT product_id, count(DISTINCT customer_id) AS nc, "
           "sum(quantity) AS q FROM db.orders GROUP BY product_id")
    assert classify(parse_select(sql)) == DISTINCT_SCOPED
    engine.sql(f"CREATE MATERIALIZED VIEW db.dmv AS {sql}")
    assert engine.refresh_materialized_view("db.dmv") == FULL

    def mv_rows():
        return {r.product_id: (r.nc, r.q) for r in
                engine.sql("SELECT * FROM db.dmv").collect()}

    def want():
        return {r.product_id: (r.nc, r.q)
                for r in engine.sql(sql.replace(
                    "FROM db.orders",
                    "FROM db.orders")).collect()}
    assert mv_rows() == want() == {1: (3, 7), 2: (1, 1), 3: (1, 3)}

    # append: customer 1 buys product 1 again (nc for p1 must NOT grow),
    # customer 9 buys product 2 (nc grows), and product 4 is a NEW group
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,1,DATE '2020-03-01',2),(8,9,2,DATE '2020-03-01',1),"
               "(9,5,4,DATE '2020-03-01',4)")
    assert engine.refresh_materialized_view("db.dmv") == DISTINCT_SCOPED
    assert mv_rows() == want() == {1: (3, 9), 2: (2, 2), 3: (1, 3),
                                   4: (1, 4)}

    # delete interval: remove one of customer 1's product-1 rows (nc
    # stays 3) and ALL of product 4 (group disappears... group rows
    # remain only if base still has rows — scoped recompute emits no
    # row for an empty group, and the retraction removes the stale one)
    engine.sql("DELETE FROM db.orders WHERE id = 7")
    engine.sql("DELETE FROM db.orders WHERE product_id = 4")
    assert engine.refresh_materialized_view("db.dmv") == DISTINCT_SCOPED
    assert mv_rows() == want() == {1: (3, 7), 2: (2, 2), 3: (1, 3)}

    # untouched-group check: only product-2 rows changed above for p2;
    # a refresh after touching ONLY product 3 must leave others exact
    engine.sql("UPDATE db.orders SET quantity = quantity + 1 "
               "WHERE product_id = 3")
    assert engine.refresh_materialized_view("db.dmv") == DISTINCT_SCOPED
    assert mv_rows() == want()
    assert engine.refresh_materialized_view("db.dmv") == "Fresh"


def test_distinct_agg_mv_join_or_keyless_recomputes(engine):
    """DISTINCT aggregates over a join, or without GROUP BY keys, have
    no scoped-group shortcut — they classify FULL and stay correct."""
    from iceberg_rust_archive_spark.plans.mv import DISTINCT_SCOPED

    assert classify(parse_select(
        "SELECT count(DISTINCT o.customer_id) AS nc, p.x AS x "
        "FROM db.orders o JOIN db.parts p ON o.product_id = p.id "
        "GROUP BY p.x")) == FULL
    assert classify(parse_select(
        "SELECT count(DISTINCT customer_id) AS nc "
        "FROM db.orders")) == FULL
    sql = ("SELECT count(DISTINCT customer_id) AS nc, "
           "product_id FROM db.orders GROUP BY product_id")
    assert classify(parse_select(sql)) == DISTINCT_SCOPED

    engine.sql("CREATE MATERIALIZED VIEW db.kmv AS "
               "SELECT count(DISTINCT customer_id) AS nc FROM db.orders")
    assert engine.refresh_materialized_view("db.kmv") == FULL
    assert engine.sql("SELECT nc FROM db.kmv").collect()[0][0] == 3
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,9,1,DATE '2020-03-01',1)")
    assert engine.refresh_materialized_view("db.kmv") == FULL
    assert engine.sql("SELECT nc FROM db.kmv").collect()[0][0] == 4


def test_sql_count_star_metadata_route(engine):
    """Bare SELECT count(*) FROM <table> routes through Table.count's
    manifest fast path but keeps exact semantics through DML."""
    df = engine.sql("SELECT count(*) FROM db.orders")
    assert df.columns == ["count(1)"] and df.collect()[0][0] == 6
    df = engine.sql("SELECT count(*) AS n FROM db.orders")
    assert df.columns == ["n"] and df.collect()[0][0] == 6

    engine.sql("DELETE FROM db.orders WHERE product_id = 1")
    assert engine.sql(
        "SELECT count(*) FROM db.orders").collect()[0][0] == 2

    # anything beyond the bare shape delegates to the normal planner
    assert engine.sql(
        "SELECT count(*) AS n FROM db.orders WHERE quantity > 1"
    ).collect()[0][0] == 1
    engine.sql("CREATE VIEW db.ov AS SELECT * FROM db.orders")
    assert engine.sql(
        "SELECT count(*) FROM db.ov").collect()[0][0] == 2


def test_union_subquery_join_overlapping_table_incremental(engine):
    """A table appearing BOTH inside a union branch AND in the outer
    join — formerly a documented FULL-recompute guard. The per-pass
    name-split (plans/mv.py _union_name_split) aliases the
    union-internal occurrence so one name never carries two snapshot
    states in a single pass, matching the reference's transform_down
    which rebinds each occurrence independently
    (delta_queries/transform.rs:381-479)."""
    engine.sql("CREATE TABLE db.facts0 (k BIGINT NOT NULL, v INT)")
    engine.sql("INSERT INTO db.facts0 VALUES (1,10),(2,20)")
    engine.sql("CREATE TABLE db.dimo (k BIGINT NOT NULL, grp VARCHAR, "
               "v INT)")
    engine.sql("INSERT INTO db.dimo VALUES (1,'a',1),(2,'b',2)")
    inner = ("SELECT k, v FROM db.facts0 "
             "UNION ALL SELECT k, v FROM db.dimo")
    mv_sql = (f"SELECT u.k, d.grp, u.v FROM ( {inner} ) u "
              f"JOIN db.dimo d ON u.k = d.k")
    engine.sql(f"CREATE MATERIALIZED VIEW db.olmv AS {mv_sql}")

    def multiset(q):
        return sorted(tuple(r) for r in engine.sql(q).collect())

    assert engine.refresh_materialized_view("db.olmv") == FULL
    assert multiset("SELECT * FROM db.olmv") == multiset(mv_sql)

    # both a plain branch source and the overlapping table grow: the
    # branch delta-passes need the INNER dimo occurrence at delta/old
    # while the OUTER occurrence stays per-triangle, and the outer
    # pass joins the full union at NEW against dimo's delta only
    engine.sql("INSERT INTO db.facts0 VALUES (3,30)")
    engine.sql("INSERT INTO db.dimo VALUES (3,'c',3)")
    assert engine.refresh_materialized_view("db.olmv") == INCR_APPEND
    assert multiset("SELECT * FROM db.olmv") == multiset(mv_sql)

    # only the overlapping table grows
    engine.sql("INSERT INTO db.dimo VALUES (4,'d',4)")
    assert engine.refresh_materialized_view("db.olmv") == INCR_APPEND
    assert multiset("SELECT * FROM db.olmv") == multiset(mv_sql)
    assert engine.refresh_materialized_view("db.olmv") == "Fresh"

    # aggregate form, including retraction through the overlap
    from iceberg_rust_archive_spark.plans.mv import CHANGELOG_AGG
    mv2 = (f"SELECT d.grp, count(*) AS n, sum(u.v) AS sv "
           f"FROM ( {inner} ) u JOIN db.dimo d ON u.k = d.k "
           f"GROUP BY d.grp")
    engine.sql(f"CREATE MATERIALIZED VIEW db.olamv AS {mv2}")

    def agg_got():
        return {r["grp"]: (r["n"], r["sv"]) for r in
                engine.sql("SELECT * FROM db.olamv").collect()}

    def agg_want():
        return {r[0]: (r[1], r[2]) for r in engine.sql(mv2).collect()}

    assert engine.refresh_materialized_view("db.olamv") == FULL
    assert agg_got() == agg_want()
    engine.sql("INSERT INTO db.dimo VALUES (5,'e',5)")
    engine.sql("INSERT INTO db.facts0 VALUES (5,50)")
    assert engine.refresh_materialized_view("db.olamv") == INCR_AGG
    assert agg_got() == agg_want()
    # a DELETE of the overlapping table retracts through BOTH
    # occurrences (signed changelog weights per pass)
    engine.sql("DELETE FROM db.dimo WHERE k = 1")
    assert engine.refresh_materialized_view("db.olamv") == CHANGELOG_AGG
    assert agg_got() == agg_want()
    assert "a" not in agg_got()


def test_mv_incremental_survives_pos_delete_rewrite(engine, spark):
    """A rewrite_position_deletes commit between refreshes touches only
    DELETE files (row multiset unchanged), so neither the incremental-
    append/agg classification nor the changelog path may demote to
    FULL, and the incremental scan range may span it (r11: the replace
    guard discriminates by manifest shape via replace_touches_data)."""
    from iceberg_rust_archive_spark.maintenance import (
        rewrite_position_deletes,
    )
    from iceberg_rust_archive_spark.plans.mv import INCR_AGG
    from pyspark.sql import functions as F

    engine.sql("CREATE MATERIALIZED VIEW db.rpd_mv AS "
               "SELECT sum(quantity) AS total, count(*) AS n, "
               "product_id FROM db.orders GROUP BY product_id")
    # two pos-delete commits FIRST so the MV bootstraps over the
    # already-deleted state (delete ops after the refresh would set
    # non_append regardless of the rewrite)
    t = engine.load_table("db.orders")
    t.delete_where_pos(spark, F.col("id") == 3)
    t.refresh().delete_where_pos(spark, F.col("id") == 6)
    engine.refresh_materialized_view("db.rpd_mv")
    got = {r["product_id"]: r["total"]
           for r in engine.sql("SELECT * FROM db.rpd_mv").collect()}
    assert got == {1: 4, 2: 1}
    # maintenance rewrite (delete-file-only replace), then an append
    rewrite_position_deletes(spark, engine.load_table("db.orders"))
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,3,DATE '2020-01-03',4)")
    strategy = engine.refresh_materialized_view("db.rpd_mv")
    assert strategy == INCR_AGG, strategy
    got = {r["product_id"]: r["total"]
           for r in engine.sql("SELECT * FROM db.rpd_mv").collect()}
    assert got == {1: 4, 2: 1, 3: 4}


def test_incremental_read_spans_pos_delete_rewrite(engine, spark):
    """Table.scan(from_snapshot_id=...) across a delete-file-only
    rewrite yields exactly the appended rows (carried data files keep
    their original sequence numbers); a data rewrite still refuses."""
    import pytest as _pytest

    from iceberg_rust_archive_spark.maintenance import (
        compact_table, rewrite_position_deletes,
    )
    from pyspark.sql import functions as F

    t = engine.load_table("db.orders")
    t.delete_where_pos(spark, F.col("id") == 3)
    t = t.refresh()
    base = t.metadata.current_snapshot().snapshot_id
    t = rewrite_position_deletes(spark, t)
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,3,DATE '2020-01-03',4)")
    t = t.refresh()
    got = sorted(r["id"] for r in
                 t.scan(spark, from_snapshot_id=base).collect())
    assert got == [7]
    t = compact_table(spark, t)
    with _pytest.raises(ValueError, match="replace commit"):
        t.scan(spark, from_snapshot_id=base).collect()


def test_sql_analysis_ignores_literal_content(spark):
    """Every structural scan in sqlparse reads literal-MASKED text:
    clause keywords, relation mentions, and union connectors inside
    string literals are data (same family as the engine-router fixes)."""
    from iceberg_rust_archive_spark.plans import sqlparse as sp

    assert sp.find_relations(
        "SELECT 'from phantom' FROM real_t JOIN b ON x") == ["real_t", "b"]
    # literal 'order by' survives; top-level ORDER BY stripped;
    # subquery ORDER BY left in its own scope
    assert sp.strip_order_by(
        "SELECT 'order by x' AS a FROM t ORDER BY a") \
        == "SELECT 'order by x' AS a FROM t"
    assert sp.strip_order_by(
        "SELECT * FROM (SELECT a FROM t ORDER BY a) q") \
        == "SELECT * FROM (SELECT a FROM t ORDER BY a) q"
    sql = "SELECT ' from t ' FROM t"
    refs = sp.SelectRelations(spark, sql).relations
    assert [r.name for r in refs] == ["t"]
    assert sp.splice(sql, {refs[0]: "v9"}) == "SELECT ' from t ' FROM v9"
    parts, kind = sp.split_union(
        "SELECT 'a union all b' FROM t UNION ALL SELECT r'x' FROM u")
    assert parts == ["SELECT 'a union all b' FROM t",
                     "SELECT r'x' FROM u"] and kind == "all"
    # a group-by-shaped literal must not invent aggregate keys
    p = sp.parse_select("SELECT k, ' group by v ' AS s FROM t GROUP BY k")
    assert p.group_by == ["k"]
    p2 = sp.parse_select("SELECT k, ' group by v ' AS s FROM t")
    assert p2.group_by == []


def test_mv_literal_keywords_survive_refresh(engine):
    """MV SQL whose literals contain ' from ' / 'order by' keeps its
    literals verbatim through the storage-plan rewrite (avg
    decomposition replaces the select list by masked spans) and still
    classifies + refreshes incrementally."""
    from iceberg_rust_archive_spark.plans.mv import INCR_AGG as IA

    sql = ("SELECT product_id, ' from x order by y' AS tag, "
           "count(*) AS n, avg(quantity) AS aq "
           "FROM db.orders GROUP BY product_id, ' from x order by y'")
    engine.sql(f"CREATE MATERIALIZED VIEW db.litmv AS {sql}")
    assert engine.refresh_materialized_view("db.litmv") == FULL

    def mv_rows():
        return {r.product_id: (r.tag, r.n, r.aq) for r in
                engine.sql("SELECT * FROM db.litmv").collect()}
    def want():
        return {r.product_id: (r.tag, r.n, r.aq)
                for r in engine.sql(sql).collect()}
    assert mv_rows() == want()
    assert all(v[0] == " from x order by y" for v in mv_rows().values())
    engine.sql("INSERT INTO db.orders VALUES "
               "(97, 2, 1, DATE '2020-03-02', 9)")
    assert engine.refresh_materialized_view("db.litmv") == IA
    assert mv_rows() == want()


def test_csv_external_seeded_q12_mv(engine, tmp_path):
    """The reference's CSV-seeded MV scripts replayed end-to-end in SQL
    (delta_queries/mod.rs:66-230, 1233-1249): CSV externals via
    ``CREATE EXTERNAL TABLE … STORED AS CSV LOCATION … OPTIONS
    ('has_header' 'false')``, iceberg targets via ``STORED AS ICEBERG
    LOCATION … PARTITIONED BY ( "month(…)" )`` (partition clause AFTER
    the location, transform double-quoted — DataFusion's serialization),
    seeded with ``INSERT … SELECT * FROM <external>``, then the
    q12-shaped MV refreshes over them incrementally."""
    csv1 = tmp_path / "lineitem.csv"
    csv1.write_text(
        "1,MAIL,1994-01-10,1994-01-15,1994-01-20\n"
        "2,SHIP,1994-02-10,1994-02-20,1994-02-15\n"
        "3,MAIL,1994-03-05,1994-03-01,1994-03-10\n"
        "4,RAIL,1994-04-01,1994-04-10,1994-04-05\n")
    ocsv = tmp_path / "orders.csv"
    ocsv.write_text("1,1-URGENT,1994-01-01\n2,5-LOW,1994-02-01\n"
                    "3,2-HIGH,1994-03-01\n4,3-MEDIUM,1994-03-20\n")
    lcols = ("l_orderkey BIGINT NOT NULL, l_shipmode VARCHAR NOT NULL, "
             "l_shipdate DATE NOT NULL, l_commitdate DATE NOT NULL, "
             "l_receiptdate DATE NOT NULL")
    engine.sql(f"CREATE EXTERNAL TABLE lineitem ( {lcols} ) "
               f"STORED AS CSV LOCATION '{csv1}' "
               f"OPTIONS ('has_header' 'false');")
    engine.sql(f"CREATE EXTERNAL TABLE db.lx ( {lcols} ) "
               f"STORED AS ICEBERG LOCATION '{tmp_path}/wh/db/lx' "
               f"PARTITIONED BY ( \"month(l_shipdate)\" );")
    engine.sql("CREATE EXTERNAL TABLE orders ( o_orderkey BIGINT NOT "
               "NULL, o_orderpriority VARCHAR NOT NULL, o_orderdate "
               f"DATE NOT NULL ) STORED AS CSV LOCATION '{ocsv}' "
               "OPTIONS ('has_header' 'false');")
    engine.sql("CREATE EXTERNAL TABLE db.ox ( o_orderkey BIGINT NOT "
               "NULL, o_orderpriority VARCHAR NOT NULL, o_orderdate "
               f"DATE NOT NULL ) STORED AS ICEBERG LOCATION "
               f"'{tmp_path}/wh/db/ox' "
               f"PARTITIONED BY ( \"month(o_orderdate)\" );")
    # the DDL schema is taken as-is: typed DATE column, no inference
    row = engine.sql("SELECT min(l_shipdate) AS d FROM lineitem") \
        .collect()[0]
    import datetime as dt
    assert row["d"] == dt.date(1994, 1, 10)
    # the ICEBERG external carries the month spec
    spec = engine.load_table("db.lx").metadata.default_spec()
    assert [f.transform for f in spec.fields] == ["month"]
    engine.sql("insert into db.lx select * from lineitem;")
    engine.sql("insert into db.ox select * from orders;")

    q12 = ("SELECT l.l_shipmode, "
           "sum(CASE WHEN o.o_orderpriority = '1-URGENT' "
           "OR o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) "
           "AS high_line_count, "
           "sum(CASE WHEN o.o_orderpriority <> '1-URGENT' "
           "AND o.o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) "
           "AS low_line_count "
           "FROM db.lx l JOIN db.ox o ON l.l_orderkey = o.o_orderkey "
           "GROUP BY l.l_shipmode")
    engine.sql(f"CREATE MATERIALIZED VIEW db.q12x AS {q12}")
    engine.refresh_materialized_view("db.q12x")

    def mv_rows():
        return {r["l_shipmode"]: (r["high_line_count"],
                                  r["low_line_count"])
                for r in engine.sql("SELECT * FROM db.q12x").collect()}

    assert mv_rows() == {"MAIL": (2, 0), "SHIP": (0, 1), "RAIL": (0, 1)}

    # the *_2 delta slices arrive as a SECOND CSV external
    csv2 = tmp_path / "lineitem_2.csv"
    csv2.write_text(
        "5,AIR,1994-05-02,1994-05-10,1994-05-06\n"
        "6,MAIL,1994-06-01,1994-06-05,1994-06-03\n")
    engine.sql(f"CREATE EXTERNAL TABLE lineitem2 ( {lcols} ) "
               f"STORED AS CSV LOCATION '{csv2}' "
               f"OPTIONS ('has_header' 'false');")
    engine.sql("insert into db.lx select * from lineitem2;")
    engine.sql("INSERT INTO db.ox VALUES "
               "(5,'2-HIGH',DATE '1994-04-25'),"
               "(6,'4-NOT SPECIFIED',DATE '1994-05-20')")
    assert engine.refresh_materialized_view("db.q12x") == INCR_AGG
    assert mv_rows() == {"MAIL": (2, 1), "SHIP": (0, 1), "RAIL": (0, 1),
                         "AIR": (1, 0)}
    direct = {r["l_shipmode"]: (r["high_line_count"], r["low_line_count"])
              for r in engine.sql(q12).collect()}
    assert mv_rows() == direct
    # DROP removes the registration, not a catalog tabular
    engine.sql("DROP TABLE lineitem2")
    import pytest as _pt
    with _pt.raises(Exception):
        engine.sql("SELECT count(*) AS c FROM lineitem2").collect()


def test_parquet_external_table(engine, tmp_path, spark):
    """STORED AS PARQUET externals: explicit DDL schema over a parquet
    location — no inference pass, SELECT-able, seedable."""
    p = str(tmp_path / "src.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string") \
        .write.parquet(p)
    engine.sql(f"CREATE EXTERNAL TABLE psrc (k BIGINT, v VARCHAR) "
               f"STORED AS PARQUET LOCATION '{p}'")
    got = {r["k"]: r["v"] for r in
           engine.sql("SELECT k, v FROM psrc").collect()}
    assert got == {1: "a", 2: "b"}


def test_external_table_ddl_edge_forms(engine, tmp_path, spark):
    """r15 review fixes: USING ICEBERG externals fall through to the
    generic branch, STORED AS ICEBERG keeps TBLPROPERTIES, and IF NOT
    EXISTS is a real no-op for both external kinds."""
    # USING ICEBERG (no STORED AS) — the pre-r15 form still works
    engine.sql("CREATE EXTERNAL TABLE db.ue (k BIGINT) USING ICEBERG")
    assert engine.load_table("db.ue") is not None
    # STORED AS ICEBERG carries TBLPROPERTIES through
    engine.sql(f"CREATE EXTERNAL TABLE db.up (k BIGINT) STORED AS "
               f"ICEBERG LOCATION '{tmp_path}/wh/db/up' "
               f"TBLPROPERTIES ('write.target-file-size-bytes'='123')")
    assert engine.load_table("db.up").metadata.properties[
        "write.target-file-size-bytes"] == "123"
    # IF NOT EXISTS: second create is a no-op, not already-exists
    engine.sql(f"CREATE EXTERNAL TABLE IF NOT EXISTS db.up (k BIGINT) "
               f"STORED AS ICEBERG LOCATION '{tmp_path}/wh/db/up'")
    p = str(tmp_path / "e.parquet")
    spark.createDataFrame([(1,)], "k long").write.parquet(p)
    engine.sql(f"CREATE EXTERNAL TABLE pq1 (k BIGINT) STORED AS "
               f"PARQUET LOCATION '{p}'")
    engine.sql(f"CREATE EXTERNAL TABLE IF NOT EXISTS pq1 (k BIGINT) "
               f"STORED AS PARQUET LOCATION '{tmp_path}/nonexistent'")
    # the original registration survived (reading it still works)
    assert engine.sql("SELECT count(*) AS c FROM pq1").collect()[0][0] == 1


def test_external_table_clause_order_grid(engine, tmp_path):
    """The external-table parser accepts every clause ordering the
    reference's scripts and Spark-style DDL produce: PARTITIONED BY
    before or after STORED AS/LOCATION, OPTIONS present or absent,
    IF NOT EXISTS, multiline column lists with nested-paren types."""
    csv = tmp_path / "g.csv"
    csv.write_text("1,2.50,2020-01-01\n2,3.75,2020-02-01\n")
    cols = "k BIGINT NOT NULL, d DECIMAL(9,2), dd DATE"
    forms = [
        f"CREATE EXTERNAL TABLE g{{i}} ( {cols} ) STORED AS CSV "
        f"LOCATION '{csv}'",
        f"CREATE EXTERNAL TABLE g{{i}} ( {cols} ) STORED AS CSV "
        f"LOCATION '{csv}' OPTIONS ('has_header' 'false')",
        f"CREATE EXTERNAL TABLE IF NOT EXISTS g{{i}} ( {cols} ) "
        f"STORED AS CSV LOCATION '{csv}' OPTIONS ('delimiter' ',');",
    ]
    for i, form in enumerate(forms):
        engine.sql(form.format(i=i))
        got = engine.sql(f"SELECT sum(d) AS s FROM g{i}").collect()[0][0]
        assert float(got) == 6.25, form
    # iceberg externals: partition clause on either side of LOCATION
    for i, part in enumerate([
            f"PARTITIONED BY (month(dd)) STORED AS ICEBERG "
            f"LOCATION '{tmp_path}/wh/x{{n}}'",
            f"STORED AS ICEBERG LOCATION '{tmp_path}/wh/x{{n}}' "
            f"PARTITIONED BY ( \"month(dd)\" )"]):
        name = f"db.x{i}"
        engine.sql(f"CREATE EXTERNAL TABLE {name} ( {cols} ) "
                   + part.format(n=i))
        sp = engine.load_table(name).metadata.default_spec()
        assert [f.transform for f in sp.fields] == ["month"], part


def test_mv_refresh_under_source_schema_evolution(engine):
    """r15 verdict #7: source schema evolution between refreshes — the
    reference assumes stable schemas (materialized_view/mod.rs never
    tests this). Named projections are evolution-proof: add-column,
    rename-of-unreferenced, and drop-of-unreferenced all stay
    INCREMENTAL with exact results (the stored SQL names its columns,
    so the delta replay is unaffected)."""
    engine.sql("CREATE MATERIALIZED VIEW db.sev_agg AS "
               "SELECT sum(quantity) AS total, product_id FROM db.orders "
               "GROUP BY product_id")
    engine.refresh_materialized_view("db.sev_agg")

    def totals():
        return {r["product_id"]: r["total"] for r in
                engine.sql("SELECT * FROM db.sev_agg").collect()}
    assert totals() == {1: 7, 2: 1, 3: 3}

    # add-column: new rows carry it, the MV's projection ignores it
    engine.sql("ALTER TABLE db.orders ADD COLUMN note STRING")
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,4,DATE '2020-01-04',5,'n')")
    assert engine.refresh_materialized_view("db.sev_agg") == INCR_AGG
    assert totals() == {1: 7, 2: 1, 3: 3, 4: 5}

    # rename an UNREFERENCED column (field-id rename): still incremental
    engine.sql("ALTER TABLE db.orders RENAME COLUMN customer_id "
               "TO cust_id")
    engine.sql("INSERT INTO db.orders VALUES "
               "(8,2,4,DATE '2020-01-05',2,'m')")
    assert engine.refresh_materialized_view("db.sev_agg") == INCR_AGG
    assert totals() == {1: 7, 2: 1, 3: 3, 4: 7}

    # drop an UNREFERENCED column: still incremental
    engine.sql("ALTER TABLE db.orders DROP COLUMN note")
    engine.sql("INSERT INTO db.orders VALUES "
               "(9,3,4,DATE '2020-01-06',1)")
    assert engine.refresh_materialized_view("db.sev_agg") == INCR_AGG
    assert totals() == {1: 7, 2: 1, 3: 3, 4: 8}


def test_mv_refresh_referenced_rename_fails_loudly(engine):
    """Renaming a column the stored SQL REFERENCES must fail the
    refresh loudly (AnalysisException naming the lost column), never
    return stale or wrong results — the stored SQL is the MV contract
    and the remediation (recreate the view) is the user's call."""
    engine.sql("CREATE MATERIALIZED VIEW db.sev_ref AS "
               "SELECT sum(quantity) AS total, product_id FROM db.orders "
               "GROUP BY product_id")
    engine.refresh_materialized_view("db.sev_ref")
    engine.sql("ALTER TABLE db.orders RENAME COLUMN quantity TO qty")
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,4,DATE '2020-01-04',5)")
    with pytest.raises(Exception, match="quantity"):
        engine.refresh_materialized_view("db.sev_ref")
    # the MV still serves its last-refreshed state
    got = {r["product_id"]: r["total"] for r in
           engine.sql("SELECT * FROM db.sev_ref").collect()}
    assert got == {1: 7, 2: 1, 3: 3}


def test_mv_star_projection_add_column_goes_full_and_evolves(engine):
    """The one shape where evolution DOES change the output: a star
    projection re-expands against the source's CURRENT schema, so an
    added column must reclassify the refresh FULL and EVOLVE the
    storage schema (old rows read NULL for the new column) — r15's
    behavior silently dropped the new column from the delta, leaving
    the MV divergent from its own defining query. Once the schemas
    agree again the next refresh returns to incremental."""
    engine.sql("CREATE MATERIALIZED VIEW db.sev_star AS "
               "SELECT * FROM db.orders WHERE quantity > 0")
    engine.refresh_materialized_view("db.sev_star")
    engine.sql("ALTER TABLE db.orders ADD COLUMN note STRING")
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,4,DATE '2020-01-04',5,'n')")
    assert engine.refresh_materialized_view("db.sev_star") == FULL
    rows = engine.sql("SELECT * FROM db.sev_star").collect()
    assert "note" in rows[0].asDict()
    by_id = {r["id"]: r["note"] for r in rows}
    assert by_id[7] == "n" and by_id[1] is None  # evolved, backfilled NULL
    # storage field ids: original ids stable, new column got a fresh id
    storage = engine.load_table("db.sev_star_storage")
    fields = storage.metadata.current_schema().fields
    assert [f.name for f in fields][-1] == "note"
    assert fields[-1].field_id == max(f.field_id for f in fields)
    # schemas agree again → back to incremental
    engine.sql("INSERT INTO db.orders VALUES "
               "(8,2,4,DATE '2020-01-05',2,'m')")
    assert engine.refresh_materialized_view("db.sev_star") == INCR_APPEND
    got = {r["id"]: r["note"] for r in
           engine.sql("SELECT * FROM db.sev_star").collect()}
    assert got[8] == "m" and len(got) == 8


def test_union_star_mv_add_column_goes_full_and_evolves(engine):
    """Union-path star drift (r15 verdict #7): a UNION ALL of star
    branches whose common source gained a column must leave the
    per-branch incremental path (the positional rename to the storage
    layout would crash on width) and recompute FULL with storage
    evolution — then return to per-branch incremental appends."""
    engine.sql("CREATE MATERIALIZED VIEW db.sev_union AS "
               "SELECT * FROM db.orders WHERE quantity > 2 "
               "UNION ALL SELECT * FROM db.orders WHERE quantity < 1")
    engine.refresh_materialized_view("db.sev_union")
    n0 = engine.sql("SELECT count(*) AS c FROM db.sev_union"
                    ).collect()[0]["c"]
    engine.sql("ALTER TABLE db.orders ADD COLUMN note STRING")
    engine.sql("INSERT INTO db.orders VALUES "
               "(7,1,4,DATE '2020-01-04',5,'n')")
    assert engine.refresh_materialized_view("db.sev_union") == FULL
    rows = engine.sql("SELECT * FROM db.sev_union").collect()
    got = {r["id"]: r["note"] for r in rows}
    assert got[7] == "n" and len(rows) == n0 + 1
    # schemas agree again → the union path resumes incrementally
    engine.sql("INSERT INTO db.orders VALUES "
               "(8,2,4,DATE '2020-01-05',9,'m')")
    assert engine.refresh_materialized_view("db.sev_union") == INCR_APPEND
    got = {r["id"]: r["note"] for r in
           engine.sql("SELECT * FROM db.sev_union").collect()}
    assert got[8] == "m" and len(got) == n0 + 2
