"""Physical-plan regression guards.

Correctness tests can stay green while a plan silently degrades (a
broadcast becomes a shuffle, a filter stops pushing down, a cartesian
sneaks in). These guards pin the SHAPE of representative plans at
sf0.001 — cheap to evaluate (plans only, minimal execution) and loud
when an optimizer interaction regresses the 100 TB story."""

import os

import pytest

from tests.conftest import SF_DIR, file_relations

pytestmark = pytest.mark.usefixtures("no_leaked_caches")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entries(spark):
    import __spark_entry__ as m
    return m.queries(), spark


def test_no_cartesian_products_anywhere(entries):
    """No queries() entry may plan a CartesianProduct / BroadcastNested
    LoopJoin over data-proportional inputs (scale killer #1). The known
    single-row × single-row cross joins plan as BroadcastNestedLoop
    with a 1-row side — allow only when 'LocalTableScan' or a Limit-1
    aggregate feeds it; simplest robust check: no CartesianProduct."""
    qs, spark = entries
    for name in ("q3_shipping_priority", "q5_local_supplier_volume",
                 "q7_nation_volume", "q9_profit_by_nation_year",
                 "q18_large_orders", "q21_waiting_suppliers"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_small_dims_broadcast_in_join_queries(entries):
    """Multi-table TPC-H shapes must join the small dimensions via
    broadcast, not sort-merge-shuffle (region/nation are KBs; a
    sort-merge there shuffles the fact table for nothing)."""
    qs, spark = entries
    for name in ("q5_local_supplier_volume", "q7_nation_volume",
                 "q9_profit_by_nation_year"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name


def test_scan_filters_reach_parquet(spark):
    """A predicate over a plain table read must be pushed into the
    parquet scan (PushedFilters) — the A7 contract end-to-end."""
    from pyspark.sql import functions as F
    df = (spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
          .filter(F.col("l_quantity") > 45).select("l_orderkey"))
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
        "PushedFilters")[1][:200]
    # and projection pruned the read schema to the referenced columns
    rs = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_single_scan_entries_have_one_shuffle(entries):
    """Scan→groupBy analytics must plan exactly ONE shuffle (the final
    aggregate exchange) — a second one means a lost map-side combine
    or a stray repartition."""
    import re

    qs, spark = entries
    for name in ("q1_pricing_summary", "q6_forecast_revenue"):
        plan = _plan(qs[name](spark, SF_DIR))
        n = len(re.findall(r"\bExchange (hashpartitioning|"
                           r"rangepartitioning|SinglePartition)", plan))
        # q1 sorts its 4-row result (one extra range exchange is fine)
        assert n <= 2, f"{name}: {n} shuffles"


def test_single_stratum_eq_delete_fast_path(spark):
    """A table whose equality-delete debt is one commit (single
    sequence number, globally scoped) must plan the MoR scan WITHOUT
    the sequence-tag join: no __dseq column, no _metadata.row_index
    read, exactly one LeftAnti — the post-compaction common case
    (reference simple case, datafusion_iceberg/src/table.rs:631-641).
    A second delete commit (a second stratum) must flip back to the
    tagged pass and still return correct rows."""
    import shutil

    from pyspark.sql import functions as F

    from iceberg_rust_archive_spark.operators.iceberg_queries import (
        ORDERS_SCHEMA, _orders, _tmp_catalog,
    )
    from iceberg_rust_archive_spark.spec import PartitionSpec
    from iceberg_rust_archive_spark.table import Table

    cat, d = _tmp_catalog()
    try:
        t = Table.create(cat, "db.o_fast", ORDERS_SCHEMA,
                         PartitionSpec(0, ()))
        src = _orders(spark, SF_DIR)
        t.append(spark, src)
        t.delete_where_equal(
            spark, src.filter(F.col("o_custkey") % 10 == 3),
            ["o_orderkey"])
        df = t.scan(spark)
        plan = _plan(df)
        assert "__dseq" not in plan
        assert "row_index" not in plan
        assert plan.count("LeftAnti") == 1
        expect = src.join(
            src.filter(F.col("o_custkey") % 10 == 3).select("o_orderkey"),
            on="o_orderkey", how="left_anti").count()
        assert df.count() == expect

        # second stratum → tagged pass, still correct
        t.delete_where_equal(
            spark, src.filter(F.col("o_custkey") % 10 == 7),
            ["o_orderkey"])
        df2 = t.scan(spark)
        assert "__dseq" in _plan(df2)
        expect2 = src.join(
            src.filter((F.col("o_custkey") % 10 == 3)
                       | (F.col("o_custkey") % 10 == 7))
            .select("o_orderkey"),
            on="o_orderkey", how="left_anti").count()
        assert df2.count() == expect2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_fast_path_resolves_dropped_eq_column(spark, tmp_path):
    """Fast-path (single-stratum, global) equality deletes must still
    resolve a LATER-DROPPED equality column through the hidden
    __hist_<fid> field-id read — and must not leak the helper column
    or the tag join into the plan. NULL delete keys match null-safely
    (row 4's NULL v is deleted by the NULL delete row)."""
    from iceberg_rust_archive_spark.catalog.file_catalog import FileCatalog
    from iceberg_rust_archive_spark.plans.engine import Engine

    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    eng.sql("CREATE TABLE db.t_fastdrop (k BIGINT, v STRING, x BIGINT)")
    eng.sql("INSERT INTO db.t_fastdrop VALUES "
            "(1,'a',10),(2,'b',20),(3,'c',30),(4,NULL,40)")
    t = eng.load_table("db.t_fastdrop")
    t.delete_where_equal(
        spark, spark.createDataFrame([("b",), (None,)], "v string"),
        ["v"])
    eng.sql("ALTER TABLE db.t_fastdrop DROP COLUMN v")
    df = eng.sql("SELECT * FROM db.t_fastdrop")
    assert df.columns == ["k", "x"]
    plan = _plan(df)
    assert "__dseq" not in plan          # still the fast path
    assert sorted(tuple(r) for r in df.collect()) == [(1, 10), (3, 30)]


def test_mor_scan_file_relations_constant_in_strata(spark, tmp_path):
    """The merge-on-read scan plans the same file relations at every
    equality-delete depth: one read of the affected data files, one of
    the clear files and one delete read per equality-id set. A plan
    that gained a relation per stratum gained planning time with the
    delete debt. The sequence tags travel by file path, so the tagged
    pass reads no _metadata.row_index either."""
    from iceberg_rust_archive_spark.catalog.file_catalog import FileCatalog
    from iceberg_rust_archive_spark.plans.engine import Engine

    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    eng.sql("CREATE TABLE db.strata (k BIGINT, v STRING)")
    eng.sql("INSERT INTO db.strata VALUES "
            + ",".join(f"({k}, 'v{k}')" for k in range(8)))
    counts = []
    for n in range(1, 7):
        eng.sql(f"DELETE FROM db.strata WHERE k = {n}")
        eng.sql(f"INSERT INTO db.strata VALUES ({10 + n}, 'new')")
        df = eng.load_table("db.strata").scan(spark)
        counts.append(len(file_relations(df)))
        assert "row_index" not in _plan(df)
        assert sorted(r.k for r in df.collect()) == (
            [0] + list(range(n + 1, 8)) + list(range(11, 11 + n)))
    assert counts == [3] * 6, counts


def test_substring_dedup_plan_shape(spark, monkeypatch):
    """ExactSubstr span dedup plans with no cartesian, no window
    functions (the interval merge is an array aggregate), and the
    window rows cached at the fork (one corpus scan). The plan is the
    one the public entry point materializes; it returns that rollup
    eagerly and releases the cache (the module's leak guard checks
    it)."""
    from iceberg_rust_archive_spark.operators import dedup

    plans = []
    real = dedup.materialize_local

    def spy(spark_, df, *args):
        out = real(spark_, df, *args)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(dedup, "materialize_local", spy)
    dedup.substring_dup_spans(spark, SF_DIR).collect()
    assert len(plans) == 1
    plan = plans[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") == 0
    assert "InMemoryTableScan" in plan


def test_engine_sql_broadcasts_small_iceberg_dimension(spark, tmp_path):
    """Stats-based planning (SURVEY §4; the reference feeds table
    statistics into DataFusion's CBO, statistics.rs:20-146): an
    Iceberg relation whose snapshot summary proves total-records tiny
    must register with a broadcast hint, so a dim⋈fact through
    engine.sql plans BroadcastHashJoin even when Spark's OWN estimate
    cannot see it. Pinned by shrinking autoBroadcastJoinThreshold
    below the dim's file size — auto-broadcast is then off the table
    and only the metadata hint can produce the broadcast."""
    from iceberg_rust_archive_spark.catalog.file_catalog import FileCatalog
    from iceberg_rust_archive_spark.plans.engine import Engine

    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    eng.sql("CREATE TABLE db.dim (k BIGINT, name STRING)")
    eng.sql("INSERT INTO db.dim VALUES " + ", ".join(
        f"({i}, 'n{i}')" for i in range(20)))
    eng.sql("CREATE TABLE db.fact (k BIGINT, v DOUBLE)")
    eng.sql("INSERT INTO db.fact VALUES " + ", ".join(
        f"({i % 20}, {i}.5)" for i in range(400)))
    t0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # parquet files are KBs; 2 KiB ceiling disables size-based
        # auto-broadcast while 20 rows × 28 B stays under it
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "2048")
        df = eng.sql("SELECT d.name, sum(f.v) AS sv FROM db.fact f "
                     "JOIN db.dim d ON f.k = d.k GROUP BY d.name")
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert df.count() == 20
        # disabled auto-broadcast (-1) must also disable the hint
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df2 = eng.sql("SELECT d.name, sum(f.v) AS sv FROM db.fact f "
                      "JOIN db.dim d ON f.k = d.k GROUP BY d.name")
        assert "BroadcastHashJoin" not in _plan(df2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", t0)


def test_engine_sql_hint_only_on_join_statements(spark, tmp_path):
    """The stats broadcast hint attaches only when the statement
    actually joins: a UNION (or any no-join multi-relation shape) over
    a provably-small table must register UNHINTED views — an unapplied
    hint is stripped by Catalyst with a HintErrorLogger warning on
    every run, burying real hint failures (r14 verdict #3). The
    absence of any Hint node in the analyzed plan IS the absence of
    the warning (the warning fires exactly when an UnresolvedHint
    lands on no join)."""
    from iceberg_rust_archive_spark.catalog.file_catalog import FileCatalog
    from iceberg_rust_archive_spark.plans.engine import Engine

    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    for t in ("ua", "ub"):
        eng.sql(f"CREATE TABLE db.{t} (k BIGINT)")
        eng.sql(f"INSERT INTO db.{t} VALUES (1), (2)")
    df = eng.sql("SELECT k FROM db.ua UNION ALL SELECT k FROM db.ub")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed
    assert df.count() == 4
    # single-table statements stay unhinted too
    df1 = eng.sql("SELECT k FROM db.ua WHERE k > 0")
    assert "Hint" not in df1._jdf.queryExecution().analyzed().toString()
    # ... while a real join still carries the hint through to the plan
    dfj = eng.sql("SELECT a.k FROM db.ua a JOIN db.ub b ON a.k = b.k")
    assert "BroadcastHashJoin" in _plan(dfj)


def test_stats_broadcastable_backstops(spark, tmp_path):
    """_stats_broadcastable's planned-bytes backstop is capped at an
    ABSOLUTE ceiling (a user-raised threshold must not permit
    force-broadcasting gigabytes), and a snapshot summary whose
    claimed rows×width disagrees wildly with the real planned bytes is
    treated as unprovable — a foreign writer's bad total-records (or
    multi-KB strings hiding behind the 20 B estimate) must not force a
    broadcast (r15 ADVICE)."""
    from iceberg_rust_archive_spark.catalog.file_catalog import FileCatalog
    from iceberg_rust_archive_spark.plans.engine import Engine

    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    eng.sql("CREATE TABLE db.dim (k BIGINT, name STRING)")
    eng.sql("INSERT INTO db.dim VALUES " + ", ".join(
        f"({i}, 'n{i}')" for i in range(20)))
    md = eng.catalog.load_tabular("db.dim")
    est = 20 * 28  # rows × (8 long + 20 string default width)
    assert eng._stats_broadcastable(md, planned_bytes=est)
    # wild disagreement: >64× the estimate (past the fixed 16 KiB
    # footer allowance) in real bytes = unprovable
    assert not eng._stats_broadcastable(
        md, planned_bytes=64 * est + 16385)
    assert eng._stats_broadcastable(md, planned_bytes=64 * est + 16384)
    t0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # raising the threshold sky-high must NOT raise the backstop
        # past the absolute ceiling (16×1GiB would allow 16 GiB)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(1 << 30))
        assert not eng._stats_broadcastable(
            md, planned_bytes=(512 << 20) + 1)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", t0)


def test_join_shape_detection_shared():
    """r15 ADVICE: the engine and the MV rewriter previously carried
    divergent join detectors — an MV defined with `FROM a, b WHERE …`
    or an IN-subquery silently lost its broadcast hint in the refresh
    replay. Both modules must now bind the SAME is_join_shaped, and it
    must recognize every hint-applicable shape."""
    from iceberg_rust_archive_spark.plans import engine as eng_mod
    from iceberg_rust_archive_spark.plans import mv as mv_mod
    from iceberg_rust_archive_spark.plans.sqlparse import is_join_shaped

    assert eng_mod.is_join_shaped is is_join_shaped
    assert mv_mod.is_join_shaped is is_join_shaped
    assert is_join_shaped("SELECT * FROM a, b WHERE a.k = b.k")
    assert is_join_shaped("SELECT * FROM a AS x, b WHERE x.k = b.k")
    assert is_join_shaped("SELECT * FROM a WHERE k IN (SELECT k FROM b)")
    assert is_join_shaped("SELECT * FROM a WHERE EXISTS (SELECT 1 FROM b)")
    assert is_join_shaped("SELECT a.k FROM a JOIN b ON a.k = b.k")
    assert is_join_shaped("SELECT a.k FROM a LEFT OUTER JOIN b ON a.k=b.k")
    assert not is_join_shaped("SELECT k FROM a")
    assert not is_join_shaped("SELECT k FROM a UNION ALL SELECT k FROM b")
    # quoted literals never count as structure
    assert not is_join_shaped("SELECT * FROM a WHERE s = ' join '")
    assert not is_join_shaped("SELECT * FROM a WHERE s = 'x in (select'")


def test_broadcast_if_small_public_seam(spark, tmp_path):
    """r15 ADVICE: direct Table.scan() API consumers (not going through
    the engine's SQL surface) get the broadcast plan via the public
    broadcast_if_small helper, which reads the _ice_broadcastable tag
    the scan planner set from post-pruning planned bytes. Pinned with
    auto-broadcast disabled so only the explicit hint can produce a
    BroadcastHashJoin."""
    from iceberg_rust_archive_spark.catalog.file_catalog import FileCatalog
    from iceberg_rust_archive_spark.operators.scan import (
        broadcast_if_small,
    )
    from iceberg_rust_archive_spark.plans.engine import Engine
    from iceberg_rust_archive_spark.table import Table

    eng = Engine(spark, FileCatalog(str(tmp_path / "wh")))
    eng.sql("CREATE SCHEMA db")
    eng.sql("CREATE TABLE db.dim (k BIGINT, name STRING)")
    eng.sql("INSERT INTO db.dim VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    rep: dict = {}
    small = Table.load(eng.catalog, "db.dim").scan(spark, report=rep)
    assert rep["broadcastable"]
    assert getattr(small, "_ice_broadcastable", False)
    t0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = spark.range(0, 10_000).withColumnRenamed("id", "k")
        hinted = big.join(broadcast_if_small(small), "k")
        assert "BroadcastHashJoin" in _plan(hinted)
        bare = big.join(small, "k")  # control: no hint, no broadcast
        assert "BroadcastHashJoin" not in _plan(bare)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", t0)
    # untagged frames pass through untouched (identity, no hint noise)
    plain = spark.range(10)
    assert broadcast_if_small(plain) is plain
