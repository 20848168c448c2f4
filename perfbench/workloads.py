"""The three seeded workloads: table set-up, the timed op sequence and
the end-of-run correctness gate.

Every input row is a pure function of ``(seed, row id)`` (xxhash64 over
``spark.range`` ids), and every op parameter comes from
``random.Random(seed)``, so the table state before op *k* is identical on
every run with the same seed. Each workload has exactly three latency
classes; each class is one kind of operation at one cost mode, in a fixed
interleaving, so every run measures the same mix.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from decimal import Decimal
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH = dt.date(1992, 1, 1)


@dataclass
class Op:
    """One client request. ``cls`` is the latency class (0-2) or None for
    maintenance ops, which count toward ``ops_per_s`` but form no class."""
    cls: int | None
    label: str
    run: Callable[[], object]


def _pick(seed: int, salt: int, n: int):
    """Column: uniform integer in [0, n), a pure function of (seed, id)."""
    return F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)),
                  F.lit(n))


def _cents(seed: int, salt: int, lo: int, span: int):
    """Column: DECIMAL(12,2) amount in [lo, lo + span) cents, exact."""
    return ((_pick(seed, salt, span) + lo).cast("decimal(14,0)")
            / 100).cast("decimal(12,2)")


def collect(df: DataFrame) -> list:
    """The Spark action that executes a returned frame (traced as the
    Spark execution layer)."""
    return df.collect()


def _month_lit(m: int) -> str:
    return f"DATE '{EPOCH.year + m // 12}-{m % 12 + 1:02d}-01'"


def _dec(v) -> Decimal:
    return Decimal(0) if v is None else Decimal(v)


class Workload:
    """A seeded workload: ``setup`` seeds tables, ``ops`` yields the
    endless op sequence, ``check`` is the correctness gate."""
    name = ""
    classes: tuple[str, str, str] = ("", "", "")
    # bytes per input row, from the fixed column widths of the generated
    # rows (8 per bigint/decimal, 4 per date/int, 1 per flag character)
    row_bytes = 0
    # the first ops of the sequence, run once before the timed phase
    warmup_ops = 0

    def __init__(self, spark: SparkSession, engine, seed: int):
        self.spark = spark
        self.eng = engine
        self.seed = seed
        self.rng = random.Random(seed)
        self.input_rows = 0

    @property
    def input_bytes(self) -> int:
        return self.input_rows * self.row_bytes

    def setup(self) -> None:
        raise NotImplementedError

    def ops(self) -> Iterator[Op]:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Mismatches between the engine's final state (and any recorded
        read results) and a plain-Spark computation over the same seeded
        inputs; empty when correct."""
        raise NotImplementedError

    def _append(self, table: str, df: DataFrame, rows: int) -> None:
        self.eng.load_table(table).append(self.spark, df)
        self.input_rows += rows


# --- pruned_reads ----------------------------------------------------------

class PrunedReads(Workload):
    """lineitem at sf0.1 in a table partitioned by month(l_shipdate),
    seeded over four commits in ship-date order, so each commit's manifest
    covers about a quarter of the months and each monthly file a narrow
    l_orderkey range. Read-only: write and commit code sit idle."""
    name = "pruned_reads"
    classes = ("month_window_read", "key_range_read", "key_lookup_read")
    row_bytes = 8 + 8 + 4 + 8 + 8 + 8 + 4 + 1
    warmup_ops = 15         # five rounds of the three read classes
    ROWS = 600_000          # sf0.1 lineitem
    ORDERS = ROWS // 4      # four lines per order
    COMMITS = 4
    MONTHS = 84             # 1992-01 .. 1998-12
    KEY_BLOCK = 1_500       # key-range windows are whole blocks

    def __init__(self, spark, engine, seed):
        super().__init__(spark, engine, seed)
        self.results: dict[str, list] = {}
        self._lookups: set[int] = set()

    def _rows(self, lo: int, hi: int) -> DataFrame:
        s = self.seed
        order_day = F.expr(f"cast(id * 2406 div {self.ROWS} as int)")
        return self.spark.range(lo, hi).select(
            F.expr("id div 4").alias("l_orderkey"),
            _pick(s, 1, 20_000).alias("l_partkey"),
            F.expr("cast(id % 4 + 1 as int)").alias("l_linenumber"),
            (_pick(s, 2, 50) + 1).alias("l_quantity"),
            _cents(s, 3, 90_000, 10_000_000).alias("l_extendedprice"),
            (_pick(s, 4, 11).cast("decimal(4,0)") / 100)
            .cast("decimal(12,2)").alias("l_discount"),
            F.date_add(F.lit(EPOCH), order_day
                       + (_pick(s, 5, 121) + 1).cast("int"))
            .alias("l_shipdate"),
            F.element_at(F.array(*map(F.lit, "ANR")),
                         (_pick(s, 6, 3) + 1).cast("int"))
            .alias("l_returnflag"))

    def setup(self):
        self.eng.sql("CREATE SCHEMA db")
        self.eng.sql(
            "CREATE TABLE db.lineitem (l_orderkey BIGINT, l_partkey BIGINT, "
            "l_linenumber INT, l_quantity BIGINT, "
            "l_extendedprice DECIMAL(12,2), l_discount DECIMAL(12,2), "
            "l_shipdate DATE, l_returnflag STRING) "
            "PARTITIONED BY (month(l_shipdate))")
        step = self.ROWS // self.COMMITS
        for i in range(self.COMMITS):
            self._append("db.lineitem", self._rows(i * step, (i + 1) * step),
                         step)

    def _read(self, key: str, sql: str) -> Callable[[], object]:
        def run():
            rows = collect(self.eng.sql(sql))
            self.results[key] = [tuple(r) for r in rows]
        return run

    def ops(self):
        rng = self.rng
        # widths cycle through a seed-permuted fixed set, so every seed
        # runs the same cost mix; window positions are drawn per op
        mwidths = [1, 2, 3, 4]
        kwidths = [1, 2, 3, 4]
        rng.shuffle(mwidths)
        rng.shuffle(kwidths)
        agg = ("SELECT l_returnflag, count(*) AS n, "
               "sum(l_extendedprice * (1 - l_discount)) AS rev "
               "FROM db.lineitem WHERE {} GROUP BY l_returnflag")
        blocks = self.ORDERS // self.KEY_BLOCK
        i = 0
        while True:
            w = mwidths[i % 4]
            m0 = rng.randrange(4, self.MONTHS - 4 - w)
            yield Op(0, "month", self._read(
                f"m:{m0}:{w}", agg.format(
                    f"l_shipdate >= {_month_lit(m0)} "
                    f"AND l_shipdate < {_month_lit(m0 + w)}")))
            w = kwidths[i % 4]
            b0 = rng.randrange(0, blocks - w)
            yield Op(1, "key_range", self._read(
                f"k:{b0}:{w}", agg.format(
                    f"l_orderkey >= {b0 * self.KEY_BLOCK} "
                    f"AND l_orderkey < {(b0 + w) * self.KEY_BLOCK}")))
            k = rng.randrange(self.ORDERS)
            self._lookups.add(k)
            yield Op(2, "lookup", self._read(
                f"l:{k}",
                "SELECT count(*) AS n, sum(l_quantity) AS q, "
                "sum(l_extendedprice) AS p FROM db.lineitem "
                f"WHERE l_orderkey = {k}"))
            i += 1

    def check(self):
        bad = []
        rows = self._rows(0, self.ROWS)
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        month = (F.year("l_shipdate") - EPOCH.year) * 12 \
            + F.month("l_shipdate") - 1
        cube = rows.groupBy(
            month.alias("m"),
            F.expr(f"l_orderkey div {self.KEY_BLOCK}").alias("b"),
            "l_returnflag").agg(F.count("*").alias("n"),
                                F.sum(rev).alias("rev")).collect()
        looked = {r["l_orderkey"]: (r["n"], r["q"], r["p"]) for r in
                  rows.where(F.col("l_orderkey").isin(list(self._lookups)))
                  .groupBy("l_orderkey").agg(
                      F.count("*").alias("n"), F.sum("l_quantity").alias("q"),
                      F.sum("l_extendedprice").alias("p")).collect()}

        def window(pred):
            acc: dict[str, list] = {}
            for c in cube:
                if pred(c):
                    a = acc.setdefault(c["l_returnflag"], [0, Decimal(0)])
                    a[0] += c["n"]
                    a[1] += c["rev"]
            return {k: (n, r) for k, (n, r) in acc.items()}

        for key, got in self.results.items():
            kind, *args = key.split(":")
            if kind == "l":
                n, q, p = looked.get(int(args[0]), (0, None, None))
                want = {None: (n, q, _dec(p) if p is not None else None)}
                got_d = {None: (got[0][0], got[0][1],
                                _dec(got[0][2]) if got[0][2] is not None
                                else None)}
            else:
                lo, w = int(args[0]), int(args[1])
                field = "m" if kind == "m" else "b"
                want = window(lambda c: lo <= c[field] < lo + w)
                got_d = {r[0]: (r[1], _dec(r[2])) for r in got}
            if got_d != want:
                bad.append(f"{key}: engine {got_d} != spark {want}")
        total = window(lambda c: True)
        got = {r[0]: (r[1], _dec(r[2])) for r in self.eng.sql(
            "SELECT l_returnflag, count(*), sum(l_extendedprice * "
            "(1 - l_discount)) FROM db.lineitem GROUP BY l_returnflag"
        ).collect()}
        if got != total:
            bad.append(f"final table: engine {got} != spark {total}")
        return bad


# --- shared orders generator ----------------------------------------------

ORDERS_COLS = ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
               "o_totalprice DECIMAL(12,2), o_orderdate DATE, "
               "o_orderpriority STRING")
ORDERS_ROW_BYTES = 8 + 8 + 1 + 8 + 4 + 8


def orders_rows(spark: SparkSession, seed: int, salt: int, keys: DataFrame,
                day) -> DataFrame:
    """Orders rows for the key frame ``keys`` (one ``id`` column = the
    order key); ``day`` is a column expression giving the order date as
    days since 1992-01-01. ``salt`` separates independent versions of
    the same key (a MERGE batch rewrites a key with fresh values)."""
    s = seed * 1_000 + salt
    return keys.select(
        F.col("id").alias("o_orderkey"),
        _pick(s, 11, 15_000).alias("o_custkey"),
        F.element_at(F.array(*map(F.lit, "FOP")),
                     (_pick(s, 12, 3) + 1).cast("int")).alias("o_orderstatus"),
        _cents(s, 13, 85_000, 50_000_000).alias("o_totalprice"),
        F.date_add(F.lit(EPOCH), day.cast("int")).alias("o_orderdate"),
        F.element_at(F.array(*map(F.lit, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SP", "5-LOW"])),
                     (_pick(s, 14, 5) + 1).cast("int"))
        .alias("o_orderpriority"))


def _status_sums(df: DataFrame) -> dict:
    return {r[0]: (r[1], _dec(r[2])) for r in df.groupBy("o_orderstatus")
            .agg(F.count("*"), F.sum("o_totalprice")).collect()}


# --- ingest_refresh --------------------------------------------------------

class IngestRefresh(Workload):
    """Time-ordered orders slices appended to a month-partitioned table
    that feeds an aggregate MV: refresh and a read of the fresh slices
    every ``REFRESH_EVERY`` appends, manifest rewrite every
    ``REWRITE_EVERY``. Write, stats harvest, commit, catalog and MV
    refresh do the work; each commit's manifest is new to the manifest
    cache."""
    name = "ingest_refresh"
    classes = ("append", "mv_refresh", "fresh_read")
    row_bytes = ORDERS_ROW_BYTES
    # 6 appends, 3 refreshes, 3 reads: one rewrite period minus its
    # rewrite, which becomes the first timed op, so every run times one
    warmup_ops = 12
    BASE_ROWS = 30_000
    BASE_DAYS = 600
    SLICE_ROWS = 2_000
    SLICE_DAYS = 15
    REFRESH_EVERY = 2
    REWRITE_EVERY = 6
    MV_SQL = ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
              "sum(o_totalprice) AS total FROM db.orders "
              "GROUP BY o_orderstatus, o_orderpriority")

    def __init__(self, spark, engine, seed):
        super().__init__(spark, engine, seed)
        self.slices = 0

    def _slice(self, i: int) -> DataFrame:
        """Slice 0 is the base load; slice i > 0 holds SLICE_ROWS orders
        dated in the i-th SLICE_DAYS window after it."""
        if i == 0:
            keys = self.spark.range(0, self.BASE_ROWS)
            day = F.expr(f"id * {self.BASE_DAYS} div {self.BASE_ROWS}")
        else:
            lo = self.BASE_ROWS + (i - 1) * self.SLICE_ROWS
            keys = self.spark.range(lo, lo + self.SLICE_ROWS)
            day = F.expr(f"{self.BASE_DAYS + (i - 1) * self.SLICE_DAYS} + "
                         f"(id - {lo}) * {self.SLICE_DAYS} "
                         f"div {self.SLICE_ROWS}")
        return orders_rows(self.spark, self.seed, 0, keys, day)

    def setup(self):
        self.eng.sql("CREATE SCHEMA db")
        self.eng.sql(f"CREATE TABLE db.orders ({ORDERS_COLS}) "
                     "PARTITIONED BY (month(o_orderdate))")
        self._append("db.orders", self._slice(0), self.BASE_ROWS)
        self.slices = 1
        self.eng.sql(f"CREATE MATERIALIZED VIEW db.orders_by_status AS "
                     f"{self.MV_SQL}")
        self._refresh()

    def _append_next(self):
        i = self.slices
        self._append("db.orders", self._slice(i), self.SLICE_ROWS)
        self.slices = i + 1

    def _refresh(self):
        self.eng.refresh_materialized_view("db.orders_by_status")

    def _read_fresh(self):
        """Aggregate over the two most recent slices' date range: the
        dashboard query that follows an ingest."""
        lo = EPOCH + dt.timedelta(
            days=self.BASE_DAYS + (self.slices - 3) * self.SLICE_DAYS)
        return collect(self.eng.sql(
            "SELECT o_orderpriority, count(*) AS n, "
            "sum(o_totalprice) AS total FROM db.orders "
            f"WHERE o_orderdate >= DATE '{lo}' GROUP BY o_orderpriority"))

    def ops(self):
        appends = 0
        while True:
            yield Op(0, "append", self._append_next)
            appends += 1
            if appends % self.REFRESH_EVERY == 0:
                yield Op(1, "refresh", self._refresh)
                yield Op(2, "fresh_read", self._read_fresh)
            if appends % self.REWRITE_EVERY == 0:
                yield Op(None, "rewrite_manifests", lambda: self.eng.sql(
                    "CALL system.rewrite_manifests('db.orders')"))

    def check(self):
        bad = []
        inputs = self._slice(0)
        for i in range(1, self.slices):
            inputs = inputs.unionByName(self._slice(i))
        want = _status_sums(inputs)
        got = _status_sums(self.eng.sql("SELECT * FROM db.orders"))
        if got != want:
            bad.append(f"orders: engine {got} != spark {want}")
        self._refresh()
        want_mv = {tuple(r[:2]): (r[2], _dec(r[3])) for r in
                   inputs.groupBy("o_orderstatus", "o_orderpriority")
                   .agg(F.count("*"), F.sum("o_totalprice")).collect()}
        got_mv = {tuple(r[:2]): (r[2], _dec(r[3])) for r in self.eng.sql(
            "SELECT o_orderstatus, o_orderpriority, n, total "
            "FROM db.orders_by_status").collect()}
        if got_mv != want_mv:
            bad.append(f"MV differs from a full recompute: {got_mv} != "
                       f"{want_mv}")
        return bad


# --- dml_churn -------------------------------------------------------------

class DmlChurn(Workload):
    """A write.delete.format=dv orders table under a repeating cycle:
    MERGE upsert batch, DELETE by predicate, two pruned reads over
    merge-on-read; CALL system.compact every ``COMPACT_EVERY`` cycles.
    Reads always follow a cycle's MERGE and DELETE, so each read runs
    with merge-on-read debt and the read class keeps one cost mode."""
    name = "dml_churn"
    classes = ("merge", "delete", "mor_read")
    row_bytes = ORDERS_ROW_BYTES
    # three cycles; the compaction after them is the first timed op
    warmup_ops = 12
    ROWS = 60_000
    ORDERS_PER_DAY = 25          # 60k orders over 2400 days
    DAYS = 2_400
    UPDATES = 300                # matched keys per MERGE batch
    INSERTS = 100                # new keys per MERGE batch
    KEY_WINDOW = 2_000
    COMPACT_EVERY = 3

    def __init__(self, spark, engine, seed):
        super().__init__(spark, engine, seed)
        self.applied: list[tuple] = []   # successful DML, for the model
        self.cycle = 0

    def _day(self):
        return F.expr(f"pmod(id div {self.ORDERS_PER_DAY}, {self.DAYS})")

    def _batch(self, c: int, lo: int) -> DataFrame:
        upd = self.spark.range(self.UPDATES).select(
            (F.col("id") * (self.KEY_WINDOW // self.UPDATES) + lo)
            .alias("id"))
        new = self.spark.range(self.ROWS + c * self.INSERTS,
                               self.ROWS + (c + 1) * self.INSERTS)
        return orders_rows(self.spark, self.seed, c + 1,
                           upd.unionByName(new), self._day())

    def setup(self):
        self.eng.sql("CREATE SCHEMA db")
        self.eng.sql(f"CREATE TABLE db.orders ({ORDERS_COLS}) "
                     "PARTITIONED BY (month(o_orderdate)) "
                     "TBLPROPERTIES ('write.delete.format'='dv')")
        self._append("db.orders", orders_rows(
            self.spark, self.seed, 0, self.spark.range(self.ROWS),
            self._day()), self.ROWS)

    def _merge(self, c: int, lo: int):
        def run():
            view = f"merge_src_{c}"
            self._batch(c, lo).createOrReplaceTempView(view)
            self.eng.sql(f"MERGE INTO db.orders t USING {view} s "
                         "ON t.o_orderkey = s.o_orderkey "
                         "WHEN MATCHED THEN UPDATE SET * "
                         "WHEN NOT MATCHED THEN INSERT *")
            self.input_rows += self.UPDATES + self.INSERTS
            self.applied.append(("merge", c, lo))
        return run

    def _delete(self, lo: int, prio: str):
        def run():
            self.eng.sql(f"DELETE FROM db.orders WHERE o_orderkey >= {lo} "
                         f"AND o_orderkey < {lo + self.KEY_WINDOW} "
                         f"AND o_orderpriority = '{prio}'")
            self.applied.append(("delete", lo, prio))
        return run

    def _read(self, d0: int):
        lo = EPOCH + dt.timedelta(days=d0)
        hi = EPOCH + dt.timedelta(days=d0 + 60)

        def run():
            return collect(self.eng.sql(
                "SELECT o_orderstatus, count(*) AS n, "
                "sum(o_totalprice) AS total FROM db.orders "
                f"WHERE o_orderdate >= DATE '{lo}' "
                f"AND o_orderdate < DATE '{hi}' "
                "GROUP BY o_orderstatus"))
        return run

    def ops(self):
        rng = self.rng
        max_lo = self.ROWS - self.KEY_WINDOW
        prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SP", "5-LOW"]
        while True:
            c = self.cycle
            yield Op(0, "merge", self._merge(c, rng.randrange(max_lo)))
            yield Op(1, "delete", self._delete(rng.randrange(max_lo),
                                               prios[c % 5]))
            yield Op(2, "mor_read", self._read(rng.randrange(self.DAYS - 60)))
            yield Op(2, "mor_read", self._read(rng.randrange(self.DAYS - 60)))
            self.cycle = c + 1
            if self.cycle % self.COMPACT_EVERY == 0:
                yield Op(None, "compact", lambda: self.eng.sql(
                    "CALL system.compact('db.orders')"))

    def check(self):
        want = orders_rows(self.spark, self.seed, 0,
                           self.spark.range(self.ROWS), self._day())
        for op in self.applied:
            if op[0] == "merge":
                b = self._batch(op[1], op[2])
                want = want.join(b.select("o_orderkey"), "o_orderkey",
                                 "left_anti").unionByName(b)
            else:
                lo, prio = op[1], op[2]
                want = want.where(~((F.col("o_orderkey") >= lo)
                                    & (F.col("o_orderkey")
                                       < lo + self.KEY_WINDOW)
                                    & (F.col("o_orderpriority") == prio)))
            # keep the model's plan shallow: one join per MERGE otherwise
            # nests every earlier step into the final query
            want = want.localCheckpoint()
        want_s = _status_sums(want)
        got_s = _status_sums(self.eng.sql("SELECT * FROM db.orders"))
        bad = []
        if got_s != want_s:
            bad.append(f"orders: engine {got_s} != spark {want_s}")
        keys = self.eng.sql("SELECT count(DISTINCT o_orderkey) AS k, "
                            "count(*) AS n FROM db.orders").collect()[0]
        if keys["k"] != keys["n"]:
            bad.append(f"duplicate order keys after MERGE: {keys}")
        return bad


WORKLOADS = {w.name: w for w in (PrunedReads, IngestRefresh, DmlChurn)}
