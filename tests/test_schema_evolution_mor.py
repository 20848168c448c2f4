"""Schema evolution × merge-on-read interplay: a column DROP / RENAME /
ADD between a delete commit and the read must not change which rows are
live (reference resolves everything by field id — iceberg-rust-spec
schema evolution keeps ids stable; our scan recovers dropped eq-delete
fields from historical schemas as hidden __hist_<fid> columns)."""

import pytest

from iceberg_rust_archive_spark.catalog import FileCatalog
from iceberg_rust_archive_spark.spec import (
    NestedField, PartitionSpec, Schema, StructTypeSpec,
)
from iceberg_rust_archive_spark.table import Table

pytestmark = pytest.mark.usefixtures("no_leaked_caches")


def _mk(tmp_path, name="db.t", extra_fields=()):
    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False)) + tuple(extra_fields)))
    return Table.create(cat, name, schema, PartitionSpec(0, ()))


def _evolve(t, fields):
    old = t.metadata.current_schema()
    ns = Schema(old.schema_id + 1, StructTypeSpec(tuple(fields)))
    t.new_transaction().update_schema(ns).commit_with_retry(
        lambda x: x.update_schema(ns))
    return t.refresh()


def test_eq_delete_survives_column_drop(spark, tmp_path):
    """Dropping the equality column must NOT resurrect deleted rows:
    the scan recovers the field from schema history and resolves it by
    field id in both the delete and the data files."""
    t = _mk(tmp_path)
    t.append(spark, spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"))
    t = t.refresh()
    t.delete_where_equal(spark, spark.createDataFrame([(20,)], ["v"]),
                         ["v"])
    t = t.refresh()
    assert sorted(r.k for r in t.scan(spark).collect()) == [1, 3]
    t = _evolve(t, [f for f in t.metadata.current_schema().fields
                    if f.name != "v"])
    got = t.scan(spark)
    assert got.columns == ["k"]          # helper columns must not leak
    assert sorted(r.k for r in got.collect()) == [1, 3]
    # appends after the drop land in the newer-than-every-delete branch
    t.append(spark, spark.createDataFrame([(9,)], "k long"))
    assert sorted(r.k for r in t.refresh().scan(spark).collect()) \
        == [1, 3, 9]


def test_eq_delete_partial_column_drop_does_not_overdelete(spark,
                                                           tmp_path):
    """Two-column eq set with ONE column dropped: resolving only the
    surviving column would delete every row sharing it — the dropped
    half must still participate in the match."""
    t = _mk(tmp_path)
    t.append(spark, spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10)], "k long, v long"))
    t = t.refresh()
    t.delete_where_equal(
        spark, spark.createDataFrame([(1, 10)], "k long, v long"),
        ["k", "v"])
    t = t.refresh()
    t = _evolve(t, [f for f in t.metadata.current_schema().fields
                    if f.name != "v"])
    # only (1,10) died; (1,20) and (2,10) survive even though they
    # share k=1 / v=10 with the delete row
    assert sorted(r.k for r in t.scan(spark).collect()) == [1, 2]


def test_changelog_emits_delete_after_column_drop(spark, tmp_path):
    t = _mk(tmp_path)
    t.append(spark, spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"))
    t = t.refresh()
    t.delete_where_equal(spark, spark.createDataFrame([(20,)], ["v"]),
                         ["v"])
    t = t.refresh()
    t = _evolve(t, [f for f in t.metadata.current_schema().fields
                    if f.name != "v"])
    ev = sorted((r["k"], r["_change_type"])
                for r in t.changes(spark).collect())
    assert ev == [(1, "insert"), (2, "delete"), (2, "insert")]


def test_changelog_survives_add_column(spark, tmp_path):
    """A commit predating an ADD COLUMN projects to the current layout
    (new column NULL) instead of failing analysis."""
    t = _mk(tmp_path)
    t.append(spark, spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"))
    t = t.refresh()
    t.delete_where_equal(spark, spark.createDataFrame([(20,)], ["v"]),
                         ["v"])
    t = t.refresh()
    t = _evolve(t, tuple(t.metadata.current_schema().fields)
                + (NestedField(3, "c", "long", False),))
    t.append(spark, spark.createDataFrame(
        [(5, 50, 500)], "k long, v long, c long"))
    t = t.refresh()
    ev = sorted(((r["k"], r["c"], r["_change_type"])
                 for r in t.changes(spark).collect()), key=str)
    assert ev == [(1, None, "insert"), (2, None, "delete"),
                  (2, None, "insert"), (5, 500, "insert")]


def test_changelog_rename_resolves_by_field_id(spark, tmp_path):
    t = _mk(tmp_path)
    t.append(spark, spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"))
    t = t.refresh()
    old = t.metadata.current_schema()
    t = _evolve(t, [
        NestedField(f.field_id, "w" if f.name == "v" else f.name,
                    f.field_type, f.required) for f in old.fields])
    t.delete_where_equal(spark, spark.createDataFrame([(20,)], ["w"]),
                         ["w"])
    t = t.refresh()
    ev = sorted(((r["k"], r["w"], r["_change_type"])
                 for r in t.changes(spark).collect()), key=str)
    assert ev == [(1, 10, "insert"), (2, 20, "delete"),
                  (2, 20, "insert")]


@pytest.mark.parametrize("evolution", ["rename", "drop", "add"])
def test_stream_initial_batch_after_evolution(spark, tmp_path,
                                              evolution):
    """The streaming source's initial MoR batch resolves data AND
    delete-file columns by field id from each file's own schema, so a
    rename/drop/add between the commits and the stream start yields
    the same rows as Table.scan."""
    t = _mk(tmp_path)
    t.append(spark, spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"))
    t = t.refresh()
    t.delete_where_equal(spark, spark.createDataFrame([(20,)], ["v"]),
                         ["v"])
    t = t.refresh()
    fields = list(t.metadata.current_schema().fields)
    if evolution == "rename":
        t = _evolve(t, [
            NestedField(f.field_id, "w" if f.name == "v" else f.name,
                        f.field_type, f.required) for f in fields])
    elif evolution == "drop":
        t = _evolve(t, [f for f in fields if f.name != "v"])
    else:
        t = _evolve(t, fields + [NestedField(3, "c", "long", False)])
        t.append(spark, spark.createDataFrame(
            [(5, 50, 500)], "k long, v long, c long"))
        t = t.refresh()

    from iceberg_rust_archive_spark.streaming.source import (
        IcebergStreamSource,
    )
    spark.dataSource.register(IcebergStreamSource)
    import tempfile
    ckpt = tempfile.mkdtemp(dir=str(tmp_path))
    df = (spark.readStream.format("iceberg-archive")
          .option("catalog_root", str(tmp_path / "wh"))
          .option("identifier", "db.t").load())
    name = f"evo_stream_{evolution}"
    q = (df.writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in
                 spark.sql(f"SELECT * FROM {name}").collect())
    want = sorted(tuple(r) for r in t.scan(spark).collect())
    assert got == want


# --- randomized interleavings (hypothesis) ----------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

SLOW = settings(
    max_examples=int(__import__("os").environ.get("PROP_EXAMPLES", "6")),
    deadline=None, suppress_health_check=list(HealthCheck))

_NAME_POOL = ("v", "w", "x")


def _evo_op():
    rows = st.lists(st.tuples(st.integers(0, 4), st.integers(0, 9)),
                    min_size=1, max_size=3)
    return st.one_of(
        st.tuples(st.just("append"), rows),
        st.tuples(st.just("add"), st.sampled_from(_NAME_POOL)),
        st.tuples(st.just("rename"), st.sampled_from(_NAME_POOL)),
        st.tuples(st.just("drop"), st.just(None)),
        st.tuples(st.just("del_val"), st.integers(0, 9)),
        st.tuples(st.just("del_pos"), st.lists(
            st.integers(0, 4), min_size=1, max_size=2, unique=True)),
        st.tuples(st.just("compact"), st.just(None)),
    )


@SLOW
@given(ops=st.lists(_evo_op(), min_size=3, max_size=6))
def test_evolution_mor_matches_model(spark, tmp_path_factory, ops):
    """Random interleavings of schema evolution (ADD with name reuse,
    RENAME, DROP) with appends, equality deletes on the evolving value
    column, position deletes, and compaction — the scan must equal a
    Python model projected to the live fields at every step's end.
    Field ids are the only stable identity; any name-based resolution
    slip (a reused name matching an old file's physical column, a
    dropped eq column resurrecting rows, a rename orphaning a delete)
    breaks the equality."""
    from collections import Counter

    from pyspark.sql import functions as F

    from iceberg_rust_archive_spark.maintenance import compact_table

    wh = tmp_path_factory.mktemp("evo-mor")
    cat = FileCatalog(str(wh / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(cat, "db.evo", schema, PartitionSpec(0, ()))

    live = [(1, "k"), (2, "v")]   # (fid, name), k permanent
    next_fid = 3
    model: list[dict] = []        # rows as {fid: value}
    compacted = False
    # (snapshot_id, live-fields, model-multiset) after each ROW-CHANGING
    # op — time travel must reproduce each state under the schema the
    # snapshot recorded
    history: list[tuple] = []

    def val_field():
        return live[1] if len(live) > 1 else None

    for op in ops:
        kind, arg = op[0], op[1]
        cur = t.metadata.current_schema()
        if kind == "append":
            names = [n for _f, n in live]
            ddl = ", ".join(f"{n} long" for n in names)
            rows = [tuple([k] + [x] * (len(live) - 1))
                    for k, x in arg]
            t.append(spark, spark.createDataFrame(rows, ddl))
            t = t.refresh()
            for k, x in arg:
                model.append({f: (k if f == 1 else x)
                              for f, _n in live})
        elif kind == "add":
            if any(n == arg for _f, n in live):
                continue  # name currently taken
            fields = tuple(cur.fields) + (
                NestedField(next_fid, arg, "long", False),)
            t = _evolve(t, fields)
            live.append((next_fid, arg))
            next_fid += 1
        elif kind == "rename":
            vf = val_field()
            if vf is None or any(n == arg for _f, n in live):
                continue
            fields = [NestedField(f.field_id,
                                  arg if f.field_id == vf[0] else f.name,
                                  f.field_type, f.required)
                      for f in cur.fields]
            t = _evolve(t, fields)
            live[1] = (vf[0], arg)
        elif kind == "drop":
            if len(live) < 3:   # keep at least one value column
                continue
            fid, name = live.pop(1)
            t = _evolve(t, [f for f in cur.fields
                            if f.field_id != fid])
        elif kind == "del_val":
            vf = val_field()
            if vf is None:
                continue
            fid, name = vf
            t.delete_where_equal(
                spark, spark.createDataFrame([(arg,)], f"{name} long"),
                [name])
            t = t.refresh()
            model = [r for r in model if r.get(fid) != arg]
        elif kind == "del_pos":
            ks = set(arg)
            t.delete_where_pos(
                spark, F.col("k").isin([int(x) for x in sorted(ks)]))
            t = t.refresh()
            model = [r for r in model if r[1] not in ks]
        else:  # compact
            compact_table(spark, t)
            t = t.refresh()
            compacted = True
        snap = t.metadata.current_snapshot()
        if snap is not None:
            history.append((
                snap.snapshot_id, list(live),
                Counter(tuple(r.get(f) for f, _n in live)
                        for r in model)))

    names = [n for _f, n in live]
    got = Counter(tuple(row[n] for n in names)
                  for row in t.scan(spark).collect())
    want = Counter(tuple(r.get(f) for f, _n in live) for r in model)
    assert got == want, (ops,)

    # time travel: each recorded snapshot reproduces its state under
    # the schema THAT snapshot pinned (historical MoR + evolution)
    seen = set()
    for sid, live_at, want_at in history:
        if sid in seen:
            continue
        seen.add(sid)
        names_at = [n for _f, n in live_at]
        got_at = Counter(
            tuple(row[n] for n in names_at)
            for row in t.scan(spark, snapshot_id=sid).collect())
        assert got_at == want_at, (ops, sid)

    if not compacted:
        # changelog replay from empty reproduces the final state in the
        # CURRENT layout (evolution-spanning CDC)
        replay: Counter = Counter()
        for e in t.changes(spark).collect():
            key = tuple(e[n] for n in names)
            replay[key] += 1 if e["_change_type"] == "insert" else -1
        assert +replay == want, (ops,)


# --- NaN vs bounds pruning (Spark orders NaN largest) -----------------------

def test_nan_rows_survive_bounds_pruning(spark, tmp_path):
    """A NaN row shares a file with small values: bounds say max=5.0
    (NaN is spec-exempt from bounds), but Spark's NaN-largest order
    makes ``x > 10`` TRUE for the NaN row — the file must not be
    pruned, and the metadata-only count must agree with the scan."""
    from iceberg_rust_archive_spark.predicates import Pred

    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "x", "double", False))))
    t = Table.create(cat, "db.nan", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame(
        [(1, 1.0), (2, 5.0), (3, float("nan"))],
        "k long, x double").coalesce(1))
    t = t.refresh()
    for op, lit, want in [(">", 10.0, 1), (">=", 10.0, 1),
                          ("<", 2.0, 1), ("=", 5.0, 1),
                          ("=", float("nan"), 1), ("!=", 5.0, 2)]:
        preds = [Pred("x", op, lit)]
        got_scan = t.scan(spark, filter=preds).count()
        got_meta = t.count(spark, filter=preds)
        assert got_scan == want, (op, lit, got_scan)
        assert got_meta == want, (op, lit, got_meta)


def test_nan_blind_pruning_unit():
    """prune_datafiles keeps a bounds-refuted file for float >/>= and
    NaN literals, still prunes where NaN cannot help."""
    from iceberg_rust_archive_spark.predicates import (
        Pred, prune_datafiles,
    )
    from iceberg_rust_archive_spark.spec.manifest import DataFile

    schema = Schema(0, StructTypeSpec((
        NestedField(1, "x", "double", False),
        NestedField(2, "i", "long", False))))
    f = DataFile(content=0, file_path="/f.parquet",
                 file_format="parquet", partition={}, record_count=3,
                 file_size_in_bytes=10,
                 value_counts={1: 3, 2: 3},
                 null_value_counts={1: 0, 2: 0},
                 lower_bounds={1: 1.0, 2: 1}, upper_bounds={1: 5.0, 2: 5})
    keep = lambda preds: prune_datafiles(preds, schema, [f]) == [f]
    assert keep([Pred("x", ">", 10.0)])          # hidden NaN matches
    assert keep([Pred("x", ">=", 10.0)])
    assert keep([Pred("x", "=", float("nan"))])
    assert keep([Pred("x", "in", (float("nan"), 0.5))])
    assert not keep([Pred("x", "<", 0.5)])       # NaN can't satisfy <
    assert not keep([Pred("x", "=", 9.0)])       # NaN != finite
    assert not keep([Pred("i", ">", 10)])        # ints have no NaN


def test_filtered_scan_keeps_global_delete_in_mixed_manifest(spark,
                                                             tmp_path):
    """Manifest-list pruning must not drop a DELETES manifest whose
    summary admits null partition values: a partition-scoped delete
    (k=1) and a GLOBAL delete (all-null tuple) share one manifest, so
    its k-summary is [1,1] + contains_null — a k=0 point scan used to
    prune the manifest and resurrect the globally-deleted row
    (hypothesis counterexample, r11)."""
    from iceberg_rust_archive_spark.predicates import Pred
    from iceberg_rust_archive_spark.spec import PartitionField

    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    spec = PartitionSpec(0, (PartitionField(1, 1000, "k", "identity"),))
    t = Table.create(cat, "db.pmor1", schema, spec,
                     properties={"identifier-fields": "k"})
    t.delete_where_equal(spark, spark.createDataFrame([(1,)], ["k"]),
                         ["k"])     # scoped to partition k=1
    t = t.refresh()
    t.append(spark, spark.createDataFrame([(0, 0)], "k long, v long"))
    t = t.refresh()
    t.delete_where_equal(spark, spark.createDataFrame([(0,)], ["v"]),
                         ["v"])     # GLOBAL (v is not a partition source)
    t = t.refresh()
    assert t.scan(spark).count() == 0
    assert t.scan(spark, filter=[Pred("k", "=", 0)]).count() == 0
    assert t.count(spark, filter=[Pred("k", "=", 0)]) == 0


# --- type promotion + evolution validation ----------------------------------

def test_type_promotion_reads_old_files(spark, tmp_path):
    """int→long / float→double widening: files written under the old
    types read back under the new (Iceberg spec promotions; Spark's
    parquet reader widens INT32/FLOAT leaves)."""
    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "int", False),
        NestedField(3, "f", "float", False))))
    t = Table.create(cat, "db.promo", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "k long, v int, f float"))
    t = t.refresh()
    t = _evolve(t, [
        NestedField(f.field_id, f.name,
                    {"int": "long", "float": "double"}.get(
                        f.field_type, f.field_type), f.required)
        for f in t.metadata.current_schema().fields])
    got = t.scan(spark)
    assert dict(got.dtypes) == {"k": "bigint", "v": "bigint",
                                "f": "double"}
    assert sorted((r.k, r.v, r.f) for r in got.collect()) \
        == [(1, 10, 1.5), (2, 20, 2.5)]


@pytest.mark.parametrize("mutate,msg", [
    (lambda fs: [NestedField(f.field_id, f.name,
                             "string" if f.name == "v" else f.field_type,
                             f.required) for f in fs],
     "illegal type change"),
    (lambda fs: [NestedField(f.field_id, f.name, f.field_type,
                             True) for f in fs],
     "required"),
    (lambda fs: list(fs) + [NestedField(9, "r", "long", True)],
     "REQUIRED column"),
])
def test_illegal_schema_evolution_refused(spark, tmp_path, mutate, msg):
    """Narrowing/re-typing a surviving field id, optional→required,
    and adding a REQUIRED column without a default are refused at
    commit time — each would corrupt existing rows silently."""
    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(cat, "db.bad", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame([(1, 10)], "k long, v long"))
    t = t.refresh()
    fields = t.metadata.current_schema().fields
    ns = Schema(1, StructTypeSpec(tuple(mutate(fields))))
    with pytest.raises(ValueError, match=msg):
        t.new_transaction().update_schema(ns).commit_with_retry(
            lambda x: x.update_schema(ns))


# --- branch / WAP property model ---------------------------------------------

def _branch_op():
    rows = st.lists(st.tuples(st.integers(0, 4), st.integers(0, 9)),
                    min_size=1, max_size=3)
    ref = st.sampled_from(["main", "audit", "dev"])
    return st.one_of(
        st.tuples(st.just("append"), ref, rows),
        st.tuples(st.just("branch"), st.sampled_from(["audit", "dev"])),
        st.tuples(st.just("tag"), st.sampled_from(["t1", "t2"]),
                  ref),
        st.tuples(st.just("publish"), st.sampled_from(["audit", "dev"])),
        st.tuples(st.just("del_val"), ref, st.integers(0, 9)),
        st.tuples(st.just("expire"), st.just(None)),
    )


@SLOW
@given(ops=st.lists(_branch_op(), min_size=3, max_size=7))
def test_branch_wap_matches_model(spark, tmp_path_factory, ops):
    """Per-ref state under random branch writes, eq-deletes on a
    branch, tags, and fast-forward publishes (the WAP pattern) — every
    ref's scan must equal its model, tags stay frozen at their pinned
    state, and a diverged fast-forward must refuse instead of dropping
    commits."""
    from collections import Counter

    from iceberg_rust_archive_spark.maintenance import fast_forward

    wh = tmp_path_factory.mktemp("wap-prop")
    cat = FileCatalog(str(wh / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(cat, "db.wap", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame([(0, 0)], "k long, v long"))
    t = t.refresh()

    state = {"main": Counter([(0, 0)])}   # ref -> multiset
    tags: dict[str, Counter] = {}
    from iceberg_rust_archive_spark.table import create_branch, create_tag

    for op in ops:
        kind = op[0]
        if kind == "append":
            ref, rows = op[1], list(op[2])
            if ref != "main" and ref not in state:
                continue
            t.append(spark, spark.createDataFrame(
                rows, "k long, v long"),
                branch=None if ref == "main" else ref)
            t = t.refresh()
            state[ref].update(rows)
        elif kind == "branch":
            name = op[1]
            if name in state:
                continue
            t = create_branch(t, name)   # branches from main's head
            state[name] = Counter(state["main"])
        elif kind == "tag":
            name, ref = op[1], op[2]
            if name in tags or (ref != "main" and ref not in state):
                continue
            sid = t.metadata.refs[ref].snapshot_id
            t = create_tag(t, name, snapshot_id=sid)
            tags[name] = Counter(state[ref])
        elif kind == "publish":
            src = op[1]
            if src not in state:
                continue
            try:
                t = fast_forward(t, src)
            except ValueError:
                # diverged: main advanced past the branch point — the
                # guard must refuse; model state stays untouched
                continue
            state["main"] = Counter(state[src])
        elif kind == "expire":
            # expiry must never change ANY ref's visible state: every
            # branch/tag head is in keep_ids, and the physical
            # reclamation may only touch files unreachable from kept
            # snapshots (ref-reachable files must survive)
            from iceberg_rust_archive_spark.maintenance import (
                expire_snapshots,
            )
            t = expire_snapshots(t, older_than_ms=int(1e18))
        else:  # del_val on a ref
            ref, val = op[1], op[2]
            if ref != "main" and ref not in state:
                continue
            t.delete_where_equal(
                spark, spark.createDataFrame([(val,)], ["v"]), ["v"],
                branch=None if ref == "main" else ref)
            t = t.refresh()
            state[ref] = +Counter({r: n for r, n in state[ref].items()
                                   if r[1] != val})

    for ref, want in state.items():
        got = Counter(
            (r["k"], r["v"]) for r in t.scan(
                spark, branch=None if ref == "main" else ref).collect())
        assert got == want, (ops, ref)
    for name, want in tags.items():
        got = Counter((r["k"], r["v"])
                      for r in t.scan(spark, branch=name).collect())
        assert got == want, (ops, name)


def test_rename_refused_on_name_mapping_table(spark, tmp_path):
    """A table carrying schema.name-mapping.default (add_files-
    registered external files, no embedded field ids) resolves columns
    BY NAME — renaming would silently read NULL from every registered
    file, so the commit refuses loudly instead."""
    import json as _json

    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(
        cat, "db.nm", schema, PartitionSpec(0, ()),
        properties={"schema.name-mapping.default": _json.dumps(
            [{"field-id": 1, "names": ["k"]},
             {"field-id": 2, "names": ["v"]}])})
    t.append(spark, spark.createDataFrame([(1, 10)], "k long, v long"))
    t = t.refresh()
    renamed = Schema(1, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "w", "long", False))))
    with pytest.raises(ValueError, match="name-mapping"):
        t.new_transaction().update_schema(renamed).commit_with_retry(
            lambda x: x.update_schema(renamed))
    # non-rename evolutions stay allowed (add a column)
    t = _evolve(t, tuple(t.metadata.current_schema().fields)
                + (NestedField(3, "c", "long", False),))
    assert "c" in t.scan(spark).columns


def test_orc_table_refuses_rename_and_eq_ref_drop(spark, tmp_path):
    """ORC files resolve columns by NAME (Spark has no ORC field-id
    matching): a rename would silently NULL the column in every live
    ORC file and a drop of an eq-delete-referenced column breaks the
    __hist recovery — both must refuse; widening promotion stays
    allowed (ORC upcasts int32 leaves)."""
    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False),
        NestedField(3, "f", "int", False))))
    t = Table.create(cat, "db.orc", schema, PartitionSpec(0, ()),
                     properties={"write.format.default": "orc"})
    t.append(spark, spark.createDataFrame(
        [(1, 10, 5), (2, 20, 6)], "k long, v long, f int"))
    t = t.refresh()
    fields = t.metadata.current_schema().fields
    renamed = Schema(1, StructTypeSpec(tuple(
        NestedField(f.field_id, "w" if f.name == "v" else f.name,
                    f.field_type, f.required) for f in fields)))
    with pytest.raises(ValueError, match="ORC"):
        t.new_transaction().update_schema(renamed).commit_with_retry(
            lambda x: x.update_schema(renamed))
    # eq-delete on v, then drop v -> refused while ORC files live
    t.delete_where_equal(spark, spark.createDataFrame([(20,)], ["v"]),
                         ["v"])
    t = t.refresh()
    dropped = Schema(1, StructTypeSpec(tuple(
        f for f in fields if f.name != "v")))
    with pytest.raises(ValueError, match="ORC"):
        t.new_transaction().update_schema(dropped).commit_with_retry(
            lambda x: x.update_schema(dropped))
    # promotion is fine on ORC
    t = _evolve(t, [NestedField(f.field_id, f.name,
                                "long" if f.name == "f" else f.field_type,
                                f.required)
                    for f in t.metadata.current_schema().fields])
    assert sorted((r.k, r.v, r.f) for r in t.scan(spark).collect()) \
        == [(1, 10, 5)]


def test_time_travel_survives_compaction(spark, tmp_path):
    """Replaced files stay on disk until expire_snapshots +
    remove_orphan_files: time travel to the pre-compaction snapshot
    keeps working (the reference purges immediately — opt into that
    with write.replace.purge-replaced-files)."""
    from iceberg_rust_archive_spark.maintenance import compact_table

    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(cat, "db.tt", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame([(1, 10)], "k long, v long"))
    t = t.refresh()
    s1 = t.metadata.current_snapshot().snapshot_id
    t.append(spark, spark.createDataFrame([(2, 20)], "k long, v long"))
    t = t.refresh()
    s2 = t.metadata.current_snapshot().snapshot_id
    compact_table(spark, t)
    t = t.refresh()
    assert sorted(r.k for r in
                  t.scan(spark, snapshot_id=s1).collect()) == [1]
    assert sorted(r.k for r in
                  t.scan(spark, snapshot_id=s2).collect()) == [1, 2]
    assert t.scan(spark).count() == 2


def test_expire_reclaims_compaction_replaced_files(spark, tmp_path):
    """The full lifecycle: compact defers physical deletion (time
    travel keeps working), expire_snapshots then reclaims exactly the
    files referenced ONLY by the dropped snapshots — files shared with
    kept snapshots survive."""
    import os as _os

    from iceberg_rust_archive_spark.maintenance import (
        compact_table, expire_snapshots,
    )

    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(cat, "db.exp", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame([(1, 10)], "k long, v long"))
    t = t.refresh()
    old_files = [p.replace("file:", "")
                 for p in t.scan(spark).inputFiles()]
    compact_table(spark, t)
    t = t.refresh()
    new_files = [p.replace("file:", "")
                 for p in t.scan(spark).inputFiles()]
    assert all(_os.path.exists(p) for p in old_files)   # deferred
    t = expire_snapshots(t, older_than_ms=int(1e18))    # expire all old
    assert sorted(r.k for r in t.scan(spark).collect()) == [1]
    assert all(not _os.path.exists(p) for p in old_files)  # reclaimed
    assert all(_os.path.exists(p) for p in new_files)      # current kept


def test_stream_initial_batch_null_vs_nan_eq_delete(spark, tmp_path):
    """The streaming eq-delete mask must keep NULL ≠ NaN (Spark's
    eqNullSafe): a NaN delete key kills only the NaN row, never the
    NULL row — pandas object-dtype merges conflate the two without
    sentinel canonicalization."""
    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "x", "double", False))))
    t = Table.create(cat, "db.nn", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame(
        [(1, None), (2, float("nan")), (3, 1.0)],
        "k long, x double").coalesce(1))
    t = t.refresh()
    t.delete_where_equal(
        spark, spark.createDataFrame([(float("nan"),)], "x double"),
        ["x"])
    t = t.refresh()
    want = sorted(tuple(r) for r in t.scan(spark).collect())
    assert sorted(r[0] for r in want) == [1, 3]  # batch scan baseline

    from iceberg_rust_archive_spark.streaming.source import (
        IcebergStreamSource,
    )
    spark.dataSource.register(IcebergStreamSource)
    import tempfile
    ckpt = tempfile.mkdtemp(dir=str(tmp_path))
    df = (spark.readStream.format("iceberg-archive")
          .option("catalog_root", str(tmp_path / "wh"))
          .option("identifier", "db.nn").load())
    q = (df.writeStream.format("memory").queryName("nn_stream")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in
                 spark.sql("SELECT * FROM nn_stream").collect())
    assert got == want


def test_nested_schema_evolution_legal_and_illegal(spark, tmp_path):
    """Nested evolution validates per nested field id: adding an
    optional struct member and widening int→long inside struct/list/
    map are LEGAL; narrowing a nested type or tightening a list
    element to required refuse at commit."""
    from iceberg_rust_archive_spark.spec.types import (
        ListTypeSpec, MapTypeSpec,
    )
    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "s", StructTypeSpec((
            NestedField(3, "a", "int", False),)), False),
        NestedField(4, "xs", ListTypeSpec(5, "int", False), False),
        NestedField(6, "m", MapTypeSpec(7, "string", 8, "float"),
                    False))))
    t = Table.create(cat, "db.nested_evo", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame(
        [(1, (10,), [1, 2], {"x": 1.5})],
        "k long, s struct<a:int>, xs array<int>, m map<string,float>"))
    t = t.refresh()

    # legal: widen s.a int→long, add optional s.b, widen list element
    # and map value
    good = Schema(1, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "s", StructTypeSpec((
            NestedField(3, "a", "long", False),
            NestedField(9, "b", "string", False))), False),
        NestedField(4, "xs", ListTypeSpec(5, "long", False), False),
        NestedField(6, "m", MapTypeSpec(7, "string", 8, "double"),
                    False))))
    t = _evolve(t, good.fields)
    row = t.scan(spark).collect()[0]
    assert row.s.a == 10 and row.s.b is None
    assert row.xs == [1, 2] and row.m == {"x": 1.5}

    # illegal: narrow nested long→int
    bad_narrow = Schema(2, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "s", StructTypeSpec((
            NestedField(3, "a", "int", False),
            NestedField(9, "b", "string", False))), False),
        NestedField(4, "xs", ListTypeSpec(5, "long", False), False),
        NestedField(6, "m", MapTypeSpec(7, "string", 8, "double"),
                    False))))
    with pytest.raises(ValueError, match="illegal type change"):
        t.new_transaction().update_schema(bad_narrow).commit_with_retry(
            lambda x: x.update_schema(bad_narrow))

    # illegal: tighten the list element to required
    bad_req = Schema(2, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "s", StructTypeSpec((
            NestedField(3, "a", "long", False),
            NestedField(9, "b", "string", False))), False),
        NestedField(4, "xs", ListTypeSpec(5, "long", True), False),
        NestedField(6, "m", MapTypeSpec(7, "string", 8, "double"),
                    False))))
    with pytest.raises(ValueError, match="required"):
        t.new_transaction().update_schema(bad_req).commit_with_retry(
            lambda x: x.update_schema(bad_req))


def test_field_id_recycling_refused(spark, tmp_path):
    """A new column reusing a historically dropped field id would
    resurrect the dropped column's values from old files via parquet
    field-id resolution — refused unless it is an exact re-add (same
    name and type, an intentional undrop)."""
    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t = Table.create(cat, "db.recycle", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame([(1, 10)], "k long, v long"))
    t = t.refresh()
    t = _evolve(t, [NestedField(1, "k", "long", True)])   # drop v

    # recycled id under a NEW name/type: refused
    bad = Schema(2, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "w", "string", False))))
    with pytest.raises(ValueError, match="recycled field id"):
        t.new_transaction().update_schema(bad).commit_with_retry(
            lambda x: x.update_schema(bad))

    # stale id below last_column_id that no schema ever used: refused
    t2 = _evolve(t, [NestedField(1, "k", "long", True),
                     NestedField(5, "z", "long", False)])
    bad2 = Schema(10, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(5, "z", "long", False),
        NestedField(3, "q", "long", False))))
    with pytest.raises(ValueError, match="never recycle"):
        t2.new_transaction().update_schema(bad2).commit_with_retry(
            lambda x: x.update_schema(bad2))

    # exact re-add (undrop): allowed, resurrects the old values
    undrop = Schema(3, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "v", "long", False))))
    t3 = t.refresh()
    t3.new_transaction().update_schema(undrop).commit_with_retry(
        lambda x: x.update_schema(undrop))
    t3 = t3.refresh()
    assert [(r.k, r.v) for r in t3.scan(spark).collect()] == [(1, 10)]


def test_stream_initial_batch_eq_delete_after_type_promotion(
        spark, tmp_path):
    """A float→double (and int→long) promotion between the delete
    commit and the stream start must not un-apply the delete: both
    the float32-written delete keys and the float32 data values cast
    to the current schema's arrow types (value-exact widening) before
    the mask join, mirroring the batch scan's Spark-side casts."""
    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "int", True),
        NestedField(2, "x", "float", False))))
    t = Table.create(cat, "db.promo_s", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame(
        [(1, 0.1), (2, 0.2), (3, 0.3)], "k int, x float").coalesce(1))
    t = t.refresh()
    # delete written at the FLOAT/INT types
    t.delete_where_equal(
        spark, spark.createDataFrame([(2,)], "k int"), ["k"])
    t = t.refresh()
    t.delete_where_equal(
        spark,
        spark.createDataFrame([(0.3,)], "x double")
        .selectExpr("cast(x as float) x"),
        ["x"])
    t = t.refresh()
    # promote int→long, float→double
    t = _evolve(t, [
        NestedField(1, "k", "long", True),
        NestedField(2, "x", "double", False)])
    want = sorted(tuple(r) for r in t.scan(spark).collect())
    assert [r[0] for r in want] == [1]  # batch scan baseline

    from iceberg_rust_archive_spark.streaming.source import (
        IcebergStreamSource,
    )
    spark.dataSource.register(IcebergStreamSource)
    import tempfile
    ckpt = tempfile.mkdtemp(dir=str(tmp_path))
    df = (spark.readStream.format("iceberg-archive")
          .option("catalog_root", str(tmp_path / "wh"))
          .option("identifier", "db.promo_s").load())
    q = (df.writeStream.format("memory").queryName("promo_stream")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in
                 spark.sql("SELECT * FROM promo_stream").collect())
    assert got == want


def test_eq_delete_across_decimal_precision_widening(spark, tmp_path):
    """r11 legalized decimal precision widening at the same scale; an
    equality delete written at the OLD precision must keep matching
    after the widen, and a NEW-precision delete must kill rows in
    old-precision files (both sides cast through the current schema)."""
    from decimal import Decimal

    from iceberg_rust_archive_spark.catalog import FileCatalog
    from iceberg_rust_archive_spark.spec import (
        NestedField, PartitionSpec, Schema, StructTypeSpec,
    )
    from iceberg_rust_archive_spark.table import Table

    cat = FileCatalog(str(tmp_path / "wh"))
    schema = Schema(0, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "amt", "decimal(10,2)", False))))
    t = Table.create(cat, "db.dec", schema, PartitionSpec(0, ()))
    t.append(spark, spark.createDataFrame(
        [(1, Decimal("1.50")), (2, Decimal("2.50")),
         (3, Decimal("3.50"))], "k long, amt decimal(10,2)"))
    t = t.refresh()
    t.delete_where_equal(spark, spark.createDataFrame(
        [(Decimal("2.50"),)], "amt decimal(10,2)"), ["amt"])
    t = t.refresh()
    widened = Schema(1, StructTypeSpec((
        NestedField(1, "k", "long", True),
        NestedField(2, "amt", "decimal(14,2)", False))))
    t.new_transaction().update_schema(widened).commit()
    t = t.refresh()
    assert sorted((r.k, str(r.amt)) for r in t.scan(spark).collect()) \
        == [(1, "1.50"), (3, "3.50")]
    t.append(spark, spark.createDataFrame(
        [(4, Decimal("4.50"))], "k long, amt decimal(14,2)"))
    t = t.refresh()
    t.delete_where_equal(spark, spark.createDataFrame(
        [(Decimal("1.50"),)], "amt decimal(14,2)"), ["amt"])
    t = t.refresh()
    assert sorted((r.k, str(r.amt)) for r in t.scan(spark).collect()) \
        == [(3, "3.50"), (4, "4.50")]
