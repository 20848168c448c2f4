"""Iceberg table scan → Spark DataFrame (SURVEY §2 A1-A8, A35).

Pipeline (mirrors datafusion_iceberg/src/table.rs:265-728):
1. resolve snapshot (branch / snapshot-id / as-of-timestamp / seq range),
2. read the manifest list; partition-level pruning on FieldSummary bounds,
3. read surviving manifests; file-level pruning on column min/max + nulls,
4. split data vs equality-delete files; files newer than every delete
   become one bulk read (the delete-free FileScanConfig,
   table.rs:694-727), older files take ONE pass — per-entry (sequence,
   partition) tags via a broadcast path join, then per distinct
   equality-id set one delete read (its tags looked up by file path)
   and one anti-join with the sequence/scope comparisons as residual
   join conditions (A5 semantics of table.rs:498-531,631-641 with a
   plan whose relations do not grow with the delete debt),
5. residual filter re-applied above the scan (inexact semantics, A7) and
   projection pushed into Spark (A6 — Catalyst prunes parquet columns).

All metadata steps are driver-side Python over small manifest rows; the
returned DataFrame is lazy, so Catalyst still sees a plain parquet relation
list and applies its own pushdown/row-group pruning on top.
"""

from __future__ import annotations

import dataclasses as _dc
import json
from collections import defaultdict
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_rust_archive_spark.predicates import (
    Pred, localize_naive_tstz, prune_datafiles, prune_manifests,
    to_spark_filter,
)
from iceberg_rust_archive_spark.session import local_frame
from iceberg_rust_archive_spark.sources.manifests import (
    read_manifest_list, read_manifests,
)
from iceberg_rust_archive_spark.sources.readers import (
    is_dv, norm_path, read_data_files,
)
from iceberg_rust_archive_spark.spec.manifest import (
    CONTENT_DATA, CONTENT_EQUALITY_DELETES, CONTENT_POSITION_DELETES,
    STATUS_DELETED,
)
from iceberg_rust_archive_spark.spec.table_metadata import TableMetadata
from iceberg_rust_archive_spark.spec.types import (
    StructTypeSpec, spark_schema_for,
)

# concurrent fetch (sources/manifests.py) shared with commit-rebuild and
# maintenance paths; old private name kept for existing callers/tests
_read_manifests = read_manifests

# auto plan-mode switches to executor-side planning at this many
# manifests; overridable per table via the read.plan-mode /
# read.plan.distributed-min-manifests properties. The stress probe
# (tools/stress.py distributed_plan_latency) puts the local-FS
# crossover near 256 manifests × 64 entries (local 4.4s vs
# distributed 1.7s at 512×64); object stores cross earlier because
# the local path also pays per-manifest RTTs, so the default sits
# between the two regimes.
DISTRIBUTED_PLAN_MIN_MANIFESTS = 128


def _entry_filter(entries, start_seq):
    """Shared per-entry admission rule for both plan modes: drop
    tombstoned entries and (for incremental reads) old sequences."""
    for e in entries:
        if e.status == STATUS_DELETED:
            continue
        if start_seq >= 0 and (e.sequence_number or 0) <= start_seq:
            continue
        yield e


# DV sets whose total blob bytes fit under this decode driver-side —
# one local createDataFrame instead of a Python-RDD job per scan. At
# ~1.75 bytes/position this is ≈150k deleted rows; the result was
# going to be broadcast into the anti-join anyway, so materializing it
# on the driver costs nothing extra while saving a full Python worker
# round-trip on every statement that scans the table.
DV_DRIVER_DECODE_MAX_BYTES = 256 * 1024

# Decoded driver-side DV pair DataFrames, keyed by the exact blob
# descriptor set. Puffin blobs are immutable (a DV rewrite lands a NEW
# path/offset), so the same descriptors always decode to the same
# pairs — and a DML session scans the table once per STATEMENT, paying
# blob read + roaring decode + Arrow ship each time without this.
from collections import OrderedDict as _ODict  # noqa: E402

_DV_PAIRS_CACHE: "_ODict[tuple, tuple]" = _ODict()
_DV_PAIRS_CACHE_MAX = 8


def dv_pairs_df(spark: SparkSession, dv_files: list) -> DataFrame:
    """Decode deletion-vector DataFiles (content=1,
    file_format='puffin') into a ``(__fp, __pos)`` pair DataFrame.
    Small DV sets (≤ DV_DRIVER_DECODE_MAX_BYTES of blob bytes) decode
    DRIVER-side into one local DataFrame; larger sets ship (puffin_path,
    offset, length, referenced_file) descriptors to executors and
    expand in parallel where the anti-join needs them."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    descs = [(d.file_path, d.content_offset, d.content_size_in_bytes,
              d.referenced_data_file) for d in dv_files]
    schema = StructType([StructField("__fp", StringType()),
                         StructField("__pos", LongType())])
    if not descs:
        return local_frame(spark, [], schema)
    total = sum((sz or 0) for _p, _o, sz, _r in descs)
    if total <= DV_DRIVER_DECODE_MAX_BYTES:
        import weakref
        key = tuple(descs)
        ent = _DV_PAIRS_CACHE.get(key)
        if ent is not None and ent[0]() is spark:
            _DV_PAIRS_CACHE.move_to_end(key)
            return ent[1]
        from iceberg_rust_archive_spark.object_store import store_for
        from iceberg_rust_archive_spark.sources.roaring import (
            deserialize_positions,
        )
        pairs = set()
        for path, off, ln, ref in descs:
            blob = store_for(path).read_bytes(path)[off:off + ln]
            pairs.update((ref, p) for p in deserialize_positions(blob))
        # one Arrow batch: a row-list pays per-row schema verification
        # + py4j pickling (~0.6s per 34k pairs, ON EVERY statement that
        # scans the table)
        import pyarrow as pa
        rows = sorted(pairs)
        df = local_frame(spark, pa.table({
            "__fp": pa.array([r[0] for r in rows], pa.string()),
            "__pos": pa.array([r[1] for r in rows], pa.int64())}),
            schema)
        _DV_PAIRS_CACHE[key] = (weakref.ref(spark), df)
        while len(_DV_PAIRS_CACHE) > _DV_PAIRS_CACHE_MAX:
            _DV_PAIRS_CACHE.popitem(last=False)
        return df

    def decode(it):
        from iceberg_rust_archive_spark.object_store import store_for
        from iceberg_rust_archive_spark.sources.roaring import (
            deserialize_positions,
        )
        for path, off, ln, ref in it:
            blob = store_for(path).read_bytes(path)[off:off + ln]
            for p in deserialize_positions(blob):
                yield (ref, p)

    sc = spark.sparkContext
    rdd = sc.parallelize(descs, max(1, min(len(descs),
                                           sc.defaultParallelism))) \
        .mapPartitions(decode)
    return spark.createDataFrame(rdd, schema)


def pos_delete_pairs(spark: SparkSession, delete_files: list,
                     with_format: bool = False) -> DataFrame:
    """``(__fp, __pos)`` pairs named by position-delete DataFiles:
    parquet position-delete files and deletion vectors (puffin) in one
    frame, not deduplicated. ``with_format`` adds ``__fmt``, the
    format of the file that named the pair. An empty list yields an
    empty frame."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    pq = [f.file_path for f in delete_files if not is_dv(f)]
    dv = [f for f in delete_files if is_dv(f)]
    parts = {}
    if pq:
        parts["parquet"] = (
            spark.read.schema(StructType([
                StructField("file_path", StringType()),
                StructField("pos", LongType())])).parquet(*pq)
            .select(F.regexp_replace("file_path", "^file:/+", "/")
                    .alias("__fp"), F.col("pos").alias("__pos")))
    if dv or not parts:
        parts["puffin"] = dv_pairs_df(spark, dv)
    return reduce(DataFrame.unionByName, [
        df.withColumn("__fmt", F.lit(fmt)) if with_format else df
        for fmt, df in parts.items()])


def eq_delete_keys(spark: SparkSession, fields: list, entries: list,
                   seq: bool = False, scope=None) -> DataFrame:
    """The rows of one equality-id set's delete files as ONE relation:
    the key ``fields`` renamed ``__del_<name>``. ``seq`` adds
    ``__del_seq``, the row's delete sequence number; ``scope`` (entry →
    partition key, None for a global delete) adds ``__del_pk``. Both
    tags are literal-map lookups on the row's file path, so the plan
    stays one relation however many sequence numbers the files carry;
    a global file has no key in the scope map and looks up NULL. A
    delete file planned twice applies at its newest sequence."""
    tags: dict[str, tuple] = {}
    for e in sorted(entries, key=lambda e: e.sequence_number or 0):
        tags[norm_path(e.data_file.file_path)] = (
            e.sequence_number or 0, scope(e) if scope else None)
    d = read_data_files(
        spark, spark_schema_for(StructTypeSpec(tuple(fields))),
        dict.fromkeys((e.data_file.file_path, e.data_file.file_format)
                      for e in entries),
        with_fp=seq or scope is not None)

    def by_path(pairs):
        # keys and values each ship as ONE numpy-array literal: a map of
        # per-file F.lit pairs costs two py4j calls per delete file
        ks, vs = zip(*pairs) if pairs else ((), ())
        return F.element_at(F.map_from_arrays(
            F.lit(np.array(ks, dtype=str)), F.lit(np.array(vs))),
            F.col("__fp"))
    cols = [F.col(f.name).alias(f"__del_{f.name}") for f in fields]
    if seq:
        cols.append(by_path([(fp, t[0]) for fp, t in tags.items()])
                    .alias("__del_seq"))
    if scope is not None:
        # a global delete file has no key in the map: NULL scope
        cols.append(by_path([(fp, t[1]) for fp, t in tags.items()
                             if t[1] is not None])
                    .cast("string").alias("__del_pk"))
    return d.select(*cols)


def plan_mode_used(md, mlist) -> str:
    """'local' or 'distributed' — the read.plan-mode property, with
    auto resolving by surviving-manifest count."""
    mode = str(md.properties.get("read.plan-mode", "auto")).lower()
    if mode in ("local", "distributed"):
        return mode
    min_m = int(md.properties.get(
        "read.plan.distributed-min-manifests",
        DISTRIBUTED_PLAN_MIN_MANIFESTS))
    return "distributed" if len(mlist) >= min_m else "local"


def plan_manifest_entries(spark, md, mlist, preds, schema, start_seq):
    """Read surviving manifests and prune data files, returning
    ``(data: [(entry, spec_id)], eq_deletes: [entry], pos_deletes:
    [entry])``.

    Two physical strategies behind one contract (gated by the
    ``read.plan-mode`` table property: ``auto``/``local``/
    ``distributed``):

    - **local** — concurrent driver-side fetch (the reference's
      unordered stream, iceberg-rust/src/table/mod.rs:313-356) plus a
      Python pruning loop. Right up to a few dozen manifests.
    - **distributed** — one Spark job over the manifest paths: each
      task parses its manifests and prunes with that manifest's own
      partition spec, shipping back only SURVIVING entries with their
      column bounds stripped (bounds exist to be pruned on; once a
      file survives they are dead weight on the wire). At 100 TB —
      thousands of manifests, millions of file rows — planning cost
      becomes one parallel metadata job instead of a driver loop, and
      driver traffic is proportional to the PRUNED file list (which
      the driver needs anyway to build the parquet relation).

    Delete files are never pruned (every delete must apply — A5).
    """
    mode = plan_mode_used(md, mlist)

    specs = dict(md.partition_specs)
    default_spec = md.default_spec()

    if mode == "distributed" and mlist:
        tasks = [(m.manifest_path, m.partition_spec_id) for m in mlist]
        sc = spark.sparkContext
        n_slices = max(1, min(len(tasks), sc.defaultParallelism * 2))

        def plan_part(it):
            from dataclasses import replace as _dc_replace

            from iceberg_rust_archive_spark.predicates import (
                prune_datafiles as _prune,
            )
            from iceberg_rust_archive_spark.sources.manifests import (
                read_manifest as _read,
            )
            for path, sid in it:
                sp = specs.get(sid, default_spec)
                entries = list(_entry_filter(_read(path), start_seq))
                data = [e for e in entries
                        if e.data_file.content == CONTENT_DATA]
                kept_files = set(id(f) for f in _prune(
                    preds, schema, [e.data_file for e in data], sp))
                for e in entries:
                    c = e.data_file.content
                    if c == CONTENT_DATA:
                        if id(e.data_file) in kept_files:
                            slim = _dc_replace(e.data_file,
                                               lower_bounds={},
                                               upper_bounds={})
                            yield ("d", sid, _dc_replace(e, data_file=slim))
                    elif c == CONTENT_EQUALITY_DELETES:
                        yield ("e", sid, e)
                    elif c == CONTENT_POSITION_DELETES:
                        yield ("p", sid, e)

        rows = sc.parallelize(tasks, n_slices).mapPartitions(
            plan_part).collect()
        data = [(e, sid) for kind, sid, e in rows if kind == "d"]
        eq = [e for kind, _sid, e in rows if kind == "e"]
        pos = [e for kind, _sid, e in rows if kind == "p"]
        return data, eq, pos

    # local: concurrent fetch, then prune grouped by originating spec so
    # partition-value checks use the right transform per file (A3)
    data_pairs, eq, pos = [], [], []
    all_entries = read_manifests([m.manifest_path for m in mlist])
    for mle, mentries in zip(mlist, all_entries):
        for e in _entry_filter(mentries, start_seq):
            if e.data_file.content == CONTENT_DATA:
                data_pairs.append((e, mle.partition_spec_id))
            elif e.data_file.content == CONTENT_EQUALITY_DELETES:
                eq.append(e)
            elif e.data_file.content == CONTENT_POSITION_DELETES:
                pos.append(e)
    kept = set()
    by_spec: dict[int, list] = defaultdict(list)
    for e, sid in data_pairs:
        by_spec[sid].append(e)
    for sid, entries in by_spec.items():
        sp = specs.get(sid, default_spec)
        kept |= set(id(f) for f in prune_datafiles(
            preds, schema, [e.data_file for e in entries], sp))
    data = [(e, sid) for e, sid in data_pairs if id(e.data_file) in kept]
    return data, eq, pos


def _resolve_entries(md: TableMetadata, branch, snapshot_id, as_of_ms,
                     from_snapshot_id):
    """Snapshot-range resolution incl. incremental reads (A4:
    table/mod.rs:200-234 — keep entries with start_seq < seq ≤ end_seq)."""
    if snapshot_id is not None:
        snap = md.snapshot_by_id(snapshot_id)
    elif as_of_ms is not None:
        snap = md.snapshot_as_of_ms(as_of_ms)
    else:
        snap = md.current_snapshot(branch)
    if snap is None:
        return None, [], 0, None
    start_seq = -1
    if from_snapshot_id is not None:
        start = md.snapshot_by_id(from_snapshot_id)
        if start is not None:
            start_seq = start.sequence_number
            # a replace commit in the range rewrites ALL files at a new
            # sequence number — an incremental read would re-emit the
            # whole table as "new rows". Refuse loudly (Iceberg's
            # incremental scan contract for overwrite snapshots);
            # consumers resync from a full scan.
            s_ = snap
            while s_ is not None and s_.sequence_number > start_seq:
                if (s_.summary or {}).get("operation") == "replace":
                    from iceberg_rust_archive_spark.sources.manifests \
                        import replace_touches_data
                    if replace_touches_data(s_):
                        raise ValueError(
                            f"incremental read range spans a replace "
                            f"commit (snapshot {s_.snapshot_id}); rows "
                            "cannot be attributed — resync from a full "
                            "scan")
                    # delete-file-only rewrite: data files carry over
                    # as EXISTING entries at their ORIGINAL sequence
                    # numbers, so the seq-range filter below still
                    # yields exactly the appended rows — safe to span
                s_ = (md.snapshots.get(s_.parent_snapshot_id)
                      if s_.parent_snapshot_id is not None else None)
    mlist = read_manifest_list(snap.manifest_list)
    if start_seq >= 0:
        mlist = [m for m in mlist if m.sequence_number > start_seq]
    return snap, mlist, start_seq, snap.schema_id


# tables already warned about this process (one line per table, not
# per scan) — keyed by table uuid
_TRANSFORM_SPACE_WARNED: set = set()
_TRANSFORM_SPACE_PROP = "engine.transform-space"


def _guard_transform_space(md: TableMetadata, schema, preds):
    """Legacy-ordinal guard for month/bucket partition pruning (r15
    ADVICE). r14 aligned both transforms to the Iceberg spec's ordinal
    space (month = months-since-1970-01; bucket = sign-masked murmur3
    over the 8-byte-LE widening); a durable table written by a pre-r14
    build — or by the reference, values.rs:112,362 and 857-861 — holds
    ordinals from a DIFFERENT space that are indistinguishable ints,
    and exact pruning against them silently loses rows.

    Policy, keyed on the ``engine.transform-space`` table property
    stamped at create time:
    - ``spec``: prune normally (every table this engine creates).
    - ``legacy-reference``: predicates over month/bucket source
      columns turn ``no_prune`` — files are read and the residual
      filter applies, trading pruning for correctness.
    - unstamped + month/bucket fields in any spec: assume spec space
      (pyiceberg/Java/Trino tables are unstamped and conformant) but
      warn ONCE per table so an adopted pre-r14 table is a visible
      decision, not a silent lost-rows hazard."""
    if not preds:
        return preds
    risky = {pf.source_id for sp in md.partition_specs.values()
             for pf in sp.fields
             if pf.transform == "month"
             or pf.transform.startswith("bucket")}
    if not risky:
        return preds
    stamp = (md.properties or {}).get(_TRANSFORM_SPACE_PROP)
    if stamp == "spec":
        return preds
    names = {f.name for i in risky
             if (f := schema.field_by_id(i)) is not None}
    if stamp == "legacy-reference":
        return [Pred(p.column, p.op, p.value, True)
                if p.column in names else p for p in preds]
    # warn-once key: table_uuid, else location — NOT id(md), which
    # CPython recycles after GC (either suppressing the warning for a
    # different table or re-warning the same one; r15 verdict #3)
    key = getattr(md, "table_uuid", None) or md.location
    if key not in _TRANSFORM_SPACE_WARNED and any(
            p.column in names for p in preds):
        _TRANSFORM_SPACE_WARNED.add(key)
        import warnings
        warnings.warn(
            f"table {md.location} has month/bucket partition fields but "
            f"no '{_TRANSFORM_SPACE_PROP}' property; assuming "
            "spec-space ordinals for pruning. If this table was written "
            "by a pre-r14 build of this engine (or by "
            "JanKaul/iceberg-rust), run ALTER TABLE <name> SET "
            f"TBLPROPERTIES ('{_TRANSFORM_SPACE_PROP}'="
            "'legacy-reference') to disable exact month/bucket pruning, "
            "or set it to 'spec' to silence this warning.",
            stacklevel=3)
    return preds


def scan(spark: SparkSession, md: TableMetadata,
         filter: list[Pred] | None = None,     # noqa: A002
         columns: list[str] | None = None,
         branch: str | None = None, snapshot_id: int | None = None,
         as_of_ms: int | None = None,
         from_snapshot_id: int | None = None,
         report: dict | None = None,
         expose_pos: bool = False,
         expose_fp: bool = False,
         with_row_id: bool = False,
         file_subset: set | None = None) -> DataFrame:
    """``report``, when passed, is filled in place with planning
    metrics (the reference's ScanMetrics role): manifest/file counts
    before and after each pruning level, bytes planned, delete-file
    counts, and the plan mode — the numbers that tell an operator
    whether a 100 TB query will touch 40 files or 40,000 BEFORE any
    Spark job runs.

    ``expose_pos`` keeps the ``__fp``/``__pos`` physical-address helper
    columns (normalized file path + parquet row ordinal) in the output
    instead of dropping them after the pos-delete anti-join. Used by
    ``Table.delete_where_pos`` so the hit set is computed over the full
    merge-on-read resolution — a row already killed by a live equality
    or position delete can never produce a fresh (path, pos) pair.
    ``expose_fp`` keeps ``__fp`` alone (any file format; no row
    ordinal is read).

    ``with_row_id`` materializes the v3 row-lineage ``_row_id`` column
    (spec §Row Lineage): each data file's assigned first-row-id plus
    the row's ordinal. Scale shape: a two-column (path, base) relation
    — one row per planned FILE, not per data row — broadcast-joined on
    the normalized path, so the add costs one broadcast hash join and
    zero shuffles. Files with no assigned lineage (written before the
    table reached v3) yield NULL."""
    from iceberg_rust_archive_spark.session import ensure_read_confs
    ensure_read_confs(spark)  # field-id resolution on any caller's session
    preds = filter or []
    snap, mlist, start_seq, schema_id = _resolve_entries(
        md, branch, snapshot_id, as_of_ms, from_snapshot_id)
    schema = md.schemas.get(schema_id, md.schemas[md.current_schema_id]) \
        if schema_id is not None else md.schemas[md.current_schema_id]
    spark_schema = spark_schema_for(schema.struct)
    spec = md.default_spec()
    # Naive timestamp literals on timestamptz columns mean SESSION-zone
    # wall time (Spark's own parser semantics); localize them to UTC
    # instants once so pruning and the residual agree with Spark under
    # any session timezone (see localize_naive_tstz).
    preds = localize_naive_tstz(
        preds, schema,
        spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC")
    preds = _guard_transform_space(md, schema, preds)

    if report is not None:
        report.clear()
        report.update({
            "snapshot_id": snap.snapshot_id if snap else None,
            "manifests_total": len(mlist), "manifests_pruned": 0,
            "data_files_planned": 0, "data_bytes_planned": 0,
            "equality_delete_files": 0, "position_delete_files": 0,
            "plan_mode": None})

    if snap is None:
        df = local_frame(spark, [], spark_schema)
        if with_row_id:
            from pyspark.sql.types import LongType
            df = (df.withColumn("_row_id", F.lit(None).cast(LongType()))
                    .withColumn("_last_updated_sequence_number",
                                F.lit(None).cast(LongType())))
        return df.select(*columns) if columns else df

    # A2: partition-level pruning over manifest-list rows, each manifest
    # under the spec it was WRITTEN with — after spec evolution old
    # manifests carry old-layout summaries (partition.rs: specs are
    # id-addressed precisely so readers resolve per-manifest)
    def spec_of(mle):
        return md.partition_specs.get(mle.partition_spec_id, spec)
    n_manifests = len(mlist)
    mlist = [m for m in mlist
             if m in prune_manifests(preds, spec_of(m), schema, [m])]

    # A3: manifest read + file-level pruning (data files only; deletes
    # must all apply) — executor-side above the manifest-count gate
    planned, delete_entries, pos_delete_entries = plan_manifest_entries(
        spark, md, mlist, preds, schema, start_seq)
    data_entries = [e for e, _sid in planned]
    if file_subset is not None:
        # restrict to an explicit file list (maintenance's partition-
        # scoped compaction reads WHOLE files post-merge-on-read, so no
        # row-level residual may apply — callers pass no preds); the
        # full delete set still applies: out-of-scope deletes are
        # partition-disjoint no-ops, in-scope ones resolve the rows
        data_entries = [e for e in data_entries
                        if e.data_file.file_path in file_subset]

    if report is not None:
        report.update({
            "manifests_pruned": n_manifests - len(mlist),
            "data_files_planned": len(data_entries),
            "data_bytes_planned": sum(
                e.data_file.file_size_in_bytes or 0 for e in data_entries),
            "equality_delete_files": len(delete_entries),
            "position_delete_files": len(pos_delete_entries),
            "plan_mode": plan_mode_used(md, mlist)})

    if from_snapshot_id is not None:
        delete_entries = []  # incremental append reads new data only (A22)
        pos_delete_entries = []

    # Position deletes (content=1) name exact (file_path, ordinal) pairs,
    # so one global anti-join applies them: a path written after the
    # delete can never match, which encodes the sequence rule for free.
    # The reference PANICS on this content type (datafusion_iceberg/src/
    # table.rs:422-425); Spark's _metadata.row_index virtual column makes
    # merge-on-read natural, so we support it as a parity superset.
    has_pos = bool(pos_delete_entries) or expose_pos or with_row_id
    # helper columns the caller keeps in the output
    kept = ["__fp", "__pos"] if expose_pos else ["__fp"] if expose_fp \
        else []
    dropped = [c for c in ("__fp", "__pos") if c not in kept]

    # tables holding add_files-registered external files (no embedded
    # field ids) carry the name-mapping property → resolve BY NAME
    by_name = "schema.name-mapping.default" in md.properties

    # Equality-delete ids DROPPED from the scan schema: a dropped
    # column must not un-apply a delete (silent row resurrection), and
    # resolving only the still-present subset of a delete's eq set
    # would over-delete. Recover each missing field from the newest
    # historical schema still carrying it (metadata retains every
    # schema) and read it back as a hidden ``__hist_<fid>`` column —
    # parquet field-id resolution matches it in files written before
    # the drop; later files yield NULL, which the sequence residual
    # (data seq < delete seq) already excludes.
    hist_fields: dict[int, object] = {}
    if delete_entries:
        present = {f.field_id for f in schema.fields}
        missing: set[int] = set()
        for _de in delete_entries:
            missing |= set(_de.data_file.equality_ids or ()) - present
        for fid in sorted(missing):
            for s_ in sorted(md.schemas.values(),
                             key=lambda s: -s.schema_id):
                f_ = s_.field_by_id(fid)
                if f_ is not None:
                    hist_fields[fid] = _dc.replace(
                        f_, name=f"__hist_{fid}", required=False)
                    break
            else:
                raise ValueError(
                    f"equality delete references field id {fid} not "
                    f"found in any schema of the table metadata")
    if hist_fields and by_name:
        # name-mapping tables resolve columns BY NAME (add_files-
        # registered files carry no embedded field ids), so the
        # __hist_<fid> helper column can never match any file — the
        # delete would silently stop applying and rows would
        # resurrect. Refuse loudly (commit-side _check_orc_evolution
        # blocks creating this state; this guards tables that already
        # carry it).
        raise ValueError(
            f"cannot scan: equality delete(s) reference dropped field "
            f"id(s) {sorted(hist_fields)} but this table carries "
            "schema.name-mapping.default (reads resolve by NAME, so "
            "the dropped column cannot be recovered by field id) — "
            "compact the merge-on-read debt first")
    if hist_fields:
        spark_schema = spark_schema_for(StructTypeSpec(
            tuple(schema.fields) + tuple(hist_fields.values())))

    # v3 initial-defaults: fields added with DEFAULT fill rows from
    # files that PREDATE the column. A file "has" the field iff its
    # harvested per-column stats know the field id (our writer records
    # stats for every schema column, so absence == written before the
    # column existed) — an explicit NULL stored after the ADD COLUMN is
    # preserved, which a blanket coalesce would destroy.
    dflt_fields = [(f.name, f.field_id, f.initial_default, f.field_type)
                   for f in schema.fields
                   if getattr(f, "initial_default", None) is not None]

    def read_data(entries: list, with_fp: bool = False) -> DataFrame:
        # format-aware (DataFile.file_format — parquet/ORC may mix after
        # a write.format.default flip); __fp/__pos address rows for
        # position deletes and row lineage, __fp alone carries the
        # equality-delete tags
        def _read(es):
            return read_data_files(
                spark, spark_schema,
                [(e.data_file.file_path, e.data_file.file_format)
                 for e in es], with_fp=with_fp or expose_fp,
                with_pos=has_pos,
                by_name=by_name)
        if not dflt_fields:
            return _read(entries)
        groups: dict[frozenset, list] = defaultdict(list)
        for e in entries:
            known = set((e.data_file.value_counts or {})) \
                | set((e.data_file.null_value_counts or {}))
            absent = frozenset(
                name for name, fid, _d, _t in dflt_fields
                if known and fid not in known)
            groups[absent].append(e)
        parts = []
        for absent, es in groups.items():
            d = _read(es)
            for name, _fid, dv, ftype in dflt_fields:
                if name in absent:
                    d = d.withColumn(
                        name, F.lit(dv).cast(
                            spark_schema[name].dataType))
            parts.append(d)
        return reduce(DataFrame.unionByName, parts)

    def apply_pos_deletes(d: DataFrame) -> DataFrame:
        """Anti-join the (file_path, pos) delete pairs, drop helpers.
        Pairs come from parquet position-delete files AND deletion
        vectors (v3 bitmaps, decoded executor-side) — unioned, deduped,
        one anti-join.

        Broadcast only while the delete set is provably small (sum of
        delete-file bytes ≤ 64 MB); a bulk-deleted 100 TB table falls
        back to a shuffle anti-join, which scales with the delete set."""
        pairs = pos_delete_pairs(
            spark, [e.data_file for e in pos_delete_entries])
        del_bytes = sum(e.data_file.file_size_in_bytes or 0
                        for e in pos_delete_entries)
        if del_bytes <= 64 * 1024 * 1024:
            # no dedup on the broadcast path: an anti-join's result is
            # unaffected by duplicate build rows, and the dropDuplicates
            # aggregate costs a shuffle that Catalyst REPLICATES into
            # every union branch when it pushes the anti-join down
            # (measured 3× per multi-stratum MoR scan). Overlap bloat
            # is bounded by the ≤64 MB gate.
            pairs = F.broadcast(pairs)
        else:
            # large sets shuffle-anti-join; dedup first so the shuffle
            # carries each killed (file, pos) once
            pairs = pairs.dropDuplicates(["__fp", "__pos"])
        d = d.join(pairs, on=["__fp", "__pos"], how="left_anti")
        return d if with_row_id else d.drop(*dropped)

    # A5: equality-delete merge-on-read (table.rs:498-531). An equality
    # delete at sequence s kills rows of data files with sequence < s
    # (strictly earlier), scoped to the delete file's partition tuple
    # unless that tuple is global (_is_global). The plan holds the same
    # relations whatever the delete debt: one read of the affected files
    # (older than the newest delete), one of the clear files, and per
    # distinct equality-id set one delete read and ONE anti-join, with
    # the sequence/scope comparisons as residual join conditions.
    #
    # NOTE the all-None tuple: the Avro manifest's r102 record is typed
    # from the table spec, so a partition-LESS delete file ({} at write
    # time) reads back as {field: None, ...} — treat it as global; the
    # writer (sources/write.py) only scopes a delete when the partition
    # source is among the equality columns, so an all-None scoped
    # delete would restrict to null-source rows via the null-safe join
    # anyway, and global application is the same row set.
    def pkey(e):
        return json.dumps(e.data_file.partition, sort_keys=True, default=str)

    # partition-field names whose tuple value is the raw string (identity/
    # truncate on a string source) — the carriers of the pre-r16
    # __HIVE_DEFAULT_PARTITION__ conflation (see sources/write.py
    # _EMPTY_MARKER): data files written before the fix hold their
    # empty-string rows under a NULL tuple
    _str_part_names = {
        pf.name
        for sp in md.partition_specs.values()
        for pf in sp.fields
        if (pf.transform == "identity"
            or pf.transform.startswith("truncate"))
        and getattr(schema.field_by_id(pf.source_id),
                    "field_type", None) == "string"
    }

    def _is_global(e):
        part = e.data_file.partition
        if all(v is None for v in part.values()):
            return True
        # r16: a delete scoped to an EMPTY-STRING tuple (or to the
        # literal default-partition string, conflated the same way)
        # applies globally — a pre-r16 data file keeps those rows
        # under a NULL tuple, so the scope residual would skip the
        # file and the delete would silently un-apply (no rescue:
        # deletes are semantics, not pruning). Scope itself IS only
        # pruning — the null-safe key anti-join does the row
        # matching — so widening to global is always sound.
        return any(v in ("", "__HIVE_DEFAULT_PARTITION__")
                   and k in _str_part_names
                   for k, v in part.items())

    max_del_seq = max((e.sequence_number or 0 for e in delete_entries),
                      default=0)
    affected = [e for e in data_entries
                if (e.sequence_number or 0) < max_del_seq]
    clear = [e for e in data_entries
             if (e.sequence_number or 0) >= max_del_seq]
    parts: list[DataFrame] = []
    if affected:
        any_scoped = any(not _is_global(e) for e in delete_entries)
        # one delete sequence, all global (the post-compaction common
        # case, the reference's simple case table.rs:631-641): every
        # affected file is older than every delete, so the rule reduces
        # to the key match and neither side carries tags
        tagged = any_scoped or len(
            {e.sequence_number or 0 for e in delete_entries}) > 1
        if tagged:
            # (sequence, partition-key) tags attach by ONE broadcast
            # hash join on the normalized path: one row per planned
            # ENTRY, never per data row. Each distinct path is read
            # once, so a file planned twice yields one copy per entry,
            # each with its own tags.
            d = read_data(list({e.data_file.file_path: e
                                for e in affected}.values()),
                          with_fp=True)
            from pyspark.sql.types import (
                LongType, StringType, StructField, StructType,
            )
            tag_fields = [StructField("__fp", StringType()),
                          StructField("__dseq", LongType())]
            if any_scoped:
                tag_fields.append(StructField("__pk", StringType()))
            tags = local_frame(spark, [
                (norm_path(e.data_file.file_path), e.sequence_number or 0)
                + ((pkey(e),) if any_scoped else ())
                for e in affected], StructType(tag_fields))
            d = d.join(F.broadcast(tags), on="__fp", how="inner")
        else:
            d = read_data(affected)
        # Iceberg equality deletes compare with *null-safe* equality (a
        # NULL in the delete row matches a NULL in the data row), so a
        # plain ``on=names`` anti-join would silently keep matched rows
        # containing NULLs; eqNullSafe keys keep it an equi hash join.
        # Broadcast only provably-small delete sets (the reference
        # forces CollectLeft likewise, table.rs:631-641); a bulk delete
        # falls back to a shuffle anti-join that scales with the set.
        by_eq: dict[tuple, list] = defaultdict(list)
        for de in delete_entries:
            by_eq[tuple(de.data_file.equality_ids or ())].append(de)
        for eq_ids, des in by_eq.items():
            # present fields keep their scan-schema name; dropped ones
            # resolve to the __hist_<fid> helper read above
            eq_fields = [schema.field_by_id(i) or hist_fields[i]
                         for i in eq_ids]
            if not eq_fields:
                continue
            keys = eq_delete_keys(
                spark, eq_fields, des, seq=tagged,
                scope=(lambda e: None if _is_global(e) else pkey(e))
                if any_scoped else None)
            if sum(g.data_file.file_size_in_bytes or 0
                   for g in des) <= 64 * 1024 * 1024:
                keys = F.broadcast(keys)
            cond = None
            for f in eq_fields:
                term = F.col(f.name).eqNullSafe(F.col(f"__del_{f.name}"))
                cond = term if cond is None else cond & term
            if tagged:
                cond = cond & (F.col("__dseq") < F.col("__del_seq"))
            if any_scoped:
                cond = cond & (F.col("__del_pk").isNull()
                               | (F.col("__del_pk") == F.col("__pk")))
            d = d.join(keys, on=cond, how="left_anti")
        if tagged:
            d = d.drop("__dseq", "__pk",
                       *([] if has_pos or expose_fp else ["__fp"]))
        parts.append(d)
    if clear:
        parts.append(read_data(clear))

    if not parts:
        df = local_frame(spark, [], spark_schema)
        if kept or with_row_id:
            from pyspark.sql.types import LongType, StringType
            df = df.withColumn("__fp", F.lit(None).cast(StringType()))
            if expose_pos or with_row_id:
                df = df.withColumn("__pos", F.lit(None).cast(LongType()))
    else:
        df = reduce(DataFrame.unionByName, parts)
        if pos_delete_entries:
            df = apply_pos_deletes(df)
    if hist_fields:
        df = df.drop(*[f.name for f in hist_fields.values()])

    if with_row_id:
        # v3 row lineage: one (path, first-row-id, data-sequence) row
        # per planned file, broadcast onto the data by normalized path
        # — _row_id = base + ordinal (NULL base → NULL), and
        # _last_updated_sequence_number is the file's data sequence
        # number (rows are immutable within a file; row-modifying
        # operations write NEW files, so the file's sequence IS the
        # row's last update)
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )
        base_rows = [(norm_path(e.data_file.file_path),
                      e.data_file.first_row_id,
                      e.sequence_number)
                     for e in data_entries]
        base_df = local_frame(
            spark, base_rows, StructType([
                StructField("__fp", StringType()),
                StructField("__rid_base", LongType()),
                StructField("__file_seq", LongType())]))
        df = (df.join(F.broadcast(base_df), on="__fp", how="left")
                .withColumn("_row_id",
                            F.col("__rid_base") + F.col("__pos"))
                .withColumnRenamed("__file_seq",
                                   "_last_updated_sequence_number")
                .drop("__rid_base"))
        df = df.drop(*dropped)

    residual = to_spark_filter(preds)
    if residual is not None:
        df = df.filter(residual)
    if columns:
        extra = kept + (["_row_id", "_last_updated_sequence_number"]
               if with_row_id else [])
        df = df.select(*(list(columns) + extra) if extra else columns)

    # A9→planner: feed harvested manifest statistics into Spark's join
    # planning the way the reference's TableProvider::statistics feeds
    # DataFusion's CBO (datafusion_iceberg/src/statistics.rs:20-146).
    # Spark can't see through a MoR anti-join chain to size the table
    # until AQE observes the first shuffle, so a provably-small
    # post-pruning scan REPORTS broadcastability; the consumer that
    # can see a join (engine._run_select) attaches the hint there.
    # Attaching it here looked free but was not: Catalyst strips an
    # unapplied hint with a HintErrorLogger warning, so every
    # single-table scan polluted the logs and buried real hint
    # failures (r14 verdict #3).
    total_bytes = sum(e.data_file.file_size_in_bytes or 0
                      for e in data_entries)
    thr = _broadcast_threshold(spark)
    if 0 < total_bytes <= thr or (thr > 0 and not data_entries):
        if report is not None:
            report["broadcastable"] = True
        # also tagged on the DataFrame object itself so join-aware
        # consumers without a report in hand (plans/mv.py bind_and_run)
        # can attach the hint — a plain Python attribute, invisible to
        # Spark
        df._ice_broadcastable = True
    return df


def broadcast_if_small(df: DataFrame) -> DataFrame:
    """Attach a broadcast hint iff ``scan`` proved this frame small —
    the PUBLIC seam of the ``_ice_broadcastable`` tag (and of
    ``report['broadcastable']``) for direct ``Table.scan()`` API
    consumers who join a small merge-on-read scan themselves: Spark's
    own size estimate cannot see through the MoR anti-join chain until
    AQE observes the first shuffle, so without the tag a provably-tiny
    dimension table plans a sort-merge join. Apply it only to a frame
    that will actually feed a join — Catalyst strips an unapplied hint
    with a HintErrorLogger warning on every run. No-op on frames the
    planner could not prove small."""
    if getattr(df, "_ice_broadcastable", False):
        return F.broadcast(df)
    return df


def _broadcast_threshold(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes (-1 = disabled)."""
    raw = str(spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10485760")).strip().lower()
    mult = 1
    for suf, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                   ("tb", 1024**4), ("k", 1024), ("m", 1024**2),
                   ("g", 1024**3), ("t", 1024**4), ("b", 1)):
        if raw.endswith(suf):
            raw, mult = raw[:-len(suf)], m
            break
    try:
        return int(float(raw)) * mult
    except ValueError:
        return 10 * 1024 * 1024
