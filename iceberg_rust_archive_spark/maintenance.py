"""Table maintenance operations.

``compact_table`` — rewrite the table's current contents into
target-sized data files and commit as a Replace. The scan applies
pending equality deletes, so compaction also *absorbs* delete files
(merge-on-read debt becomes zero) — after it, reads are pure data-file
scans again. Replaced files STAY on disk by default (the parent
snapshot still references them, so time travel and branch reads keep
working until ``expire_snapshots`` + ``remove_orphan_files`` reclaim
the bytes — Iceberg's contract); set
``write.replace.purge-replaced-files=true`` for the reference's
eager post-commit purge (transaction/mod.rs:377-379 →
table/mod.rs:359-411; it has no explicit compaction API, but a
100 TB deployment of this engine needs one: the streaming sink commits
one snapshot per micro-batch, and small files otherwise accumulate
without bound).

``expire_snapshots`` — drop snapshot metadata entries older than a
cutoff while keeping every snapshot still referenced by a branch/tag
ref (retention semantics of SnapshotReference, snapshot.rs:258-297).
Metadata-only: data files of expired snapshots that are still part of
the current state are untouched.

``remove_orphan_files`` — delete data files under the table location
that no live snapshot's manifests reference (left behind by failed
writes whose commit lost the CAS race, or by expired snapshots). An
``older_than_ms`` guard skips recently written files so an in-flight
append that has written data but not yet committed is never clobbered.
The referenced-file set is read driver-side from manifests (metadata is
O(files), small); at 100 TB the *listing* side is the expensive half —
above ``PARALLEL_LIST_THRESHOLD`` directories the walk fans out over
Spark executors.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import SparkSession

from iceberg_rust_archive_spark.table import Table

PARALLEL_LIST_THRESHOLD = 256


def compact_table(spark: SparkSession, table: Table,
                  branch: str | None = None) -> Table:
    """Rewrite current table state into fresh files (Replace commit)."""
    df = table.scan(spark, branch=branch)
    return table.overwrite(spark, df, branch=branch)


def rewrite_data_files(spark: SparkSession, table: Table,
                       small_ratio: float = 0.75,
                       min_input_files: int = 2,
                       filter: list | None = None,  # noqa: A002
                       branch: str | None = None) -> Table:
    """SELECTIVE bin-pack compaction (Iceberg's RewriteDataFiles): only
    files smaller than ``small_ratio × write.target-file-size-bytes``
    are rewritten; every right-sized file — and its manifest — carries
    over untouched. This is the production steady-state maintenance
    shape: on a 100 TB table a trickle-append workload leaves a tail of
    small files, and rewriting ONLY that tail costs O(tail), where
    ``compact_table`` would re-shuffle the entire table.

    ``filter`` (a list of ``Pred``) scopes the candidate set by the
    same partition/bounds pruning the scan uses — the "compact only
    yesterday's partition" knob: a nightly job touches one day's tail,
    never the table.

    Guard: live delete files make a selective rewrite unsafe (the
    rewritten rows' new sequence number escapes existing equality
    deletes) — the transaction layer refuses; run ``compact_table``
    (which absorbs deletes) first."""
    from iceberg_rust_archive_spark.predicates import prune_datafiles
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )
    from iceberg_rust_archive_spark.sources.readers import read_data_files
    from iceberg_rust_archive_spark.sources.write import write_datafiles
    from iceberg_rust_archive_spark.spec.manifest import (
        CONTENT_DATA, STATUS_DELETED,
    )
    from iceberg_rust_archive_spark.spec.types import spark_schema_for
    md = table.metadata
    snap = md.current_snapshot(branch)
    if snap is None:
        return table
    target = int(md.properties.get(
        "write.target-file-size-bytes", 512_000_000))
    threshold = int(target * small_ratio)
    ice_schema = md.current_schema(branch)
    if filter:
        from iceberg_rust_archive_spark.predicates import (
            localize_naive_tstz,
        )
        filter = localize_naive_tstz(  # noqa: A001 — mirror scan entry
            filter, ice_schema,
            spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC")
    small = []
    mlist = read_manifest_list(snap.manifest_list)
    for mle, entries in zip(
            mlist, read_manifests([m.manifest_path for m in mlist])):
        sp = md.partition_specs.get(mle.partition_spec_id,
                                    md.default_spec())
        for e in entries:
            if e.status == STATUS_DELETED \
                    or e.data_file.content != CONTENT_DATA:
                continue
            if (e.data_file.file_size_in_bytes or 0) >= threshold:
                continue
            if filter and not prune_datafiles(
                    filter, ice_schema, [e.data_file], sp):
                continue  # outside the requested scope
            small.append(e.data_file)
    if len(small) < min_input_files:
        return table
    schema = spark_schema_for(md.current_schema(branch).struct)
    df = read_data_files(
        spark, schema, [(f.file_path, f.file_format) for f in small],
        by_name="schema.name-mapping.default" in md.properties)
    # the actual bin-pack: land the tail in ceil(bytes/target) outputs
    # (without this, each tiny input partition re-emits its own file)
    import math as _math
    total = sum(f.file_size_in_bytes or 0 for f in small)
    df = df.repartition(max(1, _math.ceil(total / target)))
    files = write_datafiles(spark, md, df, branch=branch)
    removed = [f.file_path for f in small]

    def build(t):
        return t.rewrite_files(removed, files)
    build(table.new_transaction(branch)).commit_with_retry(build)
    return table.refresh()


def rewrite_partition(spark: SparkSession, table: Table,
                      filter: list,  # noqa: A002
                      branch: str | None = None,
                      _replans: int = 2) -> Table:
    """Partition-scoped, DELETE-ABSORBING compaction — the 100 TB
    maintenance shape between ``rewrite_data_files`` (refuses under
    live deletes) and ``compact_table`` (rewrites the whole table):
    rewrite ONLY the partitions selected by ``filter``, resolving
    merge-on-read and dropping the delete files scoped to them in the
    SAME commit, while every other partition's files and manifests
    carry over untouched. Cost is O(selected partitions), so a nightly
    "compact yesterday" job stays O(day) on a petabyte table.

    Scope rule: ``filter`` selects candidate files via the scan's
    conservative pruning, then the scope widens to EVERY live data
    file sharing a selected file's partition tuple — whole partitions
    move together, and rows are never filtered (the rewrite preserves
    each in-scope file's post-delete-resolution contents exactly).

    Delete handling:
    - equality deletes scoped to a rewritten partition are absorbed
      and dropped; a GLOBAL equality delete raises CommitFailedError
      (it applies to kept partitions too — dropping it loses deletes
      there, keeping it loses them here since the rewritten rows'
      higher sequence escapes it);
    - deletion vectors referencing a rewritten file are absorbed and
      dropped (the (puffin, offset) entry; the puffin bytes become
      orphans for remove_orphan_files);
    - position-delete parquet files SEEN at plan time are KEPT — their
      pairs name the dropped paths, which can never match again (dead
      weight that ``rewrite_position_deletes`` consolidates later) and
      may also name out-of-scope files that still need them. A
      position delete / DV that lands BETWEEN plan and commit and
      references a rewritten file fails the commit (the output was
      planned pre-delete), and this function re-plans from fresh
      metadata (bounded by ``_replans``).

    The transaction layer re-validates resurrection-freedom at commit
    time against fresh metadata (both directions — kept deletes vs
    rewritten partitions, absorbed deletes vs kept files), so a
    concurrent DELETE on the scoped partition fails the CAS retry
    instead of silently resurrecting rows.

    v3 row-lineage caveat: rewritten files get FRESH ``_row_id``
    ranges (see ``Table.scan(with_row_id=True)``) — row VALUES are
    preserved exactly, row IDENTITY is not; ``scan(with_row_id)``
    consumers must not correlate ids across this commit."""
    import json as _jsn
    import math as _math

    from iceberg_rust_archive_spark.operators.scan import scan
    from iceberg_rust_archive_spark.predicates import prune_datafiles
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )
    from iceberg_rust_archive_spark.sources.readers import is_dv
    from iceberg_rust_archive_spark.sources.write import write_datafiles
    from iceberg_rust_archive_spark.spec.manifest import (
        CONTENT_DATA, CONTENT_EQUALITY_DELETES, CONTENT_POSITION_DELETES,
        STATUS_DELETED,
    )
    md = table.metadata
    snap = md.current_snapshot(branch)
    if snap is None:
        return table

    def pkey(df_):
        return _jsn.dumps(df_.partition, sort_keys=True, default=str)

    schema = md.current_schema(branch)
    from iceberg_rust_archive_spark.predicates import localize_naive_tstz
    filter = localize_naive_tstz(  # noqa: A001 — mirror scan entry
        filter, schema,
        spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC")
    data, eq_dels, dvs = [], [], []
    seen_deletes: set = set()   # every delete entry live at PLAN time
    mlist = read_manifest_list(snap.manifest_list)
    for mle, entries in zip(
            mlist, read_manifests([m.manifest_path for m in mlist])):
        sp = md.partition_specs.get(mle.partition_spec_id,
                                    md.default_spec())
        for e in entries:
            if e.status == STATUS_DELETED:
                continue
            c = e.data_file.content
            if c != CONTENT_DATA:
                seen_deletes.add((e.data_file.file_path,
                                  e.data_file.content_offset))
            if c == CONTENT_DATA:
                data.append((e.data_file, sp))
            elif c == CONTENT_EQUALITY_DELETES:
                eq_dels.append(e.data_file)
            elif c == CONTENT_POSITION_DELETES and is_dv(e.data_file):
                dvs.append(e.data_file)

    scope_tuples = set()
    for df_, sp in data:
        if prune_datafiles(filter, schema, [df_], sp):
            scope_tuples.add(pkey(df_))
    in_scope = [df_ for df_, _sp in data if pkey(df_) in scope_tuples]
    if not in_scope:
        return table
    in_scope_paths = {f.file_path for f in in_scope}

    from iceberg_rust_archive_spark.catalog.base import CommitFailedError
    absorbed: set = set()
    for d in eq_dels:
        if all(v is None for v in d.partition.values()):
            raise CommitFailedError(
                "rewrite_partition cannot absorb the GLOBAL equality "
                f"delete {d.file_path} — it applies outside the scope "
                "too; compact_table absorbs globals")
        if pkey(d) in scope_tuples:
            absorbed.add((d.file_path, d.content_offset))
    for d in dvs:
        if d.referenced_data_file in in_scope_paths:
            absorbed.add((d.file_path, d.content_offset))

    resolved = scan(spark, md, branch=branch,
                    file_subset=in_scope_paths)
    target = int(md.properties.get(
        "write.target-file-size-bytes", 512_000_000))
    total = sum(f.file_size_in_bytes or 0 for f in in_scope)
    resolved = resolved.repartition(max(1, _math.ceil(total / target)))
    files = write_datafiles(spark, md, resolved, branch=branch)

    def build(t):
        return t.rewrite_files(sorted(in_scope_paths), files,
                               removed_deletes=absorbed,
                               seen_deletes=seen_deletes)
    try:
        build(table.new_transaction(branch)).commit_with_retry(build)
    except CommitFailedError:
        # a delete (or another rewrite) landed between plan and commit
        # in a way the stale plan cannot absorb — RE-PLAN from fresh
        # metadata; the rewrite is idempotent over the current state
        if _replans <= 0:
            raise
        return rewrite_partition(spark, table.refresh(), filter,
                                 branch, _replans=_replans - 1)
    return table.refresh()


ZORDER_BITS = 16  # per-dimension rank resolution (2-4 cols → ≤64-bit z)


def zorder_rewrite(spark: SparkSession, table: Table,
                   columns: list[str], branch: str | None = None) -> Table:
    """Rewrite the table clustered on the Z-order (Morton) curve over
    ``columns`` — multi-dimensional data locality so file-level min/max
    pruning (A3) works on EVERY listed column, not just a lexicographic
    leader. The standard remedy for "filter on either of two columns"
    workloads at 100 TB; Iceberg/Delta ship the same operation.

    Spark-first plan, all JVM-side expressions:
    1. one small agg computes per-column (min, max),
    2. each value maps to a ZORDER_BITS-bit rank by linear scaling
       (strings hash first — rank locality is meaningless for opaque
       text, but bit-interleaving still spreads files evenly),
    3. ranks interleave into the Morton key via shift/or folds,
    4. ``repartitionByRange(z)`` + sort-within gives contiguous curve
       segments per file → every file covers a small hyper-rectangle,
       so each column's bounds are tight,
    5. Replace commit (absorbs pending deletes like compact_table).

    The range shuffle moves each row once — same cost as any rewrite;
    the win is permanent pruning on all listed dimensions."""
    from pyspark.sql import functions as F
    df = table.scan(spark, branch=branch)
    schema = table.metadata.current_schema(branch)
    numeric = {"int", "long", "float", "double", "date",
               "timestamp", "timestamptz", "decimal"}
    # the interleaved key must fit 63 bits (JVM shiftleft masks the
    # shift amount mod 64, so an overflowing dimension would silently
    # WRAP and degrade clustering to noise): shrink per-dimension
    # resolution for wide column lists instead
    bits = min(ZORDER_BITS, 63 // max(len(columns), 1))
    if bits < 1:
        raise ValueError(f"too many z-order columns ({len(columns)})")

    stats = df.agg(*[f for c in columns
                     for f in (F.min(c).alias(f"lo_{c}"),
                               F.max(c).alias(f"hi_{c}"))]).collect()[0]

    import datetime as _dt

    def as_num(c: str, base: str):
        if base == "date":
            return F.unix_date(F.col(c)).cast("double")
        if base in ("timestamp", "timestamptz"):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        return F.col(c).cast("double")

    def num_lit(v, base: str) -> float:
        if base == "date":
            return float((v - _dt.date(1970, 1, 1)).days)
        if base in ("timestamp", "timestamptz"):
            epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            return (v - epoch).total_seconds() * 1e6
        return float(v)

    def rank(c: str):
        ftype = schema.field_by_name(c).field_type
        base = str(ftype).split("(")[0]
        lo, hi = stats[f"lo_{c}"], stats[f"hi_{c}"]
        if base in numeric and lo is not None and hi is not None \
                and lo != hi:
            lo_d, hi_d = num_lit(lo, base), num_lit(hi, base)
            scaled = ((as_num(c, base) - F.lit(lo_d)) / F.lit(hi_d - lo_d)
                      * ((1 << bits) - 1))
            return F.coalesce(scaled.cast("long"), F.lit(0))
        if base in numeric:
            return F.lit(0).cast("long")  # constant / empty column
        # opaque types: stable hash → even spread, no range semantics
        return F.pmod(F.xxhash64(F.col(c)), F.lit(1 << bits)) \
            .cast("long")

    # Morton interleave: z = fold over bit b, dim d of rank_d's bit b
    z = F.lit(0).cast("long")
    ranks = [rank(c) for c in columns]
    for b in range(bits):
        for d, r in enumerate(ranks):
            bit = F.shiftright(r, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(
                bit, b * len(columns) + d).cast("long"))
    clustered = (df.withColumn("__z", z)
                 .repartitionByRange(
                     spark.sparkContext.defaultParallelism, "__z")
                 .sortWithinPartitions("__z")
                 .drop("__z"))
    return table.overwrite(spark, clustered, branch=branch)


def rewrite_manifests(table: Table, branch: str | None = None) -> Table:
    """Regroup the current snapshot's manifest entries into ~√N
    manifests CLUSTERED BY PARTITION TUPLE — metadata-only compaction
    (no data file moves; entries carry STATUS_EXISTING with their
    original sequence numbers, so delete ordering is preserved).

    Why: commit-time bin-packing keeps manifests small, and the
    smallest-bounding-rectangle merge target slows locality decay, but
    hundreds of commits with interleaved partitions still leave each
    manifest spanning wide partition ranges — then manifest-list
    pruning (A2) keeps everything and every scan parses every manifest.
    Re-clustering restores tight FieldSummary rectangles; at 100 TB
    (thousands of manifests) this is the metadata analogue of data
    compaction, and it's pure driver work over O(files) rows."""
    import math

    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests, write_manifest,
        write_manifest_list,
    )
    from iceberg_rust_archive_spark.spec.manifest import (
        ManifestEntry, STATUS_DELETED, STATUS_EXISTING,
    )
    from iceberg_rust_archive_spark.spec.snapshot import Snapshot
    from iceberg_rust_archive_spark.transaction import new_snapshot_id

    md = table.metadata
    snap = md.current_snapshot(branch)
    if snap is None:
        return table
    metadata_dir = os.path.join(md.location, "metadata")
    import json as _json
    schema_json = _json.dumps(md.schemas[md.current_schema_id].to_json())

    # group live entries by (content, spec-id) — specs cannot mix
    groups: dict[tuple, list] = {}
    mlist = read_manifest_list(snap.manifest_list)
    for mle, entries in zip(mlist, read_manifests(
            [m.manifest_path for m in mlist])):
        for e in entries:
            if e.status == STATUS_DELETED:
                continue
            groups.setdefault((mle.content, mle.partition_spec_id),
                              []).append(
                ManifestEntry(STATUS_EXISTING, e.data_file, e.snapshot_id,
                              e.sequence_number, e.file_sequence_number))

    snap_id = new_snapshot_id()
    seq = md.last_sequence_number + 1
    new_list = []
    for (content, spec_id), entries in sorted(groups.items()):
        spec = md.partition_specs.get(spec_id, md.default_spec())
        pf_names = [f.name for f in spec.fields]
        # cluster: sort by partition tuple (None last per dim)
        entries.sort(key=lambda e: tuple(
            (e.data_file.partition.get(n) is None,
             e.data_file.partition.get(n))
            for n in pf_names))
        n_manifests = max(1, math.isqrt(len(entries)))
        chunk = math.ceil(len(entries) / n_manifests)
        for i in range(0, len(entries), chunk):
            new_list.append(write_manifest(
                metadata_dir, entries[i:i + chunk], spec_id, content,
                snap_id, seq, pf_names, schema_json))

    manifest_list_path = write_manifest_list(metadata_dir, snap_id, new_list)
    snapshot = Snapshot(
        snapshot_id=snap_id, sequence_number=seq,
        timestamp_ms=int(time.time() * 1000),
        manifest_list=manifest_list_path,
        summary={"operation": "replace",
                 "rewritten-manifests": str(len(new_list))},
        parent_snapshot_id=snap.snapshot_id,
        schema_id=md.current_schema_id)
    new_md = md.with_snapshot(snapshot, branch)
    table.catalog.update_tabular(table.identifier, new_md,
                                 table.metadata_location)
    return table.refresh()


def compute_partition_stats(spark: SparkSession, table: Table,
                            branch: str | None = None) -> Table:
    """Write the spec's **partition statistics file** for the current
    snapshot: one Parquet row per partition with the unified partition
    tuple (struct over every field name appearing in any spec; fields
    outside a row's own spec are null), ``spec_id``, and data/delete
    record+file counters. Registered under the table metadata's
    ``partition-statistics`` list; ``inspect('partitions')`` answers
    from this file when it matches the current snapshot, skipping the
    manifest walk.

    Scale: input is manifest rows (one per file, concurrent fetch) and
    output is one row per partition — metadata-proportional driver
    work, no Spark job at all."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )
    from iceberg_rust_archive_spark.spec.manifest import STATUS_DELETED

    md = table.metadata
    snap = md.current_snapshot(branch)
    if snap is None:
        return table
    mlist = read_manifest_list(snap.manifest_list)
    agg: dict = {}
    field_names: list[str] = []
    for mle, entries in zip(mlist, read_manifests(
            [m.manifest_path for m in mlist])):
        for e in entries:
            if e.status == STATUS_DELETED:
                continue
            part = e.data_file.partition
            for name in part:
                if name not in field_names:
                    field_names.append(name)
            key = (_json.dumps(part, sort_keys=True, default=str),
                   mle.partition_spec_id)
            row = agg.setdefault(key, {
                "partition": dict(part), "spec_id": mle.partition_spec_id,
                "data_record_count": 0, "data_file_count": 0,
                "total_data_file_size_in_bytes": 0,
                "position_delete_record_count": 0,
                "position_delete_file_count": 0,
                "equality_delete_record_count": 0,
                "equality_delete_file_count": 0})
            c = e.data_file.content
            if c == 0:
                row["data_record_count"] += e.data_file.record_count
                row["data_file_count"] += 1
                row["total_data_file_size_in_bytes"] += \
                    e.data_file.file_size_in_bytes or 0
            elif c == 1:
                row["position_delete_record_count"] += \
                    e.data_file.record_count
                row["position_delete_file_count"] += 1
            elif c == 2:
                row["equality_delete_record_count"] += \
                    e.data_file.record_count
                row["equality_delete_file_count"] += 1

    rows = [agg[k] for k in sorted(agg)]
    # unified tuple: every field name from any spec, null when absent
    parts = [{n: r["partition"].get(n) for n in field_names}
             for r in rows]
    cols: dict = {"partition": parts} if field_names else {}
    for c in ("spec_id", "data_record_count", "data_file_count",
              "total_data_file_size_in_bytes",
              "position_delete_record_count",
              "position_delete_file_count",
              "equality_delete_record_count",
              "equality_delete_file_count"):
        cols[c] = [r[c] for r in rows]
    tbl = pa.table(cols)
    path = os.path.join(
        md.location, "metadata",
        f"partition-stats-{snap.snapshot_id}-"
        f"{uuid.uuid4().hex[:12]}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    entry = {"snapshot-id": snap.snapshot_id, "statistics-path": path,
             "file-size-in-bytes": os.path.getsize(path)}
    txn = table.new_transaction(branch).set_partition_statistics(entry)
    txn.commit_with_retry(lambda t: t.set_partition_statistics(entry))
    return table.refresh()


def expire_snapshots(table: Table, older_than_ms: int,
                     now_ms: int | None = None) -> Table:
    """Snapshot expiry honoring per-ref retention (snapshot.rs:265-282
    ``SnapshotRetention``; the reference STORES these fields but never
    applies them — we finish the semantics):

    1. refs past their ``max_ref_age_ms`` (age of the snapshot they
       pin, relative to ``now_ms``) are dropped — except ``main``,
       which is never expired;
    2. each surviving BRANCH retains its ancestry while a snapshot is
       newer than the branch's ``max_snapshot_age_ms`` cutoff (default:
       the global ``older_than_ms``) OR within the most recent
       ``min_snapshots_to_keep`` (default 1) commits of the branch;
       tags retain exactly their pinned snapshot;
    3. any other snapshot with timestamp < ``older_than_ms`` expires.

    Rewrites table metadata via the catalog CAS. ``now_ms`` is
    injectable for deterministic tests."""
    import dataclasses
    md = table.metadata
    now = int(time.time() * 1000) if now_ms is None else now_ms

    refs = {}
    for name, r in md.refs.items():
        pinned = md.snapshots.get(r.snapshot_id)
        if (name != "main" and r.max_ref_age_ms is not None
                and pinned is not None
                and now - pinned.timestamp_ms > r.max_ref_age_ms):
            continue  # ref expired wholesale
        refs[name] = r

    keep_ids = set()
    current = md.current_snapshot()
    if current is not None:
        keep_ids.add(current.snapshot_id)
    for r in refs.values():
        keep_ids.add(r.snapshot_id)
        if r.ref_type != "branch":
            continue
        cutoff = (now - r.max_snapshot_age_ms
                  if r.max_snapshot_age_ms is not None else older_than_ms)
        min_keep = (r.min_snapshots_to_keep
                    if r.min_snapshots_to_keep is not None else 1)
        pos, sid = 0, r.snapshot_id
        while sid is not None and sid in md.snapshots:
            s = md.snapshots[sid]
            if pos < min_keep or s.timestamp_ms >= cutoff:
                keep_ids.add(sid)
            pos += 1
            sid = s.parent_snapshot_id

    kept = {sid: s for sid, s in md.snapshots.items()
            if sid in keep_ids or s.timestamp_ms >= older_than_ms}
    # statistics files are keyed by snapshot: entries for expired
    # snapshots leave the metadata and their Puffin files are deleted
    # with it (they live under metadata/, beyond orphan-removal's scope)
    kept_stats, dropped_stats = [], []
    for st in md.statistics:
        (kept_stats if st.get("snapshot-id") in kept
         else dropped_stats).append(st)
    kept_pstats = []
    for st in md.partition_statistics:
        (kept_pstats if st.get("snapshot-id") in kept
         else dropped_stats).append(st)
    new_md = dataclasses.replace(
        md, snapshots=kept, refs=refs, statistics=tuple(kept_stats),
        partition_statistics=tuple(kept_pstats),
        snapshot_log=tuple(e for e in md.snapshot_log
                           if e.get("snapshot-id") in kept))
    table.catalog.update_tabular(table.identifier, new_md,
                                 table.metadata_location)
    from iceberg_rust_archive_spark.object_store import store_for
    for st in dropped_stats:
        p = st.get("statistics-path")
        if p:
            try:
                store_for(p).remove(p)
            except FileNotFoundError:
                pass
    # Physically delete files referenced ONLY by the dropped snapshots
    # (Apache expire semantics — replaced files survive compaction for
    # time travel, so expiry is where their bytes are finally
    # reclaimed). Exact diff, no mtime guard needed: a file referenced
    # by any KEPT snapshot is provably still readable.
    dropped = [s for sid, s in md.snapshots.items() if sid not in kept]
    if dropped:
        from iceberg_rust_archive_spark.sources.manifests import (
            read_manifest_list, read_manifests,
        )
        from iceberg_rust_archive_spark.transaction import (
            _remove_physical,
        )

        def _files_of(snaps, strict):
            # the metadata CAS already committed, so nothing here may
            # fail the expiry. DROPPED snapshots read best-effort: a
            # missing/already-cleaned manifest list just means its
            # files stay behind as orphans for remove_orphan_files.
            # KEPT snapshots read strict — an unreadable kept list
            # means we cannot PROVE a file is still referenced, so the
            # caller skips physical deletion entirely rather than risk
            # deleting live data.
            out: set[str] = set()
            seen: set[str] = set()
            for s in snaps:
                if s.manifest_list in seen:
                    continue
                seen.add(s.manifest_list)
                try:
                    for entries in read_manifests(
                            [m.manifest_path for m in
                             read_manifest_list(s.manifest_list)]):
                        out |= {e.data_file.file_path for e in entries}
                except Exception:  # noqa: BLE001 — see above
                    if strict:
                        raise
            return out

        try:
            dead = _files_of(dropped, strict=False) \
                - _files_of(kept.values(), strict=True)
        except Exception:  # noqa: BLE001 — keep conservatively
            dead = set()
        if dead:
            _remove_physical(sorted(dead))
    return table.refresh()


def rewrite_position_deletes(spark: SparkSession, table: Table,
                             branch: str | None = None,
                             to_dv: bool = False) -> Table:
    """Merge the current snapshot's position-delete files into ONE
    sorted file (Iceberg's RewritePositionDeleteFiles): a streaming
    merge-on-read sink commits one small delete file per micro-batch,
    and every subsequent scan anti-joins the growing union. Merging
    dedups the (file_path, pos) pairs and drops pairs pointing at data
    files no longer live (superseded by compaction), so MoR read debt
    shrinks instead of accreting. Position deletes match by exact file
    path, so collapsing files of different sequence numbers into one
    new-sequence file cannot change which rows they hit — unlike
    equality deletes, whose sequence strata must be preserved
    (``compact_table`` absorbs those wholesale instead).

    Deletion vectors participate too: existing DV blobs are decoded
    executor-side and merged with parquet pairs, and ``to_dv=True``
    emits the merged result as one roaring bitmap per referenced data
    file in a single Puffin object (the v3 migration path) instead of
    one merged parquet file.

    Scale: pair merging is an executor-side distinct over skinny
    (path, pos) rows; only manifest metadata is handled driver-side."""
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests, write_manifest,
        write_manifest_list,
    )
    from iceberg_rust_archive_spark.sources.readers import is_dv, norm_path
    from iceberg_rust_archive_spark.sources.write import (
        write_position_deletes,
    )
    from iceberg_rust_archive_spark.spec.manifest import (
        CONTENT_POSITION_DELETES, ManifestEntry, STATUS_ADDED,
        STATUS_DELETED, STATUS_EXISTING,
    )
    from iceberg_rust_archive_spark.spec.snapshot import Snapshot
    from iceberg_rust_archive_spark.transaction import new_snapshot_id
    from pyspark.sql import functions as F

    md = table.metadata
    snap = md.current_snapshot(branch)
    if snap is None:
        return table
    keep_groups: dict[tuple, list] = {}
    pos_files: list = []
    dv_files: list = []
    live_paths: list[str] = []
    mlist = read_manifest_list(snap.manifest_list)
    for mle, entries in zip(mlist, read_manifests(
            [m.manifest_path for m in mlist])):
        for e in entries:
            if e.status == STATUS_DELETED:
                continue
            if e.data_file.content == CONTENT_POSITION_DELETES:
                if is_dv(e.data_file):
                    dv_files.append(e.data_file)
                else:
                    pos_files.append(e.data_file)
                continue
            if e.data_file.content == 0:
                live_paths.append(e.data_file.file_path)
            keep_groups.setdefault(
                (mle.content, mle.partition_spec_id), []).append(
                ManifestEntry(STATUS_EXISTING, e.data_file, e.snapshot_id,
                              e.sequence_number, e.file_sequence_number))
    if len(pos_files) + len(dv_files) <= 1 and not (to_dv and pos_files):
        return table  # nothing to merge

    from iceberg_rust_archive_spark.operators.scan import pos_delete_pairs
    live_df = spark.createDataFrame(
        [(norm_path(p),) for p in live_paths], "file_path string")
    pairs = (pos_delete_pairs(spark, pos_files + dv_files)
             .select(F.col("__fp").alias("file_path"),
                     F.col("__pos").alias("pos"))
             .dropDuplicates(["file_path", "pos"])
             .join(live_df, "file_path"))  # drop superseded targets
    if to_dv:
        from iceberg_rust_archive_spark.sources.write import (
            write_deletion_vectors,
        )
        new_files = write_deletion_vectors(spark, md, pairs)
    else:
        new_files = write_position_deletes(spark, md, pairs)

    snap_id = new_snapshot_id()
    seq = md.last_sequence_number + 1
    metadata_dir = os.path.join(md.location, "metadata")
    import json as _json
    schema_json = _json.dumps(md.schemas[md.current_schema_id].to_json())
    new_list = []
    for (content, spec_id), entries in sorted(keep_groups.items()):
        spec = md.partition_specs.get(spec_id, md.default_spec())
        pf_names = [f.name for f in spec.fields]
        new_list.append(write_manifest(
            metadata_dir, entries, spec_id, content, snap_id, seq,
            pf_names, schema_json))
    del_entries = [ManifestEntry(STATUS_ADDED, f, snap_id, seq, seq)
                   for f in new_files]
    new_list.append(write_manifest(
        metadata_dir, del_entries, md.default_spec().spec_id, 1,
        snap_id, seq, [f.name for f in md.default_spec().fields],
        schema_json))

    manifest_list_path = write_manifest_list(metadata_dir, snap_id,
                                             new_list)
    snapshot = Snapshot(
        snapshot_id=snap_id, sequence_number=seq,
        timestamp_ms=int(time.time() * 1000),
        manifest_list=manifest_list_path,
        summary={"operation": "replace",
                 "merged-position-delete-files": str(len(pos_files))},
        parent_snapshot_id=snap.snapshot_id,
        schema_id=md.current_schema_id)
    new_md = md.with_snapshot(snapshot, branch)
    if any(f.file_format == "puffin" for f in new_files) \
            and new_md.format_version < 3:
        # deletion vectors are a v3 construct — converting parquet
        # position deletes to DVs bumps format-version with the commit
        # (same gate as Transaction.commit, INCLUDING the explicit
        # 'format-version' pin: maintenance must not convert a
        # pinned-v2 table behind the user's back)
        from iceberg_rust_archive_spark.catalog.base import (
            CommitFailedError,
        )
        pin = str(new_md.properties.get("format-version", "")).strip()
        if pin and int(float(pin)) < 3:
            raise CommitFailedError(
                "rewrite_position_deletes to deletion vectors requires "
                f"format-version 3, but the table pins {pin}; unset "
                "the 'format-version' property or keep parquet "
                "position deletes")
        import dataclasses as _dc
        new_md = _dc.replace(new_md, format_version=3)
    table.catalog.update_tabular(table.identifier, new_md,
                                 table.metadata_location)
    return table.refresh()


def rollback_to_snapshot(table: Table, snapshot_id: int,
                         branch: str | None = None) -> Table:
    """Point the branch ref back at an earlier snapshot (Iceberg's
    rollback_to_snapshot procedure / set-snapshot-ref update): a
    metadata-only commit — no data or manifest movement — after which
    scans resolve the old state and new appends parent onto it. The
    abandoned snapshots stay readable by id until expiry."""
    import dataclasses

    from iceberg_rust_archive_spark.spec.snapshot import SnapshotReference

    md = table.metadata
    if md.snapshot_by_id(snapshot_id) is None:
        raise ValueError(f"no snapshot {snapshot_id}")
    name = branch or "main"
    old = md.refs.get(name)
    if old is not None and old.ref_type != "branch":
        raise ValueError(f"ref {name} is a tag; tags are immutable")
    new_refs = dict(md.refs)
    new_refs[name] = SnapshotReference(
        snapshot_id, "branch",
        *( (old.min_snapshots_to_keep, old.max_snapshot_age_ms,
            old.max_ref_age_ms) if old is not None else (None, None, None)))
    new_md = dataclasses.replace(md, refs=new_refs)
    table.catalog.update_tabular(table.identifier, new_md,
                                 table.metadata_location)
    return table.refresh()


def _orphan_norm(p: str) -> str:
    """Canonical form for referenced-vs-listed path comparison: scheme
    paths (memory://, s3://, …) compare verbatim; local paths drop a
    ``file:`` prefix and absolutize."""
    import re
    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", p):
        return p
    return os.path.abspath(p.replace("file:", ""))


def remove_orphan_files(table: Table, older_than_ms: int | None = None,
                        spark: SparkSession | None = None) -> list[str]:
    """Delete unreferenced files under ``<location>/data``; returns the
    deleted paths. Files with mtime >= older_than_ms (default: 3h ago)
    are kept — they may belong to an uncommitted in-flight write.

    Listing and deletion route through the object-store layer
    (``store_for``), so a table located on memory:// or s3:// sweeps
    the same as a local one — the reference streams both through its
    generic object store (iceberg-rust/src/table/mod.rs:374-408). A
    store that cannot report mtime keeps the file (never deletes on
    unknown age). Local tables keep the Spark-parallelized directory
    walk for very wide layouts."""
    from iceberg_rust_archive_spark.object_store import store_for
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )
    if older_than_ms is None:
        older_than_ms = int(time.time() * 1000) - 3 * 3600 * 1000
    md = table.metadata
    referenced: set[str] = set()
    seen_lists: set[str] = set()
    for snap in md.snapshots.values():
        if snap.manifest_list in seen_lists:
            continue
        seen_lists.add(snap.manifest_list)
        for entries in read_manifests(
                [m.manifest_path
                 for m in read_manifest_list(snap.manifest_list)]):
            for e in entries:
                referenced.add(_orphan_norm(e.data_file.file_path))
    remote = bool(__import__("re").match(
        r"^[A-Za-z][A-Za-z0-9+.\-]*://", md.location)) \
        and not md.location.startswith("file:")
    candidates: list[str] = []
    if remote:
        data_dir = md.location.rstrip("/") + "/data"
        candidates = store_for(data_dir).list(data_dir)
    else:
        data_dir = os.path.join(md.location.replace("file:", ""), "data")
        dirs = [d for d, _, _ in os.walk(data_dir)] \
            if os.path.isdir(data_dir) else []
        if spark is not None and len(dirs) > PARALLEL_LIST_THRESHOLD:
            candidates = (
                spark.sparkContext.parallelize(dirs, min(len(dirs), 256))
                .flatMap(lambda d: [os.path.join(d, f)
                                    for f in os.listdir(d)
                                    if os.path.isfile(os.path.join(d, f))])
                .collect())
        else:
            for d in dirs:
                for f in os.listdir(d):
                    p = os.path.join(d, f)
                    if os.path.isfile(p):
                        candidates.append(p)
    removed = []
    for p in candidates:
        ap = _orphan_norm(p)
        if ap in referenced:
            continue
        try:
            if store_for(ap).mtime_ms(ap) >= older_than_ms:
                continue
        except NotImplementedError:
            continue  # unknown age → conservative keep
        except FileNotFoundError:
            continue  # raced away — already gone
        removed.append(ap)
    # concurrent deletes above a handful (the reference streams deletes
    # concurrently too, table/mod.rs:374-408): on object storage each
    # DELETE is an ~10ms round-trip — a 100k-orphan cleanup must not be
    # a 17-minute serial driver loop
    def _rm(ap):
        try:
            store_for(ap).remove(ap)
        except FileNotFoundError:
            pass
    if len(removed) > 64:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=32) as ex:
            list(ex.map(_rm, removed))
    else:
        for ap in removed:
            _rm(ap)
    return removed


def add_files(spark: SparkSession, table: Table, paths: list[str],
              fmt: str = "parquet", branch: str | None = None) -> Table:
    """Register EXISTING parquet/ORC files as table data files without
    rewriting a byte — Iceberg's ``add_files`` / table-migration shape
    (the on-ramp from a plain directory dataset into the metadata
    layer; at 100 TB a migrate MUST be metadata-only).

    Steps:
    1. stats harvest per file (footer read / Arrow reduction — the same
       executor-distributed path fresh writes use);
    2. for partitioned tables, ONE Spark job derives each file's
       partition tuple from its contents (`_metadata.file_path` group):
       a file whose rows span more than one partition value is refused
       — registering it would poison partition pruning;
    3. ordinary append commit (CAS, retried).

    The files must already match the table schema by name; they are
    NOT copied or moved, so they must live where the table's readers
    can reach them."""
    from pyspark.sql import functions as F

    from iceberg_rust_archive_spark.functions.transforms import (
        transform_column,
    )
    from iceberg_rust_archive_spark.sources.stats import harvest_files
    from iceberg_rust_archive_spark.spec.types import spark_schema_for
    md = table.metadata
    schema = md.current_schema(branch)
    spec = md.default_spec()
    partitions: dict[str, dict] = {p: {} for p in paths}
    if spec.fields:
        from iceberg_rust_archive_spark.sources.readers import (
            strip_field_ids,
        )
        # external files carry no field ids — resolve by name here too
        sschema = strip_field_ids(spark_schema_for(schema.struct))
        reader = spark.read.schema(sschema)
        d = reader.parquet(*paths) if fmt == "parquet" \
            else reader.orc(paths)
        from iceberg_rust_archive_spark.sources.readers import (
            raw_path_col,
        )
        d = d.withColumn("__fp",
                         raw_path_col(F.col("_metadata.file_path"),
                                      paths=paths))
        aggs = []
        for pf in spec.fields:
            src = schema.field_by_id(pf.source_id)
            ftype = (src.field_type if isinstance(src.field_type, str)
                     else "string")
            if pf.transform == "identity" and ftype == "timestamptz":
                # collect() renders TimestampType in the session zone;
                # the internal tuple repr for timestamps is epoch micros
                # (timezone-free) — compute it executor-side.
                c = F.unix_micros(F.col(src.name))
            else:
                c = transform_column(pf.transform, src.name, ftype)
            aggs += [F.countDistinct(c).alias(f"__n_{pf.name}"),
                     F.first(c).alias(f"__v_{pf.name}")]
        rows = d.groupBy("__fp").agg(*aggs).collect()
        by_fp = {r["__fp"]: r for r in rows}
        for p in paths:
            ap = os.path.abspath(p)
            r = by_fp.get(ap)
            if r is None:
                raise ValueError(f"{p}: no rows read (missing file?)")
            tup = {}
            for pf in spec.fields:
                if r[f"__n_{pf.name}"] > 1:
                    raise ValueError(
                        f"{p} spans multiple {pf.name!r} partition "
                        "values — rewrite it instead of registering")
                v = r[f"__v_{pf.name}"]
                import datetime as _dt
                if isinstance(v, _dt.date):
                    epoch = _dt.date(1970, 1, 1)
                    v = (v - epoch).days if pf.transform == "day" else v
                tup[pf.name] = v
            partitions[p] = tup
    field_ids = {f.name: f.field_id for f in schema.fields}
    files = harvest_files(spark, [(p, partitions[p]) for p in paths],
                          field_ids,
                          no_trunc_fids=frozenset(
                              f.field_id for f in schema.fields
                              if f.field_type == "uuid"))
    # registered files carry no embedded field ids → record the spec's
    # name-mapping property so every scan resolves columns BY NAME
    # (Iceberg's schema.name-mapping.default contract). Caveat vs the
    # full spec: our reader applies CURRENT names, so renaming a column
    # after registering external files requires rewriting them
    # (rewrite_data_files / compact) first.
    import json as _json
    props = {}
    if "schema.name-mapping.default" not in md.properties:
        props["schema.name-mapping.default"] = _json.dumps(
            [{"field-id": f.field_id, "names": [f.name]}
             for f in schema.fields])

    def build(t):
        t = t.append_files(files)
        return t.set_properties(props) if props else t
    build(table.new_transaction(branch)).commit_with_retry(build)
    return table.refresh()


def fast_forward(table: Table, to_branch: str,
                 from_branch: str = "main") -> Table:
    """Publish a staged branch: point ``from_branch`` (default main) at
    ``to_branch``'s head — Iceberg's ``fast_forward`` procedure, the
    final step of the write-audit-publish (WAP) pattern. A staging job
    commits to an audit branch, validation reads it, and publishing is
    this METADATA-ONLY ref move (no data rewrite, no re-commit race
    with the staging job).

    Guarded like git: the target branch's ancestry must contain the
    source's current head (a true fast-forward). A diverged source
    branch raises — publishing would silently drop its commits; rebase
    by re-staging instead."""
    import dataclasses

    from iceberg_rust_archive_spark.spec.snapshot import SnapshotReference

    md = table.metadata
    src = md.refs.get(from_branch)
    dst = md.refs.get(to_branch)
    if dst is None:
        raise ValueError(f"no such branch {to_branch!r}")
    if dst.ref_type != "branch":
        raise ValueError(f"{to_branch!r} is a tag")
    if src is not None:
        # walk dst ancestry; src head must appear (fast-forward check)
        sid = dst.snapshot_id
        ok = False
        while sid is not None and sid in md.snapshots:
            if sid == src.snapshot_id:
                ok = True
                break
            sid = md.snapshots[sid].parent_snapshot_id
        if not ok:
            raise ValueError(
                f"{from_branch!r} is not an ancestor of "
                f"{to_branch!r} — not a fast-forward")
    new_refs = dict(md.refs)
    keep = (src.min_snapshots_to_keep, src.max_snapshot_age_ms,
            src.max_ref_age_ms) if src is not None else (None, None, None)
    new_refs[from_branch] = SnapshotReference(
        dst.snapshot_id, "branch", *keep)
    new_md = dataclasses.replace(md, refs=new_refs)
    table.catalog.update_tabular(table.identifier, new_md,
                                 table.metadata_location)
    return table.refresh()
