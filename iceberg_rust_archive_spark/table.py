"""Table façade (iceberg-rust/src/table/mod.rs:47-53): catalog identifier +
metadata + scan/write/transaction entry points."""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession

from iceberg_rust_archive_spark.catalog.base import Catalog
from iceberg_rust_archive_spark.operators.scan import (
    eq_delete_keys, pos_delete_pairs, scan as _scan,
)
from iceberg_rust_archive_spark.predicates import Pred
from iceberg_rust_archive_spark.session import local_frame, materialized
from iceberg_rust_archive_spark.spec.manifest import (
    CONTENT_EQUALITY_DELETES,
)
from iceberg_rust_archive_spark.spec.partition import PartitionSpec
from iceberg_rust_archive_spark.spec.schema import Schema
from iceberg_rust_archive_spark.spec.sort import SortOrder
from iceberg_rust_archive_spark.spec.table_metadata import TableMetadata
from iceberg_rust_archive_spark.sources.readers import (
    is_dv, norm_path, read_data_files,
)
from iceberg_rust_archive_spark.sources.write import write_datafiles
from iceberg_rust_archive_spark.spec.types import iceberg_to_spark_type
from iceberg_rust_archive_spark.transaction import Transaction

# every kind ``Table.inspect`` serves; SQL reads them as ``ns.t.<kind>``
METADATA_TABLES = ("snapshots", "history", "refs", "manifests", "files",
                   "entries", "partitions", "position_deletes",
                   "all_manifests", "all_files", "all_entries",
                   "metadata_log_entries")


def _project_by_id(d: DataFrame, from_schema: Schema,
                   to_schema: Schema) -> DataFrame:
    """Field-id layout projection: select ``to_schema``'s columns out of
    a DataFrame laid out per ``from_schema`` — renamed fields map by id,
    fields absent from ``from_schema`` fill with their v3
    ``initial_default`` (NULL when unset). Helper columns not in either
    schema are dropped."""
    from pyspark.sql import functions as F
    cols = []
    for f in to_schema.fields:
        src = from_schema.field_by_id(f.field_id)
        if src is not None:
            cols.append(F.col(src.name).alias(f.name))
        else:
            cols.append(F.lit(f.initial_default).cast(
                iceberg_to_spark_type(f.field_type)).alias(f.name))
    return d.select(*cols)


class Table:
    def __init__(self, catalog: Catalog, identifier: str,
                 metadata: TableMetadata,
                 metadata_location: str | None = None):
        self.catalog = catalog
        self.identifier = identifier
        self.metadata = metadata
        self.metadata_location = metadata_location \
            or catalog.metadata_location(identifier)

    # --- lifecycle -------------------------------------------------------
    @staticmethod
    def create(catalog: Catalog, identifier: str, schema: Schema,
               spec: PartitionSpec | None = None,
               sort_order: SortOrder | None = None,
               location: str | None = None,
               properties: dict | None = None) -> "Table":
        if location is None:
            base = getattr(catalog, "root", None) or "/tmp/iceberg-warehouse"
            location = f"{base}/{identifier.replace('.', '/')}"
        # stamp the transform ordinal space this engine writes (Iceberg
        # spec Appendix B: month = months-since-1970-01, bucket = masked
        # murmur3 over the long widening). Pre-r14 builds — and the
        # reference itself — wrote a DIFFERENT space for month/bucket;
        # the stamp lets the scan guard distinguish "spec-conformant"
        # from "unknown legacy" (see operators/scan.py
        # _guard_transform_space). Mark an adopted legacy table with
        # 'legacy-reference' to trade month/bucket pruning for
        # correctness.
        properties = {"engine.transform-space": "spec",
                      **(properties or {})}
        md = TableMetadata.new(location, schema, spec, sort_order, properties)
        catalog.create_tabular(identifier, md)
        # reload to observe server-assigned identity (uuid/location) —
        # REST servers own metadata materialization (catalog.rs:300-318);
        # for pointer catalogs this reads back the same document
        return Table(catalog, identifier, md).refresh()

    @staticmethod
    def load(catalog: Catalog, identifier: str) -> "Table":
        md, loc = catalog.load_tabular_with_location(identifier)
        if not isinstance(md, TableMetadata):
            raise TypeError(f"{identifier} is not a table")
        return Table(catalog, identifier, md, loc)

    def refresh(self) -> "Table":
        self.metadata, self.metadata_location = \
            self.catalog.load_tabular_with_location(self.identifier)
        return self

    # --- read ------------------------------------------------------------
    def scan(self, spark: SparkSession, filter: list[Pred] | None = None,  # noqa: A002
             columns: list[str] | None = None, branch: str | None = None,
             snapshot_id: int | None = None, as_of_ms: int | None = None,
             from_snapshot_id: int | None = None,
             report: dict | None = None,
             with_row_id: bool = False) -> DataFrame:
        """``with_row_id`` adds the v3 row-lineage ``_row_id`` metadata
        column (spec §Row Lineage): ``first-row-id + position`` for
        rows in files whose commit assigned lineage, NULL for files
        written before the table reached format-version 3.

        Broadcast contract: when the post-pruning planned bytes prove
        the scan small, ``report['broadcastable']`` is set True and the
        returned DataFrame carries an ``_ice_broadcastable`` tag (a
        plain Python attribute). Spark's own size estimate cannot see
        through the merge-on-read anti-join chain until AQE observes
        the first shuffle, so an API caller who joins this scan against
        a large table should pass it through
        ``operators.scan.broadcast_if_small`` (or check the report) to
        get a BroadcastHashJoin up front; the engine's SQL surface and
        the MV refresher do this automatically. The hint is NOT
        attached here because Catalyst logs a HintErrorLogger warning
        for every hinted frame that never feeds a join.

        Lineage caveat: replace/rewrite commits (compaction,
        ``rewrite_partition``, full MV refresh) assign FRESH row-id
        ranges to their output files — full preservation would require
        materializing ``_row_id`` into the rewritten parquet, which
        this engine does not do — so ``_row_id`` is stable only
        between replace commits. Consumers needing identity across a
        rewrite must key on table columns (consistent with the
        'replace' operation label's resync contract)."""
        return _scan(spark, self.metadata, filter, columns, branch,
                     snapshot_id, as_of_ms, from_snapshot_id,
                     report=report, with_row_id=with_row_id)

    def _pruned_manifest_list(self, preds, schema, snap):
        from iceberg_rust_archive_spark.predicates import prune_manifests
        from iceberg_rust_archive_spark.sources.manifests import (
            read_manifest_list,
        )
        md = self.metadata
        spec = md.default_spec()
        return [m for m in read_manifest_list(snap.manifest_list)
                if m in prune_manifests(
                    preds, md.partition_specs.get(
                        m.partition_spec_id, spec), schema, [m])]

    def _walk_manifest_partials(self, spark, mlist, per_manifest):
        """Apply ``per_manifest(spec, entries) -> partial`` over every
        surviving manifest and return the partial list.  Below the
        plan-mode gate (``read.plan-mode`` / 128 manifests — the same
        gate ``scan`` uses) this is the driver's thread-pooled fetch:
        ZERO Spark jobs.  Above it, ONE Spark job maps the manifest
        paths and ships back only the per-manifest partials — at 100×
        manifest counts the metadata aggregates would otherwise
        bottleneck on the driver's fetch pool while ``scan`` had
        already gone distributed (operators/scan.py:172-240)."""
        from iceberg_rust_archive_spark.operators.scan import (
            plan_mode_used,
        )
        from iceberg_rust_archive_spark.sources.manifests import (
            read_manifests,
        )
        md = self.metadata
        specs = dict(md.partition_specs)
        default_spec = md.default_spec()
        if spark is not None and mlist \
                and plan_mode_used(md, mlist) == "distributed":
            tasks = [(m.manifest_path, m.partition_spec_id)
                     for m in mlist]
            sc = spark.sparkContext
            # chunkier than scan's planner split: a partial is a few
            # scalars, so per-task scheduling overhead dominates unless
            # each task walks a healthy batch of manifests
            n = max(1, min(sc.defaultParallelism * 2,
                           (len(tasks) + 15) // 16))

            def run(it):
                from iceberg_rust_archive_spark.sources.manifests import (
                    read_manifest,
                )
                for path, sid in it:
                    yield per_manifest(specs.get(sid, default_spec),
                                       list(read_manifest(path)))
            return sc.parallelize(tasks, n).mapPartitions(run).collect()
        return [per_manifest(specs.get(mle.partition_spec_id,
                                       default_spec), entries)
                for mle, entries in zip(mlist, read_manifests(
                    [m.manifest_path for m in mlist]))]

    def count(self, spark: SparkSession | None = None,
              filter: list[Pred] | None = None,  # noqa: A002
              branch: str | None = None,
              allow_scan: bool = True) -> int:
        """``count(*)`` from manifest metadata alone when provable —
        ZERO Spark jobs on a 100 TB table (the planner-statistics idea
        of datafusion_iceberg/src/statistics.rs:20-146 taken to its
        conclusion: record_count sums ARE the answer when no delete
        files are live and every surviving file either fully matches
        the predicate or was pruned away).  Above the plan-mode gate
        the manifest walk itself runs as one distributed metadata job
        (``_walk_manifest_partials``).

        Fallback: any live delete file, or a file only PARTIALLY
        covered by the predicate, makes the metadata count inexact —
        then the real scan runs (pass ``spark``; ``spark=None`` — or
        ``allow_scan=False``, which still lets ``spark`` drive the
        distributed walk — raises instead so callers can assert the
        fast path was taken)."""
        from iceberg_rust_archive_spark.predicates import (
            file_fully_matches, prune_datafiles,
        )
        from iceberg_rust_archive_spark.spec.manifest import (
            CONTENT_DATA, STATUS_DELETED,
        )
        preds = filter or []
        md = self.metadata
        schema = md.current_schema(branch)
        snap = md.current_snapshot(branch)
        if snap is None:
            return 0
        if preds:
            from iceberg_rust_archive_spark.predicates import (
                localize_naive_tstz,
            )
            preds = localize_naive_tstz(
                preds, schema,
                (spark.conf.get("spark.sql.session.timeZone", "UTC")
                 if spark is not None else "UTC") or "UTC")
            from iceberg_rust_archive_spark.operators.scan import (
                _guard_transform_space,
            )
            preds = _guard_transform_space(md, schema, preds)
        mlist = self._pruned_manifest_list(preds, schema, snap)

        def part(sp, entries):
            inexact, total, residual = False, 0, []
            for e in entries:
                if e.status == STATUS_DELETED:
                    continue
                f = e.data_file
                if f.content != CONTENT_DATA:
                    inexact = True  # merge-on-read pending
                    continue
                if not prune_datafiles(preds, schema, [f], sp):
                    continue
                if file_fully_matches(preds, schema, f):
                    total += f.record_count
                else:
                    residual.append((f.file_path, f.file_format))
            return inexact, total, residual

        partials = self._walk_manifest_partials(spark, mlist, part)
        exact = not any(p[0] for p in partials)
        total = sum(p[1] for p in partials)
        residual_files = [f for p in partials for f in p[2]]
        if exact and not residual_files:
            return total
        if spark is None or not allow_scan:
            raise ValueError(
                "metadata-only count is inexact here (live delete "
                "files or partially-matched data files) — pass a "
                "SparkSession to run the residual scan")
        if exact:
            # no deletes: only the BOUNDARY files (bounds straddle the
            # predicate) need reading — scan cost ∝ boundary set, not
            # the table; fully-matched files stay metadata-only
            from iceberg_rust_archive_spark.predicates import (
                to_spark_filter,
            )
            from iceberg_rust_archive_spark.session import (
                ensure_read_confs,
            )
            from iceberg_rust_archive_spark.spec.types import (
                spark_schema_for,
            )
            ensure_read_confs(spark)
            d = read_data_files(
                spark, spark_schema_for(schema.struct), residual_files,
                by_name="schema.name-mapping.default" in md.properties)
            cond = to_spark_filter(preds)
            if cond is not None:
                d = d.filter(cond)
            return total + d.count()
        return self.scan(spark, filter=preds, branch=branch).count()

    def metadata_min_max(self, column: str,
                         filter: list[Pred] | None = None,  # noqa: A002
                         branch: str | None = None,
                         spark: SparkSession | None = None) -> tuple:
        """``(min, max)`` of a column from manifest bounds alone — ZERO
        Spark jobs on a table of any size (the A9 statistics surface
        extended from ``count``: file lower/upper bounds ARE the answer
        when nothing can hide outside them). Raises ``ValueError`` when
        not provable; callers fall back to a real scan. Provability:

        - no live delete file (deletes only REMOVE rows, so surviving
          rows' true min can sit strictly inside the file bounds);
        - with ``filter`` (pre-localized ``Pred`` conjunction): files
          the predicate prunes away contribute zero matching rows and
          are skipped; every KEPT file must prove ``file_fully_matches``
          — all its rows match, so its bounds still bound exactly the
          matching rows (a partially-matching file's true min can sit
          inside its bounds → unprovable);
        - every live data file either has both bounds for the column,
          or provably contributes nothing (all-null for that column —
          min/max ignore NULLs, matching Spark);
        - a file whose value_counts lack the field id entirely predates
          the column (v3 initial-default semantics could fill a value
          bounds never saw) → not provable;
        - strings only when every bound is SHORTER than the truncation
          length (a 16-char bound may be a prefix/increment, not a
          value);
        - float/double max only under a zero-NaN proof per file (parquet
          bounds exclude NaN but Spark's max returns NaN when one
          exists; min is safe — NaN orders largest — and an all-NaN
          file has no bounds, failing the gate above).

        Returns ``(None, None)`` on an empty table (Spark's min/max
        over zero rows).  Pass ``spark`` to let the manifest walk go
        distributed above the plan-mode gate (unprovability travels
        back as a marker and still raises ``ValueError`` driver-side;
        below the gate the walk stays zero-job)."""
        from iceberg_rust_archive_spark.predicates import (
            file_fully_matches, prune_datafiles,
        )
        from iceberg_rust_archive_spark.sources.stats import (
            TRUNCATE_BOUND_LEN,
        )
        from iceberg_rust_archive_spark.spec.manifest import (
            CONTENT_DATA, STATUS_DELETED,
        )
        preds = filter or []
        md = self.metadata
        schema = md.current_schema(branch)
        fld = schema.field_by_name(column)
        if fld is None or not isinstance(fld.field_type, str):
            raise ValueError(f"no primitive column {column!r}")
        fid = fld.field_id
        ftype = fld.field_type
        snap = md.current_snapshot(branch)
        if snap is None:
            return (None, None)
        if preds:
            from iceberg_rust_archive_spark.operators.scan import (
                _guard_transform_space,
            )
            preds = _guard_transform_space(md, schema, preds)
        mlist = self._pruned_manifest_list(preds, schema, snap)

        def part(sp, entries):
            # returns ("ok", lo, hi) or ("err", reason) — executor
            # tasks must not raise for an UNPROVABLE (non-exceptional)
            # outcome, so provability failures travel as markers
            lo = hi = None
            for e in entries:
                if e.status == STATUS_DELETED:
                    continue
                f = e.data_file
                if f.content != CONTENT_DATA:
                    return ("err", "live delete files make bounds "
                                   "inexact")
                if preds:
                    if not prune_datafiles(preds, schema, [f], sp):
                        continue  # provably zero matching rows
                    if not file_fully_matches(preds, schema, f):
                        return ("err",
                                "file only PARTIALLY matches the filter "
                                "— its bounds may lie outside matching "
                                "rows")
                vals = f.value_counts.get(fid)
                nulls = f.null_value_counts.get(fid)
                if vals is None:
                    return ("err", "file predates the column "
                                   "(default-fill values unbounded)")
                if vals == 0 or (nulls is not None and nulls == vals):
                    continue  # contributes only NULLs — min/max skip
                flo = f.lower_bounds.get(fid)
                fhi = f.upper_bounds.get(fid)
                if flo is None or fhi is None:
                    return ("err", "file without bounds for column")
                if isinstance(flo, str) and ftype == "string" and (
                        len(flo) >= TRUNCATE_BOUND_LEN
                        or len(fhi) >= TRUNCATE_BOUND_LEN):
                    return ("err", "string bound may be truncated")
                if ftype in ("float", "double") \
                        and f.nan_value_counts.get(fid) != 0:
                    return ("err", "possible NaN: max would be NaN")
                lo = flo if lo is None or flo < lo else lo
                hi = fhi if hi is None or fhi > hi else hi
            return ("ok", lo, hi)

        lo = hi = None
        for p in self._walk_manifest_partials(spark, mlist, part):
            if p[0] == "err":
                raise ValueError(p[1])
            _tag, plo, phi = p
            if plo is not None and (lo is None or plo < lo):
                lo = plo
            if phi is not None and (hi is None or phi > hi):
                hi = phi
        return (lo, hi)

    def changes(self, spark: SparkSession,
                from_snapshot_id: int | None = None,
                to_snapshot_id: int | None = None) -> DataFrame:
        """Batch changelog read: every row inserted or deleted in
        ``(from_snapshot_id, to_snapshot_id]``, tagged with
        ``_change_type`` ('insert' | 'delete') and
        ``_commit_snapshot_id`` — the CDC feed a downstream incremental
        consumer (or a cross-table MV refresh) replays.

        Semantics per commit, in sequence order:
        - data files added by the commit emit their rows as inserts;
        - equality-delete files emit the rows they removed, resolved by
          a null-safe semi-join of the delete keys against the TABLE
          STATE AS OF the parent snapshot (Iceberg's changelog-scan
          contract: deletes surface the removed rows, not the keys).
        An upsert therefore emits delete(old) + insert(new) for
        replaced keys — exactly the retraction pair an incremental
        aggregate needs. Rows both inserted and deleted inside the
        range appear once per event, as a changelog must.

        Scale: inserts are pure file reads (no join); each commit with
        deletes pays one semi-join of parent-state × delete keys —
        proportional to the commits that actually deleted, never to
        table size × commits."""
        from pyspark.sql import functions as F

        from iceberg_rust_archive_spark.sources.manifests import (
            read_manifest_list, read_manifests,
        )
        from iceberg_rust_archive_spark.spec.manifest import (
            CONTENT_DATA, STATUS_DELETED,
        )
        from iceberg_rust_archive_spark.spec.types import spark_schema_for
        md = self.metadata
        schema = md.current_schema()
        spark_schema = spark_schema_for(schema.struct)
        # walk the ANCESTRY of the to-snapshot, not all snapshots by
        # sequence: commits on other branches may share the sequence
        # range but are not part of this lineage's history
        tip = (md.snapshot_by_id(to_snapshot_id)
               if to_snapshot_id is not None else md.current_snapshot())
        chain = []
        s_ = tip
        while s_ is not None:
            chain.append(s_)
            s_ = (md.snapshots.get(s_.parent_snapshot_id)
                  if s_.parent_snapshot_id is not None else None)
        snaps = list(reversed(chain))
        lo = (md.snapshot_by_id(from_snapshot_id).sequence_number
              if from_snapshot_id is not None else -1)
        hi = tip.sequence_number if tip is not None else float("-inf")
        out: DataFrame | None = None

        def _tag(d, kind, snap_):
            # _change_ordinal = the commit's sequence number — the only
            # MONOTONE commit marker (snapshot ids are random), so CDC
            # consumers can net multi-commit chains per key (Iceberg's
            # changelog scan exposes the same field)
            return d.select(
                *spark_schema.fieldNames(),
                F.lit(kind).alias("_change_type"),
                F.lit(snap_.snapshot_id).alias("_commit_snapshot_id"),
                F.lit(snap_.sequence_number).alias("_change_ordinal"))

        from iceberg_rust_archive_spark.spec.manifest import (
            CONTENT_POSITION_DELETES,
        )
        for s in snaps:
            if not (lo < s.sequence_number <= hi):
                continue
            if (s.summary or {}).get("operation") == "replace":
                # Two shapes share the label. A DELETE-FILE-ONLY
                # rewrite (rewrite_position_deletes converting parquet
                # pairs → DVs) carries every data file over untouched —
                # row-level state is unchanged by construction, so the
                # changelog emits NOTHING for the commit and the feed
                # survives routine delete maintenance. A data rewrite
                # (compaction / truncate / overwrite) physically
                # replaces files, the parent state is no longer
                # reconstructable, and we refuse loudly — the same
                # contract as Iceberg's changelog scan on
                # non-expressible snapshots. Discriminate by manifest
                # shape: any data file added at this sequence or
                # tombstoned ⇒ data rewrite.
                from iceberg_rust_archive_spark.sources.manifests import (
                    replace_touches_data,
                )
                if not replace_touches_data(s):
                    continue  # delete-format maintenance — state unchanged
                raise ValueError(
                    f"changelog range spans a replace commit "
                    f"(snapshot {s.snapshot_id}); row-level changes "
                    "cannot be derived across a full rewrite")
            mlist = read_manifest_list(s.manifest_list)
            added_data, added_deletes, added_pos = [], [], []
            for entries in read_manifests(
                    [m.manifest_path for m in mlist]):
                for e in entries:
                    if e.status == STATUS_DELETED \
                            or e.sequence_number != s.sequence_number:
                        continue  # carried over from an earlier commit
                    if e.data_file.content == CONTENT_DATA:
                        added_data.append(e)
                    elif e.data_file.content == CONTENT_EQUALITY_DELETES:
                        added_deletes.append(e)
                    elif e.data_file.content == CONTENT_POSITION_DELETES:
                        added_pos.append(e)
            # the schema the commit was WRITTEN under: eq-delete ids and
            # file columns resolve against it, and its rows project to
            # the current layout by field id (rename-safe; fields added
            # since fill with their v3 initial_default)
            cs = md.schemas.get(s.schema_id, schema)
            evolved = cs.schema_id != schema.schema_id
            piece = None
            if added_data:
                ins = read_data_files(
                    spark,
                    spark_schema_for(cs.struct) if evolved
                    else spark_schema,
                    [(e.data_file.file_path, e.data_file.file_format)
                     for e in added_data],
                    by_name="schema.name-mapping.default"
                    in md.properties)
                if evolved:
                    ins = _project_by_id(ins, cs, schema)
                piece = _tag(ins, "insert", s)
            if (added_deletes
                    or any(is_dv(e.data_file) for e in added_pos)) \
                    and s.parent_snapshot_id is not None \
                    and s.parent_snapshot_id not in md.snapshots:
                # delete events resolve against the PARENT state
                # (eq semi-join / merged-DV subtraction); an expired
                # parent would silently yield wrong events (empty
                # prior ⇒ no deletes; no DV subtraction ⇒ re-emitted
                # deletes) — refuse loudly instead
                raise ValueError(
                    f"snapshot {s.snapshot_id}'s parent has been "
                    "expired; its delete events cannot be resolved — "
                    "pass from_snapshot_id within retained history")
            if added_deletes and s.parent_snapshot_id is not None:
                import json as _json

                def _dpk(d):
                    return _json.dumps(d.partition, sort_keys=True,
                                       default=str)

                def _dglobal(d):
                    return all(v is None for v in d.partition.values())

                # partition SCOPE parity with the scan (A5): a delete
                # file carrying a partition tuple kills rows only in
                # that partition's data files; resolving by key alone
                # would emit phantom deletes for matching rows in
                # OTHER partitions (the shape a foreign writer
                # produces — eq columns excluding the partition
                # source). Scoped resolution tags the parent state's
                # rows with their file's partition key via the same
                # one-row-per-FILE broadcast join the scan uses.
                any_scoped = any(not _dglobal(de.data_file)
                                 for de in added_deletes)
                if any_scoped:
                    prior = _scan(spark, md,
                                  snapshot_id=s.parent_snapshot_id,
                                  expose_fp=True)
                    parent_snap = md.snapshots[s.parent_snapshot_id]
                    from pyspark.sql.types import (
                        StringType, StructField, StructType,
                    )
                    tag_rows = [
                        (norm_path(e.data_file.file_path),
                         _dpk(e.data_file))
                        for entries in read_manifests(
                            [m.manifest_path for m in read_manifest_list(
                                parent_snap.manifest_list)])
                        for e in entries
                        if e.status != STATUS_DELETED
                        and e.data_file.content == CONTENT_DATA]
                    tags = local_frame(
                        spark, tag_rows, StructType([
                            StructField("__fp", StringType()),
                            StructField("__pk", StringType())]))
                    prior = prior.join(F.broadcast(tags), on="__fp",
                                       how="left")
                else:
                    prior = self.scan(spark,
                                      snapshot_id=s.parent_snapshot_id)
                # prior is in the PARENT snapshot's layout; delete keys
                # are in the commit schema's layout. Join data-side by
                # the parent-layout name for each eq field id (a field
                # added between parent and commit joins against its
                # initial_default), then project the victims to the
                # current layout for the uniform changelog schema.
                ps = md.schemas.get(
                    md.snapshots[s.parent_snapshot_id].schema_id, cs)
                from collections import defaultdict
                by_eq = defaultdict(list)
                for de in added_deletes:
                    by_eq[tuple(de.data_file.equality_ids or ())].append(de)
                for eq_ids, des in by_eq.items():
                    dfields = []
                    for i in eq_ids:
                        f = cs.field_by_id(i)
                        if f is None:  # defensive: walk schema history
                            for s2 in sorted(md.schemas.values(),
                                             key=lambda x: -x.schema_id):
                                f = s2.field_by_id(i)
                                if f is not None:
                                    break
                        if f is None:
                            raise ValueError(
                                f"equality delete references field id "
                                f"{i} not found in any table schema")
                        dfields.append(f)
                    if not dfields:
                        continue
                    keys = eq_delete_keys(
                        spark, dfields, des,
                        scope=(lambda e: None if _dglobal(e.data_file)
                               else _dpk(e.data_file))
                        if any_scoped else None).dropDuplicates()
                    cond = None
                    for f in dfields:
                        pf_ = ps.field_by_id(f.field_id)
                        data_e = F.col(pf_.name) if pf_ is not None \
                            else F.lit(f.initial_default).cast(
                                iceberg_to_spark_type(f.field_type))
                        term = data_e.eqNullSafe(F.col(f"__del_{f.name}"))
                        cond = term if cond is None else cond & term
                    if any_scoped:
                        cond = cond & (F.col("__del_pk").isNull()
                                       | (F.col("__del_pk")
                                          == F.col("__pk")))
                    removed = prior.join(keys, on=cond, how="left_semi")
                    if ps.schema_id != schema.schema_id:
                        removed = _project_by_id(removed, ps, schema)
                    tagged = _tag(removed, "delete", s)
                    piece = tagged if piece is None \
                        else piece.unionByName(tagged)
            if added_pos:
                # position deletes name exact (file, ordinal) pairs;
                # resolve them to the removed ROWS by re-reading just
                # the targeted files with _metadata row ordinals.
                # (Our pos-delete writer only targets live rows, so no
                # double-retraction with earlier logical deletes.)
                pairs = pos_delete_pairs(
                    spark, [e.data_file for e in added_pos])
                pairs = pairs.dropDuplicates()
                if any(is_dv(e.data_file) for e in added_pos) \
                        and s.parent_snapshot_id is not None:
                    # the v3 one-DV-per-file invariant makes a DV
                    # commit MERGE-and-replace: the new blob re-encodes
                    # every position already dead before this commit,
                    # so decoding it re-emits prior commits' deletes
                    # (double retraction — an incremental aggregate
                    # replaying the feed would subtract those rows
                    # twice). Subtract the PARENT snapshot's live
                    # delete pairs so each row's delete surfaces
                    # exactly once, at the commit that killed it.
                    parent = md.snapshots.get(s.parent_snapshot_id)
                    prior_files = [] if parent is None else [
                        pe.data_file
                        for entries in read_manifests(
                            [m.manifest_path for m in read_manifest_list(
                                parent.manifest_list)])
                        for pe in entries
                        if pe.status != STATUS_DELETED
                        and pe.data_file.content
                        == CONTENT_POSITION_DELETES]
                    if prior_files:
                        pairs = pairs.join(
                            pos_delete_pairs(spark, prior_files)
                            .dropDuplicates(),
                            ["__fp", "__pos"], "left_anti")
                targets = [r["__fp"] for r in
                           pairs.select("__fp").distinct().collect()]
                if targets:
                    victims = (read_data_files(
                                   spark, spark_schema,
                                   [(p, "parquet") for p in targets],
                                   with_pos=True)
                               .join(pairs, ["__fp", "__pos"],
                                     "left_semi")
                               .drop("__fp", "__pos"))
                    tagged = _tag(victims, "delete", s)
                    piece = tagged if piece is None \
                        else piece.unionByName(tagged)
            if piece is not None:
                out = piece if out is None else out.unionByName(piece)
        if out is None:
            fields = spark_schema.fields
            from pyspark.sql.types import LongType, StringType, StructType
            empty = StructType(fields).add(
                "_change_type", StringType()).add(
                "_commit_snapshot_id", LongType()).add(
                "_change_ordinal", LongType())
            return local_frame(spark, [], empty)
        return out

    # --- write ------------------------------------------------------------
    def new_transaction(self, branch: str | None = None) -> Transaction:
        return Transaction(self.catalog, self.identifier, self.metadata,
                           branch, base_location=self.metadata_location)

    def append(self, spark: SparkSession, df: DataFrame,
               branch: str | None = None) -> "Table":
        """INSERT path (A10): partitioned write → harvested DataFiles →
        append transaction."""
        files = write_datafiles(spark, self.metadata, df, branch=branch)
        txn = self.new_transaction(branch).append_files(files)
        txn.commit_with_retry(lambda t: t.append_files(files))
        return self.refresh()

    def delete_where_equal(self, spark: SparkSession, delete_rows: DataFrame,
                           equality_columns: list[str],
                           branch: str | None = None) -> "Table":
        """Equality-delete write (A16): rows projected to the equality
        columns become a delete file; merge-on-read applies them."""
        schema = self.metadata.current_schema(branch)
        eq_ids = tuple(schema.field_by_name(c).field_id
                       for c in equality_columns)
        files = write_datafiles(spark, self.metadata, delete_rows,
                                content=CONTENT_EQUALITY_DELETES,
                                equality_ids=eq_ids, branch=branch)
        txn = self.new_transaction(branch).append_delete_files(files)
        txn.commit_with_retry(lambda t: t.append_delete_files(files))
        return self.refresh()

    def delete_where_pos(self, spark: SparkSession, predicate,
                         branch: str | None = None,
                         use_dv: bool | None = None,
                         report: dict | None = None,
                         _replans: int = 2) -> "Table":
        """Position-delete write (content=1): scan the current data files
        with Spark's ``_metadata`` virtual columns, project the matching
        (file_path, pos) pairs, write a sorted delete file, commit.

        ``use_dv`` (default: table property ``write.delete.format`` ==
        ``'dv'``) writes **deletion vectors** instead: one roaring
        bitmap per referenced data file inside a single Puffin object
        (Iceberg v3 shape, ``sources/write.py
        write_deletion_vectors``). Parquet pairs and DVs may coexist;
        the scan unions both before the one anti-join.

        The reference refuses content=1 outright (datafusion_iceberg/src/
        table.rs:422-425); we support it as a parity superset because
        ``_metadata.row_index`` makes the ordinals free at scan time.
        Scale: the hit projection is two skinny columns — the shuffle to
        the single sorted writer carries only (path, long) pairs, never
        data rows. Idempotent AND dead-row-proof: the hit set is the
        full merge-on-read resolution (``operators/scan.py`` with
        ``expose_pos``), so rows already removed by live EQUALITY
        deletes (sequence-ordered, strictly-earlier semantics) or by
        prior position deletes / DVs never produce a pair — a fully
        shadowed predicate is a no-op commit and ``Table.changes``
        emits each row's delete exactly once (the round-8 hypothesis
        property test's counterexample: append → delete_where_equal →
        delete_where_pos on the same key must not re-kill the row)."""
        from pyspark.sql import functions as F
        from iceberg_rust_archive_spark.operators.scan import scan
        from iceberg_rust_archive_spark.session import ensure_read_confs
        from iceberg_rust_archive_spark.sources.manifests import (
            read_manifest_list, read_manifests,
        )
        from iceberg_rust_archive_spark.sources.write import (
            write_position_deletes,
        )
        from iceberg_rust_archive_spark.spec.manifest import (
            CONTENT_POSITION_DELETES, STATUS_DELETED,
        )
        ensure_read_confs(spark)
        md = self.metadata
        snap = md.current_snapshot(branch)
        if snap is None:
            return self
        existing_dv = []
        mlist_all = read_manifest_list(snap.manifest_list)
        for entries in read_manifests([m.manifest_path for m in mlist_all]):
            for e in entries:
                if e.status == STATUS_DELETED:
                    continue
                if (e.data_file.content == CONTENT_POSITION_DELETES
                        and is_dv(e.data_file)):
                    existing_dv.append(e.data_file)
        # Bound the hit plan to CANDIDATE files: parse the predicate
        # into pruning Preds so manifest + file bounds cut the file
        # list (two-level pruning feeds every reference scan,
        # datafusion_iceberg/src/table.rs:337-427). Pruning is
        # conservative and the original predicate re-applies below, so
        # an unparseable predicate only costs the optimization — a
        # point DELETE on a 100 TB table must not plan every file.
        from iceberg_rust_archive_spark.predicates import (
            try_parse_preds,
        )
        prune_preds = try_parse_preds(predicate)
        hits = (scan(spark, md, branch=branch, expose_pos=True,
                     filter=prune_preds, report=report)
                .filter(predicate)
                .select(F.col("__fp").alias("file_path"),
                        F.col("__pos").alias("pos")))
        if use_dv is None:
            use_dv = md.properties.get(
                "write.delete.format", "parquet").lower() == "dv"
        superseded: set[tuple[str, int]] = set()
        if use_dv:
            from iceberg_rust_archive_spark.sources.write import (
                write_deletion_vectors,
            )
            # v3 invariant: at most ONE DV per data file — prior bitmaps
            # for re-touched files merge into the new blob and their old
            # entries drop in the same commit (merge-and-replace).
            files = write_deletion_vectors(spark, md, hits,
                                           merge_dvs=existing_dv)
            touched = {f.referenced_data_file for f in files}
            superseded = {(d.file_path, d.content_offset)
                          for d in existing_dv
                          if d.referenced_data_file in touched}
        else:
            files = write_position_deletes(spark, md, hits)
        if sum(f.record_count for f in files) == 0:
            return self  # nothing newly deleted — don't commit a snapshot

        def build(t):
            # valid_since pins the hit set to the planning snapshot's
            # file layout: a replace commit (compaction / rewrite)
            # landing before our CAS makes the (path, pos) pairs
            # silent no-ops, so commit refuses and we RE-PLAN below
            t.append_delete_files(files, valid_since=snap.snapshot_id)
            if superseded:
                t.supersede_delete_files(superseded)
            return t

        from iceberg_rust_archive_spark.catalog.base import (
            CommitFailedError,
        )
        try:
            build(self.new_transaction(branch)).commit_with_retry(build)
        except CommitFailedError:
            if _replans <= 0:
                raise
            # recompute positions against the rewritten file layout
            return self.refresh().delete_where_pos(
                spark, predicate, branch, use_dv=use_dv, report=report,
                _replans=_replans - 1)
        return self.refresh()

    # materialize the matched frame only while snapshot stats prove the
    # table small (the same gate the engine's general MERGE uses) —
    # above it the pairs pass and the re-insert pass replay the scan
    # chain with column pruning instead of checkpointing a whole table
    UPDATE_CACHE_MAX_ROWS = 20_000_000

    def update_where_pos(self, spark: SparkSession, predicate,
                         set_exprs: dict[str, str],
                         branch: str | None = None,
                         _replans: int = 2) -> "Table":
        """UPDATE routed through **deletion vectors**: matched rows'
        physical (path, pos) addresses become per-file roaring bitmaps
        (v3 shape — at most one live DV per data file, so prior bitmaps
        merge-and-replace exactly like ``delete_where_pos``) and the
        post-SET rows land as new data files IN THE SAME COMMIT — the
        atomic delete+insert coupling ``upsert`` uses.

        vs the equality-delete UPDATE shape (engine UPDATE default):
        the delete side is ~1.75 bytes/row instead of a full row copy,
        and every later scan pays the ONE position anti-join it already
        pays for any DV instead of an extra all-column equality join.
        The hit set comes from the full merge-on-read resolution
        (``expose_pos``), so rows already dead never re-delete; parsed
        predicate pruning bounds the hit plan to candidate files. A
        racing replace commit invalidates the planned positions —
        ``valid_since`` makes the commit refuse and the statement
        re-plans against the rewritten layout (bounded by
        ``_replans``), the same protocol as ``delete_where_pos``.

        ``set_exprs`` maps lower-cased column names to SQL expressions
        evaluated over the matched rows (``{"price": "price * 1.1"}``).
        """
        from pyspark.sql import functions as F

        from iceberg_rust_archive_spark.operators.scan import scan
        from iceberg_rust_archive_spark.predicates import try_parse_preds
        from iceberg_rust_archive_spark.session import ensure_read_confs
        from iceberg_rust_archive_spark.sources.manifests import (
            read_manifest_list, read_manifests,
        )
        from iceberg_rust_archive_spark.sources.write import (
            write_datafiles, write_deletion_vectors,
        )
        from iceberg_rust_archive_spark.spec.manifest import (
            CONTENT_POSITION_DELETES, STATUS_DELETED,
        )
        ensure_read_confs(spark)
        md = self.metadata
        snap = md.current_snapshot(branch)
        if snap is None:
            return self
        existing_dv = []
        for entries in read_manifests(
                [m.manifest_path
                 for m in read_manifest_list(snap.manifest_list)]):
            for e in entries:
                if e.status == STATUS_DELETED:
                    continue
                if (e.data_file.content == CONTENT_POSITION_DELETES
                        and is_dv(e.data_file)):
                    existing_dv.append(e.data_file)
        cols = [f.name for f in md.current_schema(branch).fields]
        sets = {k.lower(): v for k, v in set_exprs.items()}
        matched = (scan(spark, md, branch=branch, expose_pos=True,
                        filter=try_parse_preds(predicate))
                   .filter(predicate))
        total_rows = int(((snap.summary or {}))
                         .get("total-records", 1 << 62))
        # the DV encode and the data write are independent consumers of
        # the matched frame — overlap them on two threads (the pair
        # costs max(), not the sum)
        from concurrent.futures import ThreadPoolExecutor
        with (materialized(matched)
              if total_rows <= self.UPDATE_CACHE_MAX_ROWS
              else nullcontext(matched)) as matched:
            hits = matched.select(F.col("__fp").alias("file_path"),
                                  F.col("__pos").alias("pos"))
            new = matched.selectExpr(*[
                f"({sets[c.lower()]}) AS {c}" if c.lower() in sets else c
                for c in cols])
            with ThreadPoolExecutor(max_workers=2) as ex:
                f_dv = ex.submit(write_deletion_vectors, spark, md, hits,
                                 existing_dv)
                f_da = ex.submit(write_datafiles, spark, md, new,
                                 branch=branch)
                dv_files, data_files = f_dv.result(), f_da.result()
        if not dv_files and not data_files:
            return self  # nothing matched — don't commit a snapshot

        touched = {f.referenced_data_file for f in dv_files}
        superseded = {(d.file_path, d.content_offset)
                      for d in existing_dv
                      if d.referenced_data_file in touched}

        def build(t):
            t.append_delete_files(dv_files,
                                  valid_since=snap.snapshot_id)
            if superseded:
                t.supersede_delete_files(superseded)
            return t.append_files(data_files)

        from iceberg_rust_archive_spark.catalog.base import (
            CommitFailedError,
        )
        try:
            build(self.new_transaction(branch)).commit_with_retry(build)
        except CommitFailedError:
            if _replans <= 0:
                raise
            from iceberg_rust_archive_spark.object_store import store_for
            for f in dv_files + data_files:
                try:  # staged files are unreferenced — clean them up
                    store_for(f.file_path).remove(f.file_path)
                except FileNotFoundError:
                    pass
            return self.refresh().update_where_pos(
                spark, predicate, set_exprs, branch,
                _replans=_replans - 1)
        return self.refresh()

    def inspect(self, spark: SparkSession, kind: str) -> DataFrame:
        """Metadata tables (Iceberg's ``t.snapshots`` / ``t.files`` / …
        introspection surface; driver-side metadata only — no data
        scan), one per kind in ``METADATA_TABLES``, among them:

        - snapshots: one row per snapshot (id, parent, sequence,
          timestamp, operation, manifest-list path),
        - manifests: current snapshot's manifest-list rows,
        - files: current snapshot's live data/delete files with stats,
        - history: the snapshot log as (made_current_at, snapshot_id,
          is_current_ancestor)."""
        if kind not in METADATA_TABLES:
            raise ValueError(f"unknown metadata table {kind!r}")
        import json as _json

        from iceberg_rust_archive_spark.sources.manifests import (
            read_manifest_list, read_manifests,
        )
        md = self.metadata
        if kind == "snapshots":
            rows = [(s.timestamp_ms, s.snapshot_id, s.parent_snapshot_id,
                     s.sequence_number,
                     (s.summary or {}).get("operation"),
                     s.manifest_list)
                    for s in sorted(md.snapshots.values(),
                                    key=lambda s: s.sequence_number)]
            return spark.createDataFrame(
                rows, "committed_at_ms long, snapshot_id long, "
                      "parent_id long, sequence_number long, "
                      "operation string, manifest_list string")
        if kind == "metadata_log_entries":
            rows = [(e.get("timestamp-ms"), e.get("metadata-file"))
                    for e in md.metadata_log]
            return spark.createDataFrame(
                rows, "timestamp_ms long, file string")
        snap = md.current_snapshot()
        mlist = read_manifest_list(snap.manifest_list) if snap else []
        if kind in ("all_manifests", "all_files", "all_entries"):
            # ALL-snapshot variants (Iceberg's all_* tables): iterate
            # every snapshot's manifest list, dedup by path so shared
            # manifests appear once per referencing snapshot
            rows = []
            for s in sorted(md.snapshots.values(),
                            key=lambda s: s.sequence_number):
                for m in read_manifest_list(s.manifest_list):
                    rows.append((s.snapshot_id, m))
            if kind == "all_manifests":
                out = [(sid, m.manifest_path, m.content,
                        m.sequence_number, m.added_files_count,
                        m.existing_files_count) for sid, m in rows]
                return spark.createDataFrame(
                    out, "ref_snapshot_id long, path string, "
                         "content int, sequence_number long, "
                         "added_files_count int, "
                         "existing_files_count int")
            seen: dict[str, list] = {}
            for sid, m in rows:
                seen.setdefault(m.manifest_path, []).append(sid)
            paths = list(seen)
            out = []
            for path, es in zip(paths, read_manifests(paths)):
                for e in es:
                    if kind == "all_files" and e.status == 2:
                        continue
                    for sid in seen[path]:
                        out.append((sid, e.status, e.data_file.content,
                                    e.data_file.file_path,
                                    e.data_file.record_count,
                                    e.sequence_number))
            return spark.createDataFrame(
                out, "ref_snapshot_id long, status int, content int, "
                     "file_path string, record_count long, "
                     "sequence_number long")
        if kind == "manifests":
            rows = [(m.manifest_path, m.manifest_length,
                     m.partition_spec_id, m.content, m.sequence_number,
                     m.min_sequence_number, m.added_files_count,
                     m.existing_files_count, m.added_rows_count,
                     m.existing_rows_count)
                    for m in mlist]
            return spark.createDataFrame(
                rows, "path string, length long, partition_spec_id int, "
                      "content int, sequence_number long, "
                      "min_sequence_number long, added_files_count int, "
                      "existing_files_count int, added_rows_count long, "
                      "existing_rows_count long")
        if kind == "files":
            from iceberg_rust_archive_spark.spec.manifest import (
                STATUS_DELETED,
            )
            rows = [(e.data_file.content, e.data_file.file_path,
                     e.data_file.file_format,
                     _json.dumps(e.data_file.partition, sort_keys=True,
                                 default=str),
                     e.data_file.record_count,
                     e.data_file.file_size_in_bytes, e.sequence_number,
                     e.data_file.first_row_id)
                    for es in read_manifests(
                        [m.manifest_path for m in mlist])
                    for e in es if e.status != STATUS_DELETED]
            return spark.createDataFrame(
                rows, "content int, file_path string, file_format string, "
                      "partition string, record_count long, "
                      "file_size_in_bytes long, sequence_number long, "
                      "first_row_id long")
        if kind == "entries":
            # Iceberg's `entries` metadata table: the raw manifest rows
            # with status (0 existing / 1 added / 2 deleted) + sequence
            # numbers — the forensic view `files` (live-only) hides
            rows = [(e.status, e.snapshot_id, e.sequence_number,
                     e.file_sequence_number, e.data_file.content,
                     e.data_file.file_path,
                     e.data_file.file_format,
                     _json.dumps(e.data_file.partition, sort_keys=True,
                                 default=str),
                     e.data_file.record_count)
                    for es in read_manifests(
                        [m.manifest_path for m in mlist])
                    for e in es]
            return spark.createDataFrame(
                rows, "status int, snapshot_id long, "
                      "sequence_number long, file_sequence_number long, "
                      "content int, file_path string, "
                      "file_format string, partition string, "
                      "record_count long")
        if kind == "partitions":
            from collections import defaultdict as _dd

            from iceberg_rust_archive_spark.spec.manifest import (
                STATUS_DELETED,
            )
            # fast path: a partition-statistics file for the CURRENT
            # snapshot answers without walking manifests (at 100 TB the
            # walk is thousands of manifest fetches; the stats file is
            # one read of #partitions rows)
            pstat = next((s for s in md.partition_statistics
                          if snap is not None
                          and s.get("snapshot-id") == snap.snapshot_id),
                         None)
            if pstat is not None:
                import pyarrow.parquet as _pq
                pt = _pq.read_table(pstat["statistics-path"]).to_pylist()
                spec_fields = {
                    sid: [f.name for f in sp.fields]
                    for sid, sp in md.partition_specs.items()}
                rows = []
                for r in pt:
                    names = spec_fields.get(r["spec_id"], [])
                    part = {n: (r.get("partition") or {}).get(n)
                            for n in names}
                    rows.append((
                        _json.dumps(part, sort_keys=True, default=str),
                        r["data_record_count"], r["data_file_count"],
                        r["total_data_file_size_in_bytes"]))
                # delete-file-only tuples exist in the stats file but
                # not in the manifest-walk view; keep parity
                rows = sorted(r for r in rows if r[2] > 0)
                return spark.createDataFrame(
                    rows, "partition string, record_count long, "
                          "file_count int, total_size_bytes long")
            agg = _dd(lambda: [0, 0, 0])  # records, files, bytes
            for es in read_manifests([m.manifest_path for m in mlist]):
                for e in es:
                    if e.status == STATUS_DELETED \
                            or e.data_file.content != 0:
                        continue
                    k = _json.dumps(e.data_file.partition, sort_keys=True,
                                    default=str)
                    agg[k][0] += e.data_file.record_count
                    agg[k][1] += 1
                    agg[k][2] += e.data_file.file_size_in_bytes or 0
            rows = [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
            return spark.createDataFrame(
                rows, "partition string, record_count long, "
                      "file_count int, total_size_bytes long")
        if kind == "position_deletes":
            # live position-delete state as rows, through the reader
            # the scan uses — the forensic view of exactly which
            # (file, ordinal) pairs the next scan will anti-join
            from pyspark.sql import functions as F

            from iceberg_rust_archive_spark.spec.manifest import (
                CONTENT_POSITION_DELETES, STATUS_DELETED,
            )
            files = [e.data_file
                     for es in read_manifests(
                         [m.manifest_path for m in mlist])
                     for e in es
                     if e.status != STATUS_DELETED
                     and e.data_file.content == CONTENT_POSITION_DELETES]
            return pos_delete_pairs(spark, files, with_format=True) \
                .select(F.col("__fp").alias("file_path"),
                        F.col("__pos").alias("pos"),
                        F.col("__fmt").alias("delete_format"))
        if kind == "refs":
            rows = [(name, r.ref_type, r.snapshot_id,
                     r.min_snapshots_to_keep, r.max_snapshot_age_ms,
                     r.max_ref_age_ms)
                    for name, r in sorted((md.refs or {}).items())]
            return spark.createDataFrame(
                rows, "name string, type string, snapshot_id long, "
                      "min_snapshots_to_keep int, max_snapshot_age_ms "
                      "long, max_ref_age_ms long")
        if kind == "history":
            current_chain = set()
            s = snap
            while s is not None:
                current_chain.add(s.snapshot_id)
                s = md.snapshots.get(s.parent_snapshot_id) \
                    if s.parent_snapshot_id is not None else None
            rows = [(e["timestamp-ms"], e["snapshot-id"],
                     e["snapshot-id"] in current_chain)
                    for e in md.snapshot_log]
            return spark.createDataFrame(
                rows, "made_current_at_ms long, snapshot_id long, "
                      "is_current_ancestor boolean")
        raise ValueError(f"no reader for metadata table {kind!r}")

    def upsert(self, spark: SparkSession, df: DataFrame,
               keys: list[str] | None = None,
               branch: str | None = None) -> "Table":
        """MERGE-style upsert in ONE atomic commit: an equality-delete
        file over the source's key tuples plus the source rows as data
        files, both at the same sequence number. Deletes apply only to
        strictly-earlier sequence numbers (table.rs:498-531), so the
        commit replaces matching rows and inserts the rest — the
        standard Iceberg MERGE INTO shape, which the reference's engine
        does not expose.

        Scale: the delete side is just the key projection (skinny
        columns); merge-on-read cost is the same broadcast anti-join
        the delete path already pays, until compaction absorbs it.

        ``keys=None`` defaults to the schema's identifier-field-ids
        (the spec's row-identity contract, set via ALTER TABLE ...
        SET IDENTIFIER FIELDS)."""
        schema = self.metadata.current_schema(branch)
        if keys is None:
            ids = schema.identifier_field_ids
            if not ids:
                raise ValueError(
                    "upsert without keys requires identifier fields "
                    "on the schema")
            keys = [schema.field_by_id(i).name for i in ids]
        eq_ids = tuple(schema.field_by_name(c).field_id for c in keys)
        from iceberg_rust_archive_spark.sources.write import (
            write_delete_and_data,
        )
        del_files, data_files = write_delete_and_data(
            spark, self.metadata, df.select(*keys).dropDuplicates(),
            eq_ids, df, branch=branch)
        txn = (self.new_transaction(branch)
               .append_delete_files(del_files).append_files(data_files))
        txn.commit_with_retry(lambda t: t.append_delete_files(del_files)
                              .append_files(data_files))
        return self.refresh()

    def update_partition_spec(self, fields) -> "Table":
        """Partition spec evolution (AddSpec/SetDefaultSpec): new writes
        lay out under the new transform; existing files stay put and
        scans prune each manifest under its own spec."""
        txn = self.new_transaction().update_spec(fields)
        txn.commit_with_retry(lambda t: t.update_spec(fields))
        return self.refresh()

    def update_sort_order(self, fields) -> "Table":
        """Sort order evolution (AddSortOrder/SetDefaultSortOrder):
        new writes sort by the given SortFields; metadata-only commit.
        Pass an empty list for WRITE UNORDERED."""
        from iceberg_rust_archive_spark.spec.sort import SortOrder
        order = SortOrder(0, tuple(fields))
        txn = self.new_transaction().update_sort_order(order)
        txn.commit_with_retry(lambda t: t.update_sort_order(order))
        return self.refresh()

    def overwrite(self, spark: SparkSession, df: DataFrame,
                  branch: str | None = None) -> "Table":
        """Full replace (Replace op, operation.rs:384-547)."""
        files = write_datafiles(spark, self.metadata, df, branch=branch)
        txn = self.new_transaction(branch).replace_files(files)
        txn.commit_with_retry(lambda t: t.replace_files(files))
        return self.refresh()


def table_statistics(table: Table, branch: str | None = None,
                     snapshot_id: int | None = None) -> dict:
    """Fold per-file manifest stats into table-level statistics (A9:
    datafusion_iceberg/src/statistics.rs:20-146 — row count, bytes,
    per-column null counts and min/max bounds for the optimizer).

    Driver-side metadata work only — no Spark job. Spark itself re-reads
    parquet footers for its scans, so these feed OUR planning decisions
    (e.g. `broadcast()` hints for small tables, file-count heuristics),
    mirroring how the reference feeds DataFusion's CBO."""
    from iceberg_rust_archive_spark.sources.manifests import (
        read_manifest_list, read_manifests,
    )
    from iceberg_rust_archive_spark.spec.manifest import CONTENT_DATA

    md = table.metadata
    snap = (md.snapshot_by_id(snapshot_id) if snapshot_id is not None
            else md.current_snapshot(branch))
    stats = {"record_count": 0, "file_count": 0, "total_bytes": 0,
             "delete_file_count": 0, "delete_record_count": 0,
             "columns": {}}
    if snap is None:
        return stats
    schema = md.current_schema(branch)
    by_id = {f.field_id: f.name for f in schema.fields}
    for entries in read_manifests(
            [m.manifest_path
             for m in read_manifest_list(snap.manifest_list)]):
        for entry in entries:
            f = entry.data_file
            if f.content == CONTENT_DATA:
                stats["record_count"] += f.record_count
                stats["file_count"] += 1
                stats["total_bytes"] += f.file_size_in_bytes
            else:
                stats["delete_file_count"] += 1
                stats["delete_record_count"] += f.record_count
                continue
            for fid, name in by_id.items():
                c = stats["columns"].setdefault(
                    name, {"null_count": 0, "lower": None, "upper": None})
                c["null_count"] += (f.null_value_counts or {}).get(fid, 0)
                lo = (f.lower_bounds or {}).get(fid)
                hi = (f.upper_bounds or {}).get(fid)
                if lo is not None and (c["lower"] is None or lo < c["lower"]):
                    c["lower"] = lo
                if hi is not None and (c["upper"] is None or hi > c["upper"]):
                    c["upper"] = hi
    # NDV estimates recorded by analyze_table: the spec home is the
    # Puffin statistics file — engines read the `ndv` blob property
    # straight from the metadata's statistics entry without parsing
    # sketch bytes (Trino/Spark consume it the same way). stats.ndv.*
    # properties remain as a back-compat carrier.
    for k, v in md.properties.items():
        if k.startswith("stats.ndv."):
            name = k[len("stats.ndv."):]
            if name in stats["columns"]:
                stats["columns"][name]["ndv"] = int(v)
    for st in md.statistics:
        if st.get("snapshot-id") != snap.snapshot_id:
            continue
        for bm in st.get("blob-metadata", []):
            ndv = (bm.get("properties") or {}).get("ndv")
            for fid in bm.get("fields", []):
                name = by_id.get(fid)
                if ndv is not None and name in stats["columns"]:
                    stats["columns"][name]["ndv"] = int(ndv)
    return stats


def analyze_table(spark: SparkSession, table: Table,
                  columns: list[str] | None = None,
                  branch: str | None = None) -> Table:
    """ANALYZE: per-column approximate distinct counts in ONE scan
    (HyperLogLog++ via ``approx_count_distinct`` — merges map-side, so
    the shuffle carries sketches, not values) recorded as
    ``stats.ndv.<col>`` table properties and surfaced by
    :func:`table_statistics`. Cardinality is what bounds/row-counts
    can't give the planner: join-side selectivity and groupBy output
    size estimates both key off NDV (the reference feeds DataFusion's
    CBO the same triple — statistics.rs:20-146).

    Sketch-capable columns (int/long/string/binary — what Spark's
    ``hll_sketch_agg`` accepts) additionally persist their DataSketches
    HLL binary image into a spec-layout **Puffin statistics file**
    registered under the metadata ``statistics`` field, so independent
    engines get both the cheap path (the ``ndv`` blob property in the
    table metadata) and the mergeable path (union the sketch bytes
    across snapshots/partitions with any DataSketches reader)."""
    import os as _os
    import uuid as _uuid

    from pyspark.sql import functions as F

    from iceberg_rust_archive_spark.sources.puffin import write_puffin

    md = table.metadata
    schema = md.current_schema(branch)
    cols = columns or [f.name for f in schema.fields
                       if isinstance(f.field_type, str)]
    sketchable = {f.name for f in schema.fields
                  if f.field_type in ("int", "long", "string", "binary")}
    aggs = []
    for c in cols:
        if c in sketchable:
            aggs.append(F.hll_sketch_agg(c).alias(f"__sk_{c}"))
        aggs.append(F.approx_count_distinct(c).alias(c))
    row = table.scan(spark, branch=branch).agg(*aggs).collect()[0]

    snap = md.current_snapshot(branch)
    props = {}
    blobs = []
    fid_of = {f.name: f.field_id for f in schema.fields}
    for c in cols:
        sketch = row[f"__sk_{c}"] if c in sketchable else None
        if sketch is not None:
            # record the SKETCH's own estimate so blob bytes and the
            # ndv property can never disagree
            est = spark.createDataFrame([(bytearray(sketch),)], "s binary") \
                .select(F.hll_sketch_estimate("s")).collect()[0][0]
            blobs.append({"type": "apache-datasketches-hll-4",
                          "fields": [fid_of[c]],
                          "snapshot-id": snap.snapshot_id if snap else None,
                          "sequence-number":
                              snap.sequence_number if snap else None,
                          "payload": bytes(sketch),
                          "properties": {"ndv": str(int(est))}})
            props[f"stats.ndv.{c}"] = str(int(est))
        else:
            props[f"stats.ndv.{c}"] = str(row[c])

    stats_entry = None
    if blobs and snap is not None:
        path = _os.path.join(
            md.location, "metadata",
            f"{snap.snapshot_id}-{_uuid.uuid4().hex[:12]}.stats.puffin")
        meta = write_puffin(path, blobs)
        stats_entry = {"snapshot-id": snap.snapshot_id,
                       "statistics-path": path, **meta}

    def apply(t):
        t.set_properties(props)
        if stats_entry is not None:
            t.set_statistics(stats_entry)
        return t

    apply(table.new_transaction(branch)).commit_with_retry(apply)
    return table.refresh()


def create_tag(table: Table, name: str,
               snapshot_id: int | None = None,
               max_ref_age_ms: int | None = None) -> Table:
    """Pin a named TAG ref to a snapshot (SnapshotReference type 'tag',
    snapshot.rs:258-297). Tags are immutable read pointers: scans resolve
    them exactly like branches (`scan(branch=<tag>)`), but append paths
    refuse to advance them. ``max_ref_age_ms`` lets ``expire_snapshots``
    drop the tag once it outlives the retention window."""
    return _create_ref(table, name, "tag", snapshot_id,
                       max_ref_age_ms=max_ref_age_ms)


def create_branch(table: Table, name: str,
                  snapshot_id: int | None = None,
                  min_snapshots_to_keep: int | None = None,
                  max_snapshot_age_ms: int | None = None,
                  max_ref_age_ms: int | None = None) -> Table:
    """Create a named BRANCH ref with per-ref retention settings
    (snapshot.rs:265-282): ``min_snapshots_to_keep`` /
    ``max_snapshot_age_ms`` bound the branch's retained ancestry in
    ``expire_snapshots``; ``max_ref_age_ms`` expires the ref itself."""
    return _create_ref(table, name, "branch", snapshot_id,
                       min_snapshots_to_keep=min_snapshots_to_keep,
                       max_snapshot_age_ms=max_snapshot_age_ms,
                       max_ref_age_ms=max_ref_age_ms)


def _create_ref(table: Table, name: str, ref_type: str,
                snapshot_id: int | None, **retention) -> Table:
    import dataclasses
    from iceberg_rust_archive_spark.spec.snapshot import SnapshotReference
    md = table.metadata
    sid = snapshot_id if snapshot_id is not None \
        else md.current_snapshot().snapshot_id
    if md.snapshot_by_id(sid) is None:
        raise ValueError(f"no snapshot {sid}")
    new_refs = dict(md.refs)
    new_refs[name] = SnapshotReference(sid, ref_type, **retention)
    new_md = dataclasses.replace(md, refs=new_refs)
    table.catalog.update_tabular(table.identifier, new_md,
                                 table.metadata_location)
    return table.refresh()
