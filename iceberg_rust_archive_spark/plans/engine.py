"""Engine: SQL front-end over the Iceberg catalog (SURVEY §2 A17-A20, A33).

The reference intercepts DDL in a DataFusion query planner
(datafusion_iceberg/src/planner.rs:81-415) and delegates everything else to
the engine with Iceberg tables registered. Here: a light SQL router — DDL
and INSERT are parsed with regexes (the reference's transform parsing is a
regex too, planner.rs:81-116); SELECTs run on ``spark.sql`` with every
referenced catalog relation bound for that statement alone: Spark's parser
finds each reference, and a temp view with a statement-unique name,
dropped once the statement is analyzed, takes its place (views replay
their stored SQL, table.rs:170-190; MVs resolve to their storage table).

Supported statements::

    CREATE SCHEMA ns                         | DROP SCHEMA ns
    CREATE TABLE ns.t (col TYPE, ...) [USING ICEBERG]
        [PARTITIONED BY (month(col), bucket(16, col), col, ...)]
    CREATE VIEW ns.v AS SELECT ...
    CREATE MATERIALIZED VIEW ns.mv AS SELECT ...
        (CREATE TEMPORARY VIEW is accepted as an MV alias — planner.rs:94-98)
    DROP TABLE ns.t | DROP VIEW ns.v
    INSERT INTO ns.t VALUES (...), (...) | INSERT INTO ns.t SELECT ...
    ALTER TABLE ns.t ADD COLUMN(S) c TYPE, ... | DROP COLUMN c
        | RENAME COLUMN a TO b | RENAME TO [ns2.]t2
        | ADD/DROP PARTITION FIELD <expr>
        | SET TBLPROPERTIES ('k'='v', ...)
    MERGE INTO ns.t USING <src> ON t.k = s.k            (general clauses:)
        WHEN [NOT] MATCHED [AND cond] THEN
            UPDATE SET col = expr, ... | UPDATE SET * | DELETE
          | INSERT * | INSERT (cols) VALUES (exprs)
    UPDATE ns.t SET col = expr, ... [WHERE pred]
    DELETE FROM ns.t [WHERE pred] | TRUNCATE TABLE ns.t
    INSERT OVERWRITE ns.t <select|values>
    ALTER TABLE ns.t ALTER COLUMN c TYPE <wider>
        | SET IDENTIFIER FIELDS (cols)
        | CREATE/DROP BRANCH|TAG name [AS OF VERSION n]
    ALTER VIEW ns.v RENAME TO [ns2.]v2
    SHOW TABLES [IN ns] | SHOW SCHEMAS | DESCRIBE [TABLE] ns.t
    SHOW CREATE TABLE ns.t                       (re-runnable DDL)
    SELECT ... FROM ns.t VERSION AS OF <id>|'<branch|tag>'
        | TIMESTAMP AS OF '<ts>'
    SELECT ... FROM ns.t.snapshots | .files | .manifests | .history
        | .refs | .partitions | .entries | .position_deletes
        | .all_files | .all_manifests | .all_entries
        | .metadata_log_entries
    CALL system.rewrite_manifests('ns.t') | system.compact('ns.t')
        | system.zorder('ns.t', 'c1', ...) | system.expire_snapshots('ns.t', ms)
        | system.rewrite_position_deletes('ns.t')
        | system.rewrite_data_files('ns.t')
        | system.rewrite_partition('ns.t', "<partition predicate>")
        | system.analyze('ns.t'[, 'col', ...])
        | system.fast_forward('ns.t', 'branch')
        | system.add_files('ns.t', '/path/f.parquet', ...)
        | system.rollback_to_snapshot('ns.t', id)
        | system.compute_partition_stats('ns.t')
        | system.register_table('ns.new', '/path/vN.metadata.json')
        | system.create_changelog_view('ns.t'[, from[, to]])
    EXPLAIN [FORMATTED|EXTENDED] <select>  (plan over engine relations)
    SELECT refresh_materialized_view('ns.mv')    (planner.rs:724-820)
    SELECT ...                                   (delegated to Spark SQL)

SQL identifiers are case-insensitive (canonicalized to lowercase).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from iceberg_rust_archive_spark.catalog.base import Catalog
from iceberg_rust_archive_spark.plans import mv as mv_mod
from iceberg_rust_archive_spark.predicates import (
    _QUOTE_CHARS,
    _mask_quoted,
    _scan_quoted,
    _split_top,
)
from iceberg_rust_archive_spark.plans.sqlparse import (
    SelectRelations, bind_names, run_with_views,
)
from iceberg_rust_archive_spark.session import local_frame, materialized
from iceberg_rust_archive_spark.spec.partition import PartitionSpec
from iceberg_rust_archive_spark.spec.schema import Schema
from iceberg_rust_archive_spark.spec.table_metadata import TableMetadata
from iceberg_rust_archive_spark.spec.types import NestedField, StructTypeSpec
from iceberg_rust_archive_spark.spec.view_metadata import (
    MaterializedViewMetadata, ViewMetadata,
)
from iceberg_rust_archive_spark.table import METADATA_TABLES, Table

# MERGE caches its target's merge-on-read resolution only below this
# many rows (snapshot-summary total-records): small targets pay one
# materialization instead of one chain replay per consumer, while a
# large table never attempts a whole-table cache.
_MERGE_TARGET_CACHE_MAX_ROWS = 20_000_000

_MERGE_AMBIG_MARK = "__MERGE_AMBIGUOUS__"


def _guard_variant_merge_keys(t, keys: list[str]) -> None:
    """MERGE joins become equality-delete keys; a variant-typed key has
    no defined equality semantics and undefined resolution at read time
    — refuse loudly, mirroring the UPDATE/DELETE variant guards."""
    from iceberg_rust_archive_spark.spec.types import contains_variant
    schema = t.metadata.current_schema()
    for k in keys:
        fld = schema.field_by_name(k)
        if fld is not None and contains_variant(fld.field_type):
            raise ValueError(
                f"MERGE cannot join ON variant column {k!r} (equality "
                "deletes cannot key on variant values)")


def _merge_ambiguity_detail(e) -> str | None:
    """Recover the fused MERGE ambiguity guard from however the running
    Spark version surfaces a user-raised assert_true failure: the
    top-level message, the structured message parameters (these survive
    truncation/localization of the rendered text), or — when the error
    class says USER_RAISED_EXCEPTION — the Java exception's own string.
    Returns the offending-key detail ('' if the marker is found without
    its payload), or None when this is not the guard firing."""
    texts = [str(e)]
    try:
        texts += [str(v) for v in (e.getMessageParameters() or {}).values()]
    except Exception:  # noqa: BLE001 — not a captured Spark exception
        pass
    try:
        get_cls = (getattr(e, "getCondition", None)
                   or getattr(e, "getErrorClass", None))
        if get_cls and (get_cls() or "").startswith("USER_RAISED_EXCEPTION"):
            je = getattr(e, "java_exception", None)
            if je is not None:
                texts.append(je.toString())
    except Exception:  # noqa: BLE001
        pass
    for txt in texts:
        if _MERGE_AMBIG_MARK in txt:
            return (txt.split(_MERGE_AMBIG_MARK, 1)[1].split("\n", 1)[0]
                    .split(" SQLSTATE", 1)[0].strip("'\" )"))
    return None

_TYPE_MAP = {
    "bigint": "long", "long": "long", "int": "int", "integer": "int",
    "smallint": "int", "tinyint": "int", "string": "string",
    "varchar": "string", "text": "string", "char": "string",
    "double": "double", "float": "float", "real": "float",
    "boolean": "boolean", "bool": "boolean", "date": "date",
    "timestamp": "timestamp", "timestamptz": "timestamptz",
    "binary": "binary", "bytea": "binary",
    "variant": "variant",
}


def _strip_sql_comments(s: str) -> str:
    """Remove ``--`` line comments and ``/* */`` block comments,
    respecting ``'…'``/``"…"`` string literals and backtick-quoted
    identifiers (Spark's lexical rules, incl. ``''`` doubling and
    backslash escapes — ``_scan_quoted``). The shim's regex statement
    matchers otherwise splice comment text into expressions (judged
    repro: ``SET v = 'z' -- note`` fed the comment into selectExpr;
    ``SELECT "a -- b"`` must NOT lose its literal body). Spark would
    tolerate comments in the fragments it parses itself, but the shim's
    own matchers must see clean text."""
    out, i, n = [], 0, len(s)
    while i < n:
        ch = s[i]
        if ch in _QUOTE_CHARS:
            j = _scan_quoted(s, i)
            out.append(s[i:j])
            i = j
        elif ch == "-" and s[i:i + 2] == "--":
            while i < n and s[i] != "\n":
                i += 1
        elif ch == "/" and s[i:i + 2] == "/*":
            # Spark 3+ bracketed comments NEST — stopping at the first
            # */ would leave the outer comment's tail in the statement
            depth, i = 1, i + 2
            while i < n and depth:
                if s[i:i + 2] == "/*":
                    depth, i = depth + 1, i + 2
                elif s[i:i + 2] == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            out.append(" ")
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _masked_groups(rx: "re.Pattern", s: str) -> list | None:
    """``rx.match`` evaluated over the literal-masked copy of ``s``;
    returns the groups sliced from the ORIGINAL text (literals
    verbatim), or None. For router regexes whose lazy splits (``\\s+on
    \\s+``, ``\\s+where\\s+``, ``when\\s``) must never bind inside a
    string literal or quoted identifier."""
    m = rx.match(_mask_quoted(s))
    if m is None:
        return None
    return [s[m.start(i):m.end(i)] if m.start(i) != -1 else None
            for i in range(m.re.groups + 1)]


def _sub_outside_quotes(rx: "re.Pattern", repl: str, s: str) -> str:
    """``rx.sub(repl, …)`` applied only OUTSIDE quoted runs — a string
    literal containing e.g. ``db.t.`` must survive MERGE's
    target-qualifier normalization verbatim."""
    out, i, n = [], 0, len(s)
    while i < n:
        if s[i] in _QUOTE_CHARS:
            j = _scan_quoted(s, i)
            out.append(s[i:j])
            i = j
            continue
        j = n
        for q in _QUOTE_CHARS:
            k = s.find(q, i)
            if k != -1 and k < j:
                j = k
        out.append(rx.sub(repl, s[i:j]))
        i = j
    return "".join(out)


def _sql_type_to_iceberg(t: str) -> str:
    t = t.strip().lower()
    m = re.match(r"(decimal|numeric)\s*\((\d+)\s*,\s*(\d+)\)", t)
    if m:
        return f"decimal({m.group(2)},{m.group(3)})"
    base = re.sub(r"\(.*\)", "", t).strip()
    if base in _TYPE_MAP:
        return _TYPE_MAP[base]
    raise ValueError(f"unsupported SQL type {t!r}")


class Engine:
    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog
        # CREATE EXTERNAL TABLE … STORED AS CSV/PARQUET registrations:
        # name → lazy DataFrame over the location with the DDL's
        # explicit schema (planner.rs:146-220 — the reference's CSV-
        # seeded MV scripts SELECT from these, they are not catalog
        # tabulars)
        self._externals: dict[str, DataFrame] = {}

    # --- programmatic API -------------------------------------------------
    def create_table(self, identifier: str, schema: Schema,
                     partition_by: list[str] | None = None,
                     properties: dict | None = None) -> Table:
        fields = []
        if partition_by:
            counter = iter(range(1000, 1000 + len(partition_by)))
            for expr in partition_by:
                fields.append(PartitionSpec.parse_transform_expr(
                    expr, lambda: next(counter), schema))
        spec = PartitionSpec(0, tuple(fields))
        return Table.create(self.catalog, identifier.lower(), schema, spec,
                            properties=properties)

    def load_table(self, identifier: str) -> Table:
        # SQL identifiers are case-insensitive; the catalog stores the
        # lowercase canonical form
        return Table.load(self.catalog, identifier.lower())

    def create_view(self, identifier: str, sql: str) -> None:
        identifier = identifier.lower()
        schema = mv_mod.schema_from_df(self._run_select(sql))
        base = getattr(self.catalog, "root", "/tmp/iceberg-warehouse")
        vm = ViewMetadata.new(
            f"{base}/{identifier.replace('.', '/')}", sql, schema)
        self.catalog.create_tabular(identifier, vm)

    def create_materialized_view(self, identifier: str, sql: str) -> None:
        identifier = identifier.lower()
        schema = mv_mod.schema_from_df(self._run_select(sql))
        base = getattr(self.catalog, "root", "/tmp/iceberg-warehouse")
        mvm = MaterializedViewMetadata.new_mv(
            f"{base}/{identifier.replace('.', '/')}", sql, schema,
            storage_table=identifier + "_storage")
        self.catalog.create_tabular(identifier, mvm)

    def refresh_materialized_view(self, identifier: str) -> str:
        return mv_mod.refresh_materialized_view(self.spark, self.catalog,
                                                identifier.lower())

    # --- SQL router -------------------------------------------------------
    def sql(self, text: str) -> DataFrame | None:
        s = _strip_sql_comments(text).strip().rstrip(";")
        low = s.lower()

        m = re.match(r"create\s+schema\s+(?:if\s+not\s+exists\s+)?([\w.]+)",
                     low)
        if m:
            self.catalog.create_namespace(m.group(1))
            return None
        m = re.match(r"drop\s+schema\s+([\w.]+)", low)
        if m:
            self.catalog.drop_namespace(m.group(1))
            return None

        m = re.match(r"show\s+(?:tables|views)(?:\s+in\s+([\w.]+))?\s*$",
                     low)
        if m:
            namespaces = ([m.group(1)] if m.group(1)
                          else self.catalog.list_namespaces())
            rows = [(ns, name) for ns in namespaces
                    for name in self.catalog.list_tabulars(ns)]
            return local_frame(
                self.spark, rows, "namespace string, name string")
        m = re.match(r"show\s+(?:schemas|namespaces)\s*$", low)
        if m:
            return local_frame(
                self.spark,
                [(ns,) for ns in self.catalog.list_namespaces()],
                "namespace string")
        m = re.match(r"show\s+create\s+table\s+([\w.]+)\s*$", s,
                     re.IGNORECASE)
        if m:
            t = self.load_table(m.group(1))
            md = t.metadata
            schema = md.current_schema()
            sql_type = {"long": "BIGINT", "int": "INT",
                        "string": "STRING", "double": "DOUBLE",
                        "float": "FLOAT", "boolean": "BOOLEAN",
                        "date": "DATE", "timestamp": "TIMESTAMP",
                        "timestamptz": "TIMESTAMPTZ", "binary": "BINARY"}
            def _dflt(f):
                d = getattr(f, "write_default", None)
                if d is None:
                    return ""
                lit = f"'{d}'" if isinstance(d, str) else \
                    str(d).upper() if isinstance(d, bool) else str(d)
                return f" DEFAULT {lit}"
            cols = ",\n  ".join(
                f"{f.name} "
                f"{sql_type.get(f.field_type, str(f.field_type).upper()) if isinstance(f.field_type, str) else 'STRUCT'}"
                f"{' NOT NULL' if f.required else ''}{_dflt(f)}"
                for f in schema.fields)
            ddl = (f"CREATE TABLE {m.group(1).lower()} (\n  {cols})\n"
                   f"USING ICEBERG")
            by_id = {f.field_id: f.name for f in schema.fields}
            spec = md.default_spec()
            if spec.fields:
                parts = []
                for pf in spec.fields:
                    src = by_id.get(pf.source_id, pf.name)
                    if pf.transform == "identity":
                        parts.append(src)
                    elif pf.transform.startswith("bucket["):
                        parts.append(
                            f"bucket({pf.transform[7:-1]}, {src})")
                    elif pf.transform.startswith("truncate["):
                        parts.append(
                            f"truncate({pf.transform[9:-1]}, {src})")
                    else:
                        parts.append(f"{pf.transform}({src})")
                ddl += f"\nPARTITIONED BY ({', '.join(parts)})"
            props = {k: v for k, v in sorted(md.properties.items())
                     if not k.startswith("stats.")}
            if props:
                ddl += "\nTBLPROPERTIES (" + ", ".join(
                    f"'{k}'='{v}'" for k, v in props.items()) + ")"
            return local_frame(
                self.spark, [(ddl,)], "createtab_stmt string")

        m = re.match(r"describe\s+(?:table\s+)?([\w.]+)\s*$", s,
                     re.IGNORECASE)
        if m:
            t = self.load_table(m.group(1))
            schema = t.metadata.current_schema()
            spec = t.metadata.default_spec()
            part_by = {pf.source_id: pf.transform for pf in spec.fields}
            rows = [(f.name,
                     f.field_type if isinstance(f.field_type, str)
                     else "struct",
                     not f.required, part_by.get(f.field_id))
                    for f in schema.fields]
            return local_frame(
                self.spark, rows,
                "col_name string, data_type string, "
                "nullable boolean, partition_transform string")

        m = re.match(
            r"create\s+external\s+table\s+(if\s+not\s+exists\s+)?"
            r"([\w.]+)\s*\(", s, re.IGNORECASE)
        if m:
            # the column list ends at its MATCHING paren (decimal(9,2)
            # nests); the tail clauses appear in any order — DataFusion
            # scripts put PARTITIONED BY after LOCATION
            # (delta_queries/mod.rs:124-140), Spark DDL before STORED
            # AS. The STORED AS gate runs on the masked TAIL, not the
            # whole statement: gating on the full text while extracting
            # from the tail let a statement whose only 'stored as csv'
            # text sat inside the column list crash on fm=None instead
            # of falling through to a clean parse path (r15 ADVICE).
            depth, i = 1, m.end()
            masked = _mask_quoted(s)
            while i < len(s) and depth:
                depth += {"(": 1, ")": -1}.get(masked[i], 0)
                i += 1
            cols_sql, tail = s[m.end():i - 1], s[i:]
            fm = re.search(r"stored\s+as\s+(csv|parquet|iceberg)\b",
                           masked[i:], re.IGNORECASE)
        if m and fm:
            # Externals WITHOUT a STORED AS clause in the tail (`…
            # USING ICEBERG`, or bare) fall through to the generic
            # create-table branch below.
            lm = re.search(r"location\s+'([^']*)'", tail, re.IGNORECASE)
            om = re.search(r"options\s*\((.*?)\)", tail,
                           re.IGNORECASE | re.DOTALL)
            tm = re.search(r"tblproperties\s*\((.*?)\)", tail,
                           re.IGNORECASE | re.DOTALL)
            pm = re.search(r"partitioned\s+by\s*"
                           r"\(((?:[^()]|\([^()]*\))*)\)", tail,
                           re.IGNORECASE | re.DOTALL)
            ident = m.group(2)
            if m.group(1):  # IF NOT EXISTS: a no-op when present
                if ident.lower() in self._externals:
                    return None
                try:
                    if self.catalog.metadata_location(
                            ident.lower()) is not None:
                        return None
                except Exception:  # noqa: BLE001 — odd identifier
                    pass
            # DataFusion quotes transform exprs: "month(L_SHIPDATE)"
            part_sql = (",".join(
                p.strip().strip('"') for p in
                _split_top(pm.group(1), ",") if p.strip())
                if pm else None)
            return self._create_external_table_sql(
                ident, cols_sql, fm.group(1), part_sql,
                lm.group(1) if lm else None,
                om.group(1) if om else None,
                props_sql=tm.group(1) if tm else None)

        m = re.match(
            r"create\s+(?:external\s+)?table\s+([\w.]+)\s*\((.*?)\)\s*"
            r"(?:using\s+iceberg|stored\s+as\s+iceberg)?\s*"
            r"(?:partitioned\s+by\s*\((.*?)\))?\s*"
            r"(?:tblproperties\s*\((.*?)\))?\s*$",
            s, re.IGNORECASE | re.DOTALL)
        if m:
            return self._create_table_sql(m.group(1), m.group(2),
                                          m.group(3), m.group(4))

        m = re.match(
            r"create\s+table\s+([\w.]+)\s*"
            r"(?:partitioned\s+by\s*\((.*?)\)\s*)?"
            r"(?:using\s+iceberg\s+)?as\s+(select\s+.*)$",
            s, re.IGNORECASE | re.DOTALL)
        if m:
            # CTAS: schema derived from the SELECT result, then one
            # append — two commits (create + insert), matching the
            # non-atomic CTAS of engines without a staged-commit API
            from iceberg_rust_archive_spark.plans.mv import schema_from_df
            rows = self._run_select(m.group(3))
            schema = schema_from_df(rows)
            part_by = [p.strip() for p in
                       _split_top(m.group(2) or "", ",")
                       if p.strip()]
            t = self.create_table(m.group(1), schema, part_by or None)
            t.append(self.spark, rows)
            return None

        m = re.match(
            r"create\s+(materialized|temporary)\s+view\s+([\w.]+)\s+as\s+(.*)$",
            s, re.IGNORECASE | re.DOTALL)
        if m:
            # TEMPORARY VIEW → MV, matching the reference (planner.rs:94-98)
            self.create_materialized_view(m.group(2), m.group(3))
            return None
        m = re.match(r"create\s+view\s+([\w.]+)\s+as\s+(.*)$", s,
                     re.IGNORECASE | re.DOTALL)
        if m:
            self.create_view(m.group(1), m.group(2))
            return None

        m = re.match(r"drop\s+(?:table|view)\s+(if\s+exists\s+)?"
                     r"([\w.]+)", low)
        if m:
            if self._externals.pop(m.group(2), None) is not None:
                return None  # external registration, not a tabular
            if m.group(1):
                # IF EXISTS: probe existence first rather than
                # swallowing drop_tabular errors wholesale — a
                # connection/IO failure during the drop must still
                # surface (r16 self-review)
                try:
                    missing = self.catalog.metadata_location(
                        m.group(2)) is None
                except Exception:  # noqa: BLE001 — not-found shapes vary
                    missing = True
                if missing:
                    return None
            self.catalog.drop_tabular(m.group(2))
            return None

        m = re.match(r"insert\s+into\s+([\w.]+)\s+(.*)$", s,
                     re.IGNORECASE | re.DOTALL)
        if m:
            return self._insert_sql(m.group(1), m.group(2))

        m = re.match(r"insert\s+overwrite\s+(?:table\s+)?([\w.]+)\s+(.*)$",
                     s, re.IGNORECASE | re.DOTALL)
        if m:
            # full-replace semantics (the reference's Replace op)
            rows = self._run_select(f"SELECT * FROM ({m.group(2)})")
            t = self.load_table(m.group(1))
            rows = rows.toDF(*[f.name for f in
                               t.metadata.current_schema().fields])
            t.overwrite(self.spark, rows)
            return None

        m = re.match(
            r"call\s+system\.(\w+)\s*\(\s*'([\w.]+)'\s*"
            r"(?:,\s*(.*?))?\)\s*$", s, re.IGNORECASE | re.DOTALL)
        if m:
            # maintenance procedures, Spark-Iceberg style:
            #   CALL system.rewrite_manifests('ns.t')
            #   CALL system.compact('ns.t')
            #   CALL system.zorder('ns.t', 'col1', 'col2')
            #   CALL system.expire_snapshots('ns.t', <older_than_ms>)
            from iceberg_rust_archive_spark import maintenance as mt
            proc, ident, rest = m.group(1).lower(), m.group(2), m.group(3)
            if proc == "register_table":
                # CALL system.register_table('ns.new', '/path/metadata.json')
                paths = re.findall(r"'([^']+)'", rest or "")
                if not paths:
                    raise ValueError(
                        "register_table needs a metadata location")
                self.catalog.register_table(ident, paths[0])
                return None
            t = self.load_table(ident)
            if proc == "rewrite_manifests":
                mt.rewrite_manifests(t)
            elif proc == "compact":
                mt.compact_table(self.spark, t)
            elif proc == "zorder":
                cols = re.findall(r"'([\w.]+)'", rest or "")
                mt.zorder_rewrite(self.spark, t, cols)
            elif proc == "expire_snapshots":
                mt.expire_snapshots(t, int((rest or "0").strip()))
            elif proc == "rewrite_position_deletes":
                mt.rewrite_position_deletes(self.spark, t)
            elif proc == "rewrite_data_files":
                mt.rewrite_data_files(self.spark, t)
            elif proc == "rewrite_partition":
                # CALL system.rewrite_partition('ns.t',
                #     "date = DATE '2020-01-01' AND region = 'EU'")
                # partition-scoped delete-absorbing compaction: the
                # predicate string (simple =/</> conjunctions) selects
                # the partitions to rewrite
                raw = (rest or "").strip()
                if raw[:1] in ("'", '"') and raw[-1:] == raw[:1]:
                    raw = raw[1:-1]
                mt.rewrite_partition(self.spark, t,
                                     _parse_call_preds(raw))
            elif proc == "analyze":
                from iceberg_rust_archive_spark.table import (
                    analyze_table,
                )
                cols = re.findall(r"'([\w.]+)'", rest or "")
                analyze_table(self.spark, t, cols or None)
            elif proc == "fast_forward":
                # CALL system.fast_forward('ns.t', 'audit_branch')
                br = re.findall(r"'([^']+)'", rest or "")
                mt.fast_forward(t, br[0] if br else "main")
            elif proc == "add_files":
                # CALL system.add_files('ns.t', '/path/f1', '/path/f2')
                fps = re.findall(r"'([^']+)'", rest or "")
                mt.add_files(self.spark, t, fps)
            elif proc == "rollback_to_snapshot":
                mt.rollback_to_snapshot(t, int((rest or "0").strip()))
            elif proc == "compute_partition_stats":
                mt.compute_partition_stats(self.spark, t)
            elif proc == "remove_orphan_files":
                removed = mt.remove_orphan_files(
                    t, int(rest.strip()) if rest and rest.strip() else None,
                    spark=self.spark)
                return local_frame(
                    self.spark, [(p,) for p in removed] or [(None,)],
                    "orphan_file_path string")
            elif proc == "create_changelog_view":
                # CALL system.create_changelog_view('ns.t'[, from[, to]])
                # → registers <ns>_<t>_changes for SELECTs (CDC surface)
                args = [a for a in re.findall(r"\d+", rest or "")]
                ch = t.changes(
                    self.spark,
                    from_snapshot_id=int(args[0]) if args else None,
                    to_snapshot_id=int(args[1]) if len(args) > 1 else None)
                vn = re.sub(r"\W", "_", ident) + "_changes"
                ch.createOrReplaceTempView(vn)
                return local_frame(self.spark, [(vn,)],
                                   "view_name string")
            else:
                raise ValueError(f"unknown procedure {proc!r}")
            return None

        m = _masked_groups(re.compile(
            r"update\s+([\w.]+)\s+set\s+(.*?)(?:\s+where\s+(.*))?$",
            re.IGNORECASE | re.DOTALL), s)
        if m:
            # DML UPDATE: matched rows become an equality delete over
            # ALL columns + re-insert with the SET expressions applied,
            # one atomic commit — the UPDATE half of the MERGE shape.
            # No WHERE → every row updates.
            ident, sets = m[1], m[2]
            pred = m[3] or "true"
            t = self.load_table(ident)
            cols = [f.name for f in t.metadata.current_schema().fields]
            assigns = {}
            for part in _split_top(sets, ","):
                name, _, expr = part.partition("=")
                assigns[name.strip().lower()] = expr.strip()
            from iceberg_rust_archive_spark.spec.types import (
                contains_variant,
            )
            has_variant = any(
                contains_variant(f.field_type)
                for f in t.metadata.current_schema().fields)
            if has_variant and re.search(r"\bselect\b",
                                         _mask_quoted(sets + " " + pred),
                                         re.IGNORECASE):
                raise ValueError(
                    "UPDATE with a subquery is not supported on tables "
                    "with variant columns (the equality-delete fallback "
                    "cannot key on variant values)")
            if ((has_variant or t.metadata.properties.get(
                    "write.delete.format", "").lower() == "dv")
                    and not re.search(r"\bselect\b",
                                      _mask_quoted(sets + " " + pred),
                                      re.IGNORECASE)):
                # variant tables ALWAYS take this path: an equality
                # delete over all columns cannot key on a variant
                # (no equality semantics) — position addressing is
                # exact regardless of column types, and the table is
                # already format-version 3 by construction
                # DV-opted-in table: the UPDATE's delete side rides the
                # position-delete path (per-file roaring bitmaps,
                # ~1.75 B/row) instead of an all-column equality-delete
                # copy — at 100 TB the delete bytes AND the extra scan
                # join both shrink. (Subquery SETs/WHEREs stay on the
                # eq path — DataFrame filter/selectExpr can't host a
                # correlated subquery.)
                t.update_where_pos(self.spark, pred, assigns)
                return None
            # ONE scan of the matched rows feeds both the delete side
            # and the re-insert side (materialized once for the two
            # writes — the merge-on-read scan under it can be expensive)
            from iceberg_rust_archive_spark.sources.write import (
                write_delete_and_data,
            )
            schema = t.metadata.current_schema()
            eq_ids = tuple(schema.field_by_name(c).field_id for c in cols)
            with materialized(self._run_select(
                    f"SELECT * FROM {ident} WHERE {pred}")) as old:
                new = old.selectExpr(*[
                    f"({assigns[c.lower()]}) AS {c}"
                    if c.lower() in assigns else c for c in cols])
                del_files, data_files = write_delete_and_data(
                    self.spark, t.metadata, old, eq_ids, new)
            txn = (t.new_transaction().append_delete_files(del_files)
                   .append_files(data_files))
            txn.commit_with_retry(
                lambda x: x.append_delete_files(del_files)
                .append_files(data_files))
            return None

        m = re.match(
            r"(?:delete\s+from\s+([\w.]+)(?:\s+where\s+(.*))?"
            r"|truncate\s+table\s+([\w.]+))\s*$", s,
            re.IGNORECASE | re.DOTALL)
        if m:
            # DML DELETE → equality-delete file over ALL columns of the
            # matched rows (merge-on-read removes them; A16+A5). The
            # reference only exposes deletes via its API — this is the
            # SQL-shim surface on the same writer.
            # DELETE without WHERE / TRUNCATE TABLE → a Replace commit
            # with an empty file set (one metadata write, no per-row
            # delete files — O(1) regardless of table size).
            ident, pred = m.group(1) or m.group(3), m.group(2)
            t = self.load_table(ident)
            if pred is None:
                from iceberg_rust_archive_spark.spec.types import (
                    spark_schema_for,
                )
                empty = local_frame(
                    self.spark, [],
                    spark_schema_for(t.metadata.current_schema().struct))
                t.overwrite(self.spark, empty)
                return None
            from iceberg_rust_archive_spark.spec.types import (
                contains_variant,
            )
            has_variant = any(
                contains_variant(f.field_type)
                for f in t.metadata.current_schema().fields)
            if has_variant and re.search(r"\bselect\b", _mask_quoted(pred),
                                         re.IGNORECASE):
                raise ValueError(
                    "DELETE with a subquery is not supported on tables "
                    "with variant columns (the equality-delete fallback "
                    "cannot key on variant values)")
            if ((has_variant or t.metadata.properties.get(
                    "write.delete.format", "").lower() == "dv")
                    and not re.search(r"\bselect\b", _mask_quoted(pred),
                                      re.IGNORECASE)):
                # variant tables ALWAYS route positionally — equality
                # deletes cannot key on a variant column
                # (subquery predicates stay on the eq-delete path —
                # DataFrame.filter can't host a correlated subquery)
                # the table opted into deletion vectors — SQL DELETE
                # routes through the position-delete path (skinny
                # (path, pos) pairs into per-file bitmaps) instead of
                # writing the matched rows back out as an equality-
                # delete file; at 100 TB that is ~1.75 B/row vs a full
                # row copy, and the scan pays ONE anti-join instead of
                # a per-sequence eq-delete chain
                t.delete_where_pos(self.spark, pred, use_dv=True)
                return None
            rows = self._run_select(f"SELECT * FROM {ident} WHERE {pred}")
            cols = [f.name for f in t.metadata.current_schema().fields]
            t.delete_where_equal(self.spark, rows, cols)
            return None

        m = re.match(r"alter\s+table\s+([\w.]+)\s+(.*)$", s,
                     re.IGNORECASE | re.DOTALL)
        if m:
            self._alter_table_sql(m.group(1), m.group(2))
            return None

        m = re.match(r"alter\s+view\s+([\w.]+)\s+rename\s+to\s+"
                     r"([\w.]+)\s*$", s, re.IGNORECASE)
        if m:
            # view/MV rename: the same catalog pointer move as tables
            target = m.group(2)
            if "." not in target and "." in m.group(1):
                target = f"{m.group(1).rsplit('.', 1)[0]}.{target}"
            self.catalog.rename_tabular(m.group(1).lower(),
                                        target.lower())
            return None

        m = _masked_groups(re.compile(
            r"merge\s+into\s+([\w.]+)(?:\s+as\s+\w+|\s+\w+)?\s+"
            r"using\s+(.*?)\s+on\s+(.*?)\s+"
            r"when\s+matched\s+then\s+update\s+set\s+\*\s+"
            r"when\s+not\s+matched\s+then\s+insert\s+\*\s*$",
            re.IGNORECASE | re.DOTALL), s)
        if m:
            self._merge_sql(m[1], m[2], m[3])
            return None

        m = _masked_groups(re.compile(
            r"merge\s+into\s+([\w.]+)(?:\s+as\s+(\w+)|\s+(\w+))?\s+"
            r"using\s+(.*?)\s+on\s+(.*?)\s+(when\s+.*)$",
            re.IGNORECASE | re.DOTALL), s)
        if m:
            talias = m[2] or m[3]
            self._merge_sql_general(m[1], talias, m[4], m[5], m[6])
            return None

        m = re.match(
            r"select\s+refresh_materialized_view\s*\(\s*'([^']+)'\s*\)", low)
        if m:
            strategy = self.refresh_materialized_view(m.group(1))
            return local_frame(self.spark, [(strategy,)],
                               "strategy string")

        m = re.match(r"explain\s+(formatted\s+|extended\s+)?(select\s+.*)$",
                     s, re.IGNORECASE | re.DOTALL)
        if m:
            # EXPLAIN over engine-resolved relations: the inner SELECT
            # goes through the same view registration/time-travel
            # resolution as execution, so the plan shows the REAL scan
            # (pruned file list, pushed filters, join strategies)
            mode = (m.group(1) or "formatted").strip().lower()
            df = self._run_select(m.group(2))
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), mode)
            return local_frame(
                self.spark,
                [(line,) for line in plan.rstrip("\n").split("\n")],
                "plan string")

        return self._run_select(s)

    def _merge_sql(self, identifier: str, using: str, on: str) -> None:
        """MERGE INTO (upsert form): ``UPDATE SET * / INSERT *`` only —
        the whole-row upsert Iceberg's eq-delete+append commit expresses
        natively (Table.upsert). Join keys come from equality conjuncts
        naming the same column on both sides."""
        using = using.strip()
        m = re.match(r"\((.*)\)\s*(?:as\s+)?\w*\s*$", using,
                     re.IGNORECASE | re.DOTALL)
        if m:
            rows = self._run_select(m.group(1))
        else:
            src_tbl = using.split()[0]
            rows = self._run_select(f"SELECT * FROM {src_tbl}")
        keys = []
        for a, b in re.findall(r"\w+\.(\w+)\s*=\s*\w+\.(\w+)",
                                _mask_quoted(on)):
            if a.lower() != b.lower():
                raise ValueError(
                    f"MERGE ON must equate same-named columns, got {a}={b}")
            keys.append(a)
        if not keys:
            raise ValueError(f"no join keys found in ON clause: {on!r}")
        t = self.load_table(identifier)
        _guard_variant_merge_keys(t, keys)
        t.upsert(self.spark, rows, keys)

    def _merge_sql_general(self, identifier: str, talias: str | None,
                           using: str, on: str, whens: str) -> None:
        """General MERGE INTO: ordered WHEN clauses, each optionally
        guarded::

            WHEN [NOT] MATCHED [AND <cond>] THEN
                UPDATE SET col = expr, ...   (exprs may use both aliases)
              | UPDATE SET *
              | DELETE
              | INSERT *
              | INSERT (cols) VALUES (exprs)

        First clause whose guard passes wins (Spark/Delta semantics).
        Execution is ONE atomic commit: an equality-delete file over the
        OLD key tuples of every affected matched row, plus data files
        holding the post-UPDATE matched rows and the NOT-MATCHED
        inserts — the same sequence-number coupling Table.upsert uses,
        so the MERGE is all-or-nothing under merge-on-read.

        Scale: both branches are single joins of target × source on the
        ON condition (Catalyst picks broadcast when the source measures
        small); no per-clause passes — clause guards compile into CASE
        chains inside one projection."""
        t = self.load_table(identifier)
        cols = [f.name for f in t.metadata.current_schema().fields]
        talias = talias or "t"

        # accept fully-qualified target references (db.t.col) in the ON
        # and WHEN expressions by normalizing them to the target alias —
        # the spliced SQL below only exposes the two aliases
        qual = re.compile(rf"\b{re.escape(identifier)}\.", re.IGNORECASE)
        on = _sub_outside_quotes(qual, f"{talias}.", on)
        whens = _sub_outside_quotes(qual, f"{talias}.", whens)

        using = using.strip()
        m = re.match(r"\((.*)\)\s*(?:as\s+)?(\w+)?\s*$", using,
                     re.IGNORECASE | re.DOTALL)
        if m:
            sdf, salias = self._run_select(m.group(1)), m.group(2) or "s"
        else:
            parts = using.split()
            sdf = self._run_select(f"SELECT * FROM {parts[0]}")
            salias = (parts[-1] if len(parts) > 1
                      and parts[-1].lower() != "as" else "s")
        # the target is consumed TWICE (matched join + NOT MATCHED
        # anti-join) and by this point in a DML session its scan may
        # be a multi-stratum merge-on-read chain. Cache ONE
        # materialized pass only while the table provably fits
        # (total-records from the snapshot summary — the A9 stats
        # surface); at scale the target is the whole table and
        # caching 100 TB is not a plan, so large targets replay the
        # chain per consumer instead (the NOT MATCHED replay is
        # key-projected so column pruning reaches every scan)
        snap = t.metadata.current_snapshot()
        total_rows = int(((snap.summary if snap else None) or {})
                         .get("total-records", 1 << 62))
        cache_tgt = total_rows <= _MERGE_TARGET_CACHE_MAX_ROWS
        tgt = self._run_select(f"SELECT * FROM {identifier}")
        if cache_tgt:
            tgt = tgt.cache()

        keys = []
        for a, b in re.findall(r"\w+\.(\w+)\s*=\s*\w+\.(\w+)",
                                _mask_quoted(on)):
            if a.lower() != b.lower():
                raise ValueError(
                    f"MERGE ON must equate same-named columns, got {a}={b}")
            keys.append(a)
        if not keys:
            raise ValueError(f"no join keys found in ON clause: {on!r}")
        _guard_variant_merge_keys(t, keys)

        # clause boundaries come from the literal-MASKED text (a string
        # literal containing 'when matched then delete' must never open
        # a clause) — spans then slice the ORIGINAL so extracted guard
        # and action fragments keep their literals verbatim
        clause_rx = re.compile(
            r"when\s+(not\s+)?matched\s*(?:and\s+(.*?))?\s*then\s+"
            r"(update\s+set\s+.*?|insert\s+.*?|delete)\s*(?=when\s|$)",
            re.IGNORECASE | re.DOTALL)
        clauses = [
            (m.group(1),
             whens[m.start(2):m.end(2)] if m.group(2) is not None else None,
             whens[m.start(3):m.end(3)])
            for m in clause_rx.finditer(_mask_quoted(whens))]
        if not clauses:
            raise ValueError(f"no WHEN clauses parsed from: {whens!r}")
        matched, not_matched = [], []
        for neg, cond, action in clauses:
            cond = (cond or "true").strip() or "true"
            action = action.strip()
            (not_matched if neg else matched).append((cond, action))

        def _set_map(action: str) -> dict[str, str]:
            sets_sql = re.sub(r"^update\s+set\s+", "", action,
                              flags=re.IGNORECASE).strip()
            if sets_sql == "*":
                return {c.lower(): f"{salias}.{c}" for c in cols}
            out = {}
            for part in _split_top(sets_sql, ","):
                name, _, expr = part.partition("=")
                name = name.strip().split(".")[-1].lower()
                out[name] = expr.strip()
            return out

        def _insert_map(action: str) -> dict[str, str]:
            if re.match(r"insert\s+\*\s*$", action, re.IGNORECASE):
                return {c.lower(): f"{salias}.{c}" for c in cols}
            m2 = re.match(r"insert\s*\((.*?)\)\s*values\s*\((.*)\)\s*$",
                          action, re.IGNORECASE | re.DOTALL)
            if not m2:
                raise ValueError(f"cannot parse INSERT clause: {action!r}")
            names = [n.strip().split(".")[-1].lower()
                     for n in m2.group(1).split(",")]
            exprs = _split_top(m2.group(2), ",")
            if len(names) != len(exprs):
                raise ValueError("INSERT column/value count mismatch")
            return dict(zip(names, (e.strip() for e in exprs)))

        from pyspark.sql import functions as F

        from iceberg_rust_archive_spark.sources.write import write_datafiles
        from iceberg_rust_archive_spark.spec.manifest import (
            CONTENT_EQUALITY_DELETES,
        )

        data_parts = []
        del_rows = None
        if matched:
            branches, col_cases = [], {c: [] for c in cols}
            update_idx = []
            for i, (cond, action) in enumerate(matched):
                branches.append(f"WHEN ({cond}) THEN {i}")
                if action.lower().startswith("update"):
                    update_idx.append(i)
                    sets = _set_map(action)
                elif action.lower() == "delete":
                    sets = None
                else:
                    raise ValueError(
                        f"MATCHED clause must UPDATE or DELETE: {action!r}")
                for c in cols:
                    v = ("NULL" if sets is None
                         else sets.get(c.lower(), f"{talias}.{c}"))
                    col_cases[c].append(f"WHEN ({cond}) THEN ({v})")
            act = "CASE " + " ".join(branches) + " ELSE -1 END"
            proj = ", ".join(
                "CASE " + " ".join(col_cases[c])
                + f" ELSE {talias}.{c} END AS {c}" for c in cols)
            oldk = ", ".join(f"{talias}.{k} AS __old_{k}" for k in keys)
            affected = bind_names(
                self.spark,
                f"SELECT {act} AS __act, {oldk}, {proj} "
                f"FROM __merge_tgt {talias} JOIN __merge_src {salias} "
                f"ON {on}", {"__merge_tgt": tgt, "__merge_src": sdf},
            ).filter(F.col("__act") >= 0)
            # ONE aggregation is the ONLY pass over the matched join
            # output (r16 verdict #3; guide §2.4): it serves the
            # ambiguity guard (Iceberg/Delta semantics: a target row
            # matched by >1 source row has no well-defined result —
            # fail loudly instead of silently writing duplicates), the
            # delete side's distinct key set, AND the update rows — the
            # post-UPDATE projection rides along as a struct payload
            # picked by first(), which is exact because the guard
            # asserts exactly one row per key (an over-matched key
            # fails the write before anything commits). Previously the
            # full matched set was cached and scanned twice (keyed
            # aggregate + update-row filter); now the map-side partial
            # aggregation folds into the join's output stage and the
            # cached frame is the post-aggregation one row per key.
            keyed = (affected
                     .groupBy(*[F.col(f"__old_{k}").alias(k)
                                for k in keys])
                     .agg(F.count(F.lit(1)).alias("__n"),
                          F.first(F.struct(
                              F.col("__act"),
                              *[F.col(c) for c in cols])).alias("__row"))
                     ).cache()
            # the guard evaluates INSIDE the write jobs instead of as a
            # separate pre-write action: assert_true fails the write on
            # the first over-matched key, the staged files fall to the
            # orphan sweep, and _merge_ambiguity_detail recovers the
            # marker so the except below rethrows it as the documented
            # ValueError.
            guarded = keyed.filter(
                F.assert_true(
                    F.col("__n") == 1,
                    F.concat(
                        F.lit(_MERGE_AMBIG_MARK + " key="),
                        F.to_json(F.struct(*keys)))).isNull())
            del_rows = guarded.select(*keys)
            if update_idx:
                data_parts.append(
                    guarded.filter(F.col("__row.__act").isin(update_idx))
                    .select(*[F.col(f"__row.{c}").alias(c)
                              for c in cols]))
        if not_matched:
            branches, col_cases = [], {c: [] for c in cols}
            for i, (cond, action) in enumerate(not_matched):
                ins = _insert_map(action)
                branches.append(f"WHEN ({cond}) THEN {i}")
                for c in cols:
                    v = ins.get(c.lower(), "NULL")
                    col_cases[c].append(f"WHEN ({cond}) THEN ({v})")
            act = "CASE " + " ".join(branches) + " ELSE -1 END"
            proj = ", ".join(
                "CASE " + " ".join(col_cases[c])
                + " ELSE NULL END AS " + c for c in cols)
            # NOT MATCHED existence test needs only the target's join
            # keys — against the cache that's free, and on the
            # uncached (large-table) path it lets column pruning
            # reach every scan of the chain replay
            inserts = bind_names(
                self.spark,
                f"SELECT {act} AS __act, {proj} FROM __merge_src {salias} "
                f"LEFT ANTI JOIN __merge_tgt_keys {talias} ON {on}",
                {"__merge_src": sdf, "__merge_tgt_keys": tgt.select(*keys)},
            ).filter(F.col("__act") >= 0).select(*cols)
            data_parts.append(inserts)

        from iceberg_rust_archive_spark.spec.types import spark_schema_for
        schema = t.metadata.current_schema()
        target = spark_schema_for(schema.struct)
        del_files, data_files = [], []
        dk = data = None
        eq_ids = ()
        if del_rows is not None:
            eq_ids = tuple(schema.field_by_name(k).field_id for k in keys)
            key_schema = spark_schema_for(schema.project(list(eq_ids)).struct)
            dk = del_rows
            for f in key_schema.fields:
                dk = dk.withColumn(f.name, F.col(f.name).cast(f.dataType))
        if data_parts:
            data = data_parts[0]
            for p in data_parts[1:]:
                data = data.unionByName(p)
            for f in target.fields:
                data = data.withColumn(f.name, F.col(f.name).cast(f.dataType))
        try:
            if dk is not None and data is not None:
                # both sides of the commit pair → overlap the two writes
                from iceberg_rust_archive_spark.sources.write import (
                    write_delete_and_data,
                )
                del_files, data_files = write_delete_and_data(
                    self.spark, t.metadata, dk, eq_ids, data)
            elif dk is not None:
                del_files = write_datafiles(
                    self.spark, t.metadata, dk,
                    content=CONTENT_EQUALITY_DELETES, equality_ids=eq_ids)
            elif data is not None:
                data_files = write_datafiles(self.spark, t.metadata, data)
        except Exception as e:  # noqa: BLE001 — translate the guard
            detail = _merge_ambiguity_detail(e)
            if detail is not None:
                raise ValueError(
                    "MERGE source matches a target row more than once "
                    + detail) from None
            raise
        finally:
            if matched:
                keyed.unpersist()
            if cache_tgt:
                tgt.unpersist()
        if del_files or data_files:
            txn = (t.new_transaction().append_delete_files(del_files)
                   .append_files(data_files))
            txn.commit_with_retry(
                lambda x: x.append_delete_files(del_files)
                .append_files(data_files))

    def _alter_table_sql(self, identifier: str, action: str) -> None:
        """ALTER TABLE surface over the evolution transactions
        (AddSchema/SetCurrentSchema + AddSpec/SetDefaultSpec — the same
        update actions the REST commit protocol carries):

            ADD COLUMN[S] name TYPE [, name TYPE ...]
            DROP COLUMN name | RENAME COLUMN a TO b
            ADD PARTITION FIELD <transform-expr> | DROP PARTITION FIELD <name>
            SET TBLPROPERTIES ('k'='v', ...)
        """
        import dataclasses as _dc
        a = action.strip()

        # ALTER TABLE ns.t RENAME TO [ns2.]t2 — catalog pointer move
        # (must match before the generic load: renaming never needs the
        # schema, and RENAME COLUMN is a different action below)
        m = re.match(r"rename\s+to\s+([\w.]+)\s*$", a, re.IGNORECASE)
        if m:
            target = m.group(1)
            if "." not in target and "." in identifier:
                # bare target name keeps the source's namespace
                target = f"{identifier.rsplit('.', 1)[0]}.{target}"
            self.catalog.rename_tabular(identifier, target)
            return

        t = self.load_table(identifier)
        md = t.metadata
        schema = md.current_schema()

        def _evolve(new_fields):
            new_schema = Schema(schema.schema_id + 1,
                                StructTypeSpec(tuple(new_fields)))
            txn = t.new_transaction().update_schema(new_schema)
            txn.commit_with_retry(lambda x: x.update_schema(new_schema))
            t.refresh()

        m = re.match(r"add\s+columns?\s*\(?(.*?)\)?\s*$", a,
                     re.IGNORECASE | re.DOTALL)
        if m:
            next_id = md.last_column_id
            added = []
            for part in _split_top(m.group(1), ","):
                part = part.strip()
                # v3 default values: ADD COLUMN c TYPE DEFAULT <lit>
                # sets BOTH initial-default (readers fill rows from
                # files predating the column) and write-default
                # (writers fill when the input omits it) — Iceberg's
                # ADD COLUMN ... DEFAULT semantics
                dm = re.match(r"(\w+)\s+([\w(), ]+?)\s+default\s+(.+)$",
                              part, re.IGNORECASE)
                default = None
                if dm:
                    name, typ, lit = dm.group(1), dm.group(2), \
                        dm.group(3).strip()
                    if lit[:1] in ("'", '"'):
                        default = lit[1:-1]
                    elif lit.lower() in ("true", "false"):
                        default = lit.lower() == "true"
                    elif re.fullmatch(r"-?\d+", lit):
                        default = int(lit)
                    else:
                        default = float(lit)
                else:
                    name, _, typ = part.partition(" ")
                next_id += 1
                added.append(NestedField(
                    next_id, name, _sql_type_to_iceberg(typ), False,
                    initial_default=default, write_default=default))
            _evolve(list(schema.fields) + added)
            return

        m = re.match(r"drop\s+column\s+(\w+)\s*$", a, re.IGNORECASE)
        if m:
            _evolve([f for f in schema.fields if f.name != m.group(1)])
            return

        m = re.match(r"alter\s+column\s+(\w+)\s+(?:set\s+data\s+)?type\s+"
                     r"([\w(), ]+)\s*$", a, re.IGNORECASE)
        if m:
            # Type promotion (schema evolution, spec §Schemas): only the
            # spec's safe widenings are legal — int→long, float→double,
            # decimal(P,S)→decimal(P',S) with P'>P. Readers then widen
            # old files at scan time (Spark 4 parquet readers upcast
            # int32→long / float→double natively; bounds compare
            # numerically in the pruner regardless of width).
            name, new_t = m.group(1), _sql_type_to_iceberg(m.group(2))
            fld = schema.field_by_name(name)
            if fld is None:
                raise ValueError(f"no column {name!r}")
            old_t = fld.field_type
            def _dec(t):
                m2 = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
                return (int(m2.group(1)), int(m2.group(2))) if m2 else None
            ok = ((old_t, new_t) in (("int", "long"), ("float", "double"))
                  or (_dec(old_t) is not None and _dec(new_t) is not None
                      and _dec(new_t)[1] == _dec(old_t)[1]
                      and _dec(new_t)[0] > _dec(old_t)[0]))
            if not ok:
                raise ValueError(
                    f"illegal type promotion {old_t} -> {new_t}")
            _evolve([f if f.field_id != fld.field_id
                     else NestedField(f.field_id, f.name, new_t, f.required)
                     for f in schema.fields])
            return

        m = re.match(r"set\s+identifier\s+fields\s*\(?([\w, ]+?)\)?\s*$",
                     a, re.IGNORECASE)
        if m:
            # identifier-field-ids (schema.rs row-identity contract):
            # the default MERGE/upsert key set when none is given
            names = [n.strip() for n in m.group(1).split(",") if n.strip()]
            ids = []
            for n in names:
                fld = schema.field_by_name(n)
                if fld is None:
                    raise ValueError(f"no column {n!r}")
                ids.append(fld.field_id)
            new_schema = Schema(schema.schema_id + 1,
                                StructTypeSpec(tuple(schema.fields)),
                                tuple(ids))
            txn = t.new_transaction().update_schema(new_schema)
            txn.commit_with_retry(lambda x: x.update_schema(new_schema))
            t.refresh()
            return

        m = re.match(r"rename\s+column\s+(\w+)\s+to\s+(\w+)\s*$", a,
                     re.IGNORECASE)
        if m:
            _evolve([_dc.replace(f, name=m.group(2))
                     if f.name == m.group(1) else f for f in schema.fields])
            return

        m = re.match(r"add\s+partition\s+field\s+(.*)$", a, re.IGNORECASE)
        if m:
            new_pf = PartitionSpec.parse_transform_expr(
                m.group(1).strip(), lambda: 0, schema)
            t.update_partition_spec(
                list(md.default_spec().fields) + [new_pf])
            return

        m = re.match(r"drop\s+partition\s+field\s+(\w+)\s*$", a,
                     re.IGNORECASE)
        if m:
            t.update_partition_spec(
                [f for f in md.default_spec().fields
                 if f.name != m.group(1)])
            return

        m = re.match(r"set\s+tblproperties\s*\((.*)\)\s*$", a,
                     re.IGNORECASE | re.DOTALL)
        if m:
            props = dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'",
                                    m.group(1)))
            txn = t.new_transaction().set_properties(props)
            txn.commit_with_retry(lambda x: x.set_properties(props))
            return

        m = re.match(
            r"create\s+(branch|tag)\s+(\w+)"
            r"(?:\s+as\s+of\s+version\s+(\d+))?\s*$", a, re.IGNORECASE)
        if m:
            # Spark-Iceberg-style ref DDL over the SnapshotReference
            # metadata (snapshot.rs:258-297):
            #   ALTER TABLE t CREATE BRANCH dev [AS OF VERSION <snap-id>]
            #   ALTER TABLE t CREATE TAG v1 [AS OF VERSION <snap-id>]
            from iceberg_rust_archive_spark.table import (
                create_branch, create_tag,
            )
            snap = int(m.group(3)) if m.group(3) else None
            if m.group(1).lower() == "branch":
                create_branch(t, m.group(2), snapshot_id=snap)
            else:
                create_tag(t, m.group(2), snapshot_id=snap)
            return

        m = re.match(r"drop\s+(branch|tag)\s+(\w+)\s*$", a, re.IGNORECASE)
        if m:
            name = m.group(2)
            refs = dict(md.refs or {})
            if name not in refs:
                raise ValueError(f"no such ref {name!r}")
            import dataclasses as _dcs
            new_md = _dcs.replace(
                md, refs={k: v for k, v in refs.items() if k != name})
            self.catalog.update_tabular(identifier, new_md,
                                        t.metadata_location)
            return

        m = re.match(r"write\s+ordered\s+by\s+(.*)$", a, re.IGNORECASE)
        if m:
            # sort order evolution (AddSortOrder/SetDefaultSortOrder):
            #   ALTER TABLE t WRITE ORDERED BY col [ASC|DESC][, ...]
            from iceberg_rust_archive_spark.spec.sort import SortField
            sfs = []
            for part in m.group(1).split(","):
                toks = part.strip().split()
                fld = schema.field_by_name(toks[0])
                if fld is None:
                    raise ValueError(f"no column {toks[0]!r}")
                direction = (toks[1].lower() if len(toks) > 1 else "asc")
                sfs.append(SortField(fld.field_id, "identity", direction,
                                     "nulls-first"))
            t.update_sort_order(sfs)
            return

        if re.match(r"write\s+unordered\s*$", a, re.IGNORECASE):
            t.update_sort_order([])
            return

        raise ValueError(f"unsupported ALTER TABLE action: {action!r}")

    # --- helpers ----------------------------------------------------------
    def _create_external_table_sql(self, identifier, cols_sql, fmt,
                                   part_sql, location, opts_sql,
                                   props_sql=None):
        """``CREATE EXTERNAL TABLE … STORED AS CSV|PARQUET|ICEBERG
        LOCATION '…' [OPTIONS (…)]`` — the DataFusion DDL form the
        reference's planner accepts (planner.rs:146-220) and its
        CSV-seeded MV scripts use (delta_queries/mod.rs:66-88).
        ICEBERG externals create a catalog table; CSV/PARQUET
        externals register a lazy relation over the location with the
        DDL's EXPLICIT schema — no inference scan (at 100 TB schema
        inference is a full extra read of the source)."""
        fmt = fmt.lower()
        if fmt == "iceberg":
            # the catalog owns metadata layout; LOCATION is advisory —
            # TBLPROPERTIES (format-version pins, transform-space
            # stamps) pass through
            return self._create_table_sql(identifier, cols_sql, part_sql,
                                          props_sql)
        if location is None:
            raise ValueError(
                f"external {fmt} table {identifier!r} needs LOCATION")
        from pyspark.sql.types import StructField, StructType

        from iceberg_rust_archive_spark.spec.types import spark_schema_for
        fields = self._parse_column_fields(cols_sql)
        # strip the iceberg field-id metadata spark_schema_for attaches:
        # a foreign CSV/parquet file carries no field ids, and a
        # field-id-expecting read schema fails outright on such files
        spark_schema = StructType([
            StructField(f.name, f.dataType, f.nullable)
            for f in spark_schema_for(StructTypeSpec(tuple(fields)))
            .fields])
        # DataFusion-style OPTIONS ('k' 'v', …); '=' tolerated too
        opts = {k.lower(): v for k, v in re.findall(
            r"'([^']+)'\s*(?:=\s*)?'([^']*)'", opts_sql or "")}
        reader = self.spark.read.schema(spark_schema)
        if fmt == "csv":
            df = (reader
                  .option("header", opts.get(
                      "has_header", opts.get("header", "false")))
                  .option("sep", opts.get(
                      "delimiter", opts.get("sep", ",")))
                  .csv(location))
        else:
            df = reader.parquet(location)
        self._externals[identifier.lower()] = df
        return None

    def _parse_column_fields(self, cols_sql):
        fields = []
        for i, col in enumerate([c for c in _split_top(cols_sql, ",")
                                 if c.strip()]):
            parts = col.strip().split(None, 1)
            name, sqltype = parts[0], parts[1]
            required = bool(re.search(r"not\s+null", sqltype, re.IGNORECASE))
            sqltype = re.sub(r"not\s+null", "", sqltype, flags=re.IGNORECASE)
            # DEFAULT <lit> (v3, also emitted by SHOW CREATE TABLE so
            # the round-trip DDL stays re-runnable)
            default = None
            dm = re.search(r"\s+default\s+(.+)$", sqltype, re.IGNORECASE)
            if dm:
                lit = dm.group(1).strip()
                sqltype = sqltype[:dm.start()]
                if lit[:1] in ("'", '"'):
                    default = lit[1:-1]
                elif lit.lower() in ("true", "false"):
                    default = lit.lower() == "true"
                elif re.fullmatch(r"-?\d+", lit):
                    default = int(lit)
                else:
                    default = float(lit)
            fields.append(NestedField(i + 1, name,
                                      _sql_type_to_iceberg(sqltype), required,
                                      initial_default=default,
                                      write_default=default))
        return fields

    def _create_table_sql(self, identifier, cols_sql, part_sql,
                          props_sql=None):
        fields = self._parse_column_fields(cols_sql)
        schema = Schema(0, StructTypeSpec(tuple(fields)))
        part_by = [p.strip() for p in
                   _split_top(part_sql or "", ",") if p.strip()]
        props = dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'",
                                props_sql)) if props_sql else None
        self.create_table(identifier, schema, part_by or None,
                          properties=props)
        return None

    def _insert_sql(self, identifier: str, rest: str) -> None:
        t = self.load_table(identifier)
        from pyspark.sql import functions as F

        from iceberg_rust_archive_spark.spec.types import spark_schema_for
        target = spark_schema_for(t.metadata.current_schema().struct)
        # optional explicit column list: INSERT INTO t (a, b) VALUES ...
        cols = None
        m = re.match(r"\(([\w,\s]+)\)\s*(.*)$", rest, re.DOTALL)
        if m:
            cols = [c.strip().lower() for c in m.group(1).split(",")]
            rest = m.group(2)
        if re.match(r"values\s*\(", rest, re.IGNORECASE):
            df = self.spark.sql(f"SELECT * FROM ({rest})")
            df = df.toDF(*(cols or [f.name for f in target.fields]))
        else:
            df = self._run_select(rest)
            if cols:
                df = df.toDF(*cols)
            elif len(df.columns) == len(target.fields):
                # standard SQL: INSERT INTO t SELECT maps by ORDINAL,
                # not by name — unaliased expressions insert fine and
                # same-named-but-reordered outputs keep SQL semantics
                df = df.toDF(*[f.name for f in target.fields])
        if cols:
            # name-mapped projection; unnamed columns take the field's
            # write-default (v3) when one is set, else NULL
            wdflt = {f.name.lower(): f.write_default
                     for f in t.metadata.current_schema().fields
                     if getattr(f, "write_default", None) is not None}
            df = df.select(*[
                F.col(f.name).cast(f.dataType) if f.name.lower() in cols
                else F.lit(wdflt.get(f.name.lower()))
                .cast(f.dataType).alias(f.name)
                for f in target.fields])
        t.append(self.spark, df)

    # Catalyst defaultSize analogs per Iceberg type — the same per-row
    # width Spark's own CBO assumes when it cannot measure (strings
    # estimate 20 B like StringType.defaultSize)
    _TYPE_WIDTHS = {
        "boolean": 1, "int": 4, "date": 4, "float": 4,
        "long": 8, "double": 8, "time": 8,
        "timestamp": 8, "timestamptz": 8,
        "uuid": 16, "string": 20,
    }

    # the planned-bytes backstop never exceeds this ABSOLUTE ceiling,
    # no matter how high the user raises autoBroadcastJoinThreshold: 16×
    # a 512 MB threshold would permit force-broadcasting 8 GB of
    # parquet — past Spark's own 8 GB broadcast hard limit once
    # decompressed, and a driver/executor OOM, not a plan choice.
    _PLANNED_BYTES_CEILING = 512 << 20

    def _stats_broadcastable(self, md, planned_bytes=None) -> bool:
        """True when the snapshot summary's ``total-records`` proves
        the relation fits under ``spark.sql.autoBroadcastJoinThreshold``
        at Catalyst's own per-type width estimates — ZERO metadata
        reads beyond the already-loaded table metadata. A negative
        threshold (user disabled auto-broadcast) disables the hint
        too. The width estimate can be optimistic for long strings
        (defaultSize assumes 20 B), so ``planned_bytes`` — the scan's
        ACTUAL planned parquet bytes — backstops it twice: the hint
        never fires past min(16× threshold, 512 MiB) in real bytes
        (generous decompression allowance, still inside broadcast
        territory), and a summary whose claimed rows×width is wildly
        below the planned bytes (>64× compressed expansion) is treated
        as UNPROVABLE — either a foreign writer recorded total-records
        wrong, or the 20 B string estimate is hiding multi-KB values;
        both mean the metadata does not actually prove smallness."""
        from iceberg_rust_archive_spark.operators.scan import (
            _broadcast_threshold,
        )
        thresh = _broadcast_threshold(self.spark)
        if thresh <= 0:
            return False
        if planned_bytes is not None and planned_bytes > min(
                16 * thresh, self._PLANNED_BYTES_CEILING):
            return False
        snap = md.current_snapshot()
        summary = (snap.summary if snap else None) or {}
        try:
            rows = int(summary["total-records"])
        except (KeyError, TypeError, ValueError):
            return False
        width = 0
        for f in md.current_schema().fields:
            t = f.field_type
            if isinstance(t, str) and t.startswith(("decimal", "fixed")):
                width += 16
            elif isinstance(t, str):
                width += self._TYPE_WIDTHS.get(t, 40)
            else:
                width += 40  # nested / variant
        est = max(rows, 1) * max(width, 8)
        # +16 KiB: parquet footer/dictionary overhead is fixed cost,
        # not evidence the summary lies (a 1-row file is ~1-2 KB of
        # pure footer and must not trip the disagreement gate)
        if planned_bytes is not None and planned_bytes > 64 * est + 16384:
            return False  # summary disagrees wildly with real bytes
        return rows * max(width, 8) <= thresh

    _AGG_ITEM_RE = re.compile(
        r"(?:(count)\(\s*(?:\*|1)\s*\)|(min|max)\(\s*([\w.]+)\s*\))"
        r"(?:\s+as\s+(\w+))?\s*$", re.IGNORECASE)

    def _metadata_agg_fast_path(self, sql: str) -> DataFrame | None:
        """``SELECT count(*)/min(c)/max(c)[, …] FROM <iceberg table>``
        answered from manifest metadata alone — None when the statement
        is any other shape or any item is unprovable (the caller then
        runs the normal path, which computes everything in one job, so
        a partial fast answer would save nothing)."""
        import datetime as _dt

        from pyspark.sql.types import LongType, StructField, StructType

        from iceberg_rust_archive_spark.spec.types import (
            iceberg_to_spark_type,
        )
        m = re.match(r"\s*select\s+(.*?)\s+from\s+([\w.]+)"
                     r"(?:\s+where\s+(.*?))?\s*;?\s*$",
                     _mask_quoted(sql), re.IGNORECASE | re.DOTALL)
        if m is None:
            return None
        items_txt = sql[m.start(1):m.end(1)]
        try:
            t = self.load_table(m.group(2))
        except Exception:  # noqa: BLE001 — view/temp relation
            return None
        preds = None
        if m.group(3) is not None:
            # WHERE is provable only when it parses FULLY into the
            # Pred conjunction fragment; files the predicate prunes
            # contribute zero matching rows, kept files must fully
            # match (Table.metadata_min_max / Table.count gates)
            from iceberg_rust_archive_spark.predicates import (
                Pred, localize_naive_tstz, try_parse_preds,
            )
            preds = try_parse_preds(sql[m.start(3):m.end(3)])
            if preds is None:
                return None
            # strip TABLE qualifiers and require every column to
            # resolve in the schema BEFORE localization/pruning: an
            # unknown name would read as "file never fully matches",
            # sending count down the boundary-read path whose filter
            # then fails analysis OUTSIDE the ValueError fallback —
            # and a qualified tstz column would silently skip literal
            # localization (field_by_name misses 't.ts')
            schema = t.metadata.current_schema()
            tbl = m.group(2).lower()
            normd = []
            for p in preds:
                col = p.column
                if "." in col:
                    qual, base = col.rsplit(".", 1)
                    if qual.lower() not in (tbl, tbl.split(".")[-1]):
                        return None
                    col = base
                if schema.field_by_name(col) is None:
                    return None
                normd.append(p if col == p.column
                             else Pred(col, p.op, p.value, p.no_prune))
            preds = localize_naive_tstz(
                normd, schema,
                self.spark.conf.get(
                    "spark.sql.session.timeZone", "UTC") or "UTC")
        parsed = []
        for raw in _split_top(items_txt, ","):
            im = self._AGG_ITEM_RE.match(raw.strip())
            if im is None:
                return None
            parsed.append(im)
        if not parsed:
            return None
        if len(parsed) == 1 and parsed[0].group(1):
            # bare count keeps its merge-on-read fallback: Table.count
            # stays exact under live deletes via the residual scan
            n = t.count(self.spark, filter=preds)
            name = parsed[0].group(4) or "count(1)"
            # the fast path's answer must not cost a scheduled Spark job
            return local_frame(self.spark, [(n,)],
                               StructType([StructField(name, LongType())]))
        values, fields = [], []
        minmax_cache: dict[str, tuple] = {}
        try:
            for im in parsed:
                if im.group(1):  # count(*) in a mixed list: must prove
                    # (allow_scan=False raises on inexact; spark rides
                    # along only for the distributed manifest walk)
                    values.append(t.count(self.spark, filter=preds,
                                          allow_scan=False))
                    fields.append(StructField(
                        im.group(4) or "count(1)", LongType()))
                    continue
                fn, raw_col = im.group(2).lower(), im.group(3)
                if "." in raw_col:
                    # only a TABLE qualifier may be stripped: min(t.c) /
                    # min(db.t.c). Any other dotted path (a struct field
                    # like min(person.age), a wrong qualifier) must fall
                    # through to Spark, not be answered from a same-named
                    # top-level column's manifest bounds.
                    qual, col = raw_col.rsplit(".", 1)
                    tbl = m.group(2).lower()
                    if qual.lower() not in (tbl, tbl.split(".")[-1]):
                        return None
                else:
                    col = raw_col
                fld = t.metadata.current_schema().field_by_name(col)
                if fld is None or not isinstance(fld.field_type, str) \
                        or fld.field_type in ("boolean", "time",
                                              "uuid", "binary") \
                        or fld.field_type.startswith(("fixed", "binary")):
                    return None
                if col not in minmax_cache:
                    # spark rides along ONLY for the distributed
                    # manifest walk above the plan-mode gate; below it
                    # the answer still costs zero Spark jobs
                    minmax_cache[col] = t.metadata_min_max(
                        col, filter=preds, spark=self.spark)
                v = minmax_cache[col][0 if fn == "min" else 1]
                ftype = fld.field_type
                if v is not None:
                    if ftype == "date":
                        v = _dt.date.fromisoformat(v)
                    elif ftype == "timestamp":  # bounds are epoch micros
                        v = (_dt.datetime(1970, 1, 1)
                             + _dt.timedelta(microseconds=int(v)))
                    elif ftype == "timestamptz":
                        # aware instant: exact under any process zone
                        v = (_dt.datetime(1970, 1, 1,
                                          tzinfo=_dt.timezone.utc)
                             + _dt.timedelta(microseconds=int(v)))
                    elif ftype == "float":
                        v = float(v)
                values.append(v)
                fields.append(StructField(
                    im.group(4) or f"{fn}({fld.name})",
                    iceberg_to_spark_type(ftype)))
        except ValueError:
            return None  # unprovable — normal path computes it all
        return local_frame(self.spark, [tuple(values)],
                           StructType(fields))

    def _run_select(self, sql: str) -> DataFrame:
        """Bind each catalog relation Spark's parser finds in the
        statement for this statement alone (``run_with_views``), then
        spark.sql (the A33 context-provider role). Time travel rides
        ``FROM t VERSION AS OF <snapshot-id|'ref'>`` and ``FROM t
        TIMESTAMP AS OF '<ts>'`` (A35); ``ns.t.<kind>`` reads a
        metadata table (``METADATA_TABLES``)."""
        # Bare `SELECT count(*)/min(c)/max(c)[, ...] FROM <iceberg
        # table>` routes through the metadata fast path: manifest
        # record_counts and column bounds answer it with ZERO Spark jobs
        # on a table of ANY size (Table.count / Table.metadata_min_max
        # — the A9 statistics surface). Any unprovable item (live
        # deletes, truncated string bounds, possible NaN, pre-column
        # files) falls through to the normal path, so semantics are
        # always exact.
        fast = self._metadata_agg_fast_path(sql)
        if fast is not None:
            return fast
        rels = SelectRelations(self.spark, sql)
        bound: dict = {}   # one frame per relation, however often named
        for r in rels.relations:
            if (r.name, r.as_of) not in bound:
                bound[r.name, r.as_of] = self._bind_relation(r, rels)
        return run_with_views(self.spark, sql, {
            r: bound[r.name, r.as_of] for r in rels.relations})

    def _bind_relation(self, ref, rels) -> DataFrame | None:
        """The frame one relation reference binds to, or None to leave
        it to Spark (not a catalog relation)."""
        if ref.as_of is not None:
            try:
                t = self.load_table(ref.name)
            except Exception:  # noqa: BLE001
                return None
            # TIMESTAMP AS OF is epoch ms; VERSION AS OF a number is a
            # snapshot id, a quoted name a branch/tag ref (Spark-Iceberg's
            # convention)
            v = ref.as_of
            return t.scan(self.spark, **(
                {"as_of_ms": v} if isinstance(v, int) else
                {"snapshot_id": int(v)} if v.isdigit() else {"branch": v}))
        ident, _, kind = ref.name.rpartition(".")
        if kind in METADATA_TABLES and "." in ident:
            try:  # ns.t.<kind> → metadata table
                return self.load_table(ident).inspect(self.spark, kind)
            except Exception:  # noqa: BLE001 — not a catalog table
                pass
        try:
            md = self.catalog.load_tabular(ref.name)
        except Exception:  # noqa: BLE001 — not a catalog table
            # CREATE EXTERNAL TABLE registration: explicit-schema
            # relation over its location
            return self._externals.get(ref.name)
        if isinstance(md, MaterializedViewMetadata):
            # MV scan = storage-table scan (table.rs:183-189), projected
            # back through any avg sum/count decomposition
            return mv_mod.storage_read_projection(
                md.sql,
                Table.load(self.catalog, md.storage_table).scan(self.spark))
        if isinstance(md, ViewMetadata):
            return self._run_select(md.sql)  # view replay (A20)
        if not isinstance(md, TableMetadata):
            return None
        # A7 through the SQL surface: the WHERE conjuncts directly over
        # the statement's only relation push into the scan as pruning
        # Preds. Sound by the inexact-filter contract: pruning with a
        # SUBSET of conjuncts keeps a superset of matching files, and the
        # full WHERE still applies in spark.sql. Without this, an Engine
        # `SELECT ... WHERE day = X` planned EVERY file at metadata level
        # — at 100 TB the pruning layer, not parquet row-group skipping,
        # is what bounds the scan.
        preds = _table_preds(rels.conjuncts(), md.current_schema())
        rep: dict = {}
        df = Table(self.catalog, ref.name, md).scan(
            self.spark, filter=preds, report=rep)
        if rels.has_join and (
                rep.get("broadcastable")  # planned bytes ≤ thr
                or self._stats_broadcastable(
                    md, rep.get("data_bytes_planned"))):
            # stats-based planning (SURVEY §4; the reference feeds table
            # statistics into DataFusion's CBO, datafusion_iceberg/src/
            # statistics.rs:20-146): metadata proves this relation tiny,
            # so hint it broadcast-side — multi-table SQL then picks
            # BroadcastHashJoin over sort-merge for dimension tables even
            # when Spark's own size estimate (file bytes of a MoR chain,
            # subquery output) cannot see it. A statement with no join
            # skips the hint: Catalyst would strip it unapplied with a
            # HintErrorLogger warning on every run.
            from pyspark.sql import functions as F
            df = F.broadcast(df)
        return df


def _table_preds(conjuncts: list[str], schema):
    """Pruning Preds from WHERE conjunct texts: each one that parses in
    the conjunctive fragment and names a schema column (alias qualifiers
    stripped); the rest are not pushed, which costs pruning, never
    correctness (the full WHERE still applies in Spark SQL)."""
    from iceberg_rust_archive_spark.predicates import Pred, try_parse_preds
    out = []
    for term in conjuncts:
        for p in try_parse_preds(term) or ():
            col = p.column
            if schema.field_by_name(col) is None:
                tail = col.split(".")[-1]
                if "." not in col or schema.field_by_name(tail) is None:
                    continue  # unknown column (or not this table's)
                p = Pred(tail, p.op, p.value)
            out.append(p)
    return out or None


def _parse_call_preds(raw: str):
    """Parse the simple predicate string of CALL system
    procedures — ``col <op> literal [AND …]`` with literals
    ``DATE 'yyyy-mm-dd'``, ``'string'``, or numbers — into the
    ``Pred`` list the maintenance/pruning layer consumes."""
    import datetime as _dt

    from iceberg_rust_archive_spark.predicates import Pred
    preds = []
    for term in re.split(r"\s+and\s+", raw.strip(),
                         flags=re.IGNORECASE):
        m = re.match(r"\s*([\w.]+)\s*(<=|>=|=|<|>)\s*(.+?)\s*$", term)
        if not m:
            raise ValueError(f"unparseable predicate term {term!r}")
        col, op, lit = m.group(1), m.group(2), m.group(3)
        dm = re.match(r"date\s+'([^']+)'", lit, re.IGNORECASE)
        if dm:
            val = _dt.date.fromisoformat(dm.group(1))
        elif lit[:1] == "'":
            val = lit.strip("'")
        elif re.fullmatch(r"-?\d+", lit):
            val = int(lit)
        else:
            val = float(lit)
        preds.append(Pred(col, op, val))
    return preds
