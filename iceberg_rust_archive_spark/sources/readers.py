"""Format-aware data-file reads.

Iceberg records a format PER FILE (``DataFile.file_format``, manifest
field r101 — iceberg-rust-spec/src/spec/manifest.rs DataFile), so one
table can legally mix Parquet and ORC data files (e.g. after flipping
``write.format.default``). Every place the engine turns a file list into
a DataFrame goes through :func:`read_data_files`, which groups the list
by format and unions one bulk relation per format — the scan plan stays
O(#formats), not O(#files), and Catalyst still sees plain file-source
relations it can prune and push filters into.

Two helper columns come from Spark's file metadata. ``__fp``, the
file's path in manifest form, exists for every format: Spark exposes
``_metadata.file_path`` for Parquet and ORC alike, so path-keyed joins
such as the equality-delete sequence tags work on any table.
``__pos`` (the row's ordinal in its file) is Parquet-only: Spark exposes
``_metadata.row_index`` for its Parquet reader but not ORC (probed on
this runtime), so callers that need row ordinals pass ``with_pos=True``
and get a loud error if any ORC file is in range, instead of a silent
wrong-ordinal join.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SUPPORTED = ("parquet", "orc")


def norm_format(fmt: str | None) -> str:
    return (fmt or "parquet").strip().lower()


def is_dv(data_file) -> bool:
    """True for a deletion vector: a position-delete DataFile whose
    file is a puffin blob, not a parquet pair file."""
    return norm_format(data_file.file_format) == "puffin"


def strip_field_ids(spark_schema):
    """Rebuild the schema without parquet field-id metadata → Spark
    resolves columns BY NAME. Used when the table carries
    ``schema.name-mapping.default`` (files registered via add_files
    have no embedded ids; an id-typed read schema makes Spark REFUSE
    such files outright)."""
    from pyspark.sql.types import StructField, StructType
    return StructType([StructField(f.name, f.dataType, f.nullable)
                       for f in spark_schema.fields])


# above this many leaf paths, marshal the file list to the JVM as ONE
# joined string instead of one py4j call per path — at ~0.7 ms per
# py4j round-trip the varargs API costs 1.7 s per 2400 files of pure
# driver chatter before Spark even starts listing
_BULK_PATHS_MIN = 64
_PATH_SEP = "\x1f"


def _bulk_relation(spark: SparkSession, spark_schema, paths: list[str],
                   fmt: str) -> DataFrame:
    """Build the file-source relation. Large path lists take a
    single-round-trip JVM handoff (join on an unused separator, split
    JVM-side, one ``reader.parquet(seq)`` call); anything else — small
    lists, Spark Connect sessions without ``_jvm``, or a path that
    contains the separator — uses the public varargs API. Both paths
    produce the identical relation (pinned by test)."""
    use_bulk = (len(paths) >= _BULK_PATHS_MIN
                and getattr(spark, "_jsparkSession", None) is not None
                and getattr(spark, "_jvm", None) is not None
                and not any(_PATH_SEP in p for p in paths))
    # Spark's PARALLEL file-listing job costs one task per leaf path;
    # at local-FS stat latency (~µs) its scheduling overhead dominates
    # by ~7× (measured 4.8 s job vs 0.7 s driver listing at 2,405
    # paths). Remote object stores keep the parallel job — there each
    # stat is an RTT and the job amortizes it. Conf is restored after
    # the (eager) InMemoryFileIndex build.
    _thr_key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    _force_local_listing = (
        len(paths) > 32  # Spark's default parallel-discovery threshold
        and all("://" not in p or p.startswith("file:")
                for p in paths))
    _prev_thr = None
    if _force_local_listing:
        try:
            _prev_thr = spark.conf.get(_thr_key, "32")
            spark.conf.set(_thr_key, "1000000000")
        except Exception:  # noqa: BLE001 — read-only conf: skip
            _prev_thr = None
    try:
        return _build_relation(spark, spark_schema, paths, fmt,
                               use_bulk)
    finally:
        if _prev_thr is not None:
            spark.conf.set(_thr_key, _prev_thr)


def _build_relation(spark: SparkSession, spark_schema,
                    paths: list[str], fmt: str,
                    use_bulk: bool) -> DataFrame:
    if use_bulk:
        try:
            jvm = spark._jvm
            jarr = jvm.java.lang.String(
                _PATH_SEP.join(paths)).split(_PATH_SEP)
            jseq = jvm.org.apache.spark.api.python.PythonUtils.toSeq(
                jarr)
            jschema = jvm.org.apache.spark.sql.types.DataType.fromJson(
                spark_schema.json())
            jreader = spark._jsparkSession.read().schema(jschema)
            jdf = jreader.parquet(jseq) if fmt == "parquet" \
                else jreader.orc(jseq)
            return DataFrame(jdf, spark)
        except Exception:  # noqa: BLE001 — private API moved: fall back
            pass
    reader = spark.read.schema(spark_schema)
    # pyspark API asymmetry: .parquet(*paths) is variadic, but
    # .orc(path, mergeSchema=..., ...) takes ONE path-or-list —
    # a variadic call would silently feed path #2 into mergeSchema
    # and read a single file.
    return reader.parquet(*paths) if fmt == "parquet" \
        else reader.orc(paths)


# Characters Spark 4.1 leaves UN-encoded in ``_metadata.file_path``
# (probed empirically: space/#/%/]/^/} and non-ASCII come back
# percent-escaped; these come back raw). A path made only of these is
# "encoding-transparent": its metadata form differs from the manifest's
# raw form by the scheme prefix alone, so the per-row url_decode can be
# skipped. Anything outside the set (conservatively including chars we
# never probed) takes the full decode path. Pinned by
# tests/test_projection.py::test_path_encoding_transparency against a
# live metadata read so a Spark upgrade that changes the encoder fails
# loudly instead of silently skipping the decode.
_ENC_TRANSPARENT = re.compile(r"^[A-Za-z0-9/._=,!$&'()+;@~-]*$")


def paths_encoding_transparent(paths) -> bool:
    """True iff every path's ``_metadata.file_path`` form is just the
    raw path behind a ``file:`` scheme prefix (no percent-escapes)."""
    return all(_ENC_TRANSPARENT.match(p) for p in paths)


def raw_path_col(col, paths=None):
    """``_metadata.file_path`` is a percent-ENCODED URI (space → %20,
    '%' → %25, ':' → %3A …) while manifests store RAW os paths, so a
    path-keyed join (equality-delete tags, pos-delete/DV pairs,
    changelog victims) built on the raw form silently mismatches for
    any file under a partition directory with encodable characters —
    and the INNER tag join then DROPS the file's rows (r16: found by
    the write-scan soak on an identity-timestamp partition, whose dir
    strings carry spaces and escaped colons). Decode back to the raw
    path: literal '+' is pre-escaped because url_decode is
    form-decoding and would turn it into a space; the scheme prefix
    drops to match ``DataFile.file_path``.

    ``paths``: the concrete planned file list, when the caller knows it
    (r16 verdict #1: the decode runs per ROW of every path-keyed MoR
    read, and the url_decode plus the un-anchored '+' pre-escape scan
    the whole string for every row). When every planned path is
    encoding-transparent — the overwhelmingly common case: warehouse
    paths are alnum/uuid segments plus `name=value` partition dirs —
    the expression collapses to the single anchored scheme strip.
    Callers that cannot enumerate the paths omit the argument and keep
    the always-correct full decode."""
    if isinstance(col, str):
        col = F.col(col)
    if paths is not None and paths_encoding_transparent(paths):
        return F.regexp_replace(col, "^file:/+", "/")
    return F.regexp_replace(
        F.url_decode(F.regexp_replace(col, r"\+", "%2B")),
        "^file:/+", "/")


def norm_path(path: str) -> str:
    """A file path in manifest form: ``file:`` scheme dropped, the same
    key :func:`raw_path_col` yields for the file's rows."""
    return re.sub(r"^file:/+", "/", path)


def read_data_files(spark: SparkSession, spark_schema,
                    path_fmt_pairs, with_fp: bool = False,
                    with_pos: bool = False,
                    by_name: bool = False) -> DataFrame:
    """One DataFrame over a mixed-format file list.

    ``path_fmt_pairs``: iterable of ``(file_path, file_format)``.
    ``with_fp``: add the ``__fp`` helper column, each row's file path in
    manifest form (any format).
    ``with_pos``: add ``__fp`` and ``__pos``, the row's ordinal in its
    file (parquet only — ORC in range raises).
    ``by_name``: resolve columns by name instead of field id (the
    name-mapping read path for registered external files).
    """
    if by_name:
        spark_schema = strip_field_ids(spark_schema)
    groups: dict[str, list[str]] = {}
    for p, fmt in path_fmt_pairs:
        groups.setdefault(norm_format(fmt), []).append(p)
    out: DataFrame | None = None
    for fmt in sorted(groups):
        paths = groups[fmt]
        if fmt not in _SUPPORTED:
            raise ValueError(
                f"unsupported data file format {fmt!r} "
                f"(supported: {_SUPPORTED})")
        if with_pos and fmt != "parquet":
            raise ValueError(
                "position deletes address parquet row ordinals; Spark "
                "has no _metadata.row_index for ORC data files — use "
                "equality deletes on ORC tables")
        d = _bulk_relation(spark, spark_schema, paths, fmt)
        helpers = []
        if with_fp or with_pos:
            helpers.append(raw_path_col(F.col("_metadata.file_path"),
                                        paths=paths).alias("__fp"))
        if with_pos:
            helpers.append(F.col("_metadata.row_index").alias("__pos"))
        if helpers:
            d = d.select("*", *helpers)
        out = d if out is None else out.unionByName(d)
    return out
