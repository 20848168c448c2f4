"""SparkSession factory with scale-oriented defaults.

Designed for a large cluster (AQE on, skew-join handling, partition
coalescing) while remaining testable on ``local[N]``. The reference's
writer constants (zstd compression, ~512MB target files;
iceberg-rust/src/arrow/write.rs:66 and table/mod.rs:75-85) map to the
parquet/file confs below.
"""

from __future__ import annotations

import logging
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

_DEFAULT_CONFS = {
    # Let AQE re-plan at runtime: coalesce post-shuffle partitions, convert
    # sort-merge to broadcast when a side turns out small, split skewed
    # partitions. Essential at 100 TB, harmless at sf0.01.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # On a real cluster this would be ~2-3x total cores; local tests override.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Reference writes zstd(1) parquet (iceberg-rust/src/table/mod.rs:75-85).
    "spark.sql.parquet.compression.codec": "zstd",
    # Iceberg field-ids ride in parquet metadata (SURVEY §1.2).
    "spark.sql.parquet.fieldId.write.enabled": "true",
    "spark.sql.parquet.fieldId.read.enabled": "true",
    # Arrow for pandas UDFs — the only sanctioned Python hot path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~512 MB target data files on write (write.rs:66); at 100 TB this keeps
    # file counts manageable. maxPartitionBytes keeps scan tasks memory-safe.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Timestamps in testdata are ntz-ish; keep session in UTC for determinism.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries INT64 TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as long nanos and convert explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark's parquet default is legacy INT96 timestamps; the Iceberg
    # spec's parquet appendix requires INT64 micros, AND footer readers
    # (pyarrow included) expose NO column statistics for INT96 — a
    # timestamp predicate would never prune a file (r13).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # InferFiltersFromGenerate synthesizes `size(<generator input>) > 0`
    # filters; predicate pushdown then re-inlines the full generator
    # expression (with any materialized columns substituted INTO lambda
    # bodies — per-element re-evaluation) below every exchange. For the
    # HOF-heavy shingling pipelines this turned an O(n) projection into
    # an O(n²) single-threaded filter. The inferred filter only saves
    # work for rows with empty arrays, which our pipelines handle anyway.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def get_spark(app_name: str = "iceberg-rust-archive-spark", master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes None with a cluster master already configured.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Confs every reader path needs regardless of who built the SparkSession.
# The driver's correctness harness passes a VANILLA session (not
# get_spark()), and events.parquet carries INT64 TIMESTAMP(NANOS) that the
# vectorized reader rejects without nanosAsLong. These are runtime-settable
# (verified on an already-built session), so every reader helper calls
# ensure_read_confs defensively instead of relying on session construction.
_RUNTIME_READ_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Iceberg column resolution is BY FIELD ID, not name (SURVEY §1.2):
    # without these a schema-evolved table (renamed column) silently
    # reads nulls for files written under the other name.
    "spark.sql.parquet.fieldId.write.enabled": "true",
    "spark.sql.parquet.fieldId.read.enabled": "true",
    # Iceberg parquet data files store timestamps as INT64 micros, never
    # INT96 (spec appendix); INT96 also harvests zero column statistics.
    # write_datafiles calls this on every caller session, so externally
    # built sessions (the driver's) write spec-conformant files too.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def ensure_read_confs(spark: SparkSession) -> None:
    """Set reader-critical confs on an externally-built session."""
    for k, v in _RUNTIME_READ_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # conf unknown to this Spark build — reads may still work


def read_parallel(spark: SparkSession, path: str):
    """Read parquet, fanning out to the session's parallelism when the
    source yields fewer input splits than cores. A small single-file
    table (the local test shape) otherwise pins every downstream
    per-row-expensive stage to one task; on a real 100 TB table the file
    count exceeds core count and this is a no-op."""
    ensure_read_confs(spark)
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def events_ts_to_ntz(df):
    """Normalize ``events.ts`` to TIMESTAMP_NTZ across testdata drops:
    earlier drops carried INT64 TIMESTAMP(NANOS) (surfaced as a long
    under nanosAsLong), later drops carry native timestamp[us]. Every
    events reader goes through this so a testdata regeneration can't
    change query semantics."""
    from pyspark.sql import functions as F
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
                   .cast("timestamp_ntz"))
    if dt == "timestamp":  # session is UTC, so the cast is value-preserving
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


TESTDATA_TABLES = ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings")


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TESTDATA_TABLES) -> dict:
    """Load the driver testdata parquet tables and register temp views.

    Callers should pass only the tables the query touches — loading the
    full set eagerly couples every query to every table's readability
    (a nanos-timestamp quirk in events.parquet must not break a
    customer⋈orders query that never reads events)."""
    ensure_read_confs(spark)
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events":
                df = events_ts_to_ntz(df)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def local_frame(spark: SparkSession, data, schema):
    """The one constructor for frames built on the driver: ``data`` (a
    pyarrow Table, or a list of row tuples) under ``schema`` (a
    StructType or DDL string) becomes a JVM ``LocalRelation``.

    A pyarrow Table is the one input ``createDataFrame`` turns into a
    LocalRelation whatever the session's Arrow conf. A row list — and a
    pandas frame when Arrow is off — becomes a ``LogicalRDD`` instead,
    whose every use runs a parallelize stage that starts Python workers
    (250-450 ms of wall time for a handful of rows on local[4] with 4
    vCPUs)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(data, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        cols = list(zip(*data)) if data else [()] * len(schema.fields)
        data = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type)
             for c, f in zip(cols, arrow_schema)], schema=arrow_schema)
    return spark.createDataFrame(data, schema)


def materialize_local(spark: SparkSession, df, rows=None):
    """Collect ``df`` and rebuild it as a local relation detached from
    its source plan (engine entries tear their tmp catalog down right
    after returning, so the result must not reference it). ``rows``,
    when given, are the already-collected rows of ``df``."""
    if rows is None:
        return local_frame(spark, df.toArrow(), df.schema)
    return local_frame(spark, [tuple(r) for r in rows], df.schema)


@contextmanager
def materialized(df):
    """Run ``df`` once, eagerly, and yield a frame over its result,
    released on exit — the one owner of a frame that several writes
    (or a write and its retraction) consume.

    The eager ``localCheckpoint`` runs the plan once. The block manager
    then knows what the result really holds (``memSize + diskSize`` of
    the checkpointed RDD; reading it runs no job). When that is at or
    under the broadcast threshold and every column is a type the
    driver-side write tier writes, the result is collected once
    (``toArrow()``), the checkpoint is released at once, and the frame
    yielded is a ``local_frame`` ``LocalRelation``: its optimizer
    statistics are its real size, so every write of it takes the driver
    tier (``sources/write.py``). A checkpoint's own estimate is that of
    the plan it came from — a join estimate Spark multiplies, megabytes
    to gigabytes for a few rows — and would send each write through a
    Spark job.

    Otherwise the checkpoint itself is yielded. ``localCheckpoint``
    keeps the partitioning AQE settled on (one partition for a small
    post-aggregate result), where a ``.cache()``d plan keeps its pre-AQE
    shuffle partitioning (a cached plan may not change its output
    partitioning), so every write of it would fan out into one task and
    one file per shuffle partition."""
    from iceberg_rust_archive_spark.operators.scan import (
        _broadcast_threshold,
    )
    from iceberg_rust_archive_spark.sources.write import arrow_collectable
    m = df.localCheckpoint(eager=True)
    spark = m.sparkSession
    sc = spark.sparkContext._jsc.sc()
    rdd_id = m._jdf.queryExecution().analyzed().rdd().id()
    try:
        thr = _broadcast_threshold(spark)
        stored = _stored_bytes(sc, rdd_id) \
            if thr > 0 and arrow_collectable(m.schema) else None
        if stored is not None and stored <= thr:
            _log.debug("materialized: local relation (%d stored bytes "
                       "<= threshold %d)", stored, thr)
            out = local_frame(spark, m.toArrow(), m.schema)
            sc.unpersistRDD(rdd_id, True)
            rdd_id = None
        else:
            _log.debug("materialized: checkpoint (%s stored bytes, "
                       "threshold %d)", stored, thr)
            out = m
        yield out
    finally:
        # through the context, not RDD.unpersist, which logs a WARN for
        # every locally checkpointed RDD (its lineage is gone) — nothing
        # recomputes this one
        if rdd_id is not None:
            sc.unpersistRDD(rdd_id, True)


def _stored_bytes(sc, rdd_id: int) -> int:
    """Bytes the block manager holds for RDD ``rdd_id``, in memory and
    on disk (0 when nothing is stored: an empty result)."""
    for info in sc.getRDDStorageInfo():
        if info.id() == rdd_id:
            return int(info.memSize()) + int(info.diskSize())
    return 0
