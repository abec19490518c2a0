"""Canonical test-data table access.

All query functions read parquet through these helpers so the scan
always goes through the native vectorized parquet reader with column
pruning + filter pushdown (never a pandas detour).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .fingerprint import corpus_fingerprint

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events ``ts`` column to a plain TimestampType for
    every physical shape the testdata has shipped in:

    - INT64 epoch-nanos (read as a long under the legacy nanosAsLong
      conf, which ``session.get_spark`` sets) →
      integer ``ts DIV 1000`` then ``timestamp_micros``.  Integer
      division, NOT ``F.floor(col / 1000)`` — ``/`` on a long promotes
      to float64, which has 53 mantissa bits and silently rounds
      epoch-nanos (>2^62), drifting timestamps by up to ~1 µs.
    - TIMESTAMP_NTZ (Spark 4 infers parquet ``timestamp[us]`` without
      a timezone as TimestampNTZType) → cast to session-TZ timestamp.
      The session runs UTC, so values are unchanged, but watermarks
      (``withWatermark``) require TimestampType and raise
      EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ.
    - TimestampType → already the canonical shape, pass through.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(
            col, F.expr(f"timestamp_micros({col} DIV 1000)")
        )
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# absolute path -> (file-set fingerprint, inferred schema).  Process-wide:
# an entry depends only on the files, and two threads racing on a miss
# both infer and store the same value.
_SCHEMAS: dict[str, tuple[str, StructType]] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType | None:
    """The table's inferred parquet schema, inferred once per file set.

    Inference is one Spark job per read (sf0.1 ``lineitem``, 4 CPUs,
    warm: 25-35 ms, against 2-6 ms for a read with a given schema).
    The cached schema is keyed on the table's file-set fingerprint
    (relpath, size, mtime_ns of every part file, ``corpus_fingerprint``),
    so a rewritten or appended table is re-inferred, never read with a
    stale schema.  ``None`` when the path is not on the local file
    system (nothing to fingerprint): the caller reads it with
    inference, as before."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    try:
        fp = corpus_fingerprint(sf_dir, name)
    except FileNotFoundError:
        return None
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != fp:
        hit = _SCHEMAS[path] = (fp, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table with its cached schema (``table_schema``): no
    inference job per read.  Catalyst prunes columns and pushes filters
    from whatever plan sits on top.

    The ``events`` table's ``ts`` physical type has varied between
    testdata generations (INT64 nanos vs parquet timestamp[us] →
    TIMESTAMP_NTZ); ``normalize_event_ts`` canonicalizes every shape
    to TimestampType right at the scan so downstream operators —
    including watermarked streaming — see one consistent type.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = table_schema(spark, sf_dir, name)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition to the session's core count ahead of CPU-bound
    per-row work (regex/shingling/hashing/cosines/Pandas UDFs).

    A small parquet file arrives as ONE input split (it's under
    ``spark.sql.files.maxPartitionBytes``), so without this the whole
    expression pipeline runs single-core no matter how many executors
    exist.  The explicit partition count marks the exchange
    REPARTITION_BY_NUM, which AQE will not coalesce away on byte-size
    grounds — AQE sizes partitions by bytes and cannot see per-row CPU
    cost.  On a lake layout that already arrives with at least one
    split per core the exchange is pure overhead, so the no-key form
    is conditional on the actual split count (driver-side metadata
    check, no job).  The keyed form always repartitions — there the
    point is co-location on the key, not width."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if cols:
        return df.repartition(n, *[F.col(c) for c in cols])
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in (names or TABLES))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so the Spark SQL surface
    (``spark.sql``) can be used interchangeably with the DataFrame API."""
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
