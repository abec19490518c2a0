"""SparkSession factory.

Local tests run on ``local[N]`` but every config here is chosen for
cluster scale: AQE handles skew and partition coalescing at 100 TB the
same way it does at sf0.01, and Arrow makes the pandas-UDF boundary
(the only Python hot path we allow) batch-columnar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class LRU (a static conf: it must be set before the
# JVM first compiles).  Measured on 4 CPUs at sf0.001: a warm pass of
# the 22 HEADLINE queries recompiled 270 of its 280 classes at Spark's
# default of 100 entries and 0 at 1000.  HEADLINE + EXTENDED compile
# 728 at sf0.01.  An entry keeps its source text and class: 30-75 KB
# of driver heap after GC (all benched queries twice at sf0.001: 178 MB
# at 100 entries, 198 MB at 1000).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "etl_python_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching — the knobs that
      make one config work from 60k rows to 100 TB.
    - Arrow on: the pandas UDF boundary is columnar batches, not rows.
    - Broadcast threshold left at default (10 MB); small dims are
      additionally hinted explicitly with ``F.broadcast`` at call
      sites so the plan survives stale/absent stats.
    - Generated-code cache of ``CODEGEN_CACHE_ENTRIES`` classes
      (``spark.sql.codegen.cache.maxEntries``, Spark's default is
      100).  It serves workloads that re-run the same query shapes in
      one process — a serving loop, a repeated batch, the
      ``star_sf0.1`` benchmark's passes: the headline set's ~270
      classes evicted each other at 100, so every warm pass recompiled
      them all and ran the new classes in the JVM interpreter again.
      A one-shot run (one cycle, as ``lifecycle_sf0.01`` is) gains
      nothing from it.
    - ``spark.sql.legacy.parquet.nanosAsLong`` on from the start, so a
      parquet INT64 nanosecond timestamp reads as a long that
      ``sources.tables.normalize_event_ts`` converts.  Set once here,
      never mid-session: every schema the session infers, and the
      cache ``sources.tables.table_schema`` keeps, is inferred under
      the same value.
    """
    # the host's usable cores unless SPARK_GRAFT_CPUS pins a count
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # columnar parquet reads + pushdown are defaults; pin anyway so
        # a misconfigured cluster profile can't silently disable them
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # 8g measured best on local[32]: a 24g heap ran the shingle
        # stage 3-10x SLOWER (progressive within-session degradation,
        # GC-dominated); small heaps keep G1 pauses short for these
        # sub-GB shuffles
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
