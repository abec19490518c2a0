"""Warm re-runs pay no one-time work twice: the generated-code cache
holds the headline working set, and ``load_table`` infers each table's
parquet schema once per file set (never serving a stale one)."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType, StringType, TimestampType

from etl_python_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _compiled(spark) -> int:
    """Classes Janino compiled in this JVM so far."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_warm_rerun_compiles_nothing(spark):
    # at Spark's default cache of 100 classes the headline set (~270)
    # evicted itself and a warm pass recompiled every class
    from etl_python_spark.operators import HEADLINE, all_queries

    queries = all_queries()

    def run_pass():
        for name in HEADLINE:
            queries[name](spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()

    run_pass()
    before = _compiled(spark)
    run_pass()
    assert _compiled(spark) - before == 0


def _warm_rerun_compiles(spark, run, reruns: int = 5) -> int:
    """Fewest classes any warm re-run of ``run`` compiles, over up to
    ``reruns`` re-runs after a first run.  AQE re-plans as each stage
    completes, so a re-run whose stages finish in a new order can fuse
    them differently and compile that shape once; a fresh name in the
    generated code (a LIMIT's counter) recompiles on every re-run."""
    run()
    fewest = None
    for _ in range(reruns):
        before = _compiled(spark)
        run()
        n = _compiled(spark) - before
        fewest = n if fewest is None else min(fewest, n)
        if n == 0:
            break
    return fewest


def test_warm_txn_takedown_compiles_nothing(spark, tmp_path):
    # the no-match probe planned a LIMIT, whose generated code names a
    # counter from a JVM-global sequence and so never hit the cache
    import itertools

    from etl_python_spark.sources.txn import txn_delete_keys, txn_write

    tables = itertools.count()

    def takedown():
        path = str(tmp_path / f"t{next(tables)}")
        txn_write(spark, spark.range(100).withColumnRenamed("id", "n_id"), path)
        keys = spark.range(0, 100, 7).withColumnRenamed("id", "n_id")
        assert txn_delete_keys(spark, path, keys, on=["n_id"]) == 2

    assert _warm_rerun_compiles(spark, takedown) == 0


def test_warm_dedup_components_compiles_nothing(spark):
    from etl_python_spark.operators import all_queries

    q = all_queries()["dedup_components"]

    def run():
        q(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    assert _warm_rerun_compiles(spark, run) == 0


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    sc.setJobGroup("schema_probe", "schema probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup("schema_probe"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cached_schema_read_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "region.parquet")
    load_table(spark, str(tmp_path), "region")
    df, jobs = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == 0
    assert _rows(df) == [(1,), (2,), (3,)]


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = tmp_path / "customer.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    first = load_table(spark, str(tmp_path), "customer")
    assert first.schema["k"].dataType == LongType()
    assert _rows(first) == [(1,), (2,)]

    # changed column type and an added column: a stale schema would
    # fail the read or show the new column as missing
    pq.write_table(pa.table({"k": ["a", "b", "c"], "v": [7, 8, 9]}), path)
    second = load_table(spark, str(tmp_path), "customer")
    assert second.columns == ["k", "v"]
    assert second.schema["k"].dataType == StringType()
    assert _rows(second) == [("a", 7), ("b", 8), ("c", 9)]


def test_appended_part_file_is_visible(spark, tmp_path):
    table = tmp_path / "orders.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), table / "part-0.parquet")
    assert load_table(spark, str(tmp_path), "orders").count() == 2
    pq.write_table(pa.table({"k": [3]}), table / "part-1.parquet")
    assert _rows(load_table(spark, str(tmp_path), "orders")) == [(1,), (2,), (3,)]


def test_nanos_events_normalize_to_timestamp(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_001_999]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    for _ in range(2):  # inferred, then read with the cached schema
        df = load_table(spark, str(tmp_path), "events")
        assert df.schema["ts"].dataType == TimestampType()
        got = df.selectExpr("id", "unix_micros(ts)").orderBy("id").collect()
        assert [tuple(r) for r in got] == [(1, ns[0] // 1000), (2, ns[1] // 1000)]


def test_second_register_views_runs_no_job(spark):
    # Reading events used to set nanosAsLong mid-session, which keyed
    # the schema cache anew: a second register_views re-inferred 7 tables
    from etl_python_spark.sources.tables import register_views

    sc = spark.sparkContext
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(conf) == "true"  # set once, by get_spark
    register_views(spark, SF_SMOKE)
    sc.setJobGroup("register_views_again", "warm register_views", False)
    try:
        register_views(spark, SF_SMOKE)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.conf.get(conf) == "true"
    assert list(sc.statusTracker().getJobIdsForGroup("register_views_again")) == []
