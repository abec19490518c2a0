"""Physical-plan regression guards: the properties the scale design
depends on, asserted against explain output so a refactor can't
silently reintroduce a bad plan shape."""

import contextlib
import io

from etl_python_spark.operators.analytics_core import (
    q_faturamento_rollup,
    q_top_customers_per_nation,
)
from etl_python_spark.operators.dedup import q_ngram_jaccard_pairs
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_faturamento_broadcasts_dims_and_prunes_scan(spark):
    plan = _plan(q_faturamento_rollup(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    # orders scan must not read untouched columns
    scan = next(s for s in plan.split("(") if "orders.parquet" in s)
    assert "o_comment" not in scan and "o_orderpriority" not in scan
    assert "PushedFilters: [IsNotNull" in plan


def test_top_customers_single_window_after_aggregate(spark):
    import re

    plan = _plan(q_top_customers_per_nation(spark, SF_SMOKE))
    # aggregate shrinks input BEFORE the window; ONE rank window (r17
    # reverted the r16 salted two-phase: WindowGroupLimit already
    # prunes each map task to its per-nation top-5 before the single
    # exchange, so the salt stage only added an exchange + sort)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    # the rank-limit prune must appear on BOTH sides of the exchange
    # (two WindowGroupLimit nodes for the single window = the Partial
    # map-side prune + the Final reduce-side prune; the formatted plan
    # does not print the mode, so the count is the pin)
    assert len(re.findall(r"\(\d+\) WindowGroupLimit\b", plan)) == 2
    # no salt stage: the window exchange keys on n_name alone
    assert not re.search(r"hashpartitioning\(n_name#\d+, salt#\d+", plan)
    assert "SortMergeJoin" not in plan


def test_ngram_join_is_hash_keyed_and_single_corpus_pass(spark):
    plan = _plan(q_ngram_jaccard_pairs(spark, SF_SMOKE))
    # the df-cap semi-join (stop-shingle filter) must precede the pair
    # join, and the pair join must be an equi-join on the shingle hash
    # — never an unkeyed doc×doc product
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # single corpus pass (round 6): the shingle stream is materialized
    # once; a parquet scan in the final plan means the df-count branch
    # re-runs the regex shingler over the corpus
    assert "parquet" not in plan.lower()
    assert plan.count("Scan ExistingRDD") >= 1


def test_ngram_shingle_stream_spreads_the_scan(spark):
    from etl_python_spark.operators.dedup import hashed_shingle_stream
    from etl_python_spark.sources.tables import load_table

    plan = _plan(hashed_shingle_stream(load_table(spark, SF_SMOKE, "documents")))
    # the CPU-spreading repartition must survive optimization in the
    # stream that feeds the checkpoint
    assert "REPARTITION_BY_NUM" in plan
    # and the inferred size()>0 filter must not sit below it (it would
    # re-inline the shingle expression pre-exchange, single-core)
    below = plan.split("REPARTITION_BY_NUM")[0]
    assert "array_distinct" not in below


def test_ngram_df_filter_precedes_pair_join(spark):
    plan = _plan(q_ngram_jaccard_pairs(spark, SF_SMOKE))
    # OOM/fan-out guard: pairs may only be generated AFTER the
    # document-frequency count filtered out hot shingles, and no
    # aggregation buffer may ever hold a posting list (the round-6
    # join form removed the collect_list entirely).  The df count
    # aggregate must exist, and the semi-join applying the cap must
    # sit BELOW the pair join in the tree (root printed first).
    tree = plan.split("(1) Scan")[0]
    assert "partial_count(1)" in plan
    assert "collect_list" not in plan
    assert tree.index("LeftSemi") > tree.index("Join")


def test_minhash_single_corpus_pass(spark):
    from etl_python_spark.operators.dedup import q_minhash_lsh_pairs

    plan = _plan(q_minhash_lsh_pairs(spark, SF_SMOKE))
    # The corpus is scanned + shingled exactly once, into the eager
    # localCheckpoint; everything downstream (banding, candidate join,
    # verification) must read the checkpointed relation — a parquet
    # scan in the final plan means the round-4 double shingle-pass
    # (43d149d:BENCH_r04.json: 3.77 s vs 1.89 s baseline) has crept back.
    assert "parquet" not in plan.lower()
    assert plan.count("Scan ExistingRDD") >= 1


def test_decontaminate_broadcast_guard_falls_back(spark):
    """The bench-gram broadcast is size-guarded: when the measured gram
    set exceeds the cap the join must NOT carry a broadcast hint (AQE
    may still choose broadcast from runtime stats — the bug was the
    unconditional hint), and both strategies return identical rows."""
    from etl_python_spark.operators.corpus import decontaminate
    from etl_python_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    hinted = decontaminate(docs, max_broadcast_bytes=1 << 30)
    fallback = decontaminate(docs, max_broadcast_bytes=1)
    assert "ResolvedHint" not in fallback._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, fallback.collect())) == sorted(
        map(tuple, hinted.collect())
    )


def test_partitioned_staging_prunes_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_python_spark.sources.tables import load_table
    from etl_python_spark.sources.writers import write_staging

    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "ano", F.year("o_orderdate")
    )
    path = str(tmp_path / "staged")
    write_staging(orders, path, partition_by=["ano"])

    read = spark.read.parquet(path).filter(F.col("ano") == 1998)
    plan = _plan(read)
    # the year predicate must prune at the directory level, not scan+filter
    assert "PartitionFilters: [isnotnull(ano" in plan or "PartitionFilters: [(ano" in plan, plan
    years = {r.ano for r in read.select("ano").distinct().collect()}
    assert years == {1998}


def test_sketch_family_plan_shapes(spark):
    """Round-8 sketches: no cartesian products anywhere; the probe /
    scoring joins broadcast their sketch-sized side; the KMV build
    never funnels a type's distinct set through one task (every data
    window partitions by the salt stage first)."""
    import re

    from etl_python_spark.operators.events import (
        q_bloom_semi_filter,
        q_cms_heavy_hitters,
        q_hll_users,
        q_kmv_overlap,
    )

    for fn in (q_hll_users, q_cms_heavy_hitters, q_bloom_semi_filter):
        plan = _plan(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__

    plan = _plan(q_kmv_overlap(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # two-stage bottom-K: the first row_number window over the data
    # partitions by (event_type, salt); only the <=64K-candidate
    # second stage may partition by event_type alone.  The sketch is
    # localCheckpointed in the serving query (it feeds two consumers),
    # so the build-stage shape is pinned on _kmv_sketch's own plan.
    from etl_python_spark.operators.events import _kmv_sketch
    from etl_python_spark.sources.tables import load_table

    sk_plan = _plan(_kmv_sketch(load_table(spark, SF_SMOKE, "events")))
    specs = re.findall(
        r"row_number\(\) windowspecdefinition\(([^,]+, [^,]+),", sk_plan
    )
    assert any("salt" in s for s in specs), specs


def test_dsir_token_stream_read_exactly_twice(spark):
    """dsir_scores reads the corpus token stream twice (distribution
    pass + scoring pass) and broadcasts the bucket table — no third
    explode and no shuffled lambda join."""
    from etl_python_spark.operators.corpus import q_dsir_scores

    plan = _plan(q_dsir_scores(spark, SF_SMOKE))
    assert plan.count("Generate explode") <= 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
