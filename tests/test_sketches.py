"""Statistical-quality tests for the sketch family (round 8).

The DuckDB oracles prove ENGINE PARITY (Spark and the oracle compute
the same numbers); these tests prove the numbers are actually good
estimates — a consistently-biased implementation would sail through a
parity check.  All inputs are deterministic (no RNG), so the asserted
error bounds are exact repeatable facts, chosen with ~3x slack over
the theoretical standard errors (HLL: 1.04/sqrt(512) ~ 4.6%;
KMV: 1/sqrt(255) ~ 6.3%)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _keyed_events(spark, n_users: int, per_user: int = 1):
    """events-shaped frame with exactly n_users distinct user_ids."""
    return (
        spark.range(n_users * per_user)
        .select(
            F.lit("t").alias("event_type"),
            (F.col("id") % n_users + 1_000_000).alias("user_id"),
        )
    )


@pytest.mark.parametrize("n", [100, 2_000, 20_000])
def test_hll_estimate_within_bound(spark, n):
    from etl_python_spark.operators.events import hll_cells, hll_finalize

    df = _keyed_events(spark, n, per_user=2)  # duplicates must not matter
    bucket, rank = hll_cells(F.col("user_id"))
    regs = (
        df.select("event_type", bucket.alias("bucket"), rank.alias("r"))
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("m_j"))
    )
    (row,) = hll_finalize(regs).collect()
    assert abs(row.est_distinct - n) / n < 0.15, (n, row.est_distinct)


def test_cms_never_underestimates_and_is_tight_for_heavy_keys(spark, tmp_path):
    """The count-min guarantee: est >= exact for every key; for a key
    holding most of the stream the overcount is bounded by the
    light-traffic spillover (eps*N with eps=e/w)."""
    import glob
    import shutil

    # 1 heavy user (5k events) + 500 light users (10 each), probe slice
    # chosen to include the heavy key
    heavy = spark.range(5_000).select(
        F.lit(0).alias("user_id"), F.col("id").alias("event_id"),
        F.lit("t").alias("event_type"),
    )
    light = spark.range(5_000).select(
        (F.col("id") % 500 + 1).alias("user_id"),
        (F.col("id") + 10_000).alias("event_id"),
        F.lit("t").alias("event_type"),
    )
    df = heavy.unionByName(light)

    from etl_python_spark.operators import events as ev

    # drive the query body directly on the synthetic frame by writing
    # it as an events table in a scratch sf_dir
    sf = tmp_path / "sfcms"
    sf.mkdir()
    df.select(
        "event_id", "user_id", "event_type",
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(0.0).alias("value"), F.lit(None).cast("string").alias("props"),
    ).write.parquet(str(sf / "events.parquet"))

    out = {r.user_id: r for r in ev.q_cms_heavy_hitters(spark, str(sf)).collect()}
    assert out, "probe slice empty"
    for r in out.values():
        assert r.overcount >= 0  # never underestimates
    heavy_row = out[0]  # user 0 is in the % 50 == 0 probe slice
    assert heavy_row.exact_count == 5_000
    # eps*N with w=1024: 10_000*e/1024 ~ 27; allow collisions slack
    assert heavy_row.overcount <= 200, heavy_row


@pytest.mark.parametrize("n", [150, 5_000])
def test_kmv_union_estimate_within_bound(spark, n, monkeypatch, tmp_path):
    """KMV union estimate error for disjoint-ish and identical sets."""
    from etl_python_spark.operators import events as ev

    a = spark.range(n).select(
        F.lit("a").alias("event_type"), (F.col("id") + 1).alias("user_id")
    )
    b = spark.range(n).select(
        F.lit("b").alias("event_type"), (F.col("id") + 1).alias("user_id")
    )
    df = a.unionByName(b)
    sf = tmp_path / "sfkmv"
    sf.mkdir()
    df.select(
        F.col("user_id").alias("event_id"), "user_id", "event_type",
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(0.0).alias("value"), F.lit(None).cast("string").alias("props"),
    ).write.parquet(str(sf / "events.parquet"))

    (row,) = ev.q_kmv_overlap(spark, str(sf)).collect()
    # identical user sets: union = n, jaccard = 1, intersection = n
    assert row.est_jaccard == 1.0
    if n <= ev.KMV_K:
        assert row.est_union == float(n)  # exact path below K
        assert row.exact_both == n
    else:
        assert abs(row.est_union - n) / n < 0.2, row
        assert abs(row.est_both - n) / n < 0.2, row


def test_histogram_quantiles_within_one_bin_width(spark):
    """Sketch estimates must sit within one bin width of the exact
    quantile (the construction's bound), on a deterministic skewed
    distribution — parity alone would not catch a biased interpolator."""
    import math

    from etl_python_spark.operators.events import (
        HIST_QS,
        histogram_quantiles,
    )

    # Skewed deterministic values: x_i = (i % 97)^2 + i // 97, i.e. a
    # quadratic ramp with a slow drift — heavy mass at the low end.
    n = 5000
    vals = [float((i % 97) ** 2 + i // 97) for i in range(n)]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, x double"
    )
    row = histogram_quantiles(
        df, "grp", F.floor(F.col("x") * 100 + F.lit(0.5)).cast("long")
    ).collect()[0]

    assert row.n_rows == n
    svals = sorted(vals)
    for name, qn, qd in HIST_QS:
        t = -((-n * qn) // qd)  # ceil(q*n)
        exact = svals[t - 1]
        est = getattr(row, name)
        assert abs(est - exact) <= row.bin_width + 1e-9, (
            name,
            est,
            exact,
            row.bin_width,
        )
    # quantiles are monotone
    assert row.p50 <= row.p90 <= row.p99


def test_histogram_quantiles_constant_column(spark):
    """hi == lo degenerate group: everything lands in bin 0 and every
    quantile equals the constant."""
    from etl_python_spark.operators.events import histogram_quantiles

    df = spark.createDataFrame(
        [("g", 42.5)] * 10, "grp string, x double"
    )
    row = histogram_quantiles(
        df, "grp", F.floor(F.col("x") * 100 + F.lit(0.5)).cast("long")
    ).collect()[0]
    assert (row.p50, row.p90, row.p99) == (42.5, 42.5, 42.5)
    assert row.bin_width == 0.0


def test_gap_fill_linear_interpolation(spark):
    """Interior gaps interpolate linearly between the bracketing
    observations; observed rows pass through; spine bounds are the
    observed min/max so no head/tail extrapolation rows exist."""
    import datetime as dt

    from etl_python_spark.operators.events import gap_fill_hours

    h0 = dt.datetime(2026, 1, 1, 0)

    def at(i):
        return h0 + dt.timedelta(hours=i)

    # observations at hours 0, 3, 4, 7 -> gaps at 1, 2 (bracket 10->40:
    # 20, 30) and 5, 6 (bracket 16->22: 18, 20)
    rows = [("a", at(0), 10), ("a", at(3), 40), ("a", at(4), 16), ("a", at(7), 22)]
    df = spark.createDataFrame(rows, "event_type string, hr timestamp, n long")
    out = {r.hr.hour: r for r in gap_fill_hours(df).collect()}

    assert sorted(out) == list(range(8))  # full spine, nothing outside
    for hour, exp in [(1, 20.0), (2, 30.0), (5, 18.0), (6, 20.0)]:
        assert out[hour].method == "interpolated"
        assert out[hour].n_observed is None
        assert out[hour].n_filled == exp
    for hour, exp in [(0, 10), (3, 40), (4, 16), (7, 22)]:
        assert out[hour].method == "observed"
        assert out[hour].n_observed == exp
        assert out[hour].n_filled == float(exp)


def test_gap_fill_fractional_quantization(spark):
    """Non-integral interpolants quantize half-up at 4dp: a 3-hour gap
    over a delta of 1 gives thirds -> 0.3333 / 0.6667 exactly."""
    import datetime as dt

    from etl_python_spark.operators.events import gap_fill_hours

    h0 = dt.datetime(2026, 1, 1, 0)
    rows = [("a", h0, 0), ("a", h0 + dt.timedelta(hours=3), 1)]
    df = spark.createDataFrame(rows, "event_type string, hr timestamp, n long")
    filled = {
        r.hr.hour: r.n_filled for r in gap_fill_hours(df).collect()
    }
    assert filled == {0: 0.0, 1: 0.3333, 2: 0.6667, 3: 1.0}


def test_weighted_sample_inclusion_tracks_weight(spark):
    """A-ES sampling quality: with weights 9 vs 1 over a large
    deterministic population, the heavy class must dominate the top-k
    near its theoretical share — parity alone can't catch a key
    formula that ignores the weight."""
    from etl_python_spark.operators.corpus import weighted_sample_keys

    # 4000 docs: even ids weight 9, odd ids weight 1
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit(9)).otherwise(F.lit(1)).alias("w"),
    )
    top = (
        weighted_sample_keys(df, F.col("w"))
        .orderBy(F.desc("key"), F.asc("doc_id"))
        .limit(400)
        .collect()
    )
    heavy = sum(1 for r in top if r.weight == 9)
    # theoretical inclusion ratio for k << n approaches w_h/(w_h+w_l)
    # per contested slot = 0.9; allow wide deterministic slack
    assert 0.75 <= heavy / 400 <= 0.98, heavy
    # keys are valid A-ES keys: ln(u)/w <= 0 always
    assert all(r.key <= 0 for r in top)


def test_weighted_sample_is_stable_under_repartition(spark):
    """The sample must depend on row content only (hash keys, no RNG
    state): any partitioning yields the identical member set."""
    from etl_python_spark.operators.corpus import weighted_sample_keys

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("w")
    )

    def sample(frame):
        rows = (
            weighted_sample_keys(frame, F.col("w"))
            .orderBy(F.desc("key"), F.asc("doc_id"))
            .limit(50)
            .collect()
        )
        return [r.doc_id for r in rows]

    assert sample(df.repartition(1)) == sample(df.repartition(13, "doc_id"))


def test_proration_reconciles_to_the_cent(spark):
    """Largest-remainder allocation: per-order allocated cents must
    sum EXACTLY to the header pool, each line within 1 cent of its
    ideal proportional share."""
    from etl_python_spark.operators.analytics_core import q_proration

    rows = q_proration(spark, "/root/testdata/sf0.001").collect()
    import collections

    import duckdb

    pools = {
        r[0]: r[1]
        for r in duckdb.query(
            "SELECT o_orderkey, CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT) "
            "FROM read_parquet('/root/testdata/sf0.001/orders.parquet')"
        ).fetchall()
    }
    per_order = collections.defaultdict(lambda: [0, 0])
    for r in rows:
        per_order[r.l_orderkey][0] += r.allocated_cents
        per_order[r.l_orderkey][1] += r.line_cents
    assert per_order  # non-trivial
    for ok, (alloc, wtot) in per_order.items():
        assert alloc == pools[ok], (ok, alloc, pools[ok])
    # proportionality: allocated within 1 cent of pool*w/wtot ideal
    import math

    checked = 0
    for r in rows:
        pool = pools[r.l_orderkey]
        wtot = per_order[r.l_orderkey][1]
        ideal = pool * r.line_cents / wtot
        assert math.floor(ideal) <= r.allocated_cents <= math.floor(ideal) + 1
        checked += 1
    assert checked == len(rows)


def test_scd2_intervals_tile_the_stream(spark):
    """Intervals are half-open, contiguous per user, exactly one
    current version, and n_events sums to the user's event count."""
    from etl_python_spark.operators.events import q_scd2_intervals

    rows = q_scd2_intervals(spark, "/root/testdata/sf0.001").collect()
    import collections

    by_user = collections.defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    assert by_user
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r.version)
        assert [r.version for r in ivs] == list(range(1, len(ivs) + 1))
        assert sum(r.is_current for r in ivs) == 1 and ivs[-1].is_current
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from          # contiguous
            assert a.valid_from <= a.valid_to          # ordered
            assert a.event_type != b.event_type        # true change


def test_km_survival_textbook_curve(spark):
    """Hand-computed KM curve with interleaved censoring: 5 subjects —
    fail@1, censor@2, fail@3, censor@4, fail@5.
    S(1)=4/5=0.8; S(3)=0.8*(2/3)=0.5333; S(5)=0 (risk set wiped)."""
    from etl_python_spark.operators.events import km_from_obs

    obs = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (4, 0), (5, 1)], "dur_h long, event int"
    )
    rows = {r.dur_h: r for r in km_from_obs(obs).collect()}
    assert sorted(rows) == [1, 3, 5]  # event times only
    assert (rows[1].n_failures, rows[1].n_risk) == (1, 5)
    assert rows[1].survival == 0.8
    assert (rows[3].n_failures, rows[3].n_risk) == (1, 3)
    assert rows[3].survival == 0.5333
    assert (rows[5].n_failures, rows[5].n_risk) == (1, 1)
    assert rows[5].survival == 0.0


def test_km_survival_no_censoring_matches_empirical(spark):
    """Without censoring KM reduces to the empirical survival
    function: S(t) = fraction with duration > t."""
    from etl_python_spark.operators.events import km_from_obs

    durs = [1, 1, 2, 3, 3, 3, 4, 7, 7, 10]
    obs = spark.createDataFrame([(d, 1) for d in durs], "dur_h long, event int")
    rows = {r.dur_h: r.survival for r in km_from_obs(obs).collect()}
    n = len(durs)
    for t, s in rows.items():
        expected = sum(1 for d in durs if d > t) / n
        assert abs(s - expected) < 2e-4, (t, s, expected)


def test_corr_matrix_matches_numpy(spark, tmp_path):
    """Exact-moment Pearson must agree with numpy's float corrcoef to
    the 4dp quantum on strongly-correlated constructed data."""
    import numpy as np

    from etl_python_spark.operators.analytics_core import q_corr_matrix

    n = 2000
    qty = np.arange(n) % 50 + 1.0
    price = 3.0 * qty + (np.arange(n) % 7)        # strong + correlation
    disc = (0.10 - 0.001 * (np.arange(n) % 50)).round(4)  # anti with qty
    tax = np.full(n, 0.05)                        # zero variance -> NULL r
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(
        {
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": disc,
            "l_tax": tax,
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), sf / "lineitem.parquet")

    rows = {
        (r.col_a, r.col_b): r.r
        for r in q_corr_matrix(spark, str(sf)).collect()
    }
    pc = np.round(price * 100)
    db = np.round(disc * 10000)
    exp_qp = float(np.corrcoef(qty, pc)[0, 1])
    exp_qd = float(np.corrcoef(qty, db)[0, 1])
    assert abs(rows[("qty", "price_c")] - exp_qp) <= 1e-4 + 1e-9
    assert abs(rows[("qty", "disc_bp")] - exp_qd) <= 1e-4 + 1e-9
    assert rows[("qty", "disc_bp")] < -0.9        # strong anti
    # zero-variance column: correlation undefined -> NULL, not a crash
    assert rows[("qty", "tax_bp")] is None
    assert rows[("price_c", "tax_bp")] is None


def test_pareto_abc_two_phase_equals_global_cumsum(spark):
    """The two-phase distributed cumsum must equal the naive global
    window, the work must actually spread across range partitions,
    and classes must be monotone A->B->C along the ranking."""
    from etl_python_spark.operators.analytics_windows import q_pareto_abc

    rows = q_pareto_abc(spark, "/root/testdata/sf0.001").collect()
    rows.sort(key=lambda r: (-r.rev_c, r.l_partkey))
    acc = 0
    seen_classes = []
    for r in rows:
        acc += r.rev_c
        assert r.cum_c == acc                     # exact global cumsum
        seen_classes.append(r.abc_class)
    assert seen_classes == sorted(seen_classes)   # A <= B <= C monotone
    assert seen_classes[0] == "A" and seen_classes[-1] == "C"
    # the kernel's range partitioning genuinely spreads the relation
    from etl_python_spark.sources.tables import load_table
    from etl_python_spark.functions.numeric import cents
    from etl_python_spark.functions.prefix import prefix_sums
    from pyspark.sql import functions as F

    rev = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(cents(F.col("l_extendedprice"))).alias("rev_c"))
    )
    cum, _ = prefix_sums(
        rev, [F.desc("rev_c"), F.asc("l_partkey")], {"cum_c": F.col("rev_c")}
    )
    assert cum.select("_pid").distinct().count() > 1


def test_temperature_mix_invariants(spark):
    """Temperature mixing: allocations reconcile exactly to the
    budget; alpha<1 up-weights small sources (smaller source gets a
    LARGER sampling factor); weights are monotone in size."""
    from etl_python_spark.operators.corpus import (
        MIX_BUDGET_TOKENS,
        q_temperature_mix,
    )

    rows = q_temperature_mix(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 1
    assert sum(r.alloc_tokens for r in rows) == MIX_BUDGET_TOKENS
    by_size = sorted(rows, key=lambda r: r.tokens)
    # monotone weight in token count...
    weights = [r.weight_bp for r in by_size]
    assert weights == sorted(weights)
    # ...but sub-linear: the smallest source is up-weighted relative
    # to the largest (factor ratio exceeds the size ratio's inverse)
    small, large = by_size[0], by_size[-1]
    assert small.sample_factor > large.sample_factor
