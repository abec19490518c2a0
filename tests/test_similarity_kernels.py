"""Shared kernels of the similarity family: the one-parse double-array
literal and the overlapped IVF×PQ fit's job attribution."""

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

SPECIAL = [math.nan, math.inf, -math.inf, 0.1]


def _reprs(values):
    return [repr(float(x)) for x in values]


def test_arr_lit_matches_elementwise_lit_on_non_finite_values(spark):
    """``_arr_lit``, and ``_cells`` over a book holding them, spell NaN
    and ±Infinity so that Spark parses back the doubles an element-wise
    ``F.lit`` builds."""
    from etl_python_spark.operators import similarity as S

    one = spark.range(1)
    flat = one.select(
        S._arr_lit(SPECIAL).alias("lit"),
        F.array(*[F.lit(x) for x in SPECIAL]).alias("ref"),
    ).first()
    assert _reprs(flat.lit) == _reprs(flat.ref) == _reprs(SPECIAL)

    nested = one.select(S._arr_lit([SPECIAL, SPECIAL[::-1]]).alias("lit")).first()
    assert [_reprs(row) for row in nested.lit] == [
        _reprs(SPECIAL),
        _reprs(SPECIAL[::-1]),
    ]

    # one-element centroids: the squared distance from 0.0 to each value
    vec = one.select(F.array(F.lit(0.0)).alias("v"))
    cells = vec.select(S._cells(F.col("v"), [[x] for x in SPECIAL]).alias("c")).first()
    assert [c.k for c in cells.c] == list(range(len(SPECIAL)))
    got = [c.d2 for c in cells.c]
    ref = vec.select(
        *[
            F.round(
                F.aggregate(
                    F.zip_with("v", F.array(F.lit(x)), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, y: acc + y,
                ),
                6,
            ).alias(f"d{i}")
            for i, x in enumerate(SPECIAL)
        ]
    ).first()
    assert _reprs(got) == _reprs(ref) == ["nan", "inf", "inf", "0.01"]


def test_overlapped_fit_jobs_run_in_the_callers_job_group(spark):
    """Every job of ``_fit_ivf_pq``'s thread pool carries the job group
    of the thread that called it, so a per-group ledger sees them."""
    from etl_python_spark.operators import similarity as S

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty

    emb = S._kmeans_emb(spark, SF_SMOKE)
    drain()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("fit_ivf_pq", "overlapped IVF x PQ fit", False)
    try:
        S._fit_ivf_pq(emb)
    finally:
        sc._jsc.clearJobGroup()
    drain()
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert tracker.getJobIdsForGroup("fit_ivf_pq")
