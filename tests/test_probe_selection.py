"""Focused equivalence test for the r17 IVF probe-cell selection
rewrite (similarity._probe_cells): the array_sort + slice form must
select EXACTLY the cells the former per-query rank window selected,
including under exact rounded-d2 ties, because structs sort by
(d2, c_id) — the window's orderBy.  Built with deliberate multi-way
ties so a regression in tie order cannot pass.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F


# Four unit centroids at symmetric positions plus one far cell: the
# origin query is an exact 4-way d2 tie, [1,1] a 2-way tie, so the
# lowest-c_id tie-break is load-bearing for every assertion below.
CENTROIDS = [
    [1.0, 0.0],
    [0.0, 1.0],
    [-1.0, 0.0],
    [0.0, -1.0],
    [2.0, 2.0],
]
VECS = [
    (0, [0.0, 0.0]),  # d2 = 1.0 to all four unit centroids (4-way tie)
    (1, [1.0, 1.0]),  # tie between c_id 0 and 1
    (2, [0.5, 0.25]),  # no tie: strict order 0, 1, 3, 2, 4
    (3, [-1.0, -1.0]),  # tie between c_id 2 and 3
]
N_PROBE = 3


def _selected(spark):
    from etl_python_spark.operators import similarity as S

    df = spark.createDataFrame(VECS, "vec_id int, v array<double>")
    rows = (
        df.select(
            "vec_id",
            F.explode(
                S._probe_cells(F.col("v"), CENTROIDS, N_PROBE)
            ).alias("dc"),
        )
        .select("vec_id", F.col("dc.k").alias("c_id"))
        .collect()
    )
    out: dict[int, list[int]] = {}
    for r in rows:
        out.setdefault(r.vec_id, []).append(r.c_id)
    return out


def _window_reference(spark):
    """The pre-r17 form: explode every (d2, c_id) cell distance and
    keep row_number() <= N_PROBE over (d2 asc, c_id asc)."""
    from etl_python_spark.operators import similarity as S

    df = spark.createDataFrame(VECS, "vec_id int, v array<double>")
    cells = S._cells(F.col("v"), CENTROIDS)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dc.d2").asc(), F.col("dc.k").asc()
    )
    rows = (
        df.select("vec_id", F.explode(cells).alias("dc"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= N_PROBE)
        .select("vec_id", F.col("dc.k").alias("c_id"), "rnk")
        .collect()
    )
    out: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: (r.vec_id, r.rnk)):
        out.setdefault(r.vec_id, []).append(r.c_id)
    return out


def test_probe_cells_match_rank_window_under_ties(spark):
    got = _selected(spark)
    ref = _window_reference(spark)
    assert got == ref
    # The ties resolve by lowest c_id, in cell order:
    assert got[0] == [0, 1, 2]
    assert got[1][:2] == [0, 1]
    assert got[3][:2] == [2, 3]
    # And the untied query's order is the strict d2 order:
    assert got[2] == [0, 1, 3]

    # The nearest cell, array_min over the cells, is the former spelling
    # array_position(d, array_min(d)) - 1 over a bare distance array.
    from etl_python_spark.operators import similarity as S

    d = F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(
                        "v", F.array(*map(F.lit, c)), lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            )
            for c in CENTROIDS
        ]
    )
    nearest = spark.createDataFrame(VECS, "vec_id int, v array<double>").select(
        "vec_id",
        F.array_min(S._cells(F.col("v"), CENTROIDS))["k"].alias("k"),
        (F.array_position(d, F.array_min(d)) - 1).cast("int").alias("ref"),
    ).collect()
    assert [r.k for r in nearest] == [r.ref for r in nearest]
    assert {r.vec_id: r.k for r in nearest} == {0: 0, 1: 0, 2: 0, 3: 2}


def test_probe_cells_count_and_bounds(spark):
    """slice(…, 1, n_probe) must return exactly n_probe cells with
    valid ids even when n_probe equals the cell count."""
    from etl_python_spark.operators import similarity as S

    df = spark.createDataFrame(VECS, "vec_id int, v array<double>")
    n = len(CENTROIDS)
    rows = df.select(
        F.size(S._probe_cells(F.col("v"), CENTROIDS, n)).alias("sz"),
        S._probe_cells(F.col("v"), CENTROIDS, n).alias("cells"),
    ).collect()
    for r in rows:
        assert r.sz == n
        assert sorted(dc.k for dc in r.cells) == list(range(n))
