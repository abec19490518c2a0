"""The two-phase prefix kernel equals the single window it replaces."""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_python_spark.functions import prefix


def _relation(spark, seed):
    """Seeded rows whose order key k takes few values, so runs of equal
    k span range-partition boundaries (id breaks the ties); one group
    is null, which the single window treats as a group of its own."""
    rng = random.Random(seed)
    rows = [
        (i, rng.choice(["a", "b", "c", None]), rng.randrange(6),
         rng.randrange(-50, 100))
        for i in range(300)
    ]
    return spark.createDataFrame(rows, "id long, g string, k int, x long")


@pytest.mark.parametrize("by", [(), ("g",)], ids=["global", "grouped"])
def test_prefix_sums_matches_single_window(spark, monkeypatch, by):
    df = _relation(spark, seed=18)
    order = [F.desc("k"), F.asc("id")]
    sums = {"sx": F.col("x"), "_pos": F.lit(1)}
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        r.id: (r.sx, r._pos)
        for r in df.select(
            "id", *[F.sum(c).over(w).alias(n) for n, c in sums.items()]
        ).collect()
    }
    group_totals = {}
    for r in df.collect():
        t = group_totals.setdefault(tuple(r[b] for b in by), [0, 0])
        t[0] += r.x
        t[1] += 1

    def run():
        out, totals = prefix.prefix_sums(df, order, sums, by=by)
        rows = out.collect()
        got = {r.id: (r.sx, r._pos) for r in rows}
        assert got == want
        assert {g: [t["sx"], t["_pos"]] for g, t in totals.items()} == group_totals
        for r in rows:
            assert [r.sx_total, r._pos_total] == group_totals[
                tuple(r[b] for b in by)
            ]
        return {r._pid for r in rows}

    assert len(run()) > 1  # the work genuinely spreads
    for n in (2, 13):
        monkeypatch.setattr(prefix, "range_parts", lambda df, n=n: n)
        assert len(run()) > 1


def test_prefix_sums_empty_input_has_zero_grand_total(spark):
    df = spark.createDataFrame([], "id long, x long")
    out, totals = prefix.prefix_sums(df, ["id"], {"sx": F.col("x")})
    assert out.count() == 0
    assert totals == {(): {"sx": 0}}
