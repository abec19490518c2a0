"""Semantic invariants for the affinity/fuzzy family (round 8).

The DuckDB oracles prove engine parity; these tests prove the
operators compute the RIGHT thing on constructed inputs where the
answer is known in closed form — the prefix filter finds every pair
brute force finds (including first-character edits, the case naive
prefix-blocking misses), PageRank conserves mass and orders hubs
above leaves, and lift separates co-occurring from independent items.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# fuzzy_match: candidate completeness
# ---------------------------------------------------------------------------

def _brute(probes, names, k):
    import difflib  # noqa: F401 (documentation only)

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    return {
        (pid, nm)
        for pid, d in probes
        for nm in names
        if lev(d, nm) <= k
    }


def test_fuzzy_match_equals_brute_force(spark):
    """Includes a FIRST-character edit ('xavender lace' vs 'lavender
    lace') — found only because the prefix takes the globally rarest
    grams, not a positional prefix of the string."""
    from etl_python_spark.operators.fuzzy import K, fuzzy_match

    names = [
        "lavender lace shirt",
        "lavender lace skirt",  # ed 1 from the first
        "goldenrod chocolate",
        "golden rod chocolate",  # ed 1 (insertion)
        "spring green bolt",
        "autumn copper plate",
    ]
    probes = [
        (1, "xavender lace shirt"),  # first-char substitution, ed 1
        (2, "goldenrod chocolat"),  # trailing deletion, ed 1
        (3, "spring green bolts"),  # trailing insertion, ed 1
        (4, "zzz unrelated zzz"),  # matches nothing
        (5, "lavender lace shirt"),  # exact, ed 0
    ]
    probes_df = spark.createDataFrame(probes, "probe_id int, dirty string")
    names_df = spark.createDataFrame([(n,) for n in names], "name string")

    got = {
        (r.probe_id, r.name)
        for r in fuzzy_match(probes_df, names_df).collect()
    }
    want = _brute(probes, names, K)
    assert got == want
    assert (1, "lavender lace shirt") in got  # the first-char case
    assert not any(pid == 4 for pid, _ in got)


def test_fuzzy_self_pairs_equals_self_match(spark):
    """The single-pass self-match path (r16 optimization: grams, freq
    and the prefix window computed once, not twice) must produce
    exactly fuzzy_match(S, S) filtered to a < b."""
    from etl_python_spark.operators.fuzzy import (
        fuzzy_match,
        fuzzy_self_pairs,
    )

    strings = [
        "lavender lace shirt",
        "lavender lace skirt",
        "xavender lace shirt",
        "goldenrod chocolate",
        "goldenrod chocolat",
        "golden rod chocolate",
        "spring green bolt",
        "zzz unrelated zzz",
    ]
    s_df = spark.createDataFrame([(s,) for s in strings], "s string")

    got = {
        (r.a, r.b, r.dist)
        for r in fuzzy_self_pairs(s_df).collect()
    }
    want = {
        (r.probe_id, r.name, r.dist)
        for r in fuzzy_match(
            s_df.selectExpr("s as probe_id", "s as dirty"),
            s_df.selectExpr("s as name"),
        ).collect()
        if r.probe_id < r.name
    }
    assert got == want and got  # non-trivial: at least one pair


def test_fuzzy_match_distance_values(spark):
    from etl_python_spark.operators.fuzzy import fuzzy_match

    probes_df = spark.createDataFrame(
        [(1, "abcdefghij")], "probe_id int, dirty string"
    )
    names_df = spark.createDataFrame(
        [("abcdefghij",), ("abcdefghiX",), ("abXdefghiX",)], "name string"
    )
    dist = {
        r.name: r.dist
        for r in fuzzy_match(probes_df, names_df).collect()
    }
    assert dist == {"abcdefghij": 0, "abcdefghiX": 1, "abXdefghiX": 2}


# ---------------------------------------------------------------------------
# pagerank: structural properties on known graphs
# ---------------------------------------------------------------------------

def test_pagerank_mass_and_hub_ordering(spark, tmp_path):
    """Star graph: hub co-purchased with each leaf — hub must outrank
    every leaf, and total integer mass stays within per-node
    quantization error of the full scale (1e12)."""
    from etl_python_spark.operators.affinity import q_pagerank_copurchase

    # lineitem with hub part 1 in every order, leaf i in order i (x2
    # so the pair survives MIN_PAIR_COUNT)
    rows = []
    oid = 0
    for leaf in range(2, 7):
        for _ in range(2):
            rows.append((oid, 1))
            rows.append((oid, leaf))
            oid += 1
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    out = {
        r.p_partkey: r.rank_micro
        for r in q_pagerank_copurchase(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6}
    hub, leaves = out[1], [out[i] for i in range(2, 7)]
    assert all(hub > lv for lv in leaves)
    # leaves are symmetric -> identical integer ranks
    assert len(set(leaves)) == 1
    # integer mass conservation: within n nodes * 1 unit of rounding
    # per quantization site per iteration (3 sites, 5 iters, 6 nodes)
    assert abs(sum(out.values()) - 1_000_000_000_000) < 6 * 3 * 5 + 6


def test_pagerank_ring_is_uniform(spark, tmp_path):
    """Symmetric ring: every node must get the identical integer rank
    (any asymmetry would be an ordering/precision bug)."""
    from etl_python_spark.operators.affinity import q_pagerank_copurchase

    n = 8
    rows = []
    oid = 0
    for i in range(n):
        for _ in range(2):
            rows.append((oid, i))
            rows.append((oid, (i + 1) % n))
            oid += 1
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    out = [
        r.rank_micro
        for r in q_pagerank_copurchase(spark, str(tmp_path)).collect()
    ]
    assert len(out) == n
    assert len(set(out)) == 1


# ---------------------------------------------------------------------------
# market basket: lift semantics
# ---------------------------------------------------------------------------

def test_market_basket_lift_separates_affinity(spark, tmp_path):
    """Parts 1,2 always co-occur (lift >> 1); parts 1,3 co-occur at
    the independence rate (lift ~ 1)."""
    from etl_python_spark.operators.affinity import q_market_basket

    rows = []
    oid = 0
    # 10 orders {1,2}; part 3 rides along in half of them
    for i in range(10):
        rows.append((oid, 1))
        rows.append((oid, 2))
        if i % 2 == 0:
            rows.append((oid, 3))
        oid += 1
    # 10 orders {3, 4} so 3 also occurs alone
    for _ in range(10):
        rows.append((oid, 3))
        rows.append((oid, 4))
        oid += 1
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    out = {
        (r.p1, r.p2): r
        for r in q_market_basket(spark, str(tmp_path)).collect()
    }
    # {1,2}: both in 10/20 orders, together 10 -> lift = 10*20/(10*10)=2
    assert out[(1, 2)].lift == pytest.approx(2.0)
    assert out[(1, 2)].support == pytest.approx(0.5)
    assert out[(1, 2)].confidence == pytest.approx(1.0)
    # {1,3}: 1 in 10, 3 in 15, together 5 -> lift = 5*20/150 = 0.666667
    assert out[(1, 3)].lift == pytest.approx(0.666667, abs=1e-6)
    assert out[(1, 2)].lift > out[(1, 3)].lift


# ---------------------------------------------------------------------------
# determinism under physical layout
# ---------------------------------------------------------------------------

def test_market_basket_invariant_under_repartition(spark, tmp_path):
    """The operator must produce IDENTICAL rows regardless of input
    partitioning (a cluster reshuffle or file-split change must never
    move a support/lift value — the engine-parity rule applied to
    physical layout)."""
    from etl_python_spark.operators.affinity import q_market_basket

    rows = [(o, p) for o in range(50) for p in (o % 7, (o * 3) % 11, 13)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.coalesce(1).write.parquet(str(tmp_path / "a" / "lineitem.parquet"))
    df.repartition(13).write.parquet(
        str(tmp_path / "b" / "lineitem.parquet")
    )

    def canon(sf_dir):
        return sorted(
            map(tuple, q_market_basket(spark, sf_dir).collect())
        )

    assert canon(str(tmp_path / "a")) == canon(str(tmp_path / "b"))


def test_pagerank_invariant_under_repartition(spark, tmp_path):
    """Integer-quantized PageRank must be bit-identical across input
    layouts — the property that makes an iterative algorithm safely
    oracle-able at all."""
    from etl_python_spark.operators.affinity import q_pagerank_copurchase

    rows = []
    oid = 0
    for i in range(12):
        for _ in range(2):
            rows.append((oid, i))
            rows.append((oid, (i * 5 + 1) % 12))
            oid += 1
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.coalesce(1).write.parquet(str(tmp_path / "a" / "lineitem.parquet"))
    df.repartition(7).write.parquet(str(tmp_path / "b" / "lineitem.parquet"))

    def canon(sf_dir):
        return sorted(
            (r.p_partkey, r.rank_micro)
            for r in q_pagerank_copurchase(spark, sf_dir).collect()
        )

    assert canon(str(tmp_path / "a")) == canon(str(tmp_path / "b"))


def test_triangles_known_graphs(spark, tmp_path):
    """K4 (complete graph on 4 nodes): every node sits in 3 triangles
    with clustering coefficient 1.0; adding a pendant leaf gives the
    leaf 0 triangles and coefficient 0."""
    from etl_python_spark.operators.affinity import q_graph_triangles

    rows = []
    oid = 0
    # K4 over parts 1-4: an order per edge, duplicated past MIN_PAIR_COUNT
    for a in range(1, 5):
        for b in range(a + 1, 5):
            for _ in range(2):
                rows.append((oid, a))
                rows.append((oid, b))
                oid += 1
    # pendant leaf 5 attached to node 1 only
    for _ in range(2):
        rows.append((oid, 1))
        rows.append((oid, 5))
        oid += 1
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    out = {
        r.p_partkey: r
        for r in q_graph_triangles(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    for pk in (2, 3, 4):
        assert out[pk].triangles == 3
        assert out[pk].clustering_coeff == 1.0
    # node 1 has degree 4 (K4 edges + leaf): still 3 triangles,
    # coeff = 2*3/(4*3) = 0.5
    assert out[1].degree == 4 and out[1].triangles == 3
    assert out[1].clustering_coeff == 0.5
    assert out[5].triangles == 0 and out[5].clustering_coeff == 0.0


def test_markov_attribution_hand_computed(spark, tmp_path):
    """Two journeys: A = view->click->purchase, B = view->(abandon).
    Transition matrix: START->view 1.0; view->{click .5, DROP .5};
    click->CONV 1.0.  So P(conv) = 0.5; removing view OR click kills
    every converting path (removal effect 0.5 each, attribution split
    50/50); signup/error never appear (effect 0)."""
    import datetime as dt

    from etl_python_spark.operators.affinity import q_markov_attribution

    rows = [
        (0, dt.datetime(2024, 1, 1, 9), 1, "view", 1.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 10), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 11), 1, "purchase", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 9), 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {r.channel: r for r in q_markov_attribution(
        spark, str(tmp_path)
    ).collect()}
    assert out["view"].p_full_micro == 500_000
    assert out["view"].p_removed_micro == 0
    assert out["click"].p_removed_micro == 0
    assert out["view"].attribution_micro == 500_000
    assert out["click"].attribution_micro == 500_000
    assert out["signup"].removal_effect_micro == 0
    assert out["error"].removal_effect_micro == 0
    assert out["error"].p_removed_micro == 500_000  # chain untouched


# ---------------------------------------------------------------------------
# rfm: two-phase global NTILE equals the single-window NTILE
# ---------------------------------------------------------------------------

_NTILE_NS = [1, 4, 5, 23, 100, 101]


@pytest.mark.parametrize(
    "k, n",
    [pytest.param(5, n, id=str(n)) for n in _NTILE_NS]
    + [pytest.param(4, n, id=f"k4-{n}") for n in _NTILE_NS],
)
def test_ntile_two_phase_matches_window_ntile(spark, k, n):
    """The closed-form bucket of (global position, n) must reproduce
    NTILE(k) exactly for every n mod k shape — including n < k (every
    row its own bucket) and the padded/unpadded boundary rows — with n
    as a driver literal (rfm_segments) and as the kernel's total
    column (customer_quartiles)."""
    from pyspark.sql import Window

    from etl_python_spark.functions.prefix import ntile, prefix_sums

    # keys chosen so the range order differs from insertion order and
    # ties on the metric are broken by the id column
    rows = [(i, (i * 7) % 13) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, metric long")
    order = [F.desc("metric"), F.asc("id")]
    pos, totals = prefix_sums(df, order, {"_pos": F.lit(1)})
    got = pos.select(
        "id",
        ntile(F.col("_pos"), F.lit(totals[()]["_pos"]), k).alias("lit"),
        ntile(F.col("_pos"), F.col("_pos_total"), k).alias("col"),
    ).collect()
    want = {
        r.id: r.nt
        for r in df.select(
            "id", F.ntile(k).over(Window.orderBy(*order)).alias("nt")
        ).collect()
    }
    assert {r.id: r.lit for r in got} == want
    assert {r.id: r.col for r in got} == want
