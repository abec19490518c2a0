"""Cross-row identities over the REAL sf0.001 testdata: each new-family
query carries an internal algebraic identity that must hold exactly
(or to the documented micro-rounding slack) on whatever data flows
through — a drift guard complementing the value oracles, which only
compare engines to each other."""

import math

from tests.conftest import SF_SMOKE


def test_seasonal_decomposition_identity(spark):
    """residual = 1e6*rev - trend_micro - seasonal for every interior
    row, where trend_micro re-derives from the exposed trend24."""
    from etl_python_spark.operators.stats import q_seasonal_decompose

    for r in q_seasonal_decompose(spark, SF_SMOKE).collect():
        if r.trend24 is None:
            assert r.residual_micro is None
            continue
        trend_micro = math.floor(r.trend24 / 24.0 * 1e6 + 0.5)
        assert (
            r.residual_micro
            == 1_000_000 * r.rev_c - trend_micro - r.seasonal_micro
        ), r


def test_chi_square_total_is_sum_of_contributions(spark):
    from etl_python_spark.operators.stats import q_chi_square_independence

    rows = q_chi_square_independence(spark, SF_SMOKE).collect()
    total = sum(r.contrib_micro for r in rows)
    assert all(r.chi2_micro == total for r in rows)
    n_pri = len({r.o_orderpriority for r in rows})
    n_st = len({r.o_orderstatus for r in rows})
    assert rows[0].dof == (n_pri - 1) * (n_st - 1)


def test_markov_attribution_shares_sum_to_one(spark):
    """Removal can only destroy converting paths (effects >= 0 up to
    one micro of per-step rounding) and shares reconcile to 1e6 within
    the largest-remainder slack of four roundings."""
    from etl_python_spark.operators.affinity import q_markov_attribution

    rows = q_markov_attribution(spark, SF_SMOKE).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.removal_effect_micro >= -1, r
        assert r.p_removed_micro <= r.p_full_micro + 1, r
    if all(r.attribution_micro is not None for r in rows):
        s = sum(r.attribution_micro for r in rows)
        assert abs(s - 1_000_000) <= 4, s


def test_walk_forward_windows_are_disjoint(spark):
    """Within every fold train and test never share a month, and the
    embargo month sits in neither; across folds the test windows tile
    without overlap (step == horizon)."""
    from etl_python_spark.operators.stats import q_walk_forward_split

    rows = q_walk_forward_split(spark, SF_SMOKE).collect()
    months = {}
    for r in rows:
        t = r.o_orderdate.year * 12 + r.o_orderdate.month
        months.setdefault(r.fold, {"train": set(), "test": set()})[
            r.split
        ].add(t)
    test_windows = []
    for fold, d in months.items():
        assert d["train"].isdisjoint(d["test"]), fold
        assert max(d["train"]) + 1 < min(d["test"]), fold  # embargo gap
        test_windows.append(d["test"])
    for i in range(len(test_windows)):
        for j in range(i + 1, len(test_windows)):
            assert test_windows[i].isdisjoint(test_windows[j])


def test_concentration_bounds_on_real_data(spark):
    from etl_python_spark.operators.stats import (
        q_gini_concentration,
        q_hhi_concentration,
    )

    for g in q_gini_concentration(spark, SF_SMOKE).collect():
        assert 0 <= g.gini_micro < 1_000_000, g
    for h in q_hhi_concentration(spark, SF_SMOKE).collect():
        assert h.n >= 1
        assert h.hhi_micro >= math.floor(1e6 / h.n + 0.5) - 1, h
        assert h.hhi_micro <= 1_000_000, h


def test_heaps_and_zipf_plausible_on_real_corpus(spark):
    """The synthetic documents corpus is natural-ish text: Zipf slope
    strictly negative, Heaps beta in (0, 1], vocab <= tokens."""
    from etl_python_spark.operators.vocab import (
        q_heaps_vocab_growth,
        q_zipf_vocab_stats,
    )

    for z in q_zipf_vocab_stats(spark, SF_SMOKE).collect():
        assert z.zipf_slope_micro < 0, z
        assert 0 < z.ttr_micro <= 1_000_000, z
    for h in q_heaps_vocab_growth(spark, SF_SMOKE).collect():
        # the synthetic corpus draws from a ~30-word vocabulary that
        # saturates within the first documents, so beta legitimately
        # quantizes to 0 for some sources — sub-linear is the bound
        assert 0 <= h.heaps_beta_micro <= 1_000_000, h
        assert h.vocab_size <= h.total_tokens, h


def _union_find_components(edges) -> dict:
    """Pure-Python reference CC: {doc_id: min doc_id of its component}
    over the non-self-loop edges (a vertex with only a self-loop has
    no component, as in the Spark kernel)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _cc_dict(df) -> dict:
    rows = df.collect()
    got = {r.doc_id: r.component_id for r in rows}
    assert len(got) == len(rows), "a doc_id appears in two components"
    return got


def test_cc_star_equals_union_find_on_real_pair_graph(spark):
    """The CC kernel matches a pure-Python union-find on the real
    near-dup pair graph."""
    from etl_python_spark.operators.dedup import (
        connected_components,
        q_ngram_jaccard_pairs,
    )

    pairs = q_ngram_jaccard_pairs(spark, SF_SMOKE).select("doc_a", "doc_b")
    want = _union_find_components(map(tuple, pairs.collect()))
    assert len(want) > 0
    assert _cc_dict(connected_components(pairs)) == want


def test_cc_star_converges_logarithmically_on_deep_chain(spark):
    """A 200-vertex path graph has diameter 199: min-label propagation
    would need ~199 rounds, while the alternating star kernel halves
    depth per round and must finish inside 20 — the O(log d) bound.
    Too small a budget raises instead of splitting components."""
    import pytest

    from etl_python_spark.operators import dedup as dedup_mod
    from etl_python_spark.operators.dedup import connected_components

    n = 200
    edges = [(i, i + 1) for i in range(n - 1)]
    chain = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = _cc_dict(connected_components(chain, max_iter=20))
    assert got == _union_find_components(edges)
    assert len(got) == n and set(got.values()) == {0}
    # round observability: a 199-diameter chain needs more than the
    # 1-2 rounds a shallow star graph takes but far under 20
    star_rounds = dedup_mod.LAST_CC_ROUNDS
    assert 2 <= star_rounds <= 20, star_rounds
    # a shallow graph (one star) converges in fewer rounds than the
    # deep chain — the counter measures depth, not size
    shallow = spark.createDataFrame(
        [(0, i) for i in range(1, 50)], "doc_a long, doc_b long"
    )
    connected_components(shallow, max_iter=20).collect()
    assert 1 <= dedup_mod.LAST_CC_ROUNDS <= star_rounds
    # one round short of the chain's need fails loudly
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=star_rounds - 1)


def test_cc_star_handles_multi_component_graphs(spark):
    """Separate clusters, reversed/duplicated edges, self-loop noise."""
    from etl_python_spark.operators.dedup import connected_components

    edges = [
        (5, 3), (3, 9),          # component min 3
        (20, 21), (21, 20),      # duplicate + reversed, min 20
        (7, 7),                  # self-loop only: dropped entirely
        (40, 41), (41, 42), (42, 43), (43, 44),  # chain, min 40
    ]
    got = _cc_dict(
        connected_components(
            spark.createDataFrame(edges, "doc_a long, doc_b long")
        )
    )
    assert got == _union_find_components(edges)
    assert got == {
        3: 3, 5: 3, 9: 3,
        20: 20, 21: 20,
        40: 40, 41: 40, 42: 40, 43: 40, 44: 40,
    }


def _random_graph(rng):
    """A small edge list with every shape the kernel must absorb:
    several components, duplicate and reversed edges, self-loops
    (including on otherwise isolated vertices) and isolated pairs."""
    n = rng.randint(2, 40)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(1, 2 * n))]
    edges += [(b, a) for a, b in rng.sample(edges, len(edges) // 4)]
    edges += rng.sample(edges, len(edges) // 4)
    edges += [(v, v) for v in rng.sample(range(n + 10), 3)]
    base = 1000 * (n + 1)
    edges += [(base + 2 * i, base + 2 * i + 1) for i in range(rng.randint(0, 3))]
    rng.shuffle(edges)
    return edges


def test_cc_star_matches_union_find_on_random_graphs(spark):
    """Seeded property test: on 50 random graphs the star-form stop
    returns exactly the union-find components."""
    import random

    from etl_python_spark.operators.dedup import connected_components

    rng = random.Random(1501)
    for g in range(50):
        edges = _random_graph(rng)
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        assert _cc_dict(connected_components(df)) == _union_find_components(edges), (
            g,
            edges,
        )


def test_cc_star_stops_at_the_first_star_round(spark):
    """A graph that is one star after a single round stops there: the
    star-form test needs no second round to confirm nothing changed."""
    from etl_python_spark.operators import dedup as dedup_mod

    edges = [(0, i) for i in range(1, 50)]
    got = _cc_dict(
        dedup_mod.connected_components(
            spark.createDataFrame(edges, "doc_a long, doc_b long")
        )
    )
    assert got == {i: 0 for i in range(50)}
    assert dedup_mod.LAST_CC_ROUNDS == 1


def test_training_shuffle_is_a_permutation(spark):
    """pos must be a bijection 1..n over the corpus, stable across
    runs, and actually shuffled (not doc_id order)."""
    from etl_python_spark.operators.corpus import q_training_shuffle

    rows = q_training_shuffle(spark, SF_SMOKE).collect()
    n = len(rows)
    assert sorted(r.pos for r in rows) == list(range(1, n + 1))
    by_doc = {r.doc_id: r.pos for r in rows}
    assert len(by_doc) == n
    # deterministic across a re-run
    again = {r.doc_id: r.pos for r in q_training_shuffle(spark, SF_SMOKE).collect()}
    assert again == by_doc
    # the permutation must not be the identity-ish doc order
    ordered_docs = sorted(by_doc)
    assert [by_doc[d] for d in ordered_docs] != sorted(by_doc[d] for d in ordered_docs)


def test_auc_roc_matches_bruteforce_pairs(spark):
    """Exact AUC identity: the doubled-hit integer must equal the
    brute-force count over all pos x neg pairs (2 per win, 1 per tie)
    computed directly from the parquet."""
    import pyarrow.parquet as pq

    from etl_python_spark.operators.stats import q_auc_roc

    t = pq.read_table(SF_SMOKE + "/documents.parquet").to_pydict()
    pos = [c for c, l in zip(t["n_chars"], t["lang"]) if l == "en"]
    neg = [c for c, l in zip(t["n_chars"], t["lang"]) if l != "en"]
    hits2 = sum(2 if p > g else 1 if p == g else 0 for p in pos for g in neg)

    r = q_auc_roc(spark, SF_SMOKE).collect()[0]
    assert (r.n_pos, r.n_neg, r.hits2) == (len(pos), len(neg), hits2)
    import math

    assert r.auc == math.floor(hits2 / (2 * len(pos) * len(neg)) * 1e6 + 0.5) / 1e6
    assert 0.0 <= r.auc <= 1.0


def test_cluster_label_nmi_identities(spark):
    """The exposed integer components must reproduce the derived NMI
    and purity via the exact same floor expressions, and both scores
    must live in their theoretical ranges."""
    import math

    from etl_python_spark.operators.similarity import q_cluster_label_nmi

    r = q_cluster_label_nmi(spark, SF_SMOKE).collect()[0]
    n = r.n
    i_val = r.i_sum_micro / 1e6 / n
    h_k = math.log(n) - r.hk_cell_micro / 1e6 / n
    h_l = math.log(n) - r.hl_cell_micro / 1e6 / n
    assert h_k > 0 and h_l > 0
    expect_nmi = math.floor(i_val / math.sqrt(h_k * h_l) * 1e6 + 0.5) / 1e6
    assert r.nmi == expect_nmi
    assert -1e-6 <= r.nmi <= 1.0 + 1e-6
    assert r.purity == math.floor(r.purity_hits / n * 1e6 + 0.5) / 1e6
    # purity can never undercut the majority-label baseline
    assert r.purity_hits * r.n_labels >= n


def test_ann_probe_recall_is_monotone(spark):
    """More probes can only widen the candidate set, so recall must be
    non-decreasing in n_probe, and probing every cell the full config
    uses must reproduce ann_ivf_fitted's hit count."""
    from etl_python_spark.operators import similarity as sim

    rows = sorted(
        sim.q_ann_probe_recall(spark, SF_SMOKE).collect(),
        key=lambda r: r.n_probe,
    )
    assert [r.n_probe for r in rows] == list(sim.PROBE_SWEEP)
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls)
    assert all(r.n_exact > 0 and 0 <= r.tp <= r.n_exact for r in rows)


def test_customer_quartiles_two_phase_matches_window_ntile(spark, tmp_path):
    """The two-phase per-nation NTILE(4) + grouped median must equal
    the plain windowed formulation on group sizes covering every
    n mod 4 shape, including n < 4 (each row its own bucket)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from etl_python_spark.operators.analytics_windows import (
        q_customer_quartiles,
    )

    # nation sizes 3, 4, 5, 6, 9 -> n % 4 in {3, 0, 1, 2, 1}
    sizes = {"A": 3, "B": 4, "C": 5, "D": 6, "E": 9}
    nations, custs, orders = [], [], []
    ck, ok = 1, 1
    for i, (nname, n) in enumerate(sorted(sizes.items())):
        nations.append((i, nname, 0, ""))
        for j in range(n):
            custs.append((ck, f"c{ck}", i))
            # repeated totals within a nation exercise the custkey
            # tie-break of the quartile order
            orders.append(
                (ok, ck, float(100 + (j % 3) * 50), "2024-01-01", "P")
            )
            ck, ok = ck + 1, ok + 1
    spark.createDataFrame(
        nations, "n_nationkey long, n_name string, n_regionkey long,"
        " n_comment string"
    ).write.parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        custs, "c_custkey long, c_name string, c_nationkey long"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate string, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    got = {
        (r.n_name, r.c_custkey): (r.quartil, r.mediana_nacao)
        for r in q_customer_quartiles(spark, str(tmp_path)).collect()
    }

    per_cust = (
        spark.read.parquet(str(tmp_path / "orders.parquet"))
        .join(
            spark.read.parquet(str(tmp_path / "customer.parquet")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            spark.read.parquet(str(tmp_path / "nation.parquet")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "c_custkey")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("fat")
        )
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("fat"), F.asc("c_custkey")
    )
    w_n = Window.partitionBy("n_name")
    want = {
        (r.n_name, r.c_custkey): (r.quartil, r.mediana_nacao)
        for r in per_cust.select(
            "n_name",
            "c_custkey",
            F.ntile(4).over(w).alias("quartil"),
            (
                F.floor(
                    F.median(F.round(F.col("fat") * 100).cast("bigint")).over(w_n)
                    + 0.5
                )
                / 100
            ).alias("mediana_nacao"),
        ).collect()
    }
    assert got == want
