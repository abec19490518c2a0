"""Affinity / behavioral-segmentation operators: market-basket pair
affinity, Markov event transitions, RFM segmentation, Benford
first-digit audit, and categorical-mix entropy.

These extend the reference's commercial-analytics vocabulary (Curva
ABC / recência / faturamento families — ``Recorrencia_*.sql``,
``Algoritmo de Estruturação de Dados.py``) with the next reports a BI
user of that repo would reach for: which products sell together,
how users move between event types, classic RFM quintile scores,
a Benford fraud screen over invoice totals, and how concentrated each
nation's priority mix is.  All are pure DataFrame plans (no UDFs);
every float that crosses the engine boundary is either an exact
integer count, a single correctly-rounded IEEE-754 division of exact
integers, or floor-quantized micro-units (see functions/numeric.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import cents
from ..functions.prefix import ntile, prefix_sums
from ..sources.tables import load_table


def _q6(col):
    """Floor-quantize a double to 6dp — engine-identical given equal
    input doubles (floor(x*1e6+0.5) is a single correctly-rounded
    multiply/add per IEEE-754)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


_SQL_Q6 = "FLOOR(({}) * 1e6 + 0.5) / 1e6"


# ---------------------------------------------------------------------------
# Market-basket pair affinity (support / confidence / lift)
# ---------------------------------------------------------------------------

MIN_PAIR_COUNT = 2  # drop singleton pairs — bounds output at any scale


def _baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted distinct item arrays, materialized once (ONE
    orderkey shuffle; the collect_set buffer is O(basket width))."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    return baskets.localCheckpoint(eager=True)


def _basket_pairs(baskets: DataFrame) -> DataFrame:
    """Unordered within-basket pairs (p1 < p2), generated NARROW by a
    nested array transform — no self-join re-shuffle; O(basket²) rows
    per order, basket = order width."""
    return baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "items",
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("items"), i + F.lit(2), F.size("items")
                        ),
                        lambda y: F.struct(x.alias("p1"), y.alias("p2")),
                    ),
                )
            )
        ).alias("pr")
    ).select("pr.p1", "pr.p2")


def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part pairs within orders with support / lift.

    Scale shape: ONE shuffle keyed on l_orderkey builds per-order
    sorted item sets (basket size is bounded by order width — ~7 lines
    in this schema — so the collect_set buffer is O(basket), never
    O(relation)); the unordered pairs are generated NARROW with a
    nested array transform (stays in whole-stage codegen, no
    self-join re-shuffle of the item relation), then one hash
    aggregate on (p1, p2) counts them.  Item supports reuse the same
    basket relation via explode.  The count filter (>= MIN_PAIR_COUNT)
    runs before the support joins, so only surviving pairs join the
    per-item counts (broadcast at this scale; AQE decides at lake
    scale — the item-count side is |parts|, dim-sized).

    lift = cnt_ab * n_orders / (cnt_a * cnt_b): all four factors are
    exact integers (products < 2^53), one double division each —
    bit-identical across engines, then floor-quantized to 6dp.
    """
    baskets = _baskets(spark, sf_dir)

    n_orders = baskets.count()  # scalar anchor (single long to driver)

    pair_cnt = (
        _basket_pairs(baskets).groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= MIN_PAIR_COUNT)
    )

    # item_cnt sits on BOTH support joins (cnt_a and cnt_b sides);
    # without a checkpoint each broadcast build re-runs the explode +
    # count aggregate over the basket relation.  Dim-sized rows
    # (|parts|), values untouched (guide §5: reuse → materialize).
    item_cnt = (
        baskets.select(F.explode("items").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )

    joined = (
        pair_cnt.join(
            item_cnt.select(
                F.col("pk").alias("p1"), F.col("cnt").alias("cnt_a")
            ),
            "p1",
        )
        .join(
            item_cnt.select(
                F.col("pk").alias("p2"), F.col("cnt").alias("cnt_b")
            ),
            "p2",
        )
    )
    return joined.select(
        "p1",
        "p2",
        "cnt_ab",
        "cnt_a",
        "cnt_b",
        _q6(F.col("cnt_ab").cast("double") / F.lit(float(n_orders))).alias(
            "support"
        ),
        _q6(
            F.col("cnt_ab").cast("double") / F.col("cnt_a").cast("double")
        ).alias("confidence"),
        _q6(
            (F.col("cnt_ab") * F.lit(n_orders)).cast("double")
            / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
        ).alias("lift"),
    )


ORACLE_MARKET_BASKET = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
), pair_cnt AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS cnt_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_PAIR_COUNT}
), item_cnt AS (
  SELECT l_partkey AS pk, COUNT(*) AS cnt FROM items GROUP BY 1
)
SELECT p.p1, p.p2, p.cnt_ab, ia.cnt AS cnt_a, ib.cnt AS cnt_b,
       {_SQL_Q6.format('CAST(p.cnt_ab AS DOUBLE) / CAST(n.n_orders AS DOUBLE)')} AS support,
       {_SQL_Q6.format('CAST(p.cnt_ab AS DOUBLE) / CAST(ia.cnt AS DOUBLE)')} AS confidence,
       {_SQL_Q6.format('CAST(p.cnt_ab * n.n_orders AS DOUBLE) / CAST(ia.cnt * ib.cnt AS DOUBLE)')} AS lift
FROM pair_cnt p
JOIN item_cnt ia ON p.p1 = ia.pk
JOIN item_cnt ib ON p.p2 = ib.pk
CROSS JOIN n
"""


# ---------------------------------------------------------------------------
# Markov event-transition matrix
# ---------------------------------------------------------------------------

def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream:
    per user (ordered by ts, event_id tiebreak) each event's successor
    type, counted into (from_type, to_type) cells with row-normalized
    probabilities.

    Scale shape: one shuffle keyed on user_id for the LEAD window
    (per-user state, parallel across users), one K²-row hash aggregate
    (K = |event types|, tiny), then the row totals come from a window
    over the K²-row cell table — no second pass over the events.
    Probability = exact-integer division, floor-quantized 6dp.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())

    cells = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_from = Window.partitionBy("from_type")
    return cells.select(
        "from_type",
        "to_type",
        "cnt",
        _q6(
            F.col("cnt").cast("double")
            / F.sum("cnt").over(w_from).cast("double")
        ).alias("prob"),
    )


ORACLE_EVENT_TRANSITIONS = f"""
WITH steps AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), cells AS (
  SELECT from_type, to_type, COUNT(*) AS cnt
  FROM steps WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, cnt,
       {_SQL_Q6.format('CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY from_type) AS DOUBLE)')} AS prob
FROM cells
"""


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------

def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM: per customer the days since last order (anchored
    at the dataset's max order date, the reference's date-window
    convention — SURVEY §2.2 P8), order count, and lifetime revenue in
    exact cents; each dimension scored 1-5 by NTILE over a fully
    tie-broken global order (metric, then c_custkey, so the quintile
    assignment is deterministic and engine-identical).

    Scale shape: one shuffle for the per-customer aggregate, then per
    dimension the global position from ``prefix_sums`` and the closed
    form ``ntile(position, n, 5)`` — no task ever sorts the whole
    customer-grain relation.  The oracle restates the plain global
    NTILE, proving the decomposition assigns the identical quintiles.
    R scores 5=most recent, F/M score 5=highest.
    """
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx")).collect()[0]["mx"]

    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(F.lit(anchor), F.max("o_orderdate")).alias(
            "recency_days"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents(F.col("o_totalprice"))).alias("monetary_c"),
    )
    scored = per_cust
    for out, order in (
        ("_nt_r", [F.asc("recency_days"), F.asc("o_custkey")]),
        ("_nt_f", [F.desc("frequency"), F.asc("o_custkey")]),
        ("_nt_m", [F.desc("monetary_c"), F.asc("o_custkey")]),
    ):
        pos, totals = prefix_sums(scored, order, {"_pos": F.lit(1)})
        scored = pos.select(
            *scored.columns,
            ntile(F.col("_pos"), F.lit(totals[()]["_pos"]), 5).alias(out),
        )
    scored = scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_c",
        (F.lit(6) - F.col("_nt_r")).cast("int").alias("r_score"),
        (F.lit(6) - F.col("_nt_f")).cast("int").alias("f_score"),
        (F.lit(6) - F.col("_nt_m")).cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "rfm",
        (
            F.col("r_score") * 100
            + F.col("f_score") * 10
            + F.col("m_score")
        ).cast("int"),
    )


ORACLE_RFM = """
WITH per_cust AS (
  SELECT o_custkey,
         DATE_DIFF('day', MAX(o_orderdate),
                   (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS monetary_c
  FROM orders GROUP BY 1
)
SELECT o_custkey, recency_days, frequency, monetary_c,
       CAST(6 - NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS INT) AS r_score,
       CAST(6 - NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS INT) AS f_score,
       CAST(6 - NTILE(5) OVER (ORDER BY monetary_c DESC, o_custkey ASC) AS INT) AS m_score,
       CAST((6 - NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)) * 100
          + (6 - NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC)) * 10
          + (6 - NTILE(5) OVER (ORDER BY monetary_c DESC, o_custkey ASC)) AS INT) AS rfm
FROM per_cust
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen over invoice totals (the fraud-audit
    companion to the reference's accounting-integrity check,
    ``JSON Resposta 1.sql`` / balance_integrity): observed first
    significant digit distribution of o_totalprice vs the expected
    log10(1 + 1/d) share.

    The digit is taken from the EXACT INTEGER cents via integer
    string conversion (bigint-to-string is engine-identical;
    double-to-string and floor(log10(x)) are NOT — log10 misrounds at
    power-of-ten boundaries).  One projection + one 9-row hash
    aggregate; expected shares are Python-computed literals so no
    transcendental crosses the engine boundary.  Deviation is
    |observed - expected| in floor-quantized 6dp.
    """
    import math

    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(cents(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    total = digits.count()
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))

    expected = F.create_map(
        *[
            x
            for d in range(1, 10)
            for x in (
                F.lit(d),
                F.lit(
                    math.floor(math.log10(1 + 1 / d) * 1e6 + 0.5) / 1e6
                ),
            )
        ]
    )
    obs = _q6(F.col("cnt").cast("double") / F.lit(float(total)))
    return counts.select(
        "digit",
        "cnt",
        obs.alias("observed"),
        expected[F.col("digit")].alias("expected"),
        _q6(F.abs(obs - expected[F.col("digit")])).alias("abs_dev"),
    )


def _oracle_benford() -> str:
    import math

    exp_rows = ", ".join(
        f"({d}, {math.floor(math.log10(1 + 1 / d) * 1e6 + 0.5) / 1e6!r})"
        for d in range(1, 10)
    )
    obs = (
        "FLOOR(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) * 1e6 + 0.5)"
        " / 1e6"
    )
    return f"""
WITH digits AS (
  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
), c AS (
  SELECT digit, COUNT(*) AS cnt FROM digits GROUP BY 1
), t AS (
  SELECT COUNT(*) AS total FROM digits
), e(digit, expected) AS (VALUES {exp_rows})
SELECT c.digit, c.cnt,
       {obs} AS observed,
       e.expected,
       FLOOR(ABS({obs} - e.expected) * 1e6 + 0.5) / 1e6 AS abs_dev
FROM c JOIN e ON c.digit = e.digit CROSS JOIN t
"""


ORACLE_BENFORD = _oracle_benford()


# ---------------------------------------------------------------------------
# Categorical-mix entropy per group
# ---------------------------------------------------------------------------

def q_priority_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each nation's order-priority mix —
    the concentration metric behind assortment/diversity reports.

    Exact-integer decomposition: H = ln(N) - (1/N)·Σ c_i·ln(c_i).
    Each c_i·ln(c_i) term is floor-quantized to INTEGER micro-nats
    BEFORE the sum (the lm_perplexity convention, corpus.py:649), so
    the aggregate is order-independent integer addition and the only
    engine-boundary floats are one ln per distinct count value and
    the final division — a 1-ulp ln disagreement cannot move the
    6dp-floored result except within 1e-9 of a quantization boundary.
    Plan: two hash aggregates (nation×priority cells → per-nation
    fold), both dim-sized after the first shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    cells = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    term_micro = F.floor(
        F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    per_nation = cells.groupBy("n_name").agg(
        F.sum("cnt").alias("n_orders"),
        F.sum(term_micro).alias("sum_micro"),
        F.count(F.lit(1)).alias("n_categories"),
    )
    h = F.log(F.col("n_orders").cast("double")) - (
        F.col("sum_micro").cast("double")
        / F.lit(1e6)
        / F.col("n_orders").cast("double")
    )
    return per_nation.select(
        "n_name",
        "n_orders",
        "n_categories",
        _q6(h).alias("entropy_nats"),
    )


ORACLE_PRIORITY_ENTROPY = f"""
WITH cells AS (
  SELECT n.n_name, o.o_orderpriority, COUNT(*) AS cnt
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), per_nation AS (
  SELECT n_name,
         CAST(SUM(cnt) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(CAST(cnt AS DOUBLE) * LN(CAST(cnt AS DOUBLE))
                             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro,
         COUNT(*) AS n_categories
  FROM cells GROUP BY 1
)
SELECT n_name, n_orders, n_categories,
       {_SQL_Q6.format(
           'LN(CAST(n_orders AS DOUBLE))'
           ' - CAST(sum_micro AS DOUBLE) / 1e6 / CAST(n_orders AS DOUBLE)'
       )} AS entropy_nats
FROM per_nation
"""


# ---------------------------------------------------------------------------
# Item-item collaborative similarity ("customers also bought")
# ---------------------------------------------------------------------------

SIM_TOP_N = 5


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: for every part, the top-N
    co-purchased neighbors ranked by the cosine of their order
    co-occurrence vectors — cos(a,b) = cnt_ab / sqrt(cnt_a · cnt_b),
    the binary-vector identity that needs only the pair and item
    counts the basket machinery already produces (no explicit vectors
    exist anywhere).

    Exactness: counts are integers; sqrt and division are single
    correctly-rounded IEEE-754 ops, identical across engines; the
    cosine is floor-quantized to 6dp and the top-N rank fully
    tie-broken (cosine desc, neighbor asc).  Scale shape: the basket
    pipeline's one orderkey shuffle + pair aggregate, a mirror union
    so each item sees its full neighbor list, and one window keyed on
    the ITEM (never data-wide); the neighbor list per item is bounded
    by the pair graph, and SIM_TOP_N caps the output."""
    baskets = _baskets(spark, sf_dir)
    # pair_cnt feeds both halves of the mirror union and item_cnt both
    # neighbor-count joins — checkpoint each once instead of paying
    # the explode + aggregate per consumer (pair-graph- / dim-sized
    # relations, values untouched; guide §5).
    pair_cnt = (
        _basket_pairs(baskets)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= MIN_PAIR_COUNT)
        .localCheckpoint(eager=True)
    )
    item_cnt = (
        baskets.select(F.explode("items").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    mirrored = pair_cnt.select(
        F.col("p1").alias("item"), F.col("p2").alias("neighbor"), "cnt_ab"
    ).unionAll(
        pair_cnt.select(
            F.col("p2").alias("item"), F.col("p1").alias("neighbor"), "cnt_ab"
        )
    )
    joined = (
        mirrored.join(
            item_cnt.select(
                F.col("pk").alias("item"), F.col("cnt").alias("cnt_i")
            ),
            "item",
        )
        .join(
            item_cnt.select(
                F.col("pk").alias("neighbor"), F.col("cnt").alias("cnt_n")
            ),
            "neighbor",
        )
    )
    cosine = _q6(
        F.col("cnt_ab").cast("double")
        / F.sqrt((F.col("cnt_i") * F.col("cnt_n")).cast("double"))
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.asc("neighbor")
    )
    return (
        joined.select("item", "neighbor", "cnt_ab", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SIM_TOP_N)
        .select(
            "item",
            "neighbor",
            "cnt_ab",
            "cosine",
            F.col("rk").cast("int").alias("rk"),
        )
    )


ORACLE_ITEM_SIMILARITY = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pair_cnt AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS cnt_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_PAIR_COUNT}
), item_cnt AS (
  SELECT l_partkey AS pk, COUNT(*) AS cnt FROM items GROUP BY 1
), mirrored AS (
  SELECT p1 AS item, p2 AS neighbor, cnt_ab FROM pair_cnt
  UNION ALL
  SELECT p2 AS item, p1 AS neighbor, cnt_ab FROM pair_cnt
), scored AS (
  SELECT m.item, m.neighbor, m.cnt_ab,
         FLOOR(CAST(m.cnt_ab AS DOUBLE)
               / SQRT(CAST(ci.cnt * cn.cnt AS DOUBLE)) * 1e6 + 0.5) / 1e6
           AS cosine
  FROM mirrored m
  JOIN item_cnt ci ON m.item = ci.pk
  JOIN item_cnt cn ON m.neighbor = cn.pk
)
SELECT item, neighbor, cnt_ab, cosine, CAST(rk AS INT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY item
                               ORDER BY cosine DESC, neighbor ASC) AS rk
  FROM scored
)
WHERE rk <= {SIM_TOP_N}
"""


# ---------------------------------------------------------------------------
# PageRank over the part co-purchase graph (integer-quantized)
# ---------------------------------------------------------------------------

PR_ITERS = 5
PR_SCALE = 1e12  # rank mass in integer micro-units


def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected part co-purchase graph (edges =
    part pairs bought together in >= MIN_PAIR_COUNT orders) — the
    'products that anchor the assortment' ranking, and this repo's
    reference pattern for a fully ORACLED iterative graph algorithm.

    Iterative float PageRank cannot cross an engine boundary (per-node
    neighbor sums are order-sensitive doubles and the error compounds
    per iteration).  Here ALL rank state is exact integer micro-units:
    each edge contribution is floor(u/outdeg + 0.5) (one correctly-
    rounded double division of exact integers), the per-node sum is
    integer addition (order-independent), and the damping step
    re-quantizes once per node — so five Spark iterations and five
    chained DuckDB CTEs produce bit-identical BIGINT ranks.

    Scale shape: edges+degrees materialize ONCE (localCheckpoint);
    each iteration is one hash join keyed on src (rank side is
    node-sized — broadcast here, co-partitioned SMJ at lake scale
    where AQE decides) + one dst-keyed integer sum; rank relations
    are localCheckpointed per iteration so plan depth stays constant
    (the bpe_train re-materialization rule).  Five iterations = five
    bounded shuffles, no data-wide windows, no driver-side graph.
    """
    baskets = _baskets(spark, sf_dir)
    # pair_cnt stays LAZY (r17, reverting r16's eager checkpoint): its
    # consumers all live INSIDE the single edges-materialization job
    # below, where the repeated aggregate subtrees are identical and
    # cheap relative to the extra materialization job the checkpoint
    # paid (idle-host A/B: 4.93 s with the checkpoint vs 4.23 s lazy,
    # a7cd248:plans/r17/probe_ckpt_ab.json; the baskets relation itself is
    # already checkpointed, so re-running the pair aggregate never
    # re-shuffles lineitem).
    pair_cnt = (
        _basket_pairs(baskets)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= MIN_PAIR_COUNT)
    )
    edges = pair_cnt.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionAll(
        pair_cnt.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges = edges.join(deg, "src").localCheckpoint(eager=True)

    # n is the only thing the node relation is needed for: iteration 1
    # reads the uniform rank u0 straight off the edge checkpoint (every
    # src holds exactly u0, so the rank join is an identity there), and
    # later iterations cover all nodes because every node appears as a
    # dst of the symmetric edge set.  One count job off the checkpoint,
    # no separate node materialization.
    n = edges.select("src").distinct().count()

    import math

    u0 = math.floor(PR_SCALE / n + 0.5)
    teleport = math.floor(0.15 * PR_SCALE / n + 0.5)

    ranks = None
    for _ in range(PR_ITERS):
        if ranks is None:
            # iteration 1: rank(src) == u0 for every src — same values
            # as joining the uniform rank relation, minus the join
            contribs = edges.select(
                F.col("dst"),
                F.floor(
                    F.lit(u0).cast("double") / F.col("outdeg").cast("double")
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("c"),
            )
        else:
            contribs = edges.join(ranks, edges["src"] == ranks["pk"]).select(
                F.col("dst"),
                F.floor(
                    F.col("u").cast("double") / F.col("outdeg").cast("double")
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("c"),
            )
        # The contribution sums already cover EVERY node: the edge set
        # is the symmetric union, so each node appears as some edge's
        # dst, and ranks covers all nodes by induction — the former
        # nodes-left-join existed only to re-attach zero-in-degree
        # nodes that cannot exist here.  Dropping it removes one join
        # (and its broadcast build) per iteration; the damping
        # arithmetic is unchanged and s is never NULL, so every rank
        # value is bit-identical (guide §2.4: remove shuffles/joins
        # outright when a key invariant makes them no-ops).
        sums = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            sums.select(
                F.col("dst").alias("pk"),
                (
                    F.lit(teleport)
                    + F.floor(
                        F.lit(0.85) * F.col("s").cast("double") + F.lit(0.5)
                    ).cast("long")
                )
                .cast("long")
                .alias("u"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("pk").alias("p_partkey"),
        F.col("u").alias("rank_micro"),
        (F.col("u").cast("double") / F.lit(PR_SCALE)).alias("rank"),
    )


def _oracle_pagerank() -> str:
    head = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pair_cnt AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_PAIR_COUNT}
), edges AS (
  SELECT p1 AS src, p2 AS dst FROM pair_cnt
  UNION ALL
  SELECT p2 AS src, p1 AS dst FROM pair_cnt
), deg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1
), nodes AS (
  SELECT DISTINCT src AS pk FROM edges
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), r0 AS (
  SELECT pk, CAST(FLOOR(1e12 / CAST(nn.n AS DOUBLE) + 0.5) AS BIGINT) AS u
  FROM nodes CROSS JOIN nn
)"""
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(f""", r{i} AS (
  SELECT n.pk,
         CAST(FLOOR(CAST(0.15 AS DOUBLE) * 1e12 / CAST(nn.n AS DOUBLE)
                    + 0.5) AS BIGINT)
         + CAST(FLOOR(CAST(0.85 AS DOUBLE) * CAST(COALESCE(s.c, 0) AS DOUBLE)
                      + 0.5) AS BIGINT) AS u
  FROM nodes n CROSS JOIN nn LEFT JOIN (
    SELECT e.dst,
           CAST(SUM(CAST(FLOOR(CAST(r.u AS DOUBLE) / CAST(d.outdeg AS DOUBLE)
                               + 0.5) AS BIGINT)) AS BIGINT) AS c
    FROM edges e JOIN deg d ON e.src = d.src
    JOIN r{i - 1} r ON e.src = r.pk
    GROUP BY 1
  ) s ON n.pk = s.dst
)""")
    tail = f"""
SELECT pk AS p_partkey, u AS rank_micro,
       CAST(u AS DOUBLE) / 1e12 AS rank
FROM r{PR_ITERS}
"""
    return head + "".join(iters) + tail


ORACLE_PAGERANK = _oracle_pagerank()


# ---------------------------------------------------------------------------
# Triangle counting + local clustering coefficient (degree-ordered)
# ---------------------------------------------------------------------------

def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counts and local clustering coefficients over
    the part co-purchase graph — the cohesion metric behind 'does this
    product sit inside a community or bridge between them'.

    Scale shape (Cohen's MapReduce triangle counting / degree-ordered
    orientation): every undirected edge is oriented from its
    lower-(degree, id) endpoint to the higher, so each vertex's
    OUT-degree is O(√m) even at power-law hubs — the wedge join keyed
    on the shared source vertex generates Σ outdeg² = O(m^1.5) wedges
    worst-case instead of the Σ deg² a naive orientation pays at a
    hub.  One more equi-join of wedges against oriented edges verifies
    closure; each triangle appears EXACTLY once.  Per-node counts come
    from exploding the 3 corners; the coefficient 2T/(d(d−1)) is one
    correctly-rounded integer division, floor-quantized 6dp.

    The oracle restates the naive a<b<c double-join (DuckDB's single
    node doesn't care), proving the oriented decomposition counts the
    identical triangles."""
    baskets = _baskets(spark, sf_dir)
    pair_cnt = (
        _basket_pairs(baskets)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= MIN_PAIR_COUNT)
    )
    # the undirected edge list feeds the mirror union (twice), the
    # degree joins and the closure join — checkpoint once or the
    # basket-pair explode + count aggregate re-executes per consumer
    und = pair_cnt.select("p1", "p2").localCheckpoint(eager=True)
    mirrored = und.unionAll(
        und.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    # vertex-sized; read by both endpoint joins and the final report
    deg = (
        mirrored.groupBy("p1")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )

    with_deg = (
        und.join(
            deg.select(F.col("p1").alias("pk"), F.col("deg").alias("d1")),
            und["p1"] == F.col("pk"),
        )
        .drop("pk")
        .join(
            deg.select(F.col("p1").alias("pk"), F.col("deg").alias("d2")),
            und["p2"] == F.col("pk"),
        )
        .drop("pk")
    )
    lower_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(lower_first, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
    ).localCheckpoint(eager=True)

    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    # closure check is a plain EQUI-join: wedges carry v < w, and the
    # undirected edge list stores exactly the p1 < p2 pairs
    tri = wedges.join(
        und.select(F.col("p1").alias("v"), F.col("p2").alias("w")),
        ["v", "w"],
    ).select("u", "v", "w")

    corners = (
        tri.select(F.col("u").alias("pk"))
        .unionAll(tri.select(F.col("v").alias("pk")))
        .unionAll(tri.select(F.col("w").alias("pk")))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = deg.select(F.col("p1").alias("pk"), "deg").join(
        corners, "pk", "left"
    )
    t = F.coalesce("triangles", F.lit(0)).cast("long")
    coeff = F.when(
        F.col("deg") >= 2,
        _q6(
            (t * 2).cast("double")
            / (F.col("deg") * (F.col("deg") - 1)).cast("double")
        ),
    ).otherwise(F.lit(0.0))
    return out.select(
        F.col("pk").alias("p_partkey"),
        F.col("deg").cast("long").alias("degree"),
        t.alias("triangles"),
        coeff.alias("clustering_coeff"),
    )


ORACLE_GRAPH_TRIANGLES = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pair_cnt AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_PAIR_COUNT}
), mirrored AS (
  SELECT p1, p2 FROM pair_cnt UNION ALL SELECT p2, p1 FROM pair_cnt
), deg AS (
  SELECT p1 AS pk, CAST(COUNT(*) AS BIGINT) AS deg FROM mirrored GROUP BY 1
), tri AS (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM pair_cnt e1
  JOIN pair_cnt e2 ON e1.p2 = e2.p1
  JOIN pair_cnt e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
), corners AS (
  SELECT pk, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT a AS pk FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
)
SELECT d.pk AS p_partkey,
       d.deg AS degree,
       CAST(COALESCE(c.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN d.deg >= 2
            THEN FLOOR(CAST(COALESCE(c.triangles, 0) * 2 AS DOUBLE)
                       / CAST(d.deg * (d.deg - 1) AS DOUBLE) * 1e6 + 0.5)
                 / 1e6
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN corners c ON d.pk = c.pk
"""


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (data-driven multi-touch)
# ---------------------------------------------------------------------------

MARKOV_CHANNELS = ("view", "click", "signup", "error")
MARKOV_ITERS = 24  # fixed-point iterations; chains this shallow converge <10


def _journey_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_state, to_state) journey-graph edge stream: per user the
    event sequence splits into journeys at each purchase; START opens
    every journey, CONV absorbs a converting journey, DROP absorbs an
    abandoned one.  All data-sized work happens here — one user-keyed
    shuffle for the windows, then edge rows."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    isp = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    steps = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        isp.alias("isp"),
        (
            F.sum(isp).over(w.rowsBetween(Window.unboundedPreceding, 0))
            - isp
        ).alias("jid"),
    )
    jstats = steps.groupBy("user_id", "jid").agg(
        F.max("isp").alias("has_conv"),
        F.sum(F.lit(1) - F.col("isp")).alias("n_touch"),
    )
    wj = Window.partitionBy("user_id", "jid").orderBy("ts", "event_id")
    touches = steps.filter(F.col("isp") == 0).select(
        "user_id",
        "jid",
        "event_type",
        F.row_number().over(wj).alias("rn"),
        F.lead("event_type").over(wj).alias("nxt"),
    )
    first = touches.filter(F.col("rn") == 1).select(
        F.lit("START").alias("from_state"),
        F.col("event_type").alias("to_state"),
    )
    mid = touches.filter(F.col("nxt").isNotNull()).select(
        F.col("event_type").alias("from_state"),
        F.col("nxt").alias("to_state"),
    )
    last = (
        touches.filter(F.col("nxt").isNull())
        .join(jstats, ["user_id", "jid"])
        .select(
            F.col("event_type").alias("from_state"),
            F.when(F.col("has_conv") == 1, F.lit("CONV"))
            .otherwise(F.lit("DROP"))
            .alias("to_state"),
        )
    )
    instant = jstats.filter(
        (F.col("has_conv") == 1) & (F.col("n_touch") == 0)
    ).select(
        F.lit("START").alias("from_state"), F.lit("CONV").alias("to_state")
    )
    return first.unionByName(mid).unionByName(last).unionByName(instant)


def _absorb_micro(rows, iters: int = MARKOV_ITERS) -> int:
    """P(absorb in CONV | START) in integer micro-units from
    (from_state, to_state, prob_micro) rows — pure-integer fixed-point
    iteration (round-half-up at each step), so the oracle's unrolled
    HUGEINT CTE chain reproduces it bit-for-bit."""
    transient = sorted({f for f, _, _ in rows})
    p = {s: 0 for s in transient}
    for _ in range(iters):
        nxt = {}
        for s in transient:
            acc = 0
            for f, t, pm in rows:
                if f != s:
                    continue
                if t == "CONV":
                    pv = 1_000_000
                elif t == "DROP":
                    pv = 0
                else:
                    pv = p.get(t, 0)
                acc += pm * pv
            nxt[s] = (2 * acc + 1_000_000) // 2_000_000
        p = nxt
    return p.get("START", 0)


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution — the data-driven upgrade of
    `attribution_last_touch`: each channel's credit is how much the
    journey graph's conversion probability DROPS when that channel is
    removed (its inbound edges redirected to abandonment), normalized
    across channels.  Last-touch over-credits the final click; removal
    effect prices every position on the path.

    Exactness: transition probabilities quantize to integer
    micro-units with the integer round-half-up (2a+b)//(2b) — no
    floats anywhere — and the absorption fixed point iterates
    MARKOV_ITERS steps in pure integer arithmetic, re-quantizing each
    step, so the DuckDB oracle (an unrolled HUGEINT CTE chain built by
    `_markov_oracle()`) reproduces every intermediate bit.

    Scale shape: the data-sized stage is ONE user-keyed shuffle
    producing journey edges + one K²-cell count aggregate (K = event
    types + 3 marker states).  The <=49-cell matrix is
    bounded-METADATA (the k-means codebook precedent), so the
    5-scenario absorption solve runs on the driver in O(iters * K²) —
    constant — and the result re-enters Spark as a 4-row DataFrame.
    """
    cells = (
        _journey_edges(spark, sf_dir)
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    tot = {}
    for r in cells:
        tot[r.from_state] = tot.get(r.from_state, 0) + r.cnt
    tmat = [
        (
            r.from_state,
            r.to_state,
            (2 * r.cnt * 1_000_000 + tot[r.from_state])
            // (2 * tot[r.from_state]),
        )
        for r in cells
    ]
    p_full = _absorb_micro(tmat)
    out = []
    effects = {}
    for ch in MARKOV_CHANNELS:
        removed = [
            (f, "DROP" if t == ch else t, pm)
            for f, t, pm in tmat
            if f != ch
        ]
        p_rem = _absorb_micro(removed)
        effects[ch] = p_full - p_rem
    s_eff = sum(effects.values())
    for ch in MARKOV_CHANNELS:
        re_c = effects[ch]
        attr = (
            (2 * re_c * 1_000_000 + s_eff) // (2 * s_eff)
            if s_eff > 0
            else None
        )
        out.append((ch, p_full, p_full - re_c, re_c, attr))
    return spark.createDataFrame(
        out,
        "channel string, p_full_micro long, p_removed_micro long,"
        " removal_effect_micro long, attribution_micro long",
    )


def _markov_oracle() -> str:
    """Unrolled-CTE DuckDB restatement of the full pipeline: journey
    edges, integer-rounded transition matrix, and MARKOV_ITERS
    fixed-point steps for the base chain and each removal scenario —
    all in HUGEINT arithmetic matching the driver's Python ints."""
    scen = {"full": None}
    for ch in MARKOV_CHANNELS:
        scen[f"no_{ch}"] = ch
    parts = [
        """
WITH steps AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
           - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS jid
  FROM events
), jstats AS (
  SELECT user_id, jid, MAX(isp) AS has_conv,
         SUM(1 - isp) AS n_touch
  FROM steps GROUP BY 1, 2
), touches AS (
  SELECT user_id, jid, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, jid
                            ORDER BY ts, event_id) AS rn,
         LEAD(event_type) OVER (PARTITION BY user_id, jid
                                ORDER BY ts, event_id) AS nxt
  FROM steps WHERE isp = 0
), edges AS (
  SELECT 'START' AS from_state, event_type AS to_state
  FROM touches WHERE rn = 1
  UNION ALL
  SELECT event_type, nxt FROM touches WHERE nxt IS NOT NULL
  UNION ALL
  SELECT t.event_type,
         CASE WHEN j.has_conv = 1 THEN 'CONV' ELSE 'DROP' END
  FROM touches t JOIN jstats j USING (user_id, jid)
  WHERE t.nxt IS NULL
  UNION ALL
  SELECT 'START', 'CONV' FROM jstats WHERE has_conv = 1 AND n_touch = 0
), cells AS (
  SELECT from_state, to_state, CAST(COUNT(*) AS HUGEINT) AS cnt
  FROM edges GROUP BY 1, 2
), tmat AS MATERIALIZED (
  SELECT from_state, to_state,
         (2 * cnt * 1000000 + SUM(cnt) OVER (PARTITION BY from_state))
           // (2 * SUM(cnt) OVER (PARTITION BY from_state)) AS prob_micro
  FROM cells
)"""
    ]
    for name, ch in scen.items():
        if ch is None:
            parts.append(
                f", t_{name} AS MATERIALIZED (SELECT from_state, to_state, prob_micro"
                f" FROM tmat)"
            )
        else:
            parts.append(
                f""", t_{name} AS MATERIALIZED (
  SELECT from_state,
         CASE WHEN to_state = '{ch}' THEN 'DROP' ELSE to_state END
           AS to_state,
         prob_micro
  FROM tmat WHERE from_state <> '{ch}'
)"""
            )
        prev = f"p_{name}_0"
        parts.append(
            f", {prev} AS MATERIALIZED (SELECT DISTINCT from_state AS state,"
            f" CAST(0 AS HUGEINT) AS p_micro FROM t_{name})"
        )
        for k in range(1, MARKOV_ITERS + 1):
            cur = f"p_{name}_{k}"
            parts.append(
                f""", {cur} AS MATERIALIZED (
  SELECT t.from_state AS state,
         (2 * SUM(t.prob_micro
                  * (CASE WHEN t.to_state = 'CONV' THEN 1000000
                          WHEN t.to_state = 'DROP' THEN 0
                          ELSE COALESCE(p.p_micro, 0) END))
          + 1000000) // 2000000 AS p_micro
  FROM t_{name} t LEFT JOIN {prev} p ON p.state = t.to_state
  GROUP BY 1
)"""
            )
            prev = cur
        parts.append(
            f", r_{name} AS MATERIALIZED (SELECT COALESCE((SELECT p_micro FROM {prev}"
            f" WHERE state = 'START'), 0) AS p)"
        )
    chans = ", ".join(f"('{c}')" for c in MARKOV_CHANNELS)
    rem = " ".join(
        f"WHEN c.channel = '{c}' THEN (SELECT p FROM r_no_{c})"
        for c in MARKOV_CHANNELS
    )
    parts.append(
        f""", chan AS (
  SELECT c.channel,
         (SELECT p FROM r_full) AS p_full,
         CASE {rem} END AS p_rem
  FROM (VALUES {chans}) AS c(channel)
), eff AS (
  SELECT channel, p_full, p_rem, p_full - p_rem AS re,
         SUM(p_full - p_rem) OVER () AS s_eff
  FROM chan
)
SELECT channel,
       CAST(p_full AS BIGINT) AS p_full_micro,
       CAST(p_rem AS BIGINT) AS p_removed_micro,
       CAST(re AS BIGINT) AS removal_effect_micro,
       CAST(CASE WHEN s_eff > 0
                 THEN (2 * re * 1000000 + s_eff) // (2 * s_eff)
            END AS BIGINT) AS attribution_micro
FROM eff"""
    )
    return "".join(parts)


QUERIES = {
    "market_basket": q_market_basket,
    "markov_attribution": q_markov_attribution,
    "graph_triangles": q_graph_triangles,
    "pagerank_copurchase": q_pagerank_copurchase,
    "item_similarity": q_item_similarity,
    "event_transitions": q_event_transitions,
    "rfm_segments": q_rfm_segments,
    "benford_audit": q_benford_audit,
    "priority_entropy": q_priority_entropy,
}

ORACLES = {
    "market_basket": ORACLE_MARKET_BASKET,
    "markov_attribution": _markov_oracle(),
    "pagerank_copurchase": ORACLE_PAGERANK,
    "graph_triangles": ORACLE_GRAPH_TRIANGLES,
    "item_similarity": ORACLE_ITEM_SIMILARITY,
    "event_transitions": ORACLE_EVENT_TRANSITIONS,
    "rfm_segments": ORACLE_RFM,
    "benford_audit": ORACLE_BENFORD,
    "priority_entropy": ORACLE_PRIORITY_ENTROPY,
}
