"""Behavioral attribution + distribution-comparison statistics.

`attribution_last_touch` closes the reference's marketing-funnel
family (`Recorrencia_*.sql`, CRM lead flow in `ETL - CRM.py`): each
conversion is credited to the latest preceding touchpoint within a
lookback window.  `ks_segments` adds the two-sample
Kolmogorov-Smirnov distance between every pair of customer segments'
spend distributions — the statistical test behind "are these two
segments actually different", computed with EXACT integer arithmetic
so the verdict crosses the engine boundary bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import cents
from ..functions.prefix import prefix_sums
from ..sources.tables import load_table

LOOKBACK_US = 7 * 24 * 3600 * 1_000_000  # attribution lookback (µs)
TOUCH_TYPES = ("click", "view")
CONVERSION_TYPE = "purchase"


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: for every purchase, the most recent
    click/view by the same user at or before the purchase, credited
    only within the 7-day lookback; conversions with no in-window
    touch stay in the output with NULL attribution (the unattributed
    rate is itself a KPI).

    Scale shape: ONE shuffle keyed on user_id; the running last-touch
    is `last(..., ignorenulls=True)` over the per-user ordered window
    (running state, no self-join against the touch stream, no
    per-conversion re-scan).  Ordering ties broken by event_id so the
    carried touch is deterministic.  Touch fields travel as one struct
    so all of them come from the SAME carried event.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch = F.when(
        F.col("event_type").isin(*TOUCH_TYPES),
        F.struct(
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("t_type"),
        ),
    )
    carried = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.last(touch, ignorenulls=True).over(w).alias("lt"),
    ).filter(F.col("event_type") == CONVERSION_TYPE)

    delay = F.unix_micros("ts") - F.unix_micros(F.col("lt.t_ts"))
    in_window = F.col("lt").isNotNull() & (delay <= F.lit(LOOKBACK_US))
    return carried.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.when(in_window, F.col("lt.t_id")).alias("touch_id"),
        F.when(in_window, F.col("lt.t_type")).alias("touch_type"),
        F.when(in_window, F.col("lt.t_ts")).alias("touch_ts"),
        F.when(in_window, delay).alias("delay_us"),
    )


ORACLE_ATTRIBUTION = f"""
WITH carried AS (
  SELECT user_id, event_id, event_type, ts,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                         THEN ts END IGNORE NULLS)
           OVER w AS t_ts,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                         THEN event_id END IGNORE NULLS)
           OVER w AS t_id,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER w AS t_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT user_id,
       event_id AS purchase_id,
       ts AS purchase_ts,
       CASE WHEN ok THEN t_id END AS touch_id,
       CASE WHEN ok THEN t_type END AS touch_type,
       CASE WHEN ok THEN t_ts END AS touch_ts,
       CASE WHEN ok THEN delay END AS delay_us
FROM (
  SELECT *,
         epoch_us(ts) - epoch_us(t_ts) AS delay,
         t_ts IS NOT NULL
           AND epoch_us(ts) - epoch_us(t_ts) <= {LOOKBACK_US} AS ok
  FROM carried WHERE event_type = '{CONVERSION_TYPE}'
)
"""


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov over all segment pairs
# ---------------------------------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _segment_cdf(spark: SparkSession, sf_dir: str):
    """Shared rank machinery for the distribution tests (KS and
    Mann-Whitney): per distinct order value (exact integer cents) the
    per-segment counts c0..c4 AND global cumulative counts cum0..cum4
    (``prefix_sums`` over the value order), plus the grand totals — so
    the value stream is scanned once for all downstream pair
    statistics."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o["o_custkey"] == c["c_custkey"],
    ).select(
        cents(F.col("o_totalprice")).alias("v"), F.col("c_mktsegment")
    )
    per_v = seg.groupBy("v").agg(
        *[
            F.sum(
                F.when(F.col("c_mktsegment") == s, 1).otherwise(0)
            ).alias(f"c{i}")
            for i, s in enumerate(SEGMENTS)
        ]
    )
    cum, totals = prefix_sums(
        per_v, [F.asc("v")], {f"cum{i}": F.col(f"c{i}") for i in range(5)}
    )
    return cum, [totals[()][f"cum{i}"] for i in range(5)]


def q_ks_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS distance D = max_x |F_a(x) - F_b(x)| between the order-value
    distributions of every pair of customer market segments.

    Exactness: values are integer cents; per-value per-segment counts
    are integers; the cumulative counts are integers; and the CDF
    difference is compared CROSS-MULTIPLIED — max |cum_a·n_b −
    cum_b·n_a| as BIGINT — so no float exists until ONE final division
    per pair.  (At n_a·n_b ≥ 2^63 move the cross-product to
    DECIMAL(38,0); the shape is unchanged.)

    Scale shape: one hash aggregate to per-value segment counts (5
    int columns over distinct values), then the two-phase GLOBAL
    cumsum (`_segment_cdf`, via ``prefix_sums``).  All 10 pair
    statistics read the SAME cumulative relation via one stack/unpivot
    + a 10-group max — the value stream is scanned once, no data-wide
    single-task window, no per-pair pass.
    """
    cum, n = _segment_cdf(spark, sf_dir)

    pair_exprs = []
    for i in range(5):
        for j in range(i + 1, 5):
            pair_exprs.append(
                (
                    f"'{SEGMENTS[i]}|{SEGMENTS[j]}'",
                    f"abs(cum{i} * {n[j]}L - cum{j} * {n[i]}L)",
                )
            )
    stacked = cum.select(
        F.expr(
            "stack("
            + str(len(pair_exprs))
            + ", "
            + ", ".join(f"{k}, {e}" for k, e in pair_exprs)
            + ") as (pair, xdiff)"
        )
    )
    dmax = stacked.groupBy("pair").agg(F.max("xdiff").alias("dmax_scaled"))

    n_map_a = F.create_map(
        *[
            x
            for i in range(5)
            for j in range(i + 1, 5)
            for x in (
                F.lit(f"{SEGMENTS[i]}|{SEGMENTS[j]}"),
                F.lit(n[i]),
            )
        ]
    )
    n_map_b = F.create_map(
        *[
            x
            for i in range(5)
            for j in range(i + 1, 5)
            for x in (
                F.lit(f"{SEGMENTS[i]}|{SEGMENTS[j]}"),
                F.lit(n[j]),
            )
        ]
    )
    return dmax.select(
        F.split("pair", "\\|")[0].alias("seg_a"),
        F.split("pair", "\\|")[1].alias("seg_b"),
        n_map_a[F.col("pair")].alias("n_a"),
        n_map_b[F.col("pair")].alias("n_b"),
        "dmax_scaled",
        (
            F.col("dmax_scaled").cast("double")
            / F.nullif(
                (n_map_a[F.col("pair")] * n_map_b[F.col("pair")]).cast(
                    "double"
                ),
                F.lit(0.0),
            )
        ).alias("d_stat"),  # NULL when either sample is empty
    )


def _oracle_ks() -> str:
    cums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN c_mktsegment = '{s}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c{i}"
        for i, s in enumerate(SEGMENTS)
    )
    wins = ",\n         ".join(
        f"CAST(SUM(c{i}) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)"
        f" AS BIGINT) AS cum{i}"
        for i in range(5)
    )
    tot = ",\n         ".join(
        f"CAST(SUM(c{i}) AS BIGINT) AS n{i}" for i in range(5)
    )
    selects = []
    for i in range(5):
        for j in range(i + 1, 5):
            selects.append(f"""
SELECT '{SEGMENTS[i]}' AS seg_a, '{SEGMENTS[j]}' AS seg_b,
       t.n{i} AS n_a, t.n{j} AS n_b,
       CAST(MAX(ABS(c.cum{i} * t.n{j} - c.cum{j} * t.n{i})) AS BIGINT)
         AS dmax_scaled,
       CAST(MAX(ABS(c.cum{i} * t.n{j} - c.cum{j} * t.n{i})) AS DOUBLE)
         / NULLIF(CAST(t.n{i} * t.n{j} AS DOUBLE), 0.0) AS d_stat
FROM cum c CROSS JOIN tot t
GROUP BY t.n{i}, t.n{j}""")
    return f"""
WITH seg AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
         c.c_mktsegment
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), per_v AS (
  SELECT v,
         {cums}
  FROM seg GROUP BY v
), cum AS (
  SELECT v,
         {wins}
  FROM per_v
), tot AS (
  SELECT {tot}
  FROM per_v
)
{" UNION ALL ".join(selects)}
"""


ORACLE_KS = _oracle_ks()


# ---------------------------------------------------------------------------
# Mann-Whitney U over all segment pairs (exact, tie-aware)
# ---------------------------------------------------------------------------

def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the order-value
    distributions of every segment pair — the nonparametric
    location test companion to ``ks_segments``, sharing its ONE
    two-phase cumulative pass (`_segment_cdf`).

    Tie-aware and float-free: with per-value counts the pooled
    average rank at value v is (2·before + c + 1)/2, so DOUBLED rank
    sums are exact integers — 2R_a = Σ c_a·(2·before + c + 1) with
    before = pooled cumulative strictly below v.  U_a follows as
    (2R_a − n_a(n_a+1))/2, a .0/.5-exact double; the identity
    U_a + U_b = n_a·n_b is pinned in tests.  No sort of the raw data
    ever happens — ranks come from counts.
    """
    cum, n = _segment_cdf(spark, sf_dir)

    pair_exprs = []
    for i in range(5):
        for j in range(i + 1, 5):
            before = (
                f"(cum{i} - c{i}) + (cum{j} - c{j})"
            )
            contrib = (
                f"c{i} * (2 * ({before}) + (c{i} + c{j}) + 1)"
            )
            pair_exprs.append(
                (f"'{SEGMENTS[i]}|{SEGMENTS[j]}'", contrib)
            )
    stacked = cum.select(
        F.expr(
            "stack("
            + str(len(pair_exprs))
            + ", "
            + ", ".join(f"{k}, {e}" for k, e in pair_exprs)
            + ") as (pair, r2_term)"
        )
    )
    r2 = stacked.groupBy("pair").agg(
        F.sum("r2_term").cast("long").alias("r2_a")
    )

    def seg_map(pick):
        return F.create_map(
            *[
                x
                for i in range(5)
                for j in range(i + 1, 5)
                for x in (
                    F.lit(f"{SEGMENTS[i]}|{SEGMENTS[j]}"),
                    F.lit(pick(i, j)),
                )
            ]
        )

    n_a = seg_map(lambda i, j: n[i])[F.col("pair")]
    n_b = seg_map(lambda i, j: n[j])[F.col("pair")]
    u_a = (
        F.col("r2_a") - n_a * (n_a + F.lit(1))
    ).cast("double") / F.lit(2.0)
    return r2.select(
        F.split("pair", "\\|")[0].alias("seg_a"),
        F.split("pair", "\\|")[1].alias("seg_b"),
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        "r2_a",
        u_a.alias("u_a"),
        (n_a.cast("double") * n_b.cast("double") - u_a).alias("u_b"),
    )


def _oracle_mann_whitney() -> str:
    cums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN c_mktsegment = '{s}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c{i}"
        for i, s in enumerate(SEGMENTS)
    )
    wins = ",\n         ".join(
        [f"c{i}" for i in range(5)]
        + [
            f"CAST(SUM(c{i}) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)"
            f" AS BIGINT) AS cum{i}"
            for i in range(5)
        ]
    )
    tot = ",\n         ".join(
        f"CAST(SUM(c{i}) AS BIGINT) AS n{i}" for i in range(5)
    )
    selects = []
    for i in range(5):
        for j in range(i + 1, 5):
            before = f"(c.cum{i} - c.c{i}) + (c.cum{j} - c.c{j})"
            r2 = (
                f"CAST(SUM(c.c{i} * (2 * ({before}) + (c.c{i} + c.c{j})"
                f" + 1)) AS BIGINT)"
            )
            ua = f"CAST({r2} - t.n{i} * (t.n{i} + 1) AS DOUBLE) / 2.0"
            selects.append(f"""
SELECT '{SEGMENTS[i]}' AS seg_a, '{SEGMENTS[j]}' AS seg_b,
       t.n{i} AS n_a, t.n{j} AS n_b,
       {r2} AS r2_a,
       {ua} AS u_a,
       CAST(t.n{i} AS DOUBLE) * CAST(t.n{j} AS DOUBLE) - {ua} AS u_b
FROM cum c CROSS JOIN tot t
GROUP BY t.n{i}, t.n{j}""")
    return f"""
WITH seg AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
         c.c_mktsegment
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), per_v AS (
  SELECT v,
         {cums}
  FROM seg GROUP BY v
), cum AS (
  SELECT v,
         {wins}
  FROM per_v
), tot AS (
  SELECT {tot}
  FROM per_v
)
{" UNION ALL ".join(selects)}
"""


ORACLE_MANN_WHITNEY = _oracle_mann_whitney()


# ---------------------------------------------------------------------------
# Exponentially-weighted moving average (α = 1/2 — bit-exact)
# ---------------------------------------------------------------------------

EWMA_LAGS = 7  # truncation horizon: weight 2^-7 < 1% of the head weight


def q_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-term exponentially-weighted moving average of daily revenue
    per nation (α = 1/2, so weights are 1, 1/2, …, 1/64 — EXACT binary
    doubles, and weight·cents is exact for cents < 2^53: the whole
    smoothing is bit-identical across engines with NO quantization of
    intermediate terms).  Missing leading lags drop out of numerator
    and denominator together (the pandas ``ewm(adjust=True)`` head
    convention), so early days are unbiased.

    Scale shape: one (nation, day) hash aggregate, then a 7-LAG chain
    in a nation-keyed window — fixed fan-in, no self-join, no
    between-range scan; the lag chain is a single window pass.  The
    truncated-EWMA-as-lags form is the scale answer to the recursive
    definition, whose running state would serialize each group."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    daily = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.col("o_orderdate").alias("dia"))
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_c"))
    )
    w = Window.partitionBy("n_name").orderBy("dia")
    lags = [F.col("rev_c").cast("double")] + [
        F.lag("rev_c", k).over(w).cast("double")
        for k in range(1, EWMA_LAGS)
    ]
    num = None
    den = None
    for k, x in enumerate(lags):
        wk = F.lit(0.5**k)  # exact binary double
        term = F.when(x.isNotNull(), x * wk).otherwise(F.lit(0.0))
        dterm = F.when(x.isNotNull(), wk).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    ewma = F.floor(num / den / F.lit(100.0) * 1e4 + F.lit(0.5)) / 1e4
    return daily.select("n_name", "dia", "rev_c", ewma.alias("ewma"))


def _oracle_ewma() -> str:
    lag_cols = ", ".join(
        f"LAG(rev_c, {k}) OVER (PARTITION BY n_name ORDER BY dia) AS x{k}"
        for k in range(1, EWMA_LAGS)
    )
    num = " + ".join(
        ["CAST(rev_c AS DOUBLE)"]
        + [
            f"CASE WHEN x{k} IS NOT NULL THEN CAST(x{k} AS DOUBLE)"
            f" * CAST({0.5 ** k!r} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
            for k in range(1, EWMA_LAGS)
        ]
    )
    den = " + ".join(
        ["CAST(1 AS DOUBLE)"]
        + [
            f"CASE WHEN x{k} IS NOT NULL THEN CAST({0.5 ** k!r} AS DOUBLE)"
            f" ELSE CAST(0 AS DOUBLE) END"
            for k in range(1, EWMA_LAGS)
        ]
    )
    return f"""
WITH daily AS (
  SELECT n.n_name, o.o_orderdate AS dia,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), lagged AS (
  SELECT n_name, dia, rev_c, {lag_cols}
  FROM daily
)
SELECT n_name, dia, rev_c,
       FLOOR(({num}) / ({den}) / 100.0 * 1e4 + 0.5) / 1e4 AS ewma
FROM lagged
"""


ORACLE_EWMA = _oracle_ewma()


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------

def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of each nation's monthly-revenue trend:
    the MEDIAN of all pairwise slopes (r_j - r_i)/(t_j - t_i) — robust
    to ~29% outlier months, where the forecast family's OLS is not.

    Exactness: revenues are integer cents, month ordinals integers,
    so each slope is one correctly-rounded division of exact integers,
    floor-quantized to integer micro-cents-per-month BEFORE the
    median; the median of integers is exact in both engines (odd n:
    the middle value; even n: the average of the two middle values —
    a .0/.5 double).

    Scale shape: one (nation, month) aggregate shrinks the input to
    K·M rows (M = months — CALENDAR-sized, not data-sized), and the
    pairwise self-join is keyed on nation over that aggregated
    relation: O(M²) pairs per nation, bounded by the calendar span,
    never by the order count.  The exact-median aggregate runs per
    nation over the M²-row groups.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("t"),
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_c"))
        # calendar-sized (K nations × M months); both self-join sides
        # read it — checkpoint so the orders join+aggregate runs once
        .localCheckpoint(eager=True)
    )
    a = monthly.select(
        "n_name", F.col("t").alias("t1"), F.col("rev_c").alias("r1")
    )
    b = monthly.select(
        "n_name", F.col("t").alias("t2"), F.col("rev_c").alias("r2")
    )
    # the monthly relation is calendar-sized (K nations × M months) by
    # construction, so broadcasting one side is right at ANY data scale
    pairs = a.join(F.broadcast(b), "n_name").filter(
        F.col("t1") < F.col("t2")
    )
    slope_micro = F.floor(
        (F.col("r2") - F.col("r1")).cast("double")
        / (F.col("t2") - F.col("t1")).cast("double")
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        pairs.select("n_name", slope_micro.alias("s"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.median("s").cast("double").alias("slope_micro_med"),
        )
        .select(
            "n_name",
            "n_pairs",
            "slope_micro_med",
            (F.col("slope_micro_med") / F.lit(1e6) / F.lit(100.0)).alias(
                "slope_brl_per_month"
            ),
        )
    )


ORACLE_THEIL_SEN = """
WITH monthly AS (
  SELECT n.n_name,
         CAST(YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) AS BIGINT)
           AS t,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), pairs AS (
  SELECT a.n_name,
         CAST(FLOOR(CAST(b.rev_c - a.rev_c AS DOUBLE)
                    / CAST(b.t - a.t AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           AS s
  FROM monthly a JOIN monthly b
    ON a.n_name = b.n_name AND a.t < b.t
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MEDIAN(s) AS DOUBLE) AS slope_micro_med,
       CAST(MEDIAN(s) AS DOUBLE) / 1e6 / 100.0 AS slope_brl_per_month
FROM pairs GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Duplicate-payment audit (fraud/error screen)
# ---------------------------------------------------------------------------

DUP_WINDOW_DAYS = 3


def q_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate-payment screen — the accounts-payable audit next
    to ``benford_audit`` and ``balance_integrity``: pairs of orders by
    the SAME customer within DUP_WINDOW_DAYS of each other whose cent
    amounts agree within 10% (double-billing / double-pay / re-keyed
    invoice candidates; exact duplicates match a fortiori).

    The tolerance is pure integer arithmetic — 10·|Δcents| ≤
    max(cents) — so no float crosses the engine boundary at all.

    Scale shape: a self-equi-join keyed on the CUSTOMER — per-entity
    pair generation bounded by that entity's order count (the
    market-basket O(k²)-per-key bound applied to payers), with the
    date and amount predicates as narrow post-filters.  A pathological
    payer with millions of orders is the skew case: AQE's skew join
    splits the key, and pre-bucketing by order month bounds k if a
    deployment needs a hard cap."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_custkey",
        cents(F.col("o_totalprice")).alias("amount_c"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("d"),
    )
    a = keyed.select(
        "o_custkey",
        F.col("amount_c").alias("a1"),
        F.col("k").alias("k1"),
        F.col("d").alias("d1"),
    )
    b = keyed.select(
        "o_custkey",
        F.col("amount_c").alias("a2"),
        F.col("k").alias("k2"),
        F.col("d").alias("d2"),
    )
    return (
        a.join(b, "o_custkey")
        .filter(
            (F.col("k1") < F.col("k2"))
            & (F.abs(F.datediff("d2", "d1")) <= DUP_WINDOW_DAYS)
            & (
                F.abs(F.col("a1") - F.col("a2")) * 10
                <= F.greatest("a1", "a2")
            )
        )
        .select(
            "o_custkey",
            "a1",
            "a2",
            "k1",
            "k2",
            "d1",
            "d2",
            F.abs(F.datediff("d2", "d1")).cast("int").alias("gap_days"),
            (F.col("a1") == F.col("a2")).alias("exact_dup"),
        )
    )


ORACLE_DUPLICATE_PAYMENTS = f"""
WITH keyed AS (
  SELECT o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS amount_c,
         o_orderkey AS k, o_orderdate AS d
  FROM orders
)
SELECT a.o_custkey, a.amount_c AS a1, b.amount_c AS a2,
       a.k AS k1, b.k AS k2, a.d AS d1, b.d AS d2,
       CAST(ABS(DATE_DIFF('day', a.d, b.d)) AS INT) AS gap_days,
       a.amount_c = b.amount_c AS exact_dup
FROM keyed a JOIN keyed b
  ON a.o_custkey = b.o_custkey
 AND a.k < b.k
 AND ABS(DATE_DIFF('day', a.d, b.d)) <= {DUP_WINDOW_DAYS}
 AND ABS(a.amount_c - b.amount_c) * 10 <= GREATEST(a.amount_c, b.amount_c)
"""


# ---------------------------------------------------------------------------
# Cohort LTV curves (cumulative revenue per customer by cohort age)
# ---------------------------------------------------------------------------

def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue companion to
    ``cohort_retention``: customers grouped by first-order month, and
    for each cohort age (months since acquisition) the cumulative
    revenue per acquired customer.

    Scale shape: one customer-keyed aggregate finds each customer's
    cohort month; the order stream joins that dim-sized table
    (broadcast here / AQE at scale) and aggregates to (cohort, age)
    cells — calendar²-sized — where the cumulative window runs
    partitioned BY COHORT, never data-wide.  Exactness: integer-cent
    sums, cohort sizes integers, one division at the end floor-
    quantized to 4dp (cents-per-customer precision)."""
    o = load_table(spark, sf_dir, "orders")
    # customer-dim-sized; the sizes aggregate and the cells join both
    # read it — checkpoint so the first-order scan runs once.
    first = o.groupBy("o_custkey").agg(
        F.min(
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("cohort_m")
    ).localCheckpoint(eager=True)
    sizes = first.groupBy("cohort_m").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        o.join(F.broadcast(first), "o_custkey")
        .groupBy(
            "cohort_m",
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
                - F.col("cohort_m")
            ).alias("age_m"),
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_c"))
    )
    w = Window.partitionBy("cohort_m").orderBy("age_m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.select(
        "cohort_m",
        "age_m",
        "rev_c",
        F.sum("rev_c").over(w).alias("cum_rev_c"),
    ).join(F.broadcast(sizes), "cohort_m")
    ltv = F.floor(
        F.col("cum_rev_c").cast("double")
        / F.col("cohort_size").cast("double")
        / F.lit(100.0)
        * 1e4
        + F.lit(0.5)
    ) / 1e4
    return cum.select(
        "cohort_m",
        "age_m",
        "cohort_size",
        "rev_c",
        "cum_rev_c",
        ltv.alias("ltv_per_customer"),
    )


ORACLE_COHORT_LTV = """
WITH first AS (
  SELECT o_custkey,
         CAST(MIN(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1)
              AS BIGINT) AS cohort_m
  FROM orders GROUP BY 1
), sizes AS (
  SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM first GROUP BY 1
), cells AS (
  SELECT f.cohort_m,
         CAST(YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) - 1
              - f.cohort_m AS BIGINT) AS age_m,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_c
  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
), cum AS (
  SELECT cohort_m, age_m, rev_c,
         CAST(SUM(rev_c) OVER (PARTITION BY cohort_m ORDER BY age_m
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_rev_c
  FROM cells
)
SELECT c.cohort_m, c.age_m, s.cohort_size, c.rev_c, c.cum_rev_c,
       FLOOR(CAST(c.cum_rev_c AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             / 100.0 * 1e4 + 0.5) / 1e4 AS ltv_per_customer
FROM cum c JOIN sizes s ON c.cohort_m = s.cohort_m
"""


# ---------------------------------------------------------------------------
# MAD outlier screen (robust alternative to the z-score outlier_events)
# ---------------------------------------------------------------------------

MAD_K = 1.4826       # consistency constant: MAD*K estimates sigma
MAD_CUTOFF = 3.5     # |x - med| / (K*MAD) beyond this flags an outlier


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen over order values per
    priority class — the robust companion to the mean/std z-score
    `outlier_events` (one extreme order inflates a stddev and HIDES
    its peers; the median pair is immune to ~50% contamination).

    Exactness: values are integer cents, so each group median is an
    exact .0/.5 double in any engine (the theil_sen precedent);
    deviations |x - med| are then exact .0/.5 doubles and the MAD is
    an exact .0/.25/.5/.75 double.  The single robust-z division is
    micro-quantized; `nullif` keeps a zero-MAD group (>=50% identical
    values) NULL-flagged rather than crashing.

    Scale shape: one map-side-combined median aggregate per group
    (K groups), broadcast back to the scan; a second bounded
    aggregate over deviations; one final broadcast join + filter —
    the fact table is never shuffled.
    """
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("amount_c"),
    )
    med = keyed.groupBy("o_orderpriority").agg(
        F.median("amount_c").cast("double").alias("med")
    )
    dev = keyed.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        "amount_c",
        "med",
        F.abs(F.col("amount_c").cast("double") - F.col("med")).alias("dev"),
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.median("dev").cast("double").alias("mad")
    )
    rz_micro = F.floor(
        F.col("dev")
        / F.nullif(F.col("mad") * F.lit(MAD_K), F.lit(0.0))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    scored = dev.join(F.broadcast(mad), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        "amount_c",
        "med",
        "mad",
        rz_micro.alias("rz_micro"),
        (F.col("dev") > F.col("mad") * F.lit(MAD_K) * F.lit(MAD_CUTOFF))
        .alias("is_outlier"),
    )
    # report the TOP-N most extreme rows per group (flag carried as a
    # column): a threshold-only output is empty on well-behaved data,
    # which the correctness gate rightly treats as a weak check.
    # Single rank-limit window (r17, reverting r16's salted two-phase):
    # `row_number() <= 20` plans as WindowGroupLimit Partial/Final —
    # each map task prunes to its local top-20 per priority before the
    # exchange, so the reducer sorts <= #map_tasks*20 rows per group,
    # never |orders|/K.  The salt stage duplicated that prune for the
    # price of an extra exchange + sort (r16 verdict item 4).
    w_top = Window.partitionBy("o_orderpriority").orderBy(
        F.col("rz_micro").desc(), F.col("o_orderkey")
    )
    return (
        scored.select(
            "*", F.row_number().over(w_top).alias("extremeness_rank")
        )
        .filter(F.col("extremeness_rank") <= 20)
    )


ORACLE_MAD_OUTLIERS = f"""
WITH keyed AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS amount_c
  FROM orders
), med AS (
  SELECT o_orderpriority, CAST(MEDIAN(amount_c) AS DOUBLE) AS med
  FROM keyed GROUP BY 1
), dev AS (
  SELECT k.o_orderkey, k.o_orderpriority, k.amount_c, m.med,
         ABS(CAST(k.amount_c AS DOUBLE) - m.med) AS dev
  FROM keyed k JOIN med m USING (o_orderpriority)
), mad AS (
  SELECT o_orderpriority, CAST(MEDIAN(dev) AS DOUBLE) AS mad
  FROM dev GROUP BY 1
), scored AS (
  SELECT d.o_orderkey, d.o_orderpriority, d.amount_c, d.med, m.mad,
         CAST(FLOOR(d.dev / NULLIF(m.mad * {MAD_K}, 0.0) * 1e6 + 0.5)
              AS BIGINT) AS rz_micro,
         d.dev > m.mad * {MAD_K} * {MAD_CUTOFF} AS is_outlier
  FROM dev d JOIN mad m USING (o_orderpriority)
)
SELECT *
FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY rz_micro DESC, o_orderkey)
           AS extremeness_rank
  FROM scored
)
WHERE extremeness_rank <= 20
"""


# ---------------------------------------------------------------------------
# Walk-forward cross-validation splits (purged temporal folds)
# ---------------------------------------------------------------------------

WF_FOLDS = 4
WF_FIRST_TEST_M = 1998 * 12 + 1  # first fold's test period starts 1998-01
WF_STEP_M = 6                    # folds advance by 6 months
WF_HORIZON_M = 6                 # each test window spans 6 months
WF_EMBARGO_M = 1                 # months dropped between train and test


def q_walk_forward_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) cross-validation assignment
    with an embargo gap — the temporal companion to
    `leakage_safe_split`: each fold trains on everything up to its
    cutoff, skips WF_EMBARGO_M months (so rolling features computed at
    train time cannot peek into the test window), and tests on the
    next WF_HORIZON_M months.  Orders outside a fold's train/test
    windows are absent from that fold — the output is the exact
    (fold, split) assignment a backtest harness iterates.

    Scale shape: a WF_FOLDS-row spine broadcast against the fact scan
    (the accepted tiny-side BNLJ) followed by a pure filter/projection
    — no shuffle at all; the assignment is computable per input split.
    """
    o = load_table(spark, sf_dir, "orders")
    folds = spark.range(WF_FOLDS).select(
        F.col("id").cast("int").alias("fold"),
        (F.lit(WF_FIRST_TEST_M) + F.col("id") * WF_STEP_M)
        .cast("long")
        .alias("test_start_m"),
    )
    t = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    labeled = o.select(
        "o_orderkey", "o_orderdate", t.alias("t")
    ).join(F.broadcast(folds))
    split = F.when(
        F.col("t") <= F.col("test_start_m") - 1 - F.lit(WF_EMBARGO_M),
        F.lit("train"),
    ).when(
        (F.col("t") >= F.col("test_start_m"))
        & (F.col("t") < F.col("test_start_m") + F.lit(WF_HORIZON_M)),
        F.lit("test"),
    )
    return (
        labeled.select(
            "fold", "o_orderkey", "o_orderdate", split.alias("split")
        )
        .filter(F.col("split").isNotNull())
    )


ORACLE_WALK_FORWARD = f"""
WITH folds AS (
  SELECT CAST(k AS INT) AS fold,
         CAST({WF_FIRST_TEST_M} + k * {WF_STEP_M} AS BIGINT) AS test_start_m
  FROM (SELECT UNNEST(range(0, {WF_FOLDS})) AS k)
), labeled AS (
  SELECT f.fold, o.o_orderkey, o.o_orderdate,
         CAST(YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) AS BIGINT)
           AS t,
         f.test_start_m
  FROM orders o CROSS JOIN folds f
)
SELECT fold, o_orderkey, o_orderdate,
       CASE WHEN t <= test_start_m - 1 - {WF_EMBARGO_M} THEN 'train'
            WHEN t >= test_start_m
                 AND t < test_start_m + {WF_HORIZON_M} THEN 'test'
       END AS split
FROM labeled
WHERE (t <= test_start_m - 1 - {WF_EMBARGO_M})
   OR (t >= test_start_m AND t < test_start_m + {WF_HORIZON_M})
"""


# ---------------------------------------------------------------------------
# Chi-square test of independence (priority x status contingency)
# ---------------------------------------------------------------------------

def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority
    and order status — the categorical counterpart of the KS/
    Mann-Whitney family (are the two dimensions of the reference's
    pivot reports — `EDA - Faturamento.py:110` builds exactly such a
    crosstab — actually associated?).

    Exactness: the cell statistic (obs - exp)^2 / exp is restated as
    (obs*N - row*col)^2 / (N*row*col) so BOTH operands are exact
    BIGINTs; the difference stays < 2^53, so casting it to double and
    squaring is correctly rounded and bit-identical in any IEEE
    engine, and the single division's result is floor-quantized to
    integer micro-units BEFORE the cross-cell total so the chi2
    statistic sums exactly in both engines.

    Scale shape: ONE map-side-combined aggregate shrinks the data to
    R*C contingency cells (domain-bounded: 5 priorities x 3
    statuses), and every window below runs over that cells-sized
    relation — the global (unpartitioned) windows are safe BY
    CONSTRUCTION here because the relation is domain-sized, never
    data-sized.
    """
    o = load_table(spark, sf_dir, "orders")
    # R*C domain-bounded rows; the dof aggregate and the final select
    # both sit downstream — checkpoint so the orders scan runs once.
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("obs")
    ).localCheckpoint(eager=True)
    w_row = Window.partitionBy("o_orderpriority")
    w_col = Window.partitionBy("o_orderstatus")
    w_all = Window.partitionBy()
    enriched = cells.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        F.sum("obs").over(w_row).alias("row_tot"),
        F.sum("obs").over(w_col).alias("col_tot"),
        F.sum("obs").over(w_all).alias("n_tot"),
    )
    diff = (
        F.col("obs") * F.col("n_tot") - F.col("row_tot") * F.col("col_tot")
    ).cast("double")
    denom = (
        F.col("n_tot") * F.col("row_tot") * F.col("col_tot")
    ).cast("double")
    exp_micro = F.floor(
        (F.col("row_tot") * F.col("col_tot")).cast("double")
        / F.col("n_tot").cast("double")
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    contrib_micro = F.floor(
        diff * diff / denom * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    scored = enriched.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        exp_micro.alias("exp_micro"),
        contrib_micro.alias("contrib_micro"),
    )
    dims = scored.agg(
        (
            (F.countDistinct("o_orderpriority") - 1)
            * (F.countDistinct("o_orderstatus") - 1)
        ).alias("dof")
    )
    return scored.select(
        "*", F.sum("contrib_micro").over(w_all).alias("chi2_micro")
    ).join(F.broadcast(dims))


ORACLE_CHI_SQUARE = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1, 2
), enriched AS (
  SELECT *,
         CAST(SUM(obs) OVER (PARTITION BY o_orderpriority) AS BIGINT)
           AS row_tot,
         CAST(SUM(obs) OVER (PARTITION BY o_orderstatus) AS BIGINT)
           AS col_tot,
         CAST(SUM(obs) OVER () AS BIGINT) AS n_tot
  FROM cells
), scored AS (
  SELECT o_orderpriority, o_orderstatus, obs,
         CAST(FLOOR(CAST(row_tot * col_tot AS DOUBLE)
                    / CAST(n_tot AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           AS exp_micro,
         CAST(FLOOR(CAST(obs * n_tot - row_tot * col_tot AS DOUBLE)
                    * CAST(obs * n_tot - row_tot * col_tot AS DOUBLE)
                    / CAST(n_tot * row_tot * col_tot AS DOUBLE)
                    * 1e6 + 0.5) AS BIGINT) AS contrib_micro
  FROM enriched
), dims AS (
  SELECT CAST((COUNT(DISTINCT o_orderpriority) - 1)
              * (COUNT(DISTINCT o_orderstatus) - 1) AS BIGINT) AS dof
  FROM scored
)
SELECT s.o_orderpriority, s.o_orderstatus, s.obs, s.exp_micro,
       s.contrib_micro,
       CAST(SUM(s.contrib_micro) OVER () AS BIGINT) AS chi2_micro,
       d.dof
FROM scored s CROSS JOIN dims d
"""


# ---------------------------------------------------------------------------
# Spearman rank correlation (account balance vs realized spend)
# ---------------------------------------------------------------------------

def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Spearman rank correlation between a customer's
    account balance and their realized total spend — the robust
    (monotone, outlier-insensitive) companion to the Pearson-style
    fits in the forecast family (ref `ETL - Análise Preditiva de
    Dados.py` correlates features before fitting).

    Exactness: ties use the textbook average rank, carried as the
    DOUBLED rank 2*r_min + ties - 1 so it stays an exact BIGINT; the
    correlation is Pearson over doubled ranks from exact integer
    moment sums (n*Sxy - Sx*Sy etc.), with ONE final
    num / (sqrt(denx) * sqrt(deny)) in double — the same expression
    shape in both engines — floor-quantized to micro-units.

    Scale shape: the spend aggregate, the customer join, and the two
    rank join-backs are the only data-sized shuffles; ranks come from
    per-(nation, value) COUNTS via a per-nation ``prefix_sums`` (a
    per-nation rank window would sort a whole nation's customers in
    ONE task), and the moment aggregate reduces each nation to one
    row before the driver-free final projection.  denx/deny = 0
    (constant column) yields NULL via nullif, not a crash.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    spend = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("spend_c")
    )
    # fed by two per-value count aggregates and the final rank
    # join-back — pin it so the join pipeline runs once
    base = (
        c.join(spend, c["c_custkey"] == spend["o_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            cents(F.col("c_acctbal")).alias("bal_c"),
            "spend_c",
        )
    ).localCheckpoint(eager=True)

    def doubled_ranks(col: str, out: str) -> DataFrame:
        """Per-(nation, value) DOUBLED average rank from counts alone:
        with less = #rows strictly below v and eq = #rows at v inside
        the nation, 2*rank_min + ties - 1 == 2*less + eq + 1.  The
        cumulative count is a per-nation ``prefix_sums``, so no task
        ever sorts a whole nation."""
        cnt = base.groupBy("n_name", col).agg(
            F.count(F.lit(1)).alias("_c")
        )
        cum, _ = prefix_sums(
            cnt, [F.asc(col)], {"_cum": F.col("_c")}, by=["n_name"]
        )
        less = F.col("_cum") - F.col("_c")
        return cum.select(
            "n_name",
            col,
            (F.lit(2) * less + F.col("_c") + F.lit(1))
            .cast("long")
            .alias(out),
        )

    ranked = (
        base.join(doubled_ranks("bal_c", "dx"), ["n_name", "bal_c"])
        .join(doubled_ranks("spend_c", "dy"), ["n_name", "spend_c"])
        .select("n_name", "dx", "dy")
    )
    agg = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "long"
    )
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "long"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "long"
    )
    rho_micro = F.floor(
        num.cast("double")
        / F.nullif(
            F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double")),
            F.lit(0.0),
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return agg.select(
        "n_name",
        "n",
        num.alias("num"),
        denx.alias("denx"),
        deny.alias("deny"),
        rho_micro.alias("rho_micro"),
    )


ORACLE_SPEARMAN = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS spend_c
  FROM orders GROUP BY 1
), base AS (
  SELECT n.n_name,
         CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
         s.spend_c
  FROM customer c
  JOIN spend s ON c.c_custkey = s.o_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
), ranked AS (
  SELECT n_name,
         CAST(2 * RANK() OVER (PARTITION BY n_name ORDER BY bal_c)
              + COUNT(*) OVER (PARTITION BY n_name, bal_c) - 1
              AS BIGINT) AS dx,
         CAST(2 * RANK() OVER (PARTITION BY n_name ORDER BY spend_c)
              + COUNT(*) OVER (PARTITION BY n_name, spend_c) - 1
              AS BIGINT) AS dy
  FROM base
), agg AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM ranked GROUP BY 1
)
SELECT n_name, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS num,
       CAST(n * sxx - sx * sx AS BIGINT) AS denx,
       CAST(n * syy - sy * sy AS BIGINT) AS deny,
       CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                  / NULLIF(SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                           * SQRT(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
                  * 1e6 + 0.5) AS BIGINT) AS rho_micro
FROM agg
"""


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (period-12 additive, integer 24ths)
# ---------------------------------------------------------------------------

def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of each nation's
    monthly revenue (period 12): centered 2x12 moving-average trend,
    month-of-year seasonal indexes centered to sum ~0, exact residual
    — the deterministic restatement of what Prophet's
    `yearly_seasonality=True` fits in the reference
    (`Modelo de Previsão de Vendas.py:70-73`).

    Exactness: revenue is integer cents on a ZERO-FILLED month spine
    (gap months are real zeros, not missing rows), the 2x12 MA is
    carried as the exact integer trend24 = x[t-6] + 2*(x[t-5..t+5])
    + x[t+6] (24ths of a cent), the detrended series 24*x - trend24
    is exact, and the only divisions (seasonal index = mean of
    detrended per month-of-year; the centering mean of the 12
    indexes) are single double divisions of exact integers,
    floor-quantized to integer micro-cents so the residual is an
    exact integer subtraction in both engines.

    Scale shape: ONE data-sized aggregate to (nation, month) — then
    the spine, windows, and seasonal indexes all run over the
    calendar-sized relation (K nations x M months), with windows
    partitioned per nation.  The spine is built from a 1-row min/max
    aggregate cross-joined (broadcast) against the dim-sized nation
    list — no data-sized shuffle below the first aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o["o_custkey"] == c["c_custkey"],
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("t"),
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_c"))
        # calendar-sized; the span aggregate and the spine join both
        # read it — checkpoint so the orders join+aggregate runs once
        .localCheckpoint(eager=True)
    )
    span = monthly.agg(
        F.min("t").alias("t_min"), F.max("t").alias("t_max")
    )
    spine = (
        n.select("n_name")
        .join(F.broadcast(span))
        .select(
            "n_name",
            F.explode(F.sequence("t_min", "t_max")).alias("t"),
        )
    )
    # monthly is calendar-sized (K nations x M months) by construction,
    # so broadcasting it is right at ANY data scale (theil_sen rule)
    series = spine.join(F.broadcast(monthly), ["n_name", "t"], "left").select(
        "n_name", "t", F.coalesce("rev_c", F.lit(0)).alias("rev_c")
    )
    w_ord = Window.partitionBy("n_name").orderBy("t")
    w_11 = w_ord.rowsBetween(-5, 5)
    inner = F.sum("rev_c").over(w_11)
    edge_lo = F.lag("rev_c", 6).over(w_ord)
    edge_hi = F.lead("rev_c", 6).over(w_ord)
    trend24 = F.when(
        edge_lo.isNotNull() & edge_hi.isNotNull(),
        F.lit(2) * inner + edge_lo + edge_hi,
    ).cast("long")
    detr = series.select(
        "n_name",
        "t",
        "rev_c",
        trend24.alias("trend24"),
        (F.lit(24) * F.col("rev_c") - trend24).alias("detr24"),
    )
    w_moy = Window.partitionBy("n_name", F.col("t") % 12)
    idx_micro = F.floor(
        F.sum("detr24").over(w_moy).cast("double")
        / (F.count("detr24").over(w_moy) * F.lit(24)).cast("double")
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    w_nat = Window.partitionBy("n_name")
    with_idx = detr.select("*", idx_micro.alias("idx_micro"))
    # centering: subtract the mean of each nation's 12 DISTINCT indexes
    # (every moy group shares one idx_micro, so avg-of-distinct == the
    # textbook mean of the 12 indexes; carried as sum/12 over one row
    # per moy, restated the same way in the oracle)
    moy_one = F.when(
        F.row_number().over(
            Window.partitionBy("n_name", F.col("t") % 12).orderBy("t")
        )
        == 1,
        F.col("idx_micro"),
    )
    centering = F.floor(
        F.sum(moy_one).over(w_nat).cast("double")
        / F.count(moy_one).over(w_nat).cast("double")
        + F.lit(0.5)
    ).cast("long")
    seasonal = (F.col("idx_micro") - centering).cast("long")
    resid = F.when(
        F.col("trend24").isNotNull(),
        F.lit(1000000) * F.col("rev_c")
        - F.floor(
            F.col("trend24").cast("double") / F.lit(24.0) * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        - seasonal,
    ).cast("long")
    return with_idx.select(
        "n_name",
        "t",
        "rev_c",
        "trend24",
        seasonal.alias("seasonal_micro"),
        resid.alias("residual_micro"),
    )


ORACLE_SEASONAL = """
WITH monthly AS (
  SELECT n.n_name,
         CAST(YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) AS BIGINT)
           AS t,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), span AS (
  SELECT MIN(t) AS t_min, MAX(t) AS t_max FROM monthly
), spine AS (
  SELECT n.n_name, CAST(gs.g AS BIGINT) AS t
  FROM nation n
  CROSS JOIN span s
  CROSS JOIN LATERAL (
    SELECT UNNEST(generate_series(s.t_min, s.t_max)) AS g
  ) gs
), series AS (
  SELECT sp.n_name, sp.t, COALESCE(m.rev_c, 0) AS rev_c
  FROM spine sp LEFT JOIN monthly m
    ON sp.n_name = m.n_name AND sp.t = m.t
), detr AS (
  SELECT n_name, t, rev_c,
         CASE WHEN LAG(rev_c, 6) OVER w IS NOT NULL
               AND LEAD(rev_c, 6) OVER w IS NOT NULL
              THEN 2 * SUM(rev_c) OVER (PARTITION BY n_name ORDER BY t
                              ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
                   + LAG(rev_c, 6) OVER w + LEAD(rev_c, 6) OVER w
         END AS trend24
  FROM series
  WINDOW w AS (PARTITION BY n_name ORDER BY t)
), detr2 AS (
  SELECT *, 24 * rev_c - trend24 AS detr24 FROM detr
), with_idx AS (
  SELECT *,
         CAST(FLOOR(CAST(SUM(detr24) OVER m AS DOUBLE)
                    / CAST(COUNT(detr24) OVER m * 24 AS DOUBLE)
                    * 1e6 + 0.5) AS BIGINT) AS idx_micro,
         ROW_NUMBER() OVER (PARTITION BY n_name, t % 12 ORDER BY t)
           AS moy_rn
  FROM detr2
  WINDOW m AS (PARTITION BY n_name, t % 12)
), centered AS (
  SELECT *,
         CAST(FLOOR(
           CAST(SUM(CASE WHEN moy_rn = 1 THEN idx_micro END)
                OVER (PARTITION BY n_name) AS DOUBLE)
           / CAST(COUNT(CASE WHEN moy_rn = 1 THEN idx_micro END)
                  OVER (PARTITION BY n_name) AS DOUBLE)
           + 0.5) AS BIGINT) AS centering
  FROM with_idx
)
SELECT n_name, t, rev_c,
       CAST(trend24 AS BIGINT) AS trend24,
       CAST(idx_micro - centering AS BIGINT) AS seasonal_micro,
       CAST(CASE WHEN trend24 IS NOT NULL
                 THEN 1000000 * rev_c
                      - CAST(FLOOR(CAST(trend24 AS DOUBLE) / 24.0 * 1e6
                                   + 0.5) AS BIGINT)
                      - (idx_micro - centering)
            END AS BIGINT) AS residual_micro
FROM centered
"""


# ---------------------------------------------------------------------------
# Revenue-concentration measures: Gini coefficient + Herfindahl index
# ---------------------------------------------------------------------------

def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer-spend concentration per market
    segment — the inequality measure behind the reference's Pareto/ABC
    revenue report (`Base de Produtos Mais Vendidos.py` ranks by
    cumulative revenue share; Gini is that curve's summary number).

    Gini = (2*W - (n+1)*S) / (n*S) with W = sum(i * x_i) over spends
    sorted ascending.  W is invariant under tie order (the sum of
    positions across a tied block is fixed), so row_number ties cannot
    flip the result.  W and S accumulate as DECIMAL(38,0) — BIGINT
    would overflow around 1e18, which a 100 TB corpus's rank-weighted
    sum exceeds — and the single final division is quantized to
    integer micro-units.

    Scale shape: one data-sized aggregate to per-customer spend, then
    per-segment positions from ``prefix_sums`` (a per-segment window
    would sort a whole segment's customers in ONE task), one moment
    aggregate per segment.  The positions are a valid ascending
    enumeration (tied blocks still occupy consecutive positions, and
    W is tie-order invariant), so the statistic is bit-identical.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("spend_c")
    )
    base = c.join(spend, c["c_custkey"] == spend["o_custkey"]).select(
        "c_mktsegment", "spend_c"
    )
    pos, _ = prefix_sums(
        base, [F.asc("spend_c")], {"_pos": F.lit(1)}, by=["c_mktsegment"]
    )
    ranked = pos.select(
        "c_mktsegment",
        "spend_c",
        (
            F.col("_pos").cast("decimal(38,0)")
            * F.col("spend_c").cast("decimal(38,0)")
        ).alias("iw"),
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("spend_c").cast("decimal(38,0)")).alias("s"),
        F.sum("iw").alias("w"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("w")
        - (F.col("n") + 1).cast("decimal(38,0)") * F.col("s")
    ).cast("double")
    den = (F.col("n").cast("double") * F.col("s").cast("double"))
    gini_micro = F.floor(num / den * F.lit(1e6) + F.lit(0.5)).cast("long")
    return agg.select(
        "c_mktsegment",
        "n",
        F.col("s").cast("double").alias("total_spend_c"),
        gini_micro.alias("gini_micro"),
    )


ORACLE_GINI = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS spend_c
  FROM orders GROUP BY 1
), base AS (
  SELECT c.c_mktsegment, s.spend_c
  FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey
), ranked AS (
  SELECT c_mktsegment, spend_c,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                 ORDER BY spend_c) AS HUGEINT)
           * CAST(spend_c AS HUGEINT) AS iw
  FROM base
), agg AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(spend_c AS HUGEINT)) AS s, SUM(iw) AS w
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment, n,
       CAST(s AS DOUBLE) AS total_spend_c,
       CAST(FLOOR(CAST(2 * w - (n + 1) * s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
                  * 1e6 + 0.5) AS BIGINT) AS gini_micro
FROM agg
"""


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of revenue concentration per market
    segment: HHI = sum over customers of (share_i)^2 = sum(x_i^2) /
    S^2 — the antitrust-style companion to `gini_concentration`
    (1/n = perfectly even, 1 = single-customer segment).

    Exactness: x^2 and S accumulate as DECIMAL(38,0) (x^2 alone
    overflows BIGINT once per-customer spend passes ~3e9 cents);
    the single S^2 division runs in double with the identical
    expression shape on both engines and is quantized to micro-units.

    Scale shape: the same two aggregates as the Gini — no rank window
    at all, so this one is pure map-side-combined groupBys.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("spend_c")
    )
    base = c.join(spend, c["c_custkey"] == spend["o_custkey"]).select(
        "c_mktsegment", "spend_c"
    )
    dec = F.col("spend_c").cast("decimal(38,0)")
    agg = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("ssq"),
    )
    hhi_micro = F.floor(
        F.col("ssq").cast("double")
        / (F.col("s").cast("double") * F.col("s").cast("double"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return agg.select(
        "c_mktsegment",
        "n",
        F.col("s").cast("double").alias("total_spend_c"),
        hhi_micro.alias("hhi_micro"),
    )


ORACLE_HHI = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS spend_c
  FROM orders GROUP BY 1
), base AS (
  SELECT c.c_mktsegment, s.spend_c
  FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey
), agg AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(spend_c AS HUGEINT)) AS s,
         SUM(CAST(spend_c AS HUGEINT) * CAST(spend_c AS HUGEINT)) AS ssq
  FROM base GROUP BY 1
)
SELECT c_mktsegment, n,
       CAST(s AS DOUBLE) AS total_spend_c,
       CAST(FLOOR(CAST(ssq AS DOUBLE)
                  / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  * 1e6 + 0.5) AS BIGINT) AS hhi_micro
FROM agg
"""


# ---------------------------------------------------------------------------
# Population Stability Index (distribution drift between periods)
# ---------------------------------------------------------------------------

PSI_BUCKETS = 10
PSI_SPLIT_YEAR = 1998  # reference period < split, current period >= split


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution
    between the reference period (orders before PSI_SPLIT_YEAR) and
    the current period — the standard ML-monitoring drift score for a
    feature feeding the forecast family (PSI < 0.1 stable, > 0.25
    shifted).

    Buckets are PSI_BUCKETS equal-width cuts of the REFERENCE
    period's [min, max] cent range (computed by a 1-row aggregate,
    broadcast); out-of-range current values clamp into the edge
    buckets, and the conventional Laplace floor (count 0 -> 1)
    keeps ln() finite without dropping buckets.  Each bucket's term
    (a/A - b/B) * ln((a*B)/(b*A)) is ONE double expression over exact
    integers, floor-quantized to micro-units BEFORE the cross-bucket
    total, so the statistic sums exactly in both engines.

    Scale shape: one data-sized aggregate to (bucket, period) counts
    (map-side combined, at most 2*PSI_BUCKETS output rows); everything
    below is bucket-sized.  The min/max pass is a second data scan —
    two scans total, no data-sized shuffle or join.
    """
    o = load_table(spark, sf_dir, "orders")
    val = cents(F.col("o_totalprice"))
    is_ref = F.year("o_orderdate") < F.lit(PSI_SPLIT_YEAR)
    rng = (
        o.filter(is_ref)
        .agg(
            F.min(val).alias("lo"),
            (F.max(val) + 1).alias("hi"),  # half-open top edge
        )
    )
    bucket = F.least(
        F.lit(PSI_BUCKETS - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (val - F.col("lo")).cast("double")
                / (F.col("hi") - F.col("lo")).cast("double")
                * F.lit(PSI_BUCKETS)
            ).cast("int"),
        ),
    )
    counts = (
        o.join(F.broadcast(rng))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.sum(F.when(is_ref, 1).otherwise(0)).alias("a_raw"),
            F.sum(F.when(is_ref, 0).otherwise(1)).alias("b_raw"),
        )
    )
    a = F.greatest(F.col("a_raw"), F.lit(1))
    b = F.greatest(F.col("b_raw"), F.lit(1))
    w_all = Window.partitionBy()
    with_tot = counts.select(
        "bucket",
        "a_raw",
        "b_raw",
        a.alias("a"),
        b.alias("b"),
        F.sum(a).over(w_all).alias("ta"),
        F.sum(b).over(w_all).alias("tb"),
    )
    term = (
        F.col("a").cast("double") / F.col("ta").cast("double")
        - F.col("b").cast("double") / F.col("tb").cast("double")
    ) * F.log(
        (F.col("a") * F.col("tb")).cast("double")
        / (F.col("b") * F.col("ta")).cast("double")
    )
    term_micro = F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("long")
    return with_tot.select(
        "bucket",
        "a_raw",
        "b_raw",
        term_micro.alias("term_micro"),
    ).select(
        "*", F.sum("term_micro").over(w_all).alias("psi_micro")
    )


ORACLE_PSI = f"""
WITH rng AS (
  SELECT MIN(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS lo,
         MAX(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) + 1 AS hi
  FROM orders WHERE YEAR(o_orderdate) < {PSI_SPLIT_YEAR}
), counts AS (
  SELECT LEAST({PSI_BUCKETS} - 1, GREATEST(0, CAST(FLOOR(
           CAST(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) - r.lo
                AS DOUBLE)
           / CAST(r.hi - r.lo AS DOUBLE) * {PSI_BUCKETS}) AS INT)))
           AS bucket,
         CAST(SUM(CASE WHEN YEAR(o.o_orderdate) < {PSI_SPLIT_YEAR}
                       THEN 1 ELSE 0 END) AS BIGINT) AS a_raw,
         CAST(SUM(CASE WHEN YEAR(o.o_orderdate) < {PSI_SPLIT_YEAR}
                       THEN 0 ELSE 1 END) AS BIGINT) AS b_raw
  FROM orders o CROSS JOIN rng r
  GROUP BY 1
), with_tot AS (
  SELECT bucket, a_raw, b_raw,
         GREATEST(a_raw, 1) AS a, GREATEST(b_raw, 1) AS b,
         CAST(SUM(GREATEST(a_raw, 1)) OVER () AS BIGINT) AS ta,
         CAST(SUM(GREATEST(b_raw, 1)) OVER () AS BIGINT) AS tb
  FROM counts
), terms AS (
  SELECT bucket, a_raw, b_raw,
         CAST(FLOOR((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)
                     - CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
                    * LN(CAST(a * tb AS DOUBLE)
                         / CAST(b * ta AS DOUBLE))
                    * 1e6 + 0.5) AS BIGINT) AS term_micro
  FROM with_tot
)
SELECT bucket, a_raw, b_raw, term_micro,
       CAST(SUM(term_micro) OVER () AS BIGINT) AS psi_micro
FROM terms
"""


def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC at corpus scale — the evaluation metric
    a quality-classifier pipeline reports (here: document length as a
    predictor of lang='en', the same fixed probe every stats query
    uses so the oracle stays self-contained).

    AUC = P(score_pos > score_neg) + ½·P(tie), computed exactly from
    per-distinct-score class counts: for each score value v with p
    positives, g negatives, and G = negatives strictly below v,
    doubled pair hits are p·(2G + g) — an exact integer, so the
    whole statistic is one integer sum and ONE final division
    (doubled-units trick shared with mann_whitney, which this relates
    to via AUC = U/(n₊·n₋)).

    Scale shape: one hash aggregate to the distinct-score relation
    (bounded by score cardinality, not corpus size), then the
    two-phase global cumsum of negatives (``prefix_sums`` — no
    single-task sort), then a scalar fold.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_v = (
        docs.select(
            F.col("n_chars").alias("v"),
            (F.col("lang") == "en").cast("int").alias("pos"),
        )
        .groupBy("v")
        .agg(
            F.sum("pos").alias("p"),
            F.sum(1 - F.col("pos")).alias("g"),
        )
    )
    cum, _ = prefix_sums(per_v, [F.asc("v")], {"cg": F.col("g")})
    hits2 = F.col("p") * (2 * (F.col("cg") - F.col("g")) + F.col("g"))
    agg = cum.agg(
        F.sum("p").alias("n_pos"),
        F.sum("g").alias("n_neg"),
        F.sum(hits2).alias("hits2"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.floor(
            F.col("hits2").cast("double")
            / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
            * 1e6
            + F.lit(0.5)
        )
        / 1e6,
    )
    return agg.select("n_pos", "n_neg", "hits2", auc.alias("auc"))


ORACLE_AUC_ROC = """
WITH per_v AS (
  SELECT n_chars AS v,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS g
  FROM documents GROUP BY 1
), cum AS (
  SELECT v, p, g,
         SUM(g) OVER (ORDER BY v ASC ROWS UNBOUNDED PRECEDING) AS cg
  FROM per_v
), agg AS (
  SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(g) AS BIGINT) AS n_neg,
         CAST(SUM(p * (2 * (cg - g) + g)) AS BIGINT) AS hits2
  FROM cum
)
SELECT n_pos, n_neg, hits2,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         FLOOR(CAST(hits2 AS DOUBLE)
               / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
               * 1e6 + 0.5) / 1e6
       END AS auc
FROM agg
"""


QUERIES = {
    "auc_roc": q_auc_roc,
    "attribution_last_touch": q_attribution_last_touch,
    "duplicate_payments": q_duplicate_payments,
    "cohort_ltv": q_cohort_ltv,
    "gini_concentration": q_gini_concentration,
    "walk_forward_split": q_walk_forward_split,
    "mad_outliers": q_mad_outliers,
    "hhi_concentration": q_hhi_concentration,
    "psi_drift": q_psi_drift,
    "chi_square_independence": q_chi_square_independence,
    "spearman_corr": q_spearman_corr,
    "seasonal_decompose": q_seasonal_decompose,
    "ks_segments": q_ks_segments,
    "ewma_revenue": q_ewma_revenue,
    "theil_sen_trend": q_theil_sen_trend,
    "mann_whitney": q_mann_whitney,
}

ORACLES = {
    "auc_roc": ORACLE_AUC_ROC,
    "attribution_last_touch": ORACLE_ATTRIBUTION,
    "gini_concentration": ORACLE_GINI,
    "walk_forward_split": ORACLE_WALK_FORWARD,
    "mad_outliers": ORACLE_MAD_OUTLIERS,
    "hhi_concentration": ORACLE_HHI,
    "psi_drift": ORACLE_PSI,
    "chi_square_independence": ORACLE_CHI_SQUARE,
    "spearman_corr": ORACLE_SPEARMAN,
    "seasonal_decompose": ORACLE_SEASONAL,
    "ks_segments": ORACLE_KS,
    "ewma_revenue": ORACLE_EWMA,
    "theil_sen_trend": ORACLE_THEIL_SEN,
    "mann_whitney": ORACLE_MANN_WHITNEY,
    "duplicate_payments": ORACLE_DUPLICATE_PAYMENTS,
    "cohort_ltv": ORACLE_COHORT_LTV,
}
