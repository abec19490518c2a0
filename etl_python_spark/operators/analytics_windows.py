"""Calendar, window-counter, custom-sort, scoring and as-of operators
(SURVEY.md §2.5 W8, §2.6 O3, §2.4 A4/A12, §2.7 case-ladders, §2.3 J6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.dates import (
    MONTH_NAMES_PT,
    is_business_day,
    month_name_pt,
    week_of_month,
)
from ..functions.numeric import dsum
from ..functions.prefix import ntile, prefix_sums
from ..sources.tables import load_table


# ---------------------------------------------------------------------------
# Calendar dimension + W8 running business-day counter
# (ref: Algoritmo de Estruturação de Dados.py:309-476 — generated date
#  spine with pt-BR attributes and per-year business-day ordinal)
# ---------------------------------------------------------------------------

def calendar_dim(spark: SparkSession, start: str, end: str) -> DataFrame:
    """Date spine via sequence+explode (pure Catalyst UDTF equivalent)
    with pt-BR attributes and the running business-day counter."""
    spine = spark.sql(
        f"SELECT explode(sequence(to_date('{start}'), to_date('{end}'), "
        "interval 1 day)) AS data"
    )
    is_bus = is_business_day("data")
    w_year = (
        Window.partitionBy(F.year("data"))
        .orderBy("data")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_month = (
        Window.partitionBy(F.year("data"), F.month("data"))
        .orderBy("data")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return spine.select(
        "data",
        F.year("data").alias("ano"),
        F.month("data").alias("mes"),
        F.dayofmonth("data").alias("dia"),
        F.quarter("data").alias("trimestre"),
        F.weekofyear("data").alias("semana_iso"),
        month_name_pt(F.col("data")).alias("nome_mes"),
        week_of_month("data").alias("semana_do_mes"),
        is_bus.cast("int").alias("dia_util"),
        F.sum(is_bus.cast("int")).over(w_year).alias("dia_util_ano"),
        F.sum(is_bus.cast("int")).over(w_month).alias("dia_util_mes"),
    )


def q_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return calendar_dim(spark, "1998-01-01", "1998-12-31")


_PT_CASE = " ".join(
    f"WHEN {i} THEN '{nm}'" for i, nm in enumerate(MONTH_NAMES_PT, start=1)
)

ORACLE_CALENDAR = f"""
WITH spine AS (
  SELECT unnest(generate_series(DATE '1998-01-01', DATE '1998-12-31', INTERVAL 1 DAY))::DATE AS data
)
SELECT data,
       year(data) AS ano,
       month(data) AS mes,
       day(data) AS dia,
       quarter(data) AS trimestre,
       CAST(weekofyear(data) AS INT) AS semana_iso,
       CASE month(data) {_PT_CASE} END AS nome_mes,
       CAST(ceil(day(data) / 7.0) AS INT) AS semana_do_mes,
       CASE WHEN dayofweek(data) BETWEEN 1 AND 5 THEN 1 ELSE 0 END AS dia_util,
       CAST(SUM(CASE WHEN dayofweek(data) BETWEEN 1 AND 5 THEN 1 ELSE 0 END)
         OVER (PARTITION BY year(data) ORDER BY data
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS dia_util_ano,
       CAST(SUM(CASE WHEN dayofweek(data) BETWEEN 1 AND 5 THEN 1 ELSE 0 END)
         OVER (PARTITION BY year(data), month(data) ORDER BY data
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS dia_util_mes
FROM spine
"""


# ---------------------------------------------------------------------------
# O3: custom FIELD() sort order via synthetic sort key
# (ref: Faturamento.sql:173-175; Pronta_Entrega_x_Showrooom.sql:133-149)
# ---------------------------------------------------------------------------

def q_custom_sort_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status summary with an explicit sort-key column pinning a
    custom order (O < P < F), the FIELD()/'ordem' idiom — the key is
    part of the result so the oracle validates it."""
    orders = load_table(spark, sf_dir, "orders")
    sort_key = (
        F.when(F.col("o_orderstatus") == "O", 1)
        .when(F.col("o_orderstatus") == "P", 2)
        .when(F.col("o_orderstatus") == "F", 3)
        .otherwise(9)
    )
    return (
        orders.groupBy("o_orderstatus")
        .agg(F.count("*").alias("pedidos"), dsum("o_totalprice").alias("faturamento"))
        .withColumn("ordem", sort_key)
        .orderBy("ordem")
    )


ORACLE_CUSTOM_SORT = """
SELECT o_orderstatus, COUNT(*) AS pedidos,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS faturamento,
       CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'P' THEN 2 WHEN 'F' THEN 3 ELSE 9 END AS ordem
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# A4: frequency table / value_counts  (ref: ETL - CRM.py:296-301)
# ---------------------------------------------------------------------------

def q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency table with % of total in ONE job: the total is a
    windowed sum over the (already tiny) aggregate, not a separate
    ``count()`` driver action that would re-scan the table per call."""
    part = load_table(spark, sf_dir, "part")
    w_all = Window.partitionBy()
    return (
        part.groupBy("p_type")
        .agg(F.count("*").alias("qtd"))
        .withColumn(
            "pct",
            F.round(
                F.col("qtd")
                / F.sum("qtd").over(w_all).cast("double")
                * 100.0,
                4,
            ),
        )
    )


ORACLE_VALUE_COUNTS = """
SELECT p_type, COUNT(*) AS qtd,
       ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM part) * 100.0, 4) AS pct
FROM part GROUP BY p_type
"""


# ---------------------------------------------------------------------------
# A12: churn-alert KPI with correlated scalar-subquery denominator
# (ref: vw_KPI_Alerta_Churn.sql:5-12) — expressed as join to a
# pre-aggregated base (Catalyst decorrelates either way)
# ---------------------------------------------------------------------------

def q_churn_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation churn %: customers with no order in the final year ÷
    nation customer base."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    active_1998 = (
        orders.filter(F.year("o_orderdate") >= 1998).select("o_custkey").distinct()
    )
    flagged = customer.join(
        active_1998, customer.c_custkey == active_1998.o_custkey, "left"
    ).select(
        "c_custkey", "c_nationkey", F.col("o_custkey").isNull().alias("churned")
    )
    return (
        flagged.join(F.broadcast(nation), flagged.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("base"),
            F.count(F.when(F.col("churned"), 1)).alias("inativos"),
        )
        .withColumn(
            "churn_pct",
            F.round(F.col("inativos") / F.col("base").cast("double") * 100.0, 4),
        )
    )


ORACLE_CHURN = """
SELECT n.n_name, COUNT(*) AS base,
       COUNT(CASE WHEN NOT EXISTS (
         SELECT 1 FROM orders o
         WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) >= 1998
       ) THEN 1 END) AS inativos,
       ROUND(CAST(COUNT(CASE WHEN NOT EXISTS (
         SELECT 1 FROM orders o
         WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) >= 1998
       ) THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 100.0, 4) AS churn_pct
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


# ---------------------------------------------------------------------------
# J6: as-of enrichment — last known daily rate on or before each order
# (ref: PTAX - Conversor de Moedas BACEN.py:71-120 — note value joined
#  to same-day FX quote, gaps forward-filled)
# ---------------------------------------------------------------------------

def asof_join_daily(
    fact: DataFrame,
    rates: DataFrame,
    fact_date,
    rate_date: str,
    rate_cols: list[str],
) -> DataFrame:
    """Scalable as-of join for a *small* daily dimension: forward-fill
    the dim onto a dense date spine (cost O(#days), driver-free), then
    broadcast equi-join on the exact date — the fact side never
    shuffles.  This is the 100 TB shape: as-of becomes an equi-join."""
    bounds = rates.agg(
        F.min(rate_date).alias("lo"), F.max(rate_date).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("data")
    )
    w = Window.orderBy("data").rowsBetween(Window.unboundedPreceding, 0)
    filled = (
        spine.join(rates, spine.data == rates[rate_date], "left")
        .select(
            "data",
            *[
                F.last(c, ignorenulls=True).over(w).alias(c)
                for c in rate_cols
            ],
        )
    )
    return fact.join(
        F.broadcast(filled), fact_date.cast("date") == filled.data, "left"
    ).drop("data")


def q_asof_rate_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1998 orders enriched with the last known daily 'rate' (mean
    lineitem discount per ship-date, standing in for the PTAX daily
    FX series — sparse days get the previous known value)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1998
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    rates = (
        lineitem.groupBy(F.col("l_shipdate").cast("date").alias("rate_date"))
        .agg(
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double")
                / F.count("l_discount"),
                6,
            ).alias("taxa")
        )
    )
    enriched = asof_join_daily(
        orders, rates, F.col("o_orderdate"), "rate_date", ["taxa"]
    )
    return enriched.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("data"),
        F.round("o_totalprice", 2).alias("valor"),
        "taxa",
        F.round(F.col("o_totalprice") * F.col("taxa"), 2).alias("valor_convertido"),
    )


ORACLE_ASOF = """
WITH rates AS (
  SELECT CAST(l_shipdate AS DATE) AS rate_date,
         ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount), 6) AS taxa
  FROM lineitem GROUP BY 1
)
SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS data,
       ROUND(o.o_totalprice, 2) AS valor,
       (SELECT r.taxa FROM rates r
        WHERE r.rate_date <= CAST(o.o_orderdate AS DATE)
        ORDER BY r.rate_date DESC LIMIT 1) AS taxa,
       ROUND(o.o_totalprice * (SELECT r.taxa FROM rates r
        WHERE r.rate_date <= CAST(o.o_orderdate AS DATE)
        ORDER BY r.rate_date DESC LIMIT 1), 2) AS valor_convertido
FROM orders o
WHERE year(o.o_orderdate) = 1998
"""


# ---------------------------------------------------------------------------
# §2.7 case-ladder scoring (ref: ETL - CRM.py:169-247 compute_priority)
# ---------------------------------------------------------------------------

def q_lead_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer priority score: declarative when() ladder over balance,
    segment and recent activity — the reference's iterative
    compute_priority() as a single expression."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    recent = (
        orders.filter(F.year("o_orderdate") >= 1998)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("pedidos_recentes"))
    )
    base = customer.join(
        recent, customer.c_custkey == recent.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("saldo"),
        F.coalesce("pedidos_recentes", F.lit(0)).alias("pedidos_recentes"),
    )
    score = (
        F.when(F.col("pedidos_recentes") >= 3, 100)
        .when((F.col("pedidos_recentes") >= 1) & (F.col("saldo") > 5000), 80)
        .when(F.col("pedidos_recentes") >= 1, 60)
        .when(F.col("saldo") > 5000, 40)
        .when(F.col("saldo") > 0, 20)
        .otherwise(0)
    )
    nivel = (
        F.when(score >= 80, "ALTA")
        .when(score >= 40, "MÉDIA")
        .otherwise("BAIXA")
    )
    return base.select(
        "c_custkey", "c_mktsegment", "saldo", "pedidos_recentes",
        score.alias("score"), nivel.alias("prioridade"),
    )


ORACLE_LEAD_SCORING = """
WITH recent AS (
  SELECT o_custkey, COUNT(*) AS pedidos_recentes FROM orders
  WHERE year(o_orderdate) >= 1998 GROUP BY 1
), base AS (
  SELECT c.c_custkey, c.c_mktsegment, ROUND(c.c_acctbal, 2) AS saldo,
         COALESCE(r.pedidos_recentes, 0) AS pedidos_recentes
  FROM customer c LEFT JOIN recent r ON c.c_custkey = r.o_custkey
), scored AS (
  SELECT *,
       CASE WHEN pedidos_recentes >= 3 THEN 100
            WHEN pedidos_recentes >= 1 AND saldo > 5000 THEN 80
            WHEN pedidos_recentes >= 1 THEN 60
            WHEN saldo > 5000 THEN 40
            WHEN saldo > 0 THEN 20
            ELSE 0 END AS score
  FROM base
)
SELECT c_custkey, c_mktsegment, saldo, pedidos_recentes, score,
       CASE WHEN score >= 80 THEN 'ALTA' WHEN score >= 40 THEN 'MÉDIA'
            ELSE 'BAIXA' END AS prioridade
FROM scored
"""


# ---------------------------------------------------------------------------
# De-Para substring-dictionary standardization
# (ref: De-Para Defeitos Telecontrol.py:29-55 — first matching term wins)
# ---------------------------------------------------------------------------

DEPARA = [
    ("ECONOMY", "LINHA ECONÔMICA"),
    ("STANDARD", "LINHA PADRÃO"),
    ("MEDIUM", "LINHA INTERMEDIÁRIA"),
    ("LARGE", "LINHA GRANDE"),
    ("SMALL", "LINHA COMPACTA"),
    ("PROMO", "LINHA PROMOCIONAL"),
]


def q_depara_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardize free-text p_type via ordered contains-dictionary —
    chained when(contains) with first-match-wins, 'NÃO MAPEADO'
    fallback."""
    part = load_table(spark, sf_dir, "part")
    expr = F.lit("NÃO MAPEADO")
    for term, label in reversed(DEPARA):
        expr = F.when(F.upper(F.col("p_type")).contains(term), F.lit(label)).otherwise(expr)
    return (
        part.select("p_partkey", "p_type", expr.alias("categoria"))
    )


_DEPARA_SQL = " ".join(
    f"WHEN upper(p_type) LIKE '%{t}%' THEN '{l}'" for t, l in DEPARA
)

ORACLE_DEPARA = f"""
SELECT p_partkey, p_type,
       CASE {_DEPARA_SQL} ELSE 'NÃO MAPEADO' END AS categoria
FROM part
"""


def q_cnpj_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CNPJ check-digit validation (§2.7 validation surface) over
    synthetic registrations derived from customer keys: a 12-digit
    base gets correct mod-11 check digits, then even keys corrupt the
    last digit — so the validator must separate the halves.  The
    validation itself is :func:`cnpj_check_digit_ok`, a pure codegen
    expression (ref semantics: cnpj_core.py:18-39)."""
    from ..functions.cleaning import cnpj_check_digit_ok

    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)

    def digit(src, i: int):
        return F.substring(src, i, 1).cast("int")

    def dv(src, weights):
        total = F.lit(0)
        for i, w in enumerate(weights):
            total = total + digit(src, i + 1) * F.lit(w)
        rem = total % 11
        return F.when(rem < 2, F.lit(0)).otherwise(F.lit(11) - rem)

    w1 = [5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]
    w2 = [6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]
    # staged projections keep each dv tree referencing a *column*, not
    # a re-inlined copy of the upstream expression — feeding nested
    # expressions through three weighted-sum layers otherwise builds a
    # multi-million-node tree (measured: ~50 s of analysis alone)
    b12 = cust.select(
        "c_custkey", F.lpad(F.col("c_custkey").cast("string"), 12, "1").alias("b12")
    )
    b13 = b12.select(
        "c_custkey",
        F.concat(F.col("b12"), dv(F.col("b12"), w1).cast("string")).alias("b13"),
    )
    dv2 = dv(F.col("b13"), w2)
    built = b13.select(
        "c_custkey",
        F.concat(
            F.col("b13"),
            F.when(F.col("c_custkey") % 2 == 1, dv2)
            .otherwise((dv2 + 1) % 10)
            .cast("string"),
        ).alias("cnpj"),
    )
    return built.select(
        "c_custkey",
        "cnpj",
        cnpj_check_digit_ok(F.col("cnpj")).alias("valido"),
    )


def _dk_dv(src: str, weights: list[int]) -> str:
    terms = " + ".join(
        f"CAST(substring({src}, {i + 1}, 1) AS INT) * {w}"
        for i, w in enumerate(weights)
    )
    return f"(CASE WHEN ({terms}) % 11 < 2 THEN 0 ELSE 11 - ({terms}) % 11 END)"


_W1 = [5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]
_W2 = [6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]

ORACLE_CNPJ = f"""
WITH base AS (
  SELECT c_custkey, lpad(CAST(c_custkey AS VARCHAR), 12, '1') AS b12
  FROM customer WHERE c_custkey <= 200
), with13 AS (
  SELECT c_custkey, b12 || CAST({_dk_dv('b12', _W1)} AS VARCHAR) AS b13 FROM base
), built AS (
  SELECT c_custkey,
         b13 || CAST(CASE WHEN c_custkey % 2 = 1
                          THEN {_dk_dv('b13', _W2)}
                          ELSE ({_dk_dv('b13', _W2)} + 1) % 10 END AS VARCHAR) AS cnpj
  FROM with13
)
SELECT c_custkey, cnpj,
       (length(cnpj) = 14
        AND cnpj <> repeat(substring(cnpj, 1, 1), 14)
        AND CAST(substring(cnpj, 13, 1) AS INT) = {_dk_dv('substring(cnpj, 1, 12)', _W1)}
        AND CAST(substring(cnpj, 14, 1) AS INT) = {_dk_dv('substring(cnpj, 1, 13)', _W2)}
       ) AS valido
FROM built
"""


def q_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles + exact median — window capabilities the
    reference's MySQL layer never had (SURVEY §2.5 note): customers
    ranked into revenue quartiles within their nation, with the
    nation's median revenue alongside.

    Scale shape: a per-nation window would sort each nation's whole
    customer-grain rollup in ONE task (25 nations = 25 reducers at
    any scale), so the in-nation position and n come from a
    per-nation ``prefix_sums`` and the quartile is the closed form
    ``ntile(position, n, 4)``.  The nation median is the same
    Percentile aggregate the window used (order-insensitive: it sorts
    its buffer at eval), grouped over the kernel's output and broadcast
    back.  The oracle keeps the plain windowed NTILE + median, proving
    the decomposition is identical."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("fat")
        )
    )
    pos, _ = prefix_sums(
        per_cust,
        [F.desc("fat"), F.asc("c_custkey")],
        {"_pos": F.lit(1)},
        by=["n_name"],
    )
    # exact median in integer cents, then one explicit half-up rounding:
    # rounding a median of doubles ties differently across engines
    cents = F.round(F.col("fat") * 100).cast("bigint")
    med = pos.groupBy("n_name").agg(
        (F.floor(F.median(cents) + 0.5) / 100).alias("mediana_nacao")
    )
    return (
        pos.withColumn("quartil", ntile(F.col("_pos"), F.col("_pos_total"), 4))
        .join(F.broadcast(med), "n_name")
        .select("n_name", "c_custkey", "fat", "quartil", "mediana_nacao")
    )


ORACLE_QUARTILES = """
WITH per_cust AS (
  SELECT n.n_name, c.c_custkey,
         ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS fat
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, c_custkey, fat,
       NTILE(4) OVER (PARTITION BY n_name ORDER BY fat DESC, c_custkey ASC) AS quartil,
       floor(median(CAST(round(fat * 100) AS BIGINT)) OVER (PARTITION BY n_name)
             + 0.5) / 100 AS mediana_nacao
FROM per_cust
"""


def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curva ABC (Pareto classification): rank parts by revenue and
    class them A/B/C at 80%/95% of cumulative revenue share — the
    standard Brazilian commercial prioritization report, and this
    repo's reference pattern for a GLOBAL cumulative sum at scale.

    A naive ``SUM() OVER (ORDER BY revenue)`` funnels the whole
    relation through ONE task; here the cumsum over (revenue desc,
    partkey) and the grand total come from the two-phase
    ``prefix_sums`` kernel.

    Class boundaries compare EXACT INTEGER cents (cum*100 <= total*80)
    — no float share crosses an engine boundary; the reported share
    is a display column, 4dp floor-quantized.  The oracle restates the
    plain global window (DuckDB's single node doesn't care), proving
    the two-phase decomposition computes the identical ranking."""
    from ..functions.numeric import cents

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(cents(F.col("l_extendedprice"))).alias("rev_c")
    )
    cum, totals = prefix_sums(
        rev, [F.desc("rev_c"), F.asc("l_partkey")], {"cum_c": F.col("rev_c")}
    )
    grand = totals[()]["cum_c"]
    abc = (
        F.when(F.col("cum_c") * 100 <= F.lit(grand) * 80, F.lit("A"))
        .when(F.col("cum_c") * 100 <= F.lit(grand) * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    share = F.floor(
        F.col("cum_c").cast("double") / F.lit(float(grand)) * 1e4 * 10000
        + F.lit(0.5)
    ) / 10000
    return cum.select(
        "l_partkey",
        "rev_c",
        "cum_c",
        share.alias("cum_share_bp"),
        abc.alias("abc_class"),
    )


def _oracle_pareto_abc() -> str:
    return """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT l_partkey, rev_c,
         SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey ASC
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
         SUM(rev_c) OVER () AS grand
  FROM rev
)
SELECT l_partkey,
       CAST(rev_c AS BIGINT) AS rev_c,
       CAST(cum_c AS BIGINT) AS cum_c,
       FLOOR(CAST(cum_c AS DOUBLE) / CAST(grand AS DOUBLE) * 1e4 * 10000
             + 0.5) / 10000 AS cum_share_bp,
       CASE WHEN cum_c * 100 <= grand * 80 THEN 'A'
            WHEN cum_c * 100 <= grand * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum
"""


ORACLE_PARETO_ABC = _oracle_pareto_abc()


QUERIES = {
    "pareto_abc": q_pareto_abc,
    "calendar_dim": q_calendar_dim,
    "cnpj_validate": q_cnpj_validate,
    "customer_quartiles": q_customer_quartiles,
    "custom_sort_field": q_custom_sort_field,
    "value_counts": q_value_counts,
    "churn_kpi": q_churn_kpi,
    "asof_rate_enrichment": q_asof_rate_enrichment,
    "lead_scoring": q_lead_scoring,
    "depara_standardize": q_depara_standardize,
}

ORACLES = {
    "pareto_abc": ORACLE_PARETO_ABC,
    "calendar_dim": ORACLE_CALENDAR,
    "cnpj_validate": ORACLE_CNPJ,
    "customer_quartiles": ORACLE_QUARTILES,
    "custom_sort_field": ORACLE_CUSTOM_SORT,
    "value_counts": ORACLE_VALUE_COUNTS,
    "churn_kpi": ORACLE_CHURN,
    "asof_rate_enrichment": ORACLE_ASOF,
    "lead_scoring": ORACLE_LEAD_SCORING,
    "depara_standardize": ORACLE_DEPARA,
}
