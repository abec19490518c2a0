"""Similarity search over the ``embeddings`` table (array<float>).

- brute-force cosine top-k: the exact baseline.  Query vectors are a
  tiny broadcast side; the big side streams once, per-partition local
  top-k is folded by AQE before the final take — no n×m materialized.
- LSH-bucketed top-k: the scale path — random-hyperplane signatures
  bucket the corpus so each query probes one bucket (plus neighbors),
  turning O(n) per query into O(n/2^bits).

Brute force, LSH, IVF and the IVF×PQ re-rank differ only in the
candidate pairs they generate; all end in the same exact refine step,
the rounded cosine :func:`_cos` ranked by :func:`_top_k`.  The recall
audits grade every method against one ground truth,
:func:`_exact_truth`.

Dot products run as JVM higher-order functions (``zip_with`` +
``aggregate``) over the arrays — vectorized columnar input, no Python.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table, spread

TOP_K = 5
N_QUERY = 10  # first N vec_ids serve as query set
LSH_BITS = 8


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cos(a: str, na: str, b: str, nb: str, dp: int = 4) -> Column:
    """Cosine of array columns ``a`` and ``b`` from their precomputed
    norm columns ``na`` and ``nb``, rounded to ``dp`` places; NULL when
    either norm is 0.  The one exact-cosine expression of this module;
    the DuckDB oracles restate it operation for operation (``_DK_COS``),
    and the rounding makes the engines agree to the last digit.

    Norms are a per-ROW property: callers evaluate them once per vector
    below the pair join, not once per candidate pair, so the per-pair
    work is a single dot fold."""
    return F.round(
        _dot(F.col(a), F.col(b)) / F.nullif(F.col(na) * F.col(nb), F.lit(0.0)),
        dp,
    )


def _top_k(scored: DataFrame) -> DataFrame:
    """The TOP_K rows per ``q_id`` of a (q_id, n_id, cosine, ...)
    relation, by cosine descending with the deterministic neighbor-id
    tie-break, plus their ``rank``; other columns pass through.  The
    exact refine step of brute force, LSH, IVF and the IVF×PQ
    re-rank."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


def _exact_top_k(emb: DataFrame, vec: str = "v") -> DataFrame:
    """Brute-force exact cosine top-k of the first N_QUERY vectors over
    the whole corpus: (q_id, n_id, cosine, rank).  The query side is
    broadcast (crossJoin of a 10-row dim) so the corpus is scanned
    exactly once."""
    queries = emb.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"),
        F.col(vec).alias("q_emb"),
        _norm(F.col(vec)).alias("q_nrm"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col(vec).alias("n_emb"),
        _norm(F.col(vec)).alias("n_nrm"),
    )
    cos = _cos("q_emb", "q_nrm", "n_emb", "n_nrm")
    return _top_k(
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cos.alias("cosine"))
    )


def _exact_truth(emb: DataFrame) -> DataFrame:
    """The recall audits' ground truth: the (q_id, n_id) pairs of
    :func:`_exact_top_k`, checkpointed — N_QUERY×TOP_K rows that every
    method's tp join and the n_exact count read."""
    return _exact_top_k(emb).select("q_id", "n_id").localCheckpoint(eager=True)


def _recall_table(label: str, methods, exact: DataFrame) -> DataFrame:
    """One row per (``label`` value, approximate top-k relation) in
    ``methods``: the true positives against ``exact``, its row count
    and their 4dp ratio."""
    ex_n = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    parts = []
    for value, approx in methods:
        tp = (
            approx.select("q_id", "n_id")
            .join(exact, ["q_id", "n_id"])
            .agg(F.count(F.lit(1)).alias("tp"))
        )
        parts.append(
            tp.crossJoin(ex_n).select(
                F.lit(value).alias(label),
                "tp",
                "n_exact",
                F.round(
                    F.col("tp") / F.nullif(F.col("n_exact"), F.lit(0)), 4
                ).alias("recall"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def _load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): the embeddings corpus spread across cores, with the
    float embedding widened to ``array<double>``."""
    return spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k neighbors for the first N_QUERY vectors
    (:func:`_exact_top_k` over the float embeddings; ``_dot`` and
    ``_norm`` widen each element to double)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    return _exact_top_k(emb, "embedding")


ORACLE_ANN_BRUTEFORCE = f"""
WITH queries AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERY}
), scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         ROUND(
           list_sum(list_transform(range(1, len(q.q_emb) + 1),
                    i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           / NULLIF(
               sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
             0.0), 4) AS cosine
  FROM embeddings e CROSS JOIN queries q
  WHERE q.q_id <> e.vec_id
), ranked AS (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


EMB_DIM = 64  # TESTDATA embedding width (TESTDATA.md)

# Deterministic random hyperplanes, generated once in Python and inlined
# as literals into BOTH the Spark expression and the oracle SQL — no
# per-row hashing at all (cheaper than hash-derived components) and
# engine-agnostic, so the LSH pipeline is fully value-oracled.
_hp_rng = __import__("random").Random(20240814)
LSH_PLANES = [
    [round(_hp_rng.uniform(-1.0, 1.0), 6) for _ in range(EMB_DIM)]
    for _ in range(LSH_BITS)
]


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k.

    Signature = sign pattern against LSH_BITS fixed random hyperplanes
    (module constants, broadcast by closure).  The dot is rounded to
    6dp before the sign test so the two engines' float fold orders
    cannot flip a boundary bit.  Corpus is bucketed once (hash shuffle
    on signature); each query probes only its own bucket.  Recall loss
    vs brute force is the documented trade; the exact variant above is
    the audit baseline."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")

    def signature(col):
        bits = [
            F.when(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            col,
                            F.array(*[F.lit(h) for h in LSH_PLANES[b]]),
                            lambda x, h: x.cast("double") * h,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                )
                > 0,
                F.lit(1),
            ).otherwise(F.lit(0))
            for b in range(LSH_BITS)
        ]
        sig = F.lit(0)
        for i, bit in enumerate(bits):
            sig = sig + F.shiftleft(bit, i)
        return sig

    # Norm evaluated once per row at tag time, not per candidate pair
    # (identical expression → bit-identical doubles; oracle untouched).
    tagged = emb.select(
        "vec_id",
        "embedding",
        signature(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    queries = tagged.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = tagged.join(F.broadcast(queries), "bucket").filter(
        F.col("q_id") != F.col("vec_id")
    )
    cos = _cos("q_emb", "q_nrm", "embedding", "nrm")
    return _top_k(
        cand.select("q_id", F.col("vec_id").alias("n_id"), cos.alias("cosine"))
    )


def _sql_lsh_sig(emb_col: str) -> str:
    """DuckDB twin of the Spark signature(): Σ 2^b over positive
    (6dp-rounded) hyperplane dots; plane literals printed with repr()
    so both engines parse the identical doubles."""
    terms = []
    for b in range(LSH_BITS):
        plane = "[" + ", ".join(repr(h) for h in LSH_PLANES[b]) + "]"
        terms.append(
            f"(CASE WHEN ROUND(list_sum(list_transform(range(1, {EMB_DIM} + 1), "
            f"i -> CAST({emb_col}[i] AS DOUBLE) * ({plane})[i])), 6) > 0 "
            f"THEN {1 << b} ELSE 0 END)"
        )
    return " + ".join(terms)


ORACLE_ANN_LSH = f"""
WITH tagged AS (
  SELECT vec_id, embedding, {_sql_lsh_sig('embedding')} AS bucket FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM tagged WHERE vec_id < {N_QUERY}
), cand AS (
  SELECT q.q_id, t.vec_id AS n_id, q.q_emb, t.embedding AS n_emb
  FROM tagged t JOIN queries q ON t.bucket = q.bucket
  WHERE q.q_id <> t.vec_id
), scored AS (
  SELECT q_id, n_id,
         ROUND(
           list_sum(list_transform(range(1, {EMB_DIM} + 1),
                    i -> CAST(q_emb[i] AS DOUBLE) * CAST(n_emb[i] AS DOUBLE)))
           / NULLIF(
               sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(n_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
             0.0), 4) AS cosine
  FROM cand
), ranked AS (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


N_CENTROIDS = 16
N_PROBE = 4


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is coarsely
    quantized to its nearest centroid once, queries probe only the
    N_PROBE nearest cells — per-query work drops from O(n) to
    O(n·probe/cells), and the cell id becomes the shuffle/partition
    key at scale (each cell's posting list is a co-located partition;
    a 100 TB corpus re-uses the assignment across every query batch).

    Centroids here are a deterministic sample (vec_ids 100..115) so
    the DuckDB oracle can restate the whole pipeline; production would
    fit them with k-means on a sample and broadcast exactly the same
    way.  Assignment cosine is rounded to 6dp before the argmax so the
    engines' float folds can't flip near-ties."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    # Norms are a per-ROW property: evaluated once per vector (and once
    # per centroid) below the pair joins, not per candidate pair — the
    # identical expression over the same values, so the doubles are
    # bit-identical and the oracle is untouched.
    #
    # The centroid sample (16 rows of model state) reads the UN-spread
    # scan: routing 16 rows through the CPU-spreading exchange only
    # added a shuffle stage to the model collect below and to the
    # broadcast build (same rows, same per-row expressions → the same
    # doubles either way).
    centroids = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + N_CENTROIDS)
    ).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_nrm"),
    )

    def cell_assign(side: DataFrame, id_col: str, emb_col: str, nrm_col: str, keep: int):
        cos6 = _cos(emb_col, nrm_col, "c_emb", "c_nrm", dp=6)
        w = Window.partitionBy(id_col).orderBy(F.desc("c_cos"), F.asc("c_id"))
        return (
            side.crossJoin(F.broadcast(centroids))
            .select(id_col, emb_col, nrm_col, "c_id", cos6.alias("c_cos"))
            .withColumn("c_rank", F.row_number().over(w))
            .filter(F.col("c_rank") <= keep)
            .drop("c_cos", "c_rank")
        )

    corpus = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        _norm(F.col("embedding")).alias("n_nrm"),
    )
    # Corpus-side cell assignment KEEPS the crossJoin + rank-window
    # form.  An argmax PROJECTION over collected centroid literals
    # (the cosine analogue of array_min over _cells) was landed mid-r16
    # to drop the window's n_id exchange, then REVERTED after clean
    # interleaved A/B (guide §1.1's "the ideal plan is usually slower
    # at first"): with build costs equalized (one-parse literal
    # argmax, unspread 16-row collect) the projection's EXECUTION
    # still ran ~2.6× the window form (min 1.27 s vs 0.48 s at sf0.1)
    # — the K inlined interpreted HOF folds per row cost more than the
    # 16×-row broadcast join + WindowGroupLimit-pruned rank they
    # replace, at every probe.  Values were bit-identical both ways
    # (oracle green at 3 SFs for both forms).  The 100 TB serve path
    # does NOT inline-assign the corpus per query either way — it reads
    # the materialized posting lists (materialize_ann_index /
    # _ivf_pq_index, which assign via array_min over _cells exactly
    # once at build time); this inline assignment is the
    # oracle-restatable single-query form.
    posting = cell_assign(corpus, "n_id", "n_emb", "n_nrm", keep=1)
    queries = emb.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_nrm"),
    )
    probes = cell_assign(queries, "q_id", "q_emb", "q_nrm", keep=N_PROBE)

    cand = posting.join(F.broadcast(probes), "c_id").filter(
        F.col("q_id") != F.col("n_id")
    )
    cos = _cos("q_emb", "q_nrm", "n_emb", "n_nrm")
    return _top_k(
        cand.select("q_id", "n_id", cos.alias("cosine")).dropDuplicates(
            ["q_id", "n_id"]
        )
    )


_DK_COS = """
           list_sum(list_transform(range(1, len({a}) + 1),
                    i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))
           / NULLIF(
               sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
             0.0)
"""

ORACLE_ANN_IVF = f"""
WITH centroids AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
  WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
), corpus_cells AS (
  SELECT n_id, c_id FROM (
    SELECT e.vec_id AS n_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND({_DK_COS.format(a='e.embedding', b='c.c_emb')}, 6) DESC,
                      c.c_id ASC) AS c_rank
    FROM embeddings e CROSS JOIN centroids c
  ) WHERE c_rank = 1
), probes AS (
  SELECT q_id, c_id FROM (
    SELECT q.vec_id AS q_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_DK_COS.format(a='q.embedding', b='c.c_emb')}, 6) DESC,
                      c.c_id ASC) AS c_rank
    FROM embeddings q CROSS JOIN centroids c
    WHERE q.vec_id < {N_QUERY}
  ) WHERE c_rank <= {N_PROBE}
), cand AS (
  SELECT DISTINCT p.q_id, cc.n_id
  FROM probes p JOIN corpus_cells cc ON p.c_id = cc.c_id
  WHERE p.q_id <> cc.n_id
), scored AS (
  SELECT cand.q_id, cand.n_id,
         ROUND({_DK_COS.format(a='q.embedding', b='n.embedding')}, 4) AS cosine
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.q_id
  JOIN embeddings n ON n.vec_id = cand.n_id
), ranked AS (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


KMEANS_K = 8
KMEANS_ITERS = 3


def _kmeans_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lloyd-fit input relation, materialized ONCE: the fit scans
    it KMEANS_ITERS+2 times (init collect, per-iteration mean jobs,
    final assignment) and without the checkpoint every one of those
    jobs would re-read and re-cast the parquet — a corpus-sized scan
    per iteration at lake scale.  Values are untouched (pure
    materialization), so the fit's oracle restatement is unaffected."""
    return _load_vectors(spark, sf_dir).localCheckpoint(eager=True)


def _kmeans_init(emb: DataFrame) -> list[list[float]]:
    """Deterministic init: the vectors of the K smallest vec_ids
    present, cluster id = rank (K×dim floats to the driver — the same
    kilobyte-sized round-trip every Lloyd's implementation does).
    Ranking present ids keeps K clusters when an id is missing.
    ``orderBy`` + ``limit`` plans as TakeOrderedAndProject: a
    per-partition top-K merged on the driver, with no exchange (guide
    §2.4)."""
    return [r.v for r in emb.orderBy("vec_id").limit(KMEANS_K).collect()]


def _dbl_sql(x) -> str:
    """Spark-SQL double literal that parses back to exactly ``x``:
    ``repr`` round-trips every finite double, and the three non-finite
    values are spelled as the string casts Spark accepts."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def _arr_lit_sql(vals) -> str:
    if vals and isinstance(vals[0], (list, tuple)):
        return "array(" + ",".join(_arr_lit_sql(v) for v in vals) + ")"
    return "array(" + ",".join(_dbl_sql(x) for x in vals) + ")"


def _arr_lit(vals) -> Column:
    """Constant (possibly nested) double-array literal built with ONE
    parser call instead of one py4j round-trip per element.

    Profiled at sf0.1 (r16): the element-wise ``F.array(*[F.lit(x)
    …])`` construction of the fit/serve literals dominated the Lloyd
    iteration wall-clock — ~2 s of DRIVER-side Python↔JVM chatter per
    iteration against ~0.5 s of actual execution — because every
    ``F.lit``/``F.array`` is a py4j round trip (the guide's §4 boundary
    tax, paid at plan-build time).  :func:`_dbl_sql` spells every
    double so that Spark's parser reads back the identical IEEE value
    (equality with the element-wise construction, NaN and ±Infinity
    included, is pinned by tests/test_similarity_kernels.py), so the
    plan is value-identical."""
    return F.expr(_arr_lit_sql(vals))


def _cells(vec: Column, book) -> Column:
    """The nearest-centroid kernel of the k-means / IVF / PQ family:
    ``vec``'s 6dp-rounded squared-L2 distance to every centroid of a
    constant ``book``, as an array of ``(d2, k)`` structs with ``k``
    the centroid's 0-based position.  Distances are rounded before any
    argmin or rank, so the engines' float fold orders cannot flip a
    near-tie.  Every caller reads the result one way:

    - nearest centroid: ``array_min(cells)`` — structs compare by
      ``(d2, k)``, so ties go to the lowest ``k``, as the oracles'
      ``ORDER BY d2, k`` windows break them;
    - the ``n`` nearest: ``slice(array_sort(cells), 1, n)``;
    - the runner-up: ``array_min(filter(cells, c -> c.k != best.k))``.

    ``book`` is a list of centroids, spelled as ONE nested array
    literal (:func:`_arr_lit`: one parser call, and a plan whose size
    does not grow with the book), or an array column — one subspace's
    book inside :func:`_pq_cells`' fold over the PQ codebook.  One
    compact higher-order fold, never K unrolled folds: at 16×16 the
    unrolled form spent 14 s warm per ``_pq_fit`` call on a 2,000-row
    corpus, all janino compile and optimizer time (round-11 profile)."""
    if not isinstance(book, Column):
        book = _arr_lit(book)
    return F.transform(
        book,
        lambda c, k: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("d2"),
            k.alias("k"),
        ),
    )


def _probe_cells(vec_col, centroids: list[list[float]], n_probe: int):
    """The ``n_probe`` nearest cells for one query vector as an array
    of :func:`_cells` ``(d2, k)`` structs, via array_sort + slice in
    ONE narrow projection — structs sort by (d2 asc, k asc), exactly
    the former per-query rank window's orderBy, so the selected cells
    are identical (including ties: lowest k wins, matching
    row_number's deterministic order).  Query side only — no q_id
    exchange, no sort, no rank window (guide §2.4); shared by
    :func:`_ivf_fitted_topk` and :func:`_ivf_pq_shortlist`, pinned by
    tests/test_probe_selection.py."""
    return F.slice(F.array_sort(_cells(vec_col, centroids)), 1, n_probe)


def _sql_micro_mean_spark(expr: str) -> str:
    """Order-independent 6dp Lloyd mean update as ONE Spark-SQL
    aggregate expression: quantize each value once to integer
    micro-units (``FLOOR(x·1e6 + 0.5)`` — exact when the inputs are
    already 6dp multiples, a single 6dp quantization otherwise), sum
    as exact integers, then one round-half-up integer division.  The
    sum is order-independent, so the mean is bit-identical across
    engines AND across Spark runs regardless of partition/AQE layout —
    the round-2 integer-cents rule applied to centroid updates.
    ``F.round(F.avg(x), 6)`` is NOT safe here: float sums in different
    orders land on opposite sides of a 6dp boundary (round-10 verdict:
    ``ivf_pq_search`` was hash-red and nondeterministic run-to-run
    from exactly that).

    The division is EXACT integer arithmetic in DECIMAL(38,0)
    (round-12 verdict item 5): ``floor(s/c + 1/2) == floor((2s+c) /
    (2c))``, and subtracting the non-negative remainder ``pmod(2s+c,
    2c)`` first makes the quotient exactly divisible — no double ever
    touches the sum, so the former ~2^53-micro-unit ulp caveat is
    gone; the quotient itself is a per-dimension mean in micro-units
    (small), so the final cast to double is exact.

    Emitted as text so a dim-wide mean update costs ONE parser call
    instead of dim×~10 py4j round trips (the r16 profile: 2 s of
    driver-side chatter per Lloyd iteration against 0.5 s of
    execution).  Restate with :func:`_sql_micro_mean`."""
    micro = f"CAST(FLOOR(({expr}) * 1000000.0D + 0.5D) AS DECIMAL(38,0))"
    num = f"(SUM({micro}) * 2 + CAST(COUNT(1) AS DECIMAL(38,0)))"
    den = "(CAST(COUNT(1) AS DECIMAL(38,0)) * 2)"
    return (
        f"(CAST(({num} - pmod({num}, {den})) / {den} AS DOUBLE)"
        f" / 1000000.0D)"
    )


def _mean_arr(arr: str, n: int) -> Column:
    """The Lloyd mean update of the ``n``-wide array column ``arr``:
    an array of ``n`` :func:`_sql_micro_mean_spark` cells built as ONE
    parsed expression, for one wide hash aggregate per iteration
    (:func:`_kmeans_fit`, :func:`_pq_fit`)."""
    return F.expr(
        "array("
        + ",".join(_sql_micro_mean_spark(f"{arr}[{i}]") for i in range(n))
        + ")"
    )


def _sql_micro_mean(expr: str) -> str:
    """DuckDB restatement of :func:`_sql_micro_mean_spark` — the same
    exact integer arithmetic, stated inline so it drops into any
    grouped SELECT.  HUGEINT is 128-bit, a superset of DECIMAL(38,0)'s
    range; DuckDB ``//`` truncates toward zero, so ``floor`` is
    recovered by subtracting 1 exactly when the truncated remainder is
    negative (den > 0, so that is the only inexact-negative case) — no
    double ever touches the sum, matching the Spark side bit-for-bit."""
    s = f"SUM(CAST(FLOOR(({expr}) * 1000000.0 + 0.5) AS HUGEINT))"
    num = f"(2 * {s} + COUNT(*))"
    den = "(2 * COUNT(*))"
    return (
        f"CAST(({num} // {den} - CASE WHEN ({num} % {den}) < 0 "
        f"THEN 1 ELSE 0 END) AS DOUBLE) / 1000000.0"
    )


def _kmeans_assign(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Squared-L2 argmin against the K current centroids, evaluated as
    broadcast literals inside one projection (no join, no shuffle for
    the small side): ``array_min`` over :func:`_cells`, so distances
    are rounded to 6dp before the argmin and the tie-break (lowest
    cluster id) is engine-agnostic.

    The nearest ``(d2, k)`` struct lands in its own projection, so
    ``cluster`` and ``dist2`` read the computed attribute instead of
    re-inlining the K-centroid fold per consumer."""
    return (
        emb.withColumn("_b", F.array_min(_cells(F.col("v"), centroids)))
        .withColumn("cluster", F.col("_b.k"))
        .withColumn("dist2", F.col("_b.d2"))
        .drop("_b")
    )


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE deterministic Lloyd assignment pass from the fixed init —
    per-cluster sizes and rounded inertia that DuckDB restates exactly
    (init centroids are raw data values, distances are rounded before
    the argmin, inertia sums 6dp-rounded terms).  Kept alongside the
    fully-oracled 3-iteration fit as the cheap single-pass probe."""
    emb = _kmeans_emb(spark, sf_dir)
    assigned = _kmeans_assign(emb, _kmeans_init(emb))
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum("dist2"), 4).alias("inertia"),
    )


ORACLE_KMEANS_ASSIGN = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c_id, v AS c
  FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {KMEANS_K})
), d AS (
  SELECT e.vec_id, c.c_id,
         ROUND(list_sum(list_transform(range(1, len(e.v) + 1),
               i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), 6) AS d2
  FROM emb e CROSS JOIN cent c
), best AS (
  SELECT vec_id, c_id, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_id ASC) AS rnk
  FROM d
)
SELECT CAST(c_id AS INT) AS cluster,
       COUNT(*) AS n_members,
       ROUND(SUM(d2), 4) AS inertia
FROM best WHERE rnk = 1
GROUP BY 1
"""


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column — the
    representative iterative algorithm (and the real fit for the IVF
    coarse quantizer).  Per iteration:

    - assignment: squared-L2 argmin against the K current centroids,
      evaluated as broadcast literals inside one projection (no join,
      no shuffle for the small side);
    - update: ONE wide hash aggregate keyed by cluster with dim
      :func:`_sql_micro_mean_spark` cells — partial aggregation map-side,
      one shuffle of K rows, then K×dim cells fold back to K
      centroid arrays on the driver (the same kilobyte-sized
      driver round-trip any Lloyd's implementation does per step).

    Deterministic throughout: init = first K vectors, distances
    rounded to 6dp before the argmin tie-break on cluster id, and the
    centroid mean updates computed with the order-independent integer
    micro-unit rule (:func:`_sql_micro_mean_spark`, round 11 — a 6dp-rounded
    float AVG can land on opposite sides of the rounding boundary as
    summation order shifts between engines or Spark runs), so the
    WHOLE 3-iteration fit carries a full DuckDB value oracle
    (generated per-iteration CTEs, empty-cluster keep-previous
    fallback included) instead of a rows-only check."""
    emb = _kmeans_emb(spark, sf_dir)
    final = _kmeans_assign(emb, _kmeans_fit(emb))
    return final.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum("dist2"), 4).alias("inertia"),
    )


def _kmeans_fit(emb: DataFrame) -> list[list[float]]:
    """KMEANS_ITERS rounds of Lloyd's from the fixed init (see
    :func:`q_kmeans_embeddings` for the distributed shape and the
    determinism contract).  Returns the final K centroids — the coarse
    quantizer both the cluster report and the fitted IVF index share.

    The mean step is ONE wide hash aggregate — :func:`_mean_arr`'s dim
    cells keyed by cluster — instead of the earlier ``posexplode`` →
    (cluster, pos) aggregate → (cluster) ``collect_list`` re-aggregate:
    the same exact integer arithmetic per (cluster, dim) cell (so every
    centroid double is bit-identical and the oracle CTEs are untouched),
    but one corpus-row-count shuffle input instead of corpus×dim
    exploded rows, one Exchange per iteration instead of two, and the
    whole update stays in whole-stage codegen (guide §2.3 "aggregate
    before you shuffle" — the partial aggregation now combines dim
    cells per row map-side).  Measured at sf0.1: Lloyd iteration
    2.0 s → 0.6 s (single-pass)."""
    centroids = _kmeans_init(emb)
    mean_arr = _mean_arr("v", len(centroids[0])).alias("c")
    for _ in range(KMEANS_ITERS):
        assigned = _kmeans_assign(emb, centroids)
        means = assigned.groupBy("cluster").agg(mean_arr).collect()
        new_centroids = {r["cluster"]: list(r["c"]) for r in means}
        centroids = [new_centroids.get(i, c) for i, c in enumerate(centroids)]
    return centroids


def q_ann_ivf_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a REAL coarse quantizer: the k-means centroids from
    :func:`_kmeans_fit` (not a vec_id sample like :func:`q_ann_ivf`)
    become the IVF cells — fit → broadcast centroid literals →
    squared-L2 posting lists → probe the N_PROBE nearest cells → exact
    cosine top-k among candidates.  This is the composition a 100 TB
    deployment runs: the fit's K×dim result is driver-side kilobytes,
    the corpus assignment is ONE projection (argmin over centroid
    literals — no join, no shuffle), and the posting-list cell id is
    the partition key every query batch reuses.

    Every candidate pair appears at most once (each corpus vector
    lives in exactly one cell), so no dedup step is needed.  Fully
    value-oracled: the oracle restates the 3-iteration fit CTEs the
    kmeans oracle already carries, then the same posting/probe/rank
    pipeline."""
    emb = _kmeans_emb(spark, sf_dir)
    centroids = _kmeans_fit(emb)
    return _ivf_fitted_topk(emb, centroids, N_PROBE)


def _posting_assign(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """The fitted posting-list relation (corpus argmin over the
    centroid literals + per-row norm) — split out so sweep callers can
    compute it once and share it across probe counts."""
    # Norms evaluated once per row here, not per candidate pair in the
    # final scoring join (identical expression → bit-identical doubles;
    # oracle untouched).
    return _kmeans_assign(emb, centroids).select(
        F.col("vec_id").alias("n_id"),
        F.col("v").alias("n_emb"),
        F.col("cluster").alias("c_id"),
        _norm(F.col("v")).alias("n_nrm"),
    )


def _ivf_fitted_topk(
    emb: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    posting: DataFrame | None = None,
) -> DataFrame:
    """The probe/score/rank half of fitted IVF, parameterized on the
    probe count so :func:`q_ann_probe_recall` can sweep it against
    exact ground truth with ONE shared fit (and, optionally, one
    shared posting-list relation)."""
    if posting is None:
        posting = _posting_assign(emb, centroids)

    # r17: probe selection via _probe_cells (array_sort + slice —
    # identical cells to the former w_probe rank window, see the
    # helper) — no per-query rank window, no q_id exchange on the
    # broadcast build side (guide §2.4).  Query side only: the
    # corpus-side posting assignment keeps its measured window form
    # (r16 §9).
    cells_sorted = _probe_cells(F.col("v"), centroids, n_probe)
    probes = (
        emb.filter(F.col("vec_id") < N_QUERY)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("q_emb"),
            _norm(F.col("v")).alias("q_nrm"),
            F.explode(cells_sorted).alias("dc"),
        )
        .select("q_id", "q_emb", "q_nrm", F.col("dc.k").alias("c_id"))
    )

    cand = posting.join(F.broadcast(probes), "c_id").filter(
        F.col("q_id") != F.col("n_id")
    )
    cos = _cos("q_emb", "q_nrm", "n_emb", "n_nrm")
    return _top_k(cand.select("q_id", "n_id", cos.alias("cosine")))


def _sql_d2(v: str, c: str) -> str:
    return (
        f"ROUND(list_sum(list_transform(range(1, {EMB_DIM} + 1), "
        f"i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i]))), 6)"
    )


def _kmeans_fit_ctes(fit_where: str = "") -> str:
    """The shared DuckDB restatement of the Lloyd fit: for each of the
    KMEANS_ITERS iterations, an assignment CTE (rounded squared-L2
    argmin, lowest-cluster tie-break) and a centroid-update CTE
    (per-dim 6dp-rounded means, keep-previous fallback for empty
    clusters).  Ends with the ``cent_{KMEANS_ITERS}`` CTE both the
    kmeans report oracle and the fitted-IVF oracle build on.

    ``fit_where`` (e.g. ``"WHERE e.vec_id % 10 <> 9"``) restricts the
    rows the FIT sees — the incremental-maintenance oracle fits the
    frozen model on the base slice while coding the grown corpus.
    ``cent_0`` ranks the K smallest vec_ids among those same rows,
    mirroring :func:`_kmeans_init`."""
    fw = f"\n  {fit_where}" if fit_where else ""
    parts = [
        f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), ks AS (
  SELECT unnest(range(0, {KMEANS_K})) AS k
), cent_0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, v AS c FROM (
    SELECT e.vec_id, e.v FROM emb e{fw}
    ORDER BY e.vec_id LIMIT {KMEANS_K}
  )
)"""
    ]
    cur = "cent_0"
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(
            f"""
, d_{it} AS (
  SELECT e.vec_id, e.v, c.k, {_sql_d2('e.v', 'c.c')} AS d2
  FROM emb e CROSS JOIN {cur} c{fw}
), assign_{it} AS (
  SELECT vec_id, v, k FROM (
    SELECT vec_id, v, k,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, k ASC) AS rnk
    FROM d_{it}
  ) WHERE rnk = 1
), means_{it} AS (
  SELECT k, list(m ORDER BY j) AS c FROM (
    SELECT a.k, t.j, {_sql_micro_mean('a.v[t.j]')} AS m
    FROM assign_{it} a, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS j) t
    GROUP BY a.k, t.j
  ) GROUP BY k
), cent_{it} AS (
  SELECT ks.k, COALESCE(m.c, p.c) AS c
  FROM ks LEFT JOIN means_{it} m ON ks.k = m.k
  JOIN {cur} p ON ks.k = p.k
)"""
        )
        cur = f"cent_{it}"
    return "".join(parts)


_CENT_FINAL = f"cent_{KMEANS_ITERS}"

ORACLE_KMEANS_FULL = (
    _kmeans_fit_ctes()
    + f"""
, final AS (
  SELECT vec_id, k, d2 FROM (
    SELECT e.vec_id, c.k, {_sql_d2('e.v', 'c.c')} AS d2,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
  ) WHERE rnk = 1
)
SELECT CAST(k AS INT) AS cluster,
       COUNT(*) AS n_members,
       ROUND(SUM(d2), 4) AS inertia
FROM final GROUP BY 1
"""
)

ORACLE_ANN_IVF_FITTED = (
    _kmeans_fit_ctes()
    + f"""
, corpus_cells AS (
  SELECT vec_id AS n_id, v AS n_emb, k AS c_id FROM (
    SELECT e.vec_id, e.v, c.k,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
  ) WHERE rnk = 1
), probes AS (
  SELECT q_id, q_emb, c_id FROM (
    SELECT e.vec_id AS q_id, e.v AS q_emb, c.k AS c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
    WHERE e.vec_id < {N_QUERY}
  ) WHERE rnk <= {N_PROBE}
), scored AS (
  SELECT p.q_id, cc.n_id,
         ROUND({_DK_COS.format(a='p.q_emb', b='cc.n_emb')}, 4) AS cosine
  FROM probes p JOIN corpus_cells cc ON p.c_id = cc.c_id
  WHERE p.q_id <> cc.n_id
), ranked AS (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""
)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.2) among the
    first 200 vectors — the embedding tier of the dedup ladder.  Same
    label ⇒ candidate restriction keeps the pair space bounded; at
    scale the label comes from the LSH bucket instead."""
    emb = spread(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200), "vec_id"
    )
    # Norm evaluated once per row before the pair join (identical
    # expression → bit-identical doubles; oracle untouched).
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        "label",
        _norm(F.col("embedding")).alias("nrm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        "label",
        _norm(F.col("embedding")).alias("nrm_b"),
    )
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    cos = _cos("emb_a", "nrm_a", "emb_b", "nrm_b")
    return pairs.select("label", "id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= 0.2
    )


ORACLE_EMB_NEARDUP = """
WITH sub AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 200),
pairs AS (
  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(
           list_sum(list_transform(range(1, len(a.embedding) + 1),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / NULLIF(
               sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
             0.0), 4) AS cosine
  FROM sub a JOIN sub b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label, id_a, id_b, cosine FROM pairs WHERE cosine >= 0.2
"""


# SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space with the fitted k-means, then inside each
# cluster drop every vector that is a near-duplicate (cosine >= T) of a
# lower-id vector.  The leader-by-id rule ("j drops iff some i < j in
# its cluster has cos(i,j) >= T") is deterministic and restatable in
# SQL, unlike the paper's random-representative choice.
SEMDEDUP_T = 0.4


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector semantic-dedup decision over the fitted k-means
    clusters: keep iff no lower-id vector in the same cluster has
    cosine >= SEMDEDUP_T; emits the duplicate-neighbor count and the
    max cosine seen (audit columns).

    Scale shape: the pairwise pass is confined to one cluster at a
    time (join keyed on cluster id — the SemDeDup design point: K
    grows with the corpus so cluster sizes stay bounded, n²/K not n²);
    the corpus-side assignment is a centroid-literal projection with
    no join, and the final keep decision is one left join of the
    corpus against the cluster-pair aggregate."""
    emb = _kmeans_emb(spark, sf_dir)
    # The assignment projection feeds THREE consumers in the final plan
    # (both sides of the within-cluster pair join and the final keep
    # join); each branch would re-evaluate the K distance-fold argmin
    # over the corpus.  Materialize the (id, v, cluster) relation once
    # — corpus-sized but narrow, the same rows either way (values
    # untouched, oracle unchanged).
    assigned = (
        _kmeans_assign(emb, _kmeans_fit(emb))
        .select("vec_id", "v", "cluster")
        .localCheckpoint(eager=True)
    )

    # Norms are evaluated ONCE PER ROW before the within-cluster pair
    # join (identical expression, bit-identical doubles — the oracle is
    # untouched); the per-pair kernel is then a single dot fold instead
    # of three array folds, which matters because this is the one stage
    # whose work grows with pair density (n²/K), not corpus size.
    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("v_a"),
        "cluster",
        _norm(F.col("v")).alias("nrm_a"),
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("v_b"),
        "cluster",
        _norm(F.col("v")).alias("nrm_b"),
    )
    cos = _cos("v_a", "nrm_a", "v_b", "nrm_b")
    dup_stats = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", cos.alias("cosine"))
        .groupBy("id_b")
        .agg(
            F.max("cosine").alias("max_cos"),
            F.sum((F.col("cosine") >= SEMDEDUP_T).cast("int"))
            .cast("int")
            .alias("n_dups"),
        )
    )
    return assigned.join(
        dup_stats, assigned.vec_id == dup_stats.id_b, "left"
    ).select(
        "vec_id",
        "cluster",
        F.coalesce(F.col("n_dups"), F.lit(0)).cast("int").alias("n_dups"),
        "max_cos",
        (F.coalesce(F.col("n_dups"), F.lit(0)) == 0).alias("keep"),
    )


ORACLE_SEMANTIC_DEDUP = (
    _kmeans_fit_ctes()
    + f"""
, assigned AS (
  SELECT vec_id, v, k AS cluster FROM (
    SELECT e.vec_id, e.v, c.k,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
  ) WHERE rnk = 1
), dup_stats AS (
  SELECT b.vec_id AS id_b,
         MAX(ROUND({_DK_COS.format(a='a.v', b='b.v')}, 4)) AS max_cos,
         SUM(CASE WHEN ROUND({_DK_COS.format(a='a.v', b='b.v')}, 4) >= {SEMDEDUP_T}
             THEN 1 ELSE 0 END) AS n_dups
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  GROUP BY b.vec_id
)
SELECT s.vec_id, CAST(s.cluster AS INT) AS cluster,
       CAST(COALESCE(d.n_dups, 0) AS INT) AS n_dups,
       d.max_cos,
       COALESCE(d.n_dups, 0) = 0 AS keep
FROM assigned s LEFT JOIN dup_stats d ON s.vec_id = d.id_b
"""
)


# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): split each vector into PQ_M subvectors,
# quantize every subvector against a tiny per-subspace codebook, and
# answer queries with asymmetric distance computation (ADC) — a sum of
# PQ_M lookup-table entries instead of a full-dimension scan.  This is
# the compression tier under IVF in the standard IVF-PQ index: at
# 100 TB the corpus is stored as PQ_M small ints per vector (here
# 8 codes ≈ 8 bytes vs 256 bytes of floats), and candidate scoring
# never touches the raw vectors.
PQ_M = 8        # subspaces
PQ_DSUB = EMB_DIM // PQ_M
PQ_KS = 4       # codes per subspace
PQ_SAMPLE_BASE = 200  # codebook = the ks smallest vec_ids >= 200


def _pq_codebook(
    emb: DataFrame, m_parts: int = PQ_M, ks: int = PQ_KS
) -> list[list[list[float]]]:
    """codebook[m][k] = the m-th subvector of sample vector k, the
    k-th smallest vec_id >= PQ_SAMPLE_BASE present (the rank rule of
    :func:`_kmeans_init`, which the oracles restate).

    Deterministic sample codebook (the same device :func:`q_ann_ivf`
    uses for its coarse centroids) so the WHOLE pipeline is restatable
    in the oracle; production fits per-subspace k-means exactly the way
    :func:`q_ann_ivf_fitted` fits its coarse quantizer (the composed
    IVF×PQ index does — :func:`_pq_fit`).  ks×dim floats to the
    driver — kilobytes, same round-trip as k-means init."""
    dsub = EMB_DIM // m_parts
    rows = (
        emb.filter(F.col("vec_id") >= PQ_SAMPLE_BASE)
        .orderBy("vec_id")
        .limit(ks)
        .collect()
    )
    return [
        [list(r.v[m * dsub : (m + 1) * dsub]) for r in rows]
        for m in range(m_parts)
    ]


def _pq_cells(vec: Column, codebook) -> Column:
    """:func:`_cells` per subspace: element ``m`` holds the m-th
    length-dsub subvector's ``(d2, k)`` cells against ``codebook[m]``.
    The whole codebook is ONE nested array literal (``lit[m][k][i]``,
    :func:`_arr_lit`) that Catalyst constant-folds into a single
    Literal, so the fold's generated-code size does not grow with
    M×KS."""
    dsub = len(codebook[0][0])
    return F.transform(
        _arr_lit(codebook),
        lambda book, m: _cells(_sub_m(vec, m, dsub), book),
    )


def _pq_assign(emb: DataFrame, codebook, *cols: str) -> DataFrame:
    """One row per (vector, subspace) with the columns ``cols``, drawn
    from ``vec_id``, ``m``, ``code`` (the nearest code: ``array_min``
    over :func:`_pq_cells`, ties toward the lowest code), ``err2`` (its
    6dp-rounded squared-L2 distance) and ``s`` (the subvector) — ONE
    projection + explode against the constant codebook literal, no
    join, no shuffle.  The explode carries only the fields asked for:
    the fit's mean step reads (m, code, s) and never joins assignment
    back to the corpus (the join would shuffle corpus×M rows), which
    keeps a Lloyd iteration at one corpus scan, the same contract as
    :func:`_kmeans_fit`."""
    dsub = len(codebook[0][0])

    def entry(cells: Column, m: Column) -> Column:
        best = F.array_min(cells)
        field = {
            "m": m,
            "code": best["k"],
            "err2": best["d2"],
            "s": _sub_m(F.col("v"), m, dsub),
        }
        return F.struct(*[field[c].alias(c) for c in cols if c in field])

    ids = [c for c in cols if c == "vec_id"]
    entries = F.transform(_pq_cells(F.col("v"), codebook), entry)
    return emb.select(*ids, F.explode(entries).alias("e")).select(*ids, "e.*")


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the corpus: one row per (vector, subspace) with the
    chosen code and its 6dp-rounded squared-L2 quantization error.
    The encode pass is a single corpus scan with centroid-literal
    arithmetic — the shape that turns a 100 TB float corpus into a
    compact code table once, reused by every query batch."""
    emb = _kmeans_emb(spark, sf_dir)
    return _pq_assign(emb, _pq_codebook(emb), "vec_id", "m", "code", "err2")


def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k by asymmetric distance computation: each query
    precomputes a PQ_M×PQ_KS lookup table of subspace distances (tiny,
    broadcast), and every corpus vector's approximate distance is the
    sum of PQ_M table entries keyed by its stored codes — the scan
    never touches raw corpus floats.  Candidate scoring is one
    broadcast equi-join on (m, code) + a hash aggregate; ranking is
    ascending approximate distance with the id tie-break."""
    emb = _kmeans_emb(spark, sf_dir)
    cb = _pq_codebook(emb)
    posting = _pq_assign(emb, cb, "vec_id", "m", "code").withColumnRenamed(
        "vec_id", "n_id"
    )
    entries = F.flatten(
        F.transform(
            _pq_cells(F.col("v"), cb),
            lambda cells, m: F.transform(
                cells,
                lambda c: F.struct(
                    m.alias("m"), c["k"].alias("code"), c["d2"].alias("d2")
                ),
            ),
        )
    )
    lut = (
        emb.filter(F.col("vec_id") < N_QUERY)
        .select(F.col("vec_id").alias("q_id"), F.explode(entries).alias("e"))
        .select("q_id", "e.m", "e.code", "e.d2")
    )
    cand = posting.join(F.broadcast(lut), ["m", "code"]).filter(
        F.col("q_id") != F.col("n_id")
    )
    adist = cand.groupBy("q_id", "n_id").agg(
        F.round(F.sum("d2"), 6).alias("adist")
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("n_id"))
    return adist.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


def _sql_sub(v: str, m: str, dsub: int = PQ_DSUB) -> str:
    return f"list_slice({v}, {m} * {dsub} + 1, {m} * {dsub} + {dsub})"


# Body split out (no leading WITH/emb) so the IVF×PQ oracle can append
# these CTEs to the k-means fit CTEs, which already open with the
# identical ``emb`` definition.
_PQ_CTES_BODY = f"""
, cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, v FROM (
    SELECT vec_id, v FROM emb WHERE vec_id >= {PQ_SAMPLE_BASE}
    ORDER BY vec_id LIMIT {PQ_KS}
  )
), ms AS (
  SELECT unnest(range(0, {PQ_M})) AS m
), cbsub AS (
  SELECT c.code, ms.m, {_sql_sub('c.v', 'ms.m')} AS cs FROM cb c CROSS JOIN ms
), sub AS (
  SELECT e.vec_id, ms.m, {_sql_sub('e.v', 'ms.m')} AS s FROM emb e CROSS JOIN ms
), d AS (
  SELECT sub.vec_id, sub.m, cbsub.code,
         ROUND(list_sum(list_transform(range(1, {PQ_DSUB} + 1),
               i -> (sub.s[i] - cbsub.cs[i]) * (sub.s[i] - cbsub.cs[i]))), 6) AS d2
  FROM sub JOIN cbsub ON sub.m = cbsub.m
), codes AS (
  SELECT vec_id, m, code, d2 FROM (
    SELECT vec_id, m, code, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
             ORDER BY d2 ASC, code ASC) AS rnk
    FROM d
  ) WHERE rnk = 1
)"""

_PQ_CTES = (
    """
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)"""
    + _PQ_CTES_BODY
)

ORACLE_PQ_CODES = (
    _PQ_CTES
    + """
SELECT vec_id, CAST(m AS INT) AS m, CAST(code AS INT) AS code, d2 AS err2
FROM codes
"""
)

ORACLE_PQ_DISTORTION = (
    _PQ_CTES
    + """
SELECT CAST(m AS INT) AS m,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CAST(FLOOR(d2 * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_err2_micro,
       CAST(COUNT(DISTINCT code) AS BIGINT) AS codes_used,
       CAST(FLOOR(
         CAST(SUM(CAST(FLOOR(d2 * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS mean_err2_micro
FROM codes GROUP BY 1
"""
)

ORACLE_ANN_PQ_ADC = (
    _PQ_CTES
    + f"""
, adist AS (
  SELECT l.vec_id AS q_id, c.vec_id AS n_id, ROUND(SUM(l.d2), 6) AS adist
  FROM codes c JOIN d l ON l.m = c.m AND l.code = c.code
  WHERE l.vec_id < {N_QUERY} AND l.vec_id <> c.vec_id
  GROUP BY 1, 2
), ranked AS (
  SELECT q_id, n_id, adist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
  FROM adist
)
SELECT q_id, n_id, adist, rank FROM ranked WHERE rank <= {TOP_K}
"""
)


# Composed IVF×PQ index geometry.  The standalone PQ queries keep the
# deliberately tiny PQ_M×PQ_KS book (16 bits/vector) whose oracle CTEs
# stay readable; the composed index needs codes that can actually RANK
# near-uniform unit vectors, so it spends 16 subspaces × 16 codes
# (64 bits/vector — still 32× smaller than the raw floats).  The
# shortlist keeps the top-R by approximate distance and re-scores only
# those R raw vectors per query exactly.
IVF_PQ_RERANK = 4 * TOP_K
IVFPQ_M = 16
IVFPQ_KS = 16
IVFPQ_DSUB = EMB_DIM // IVFPQ_M
PQ_FIT_ITERS = 2


def _sub_m(vec: Column, m: Column, dsub: int) -> Column:
    """The m-th length-``dsub`` subvector (m is the 0-based transform
    index column)."""
    return F.slice(vec, m * F.lit(dsub) + F.lit(1), dsub)


def _unit_emb(emb: DataFrame) -> DataFrame:
    """(vec_id, v, rv) with v L2-normalized and 6dp-rounded per
    component and rv the untouched raw vector (the composed index
    routes on raw vectors but codes unit vectors, and carrying both
    through one projection keeps the index build a single corpus scan
    instead of a corpus self-join).

    The composed index serves COSINE queries from an L2-metric code
    scan; on unit vectors L2² = 2 − 2·cos, so ADC's ascending-distance
    order is exactly descending-cosine order and the PQ tier stops
    fighting the metric (measured at sf0.01: raw-vector ADC recall
    0.04 vs 0.56 normalized).  Components are rounded AFTER the
    division so both engines quantize identical doubles (the 6dp
    convention every distance in this module uses); zero vectors map
    to zero, not NULL.  The norm is evaluated once per row in a prior
    projection, not once per component inside the transform lambda
    (identical doubles, O(dim) not O(dim²) per row; oracle untouched)."""
    nrmd = emb.select(
        "vec_id", F.col("v").alias("rv"), _norm(F.col("v")).alias("nrm")
    )
    return nrmd.select(
        "vec_id",
        F.transform(
            F.col("rv"),
            lambda x: F.when(F.col("nrm") == F.lit(0.0), F.lit(0.0)).otherwise(
                F.round(x / F.col("nrm"), 6)
            ),
        ).alias("v"),
        "rv",
    )


def _pq_fit(emb: DataFrame, cb=None):
    """PQ_FIT_ITERS rounds of per-subspace Lloyd's from the sample-
    codebook init — the trained product quantizer of a real IVF×PQ
    index (:func:`_pq_codebook` alone is the UNtrained init the
    standalone PQ queries keep for oracle brevity).  All subspaces
    fit simultaneously in one corpus scan per iteration (assignment
    carries the subvector; means are one wide hash aggregate keyed on
    (m, code) with dsub :func:`_mean_arr` cells); M×KS×DSUB floats
    come to the driver per iteration — kilobytes, the same round-trip
    as the coarse k-means fit.  Mean updates use the order-independent
    :func:`_sql_micro_mean_spark` exactly like :func:`_kmeans_fit` so
    the oracle restates every iteration bit-identically; an empty
    (m, code) cell keeps its previous code vector."""
    if cb is None:
        cb = _pq_codebook(emb, IVFPQ_M, IVFPQ_KS)
    ks = len(cb[0])
    m_parts = len(cb)
    # One wide hash aggregate keyed by (m, code) — an array of dsub
    # micro-mean cells built as ONE parsed expression — instead of
    # posexplode → (m, code, pos) aggregate → (m, code) collect_list
    # re-aggregate: bit-identical cell values (same exact integer
    # arithmetic over the same multisets), one Exchange per iteration
    # instead of two, dsub× fewer shuffle input rows, and the update
    # stays in whole-stage codegen (guide §2.3; measured at sf0.1:
    # PQ iteration 2.5 s → 0.9 s single-pass).
    mean_arr = _mean_arr("s", len(cb[0][0])).alias("cs")
    for _ in range(PQ_FIT_ITERS):
        assigned = _pq_assign(emb, cb, "m", "code", "s")
        rows = assigned.groupBy("m", "code").agg(mean_arr).collect()
        new = {(r["m"], r["code"]): list(r["cs"]) for r in rows}
        cb = [
            [new.get((m, k), cb[m][k]) for k in range(ks)]
            for m in range(m_parts)
        ]
    return cb


def _ivf_pq_index(uemb: DataFrame, centroids: list[list[float]], cb) -> DataFrame:
    """(n_id, c_id, codes): the STORED rows of the composed IVF×PQ
    index, built in one corpus scan — cell argmin on the raw vector,
    per-subspace code argmins on the unit vector, two chained narrow
    projections (one stage, no join).  At 100 TB these rows — id,
    cell, M small ints — ARE the persisted index
    (:func:`materialize_ann_index` publishes them through the txn
    layer; raw floats never enter the serving scan)."""
    celled = uemb.select(
        F.col("vec_id").alias("n_id"),
        F.array_min(_cells(F.col("rv"), centroids))["k"].alias("c_id"),
        "v",
    )
    codes_arr = F.transform(
        _pq_cells(F.col("v"), cb), lambda cells: F.array_min(cells)["k"]
    )
    return celled.select("n_id", "c_id", codes_arr.alias("codes"))


def _ivf_pq_shortlist(
    uemb: DataFrame,
    centroids: list[list[float]],
    cb,
    index: DataFrame | None = None,
) -> DataFrame:
    """(q_id, n_id, adist, arank): the IVF-routed, ADC-scored
    candidate shortlist — the first two tiers of a composed IVF×PQ
    index, shared by :func:`q_ivf_pq_search` and
    :func:`q_ivf_pq_recall`.

    Scale shape: the corpus contributes ONLY its cell id and PQ codes
    (one projection each against broadcast literals — at 100 TB these
    are the stored index, 8 small ints per vector, refreshed per
    corpus snapshot, and raw floats never enter the scan).  The query
    side is a per-query PQ_M×PQ_KS distance LUT plus its N_PROBE
    nearest cells — kilobytes, broadcast.  Candidate scoring is a
    broadcast equi-join on (m, code) restricted to probed cells plus
    one hash aggregate, so per-query cost is O(n·probe/cells) code
    lookups, never a float dot product.

    Routing runs on the RAW vectors (sharing the coarse fit with the
    rest of the kmeans family — measured ceiling 0.96 recall at
    N_PROBE=4); codes and the ADC LUT run on the unit vectors
    (:func:`_unit_emb`) so approximate-L2 order is cosine order.

    ADC arithmetic is EXACT: per-subspace LUT distances are quantized
    once to integer micro-units and ``adist`` is their exact BIGINT
    sum divided by 1e6 — order-independent, so bit-identical across
    engines and across Spark runs (round-10 verdict: the float
    ``ROUND(SUM(d2), 6)`` here could flip a 6dp boundary)."""
    ks = len(cb[0])

    # The stored index rows (:func:`_ivf_pq_index`) — built inline
    # from the corpus here, or passed in from a txn snapshot by the
    # SPARK_GRAFT_ANN_CACHE path (identical rows by construction).
    if index is None:
        index = _ivf_pq_index(uemb, centroids, cb)

    # Query side: the N_PROBE nearest cells per query plus a flat
    # M×KS micro-unit LUT (entry [m·KS + code]) — kilobytes per query,
    # broadcast, so probe pruning happens BEFORE any shuffle and the
    # scoring below never joins a corpus-sized relation.  r17: the
    # probe selection is :func:`_probe_cells` (array_sort + slice —
    # identical cells to the former w_probe rank window, see the
    # helper) and the LUT rides the SAME narrow projection, which
    # removes the per-query rank window (one q_id exchange + sort)
    # AND the probes⋈luts join from the serve path's broadcast build
    # (guide §2.4; idle-host A/B in
    # 7ff9b6a:plans/r17/probe_ivfpq_phases.json: the query side is
    # N_QUERY rows, where r16's corpus-side window-beats-projection
    # finding does not apply — there is no corpus-sized rank here to
    # preserve).
    cells_sorted = _probe_cells(F.col("rv"), centroids, N_PROBE)
    lut_arr = F.flatten(
        F.transform(
            _pq_cells(F.col("v"), cb),
            lambda cells: F.transform(
                cells, lambda c: F.floor(c["d2"] * F.lit(1e6) + F.lit(0.5))
            ),
        )
    )
    # The query's M×KS LUT is copied onto each of its N_PROBE probe rows
    # on the broadcast side.  That is fine while PQ_M × PQ_KS × N_PROBE
    # stays small; if those grow, re-join the LUT after the explode.
    qside = (
        uemb.filter(F.col("vec_id") < N_QUERY)
        .select(
            F.col("vec_id").alias("q_id"),
            lut_arr.alias("lut"),
            F.explode(cells_sorted).alias("dc"),
        )
        .select("q_id", F.col("dc.k").alias("c_id"), "lut")
    )

    # Candidate scoring: broadcast-join the (query, probed-cell, LUT)
    # side onto the index rows — each (q, n) pair appears exactly once
    # (one cell per vector, distinct probed cells), so adist is a
    # per-candidate array fold over the M stored codes with NO
    # (q, n)-keyed re-aggregation and NO corpus-wide shuffle.
    adist_micro = F.aggregate(
        F.transform(
            F.col("codes"),
            lambda code, i: F.element_at(F.col("lut"), i * F.lit(ks) + code + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    adist = (
        index.join(F.broadcast(qside), "c_id")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            (adist_micro.cast("double") / F.lit(1e6)).alias("adist"),
        )
    )
    w_short = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("n_id"))
    return adist.withColumn("arank", F.row_number().over(w_short))


def _exact_rerank(emb: DataFrame, shortlist: DataFrame) -> DataFrame:
    """Exact-cosine re-rank of an (q_id, n_id, adist) shortlist: fetch
    raw vectors for just the Q×R shortlist ids (the shortlist side is
    broadcast — at 100 TB this is a broadcast-hash fetch against the
    id-keyed corpus, NOT a corpus scan) and re-score with the same
    rounded cosine as ann_bruteforce."""
    q_raw = emb.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_emb"),
        _norm(F.col("v")).alias("q_nrm"),
    )
    n_raw = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("v").alias("n_emb"),
        _norm(F.col("v")).alias("n_nrm"),
    )
    cos = _cos("q_emb", "q_nrm", "n_emb", "n_nrm")
    return _top_k(
        n_raw.join(F.broadcast(shortlist), "n_id")
        .join(F.broadcast(q_raw), "q_id")
        .select("q_id", "n_id", "adist", cos.alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Materialized ANN index (round 11 — the dedup-endgame pattern applied
# to the IVF×PQ index).
#
# The composed index has an expensive BUILD (coarse Lloyd fit + PQ
# Lloyd fit + one corpus coding scan) and a cheap SERVE (broadcast
# probe/LUT join + re-rank fetch).  Inline build is the DRIVER CONTRACT
# default, but a production store builds nightly and serves every query
# batch from the snapshot: ``materialize_ann_index`` txn-publishes the
# index rows (n_id, c_id, codes) plus the fitted model (centroids +
# codebook, kilobytes) and ``SPARK_GRAFT_ANN_CACHE=<root>`` points the
# search/recall queries at it — identical results by construction
# (pinned by tests/test_ann_cache.py; the fits are deterministic, so
# snapshot and inline parameters are the same doubles).
# ---------------------------------------------------------------------------

ANN_CACHE_ENV = "SPARK_GRAFT_ANN_CACHE"


def _ann_cache_root() -> str | None:
    import os

    return os.environ.get(ANN_CACHE_ENV) or None


def _fit_ivf_pq(emb: DataFrame, side_job=None):
    """(centroids, uemb, cb[, side_result]) — the coarse k-means fit
    and the unit-normalize + PQ fit, run in OVERLAPPED driver threads
    (guide §2.6: actions are only sequential because driver code calls
    them sequentially).  The two fit chains are independent given the
    checkpointed corpus, and every job, expression and collect inside
    each chain is byte-for-byte the sequential code, so all fitted
    values are bit-identical and the DuckDB oracle restatements are
    untouched.

    The overlap hides driver-side cost per Lloyd iteration, not job
    count.  Fit wall time on 4 CPUs (values asserted identical,
    alternating order, 8 runs each):

    ===========================================  ===========  ===========
    fit                                          sf0.01       sf0.1
    ===========================================  ===========  ===========
    threaded (this function)                     0.96 s       1.05–1.11 s
    k-means + PQ steps in one collect/iteration  1.24 s       1.45 s
    plain sequential                             1.21–1.27 s  1.48–1.52 s
    ===========================================  ===========  ===========

    Each thread target runs under the caller's local properties and
    session tags (``inheritable_thread_target``), so the fit's jobs land
    in the caller's job group.

    ``side_job(emb)``, when given, is a third independent thunk (e.g.
    the recall audit's brute-force ground truth, which needs only the
    corpus checkpoint) scheduled in the same pool."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def unit_pq():
        u = _unit_emb(emb).localCheckpoint(eager=True)
        return u, _pq_fit(u)

    inherit = inheritable_thread_target(emb.sparkSession)
    with ThreadPoolExecutor(max_workers=3) as pool:
        cent_f = pool.submit(inherit(_kmeans_fit), emb)
        upq_f = pool.submit(inherit(unit_pq))
        side_f = pool.submit(inherit(side_job), emb) if side_job is not None else None
        centroids = cent_f.result()
        uemb, cb = upq_f.result()
        side = side_f.result() if side_f is not None else None
    if side_job is not None:
        return centroids, uemb, cb, side
    return centroids, uemb, cb


def _ivf_pq_runtime(spark: SparkSession, sf_dir: str, side_job=None):
    """(emb, quemb, centroids, cb, index_or_None, side_result):
    everything the search/recall pipelines need, from the txn snapshot
    when ``SPARK_GRAFT_ANN_CACHE`` is set, else fitted inline.

    Inline: the corpus is checkpointed once (the fits scan it
    repeatedly), ``quemb`` is the full unit-vector relation (the
    index build consumes it too), and the fit chains run overlapped
    (:func:`_fit_ivf_pq`).  Cached: the corpus is a plain pruned
    parquet scan (nothing iterates over it — re-rank fetches and the
    query slice are its only readers), ``quemb`` is the unit
    transform of just the N_QUERY query rows (identical per-row
    expression → identical values), the model table brings K×dim +
    M×KS×dsub doubles to the driver (kilobytes), and ``index`` is the
    snapshot's (n_id, c_id, codes) rows.

    ``side_job(emb)`` is an optional independent thunk overlapped
    with the fits (inline path) or run after the snapshot read
    (cached path); its result comes back as the sixth element."""
    root = _ann_cache_root()
    if root is None:
        emb = _kmeans_emb(spark, sf_dir)
        if side_job is not None:
            centroids, uemb, cb, side = _fit_ivf_pq(emb, side_job=side_job)
        else:
            centroids, uemb, cb = _fit_ivf_pq(emb)
            side = None
        return emb, uemb, centroids, cb, None, side

    from ..sources.fingerprint import check_snapshot_fresh
    from ..sources.txn import txn_read

    # Staleness guard (round-11 verdict item 2): refuse — loudly — to
    # serve a snapshot built from a different embeddings corpus than
    # the one this query is being asked about.  Driver-side stat walk,
    # no job.
    check_snapshot_fresh(spark, f"{root}/model", sf_dir, "embeddings")

    emb = _load_vectors(spark, sf_dir)
    quemb = _unit_emb(emb.filter(F.col("vec_id") < N_QUERY))
    centroids, cb = _snapshot_model(spark, root)
    index = txn_read(spark, f"{root}/index").select("n_id", "c_id", "codes")
    side = side_job(emb) if side_job is not None else None
    return emb, quemb, centroids, cb, index, side


def materialize_ann_index(
    spark: SparkSession, sf_dir: str, root: str
) -> dict[str, int]:
    """Fit the coarse quantizer + product quantizer ONCE, code the
    corpus, and publish index rows + model as transactional tables
    under ``root`` (atomic rename publish — a refresh never exposes a
    half-written index).  Returns {table: committed version}.  This is
    the nightly index-build job of a 100 TB embedding store; serving
    (``SPARK_GRAFT_ANN_CACHE``) then reads 8 small ints per corpus
    vector and never touches raw floats outside the bounded re-rank
    fetch."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ..sources.fingerprint import META_KEY, corpus_fingerprint
    from ..sources.txn import txn_write

    # banked in both commits' app_meta; the cached serve path verifies
    # it against the corpus it is pointed at and refuses on mismatch
    meta = {
        META_KEY: corpus_fingerprint(sf_dir, "embeddings"),
        "source_table": "embeddings",
        "sf_dir": sf_dir,
    }

    emb = _kmeans_emb(spark, sf_dir)
    centroids, uemb, cb = _fit_ivf_pq(emb)

    schema = StructType(
        [
            StructField("kind", StringType()),
            StructField("m", IntegerType()),
            StructField("k", IntegerType()),
            StructField("vec", ArrayType(DoubleType())),
        ]
    )
    rows = [("centroid", 0, k, [float(x) for x in c]) for k, c in enumerate(centroids)]
    rows += [
        ("pq", m, k, [float(x) for x in cb[m][k]])
        for m in range(len(cb))
        for k in range(len(cb[m]))
    ]
    # a pandas frame goes through Arrow when the session enables it
    # (get_spark does), one columnar batch instead of a pickled row each
    model = pd.DataFrame(rows, columns=schema.fieldNames())
    versions = {
        "model": txn_write(
            spark,
            spark.createDataFrame(model, schema),
            f"{root}/model",
            app_meta=meta,
        )
    }
    versions["index"] = txn_write(
        spark, _ivf_pq_index(uemb, centroids, cb), f"{root}/index", app_meta=meta
    )
    return versions


def _snapshot_model(spark: SparkSession, root: str):
    """(centroids, cb) decoded from the txn model table — kilobytes to
    the driver, the same shape :func:`_ivf_pq_runtime` serves from."""
    from ..sources.txn import txn_read

    model = txn_read(spark, f"{root}/model").collect()
    centroids_d = {r.k: list(r.vec) for r in model if r.kind == "centroid"}
    centroids = [centroids_d[k] for k in sorted(centroids_d)]
    cb_d = {(r.m, r.k): list(r.vec) for r in model if r.kind == "pq"}
    m_parts = 1 + max(m for m, _ in cb_d)
    ks = 1 + max(k for _, k in cb_d)
    cb = [[cb_d[(m, k)] for k in range(ks)] for m in range(m_parts)]
    return centroids, cb


def _rebank(spark: SparkSession, path: str, meta: dict) -> int:
    """Republish the latest manifest of a table whose data is frozen
    with a new ``app_meta`` (the corpus fingerprint): a metadata-only
    commit that reads and writes no data, and whose data dirs stay the
    ones the build wrote."""
    from ..sources.txn import read_commit, txn_restore

    return txn_restore(spark, path, read_commit(spark, path)["version"], app_meta=meta)


def refresh_ann_index_incremental(
    spark: SparkSession, sf_dir: str, root: str
) -> dict[str, int]:
    """Incremental index refresh after the corpus GREW: code only the
    vectors not yet in the snapshot against the FROZEN model and MERGE
    their rows into the published index (txn copy-on-write upsert —
    readers never see a partial index), then re-bank the grown
    corpus's fingerprint on both tables so the staleness guard accepts
    the new corpus (the model by a metadata-only :func:`_rebank`).
    Returns {table: new version}.

    NO Lloyd job runs (pinned by tests/test_incremental_maintenance.py)
    and the merged rows are byte-identical to a from-scratch recode of
    the grown corpus under the same frozen model — coding is a pure
    per-row function (the ``ann_index_incremental`` oracle proves the
    same identity value-for-value at 3 SFs).  At 100 TB the work is
    one anti-join on ids plus one scan of the ARRIVING vectors against
    broadcast model literals; re-FITTING on the grown corpus is a
    separate deliberate decision (:func:`materialize_ann_index`), not
    a correctness requirement."""
    from ..sources.fingerprint import META_KEY, corpus_fingerprint
    from ..sources.txn import txn_merge_upsert, txn_read

    centroids, cb = _snapshot_model(spark, root)
    emb = _load_vectors(spark, sf_dir)
    have = txn_read(spark, f"{root}/index").select(
        F.col("n_id").alias("vec_id")
    )
    delta = emb.join(have, "vec_id", "left_anti")
    rows = _ivf_pq_index(_unit_emb(delta), centroids, cb)
    meta = {
        META_KEY: corpus_fingerprint(sf_dir, "embeddings"),
        "source_table": "embeddings",
        "sf_dir": sf_dir,
        "op": "incremental_refresh",
    }
    versions = {
        "index": txn_merge_upsert(
            spark, rows, f"{root}/index", keys=["n_id"], app_meta=meta
        ),
        "model": _rebank(spark, f"{root}/model", meta),
    }
    return versions


# ---------------------------------------------------------------------------
# Incremental index maintenance (round 12 — the natural next step after
# the materialized index: new vectors arrive, and instead of a full
# rebuild the index gains ONLY their code rows, coded against the
# FROZEN model).
# ---------------------------------------------------------------------------

# The "newly arrived" slice: 1% of the corpus, chosen OFF the model's
# deterministic sample ids (k-means init = the 8 smallest vec_ids, PQ
# codebook init = the 16 smallest from 200) so the base-only fit sees
# the exact sample rows the full-corpus fit would.
ANN_DELTA_MOD, ANN_DELTA_REM = 100, 97


def _ann_base_delta(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    pred = F.col("vec_id") % ANN_DELTA_MOD == ANN_DELTA_REM
    return emb.filter(~pred), emb.filter(pred)


def q_ann_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF×PQ index maintenance, stated as a relation: the
    corpus is split into a base (99%) and a newly-arrived delta
    (vec_id % 100 == 97); the coarse quantizer and PQ codebook are fit
    on the BASE ONLY and frozen; the delta rows are coded against that
    frozen model and unioned with the base index rows.  Output =
    (n_id, c_id, m, code) of the grown index in long form.

    The invariant this query pins — and the reason incremental
    maintenance is sound at all — is code(base) ∪ code(delta) ≡
    code(base ∪ delta) under a frozen model: coding is a pure per-row
    function of the model, so the merged index is bit-identical to a
    from-scratch recode of the grown corpus (the oracle restates
    exactly that: fit CTEs restricted to the base slice, coding CTEs
    over the full corpus).  At 100 TB the base side is the STORED
    index (``materialize_ann_index``; see
    :func:`refresh_ann_index_incremental` for the txn MERGE that
    publishes the delta rows); only the delta — one scan of the
    arriving vectors against broadcast model literals, no shuffle —
    is ever recoded.  Re-FITTING on the grown corpus is the separate,
    deliberate nightly decision; serving correctness never depends on
    it."""
    emb = _kmeans_emb(spark, sf_dir)
    base, delta = _ann_base_delta(emb)
    # frozen model: both fit chains see the base slice only
    centroids, ubase, cb = _fit_ivf_pq(base)
    merged = _ivf_pq_index(ubase, centroids, cb).unionByName(
        _ivf_pq_index(_unit_emb(delta), centroids, cb)
    )
    return merged.select(
        "n_id", "c_id", F.posexplode("codes").alias("m", "code")
    )


# The "taken down" slice for the on-delete identity: 1% of the corpus
# (vec_id % 100 == 3), disjoint from the growth delta's % 100 == 97.
# vec_id 3 is one of the k-means init samples — deliberately: the
# model is FROZEN at its pre-delete fit, so purging a sample vector
# removes its index rows without disturbing the model.
ANN_DEL_MOD, ANN_DEL_REM = 100, 3


def q_ann_index_on_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown-side IVF×PQ index maintenance, stated as a relation:
    the model (coarse centroids + PQ codebook) is fitted on the FULL
    corpus and FROZEN, then a 1% slice (vec_id % 100 == 3) is purged —
    and because coding is a pure per-row function of the model, the
    shrunk index is EXACTLY the full index minus the purged rows; no
    recode, no refit, no neighbor adjustment of any kind.  Output =
    (n_id, c_id, m, code) of the surviving index in long form; the
    oracle fits on the full corpus and codes only survivors, so a hash
    match proves delete ≡ row removal under a frozen model.  This is
    the invariant that makes takedown O(|removed|) on a 100 TB index
    (:func:`refresh_ann_index_on_delete` is the txn DELETE that
    executes it); re-FITTING without the purged vectors is the
    separate nightly decision, never a correctness requirement."""
    emb = _kmeans_emb(spark, sf_dir)
    # frozen pre-delete model, fit chains overlapped (guide §2.6)
    centroids, uemb, cb = _fit_ivf_pq(emb)
    surviving = _ivf_pq_index(uemb, centroids, cb).filter(
        (F.col("n_id") % ANN_DEL_MOD) != ANN_DEL_REM
    )
    return surviving.select(
        "n_id", "c_id", F.posexplode("codes").alias("m", "code")
    )


def refresh_ann_index_on_delete(
    spark: SparkSession, sf_dir: str, root: str
) -> dict[str, int]:
    """Takedown refresh after vectors were PURGED from the corpus:
    detect the removed ids (published index anti-join the corpus),
    txn-DELETE exactly their rows (copy-on-write, restaging only the
    partitions that contain matches), and re-bank the shrunk corpus's
    fingerprint on both tables (metadata-only :func:`_rebank` commits
    for a table whose data did not change).  The model stays
    byte-frozen — coding is per-row, so no surviving row changes
    (pinned no-Lloyd + byte-identity in
    tests/test_incremental_maintenance.py).  Work is
    one id anti-join plus a delete bounded by the takedown batch; the
    purged rows stop being readable once :func:`~..sources.txn.vacuum`
    reclaims the old version's dirs — the two-step every table format
    documents for right-to-be-forgotten."""
    from ..sources.fingerprint import META_KEY, corpus_fingerprint
    from ..sources.txn import read_commit, txn_delete_keys, txn_read

    meta = {
        META_KEY: corpus_fingerprint(sf_dir, "embeddings"),
        "source_table": "embeddings",
        "sf_dir": sf_dir,
        "op": "delete_refresh",
    }
    corpus_ids = spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        F.col("vec_id").alias("n_id")
    )
    # the removed-id set stays a DataFrame end-to-end: a bulk purge
    # (a whole source or license class — millions of ids at 100 TB)
    # never builds an ``isin`` literal in the plan or an id list on
    # the driver (round-12 verdict item 2); pinned once because it
    # feeds both delete-side joins
    index = f"{root}/index"
    removed_ids = (
        txn_read(spark, index)
        .select("n_id")
        .distinct()
        .join(corpus_ids, "n_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    current = read_commit(spark, index)["version"]
    index_v = txn_delete_keys(spark, index, removed_ids, on=["n_id"], app_meta=meta)
    if index_v == current:  # nothing to purge: re-bank the fingerprint only
        index_v = _rebank(spark, index, meta)
    return {"index": index_v, "model": _rebank(spark, f"{root}/model", meta)}


# Restates q_ann_index_on_delete: the fit CTEs see the FULL corpus
# (the frozen pre-delete model), the final coding selection only the
# survivors — so the oracle IS the from-scratch recode of the shrunk
# corpus under the same model and a hash match proves delete ≡ row
# removal.
def _oracle_ann_index_on_delete() -> str:
    return (
        _kmeans_fit_ctes()
        + _pq_fit_ctes()
        + f"""
, cells AS (
  SELECT vec_id AS n_id, k AS c_id FROM (
    SELECT e.vec_id, c.k,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
  ) WHERE rnk = 1
)
SELECT cc.n_id, CAST(cc.c_id AS INT) AS c_id,
       CAST(pc.m AS INT) AS m, CAST(pc.code AS INT) AS code
FROM cells cc JOIN pqcodes pc ON pc.vec_id = cc.n_id
WHERE cc.n_id % {ANN_DEL_MOD} <> {ANN_DEL_REM}
"""
    )


def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed index a 100 TB embedding store actually serves
    from — IVF routing × PQ-ADC scoring × exact top-R re-rank:

    1. **route**: each query probes its N_PROBE nearest k-means cells
       (fitted coarse quantizer, broadcast centroid literals);
    2. **score**: candidates in probed cells are ranked by asymmetric
       PQ distance — sums of per-subspace LUT entries keyed by the
       corpus's stored codes; raw corpus floats are never read;
    3. **re-rank**: only the top-``IVF_PQ_RERANK`` by approximate
       distance are fetched and re-scored with exact cosine; the
       final top-k is exact over that shortlist.

    Fully value-oracled: the oracle restates the Lloyd fit CTEs, the
    PQ code CTEs, and the same route/score/re-rank pipeline.  Ref has
    no ANN surface (beyond-reference scale operator); recall quality
    is graded by :func:`q_ivf_pq_recall`.  With
    ``SPARK_GRAFT_ANN_CACHE`` set, fits and index come from the txn
    snapshot (:func:`materialize_ann_index`) — identical results, no
    Lloyd jobs at serve time."""
    emb, quemb, centroids, cb, index, _ = _ivf_pq_runtime(spark, sf_dir)
    shortlist = _ivf_pq_shortlist(quemb, centroids, cb, index=index).filter(
        F.col("arank") <= IVF_PQ_RERANK
    ).select("q_id", "n_id", "adist")
    return _exact_rerank(emb, shortlist)


def q_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess — recall@k of each tier of the composed
    IVF×PQ index against exact brute-force ground truth, one row per
    method:

    - ``ivf_exact_cos``: IVF routing + exact cosine over ALL probed
      candidates (the ceiling the re-rank can recover);
    - ``ivf_pq_adc``: IVF routing + ADC ranking alone (what serving
      from codes costs in recall);
    - ``ivf_pq_rerank``: ADC shortlist + exact re-rank — the line
      that justifies serving from PQ codes at all (recall climbs
      back toward the IVF ceiling at 1/RERANK of the exact work).

    One shared fit/codebook serves all three; ground truth is the
    bounded N_QUERY-row brute force (the ann_probe_recall argument).
    ``SPARK_GRAFT_ANN_CACHE`` serves fits/index from the txn snapshot
    (the ground-truth brute force and the ivf_exact_cos ceiling still
    scan the corpus — they are audits of the index, not servable from
    it)."""
    # The ground truth (N_QUERY×TOP_K rows) and the ADC shortlist
    # (N_QUERY×cells/probe-bounded rows) are each consumed by SEVERAL
    # branches of the final unioned plan — exact by every method's
    # tp-join AND the n_exact scalar, shortlist by the ADC method AND
    # the re-rank method.  Spark recomputes a shared subtree per
    # branch, so without materialization the brute-force corpus scan
    # ran 4× and the index-coding scan 2× per execution (the r16
    # before-plan is 1,402 lines for this query).  localCheckpoint
    # both — kilobyte relations, computed once, values untouched
    # (guide §5: cut lineage when an intermediate is reused; measured
    # 11.2 s → ~5 s at sf0.1).  The ground truth additionally needs
    # only the corpus checkpoint, so it runs as the runtime's side
    # job, overlapped with the fit chains (guide §2.6).
    emb, quemb, centroids, cb, index, exact = _ivf_pq_runtime(
        spark, sf_dir, side_job=_exact_truth
    )
    shortlist = _ivf_pq_shortlist(
        quemb, centroids, cb, index=index
    ).localCheckpoint(eager=True)
    methods = [
        ("ivf_exact_cos", _ivf_fitted_topk(emb, centroids, N_PROBE)),
        ("ivf_pq_adc", shortlist.filter(F.col("arank") <= TOP_K)),
        (
            "ivf_pq_rerank",
            _exact_rerank(
                emb,
                shortlist.filter(F.col("arank") <= IVF_PQ_RERANK).select(
                    "q_id", "n_id", "adist"
                ),
            ),
        ),
    ]
    return _recall_table("method", methods, exact)


def _pq_fit_ctes(fit_where: str = "") -> str:
    """DuckDB restatement of the per-subspace Lloyd fit: pqcent_0 is
    the sample-codebook init, each iteration adds an assignment CTE
    (6dp-rounded squared-L2 argmin per (vec_id, m), lowest-code
    tie-break) and a mean-update CTE (per-dim 6dp-rounded means,
    keep-previous fallback for empty cells) — the exact mirror of
    :func:`_pq_fit`.  Ends with ``pqcodes``/``pqdist`` computed
    against the FITTED codebook ``pqcent_{PQ_FIT_ITERS}``: pqcodes is
    the corpus code table, pqdist the full (vec_id, m, code) distance
    table the query-side ADC LUT slices from.

    ``fit_where`` (e.g. ``"WHERE s.vec_id % 10 <> 9"``) restricts the
    rows the FIT iterations see while the final coding CTEs still
    cover the whole corpus — the frozen-model contract of
    :func:`q_ann_index_incremental`.  ``pqcent_0`` ranks the sample
    ids among those same rows, mirroring :func:`_pq_codebook`."""
    fw = f"\n  {fit_where}" if fit_where else ""
    parts = [
        f"""
, uemb AS (
  SELECT vec_id,
         CASE WHEN sqrt(list_sum(list_transform(v, y -> y * y))) = 0.0
              THEN list_transform(v, x -> 0.0)
              ELSE list_transform(v, x -> ROUND(
                x / sqrt(list_sum(list_transform(v, y -> y * y))), 6))
         END AS v
  FROM emb
), pqms AS (SELECT unnest(range(0, {IVFPQ_M})) AS m)
, pqgrid AS (
  SELECT pqms.m, ks.code FROM pqms
  CROSS JOIN (SELECT unnest(range(0, {IVFPQ_KS})) AS code) ks
), pqsub AS (
  SELECT e.vec_id, pqms.m, {_sql_sub('e.v', 'pqms.m', IVFPQ_DSUB)} AS s
  FROM uemb e CROSS JOIN pqms
), pqcent_0 AS (
  SELECT pqms.m, e.code, {_sql_sub('e.v', 'pqms.m', IVFPQ_DSUB)} AS cs
  FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, v FROM (
      SELECT s.vec_id, s.v
      FROM (SELECT * FROM uemb WHERE vec_id >= {PQ_SAMPLE_BASE}) s{fw}
      ORDER BY s.vec_id LIMIT {IVFPQ_KS}
    )
  ) e CROSS JOIN pqms
)"""
    ]
    d2 = (
        f"ROUND(list_sum(list_transform(range(1, {IVFPQ_DSUB} + 1), "
        f"i -> (s.s[i] - c.cs[i]) * (s.s[i] - c.cs[i]))), 6)"
    )
    for it in range(1, PQ_FIT_ITERS + 1):
        prev = f"pqcent_{it - 1}"
        parts.append(
            f"""
, pqd_{it} AS (
  SELECT s.vec_id, s.m, c.code, {d2} AS d2
  FROM pqsub s JOIN {prev} c ON s.m = c.m{fw}
), pqassign_{it} AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
             ORDER BY d2 ASC, code ASC) AS rnk
    FROM pqd_{it}
  ) WHERE rnk = 1
), pqmeans_{it} AS (
  SELECT m, code, list(mu ORDER BY j) AS cs FROM (
    SELECT a.m, a.code, t.j, {_sql_micro_mean('s.s[t.j]')} AS mu
    FROM pqassign_{it} a
    JOIN pqsub s ON s.vec_id = a.vec_id AND s.m = a.m,
         (SELECT unnest(range(1, {IVFPQ_DSUB} + 1)) AS j) t
    GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
), pqcent_{it} AS (
  SELECT g.m, g.code, COALESCE(mn.cs, p.cs) AS cs
  FROM pqgrid g
  LEFT JOIN pqmeans_{it} mn ON g.m = mn.m AND g.code = mn.code
  JOIN {prev} p ON g.m = p.m AND g.code = p.code
)"""
        )
    parts.append(
        f"""
, pqdist AS (
  SELECT s.vec_id, s.m, c.code, {d2} AS d2
  FROM pqsub s JOIN pqcent_{PQ_FIT_ITERS} c ON s.m = c.m
), pqcodes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
             ORDER BY d2 ASC, code ASC) AS rnk
    FROM pqdist
  ) WHERE rnk = 1
)"""
    )
    return "".join(parts)


def _ivf_pq_oracle_ctes() -> str:
    """Coarse-fit CTEs + fitted-PQ CTEs + the shared route/score/
    shortlist CTEs of the composed index (``shortlist`` ends with
    arank)."""
    return (
        _kmeans_fit_ctes()
        + _pq_fit_ctes()
        + f"""
, corpus_cells AS (
  SELECT vec_id AS n_id, v AS n_emb, k AS c_id FROM (
    SELECT e.vec_id, e.v, c.k,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
  ) WHERE rnk = 1
), probes AS (
  SELECT q_id, q_emb, c_id FROM (
    SELECT e.vec_id AS q_id, e.v AS q_emb, c.k AS c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
    WHERE e.vec_id < {N_QUERY}
  ) WHERE rnk <= {N_PROBE}
), ivfpq_cand AS (
  SELECT p.q_id, cc.n_id
  FROM probes p JOIN corpus_cells cc ON p.c_id = cc.c_id
  WHERE p.q_id <> cc.n_id
), ivfpq_adist AS (
  SELECT ca.q_id, ca.n_id,
         CAST(SUM(CAST(FLOOR(l.d2 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS adist
  FROM ivfpq_cand ca
  JOIN pqcodes c ON c.vec_id = ca.n_id
  JOIN pqdist l ON l.vec_id = ca.q_id AND l.m = c.m AND l.code = c.code
  GROUP BY 1, 2
), shortlist AS (
  SELECT q_id, n_id, adist,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY adist ASC, n_id ASC) AS arank
  FROM ivfpq_adist
)"""
    )


ORACLE_IVF_PQ_SEARCH = (
    _ivf_pq_oracle_ctes()
    + f"""
, rerank AS (
  SELECT s.q_id, s.n_id, s.adist,
         ROUND({_DK_COS.format(a='q.v', b='n.v')}, 4) AS cosine
  FROM shortlist s
  JOIN emb q ON q.vec_id = s.q_id
  JOIN emb n ON n.vec_id = s.n_id
  WHERE s.arank <= {IVF_PQ_RERANK}
), reranked AS (
  SELECT q_id, n_id, adist, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY cosine DESC, n_id ASC) AS rank
  FROM rerank
)
SELECT q_id, n_id, adist, cosine, rank FROM reranked WHERE rank <= {TOP_K}
"""
)

ORACLE_IVF_PQ_RECALL = (
    _ivf_pq_oracle_ctes()
    + f"""
, exact AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_DK_COS.format(a='q.v', b='n.v')}, 4) DESC,
                      n.vec_id ASC) AS rank
    FROM emb q CROSS JOIN emb n
    WHERE q.vec_id < {N_QUERY} AND q.vec_id <> n.vec_id
  ) WHERE rank <= {TOP_K}
), exn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact)
, m_ivf AS (
  SELECT q_id, n_id FROM (
    SELECT s.q_id, s.n_id,
           ROW_NUMBER() OVER (PARTITION BY s.q_id
             ORDER BY s.cosine DESC, s.n_id ASC) AS rank
    FROM (
      SELECT p.q_id, cc.n_id,
             ROUND({_DK_COS.format(a='p.q_emb', b='cc.n_emb')}, 4) AS cosine
      FROM probes p JOIN corpus_cells cc ON p.c_id = cc.c_id
      WHERE p.q_id <> cc.n_id
    ) s
  ) WHERE rank <= {TOP_K}
), m_adc AS (
  SELECT q_id, n_id FROM shortlist WHERE arank <= {TOP_K}
), m_rr AS (
  SELECT q_id, n_id FROM (
    SELECT s.q_id, s.n_id,
           ROW_NUMBER() OVER (PARTITION BY s.q_id
             ORDER BY ROUND({_DK_COS.format(a='q.v', b='n.v')}, 4) DESC,
                      s.n_id ASC) AS rank
    FROM shortlist s
    JOIN emb q ON q.vec_id = s.q_id
    JOIN emb n ON n.vec_id = s.n_id
    WHERE s.arank <= {IVF_PQ_RERANK}
  ) WHERE rank <= {TOP_K}
), s_ivf AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tp
  FROM m_ivf a JOIN exact e ON a.q_id = e.q_id AND a.n_id = e.n_id
), s_adc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tp
  FROM m_adc a JOIN exact e ON a.q_id = e.q_id AND a.n_id = e.n_id
), s_rr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tp
  FROM m_rr a JOIN exact e ON a.q_id = e.q_id AND a.n_id = e.n_id
)
SELECT 'ivf_exact_cos' AS method, tp, exn.n_exact,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(exn.n_exact, 0), 4) AS recall
FROM s_ivf, exn
UNION ALL
SELECT 'ivf_pq_adc' AS method, tp, exn.n_exact,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(exn.n_exact, 0), 4) AS recall
FROM s_adc, exn
UNION ALL
SELECT 'ivf_pq_rerank' AS method, tp, exn.n_exact,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(exn.n_exact, 0), 4) AS recall
FROM s_rr, exn
"""
)

# Restates q_ann_index_incremental: the fit CTEs see only the base
# slice (the frozen model), the coding CTEs (cells + pqcodes) cover
# the FULL corpus — so the oracle IS the from-scratch recode of the
# grown corpus and a hash match proves merge ≡ rebuild.
ORACLE_ANN_INDEX_INCREMENTAL = (
    _kmeans_fit_ctes(
        fit_where=f"WHERE e.vec_id % {ANN_DELTA_MOD} <> {ANN_DELTA_REM}"
    )
    + _pq_fit_ctes(
        fit_where=f"WHERE s.vec_id % {ANN_DELTA_MOD} <> {ANN_DELTA_REM}"
    )
    + f"""
, cells AS (
  SELECT vec_id AS n_id, k AS c_id FROM (
    SELECT e.vec_id, c.k,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
  ) WHERE rnk = 1
)
SELECT cc.n_id, CAST(cc.c_id AS INT) AS c_id,
       CAST(pc.m AS INT) AS m, CAST(pc.code AS INT) AS code
FROM cells cc JOIN pqcodes pc ON pc.vec_id = cc.n_id
"""
)


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (mean / sample stddev / min /
    max) over the embedding column — the profiling pass that feeds
    normalization and whitening decisions before any similarity index
    is built.  ``posexplode`` + one hash aggregate keyed by dimension:
    map-side partial aggregation does almost all the work, and the
    shuffle moves only EMB_DIM × partial-state rows regardless of
    corpus size.  Mean/std come from exact integer micro-unit moments
    (one 6dp input quantization, then BIGINT/DECIMAL sums and a single
    float expression at the end — round 11, same class as the Lloyd
    fix: a ``ROUND(AVG(double), 6)`` can flip a 6dp boundary as
    summation order shifts); min/max are exact float values needing
    no rounding.  std = √((n·Σq² − (Σq)²) / (n(n−1))) / 1e6 on the
    exact moments — the :func:`q_embedding_covariance` diagonal rule."""
    emb = _kmeans_emb(spark, sf_dir)
    q = F.floor(F.col("val") * F.lit(1e6) + F.lit(0.5))
    # Square in DECIMAL(19,0), not LongType: a long q*q silently wraps
    # past 2^63 in non-ANSI Spark while DuckDB raises (round-11 advice;
    # same fix as q_outlier_events).  19+19 ≤ 38 keeps the product an
    # exact DECIMAL(38,0) in both engines.
    qd = q.cast("decimal(19,0)")
    moments = (
        emb.select(F.posexplode("v").alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("s1"),
            F.sum(qd * qd).alias("s2"),
            F.min("val").alias("vmin"),
            F.max("val").alias("vmax"),
        )
    )
    n = F.col("n").cast("double")
    var_micro2 = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1").cast("decimal(38,0)")
    ).cast("double") / (n * (n - F.lit(1.0)))
    return moments.select(
        "dim",
        F.round(F.col("s1").cast("double") / n / F.lit(1e6), 6).alias("mean"),
        F.round(F.sqrt(var_micro2) / F.lit(1e6), 6).alias("std"),
        "vmin",
        "vmax",
    )


ORACLE_EMBEDDING_STATS = f"""
WITH emb AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), moments AS (
  SELECT CAST(t.j - 1 AS INT) AS dim,
         COUNT(*) AS n,
         SUM(CAST(FLOOR(v[t.j] * 1000000.0 + 0.5) AS BIGINT)) AS s1,
         SUM(CAST(FLOOR(v[t.j] * 1000000.0 + 0.5) AS DECIMAL(19,0))
             * CAST(FLOOR(v[t.j] * 1000000.0 + 0.5) AS DECIMAL(19,0))) AS s2,
         MIN(v[t.j]) AS vmin,
         MAX(v[t.j]) AS vmax
  FROM emb, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS j) t
  GROUP BY 1
)
SELECT dim,
       ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mean,
       ROUND(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2
                       - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0))
                       AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             / 1000000.0, 6) AS std,
       vmin, vmax
FROM moments
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding corpus — the
    input to PCA whitening (:func:`pca_project`), computed with EXACT
    integer arithmetic so the matrix crosses engines bit-identically.

    Each value is quantized once to integer micro-units; every
    pairwise product q_i*q_j is then an exact BIGINT and the
    mean-centered moment n*S(q_i q_j) - S(q_i)*S(q_j) accumulates in
    DECIMAL(38,0) (the corr_matrix sum-order rule — BIGINT overflows
    near 2^63 long before lake scale).  The only float ops are the
    final casts and the cov_nano quantization, identical expressions
    both engines.

    Scale shape: one corpus scan exploding d(d+1)/2 = 2080 pair cells
    per row, immediately collapsed by map-side partial aggregation —
    the shuffle carries at most 2080 rows per task regardless of
    corpus size; the per-dimension sums ride the same pattern (64
    rows) and join the pair cells broadcast.  Nothing data-sized
    leaves the first stage.
    """
    emb = _kmeans_emb(spark, sf_dir)
    qa = F.transform(
        F.col("v"), lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("long")
    )
    quant = emb.select(qa.alias("qa"))
    pairs_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
            lambda i: F.transform(
                F.sequence(i, F.lit(EMB_DIM - 1)),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (
                        F.element_at(F.col("qa"), i + 1)
                        * F.element_at(F.col("qa"), j + 1)
                    ).alias("p"),
                ),
            ),
        )
    )
    cells = (
        quant.select(F.explode(pairs_arr).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c.p").cast("decimal(38,0)")).alias("sp"),
        )
    )
    dims = (
        quant.select(F.posexplode("qa").alias("d", "q"))
        .groupBy("d")
        .agg(F.sum(F.col("q").cast("decimal(38,0)")).alias("s"))
    )
    di = dims.select(F.col("d").alias("i"), F.col("s").alias("si"))
    dj = dims.select(F.col("d").alias("j"), F.col("s").alias("sj"))
    sij = (
        F.col("n").cast("decimal(38,0)") * F.col("sp")
        - F.col("si") * F.col("sj")
    )
    cov_nano = F.floor(
        sij.cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        / F.lit(1e12)
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    return (
        cells.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            "i",
            "j",
            "n",
            sij.cast("double").alias("sij"),
            cov_nano.alias("cov_nano"),
        )
    )


ORACLE_EMB_COVARIANCE = f"""
WITH q AS (
  SELECT list_transform(
           embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
         ) AS qa
  FROM embeddings
), pairs AS (
  SELECT ii.i AS i, jj.j AS j, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(qa[ii.i + 1] AS HUGEINT)
             * CAST(qa[jj.j + 1] AS HUGEINT)) AS sp
  FROM q,
       (SELECT unnest(range(0, {EMB_DIM})) AS i) ii,
       (SELECT unnest(range(0, {EMB_DIM})) AS j) jj
  WHERE jj.j >= ii.i
  GROUP BY 1, 2
), dims AS (
  SELECT dd.d AS d, SUM(CAST(qa[dd.d + 1] AS HUGEINT)) AS s
  FROM q, (SELECT unnest(range(0, {EMB_DIM})) AS d) dd
  GROUP BY 1
)
SELECT p.i, p.j, p.n,
       CAST(p.n * p.sp - di.s * dj.s AS DOUBLE) AS sij,
       CAST(FLOOR(CAST(p.n * p.sp - di.s * dj.s AS DOUBLE)
                  / (CAST(p.n AS DOUBLE) * CAST(p.n - 1 AS DOUBLE))
                  / 1e12 * 1e9 + 0.5) AS BIGINT) AS cov_nano
FROM pairs p
JOIN dims di ON p.i = di.d
JOIN dims dj ON p.j = dj.d
"""


PCA_COMPONENTS = 8


def _pca_fit_components(spark: SparkSession, sf_dir: str, k: int):
    """Top-``k`` principal components of the embedding corpus: driver
    eigh over the exact d x d covariance (:func:`q_embedding_covariance`
    — the same bounded-metadata collect as the k-means codebook), with
    the largest-|coefficient| entry of each component made positive so
    the result is deterministic (eigenvectors are sign-ambiguous).
    Returns ``(comps d x k, explained k)``."""
    import numpy as np

    cov_rows = q_embedding_covariance(spark, sf_dir).collect()
    d = EMB_DIM
    cov = np.zeros((d, d))
    for r in cov_rows:
        v = r.cov_nano / 1e9
        cov[r.i, r.j] = v
        cov[r.j, r.i] = v
    vals, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order]  # d x k
    for c in range(comps.shape[1]):  # deterministic sign
        m = np.argmax(np.abs(comps[:, c]))
        if comps[m, c] < 0:
            comps[:, c] = -comps[:, c]
    return comps, vals[order]


def pca_project(
    spark: SparkSession, sf_dir: str, k: int = PCA_COMPONENTS
) -> DataFrame:
    """PCA projection (whitening front-end for the ANN family): fit
    the top-``k`` principal components from the exact covariance
    matrix (:func:`q_embedding_covariance`) and project every
    embedding onto them.

    The eigendecomposition runs on the DRIVER over the d x d matrix —
    dimension-bounded (64x64 here), the same bounded-metadata
    pattern as the k-means codebook collect — and the component
    matrix broadcasts into an Arrow-batched ``mapInPandas``
    projection (one matmul per batch, no per-row Python).  Sign
    convention: each component's largest-|coefficient| entry is made
    positive, so the output is deterministic (eigenvectors are
    otherwise sign-ambiguous, which is also why this operator has no
    SQL oracle — the covariance feeding it is the driver-checked
    surface).
    """
    import numpy as np

    comps, explained = _pca_fit_components(spark, sf_dir, k)
    bc = spark.sparkContext.broadcast(
        (comps.astype("float64"), explained.astype("float64"))
    )

    emb = _load_vectors(spark, sf_dir)

    def project(batches):
        import pandas as pd

        mat, _ = bc.value
        for pdf in batches:
            x = np.vstack(pdf["v"].to_numpy())  # batch x d
            proj = x @ mat  # batch x k
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "proj": list(proj)}
            )

    return emb.mapInPandas(
        project, schema="vec_id long, proj array<double>"
    )


def q_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified (centroid-based) silhouette for the
    fitted k-means clustering — the clustering-quality report a
    curation pipeline reads before trusting cluster-confined passes
    like :func:`q_semantic_dedup`.

    Exact silhouette is O(n²); the standard scale substitute scores
    each point by centroid distances only: a = dist to own centroid,
    b = min dist to any other, s = (b − a) / max(a, b).  That keeps
    the whole computation ONE projection over the corpus against the
    K broadcast centroid literals (the same argmin-over-literals
    shape as :func:`q_kmeans_assign` — no join, no per-point shuffle)
    followed by a K-row aggregate.

    Exactness: distances reuse the 6dp-rounded squared-L2 expression
    both engines share; s quantizes once to integer micro-units per
    point and aggregates as exact integer sums (sum-order rule), with
    the mean derived from the sum by one identical floor division."""
    emb = _kmeans_emb(spark, sf_dir)
    celled = emb.select(_cells(F.col("v"), _kmeans_fit(emb)).alias("cells"))
    cells = F.col("cells")
    asg = F.array_min(cells)  # struct order = (d2, k): lowest-k tie-break
    scored = celled.select(
        asg["k"].alias("cluster"),
        F.sqrt(asg["d2"]).alias("a"),
        F.sqrt(
            F.array_min(
                F.filter(cells, lambda s: s["k"] != asg["k"])
            )["d2"]
        ).alias("b"),
    )
    s = F.when(
        F.greatest("a", "b") > 0,
        (F.col("b") - F.col("a")) / F.greatest("a", "b"),
    ).otherwise(F.lit(0.0))
    return (
        scored.select(
            "cluster",
            F.floor(s * 1e6 + F.lit(0.5)).cast("long").alias("s_micro"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("s_micro").alias("sum_sil_micro"),
        )
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "n_members",
            "sum_sil_micro",
            F.floor(
                F.col("sum_sil_micro").cast("double")
                / F.col("n_members").cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("mean_sil_micro"),
        )
    )


ORACLE_KMEANS_SILHOUETTE = (
    _kmeans_fit_ctes()
    + f"""
, d_all AS (
  SELECT e.vec_id, c.k, {_sql_d2('e.v', 'c.c')} AS d2
  FROM emb e CROSS JOIN {_CENT_FINAL} c
), asg AS (
  SELECT vec_id, k AS cluster, d2 AS a2 FROM (
    SELECT vec_id, k, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, k ASC) AS rnk
    FROM d_all
  ) WHERE rnk = 1
), scored AS (
  SELECT a.vec_id, a.cluster, SQRT(a.a2) AS a,
         SQRT(MIN(d.d2)) AS b
  FROM asg a JOIN d_all d ON a.vec_id = d.vec_id AND d.k <> a.cluster
  GROUP BY 1, 2, 3
), s_micro AS (
  SELECT cluster,
         CAST(FLOOR(CASE WHEN GREATEST(a, b) > 0
                         THEN (b - a) / GREATEST(a, b) ELSE 0.0 END
                    * 1e6 + 0.5) AS BIGINT) AS s_micro
  FROM scored
)
SELECT CAST(cluster AS INTEGER) AS cluster,
       COUNT(*) AS n_members,
       CAST(SUM(s_micro) AS BIGINT) AS sum_sil_micro,
       CAST(FLOOR(CAST(SUM(s_micro) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT)
         AS mean_sil_micro
FROM s_micro GROUP BY 1
"""
)


PROBE_SWEEP = (1, 2, 4)


def q_ann_probe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess — the IVF tuning curve: recall@k of the
    FITTED IVF index against exact brute-force ground truth at each
    probe count in ``PROBE_SWEEP``.  This is the table a 100 TB
    deployment reads to pick N_PROBE: recall rises with probes while
    scan cost rises linearly, and guessing either way burns a cluster.

    One shared k-means fit serves every sweep point (the fit is the
    expensive half); each point reuses the same posting lists and
    differs only in the probe cut.  Ground truth is the exact cosine
    top-k (brute force — affordable ONLY as an audit over the
    N_QUERY-row query set, the same boundedness argument as
    ann_bruteforce).  tp joins are on (q_id, n_id) over
    N_QUERY·TOP_K-row relations.

    The ground-truth relation and the posting-list assignment are each
    localCheckpointed ONCE and shared by every sweep point: without
    that, `exact` is inlined into all three tp joins plus ex_n (six
    brute-force subtrees in the before-plan) and the corpus argmin
    projection re-runs per probe count.  Checkpointing the posting
    list is exactly what a deployment does — the fitted assignment IS
    the banked index (see materialize_ann_index)."""
    emb = _kmeans_emb(spark, sf_dir)
    centroids = _kmeans_fit(emb)
    posting = _posting_assign(emb, centroids).localCheckpoint(eager=True)
    methods = [
        (p, _ivf_fitted_topk(emb, centroids, p, posting=posting))
        for p in PROBE_SWEEP
    ]
    return _recall_table("n_probe", methods, _exact_truth(emb))


def _oracle_ann_probe_recall() -> str:
    exact = f"""
, exact AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_DK_COS.format(a='q.v', b='n.v')}, 4) DESC,
                      n.vec_id ASC) AS rank
    FROM emb q CROSS JOIN emb n
    WHERE q.vec_id < {N_QUERY} AND q.vec_id <> n.vec_id
  ) WHERE rank <= {TOP_K}
), exn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact)
, corpus_cells AS (
  SELECT vec_id AS n_id, v AS n_emb, k AS c_id FROM (
    SELECT e.vec_id, e.v, c.k,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
  ) WHERE rnk = 1
)"""
    stats = []
    for p in PROBE_SWEEP:
        stats.append(f"""
, probes_{p} AS (
  SELECT q_id, q_emb, c_id FROM (
    SELECT e.vec_id AS q_id, e.v AS q_emb, c.k AS c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_d2('e.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM emb e CROSS JOIN {_CENT_FINAL} c
    WHERE e.vec_id < {N_QUERY}
  ) WHERE rnk <= {p}
), approx_{p} AS (
  SELECT q_id, n_id FROM (
    SELECT s.q_id, s.n_id,
           ROW_NUMBER() OVER (PARTITION BY s.q_id
             ORDER BY s.cosine DESC, s.n_id ASC) AS rank
    FROM (
      SELECT p.q_id, cc.n_id,
             ROUND({_DK_COS.format(a='p.q_emb', b='cc.n_emb')}, 4) AS cosine
      FROM probes_{p} p JOIN corpus_cells cc ON p.c_id = cc.c_id
      WHERE p.q_id <> cc.n_id
    ) s
  ) WHERE rank <= {TOP_K}
), stat_{p} AS (
  SELECT {p} AS n_probe,
         CAST(COUNT(*) AS BIGINT) AS tp
  FROM approx_{p} a JOIN exact e ON a.q_id = e.q_id AND a.n_id = e.n_id
)""")
        # each stat CTE joins exn in the final select
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST(n_probe AS INT) AS n_probe, tp, exn.n_exact, "
        f"ROUND(CAST(tp AS DOUBLE) / NULLIF(exn.n_exact, 0), 4) AS recall "
        f"FROM stat_{p}, exn"
        for p in PROBE_SWEEP
    )
    return _kmeans_fit_ctes() + exact + "".join(stats) + "\n" + selects


def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ quantization quality: how much squared-L2 error
    the code assignment leaves behind, per subspace — the audit that
    says whether PQ_KS codes per subspace are enough before ADC search
    results are trusted.  Pure aggregation over the already-oracled
    code table (one corpus projection + an M-row aggregate); the
    6dp-rounded per-row errors quantize to exact micro-units before
    the sum (sum-order rule), mean by one identical floor division."""
    emb = _kmeans_emb(spark, sf_dir)
    codes = _pq_assign(emb, _pq_codebook(emb), "m", "code", "err2")
    err_micro = F.floor(
        F.col("err2") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    return (
        codes.groupBy(F.col("m").cast("int").alias("m"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(err_micro).alias("sum_err2_micro"),
            F.countDistinct("code").alias("codes_used"),
        )
        .select(
            "m",
            "n_vectors",
            "sum_err2_micro",
            "codes_used",
            F.floor(
                F.col("sum_err2_micro").cast("double")
                / F.col("n_vectors").cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("mean_err2_micro"),
        )
    )


def q_cluster_label_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering validation: normalized mutual information
    and purity of the fitted k-means assignment against the ground-
    truth ``label`` column — the metric that tells a curation pipeline
    whether its cluster-confined passes (semantic_dedup) align with
    real structure.

    Exact-integer decomposition (the priority_entropy convention):
    every log term is floor-quantized to integer micro-nats at the
    CELL level — I(K;L) cells use n_kl·ln(n_kl·N/(n_k·n_l)), the two
    entropies use n·ln(n) — so all three aggregates are
    order-independent integer sums and the only engine-boundary
    floats are one ln per cell and the final NMI division.  Purity is
    purely integral: Σ_k max_l n_kl over N.

    Scale shape: one corpus projection against the broadcast centroid
    literals (argmin — no join), one hash aggregate to the K×L cell
    table, and everything after runs on ≤ K·L rows."""
    base = spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    )
    centroids = _kmeans_fit(base.select("vec_id", "v"))
    assigned = _kmeans_assign(base, centroids).select("cluster", "label")
    # K×L rows; five consumers (nk, nl, nn, joint, purity) — without
    # the checkpoint each one re-runs the corpus argmin projection +
    # cell aggregate (the before-plan held five scan subtrees).
    cells = assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n_kl")
    ).localCheckpoint(eager=True)
    nk = cells.groupBy("cluster").agg(F.sum("n_kl").alias("n_k"))
    nl = cells.groupBy("label").agg(F.sum("n_kl").alias("n_l"))
    # n is summed over `cells` BEFORE the nk/nl joins — mirroring the
    # oracle's nn CTE exactly, so a NULL cluster/label (dropped by the
    # equi-joins in both engines) can never desync n between them.
    nn = cells.agg(F.sum("n_kl").alias("n"))
    joint = (
        cells.join(F.broadcast(nk), "cluster")
        .join(F.broadcast(nl), "label")
        .crossJoin(F.broadcast(nn))
    )
    micro = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")
    i_term = micro(
        F.col("n_kl").cast("double")
        * F.log(
            F.col("n_kl").cast("double")
            * F.col("n").cast("double")
            / (F.col("n_k").cast("double") * F.col("n_l").cast("double"))
        )
    )
    ent = lambda c: micro(c.cast("double") * F.log(c.cast("double")))
    agg = joint.agg(
        F.first("n").alias("n"),
        F.countDistinct("cluster").alias("n_clusters"),
        F.countDistinct("label").alias("n_labels"),
        F.sum(i_term).alias("i_sum_micro"),
    )
    hk = nk.agg(F.sum(ent(F.col("n_k"))).alias("hk_cell_micro"))
    hl = nl.agg(F.sum(ent(F.col("n_l"))).alias("hl_cell_micro"))
    pure = (
        cells.groupBy("cluster")
        .agg(F.max("n_kl").alias("mx"))
        .agg(F.sum("mx").alias("purity_hits"))
    )
    out = agg.crossJoin(hk).crossJoin(hl).crossJoin(pure)
    nd = F.col("n").cast("double")
    i_val = F.col("i_sum_micro").cast("double") / 1e6 / nd
    h_k = F.log(nd) - F.col("hk_cell_micro").cast("double") / 1e6 / nd
    h_l = F.log(nd) - F.col("hl_cell_micro").cast("double") / 1e6 / nd
    nmi = F.when(
        (h_k > 0) & (h_l > 0),
        F.floor(i_val / F.sqrt(h_k * h_l) * 1e6 + F.lit(0.5)) / 1e6,
    )
    purity = (
        F.floor(
            F.col("purity_hits").cast("double") / nd * 1e6 + F.lit(0.5)
        )
        / 1e6
    )
    return out.select(
        "n",
        "n_clusters",
        "n_labels",
        "i_sum_micro",
        "hk_cell_micro",
        "hl_cell_micro",
        "purity_hits",
        nmi.alias("nmi"),
        purity.alias("purity"),
    )


ORACLE_CLUSTER_LABEL_NMI = (
    _kmeans_fit_ctes()
    + f"""
, labeled AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label
  FROM embeddings
), asg AS (
  SELECT vec_id, label, k AS cluster FROM (
    SELECT l.vec_id, l.label, c.k,
           ROW_NUMBER() OVER (PARTITION BY l.vec_id
             ORDER BY {_sql_d2('l.v', 'c.c')} ASC, c.k ASC) AS rnk
    FROM labeled l CROSS JOIN {_CENT_FINAL} c
  ) WHERE rnk = 1
), cells AS (
  SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS n_kl
  FROM asg GROUP BY 1, 2
), nk AS (SELECT cluster, CAST(SUM(n_kl) AS BIGINT) AS n_k FROM cells GROUP BY 1),
nl AS (SELECT label, CAST(SUM(n_kl) AS BIGINT) AS n_l FROM cells GROUP BY 1),
nn AS (SELECT CAST(SUM(n_kl) AS BIGINT) AS n FROM cells),
joint AS (
  SELECT c.cluster, c.label, c.n_kl, k.n_k, l.n_l, nn.n
  FROM cells c JOIN nk k USING (cluster) JOIN nl l USING (label), nn
), agg AS (
  SELECT MAX(n) AS n,
         CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
         CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
         CAST(SUM(CAST(FLOOR(CAST(n_kl AS DOUBLE)
               * LN(CAST(n_kl AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(n_k AS DOUBLE) * CAST(n_l AS DOUBLE)))
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS i_sum_micro
  FROM joint
), hk AS (
  SELECT CAST(SUM(CAST(FLOOR(CAST(n_k AS DOUBLE) * LN(CAST(n_k AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS hk_cell_micro FROM nk
), hl AS (
  SELECT CAST(SUM(CAST(FLOOR(CAST(n_l AS DOUBLE) * LN(CAST(n_l AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS hl_cell_micro FROM nl
), pure AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS purity_hits
  FROM (SELECT cluster, MAX(n_kl) AS mx FROM cells GROUP BY 1)
)
SELECT a.n, a.n_clusters, a.n_labels, a.i_sum_micro,
       hk.hk_cell_micro, hl.hl_cell_micro, p.purity_hits,
       CASE WHEN (LN(CAST(a.n AS DOUBLE))
                  - CAST(hk.hk_cell_micro AS DOUBLE) / 1e6 / CAST(a.n AS DOUBLE)) > 0
             AND (LN(CAST(a.n AS DOUBLE))
                  - CAST(hl.hl_cell_micro AS DOUBLE) / 1e6 / CAST(a.n AS DOUBLE)) > 0
       THEN FLOOR(
              (CAST(a.i_sum_micro AS DOUBLE) / 1e6 / CAST(a.n AS DOUBLE))
              / SQRT((LN(CAST(a.n AS DOUBLE))
                      - CAST(hk.hk_cell_micro AS DOUBLE) / 1e6 / CAST(a.n AS DOUBLE))
                     * (LN(CAST(a.n AS DOUBLE))
                        - CAST(hl.hl_cell_micro AS DOUBLE) / 1e6 / CAST(a.n AS DOUBLE)))
              * 1e6 + 0.5) / 1e6
       END AS nmi,
       FLOOR(CAST(p.purity_hits AS DOUBLE) / CAST(a.n AS DOUBLE) * 1e6 + 0.5)
         / 1e6 AS purity
FROM agg a, hk, hl, pure p
"""
)


# Pinned PCA components (round-8 verdict item 5): nano-quantized
# eigenvector coefficients, PCA_COMPONENTS rows x EMB_DIM columns,
# fitted ONCE at the driver's correctness scale with
# ``python tools/pin_pca.py`` and shipped as literals so the Spark
# query and the DuckDB oracle share the exact same matrix at every
# scale factor.  eigh itself is not SQL-restatable; the fit is covered
# by the oracled ``embedding_covariance`` + the planted-axes unit
# test, and THIS surface value-checks the distributed projection.
PCA_PINNED_NANO: tuple[tuple[int, ...], ...] = (
    (-209639798, -120573271, 36547189, 11819823, 75669733, 13214945, 90584220, 286617809, 49546791, 414056555, 65304786, 182080199, 65131885, -36530783, 171149395, -185350107, 88990253, -157027507, -30137084, 32178795, 61212593, -110687863, -83475527, -55436816, 19550274, 199125823, -37517165, 149506910, -172879140, -6123928, -58715494, 62037892, 296538096, 106163313, -32042188, 104143031, 44539117, 61464023, 13005965, 21771101, -116678935, 5525273, -240838026, 95707349, -28307099, -225127460, 8731641, -79036867, -83680854, -118451527, 120459684, 72483089, -17185687, 81603863, -15032759, -66764517, -55650961, -51375616, 60197002, -91138842, 121986894, 50650586, -218211250, -102013917),
    (-3837201, -54430865, -12568567, -88133452, 174858170, 25214572, 74946458, -69982005, 77447722, 30696455, 105758237, -17882518, 12975590, 133697544, 14559784, 41391547, 148411287, 360309074, -54188483, -50764818, 32543165, 35391149, 65334658, -309122059, -257681893, -239065451, -20637733, -223509, -86285799, -174533427, -24067981, -217544877, 29464071, 61538140, 33753233, 79219304, 59467437, 36498357, 182107008, 46673508, 8638, 46987620, -62767343, -179190502, 172687300, -188835421, -46946066, 145778945, 112924235, -113280805, -157431576, -81975818, 12980206, -16092574, 238034225, 23384124, -302820133, 16383017, 135434420, -121586213, -83669536, 84839689, -443196, -78615763),
    (-148043631, -85123897, -63946940, -457796, -204374982, -43742004, 117753906, -284498680, 44402106, 23715660, -51180032, 35701762, -60179569, -34551910, 9449280, -234545697, 171372828, -84927589, 116047650, 77328902, 13131715, 175307846, -100648147, 53375390, 92557790, 100083547, 90637679, -134142867, 10278591, -105404119, -122860342, 90912519, 48251730, -180661078, -29769417, -102163181, 139077781, -212551798, -63456719, -103929687, 189479576, 190109493, -125854416, -208932703, 165865310, 52837419, 42796937, 18019677, -68320152, -51275376, -129498913, -106454497, 227800305, -153295223, -179152568, -1920207, -5379698, 109725011, 182794948, -52684361, -69558150, 288431034, -90080236, -75530208),
    (68087175, 62691818, 8786532, 172524144, -257964254, 107122764, -23205224, 177544998, -115218245, 136204068, 7643389, 201942228, -60776072, -140225875, -93115195, 49306890, 96827954, 71427908, -9317683, -203162002, -225473412, 157658174, -11857465, 73233612, 27467582, -119086569, 116455504, -3832452, 128925585, -104519791, 152114697, 200575324, -81410626, -17675220, -116500456, 316190657, -116717864, -148440542, -10253046, -48285510, -14505889, -179310, -85651744, -17433549, -75736284, -41520072, -13621257, 369405382, -108513808, -153441717, 66472884, -19776461, 9332755, 5397445, -21911458, 101473839, -170909980, 92929132, -170722651, -73919234, -192063322, -96219232, -84047540, 26295356),
    (-15083802, 13519610, -173892878, 22542583, 168960539, 308665756, -253094159, -106926899, -17909335, -66131402, -142848187, 361966246, 118300678, 117434254, 114940664, 55717509, -118721329, -113162175, -19022381, -245350196, 31912635, 34455635, -11090227, -109267888, 124750953, 166165827, 35269781, -141378339, -26185803, -182600470, 42271087, 16176277, -62295708, -28464818, -39872151, -53840119, -88026388, 235248962, 49053293, -263073666, -56560045, -100892423, -7516598, -50566196, 117239905, 9090826, -34997679, -20596562, 102960363, -212357076, -133754238, -83336368, -166696228, 96941218, -217878886, -4214554, -5634342, 42295336, 105651731, -4698847, 54060484, 32492896, 72616351, 65457395),
    (-85441116, 11076948, -174430326, 199717485, 8515056, -29358278, 160187291, -13845192, -112902394, -42295877, 22158208, 36048890, -182302878, 478478270, -85519136, -17419521, 24877392, -196614266, -209696676, -102889593, -63406569, 34680427, 168365039, 34227425, 6175311, -22545304, -184349820, -25273677, 12002069, -52428592, 160649598, -102255490, -158912859, -183941154, -95223800, 15106192, 170469409, 55331950, -75203892, 204144581, -41850895, 269392687, -179156537, -44813580, -38454767, -116105079, 120824677, -7042731, 30181954, 47813001, 163797329, 14020845, 66078177, 111557105, -98578472, -93157399, -89694524, -103181070, -17878426, 136582874, 76578114, -74163547, 76911020, 14380282),
    (-104675409, 43348660, 330823797, 52809660, 71547520, -239578785, -35971426, -50251426, 5446660, 215590347, -257250326, 80072297, 233532257, 63445789, 106960743, 195544805, 54969652, -158990214, -67737709, 47291582, -41213939, -66684809, -47791134, 27070886, -58880559, 8833990, -138990253, -158658700, 40306568, -125841335, 153661763, -225861330, -111819707, 104938479, 14503437, -188917876, 7212392, -204020798, -132550504, -204495876, 195718446, 87219443, 24971107, -17673154, -66018377, -64664642, -136596166, 44331800, -132115683, -86083672, -50071580, 218180457, 46031049, 149484966, 100367304, 65367329, -14217574, -11947249, -24573890, 14622313, -158237664, -45258519, 130151161, -37123445),
    (280539125, -137158003, -41268570, 73326085, -19158792, -148486805, -113004886, 88897314, -17384742, 93503398, 153844249, -95338840, 103369117, 22933382, 75438190, 181782268, -160230757, 28634075, -51345873, -17840179, -9984743, 166715828, -3604531, 258527993, -157914664, 56125851, -98220278, -40298822, -14822342, 44012312, 48236567, -80105800, 29626138, 45613614, 103462977, -207261865, -144795272, -112115942, -32951124, 27501192, -101058010, -127308844, -191015225, -88993815, 111293400, 65802243, -142563405, 216763167, 141314032, -18007857, 232057506, -195089666, 10138406, 16705067, -187695948, -49310958, 12940987, -45928890, 316406875, 133030674, 3274098, 51654488, -158509959, -202794672),
)


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the pinned component matrix — the oracled
    surface of the PCA family (the runtime-fit path is
    :func:`pca_project`; ref `Modelo de Previsão de Vendas.py` has no
    PCA — this is part of the beyond-reference embedding toolkit).

    Exactness: embeddings quantize once to integer micro-units and the
    component coefficients are integer nano-units, so every term of
    the matmul is an exact int64 product and the dot product is an
    exact integer SUM — order-independent by construction (the
    sum-order parity rule), which is what makes an Arrow-batched
    numpy matmul hash-match a SQL SUM.  One final identical
    floor-quantization emits integer micro-unit projections.

    Scale shape: the component matrix is a kilobyte-sized closure
    constant; the projection is ONE narrow mapInPandas pass (no
    shuffle, no join), then a posexplode to (vec_id, pc) rows.  At
    100 TB this is embarrassingly parallel and the int64 matmul is
    BLAS-free (exact), batch-bounded memory.
    """
    import numpy as np

    emb = _load_vectors(spark, sf_dir)
    qa = F.transform(
        F.col("v"), lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("long")
    )
    quant = emb.select("vec_id", qa.alias("qa"))
    comps = np.array(PCA_PINNED_NANO, dtype="int64")  # k x d

    def project(batches):
        import pandas as pd

        for pdf in batches:
            x = np.vstack(pdf["qa"].to_numpy()).astype("int64")  # n x d
            raw = x @ comps.T  # n x k, exact int64 (max |term| ~4e15)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "raw": list(raw)})

    proj = quant.mapInPandas(project, schema="vec_id long, raw array<long>")
    return proj.select(
        "vec_id", F.posexplode("raw").alias("pc", "raw_c")
    ).select(
        "vec_id",
        F.col("pc").cast("int").alias("pc"),
        F.floor(F.col("raw_c").cast("double") / 1e9 + F.lit(0.5))
        .cast("long")
        .alias("proj_micro"),
    )


def _pca_oracle() -> str:
    rows = ", ".join(
        f"({c}, [{', '.join(str(x) for x in cv)}])"
        for c, cv in enumerate(PCA_PINNED_NANO)
    )
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
         ) AS qa
  FROM embeddings
), comps AS (
  SELECT * FROM (VALUES {rows}) AS t(pc, cv)
), raw AS (
  SELECT q.vec_id, comps.pc,
         SUM(CAST(qa[d.d + 1] AS HUGEINT)
             * CAST(cv[d.d + 1] AS HUGEINT)) AS s
  FROM q, comps, (SELECT unnest(range(0, {EMB_DIM})) AS d) d
  GROUP BY 1, 2
)
SELECT vec_id, CAST(pc AS INTEGER) AS pc,
       CAST(FLOOR(CAST(s AS DOUBLE) / 1e9 + 0.5) AS BIGINT) AS proj_micro
FROM raw
"""


QUERIES = {
    "ann_bruteforce": q_ann_bruteforce,
    "embedding_covariance": q_embedding_covariance,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_fitted": q_ann_ivf_fitted,
    "kmeans_embeddings": q_kmeans_embeddings,
    "kmeans_assign": q_kmeans_assign,
    "embedding_neardup": q_embedding_neardup,
    "semantic_dedup": q_semantic_dedup,
    "pq_codes": q_pq_codes,
    "ann_pq_adc": q_ann_pq_adc,
    "ivf_pq_search": q_ivf_pq_search,
    "ivf_pq_recall": q_ivf_pq_recall,
    "ann_index_incremental": q_ann_index_incremental,
    "ann_index_on_delete": q_ann_index_on_delete,
    "embedding_stats": q_embedding_stats,
    "pca_project": q_pca_project,
    "kmeans_silhouette": q_kmeans_silhouette,
    "cluster_label_nmi": q_cluster_label_nmi,
    "ann_probe_recall": q_ann_probe_recall,
    "pq_distortion": q_pq_distortion,
}

ORACLES = {
    "ann_bruteforce": ORACLE_ANN_BRUTEFORCE,
    "embedding_covariance": ORACLE_EMB_COVARIANCE,
    "ann_ivf": ORACLE_ANN_IVF,
    "ann_ivf_fitted": ORACLE_ANN_IVF_FITTED,
    "embedding_neardup": ORACLE_EMB_NEARDUP,
    "ann_lsh": ORACLE_ANN_LSH,
    "kmeans_assign": ORACLE_KMEANS_ASSIGN,
    "kmeans_embeddings": ORACLE_KMEANS_FULL,
    "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "pq_codes": ORACLE_PQ_CODES,
    "ann_pq_adc": ORACLE_ANN_PQ_ADC,
    "ivf_pq_search": ORACLE_IVF_PQ_SEARCH,
    "ivf_pq_recall": ORACLE_IVF_PQ_RECALL,
    "ann_index_incremental": ORACLE_ANN_INDEX_INCREMENTAL,
    "ann_index_on_delete": _oracle_ann_index_on_delete(),
    "embedding_stats": ORACLE_EMBEDDING_STATS,
    "pca_project": _pca_oracle(),
    "kmeans_silhouette": ORACLE_KMEANS_SILHOUETTE,
    "cluster_label_nmi": ORACLE_CLUSTER_LABEL_NMI,
    "ann_probe_recall": _oracle_ann_probe_recall(),
    "pq_distortion": ORACLE_PQ_DISTORTION,
}
