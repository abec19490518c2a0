"""Corpus-curation operators for training-data pipelines:
benchmark decontamination and deterministic stratified sampling.

Beyond the reference inventory (its closest analogue is blacklist
filtering, `Códigos Úteis SQL/`, covered by `blacklist_filter`); part
of the training-data extension surface (SURVEY.md §7.8).  Both
operators are pure Catalyst expression pipelines with engine-agnostic
hashing, so DuckDB restates them value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.prefix import prefix_sums
from ..sources.tables import load_table, spread
from .dedup import _norm_text, hash60, sql_hash60

# GPT-3/The-Pile-style decontamination: a training doc is contaminated
# if it shares any 13-word-gram with the held-out benchmark set.
DECON_K = 13
BENCH_MOD = 20  # doc_id % 20 == 0 stands in for the external eval set


def _kgrams(toks, k: int):
    """Distinct k-word grams from a token array; short docs fall back
    to one whole-text gram (same rule as the dedup shingler)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j)) for j in range(k)]
        ),
    )
    return F.array_distinct(
        F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _doc_grams(docs: DataFrame, k: int) -> DataFrame:
    # spread() before the CPU-bound gram assembly — a small parquet
    # arrives as ONE split and would k-gram single-core (same pitfall
    # with_shingles documents); the token array materializes in its
    # own projection so the HOF lambda never re-splits per element
    toked = spread(docs, "doc_id").select(
        "doc_id", F.split(_norm_text(F.col("text")), " ").alias("toks")
    )
    return toked.select(
        "doc_id", F.explode_outer(_kgrams(F.col("toks"), k)).alias("g")
    ).filter(F.col("g").isNotNull())


def _parse_size_bytes(s: str) -> int:
    """Parse a Spark size conf value ('10485760', '10MB', '1g', '-1')
    to bytes; negative means broadcast disabled."""
    t = str(s).strip().lower()
    if t.endswith("b"):
        t = t[:-1]
    mult = 1
    for suffix, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4)):
        if t.endswith(suffix):
            t, mult = t[: -len(suffix)], m
            break
    return int(float(t)) * mult


def decontaminate(docs: DataFrame, max_broadcast_bytes: int | None = None) -> DataFrame:
    """Training docs that share ≥1 13-gram with the benchmark slice
    (GPT-3 §5 / The Pile decontamination), with the hit count.

    Scale shape: the benchmark gram set is eval-set sized (tiny next
    to a 100 TB corpus) — build it once, ``broadcast`` it, and stream
    the corpus grams through a broadcast inner join; the only shuffle
    is the final doc-keyed count.  No corpus self-join anywhere, and
    the corpus side never materializes gram lists (explode feeds the
    join row-by-row).

    The eval-sized assumption is CHECKED, not assumed: the bench gram
    set is measured (count + byte length — the bench filter is on
    doc_id, so the stats job grams only the eval slice) and the
    broadcast hint is applied only when the estimate fits
    ``max_broadcast_bytes`` (default: the session's
    autoBroadcastJoinThreshold).  Oversized eval sets fall back to a
    plain shuffled join instead of OOMing the driver."""
    spark = docs.sparkSession
    grams = _doc_grams(docs, DECON_K)
    bench = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("g")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    if max_broadcast_bytes is None:
        max_broadcast_bytes = _parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        )
    small = False
    if max_broadcast_bytes > 0:
        stats = bench.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.octet_length("g")), F.lit(0)).alias("payload"),
        ).first()
        # ~24 bytes/row of UTF8String + hashed-relation overhead on top
        # of the string payload
        small = stats["payload"] + 24 * stats["n"] <= max_broadcast_bytes
    return (
        train.join(F.broadcast(bench) if small else bench, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("gram_hits"))
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing decontamination query (see :func:`decontaminate`);
    either join strategy yields the same rows, so the oracle hash is
    strategy-independent."""
    return decontaminate(load_table(spark, sf_dir, "documents"))


ORACLE_DECONTAMINATE = f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
), toks AS (
  SELECT doc_id, string_split(t, ' ') AS w, t FROM norm
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= {DECON_K}
         THEN list_transform(range(1, len(w) - {DECON_K} + 2),
                             i -> array_to_string(w[i:i+{DECON_K}-1], ' '))
         ELSE [t] END)) AS g
  FROM toks
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % {BENCH_MOD} = 0
)
SELECT gr.doc_id, COUNT(*) AS gram_hits
FROM grams gr JOIN bench b USING (g)
WHERE gr.doc_id % {BENCH_MOD} != 0
GROUP BY gr.doc_id
"""


# Deterministic stratified sampling: per-stratum keep rates applied via
# an engine-agnostic hash of the doc id — reproducible across runs,
# engines, and cluster sizes (no RNG state, no partition sensitivity).
STRATA_RATES = {"short": 20, "medium": 50, "long": 100}  # % kept
_SHORT_MAX = 60  # words
_MEDIUM_MAX = 90


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing sampler: bucket docs by length stratum, keep a
    per-stratum percentage chosen by ``hash60(doc_id) % 100`` — the
    standard deterministic downsampling shape for corpus mixing
    (upweight long documents, thin out short ones).

    Scale shape: stateless per-row expressions only — no shuffle, no
    RNG; the filter composes with scan pushdown and the sample is
    stable under repartitioning (the hash depends on the row, not the
    partition)."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(_norm_text(F.col("text")), " "))
    stratum = (
        F.when(n_words <= _SHORT_MAX, F.lit("short"))
        .when(n_words <= _MEDIUM_MAX, F.lit("medium"))
        .otherwise(F.lit("long"))
    )
    rate = F.create_map(
        *[x for k, v in STRATA_RATES.items() for x in (F.lit(k), F.lit(v))]
    )[stratum]
    bucket = hash60(F.col("doc_id").cast("string")) % 100
    return (
        docs.select(
            "doc_id",
            stratum.alias("stratum"),
            n_words.alias("n_words"),
            bucket.alias("bucket"),
        )
        .filter(F.col("bucket") < rate)
        .select("doc_id", "stratum", "n_words")
    )


WSAMPLE_N = 100


def weighted_sample_keys(docs: DataFrame, weight_col) -> DataFrame:
    """(doc_id, weight, key): Efraimidis–Spirakis A-ES sampling keys —
    rank by ``ln(u) / w`` with ``u = (hash60(doc_id)+1) / 2^60``; the
    top-N rows by key are a weighted sample WITHOUT replacement whose
    inclusion probability scales with the weight (Efraimidis &
    Spirakis 2006; equivalent to ranking by u^(1/w)).  Deterministic —
    u comes from the engine-agnostic hash, no RNG — and the key is
    6dp-rounded before any ranking with a doc_id tie-break, the same
    near-tie guard every ranked float in this repo carries."""
    w = F.greatest(weight_col.cast("long"), F.lit(1))
    u = (hash60(F.col("doc_id").cast("string")) + 1).cast("double") / float(
        1 << 60
    )
    key = F.round(F.log(u) / w.cast("double"), 6)
    return docs.select(
        "doc_id", w.alias("weight"), key.alias("key")
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional corpus subsample: the WSAMPLE_N documents
    with the largest A-ES keys, weighted by document length — the
    standard shape for quality- or length-weighted training-data
    subsampling at scale.

    Scale shape: the key is one stateless per-row expression (no RNG
    state, stable under repartitioning), and the selection is
    orderBy+limit — Spark's TakeOrdered keeps a bounded N-row heap per
    partition and merges heaps on the driver, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = weighted_sample_keys(docs, F.col("n_chars"))
    return keyed.orderBy(
        F.desc("key"), F.asc("doc_id")
    ).limit(WSAMPLE_N)


ORACLE_WEIGHTED_SAMPLE = f"""
WITH keyed AS (
  SELECT doc_id,
         GREATEST(CAST(n_chars AS BIGINT), 1) AS weight,
         ROUND(ln(CAST({sql_hash60("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
                  / {float(1 << 60)!r})
               / CAST(GREATEST(CAST(n_chars AS BIGINT), 1) AS DOUBLE),
               6) AS key
  FROM documents
)
SELECT doc_id, weight, key FROM keyed
ORDER BY key DESC, doc_id ASC
LIMIT {WSAMPLE_N}
"""


ORACLE_SAMPLE_STRATIFIED = f"""
WITH base AS (
  SELECT doc_id,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_words
  FROM documents
), tagged AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words <= {_SHORT_MAX} THEN 'short'
              WHEN n_words <= {_MEDIUM_MAX} THEN 'medium'
              ELSE 'long' END AS stratum,
         {sql_hash60("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM base
)
SELECT doc_id, stratum, CAST(n_words AS INT) AS n_words
FROM tagged
WHERE bucket < CASE stratum WHEN 'short' THEN {STRATA_RATES['short']}
                            WHEN 'medium' THEN {STRATA_RATES['medium']}
                            ELSE {STRATA_RATES['long']} END
"""


# Sequence packing: concatenate-and-chunk the token stream into
# fixed-length training sequences, sharded so the prefix sum stays a
# partitioned window (a GLOBAL cumsum would serialize onto one
# partition — the sharded form is how packing runs in practice, one
# deterministic shard per worker).
SEQ_LEN = 512
PACK_SHARDS = 32


def pack_spans(sized: DataFrame, seq_len: int = SEQ_LEN) -> DataFrame:
    """(doc_id, shard, n_tokens) → packed sequence spans: within each
    shard the running token offset places a doc at sequences
    ``[offset/L, (offset+n-1)/L]``.  One window partitioned by shard,
    ordered by doc_id — embarrassingly parallel across shards."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.withColumn("cum", F.sum("n_tokens").over(w))
    offset = F.col("cum") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(offset / seq_len).cast("int").alias("start_seq"),
        F.floor((F.col("cum") - 1) / seq_len).cast("int").alias("end_seq"),
    )


def pack_sequences(
    docs: DataFrame, seq_len: int = SEQ_LEN, shards: int | None = None
) -> DataFrame:
    """Map each doc to its span of fixed-length training sequences
    under concatenate-and-chunk packing (docs split across sequence
    boundaries, the standard pretraining layout).

    Scale shape: ONE window partitioned by the deterministic shard key
    (doc_id % shards) ordered by doc_id — no global ordering, no
    driver round-trip; output is deterministic given ``shards``
    because both shard and order derive from doc_id.  ``shards``
    defaults to the session's ``defaultParallelism`` so the packing
    window scales with the cluster (a fixed constant caps window
    parallelism at that constant regardless of executor count); pass
    an explicit value when reproducibility across cluster sizes
    matters more than parallelism."""
    if shards is None:
        shards = docs.sparkSession.sparkContext.defaultParallelism
    n_tokens = F.size(F.split(_norm_text(F.col("text")), " "))
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % F.lit(shards)).alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    return pack_spans(base, seq_len)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing packing query, pinned at shards=PACK_SHARDS so
    the result (and the DuckDB oracle hash) is identical regardless of
    the machine the gate runs on; production callers use
    :func:`pack_sequences` and inherit cluster-sized sharding."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, shards=PACK_SHARDS)


ORACLE_PACK_SEQUENCES = f"""
WITH base AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM base
)
SELECT doc_id, shard, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor((c - n_tokens) / {SEQ_LEN}) AS INT) AS start_seq,
       CAST(floor((c - 1) / {SEQ_LEN}) AS INT) AS end_seq
FROM cum
"""


def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse view of :func:`pack_sequences`, in the shape a
    training dataloader actually consumes: for every (shard, seq)
    training sequence, the ordered manifest of document segments that
    fill it — 'doc_id:start-end' entries with 0-based within-sequence
    token bounds — plus fill stats (every sequence is exactly SEQ_LEN
    full except each shard's final partial one).

    Scale shape: the same single sharded prefix-sum window as packing,
    one explode bounded by each doc's sequence span, and one
    (shard, seq)-keyed aggregate.  Manifest entries order by segment
    start, so the string is engine-agnostic."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(_norm_text(F.col("text")), " "))
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % F.lit(PACK_SHARDS)).alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "off", F.col("cum") - F.col("n_tokens")
    )
    seqs = cum.select(
        "doc_id",
        "shard",
        "cum",
        "off",
        F.explode(
            F.sequence(
                F.floor(F.col("off") / SEQ_LEN).cast("int"),
                F.floor((F.col("cum") - 1) / SEQ_LEN).cast("int"),
            )
        ).alias("seq"),
    )
    seg_start = F.greatest(F.col("off") - F.col("seq") * SEQ_LEN, F.lit(0)).cast("int")
    seg_end = (
        F.least(F.col("cum") - F.col("seq") * SEQ_LEN, F.lit(SEQ_LEN)) - 1
    ).cast("int")
    entries = seqs.select(
        "shard",
        "seq",
        seg_start.alias("a"),
        (seg_end - seg_start + 1).alias("seg_len"),
        F.concat_ws(
            "", F.col("doc_id").cast("string"), F.lit(":"),
            seg_start.cast("string"), F.lit("-"), seg_end.cast("string"),
        ).alias("entry"),
    )
    return (
        entries.groupBy("shard", "seq")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("seg_len").cast("int").alias("filled"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("a", "entry"))),
                    lambda s: s["entry"],
                ),
                ",",
            ).alias("manifest"),
        )
        .select(
            F.col("shard").cast("int").alias("shard"),
            F.col("seq").cast("int").alias("seq"),
            "n_docs",
            "filled",
            "manifest",
        )
    )


ORACLE_PACK_MANIFEST = f"""
WITH base AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM base
), seqs AS (
  SELECT doc_id, shard, c, c - n_tokens AS off,
         unnest(range(CAST(floor((c - n_tokens) / {SEQ_LEN}) AS BIGINT),
                      CAST(floor((c - 1) / {SEQ_LEN}) AS BIGINT) + 1)) AS seq
  FROM cum
), segs AS (
  SELECT shard, seq,
         CAST(greatest(off - seq * {SEQ_LEN}, 0) AS INT) AS a,
         CAST(least(c - seq * {SEQ_LEN}, {SEQ_LEN}) - 1 AS INT) AS b,
         doc_id
  FROM seqs
)
SELECT CAST(shard AS INT) AS shard, CAST(seq AS INT) AS seq,
       CAST(COUNT(*) AS INT) AS n_docs,
       CAST(SUM(b - a + 1) AS INT) AS filled,
       string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(a AS VARCHAR) || '-' || CAST(b AS VARCHAR),
                  ',' ORDER BY a) AS manifest
FROM segs
GROUP BY shard, seq
"""


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing report: per (source, lang) document and token
    counts with each cell's share of total tokens — the table a
    mixture-weight decision reads (what sample_stratified then
    enforces).

    Scale shape: one hash aggregate on (source, lang) plus a
    broadcast-friendly windowed total over the tiny aggregate
    (cells = |sources|×|langs|, never data-sized)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(_norm_text(F.col("text")), " "))
    cells = (
        docs.select("source", "lang", n_tokens.alias("n"))
        .groupBy("source", "lang")
        .agg(F.count("*").alias("docs"), F.sum("n").alias("tokens"))
    )
    total = F.sum("tokens").over(Window.partitionBy())
    return cells.select(
        "source",
        "lang",
        "docs",
        "tokens",
        F.round(F.col("tokens") / total * 100, 4).alias("token_pct"),
    )


MIX_ALPHA = 0.3          # temperature exponent (Pile / mT5 convention)
MIX_BUDGET_TOKENS = 1_000_000


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture allocation: per-source sampling
    weights w_s ∝ tokens_s^α (α = MIX_ALPHA — the exponent that
    up-weights small sources, the standard multilingual/Pile mixing
    rule), and an integer token budget split across sources by
    largest remainder so the allocations reconcile EXACTLY to the
    budget.  Emits the effective up/down-sampling factor per source.

    Determinism: each pow(tokens, α) is ONE float op quantized to
    integer micro-units before any summation (the sum-order rule —
    a float Σ over pow terms would be merge-order-sensitive), so the
    normalization and the Hamilton split are exact integer arithmetic;
    the reported weight/factor columns are 4dp floor-quantized
    display values.

    Scale shape: one hash aggregate over the corpus (map-side
    combined) to a |sources|-row relation; every window after runs on
    that metadata-sized list."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(_norm_text(F.col("text")), " "))
    cells = (
        docs.select("source", n_tokens.alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("tokens"))
    )
    w_micro = F.floor(
        F.pow(F.col("tokens").cast("double"), F.lit(float(MIX_ALPHA))) * 1e6
        + F.lit(0.5)
    ).cast("long")
    weighted = cells.withColumn("w_micro", w_micro)
    w_all = Window.partitionBy(F.lit(1))
    weighted = weighted.withColumn("w_tot", F.sum("w_micro").over(w_all))
    base = F.expr(f"{MIX_BUDGET_TOKENS} * w_micro div w_tot")
    rem = F.expr(f"{MIX_BUDGET_TOKENS} * w_micro % w_tot")
    shares = (
        weighted.withColumn("base", base)
        .withColumn("rem", rem)
        .withColumn(
            "short",
            F.lit(MIX_BUDGET_TOKENS) - F.sum("base").over(w_all),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy(F.lit(1)).orderBy(
                    F.desc("rem"), F.asc("source")
                )
            ),
        )
    )
    alloc = F.col("base") + (F.col("rnk") <= F.col("short")).cast("long")
    return shares.select(
        "source",
        F.col("tokens").cast("long").alias("tokens"),
        (
            F.floor(
                F.col("w_micro").cast("double")
                / F.col("w_tot").cast("double")
                * 10000
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("weight_bp"),
        alloc.alias("alloc_tokens"),
        (
            F.floor(
                alloc.cast("double") / F.col("tokens").cast("double") * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("sample_factor"),
    )


ORACLE_TEMPERATURE_MIX = f"""
WITH cells AS (
  SELECT source,
         SUM(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')))
           AS tokens
  FROM documents GROUP BY 1
), weighted AS (
  SELECT source, tokens,
         CAST(FLOOR(pow(CAST(tokens AS DOUBLE), {float(MIX_ALPHA)!r}) * 1e6 + 0.5)
              AS BIGINT) AS w_micro
  FROM cells
), norm AS (
  SELECT *, SUM(w_micro) OVER () AS w_tot FROM weighted
), shares AS (
  SELECT *,
         CAST({MIX_BUDGET_TOKENS} * w_micro // w_tot AS BIGINT) AS base,
         CAST({MIX_BUDGET_TOKENS} * w_micro % w_tot AS BIGINT) AS rem
  FROM norm
), ranked AS (
  SELECT *,
         {MIX_BUDGET_TOKENS} - SUM(base) OVER () AS short,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rnk
  FROM shares
)
SELECT source,
       CAST(tokens AS BIGINT) AS tokens,
       FLOOR(CAST(w_micro AS DOUBLE) / CAST(w_tot AS DOUBLE) * 10000 * 10000
             + 0.5) / 10000 AS weight_bp,
       CAST(base + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_tokens,
       FLOOR(CAST(base + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS DOUBLE)
             / CAST(tokens AS DOUBLE) * 10000 + 0.5) / 10000 AS sample_factor
FROM ranked
"""


ORACLE_CORPUS_MIX = """
WITH base AS (
  SELECT source, lang,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n
  FROM documents
), cells AS (
  SELECT source, lang, COUNT(*) AS docs, SUM(n) AS tokens
  FROM base GROUP BY source, lang
)
SELECT source, lang, docs, CAST(tokens AS BIGINT) AS tokens,
       ROUND(CAST(tokens AS DOUBLE) / SUM(tokens) OVER () * 100, 4) AS token_pct
FROM cells
"""


# CCNet-style perplexity filtering (public description in Wenzek et
# al. 2020): score every doc by the cross-entropy of a unigram LM
# trained on a held-in corpus slice; high-NLL docs are out-of-domain
# or garbage.  Add-1 smoothing covers OOV words; per-word log-probs
# round to 6dp BEFORE the per-doc average (as similarity._cells rounds
# each distance) so the ln() of both engines cannot diverge in the hash.
LM_HOLDIN_MOD = 5  # doc_id % 5 != 0 trains the LM; every doc is scored


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram negative log-likelihood against a held-in LM.

    Scale shape: the LM is one hash aggregate over the held-in word
    stream (vocabulary-sized result); N and V are a 1-row aggregate
    cross-joined as literals; scoring is a word-keyed join of the
    corpus stream against the vocabulary (broadcast at natural-corpus
    vocab sizes) plus one doc-keyed average.  No driver collect.
    """
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    words = docs.select(
        "doc_id",
        F.explode(
            F.split(_norm_text(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("w"),
    ).filter(F.length("w") > 0)

    train = words.filter(F.col("doc_id") % LM_HOLDIN_MOD != 0)
    # the LM itself (vocabulary-sized); totals and the scoring join
    # both read it — checkpoint so the held-in token-stream aggregate
    # runs once, exactly the "fit once, serve many" shape.
    vocab = (
        train.groupBy("w")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    # distinct names: Spark resolves case-insensitively by default, so
    # totals' N would collide with vocab's n
    totals = vocab.agg(
        F.sum("n").alias("tok_total"), F.count("*").alias("vocab_size")
    )

    # Per-word log-probs quantize to INTEGER micro-nats (round(ln·1e6)
    # as BIGINT) and the doc aggregate sums integers — exact in both
    # engines — before one final integer-round to 4dp.  A 6dp-rounded
    # DOUBLE mean (the previous shape) can land exactly on a 4dp half
    # boundary (Σ(k·1e-6)/n terminating at the 5th decimal), where the
    # engines' float representations disagree on the rounding
    # direction: sf0.1 hit exactly that (3.40235 → 3.4023 vs 3.4024).
    # Integer sums have no such representation ambiguity; the only
    # float op left is one division of exact integers, bit-identical
    # in both engines, and the .5 integer-round boundary is exactly
    # representable so both engines' away-from-zero rule agrees.
    scored = (
        words.join(vocab, "w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.coalesce(F.col("n"), F.lit(0)) + 1)
                    / (F.col("tok_total") + F.col("vocab_size")).cast("double")
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return nll_from_micro(scored)


def nll_from_micro(scored: DataFrame) -> DataFrame:
    """(doc_id, lp_micro) → (doc_id, n_words, nll): integer micro-nat
    sum, one exact-integer division, away-from-zero round to 4dp —
    the tie-safe aggregation (see the quantization note above); split
    out so the regression test can drive it over constructed
    half-boundary sums."""
    n_words = F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        n_words.cast("int").alias("n_words"),
        (
            F.round((-F.sum("lp_micro")).cast("double") / (n_words * F.lit(100.0)))
            / F.lit(10000.0)
        ).alias("nll"),
    )


# DSIR-style data selection (public method: Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling"): hash
# word features into a small bucket space, estimate the target-domain
# and raw-corpus feature distributions, and score every document by
# its average per-feature log-likelihood ratio — the importance
# weight used to resample a 100 TB raw crawl toward a target domain.
# The target sample here is the deterministic slice lang='en' AND
# doc_id % DSIR_TARGET_MOD == 0 (a held-in domain exemplar set);
# add-1 smoothing over the bucket space covers empty buckets.  The
# same integer micro-nat quantization as lm_perplexity keeps the
# per-doc average tie-safe across engines.
DSIR_BUCKETS = 4096
DSIR_TARGET_MOD = 7


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR importance score: average hashed-unigram
    log-likelihood ratio (target || raw), micro-nat-summed then
    4dp-rounded by exact integer division.

    Scale shape: one explode of the corpus token stream; the bucket
    log-ratio table is DSIR_BUCKETS rows (broadcast); scoring is a
    broadcast join plus one doc-keyed aggregate.  Nothing in the plan
    grows faster than the token stream and no driver collect."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    feats = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(
                F.split(_norm_text(F.coalesce(F.col("text"), F.lit(""))), " ")
            ).alias("w"),
        )
        .filter(F.length("w") > 0)
        .select(
            "doc_id",
            "lang",
            (hash60(F.col("w")) % DSIR_BUCKETS).cast("int").alias("b"),
        )
    )
    # ONE aggregate pass over the token stream computes both
    # distributions (conditional count for the target slice); the
    # second and last pass over the stream is the scoring join below
    is_tgt = (F.col("lang") == "en") & (F.col("doc_id") % DSIR_TARGET_MOD == 0)
    # DSIR_BUCKETS rows; totals + lam both read it — one checkpoint,
    # one token-stream aggregate instead of two.
    counts = feats.groupBy("b").agg(
        F.count("*").alias("src_n"),
        F.count(F.when(is_tgt, 1)).alias("tgt_n"),
    ).localCheckpoint(eager=True)
    totals = counts.agg(
        F.sum("src_n").alias("src_total"), F.sum("tgt_n").alias("tgt_total")
    )
    lam = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            (
                F.log(
                    (F.col("tgt_n") + 1)
                    / (F.col("tgt_total") + DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("src_n") + 1)
                    / (F.col("src_total") + DSIR_BUCKETS).cast("double")
                )
            )
            * F.lit(1e6)
        )
        .cast("long")
        .alias("lam_micro"),
    )
    n_feats = F.count(F.lit(1))
    return (
        feats.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            n_feats.cast("int").alias("n_feats"),
            (
                F.round(
                    F.sum("lam_micro").cast("double") / (n_feats * F.lit(100.0))
                )
                / F.lit(10000.0)
            ).alias("dsir_score"),
        )
    )


ORACLE_DSIR_SCORES = f"""
WITH words AS (
  SELECT doc_id, lang,
         unnest(string_split(regexp_replace(lower(trim(coalesce(text,''))), '\\s+', ' ', 'g'), ' ')) AS w
  FROM documents
), feats AS (
  SELECT doc_id, lang,
         CAST({sql_hash60("w")} % {DSIR_BUCKETS} AS INT) AS b
  FROM words WHERE w != ''
), tgt_counts AS (
  SELECT b, COUNT(*) AS tgt_n FROM feats
  WHERE lang = 'en' AND doc_id % {DSIR_TARGET_MOD} = 0 GROUP BY b
), src_counts AS (
  SELECT b, COUNT(*) AS src_n FROM feats GROUP BY b
), totals AS (
  SELECT (SELECT SUM(tgt_n) FROM tgt_counts) AS tgt_total,
         (SELECT SUM(src_n) FROM src_counts) AS src_total
), lam AS (
  SELECT s.b,
         CAST(ROUND((ln((COALESCE(t.tgt_n, 0) + 1) / CAST(tt.tgt_total + {DSIR_BUCKETS} AS DOUBLE))
                   - ln((s.src_n + 1) / CAST(tt.src_total + {DSIR_BUCKETS} AS DOUBLE))) * 1000000)
              AS BIGINT) AS lam_micro
  FROM src_counts s LEFT JOIN tgt_counts t USING (b) CROSS JOIN totals tt
)
SELECT f.doc_id, CAST(COUNT(*) AS INT) AS n_feats,
       ROUND(CAST(SUM(l.lam_micro) AS DOUBLE) / (COUNT(*) * 100.0)) / 10000.0 AS dsir_score
FROM feats f JOIN lam l USING (b)
GROUP BY f.doc_id
"""


ORACLE_LM_PERPLEXITY = f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(coalesce(text,''))), '\\s+', ' ', 'g'), ' ')) AS w
  FROM documents
), wf AS (
  SELECT doc_id, w FROM words WHERE w != ''
), vocab AS (
  SELECT w, COUNT(*) AS n FROM wf WHERE doc_id % {LM_HOLDIN_MOD} != 0 GROUP BY w
), totals AS (
  SELECT SUM(n) AS N, COUNT(*) AS V FROM vocab
), scored AS (
  SELECT wf.doc_id,
         CAST(ROUND(ln((COALESCE(v.n, 0) + 1) / CAST(t.N + t.V AS DOUBLE)) * 1000000) AS BIGINT)
           AS lp_micro
  FROM wf LEFT JOIN vocab v USING (w) CROSS JOIN totals t
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_words,
       ROUND(CAST(-SUM(lp_micro) AS DOUBLE) / (COUNT(*) * 100.0)) / 10000.0 AS nll
FROM scored
GROUP BY doc_id
"""


N_SHARDS_BALANCE = 16


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance report for the hash-sharded training export
    (``writers.write_training_shards`` uses the same
    ``hash60(key) % N`` placement): docs and tokens per shard plus
    each shard's share of the corpus — the audit that catches a
    skewed shard before a 1000-worker dataloader does.  One hash
    aggregate; the share window runs over N_SHARDS rows."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    sharded = docs.select(
        (hash60(F.col("doc_id").cast("string")) % N_SHARDS_BALANCE)
        .cast("int")
        .alias("shard"),
        F.size(F.split(_norm_text(F.col("text")), " ")).alias("n_tokens"),
    )
    agg = sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    return agg.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("doc_share"),
    )


ORACLE_SHARD_BALANCE = f"""
WITH sharded AS (
  SELECT CAST({sql_hash60('CAST(doc_id AS VARCHAR)')} % {N_SHARDS_BALANCE} AS INT) AS shard,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
           AS n_tokens
  FROM documents
), agg AS (
  SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM sharded GROUP BY 1
)
SELECT shard, n_docs, n_tokens,
       ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 4) AS doc_share
FROM agg
"""


SHUF_SALT = "epoch0"


def q_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: assign every document a
    pseudo-random total-order position (1-based) for dataloader
    consumption — the step between curation and packing that breaks
    source/time locality in the training stream.  The order is
    ``hash60(salt || doc_id)`` with doc_id tie-break, so it is
    engine-agnostic, repartition-stable, and re-keyable per epoch by
    changing the salt.

    Scale shape: the global position is ``prefix_sums``' 1-based
    position over (skey, doc_id) — a global ROW_NUMBER without a
    single-task sort.  The oracle restates the plain global window,
    proving the decomposition computes the identical permutation."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    keyed = docs.select(
        "doc_id",
        hash60(
            F.concat(F.lit(SHUF_SALT + "|"), F.col("doc_id").cast("string"))
        ).alias("skey"),
    )
    pos, _ = prefix_sums(
        keyed, [F.asc("skey"), F.asc("doc_id")], {"pos": F.lit(1)}
    )
    return pos.select("doc_id", "skey", "pos")


ORACLE_TRAINING_SHUFFLE = f"""
WITH keyed AS (
  SELECT doc_id,
         {sql_hash60(f"'{SHUF_SALT}|' || CAST(doc_id AS VARCHAR)")} AS skey
  FROM documents
)
SELECT doc_id, skey,
       CAST(ROW_NUMBER() OVER (ORDER BY skey ASC, doc_id ASC) AS BIGINT)
         AS pos
FROM keyed
"""


QUERIES = {
    "training_shuffle": q_training_shuffle,
    "decontaminate": q_decontaminate,
    "sample_stratified": q_sample_stratified,
    "weighted_sample": q_weighted_sample,
    "pack_sequences": q_pack_sequences,
    "pack_manifest": q_pack_manifest,
    "corpus_mix": q_corpus_mix,
    "temperature_mix": q_temperature_mix,
    "lm_perplexity": q_lm_perplexity,
    "dsir_scores": q_dsir_scores,
    "shard_balance": q_shard_balance,
}

ORACLES = {
    "training_shuffle": ORACLE_TRAINING_SHUFFLE,
    "decontaminate": ORACLE_DECONTAMINATE,
    "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
    "weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "pack_manifest": ORACLE_PACK_MANIFEST,
    "corpus_mix": ORACLE_CORPUS_MIX,
    "temperature_mix": ORACLE_TEMPERATURE_MIX,
    "lm_perplexity": ORACLE_LM_PERPLEXITY,
    "shard_balance": ORACLE_SHARD_BALANCE,
    "dsir_scores": ORACLE_DSIR_SCORES,
}
