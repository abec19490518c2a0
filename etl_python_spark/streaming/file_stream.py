"""Structured Streaming pipelines over the events file source.

The reference's closest analogue is watchdog folder-monitoring + full
batch re-runs (SURVEY.md §2.9); the Spark-native form is the file
source with ``trigger(availableNow=True)``: identical batch-like
semantics, but incremental, checkpointed, and watermark-aware when run
continuously.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the same ts
    normalization as the batch reader (``normalize_event_ts`` handles
    INT64 nanos, TIMESTAMP_NTZ, and TimestampType alike — watermarks
    require plain TimestampType)."""
    from ..sources.tables import normalize_event_ts

    return normalize_event_ts(_table_stream(spark, sf_dir, "events"))


def _table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """readStream over ``<sf_dir>/<table>.parquet`` handling BOTH
    physical layouts: a directory of part files (any real landing zone
    / multi-task write) is monitored directly, while a single flat
    file (the driver's testdata) streams its parent with a glob
    selecting just that file.  A glob on the parent matches the
    DIRECTORY name, not the part files inside it, so the dir layout
    under the glob path would silently drain zero rows — the sf1 soak
    caught exactly that."""
    from ..sources.tables import table_schema

    path = os.path.join(sf_dir, f"{table}.parquet")
    schema = table_schema(spark, sf_dir, table) or spark.read.parquet(path).schema
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def _drain_to_memory(
    df: DataFrame, prefix: str, output_mode: str, timeout_s: int = 300
) -> DataFrame:
    """Run a streaming frame to completion into a memory sink
    (availableNow drain) and return the result table.  Raises if the
    drain does not finish inside ``timeout_s`` — returning a partially
    drained table would surface as a baffling nondeterministic
    row-count mismatch at the correctness gate."""
    spark = df.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming drain {name!r} did not finish in {timeout_s}s"
        )
    return spark.table(name)


def hourly_counts_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windowed aggregate with a watermark for late
    data; ``availableNow`` drains the source once and the memory sink
    holds the result — the batch-equivalent semantics are verified
    against the SQL oracle."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("janela"), F.col("event_type"))
        .agg(
            F.count("*").alias("eventos"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("valor_total"),
        )
        .select(
            F.col("janela.start").alias("hora"),
            "event_type",
            "eventos",
            "valor_total",
        )
    )
    return _drain_to_memory(agg, "hourly_counts", "complete")


ORACLE_STREAM_HOURLY = """
SELECT date_trunc('hour', ts) AS hora, event_type,
       COUNT(*) AS eventos,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS valor_total
FROM events
GROUP BY 1, 2
"""


def session_window_stream(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows (``session_window`` merges rows whose
    gaps stay under ``gap``) with a watermark bounding session state.
    Complete mode + an availableNow drain emits every session with its
    final merged extent, which makes the result batch-equivalent — the
    oracle restates the same gap rule with lag/cumsum sessionization.
    (Session-window aggregation forbids ``update`` output; ``append``
    under availableNow would stop before the watermark closes the last
    sessions.)"""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count("*").alias("eventos"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("valor_total"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "eventos",
            "valor_total",
        )
    )
    return _drain_to_memory(agg, "sessions", "complete")


ORACLE_STREAM_SESSIONS = """
WITH seq AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
),
tagged AS (
  SELECT user_id, ts, value,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM seq
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS eventos,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS valor_total
FROM tagged
GROUP BY user_id, session_no
"""


def stateful_user_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running totals kept in explicit GroupState (the pattern for
    anything session-like that ``session_window`` can't express —
    distinct-ish counters, decaying scores, per-key model state).

    Money is accumulated in integer cents inside the state so the
    result is order-independent and exactly matches the oracle's
    DECIMAL sum — float accumulation across batches would drift."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _events_stream(spark, sf_dir)

    def totals(key, pdfs, state: GroupState):
        import pandas as pd

        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            cents += int(
                (pdf["value"].astype("float64").round(2) * 100).round().sum()
            )
        state.update((cnt, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "eventos": [cnt],
                "valor_total": [cents / 100.0],
            }
        )

    result = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            totals,
            outputStructType="user_id long, eventos long, valor_total double",
            stateStructType="eventos long, cents long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _drain_to_memory(result, "user_totals", "update")


ORACLE_STREAM_USER_TOTALS = """
SELECT user_id, COUNT(*) AS eventos,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS valor_total
FROM events
GROUP BY user_id
"""

def stream_static_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream broadcast-joins the static
    customer→nation dim inside each micro-batch (the dim re-resolves
    per batch, so at scale a refreshed dim table is picked up without
    restarting the query), then aggregates per nation.  Oracled
    against the batch equivalent."""
    from ..sources.tables import load_table

    stream = _events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    joined = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    )
    agg = joined.groupBy("n_name").agg(
        F.count("*").alias("eventos"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("valor_total"),
    )
    return _drain_to_memory(agg, "enriched", "complete")


ORACLE_STREAM_ENRICHED = """
SELECT n.n_name, COUNT(*) AS eventos,
       ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS valor_total
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
"""


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase attribution): each
    purchase matches the same user's views from the preceding hour.
    Both sides carry watermarks and the join condition bounds event
    time on BOTH ends, so Spark can size the join state and expire it
    — the canonical scalable stream⨝stream shape (unbounded-range
    stream joins accumulate state forever).  Inner-join matches emit
    as they occur; availableNow drains the source once, making the
    result batch-equivalent and exactly oracle-able (pure pairs, no
    float aggregation)."""
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
        ).alias("atraso_seg"),
    )
    return _drain_to_memory(joined, "attrib", "append")


ORACLE_STREAM_STREAM_JOIN = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       v.ts AS view_ts, p.ts AS purchase_ts,
       date_diff('second', v.ts, p.ts) AS atraso_seg
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup — the ingest-side form of the corpus
    dedup ladder: collapse repeated (user, event_type, minute) keys as
    events arrive, with ``dropDuplicatesWithinWatermark`` so the dedup
    state EXPIRES once the watermark passes (plain ``dropDuplicates``
    on a stream accumulates key state forever — the unbounded-state
    cliff at production scale).  Output carries only the key columns,
    making the result deterministic (which physical row survives a
    dup group is arbitrary, the key set is not) and batch-equivalent
    to ``SELECT DISTINCT``."""
    stream = _events_stream(spark, sf_dir)
    keyed = stream.select(
        "user_id",
        "event_type",
        F.date_trunc("minute", F.col("ts")).alias("minuto"),
        F.col("ts"),
    ).withWatermark("ts", "2 hours")
    deduped = keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "minuto"]
    ).select("user_id", "event_type", "minuto")
    return _drain_to_memory(deduped, "dedup", "append")


# Batch-DISTINCT equivalence relies on the events source draining as a
# SINGLE microbatch (one file, no maxFilesPerTrigger): with multiple
# batches, a key recurring after its 2h watermark state expired would
# re-emit, making the stream output a strict superset of DISTINCT.  If
# the source ever splits into multiple files/triggers, this oracle (and
# the driver hash) breaks — revisit the dedup key horizon then.
ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minuto
FROM events
"""


def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-side incremental dedup — the continuous form
    of ``operators.dedup.q_incremental_dedup``: a document stream is
    deduped within itself (``dropDuplicates`` on the normalized-text
    hash) and then LEFT-ANTI joined per micro-batch against the static
    corpus-snapshot hash set, so only hashes never seen before — in
    this stream or in the snapshot — survive to the sink.  This is the
    stream-static ANTI join pattern (the inner variant is
    :func:`stream_static_enriched`); the static side re-resolves each
    batch, picking up snapshot refreshes without a restart.

    Output carries only ``content_hash`` (which physical doc survives
    a within-stream dup group is arbitrary; the surviving KEY SET is
    deterministic).  The hash-dedup state is deliberately NOT
    watermark-bounded: content dedup has no event-time horizon — at
    production scale the state store holds one compact hash per
    distinct doc (RocksDB-backed), and the horizon decision (e.g.
    expire after N days) belongs to the snapshot-compaction job, not
    the stream."""
    from ..operators.dedup import _norm_text
    from ..sources.tables import load_table

    stream = _table_stream(spark, sf_dir, "documents")
    h = F.md5(_norm_text(F.col("text")))
    inc = stream.filter(F.col("doc_id") % 10 >= 8).select(
        h.alias("content_hash")
    )
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 < 8)
        .select(h.alias("content_hash"))
        .distinct()
    )
    out = inc.dropDuplicates(["content_hash"]).join(
        base, "content_hash", "left_anti"
    )
    return _drain_to_memory(out, "incdedup", "append")


ORACLE_STREAM_INCREMENTAL = """
WITH hashed AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
  FROM documents
)
SELECT DISTINCT content_hash FROM hashed
WHERE doc_id % 10 >= 8
  AND content_hash NOT IN (SELECT content_hash FROM hashed WHERE doc_id % 10 < 8)
"""


#: Default cap on stored members per LSH bucket (the stream-state
#: compaction policy, round-11 verdict item 4); ``max_members=0``
#: disables the cap.
NEARDUP_MAX_BUCKET = 64


def neardup_pairs_stream(
    banded: DataFrame, max_members: int = NEARDUP_MAX_BUCKET
) -> DataFrame:
    """The stateful core of streaming near-dup detection: group the
    per-row MinHash band stream (``operators.dedup.minhash_band_stream``)
    by LSH bucket and keep each bucket's membership — (doc_id, hashed
    shingle set) — in explicit GroupState.  Every arriving doc is
    verified with EXACT Jaccard (integer set intersection over the
    carried hsets) against the bucket's existing members, emitting
    (doc_a, doc_b, inter, size_a, size_b) — exact integers only, so
    the final jaccard/threshold projection can reuse the batch
    engine's expressions verbatim (a Python ``round`` here would
    half-even where both engines half-up).

    State is per (band, key) bucket and — under the LSH premise —
    stays small; hot buckets (a common band key) are BOUNDED by the
    compaction policy: once a bucket holds ``max_members`` stored
    members, its membership is FROZEN.  A later arrival is still
    compared against every stored member (those pairs are exact and
    final), but instead of being stored it emits an OVERFLOW marker
    row (``inter = -1``, ``doc_b`` = the bucket's stored size at that
    moment, plus the bucket's (band, key)).  The only pairs the frozen
    state can no longer see are overflow×overflow within the same
    bucket; :func:`neardup_overflow_compaction` recomputes exactly
    those batch-side, so the union of stream pairs + compaction pairs
    equals the unbounded result by construction (pinned by
    ``tests/test_streaming_neardup.py``'s hot-bucket test).  State is
    therefore O(max_members · |hset|) per bucket regardless of stream
    length; at production scale it lives in the RocksDB state store
    and the compaction job runs on the batch engine where a hot
    bucket's pair join shuffles instead of growing pickled state."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def bucket_pairs(key, pdfs, state: GroupState):
        import pickle

        import pandas as pd

        band_val, key_val = int(key[0]), int(key[1])
        members = pickle.loads(state.get[0]) if state.exists else []
        batch = []
        for pdf in pdfs:
            for doc_id, hs in zip(pdf["doc_id"], pdf["hset"]):
                batch.append((int(doc_id), {int(h) for h in hs}))
        batch.sort()  # deterministic intra-batch order
        rows = []
        for doc_id, hs in batch:
            for other_id, other_hs in members:
                inter = len(hs & other_hs)
                a, b = sorted((doc_id, other_id))
                sa, sb = (
                    (len(hs), len(other_hs))
                    if a == doc_id
                    else (len(other_hs), len(hs))
                )
                rows.append((a, b, inter, sa, sb, band_val, key_val))
            if max_members and len(members) >= max_members:
                # Frozen bucket: doc compared above but NOT stored.
                # Marker carries the stored size so tests can pin
                # boundedness from inside the state function itself.
                rows.append(
                    (doc_id, len(members), -1, 0, 0, band_val, key_val)
                )
            else:
                members.append((doc_id, hs))
        state.update((pickle.dumps(members),))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_a",
                    "doc_b",
                    "inter",
                    "size_a",
                    "size_b",
                    "band",
                    "key",
                ],
            )

    return banded.groupBy("band", "key").applyInPandasWithState(
        bucket_pairs,
        outputStructType=(
            "doc_a long, doc_b long, inter int, size_a int, size_b int, "
            "band int, key long"
        ),
        stateStructType="members binary",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def neardup_overflow_compaction(
    drained: DataFrame, docs: DataFrame
) -> DataFrame:
    """Batch-side compaction for frozen LSH buckets: the pairs the
    capped stream state could not see are EXACTLY overflow×overflow
    within each bucket (an overflow arrival was still compared against
    every stored member, and stored members see all later arrivals).
    Re-derive each overflow doc's hashed-shingle set with the batch
    engine's own projection (``operators.dedup.doc_hsets`` — the same
    integer set the stream carried) and self-join within (band, key)
    on ``doc_a < doc_b`` with the same exact-integer intersection.

    Scale shape: overflow rows exist only for buckets past the cap, so
    the hset join touches |overflow| docs, and the within-bucket pair
    join is a keyed shuffle on (band, key) — the batch engine absorbs
    a hot bucket as a skewed-but-shuffled join (AQE splits it) instead
    of an O(members²) Python loop over pickled state."""
    from ..operators.dedup import doc_hsets

    ov = (
        drained.filter(F.col("inter") < 0)
        .select("band", "key", F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    with_hs = ov.join(doc_hsets(docs), "doc_id")
    a = with_hs.select(
        "band",
        "key",
        F.col("doc_id").alias("doc_a"),
        F.col("hset").alias("hs_a"),
    )
    # fresh attribute ids on the b side: the two branches share the
    # memory-sink view's band/key attributes, which Spark's self-join
    # dedup does not re-alias
    b = with_hs.select(
        F.col("band").alias("band_b"),
        F.col("key").alias("key_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("hset").alias("hs_b"),
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("key") == F.col("key_b")),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            inter.cast("int").alias("inter"),
            F.size("hs_a").cast("int").alias("size_a"),
            F.size("hs_b").cast("int").alias("size_b"),
        )
    )


def finish_neardup(pairs: DataFrame) -> DataFrame:
    """Post-drain projection shared with the late-data test: dedup the
    cross-band re-emissions (a pair found in two buckets yields
    identical integer rows), then compute the 4dp jaccard and apply
    the ≥ 0.2 threshold with the SAME Spark expressions as the batch
    :func:`operators.dedup.q_minhash_lsh_pairs` — value parity with
    its oracle is by construction.  Accepts the raw drained stream
    output (overflow markers filtered, bucket columns dropped so a
    pair found in two buckets collapses) or an already-5-column pair
    frame from the compaction union."""
    keep = [c for c in pairs.columns if c not in ("band", "key")]
    pairs = pairs.filter(F.col("inter") >= 0).select(*keep)
    union = (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    ).cast("double")
    return (
        pairs.distinct()
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )


def stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate detection (round-9 verdict item 6):
    the continuous form of MinHash+LSH dedup.  Per-row signatures and
    band keys (no aggregation — ``minhash_band_stream``), stateful
    LSH-bucket membership via ``applyInPandasWithState``, exact
    integer Jaccard verification against bucket members, and the
    batch engine's own rounding/threshold at the sink.  Batch-
    equivalent to ``q_minhash_lsh_pairs`` — same (doc_a, doc_b,
    jaccard) rows, same DuckDB oracle — while pairs across
    micro-batches are found through state, not recomputation (the
    late-data test pins that).

    Bucket state is bounded by the compaction policy (round-11 verdict
    item 4): buckets freeze at ``NEARDUP_MAX_BUCKET`` stored members
    and the drained overflow markers route exactly the missed
    overflow×overflow comparisons through
    :func:`neardup_overflow_compaction` on the batch engine — the
    final pair set is unbounded-equivalent by construction, so the
    DuckDB oracle is unchanged."""
    from ..operators.dedup import minhash_band_stream
    from ..sources.tables import load_table

    stream = _table_stream(spark, sf_dir, "documents")
    out = neardup_pairs_stream(minhash_band_stream(stream))
    drained = _drain_to_memory(out, "neardup", "update")
    stream_pairs = drained.filter(F.col("inter") >= 0).select(
        "doc_a", "doc_b", "inter", "size_a", "size_b"
    )
    compacted = neardup_overflow_compaction(
        drained, load_table(spark, sf_dir, "documents")
    )
    return finish_neardup(stream_pairs.unionByName(compacted))


def stream_upsert_sink(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    timeout_s: int = 300,
    checkpoint_dir: str | None = None,
    transactional: bool = False,
) -> None:
    """Streaming CDC ingest into an idempotent keyed table:
    ``foreachBatch`` reduces each micro-batch to its latest row per
    user (argmax on event time within the batch) and MERGEs it into a
    plain-parquet state table via :func:`sources.writers.merge_upsert`
    — the standard stream→serving-table sink when the lake has no
    transactional format.  Batch semantics are last-writer-wins per
    key, which is correct when the source is ordered per key (the CDC
    contract); ``availableNow`` drains the landing directory with
    ``maxFilesPerTrigger=1`` so every file replays as its own batch,
    exactly how an arrival-ordered landing zone behaves.

    At scale: each batch's merge touches only the partitions its keys
    live in (merge_upsert prunes), and the per-batch argmax is one
    keyed aggregate over the batch, never the table.

    Pass a stable ``checkpoint_dir`` to make the job resumable AND
    re-runnable: the file-source checkpoint records which landing
    files each batch consumed, so a re-run over an unchanged landing
    directory replays nothing (exactly-once file accounting), and a
    run after new files arrive processes only those — the operational
    contract a scheduled ingest needs.  The default fresh tempdir
    reprocesses everything (merge keeps that idempotent in content
    terms, but it re-reads the data).

    ``transactional=True`` routes the merge through the atomic commit
    protocol (:mod:`..sources.txn`): the target becomes a versioned
    txn table and a concurrent reader can never observe a half-merged
    state.  Replay idempotence uses the (txnAppId, txnVersion) pair
    every table format's idempotent-foreachBatch pattern uses: the
    commit record carries ``txn_app_id`` (derived from the checkpoint
    location, the identity that makes batch ids comparable) plus
    ``batch_id``, and a batch is skipped iff some commit from the SAME
    app id already published it.  Batch id alone would be unsound:
    batch numbering restarts at 0 with every fresh checkpoint, so a
    new run's batch 0 — which reprocesses the landing dir including
    NEW files — would look "already published" and be silently
    dropped.  For the same reason ``transactional=True`` requires an
    explicit persistent ``checkpoint_dir``: exactly-once publish is
    meaningless across runs that can't share file accounting."""
    from pyspark.sql import Window

    from ..sources.tables import normalize_event_ts
    from ..sources.txn import list_versions, read_commit, txn_merge_upsert
    from ..sources.writers import merge_upsert

    if transactional and checkpoint_dir is None:
        raise ValueError(
            "transactional=True requires a persistent checkpoint_dir: "
            "a fresh tempdir restarts batch ids at 0, making the "
            "replay-skip guard drop new data"
        )
    schema = spark.read.parquet(landing_dir).schema
    app_id = os.path.abspath(checkpoint_dir) if checkpoint_dir else None

    def _last_published_batch() -> int | None:
        """Newest commit from THIS app id, scanning the (small) commit
        log newest-first — robust to interleaved commits from other
        writers (a compaction job, another stream)."""
        for v in sorted(list_versions(spark, target_path), reverse=True):
            rec = read_commit(spark, target_path, v)
            meta = (rec or {}).get("app_meta") or {}
            if meta.get("txn_app_id") == app_id:
                return meta.get("batch_id")
        return None

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if transactional:
            last_bid = _last_published_batch()
            if last_bid is not None and batch_id <= last_bid:
                return  # crash-replayed batch already published
            txn_merge_upsert(
                spark,
                latest,
                target_path,
                keys=["user_id"],
                app_meta={"txn_app_id": app_id, "batch_id": batch_id},
            )
        else:
            merge_upsert(spark, latest, target_path, keys=["user_id"])

    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing_dir)
    )
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_upsert_")
    q = (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream_upsert_sink did not finish in {timeout_s}s")


def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user estimation: the HLL register table is a
    plain streaming aggregate (per-bucket MAX — sketches merge by max,
    which is exactly what a stateful streaming agg maintains), drained
    complete-mode; the finalize step runs batch-side over the
    register-sized result.  The streaming state is m registers per
    event type — CONSTANT memory however many users flow past, which
    is the whole reason a streaming pipeline carries a sketch instead
    of a count-distinct (whose state grows with cardinality).  Same
    estimate arithmetic as the batch ``hll_users``
    (operators/events.py) and the same value oracle, minus the exact
    column (exact distinct is precisely what a stream cannot keep)."""
    from ..operators.events import hll_cells, hll_finalize

    stream = _events_stream(spark, sf_dir)
    bucket, rank = hll_cells(F.col("user_id"))
    regs = (
        stream.select("event_type", bucket.alias("bucket"), rank.alias("r"))
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("m_j"))
    )
    drained = _drain_to_memory(regs, "hll_regs", "complete")
    return hll_finalize(drained)


# Streaming histogram bounds must be FIXED (the batch sketch's
# min/max pre-pass is a second scan a stream cannot make): the value
# domain in cents, clamped at the edge bins.  A deployment calibrates
# these from a sample the way it sizes any streaming sketch.
STREAM_HIST_LO = 0         # cents
STREAM_HIST_HI = 50_000    # cents (value <= 500.00 in TESTDATA)
STREAM_HIST_BINS = 128


def stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming p50/p90/p99 of event value per event type: the bin
    counters are a plain streaming aggregate (counts merge by SUM —
    the mergeability that makes the histogram a sketch), drained
    complete-mode; quantile recovery runs batch-side over the
    bin-sized result via the SAME ``quantiles_from_hist`` as the batch
    sketch.  Streaming state is <=STREAM_HIST_BINS counters per event
    type — constant memory however many events flow past, which is
    why a stream carries a histogram instead of sorting for exact
    percentiles.  Bounds are fixed constants (see above) with edge-bin
    clamping, the one semantic difference from the batch sketch's
    observed min/max."""
    from ..functions.numeric import cents
    from ..operators.events import quantiles_from_hist

    stream = _events_stream(spark, sf_dir)
    span = STREAM_HIST_HI - STREAM_HIST_LO
    bin_col = F.least(
        F.greatest(
            F.expr(
                f"(xc - {STREAM_HIST_LO}) * {STREAM_HIST_BINS} div {span}"
            ),
            F.lit(0).cast("long"),
        ),
        F.lit(STREAM_HIST_BINS - 1).cast("long"),
    )
    counts = (
        stream.select("event_type", cents(F.col("value")).alias("xc"))
        .select("event_type", bin_col.cast("int").alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    drained = _drain_to_memory(counts, "hist_bins", "complete")
    w_all = Window.partitionBy("event_type")
    hist = drained.select(
        "event_type",
        F.lit(STREAM_HIST_LO).cast("long").alias("lo"),
        F.lit(STREAM_HIST_HI).cast("long").alias("hi"),
        F.sum("cnt").over(w_all).alias("n"),
        "bin",
        "cnt",
    )
    return quantiles_from_hist(hist, "event_type", STREAM_HIST_BINS)


def _stream_hist_q_sql() -> str:
    from ..operators.events import HIST_QS

    sels = []
    for name, qn, qd in HIST_QS:
        t = f"((n * {qn} + {qd} - 1) // {qd})"
        interp = (
            f"CAST(lo AS DOUBLE) + (CAST(bin AS DOUBLE) + "
            f"CAST({t} - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) * "
            f"(CAST(hi - lo AS DOUBLE) / {float(STREAM_HIST_BINS)!r})"
        )
        sels.append(
            f"FLOOR(MIN(CASE WHEN cum >= {t} AND cum - cnt < {t} "
            f"THEN {interp} END) * 100.0 + 0.5) / 10000.0 AS {name}"
        )
    return ",\n       ".join(sels)


def _oracle_stream_histogram() -> str:
    return f"""
WITH binned AS (
  SELECT event_type,
         CAST(LEAST(GREATEST(
               (CAST(FLOOR(value * 100 + 0.5) AS BIGINT) - {STREAM_HIST_LO})
                 * {STREAM_HIST_BINS} // {STREAM_HIST_HI - STREAM_HIST_LO},
               0), {STREAM_HIST_BINS - 1}) AS INT) AS bin
  FROM events
), hist AS (
  SELECT event_type,
         CAST({STREAM_HIST_LO} AS BIGINT) AS lo,
         CAST({STREAM_HIST_HI} AS BIGINT) AS hi,
         bin, COUNT(*) AS cnt
  FROM binned GROUP BY 1, 4
), cum AS (
  SELECT *,
         SUM(cnt) OVER (PARTITION BY event_type) AS n,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_rows,
       {{QS}},
       FLOOR(CAST(hi - lo AS DOUBLE) / {float(STREAM_HIST_BINS)!r} * 100.0 + 0.5)
         / 10000.0 AS bin_width
FROM cum
GROUP BY event_type, lo, hi, n
""".replace("{QS}", _stream_hist_q_sql())


ORACLE_STREAM_HLL = """
WITH hashed AS (
  SELECT event_type,
         ('0x'||substring(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
  FROM events
), ranked AS (
  SELECT event_type, h % 512 AS bucket,
         CASE WHEN h // 512 = 0 THEN 52 ELSE 52 - length(printf('%b', h // 512)) END AS r
  FROM hashed
), regs AS (
  SELECT event_type, bucket, MAX(r) AS m_j FROM ranked GROUP BY 1, 2
), per_type AS (
  SELECT event_type, COUNT(*) AS n_registers,
         SUM(((1::BIGINT) << (52 - m_j))::DECIMAL(38,0)) AS s_present
  FROM regs GROUP BY 1
), est AS (
  SELECT event_type, n_registers,
         CAST(s_present + (512 - n_registers)::DECIMAL(38,0)
                          * ((1::BIGINT) << 52)::DECIMAL(38,0) AS DOUBLE) AS s_total
  FROM per_type
), raw AS (
  SELECT event_type, n_registers,
         (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 * 4503599627370496.0
           / s_total AS e_raw,
         512 - n_registers AS v_zero
  FROM est
)
SELECT event_type,
       ROUND(CASE WHEN e_raw <= 1280.0 AND v_zero > 0
                  THEN 512.0 * ln(512.0 / CAST(v_zero AS DOUBLE))
                  ELSE e_raw END, 1) AS est_distinct,
       CAST(n_registers AS INT) AS n_registers
FROM raw
"""


def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: the d×w cell table is a plain
    streaming COUNT aggregate (CMS cells merge by SUM — the
    mergeability that makes it a sketch), drained complete-mode;
    the probe-side min-over-rows estimate runs batch-side against the
    drained 4096-cell result.  Streaming state is d·w = 4096 counters
    TOTAL — constant however many users flow past, which is why a
    stream carries a CMS instead of per-key counts (whose state grows
    with key cardinality).  Identical cell hashing to the batch
    ``cms_heavy_hitters`` (operators/events.py), so the estimates
    match the batch sketch exactly; the exact per-user count is
    precisely what the stream cannot keep, so (like stream_hll_users)
    the output carries the estimate only."""
    from ..operators.dedup import hash60
    from ..operators.events import CMS_D, CMS_PROBE_MOD, CMS_W

    def cell(col):
        def one(i):
            return (
                hash60(F.concat(F.lit(f"{i}|"), col.cast("string")))
                % CMS_W
            ).cast("int")

        return F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), one(i).alias("c"))
                    for i in range(CMS_D)
                ]
            )
        )

    stream = _events_stream(spark, sf_dir)
    cells = stream.select(cell(F.col("user_id")).alias("p")).select(
        "p.i", "p.c"
    )
    sketch = cells.groupBy("i", "c").agg(F.count(F.lit(1)).alias("n"))
    drained = _drain_to_memory(sketch, "cms_cells", "complete")

    from ..sources.tables import load_table

    probe = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % CMS_PROBE_MOD == 0)
        .select("user_id")
        .distinct()
    )
    probe_cells = probe.select("user_id", cell(F.col("user_id")).alias("p"))
    return (
        probe_cells.select("user_id", "p.i", "p.c")
        .join(F.broadcast(drained), ["i", "c"])
        .groupBy("user_id")
        .agg(F.min("n").cast("long").alias("est_count"))
    )


def _oracle_stream_cms() -> str:
    from ..operators.events import CMS_PROBE_MOD, CMS_W

    return f"""
WITH rows_d AS (
  SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(i)
), cells AS (
  SELECT d.i,
         CAST(('0x'||substring(md5(d.i || '|' || CAST(e.user_id AS VARCHAR)),1,15))::BIGINT
              % {CMS_W} AS INT) AS c
  FROM events e CROSS JOIN rows_d d
), sketch AS (
  SELECT i, c, COUNT(*) AS n FROM cells GROUP BY 1, 2
), probe AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % {CMS_PROBE_MOD} = 0
), probe_cells AS (
  SELECT p.user_id, d.i,
         CAST(('0x'||substring(md5(d.i || '|' || CAST(p.user_id AS VARCHAR)),1,15))::BIGINT
              % {CMS_W} AS INT) AS c
  FROM probe p CROSS JOIN rows_d d
)
SELECT pc.user_id, CAST(MIN(s.n) AS BIGINT) AS est_count
FROM probe_cells pc JOIN sketch s USING (i, c)
GROUP BY pc.user_id
"""


PSI_STREAM_BUCKETS = 10
PSI_STREAM_LO = 0       # cents — fixed edges: a stream cannot 2-pass min/max
PSI_STREAM_HI = 50_000  # cents (value <= 500.00 in TESTDATA)
PSI_STREAM_SPLIT = "2024-01-16 00:00:00"  # reference < split <= current


def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Population Stability Index: the drift monitor a
    live scoring pipeline runs — the reference period's value
    distribution is a static batch aggregate, the current period's
    bucket counts are a plain streaming COUNT aggregate (mergeable →
    constant state: PSI_STREAM_BUCKETS counters total), and the PSI
    assembles batch-side over the drained bucket table.

    Differences from the batch ``psi_drift`` (operators/stats.py) are
    exactly the streaming constraints: bucket edges are FIXED
    constants with edge clamping (a stream cannot two-pass the
    reference min/max — same rule as stream_histogram_quantiles), and
    the period split is a timestamp constant.  The Laplace floor and
    the micro-quantized per-bucket terms are identical, so the
    statistic crosses engines exactly.
    """
    from ..functions.numeric import cents
    from ..sources.tables import load_table, normalize_event_ts

    split = F.lit(PSI_STREAM_SPLIT).cast("timestamp")
    span = PSI_STREAM_HI - PSI_STREAM_LO

    def bucket(col):
        return F.least(
            F.lit(PSI_STREAM_BUCKETS - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (cents(col) - F.lit(PSI_STREAM_LO)).cast("double")
                    / F.lit(float(span))
                    * F.lit(PSI_STREAM_BUCKETS)
                ).cast("int"),
            ),
        )

    cur = (
        _events_stream(spark, sf_dir)
        .filter(F.col("ts") >= split)
        .select(bucket(F.col("value")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("b_raw"))
    )
    drained = _drain_to_memory(cur, "psi_buckets", "complete")
    ref = (
        normalize_event_ts(load_table(spark, sf_dir, "events"))
        .filter(F.col("ts") < split)
        .select(bucket(F.col("value")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("a_raw"))
    )
    joined = ref.join(drained, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("a_raw", F.lit(0)).alias("a_raw"),
        F.coalesce("b_raw", F.lit(0)).alias("b_raw"),
    )
    a = F.greatest(F.col("a_raw"), F.lit(1))
    b = F.greatest(F.col("b_raw"), F.lit(1))
    w_all = Window.partitionBy()
    with_tot = joined.select(
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
        "bucket", "a_raw", "b_raw", term_micro.alias("term_micro")
    ).select("*", F.sum("term_micro").over(w_all).alias("psi_micro"))


def _oracle_stream_psi() -> str:
    span = PSI_STREAM_HI - PSI_STREAM_LO
    bexpr = (
        f"CAST(LEAST({PSI_STREAM_BUCKETS} - 1, GREATEST(0, CAST(FLOOR("
        f"CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) - {PSI_STREAM_LO} "
        f"AS DOUBLE) / {float(span)!r} * {PSI_STREAM_BUCKETS}) AS INT))) AS INT)"
    )
    return f"""
WITH ref AS (
  SELECT {bexpr} AS bucket, CAST(COUNT(*) AS BIGINT) AS a_raw
  FROM events WHERE ts < TIMESTAMP '{PSI_STREAM_SPLIT}' GROUP BY 1
), cur AS (
  SELECT {bexpr} AS bucket, CAST(COUNT(*) AS BIGINT) AS b_raw
  FROM events WHERE ts >= TIMESTAMP '{PSI_STREAM_SPLIT}' GROUP BY 1
), joined AS (
  SELECT COALESCE(r.bucket, c.bucket) AS bucket,
         COALESCE(r.a_raw, 0) AS a_raw, COALESCE(c.b_raw, 0) AS b_raw
  FROM ref r FULL OUTER JOIN cur c ON r.bucket = c.bucket
), with_tot AS (
  SELECT bucket, a_raw, b_raw,
         GREATEST(a_raw, 1) AS a, GREATEST(b_raw, 1) AS b,
         CAST(SUM(GREATEST(a_raw, 1)) OVER () AS BIGINT) AS ta,
         CAST(SUM(GREATEST(b_raw, 1)) OVER () AS BIGINT) AS tb
  FROM joined
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


QUERIES = {
    "stream_hourly_counts": hourly_counts_stream,
    "stream_psi_drift": stream_psi_drift,
    "stream_cms_heavy_hitters": stream_cms_heavy_hitters,
    "stream_static_enriched": stream_static_enriched,
    "stream_sessionize": session_window_stream,
    "stream_user_totals": stateful_user_totals_stream,
    "stream_stream_join": stream_stream_join,
    "stream_dedup_exact": stream_dedup_exact,
    "stream_incremental_dedup": stream_incremental_dedup,
    "stream_neardup": stream_neardup,
    "stream_hll_users": stream_hll_users,
    "stream_histogram_quantiles": stream_histogram_quantiles,
}


def _oracle_stream_neardup() -> str:
    # batch-equivalent by construction: same signatures, same buckets,
    # same exact-Jaccard verification — the MinHash+LSH oracle IS the
    # streaming oracle
    from ..operators.dedup import ORACLE_MINHASH_LSH

    return ORACLE_MINHASH_LSH

ORACLES = {
    "stream_hll_users": ORACLE_STREAM_HLL,
    "stream_psi_drift": _oracle_stream_psi(),
    "stream_cms_heavy_hitters": _oracle_stream_cms(),
    "stream_histogram_quantiles": _oracle_stream_histogram(),
    "stream_hourly_counts": ORACLE_STREAM_HOURLY,
    "stream_static_enriched": ORACLE_STREAM_ENRICHED,
    "stream_sessionize": ORACLE_STREAM_SESSIONS,
    "stream_user_totals": ORACLE_STREAM_USER_TOTALS,
    "stream_stream_join": ORACLE_STREAM_STREAM_JOIN,
    "stream_dedup_exact": ORACLE_STREAM_DEDUP,
    "stream_incremental_dedup": ORACLE_STREAM_INCREMENTAL,
    "stream_neardup": _oracle_stream_neardup(),
}
