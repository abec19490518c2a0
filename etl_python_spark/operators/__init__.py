"""Operator family: analytics queries + large-scale pipeline operators.

Each module exposes ``QUERIES: dict[str, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[str, str]`` (DuckDB-runnable ANSI SQL with the same
output column names).  ``all_queries()`` / ``all_oracles()`` merge them,
in module order, for ``__spark_entry__.py``; ``tests/test_queries_smoke.py``
holds every query to its oracle with the strict comparator of
``tools/check_correctness.py``.

``HEADLINE`` and ``EXTENDED`` are the benched query lists: ``bench.py``
sums the headline group into its headline total and reports the
heavy-family extended group beside it, and
``python -m etl_python_spark.pipelines`` runs the headline group by
default.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

HEADLINE = [
    "pricing_summary",
    "faturamento_rollup",
    "top_customers_per_nation",
    "year_pivot",
    "range_condition_join",
    "preagg_join",
    "latest_order_per_customer",
    "sessionize",
    "hourly_event_counts",
    "supplier_region_share",
    "sla_leadtime",
    "sliding_event_counts",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash",
    "text_quality",
    "ann_bruteforce",
    "ann_ivf",
    "multimodal_metadata",
    "media_features",
    "json_export",
]

# the heaviest queries (ML-scale fits, graph kernels, dedup endgame,
# IVF×PQ index and its lifecycle compositions), kept out of the
# headline total so that series stays comparable
EXTENDED = [
    "ann_ivf_fitted",
    "kmeans_embeddings",
    "dedup_components",
    "semantic_dedup",
    "pagerank_copurchase",
    "fuzzy_components",
    "market_basket",
    "leakage_safe_split",
    "ivf_pq_search",
    "ivf_pq_recall",
    "ann_index_on_delete",
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        out.update(mod.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(mod.ORACLES)
    return out


def _modules():
    from . import (
        affinity,
        analytics_core,
        analytics_joins,
        analytics_windows,
        bpe,
        catalog,
        corpus,
        curation,
        dedup,
        events,
        fuzzy,
        multimodal,
        payroll,
        similarity,
        skew,
        stats,
        text,
        vocab,
    )
    from ..ml import forecast
    from ..streaming import file_stream

    return (
        affinity,
        analytics_core,
        analytics_joins,
        analytics_windows,
        bpe,
        catalog,
        corpus,
        curation,
        dedup,
        events,
        fuzzy,
        multimodal,
        payroll,
        similarity,
        skew,
        stats,
        text,
        vocab,
        forecast,
        file_stream,
    )
