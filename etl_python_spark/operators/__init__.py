"""Operator family: analytics queries + large-scale pipeline operators.

Each module exposes ``QUERIES: dict[str, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[str, str]`` (DuckDB-runnable ANSI SQL with the same
output column names).  ``all_queries()`` / ``all_oracles()`` merge them,
in module order, for ``__spark_entry__.py``; ``tests/test_queries_smoke.py``
holds every query to its oracle with the strict comparator of
``tools/check_correctness.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


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
