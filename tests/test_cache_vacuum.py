"""Vacuum/retention cycle for the snapshot-cache roots (round-11
verdict item 7): the nightly refresh loop publishes a new version per
cycle, so without maintenance the cache root grows without bound.
Pins, against a REAL refresh loop:

- retention: ``vacuum_root`` with a window reclaims nothing younger
  than the window, so a concurrent reader (which re-resolves the
  latest commit per query) can never lose a dir it may still scan;
- a reader hammering the cached serve path across refresh+vacuum
  cycles never errors and always sees a full, byte-identical result;
- reclamation: once old versions age past the window, vacuum removes
  exactly the unreferenced dirs — what remains is the live snapshot,
  and root disk usage returns to single-version size.
"""

import os
import threading
import time
from pathlib import Path

from tests.conftest import SF_SMOKE


def _du(root: str) -> int:
    return sum(
        f.stat().st_size for f in Path(root).rglob("*") if f.is_file()
    )


def _data_du(root: str) -> int:
    """Bytes of the version data dirs only — the ``_commits/`` log is
    never vacuumed, so it grows by one record per publish."""
    return sum(
        f.stat().st_size
        for f in Path(root).rglob("*")
        if f.is_file() and "_commits" not in f.parts
    )


def _vdirs(table: str) -> set[str]:
    return {p.name for p in Path(table).iterdir() if p.name.startswith("v-")}


def _backdate(root: str, seconds: float = 7200.0) -> None:
    past = time.time() - seconds
    for table in Path(root).iterdir():
        if table.is_dir():
            for v in table.iterdir():
                if v.name.startswith("v-"):
                    os.utime(v, (past, past))


def _canon(df):
    return sorted(df.columns), sorted(
        tuple(str(v) for v in r) for r in df.collect()
    )


def test_ann_refresh_loop_vacuum_retention_with_concurrent_reader(
    spark, tmp_path
):
    from etl_python_spark import operators
    from etl_python_spark.operators.similarity import (
        ANN_CACHE_ENV,
        materialize_ann_index,
    )
    from etl_python_spark.sources.txn import read_commit, vacuum_root

    root = str(tmp_path / "ann_root")
    materialize_ann_index(spark, SF_SMOKE, root)
    qs = operators.all_queries()

    assert ANN_CACHE_ENV not in os.environ
    os.environ[ANN_CACHE_ENV] = root
    try:
        baseline = _canon(qs["ivf_pq_search"](spark, SF_SMOKE))
        baseline_bytes = _du(root)

        results, errors, stop = [], [], threading.Event()

        def reader():
            while not stop.is_set():
                try:
                    results.append(_canon(qs["ivf_pq_search"](spark, SF_SMOKE)))
                except Exception as e:  # noqa: BLE001 — the assertion target
                    errors.append(repr(e))
                    return

        t = threading.Thread(target=reader, daemon=True)
        t.start()
        try:
            # the refresh loop: each cycle publishes a new version of
            # model+index, then runs maintenance with a retention
            # window — nothing young may be reclaimed
            for _ in range(2):
                materialize_ann_index(spark, SF_SMOKE, root)
                removed = vacuum_root(spark, root, min_age_seconds=600)
                assert removed == {}, (
                    f"retention window violated: reclaimed {removed} "
                    "while younger than min_age_seconds"
                )
        finally:
            stop.set()
            t.join(timeout=300)
        assert not t.is_alive()
        assert errors == [], f"concurrent reader errored: {errors}"
        assert results, "reader never completed a query during the loop"
        assert all(r == baseline for r in results), (
            "reader observed a result differing from the published snapshot"
        )

        # three versions live on disk now; age them past the window
        # and reclaim — exactly the unreferenced dirs must go
        for table in ("model", "index"):
            assert len(_vdirs(f"{root}/{table}")) >= 3
        _backdate(root)
        removed = vacuum_root(spark, root, min_age_seconds=3600)
        assert set(removed) == {"model", "index"}
        for table in ("model", "index"):
            live = set(read_commit(spark, f"{root}/{table}")["dirs"])
            assert _vdirs(f"{root}/{table}") == live

        # steady state: disk back to single-version size, and the
        # cached serve path still byte-identical after the vacuum
        assert _du(root) <= 1.2 * baseline_bytes
        assert _canon(qs["ivf_pq_search"](spark, SF_SMOKE)) == baseline
    finally:
        del os.environ[ANN_CACHE_ENV]


def test_dedup_refresh_loop_vacuum_reclaims_to_live_snapshot(
    spark, tmp_path
):
    from etl_python_spark import operators
    from etl_python_spark.operators.dedup import (
        DEDUP_CACHE_ENV,
        materialize_dedup_endgame,
    )
    from etl_python_spark.sources.txn import read_commit, vacuum_root

    root = str(tmp_path / "dedup_root")
    materialize_dedup_endgame(spark, SF_SMOKE, root)
    first_bytes = _data_du(root)
    materialize_dedup_endgame(spark, SF_SMOKE, root)

    # young versions survive the window...
    assert vacuum_root(spark, root, min_age_seconds=600) == {}
    # ...aged ones are reclaimed down to the live snapshot
    _backdate(root)
    removed = vacuum_root(spark, root, min_age_seconds=3600)
    tables = {p.name for p in Path(root).iterdir() if p.is_dir()}
    assert set(removed) == tables and tables >= {"pairs", "components"}
    for table in tables:
        live = set(read_commit(spark, f"{root}/{table}")["dirs"])
        assert _vdirs(f"{root}/{table}") == live
    assert _data_du(root) <= 1.2 * first_bytes

    qs = operators.all_queries()
    inline = _canon(qs["dedup_components"](spark, SF_SMOKE))
    assert DEDUP_CACHE_ENV not in os.environ
    os.environ[DEDUP_CACHE_ENV] = root
    try:
        assert _canon(qs["dedup_components"](spark, SF_SMOKE)) == inline
    finally:
        del os.environ[DEDUP_CACHE_ENV]
