"""Materialized ANN index (round 11 — the dedup-endgame pattern on the
IVF×PQ index): fits + corpus codes are txn-published once; with
SPARK_GRAFT_ANN_CACHE set, search/recall serve from the snapshot with
results BYTE-IDENTICAL to the inline path and run NO Lloyd fit jobs.
"""

import os

import pytest

from tests.conftest import SF_SMOKE

ANN_QUERIES = ["ivf_pq_search", "ivf_pq_recall"]


def _canon(df):
    rows = [tuple(str(v) for v in r) for r in df.collect()]
    return sorted(df.columns), sorted(rows)


@pytest.fixture(scope="module")
def ann_root(spark, tmp_path_factory):
    from etl_python_spark.operators.similarity import materialize_ann_index

    root = str(tmp_path_factory.mktemp("ann_cache"))
    versions = materialize_ann_index(spark, SF_SMOKE, root)
    assert versions == {"model": 1, "index": 1}
    return root


def test_cached_ann_is_byte_identical_to_inline(spark, ann_root):
    from etl_python_spark import operators

    qs = operators.all_queries()
    assert "SPARK_GRAFT_ANN_CACHE" not in os.environ
    inline = {n: _canon(qs[n](spark, SF_SMOKE)) for n in ANN_QUERIES}
    os.environ["SPARK_GRAFT_ANN_CACHE"] = ann_root
    try:
        cached = {n: _canon(qs[n](spark, SF_SMOKE)) for n in ANN_QUERIES}
    finally:
        del os.environ["SPARK_GRAFT_ANN_CACHE"]
    for n in ANN_QUERIES:
        assert cached[n] == inline[n], f"{n}: cached != inline"


def test_cached_serve_runs_no_lloyd_fit(spark, ann_root, monkeypatch):
    """Serving from the snapshot must not invoke either Lloyd fit —
    the whole point of the nightly build."""
    from etl_python_spark import operators
    from etl_python_spark.operators import similarity as S

    def boom(*a, **k):
        raise AssertionError("Lloyd fit invoked on the cached serve path")

    monkeypatch.setattr(S, "_kmeans_fit", boom)
    monkeypatch.setattr(S, "_pq_fit", boom)
    qs = operators.all_queries()
    os.environ["SPARK_GRAFT_ANN_CACHE"] = ann_root
    try:
        n = qs["ivf_pq_search"](spark, SF_SMOKE).count()
    finally:
        del os.environ["SPARK_GRAFT_ANN_CACHE"]
    assert n == 50
    # and the inline path DOES hit the fit (the monkeypatch is live)
    with pytest.raises(AssertionError, match="Lloyd fit"):
        qs["ivf_pq_search"](spark, SF_SMOKE)


def test_index_refresh_publishes_new_versions(spark, ann_root):
    from etl_python_spark.operators.similarity import materialize_ann_index

    versions = materialize_ann_index(spark, SF_SMOKE, ann_root)
    assert versions == {"model": 2, "index": 2}


def test_snapshot_model_returns_the_fitted_doubles(spark, tmp_path, monkeypatch):
    """The model table round-trips the fit exactly: every centroid and
    codeword double reads back equal (==, no tolerance)."""
    from etl_python_spark.operators import similarity as S

    fitted = []
    fit = S._fit_ivf_pq

    def recording_fit(emb):
        out = fit(emb)
        fitted.append(out)
        return out

    monkeypatch.setattr(S, "_fit_ivf_pq", recording_fit)
    root = str(tmp_path / "ann")
    S.materialize_ann_index(spark, SF_SMOKE, root)
    (centroids, _, cb), = fitted
    got_centroids, got_cb = S._snapshot_model(spark, root)
    assert got_centroids == [[float(x) for x in c] for c in centroids]
    assert got_cb == [[[float(x) for x in w] for w in part] for part in cb]
