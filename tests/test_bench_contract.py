"""Contract pin for bench.py: one JSON object as the final stdout line,
with headline names summed into ``value`` and every other name reported
under ``extended``.  One in-process run at sf0.001 on a two-query subset
(one headline, one extended) is shared by both tests so it stays cheap."""

import contextlib
import io
import json

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def bench_doc(spark):
    """Final stdout line of ``bench.main`` over the two-query subset."""
    import bench

    buf = io.StringIO()
    with pytest.MonkeyPatch.context() as mp, contextlib.redirect_stdout(buf):
        mp.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
        bench.main(["pricing_summary", "dedup_components"])
    out = [l for l in buf.getvalue().splitlines() if l.strip()]
    return json.loads(out[-1])


def test_bench_emits_full_doc_plus_compact_tail(bench_doc):
    """The final line is the whole result doc: headline fields, env
    stamp, and every headline name of the run with a positive timing."""
    doc = bench_doc
    assert doc["metric"] == "headline_queries_total"
    assert doc["unit"] == "sec" and doc["sf"] == 0.001
    assert doc["method"] == "per-query warm pass + min of 3 timed runs"
    assert set(doc["queries"]) == set(doc["spread"]) == {"pricing_summary"}
    assert doc["value"] == doc["queries"]["pricing_summary"] > 0
    assert all(s >= 0 for s in doc["spread"].values())
    env = doc["env"]
    assert env["cpus"] >= 1
    assert {"stray_jvms_at_start", "load1_at_start", "load5_at_start"} <= set(env)


def test_bench_extended_group(bench_doc):
    """Names outside HEADLINE ride under ``extended``, separate from the
    headline total."""
    from etl_python_spark.operators import EXTENDED, HEADLINE

    assert "pricing_summary" in HEADLINE and "dedup_components" in EXTENDED
    assert not set(HEADLINE) & set(EXTENDED)
    doc = bench_doc
    assert set(doc["extended"]) == set(doc["extended_spread"]) == {
        "dedup_components"
    }
    assert doc["extended_total"] == doc["extended"]["dedup_components"] > 0
    assert all(s >= 0 for s in doc["extended_spread"].values())
    assert not set(doc["extended"]) & set(doc["queries"])
