"""Benchmark harness: times benched queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
one JSON line.

    python bench.py [query ...]

The query list defaults to ``HEADLINE + EXTENDED`` from
``etl_python_spark.operators``.  Names in ``HEADLINE`` are summed into
``value`` (per-query ``queries``/``spread``); every other name lands
in ``extended``/``extended_total``/``extended_spread``.

Methodology: each query runs one UNTIMED warm pass, then RUNS timed
runs into the noop sink (full pipeline, nothing collected to the
driver); the reported time is the minimum and ``spread`` is max - min.
Under Spark 4.1.2 the first execution of a query pays whole-stage
codegen and JVM JIT that any long-lived session amortizes away
(simhash's 60-aggregate plan: 9-64 s cold, 2.5-3 s warm, at every data
scale), so a single cold pass measures the compiler, not the engine.

``env`` stamps the host (cpus; load and stray JVMs before this JVM
starts) and gates nothing: ``perfbench/run.py`` is the regression gate.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_python_spark.operators import EXTENDED, HEADLINE, all_queries  # noqa: E402

# min of 3: at min-of-2 the heavy dedup queries showed 1-3 s
# run-to-run spread from GC timing
RUNS = 3


def _env_stamp() -> dict:
    """Stray java processes and load average before this JVM starts."""
    try:
        out = subprocess.run(
            ["pgrep", "-cx", "java"], capture_output=True, text=True
        ).stdout.strip()
        strays = int(out) if out else 0
    except (OSError, ValueError):
        strays = -1
    load1, load5, _ = os.getloadavg()
    return {
        "stray_jvms_at_start": strays,
        "load1_at_start": round(load1, 2),
        "load5_at_start": round(load5, 2),
    }


def _warm_up(spark, sf_dir: str) -> None:
    """JIT the scan/agg paths, fork the Python worker pool (one per
    core, reused across queries) and JIT the md5/conv digest path the
    hash family uses, so no timed query pays for them."""
    from pyspark.sql import functions as F

    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4).repartition(par).mapInPandas(
        lambda it: it, "id long"
    ).count()
    spark.range(200_000).repartition(par).select(
        F.sum(
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            % 1_000_000_007
        )
    ).count()


def main(names: list[str] | None = None) -> None:
    if names is None:
        names = sys.argv[1:] or HEADLINE + EXTENDED
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    env = _env_stamp()

    from etl_python_spark.session import get_spark

    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    env["cpus"] = spark.sparkContext.defaultParallelism
    _warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in names:
        fn = qs[name]

        def run() -> float:
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        run()  # warm pass: compiles this query's generated code, untimed
        samples = [run() for _ in range(RUNS)]
        timings[name] = round(min(samples), 3)
        spread[name] = round(max(samples) - min(samples), 3)

    head = [n for n in names if n in HEADLINE]
    ext = [n for n in names if n not in HEADLINE]
    doc = {
        "metric": "headline_queries_total",
        "value": round(sum(timings[n] for n in head), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "method": f"per-query warm pass + min of {RUNS} timed runs",
        "queries": {n: timings[n] for n in head},
        "spread": {n: spread[n] for n in head},
        "extended": {n: timings[n] for n in ext},
        "extended_total": round(sum(timings[n] for n in ext), 3),
        "extended_spread": {n: spread[n] for n in ext},
        "env": env,
    }
    print(json.dumps(doc))


if __name__ == "__main__":
    main()
