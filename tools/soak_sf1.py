"""sf1 scale corpus: synthesize ~10x the sf0.1 testdata locally
(key-remapped replicas; near-duplicate text perturbation so dedup
faces realistic near-dup clusters instead of byte-identical copies).

Usage:
    python tools/soak_sf1.py build   # write $SOAK_DST (default /tmp/sf1)

Time queries on it with ``SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py
<query ...>``.  ``perfbench/gen.py`` runs ``build`` with
``SOAK_SRC``/``SOAK_DST``/``SOAK_REPLICAS`` set to make the
``star_sf0.1`` inputs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SOAK_SRC", "/root/testdata/sf0.1")
DST = os.environ.get("SOAK_DST", "/tmp/sf1")
REPLICAS = int(os.environ.get("SOAK_REPLICAS", "10"))


def _session():
    from etl_python_spark.session import get_spark

    return get_spark(app_name="soak_sf1")


def build() -> None:
    from pyspark.sql import functions as F

    spark = _session()
    os.makedirs(DST, exist_ok=True)
    dims = {"region", "nation"}
    keys = {
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    # offsets per key domain so every FK remaps consistently
    maxes: dict[str, int] = {}
    for t in keys:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        for k in keys[t]:
            dom = k.split("_", 1)[1] if "_" in k else k  # custkey etc.
            m = df.agg(F.max(k)).collect()[0][0]
            maxes[dom] = max(maxes.get(dom, 0), int(m) + 1)

    for t in list(dims) + list(keys):
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        if t in dims:
            src.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
            print(f"{t}: copied dim")
            continue
        reps = []
        for r in range(REPLICAS):
            rep = src
            for k in keys[t]:
                dom = k.split("_", 1)[1]
                rep = rep.withColumn(
                    k, (F.col(k) + F.lit(r * maxes[dom])).cast("long")
                )
            if t == "documents" and r > 0:
                # near-duplicate, not byte-identical: realistic dedup load
                rep = rep.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" r{r}"))
                )
            reps.append(rep)
        out = reps[0]
        for rep in reps[1:]:
            out = out.unionByName(rep)
        out.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        n = spark.read.parquet(f"{DST}/{t}.parquet").count()
        print(f"{t}: {n} rows")


def _cli() -> int:
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    if cmd != "build":
        print(f"unknown command {cmd!r}: use build")
        return 2
    build()
    return 0


if __name__ == "__main__":
    sys.exit(_cli())
