"""The benchmark's inputs, made from the engine's test fixtures.

``perfbench/fixtures/sf0.001`` and ``perfbench/fixtures/sf0.01`` are
byte-for-byte copies of the repository's read-only test fixtures at those
scale factors, kept here so a run reads nothing outside its checkout.

- ``star_sf0.1`` reads a 10x key-remapped replica of the sf0.01 fixtures
  (sf0.1 row counts), written by ``tools/soak_sf1.py build`` in a child
  process: the same layout the repository's soak runs use, Spark-written
  part files.  It does not depend on the seed and is built once per
  checkout.
- The lifecycle corpus variants filter the fixture ``documents`` /
  ``embeddings`` by id:

  - ``grown``: every id;
  - ``base``: all ids except the newest 5% (the arrivals);
  - ``shrunk``: ``grown`` minus a takedown set of 2% of the live ids,
    drawn from all of them with the run seed, no exclusions.

The self-test (``--scale tiny``) reads the sf0.001 fixtures as they are.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
REPLICAS = 10

ARRIVAL_SHARE = 0.05
TAKEDOWN_SHARE = 0.02


def fixture(sf: str) -> str:
    return f"{FIXTURES}/sf{sf}"


def write_replica(dst: str, src: str, tmp: str) -> str:
    """``REPLICAS`` x ``src`` under ``dst`` (skipped when a complete copy
    is already there).  Spark's scratch files go under ``tmp``."""
    done = f"{dst}/_COMPLETE"
    if os.path.exists(done):
        return dst
    part = dst + ".tmp"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        SOAK_SRC=src,
        SOAK_DST=part,
        SOAK_REPLICAS=str(REPLICAS),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    subprocess.run(
        [sys.executable, "tools/soak_sf1.py", "build"],
        env=env,
        stdout=sys.stderr,
        check=True,
        timeout=600,
    )
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(part, dst)
    open(done, "w").close()
    return dst


def lifecycle_ids(ids: list[int], seed: int) -> tuple[set[int], set[int]]:
    """(arrivals, takedowns): the newest 5% of ``ids``, and a seeded 2%
    of all of them (the live set after the arrivals landed)."""
    ids = sorted(ids)
    arrivals = set(ids[len(ids) - max(1, int(len(ids) * ARRIVAL_SHARE)):])
    takedowns = set(random.Random(seed).sample(ids, max(1, int(len(ids) * TAKEDOWN_SHARE))))
    return arrivals, takedowns


def write_lifecycle(dst: str, src: str, seed: int) -> dict[str, str]:
    """{variant: dir} for the base / grown / shrunk corpora made from the
    ``documents`` and ``embeddings`` of ``src``.  Dirs are rewritten on
    every call: ``shrunk`` depends on the seed."""
    keep = {"base": {}, "grown": {}, "shrunk": {}}
    tables = {}
    for name, key, salt in (("documents", "doc_id", 0), ("embeddings", "vec_id", 1)):
        table = pq.read_table(f"{src}/{name}.parquet")
        arrivals, takedowns = lifecycle_ids(table.column(key).to_pylist(), seed * 2 + salt)
        keep["base"][name] = sorted(arrivals)
        keep["shrunk"][name] = sorted(takedowns)
        tables[name] = (table, key)
    out = {}
    for variant, dropped in keep.items():
        d = f"{dst}/{variant}"
        os.makedirs(d, exist_ok=True)
        for name, (table, key) in tables.items():
            gone = dropped.get(name, [])
            gone = pa.array(gone, table.column(key).type)
            kept = table.filter(pc.invert(pc.is_in(table.column(key), value_set=gone)))
            pq.write_table(kept, f"{d}/{name}.parquet.tmp")
            os.replace(f"{d}/{name}.parquet.tmp", f"{d}/{name}.parquet")
        out[variant] = d
    return out

