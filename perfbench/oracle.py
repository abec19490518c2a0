"""Correctness check against the engine's DuckDB oracles.

Each op's Spark result is compared with its ``oracle_sql()`` twin run on
DuckDB over the same parquet files: same column names, same row count,
and the same order-insensitive row set under the strict canonicalizer
of ``tools/check_correctness.py`` (imported, not copied).

The oracle results are digests cached per data dir and oracle text,
because the inputs of a data dir never change.  Missing
digests are computed by this module run as a child process, before the
benchmark starts its session, so DuckDB's time and memory stay out of
every measurement:

    python3 perfbench/oracle.py DATA_DIR CACHE_DIR NAME...
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def digest(cols: list[str], rows) -> dict:
    from tools.check_correctness import rowset

    cols = [c.lower() for c in cols]
    h = hashlib.sha256("\n".join(rowset(cols, rows)).encode()).hexdigest()
    return {"cols": sorted(cols), "rows": len(rows), "sha256": h}


def _path(cache_dir: str, name: str, sql: str) -> str:
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return f"{cache_dir}/{name}-{key}.json"


def prepare(data_dir: str, cache_dir: str, oracles: dict[str, str]) -> None:
    """Make sure every digest in ``oracles`` ({name: sql}) is cached."""
    missing = [n for n, sql in oracles.items() if not os.path.exists(_path(cache_dir, n, sql))]
    if missing:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), data_dir, cache_dir, *missing],
            check=True,
        )


def _compute(data_dir: str, cache_dir: str, names: list[str]) -> None:
    import duckdb

    from etl_python_spark.operators import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        src = f"{data_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        elif not os.path.exists(src):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    os.makedirs(cache_dir, exist_ok=True)
    for name in names:
        rel = con.sql(oracles[name])
        path = _path(cache_dir, name, oracles[name])
        with open(path + ".tmp", "w") as f:
            json.dump(digest(rel.columns, rel.fetchall()), f)
        os.replace(path + ".tmp", path)
    con.close()


class Oracle:
    """Cached expected digests for the ops run on one data dir."""

    def __init__(self, cache_dir: str, oracles: dict[str, str]):
        self.cache_dir = cache_dir
        self.oracles = oracles

    def check(self, name: str, cols: list[str], rows) -> str | None:
        """None when the Spark result matches the oracle, else why not."""
        with open(_path(self.cache_dir, name, self.oracles[name])) as f:
            want = json.load(f)
        got = digest(cols, rows)
        if got == want:
            return None
        if got["cols"] != want["cols"]:
            return f"columns {got['cols']} vs oracle {want['cols']}"
        if got["rows"] != want["rows"]:
            return f"{got['rows']} rows vs oracle {want['rows']}"
        return "values differ from oracle"


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())  # the engine and tools/ of this checkout
    _compute(sys.argv[1], sys.argv[2], sys.argv[3:])
