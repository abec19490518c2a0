"""Oracle correctness gate: run every queries() entry on Spark and its
oracle_sql() on DuckDB and compare them with :func:`compare` — column
names, row count, no HUGEINT oracle output, and the order-insensitive
row set under the strict canonicalizer (``repr`` floats, microsecond
timestamps, element-wise lists).  ``tests/test_queries_smoke.py`` runs
the same comparison for all queries at sf0.001.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from pathlib import Path


def canon(v):
    """Canonicalize a cell so Spark and DuckDB values compare equal."""
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # Full precision: the driver gate hashes exact values, so any
        # canonicalization looser than repr() hides engine-parity bugs
        # locally that then fail the round (round-1 lesson).
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, datetime.datetime):
        # Microsecond precision: the driver gate hashes exact values; a
        # second-precision canon let round 2's 1-µs timestamp drift pass
        # locally and fail the round (round-3 verdict task 4).
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def compare(sp_cols, sp_rows, dk_cols, dk_types, dk_rows) -> list[str]:
    """Problems separating a Spark result from its DuckDB oracle result;
    an empty list means they match value for value."""
    sp_cols = [c.lower() for c in sp_cols]
    dk_cols = [c.lower() for c in dk_cols]
    problems = []
    # Engine-level output types an exact-value hash distinguishes even
    # when values are identical (round-1 calendar_dim lesson):
    # DuckDB SUM(int) yields HUGEINT/int128, which no Spark type maps
    # to.  Treat them as failures so the oracle gets an explicit CAST.
    bad_types = [
        f"{c}:{t}"
        for c, t in zip(dk_cols, map(str, dk_types))
        if "HUGEINT" in t.upper() or "INT128" in t.upper()
    ]
    if bad_types:
        problems.append(f"oracle HUGEINT output cols {bad_types}")
    if sorted(sp_cols) != sorted(dk_cols):
        problems.append(f"cols {sorted(sp_cols)} vs {sorted(dk_cols)}")
    if len(sp_rows) != len(dk_rows):
        problems.append(f"rows {len(sp_rows)} vs {len(dk_rows)}")
    if not problems:
        a, b = rowset(sp_cols, sp_rows), rowset(dk_cols, dk_rows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, e.g. {diff}")
    return problems


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as e
    from etl_python_spark.session import get_spark

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    import os

    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        # /root/testdata tables are single files; soak dirs (/tmp/sf1)
        # are Spark-written DIRECTORIES of part files — glob those
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            sp_cols = df.columns
            sp_rows = df.collect()
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(sp_rows)} rows, {time.time()-t0:.1f}s)")
            if len(sp_rows) == 0:
                print(f"WARN  {name}: 0 rows")
            continue
        try:
            rel = con.sql(oracles[name])
            dk_cols, dk_types, dk_rows = rel.columns, rel.types, rel.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            failed.append(name)
            continue
        problems = compare(sp_cols, sp_rows, dk_cols, dk_types, dk_rows)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failed.append(name)
        else:
            print(f"ok    {name}: {len(sp_rows)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    # the engine of the checkout this script lives in
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    raise SystemExit(main())
