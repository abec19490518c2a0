"""CLI job-runner session (S15 — ref Rodar Scripts Showroom.py run
shape): execute a set of named queries as one orchestrated session and
print the reference's status table.

    python -m etl_python_spark.pipelines [sf_dir] [query ...]

Defaults to the bench headline queries at /root/testdata/sf0.001.
Exit code 1 if any job errored (the reference's log-and-continue
behavior, surfaced for schedulers).
"""

from __future__ import annotations

import sys


def main(argv: list[str]) -> int:
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.001"

    from ..operators import HEADLINE, all_queries
    from ..session import get_spark
    from .runner import format_table, run_jobs

    qs = all_queries()
    names = argv[2:] or HEADLINE
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("pipelines")
    spark.sparkContext.setLogLevel("ERROR")
    results = run_jobs(
        spark,
        {n: (lambda s, f=qs[n]: f(s, sf_dir)) for n in names},
        log_path="manutencao_tecnica.log",
    )
    print(format_table(results))
    return 1 if any(r.status == "ERRO" for r in results) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
