"""Dump .explain("formatted") for benched queries into plans/.

Usage: python tools/dump_plans.py <suffix> [query ...]
  suffix: e.g. "before" or "after" -> plans/<query>_<suffix>.txt
  (plans/ is gitignored: dumps are for diffing, not for banking)

Only builds the DataFrame and formats the plan — no job execution —
so it is safe to run alongside other workloads.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans")
    os.makedirs(out_dir, exist_ok=True)

    from etl_python_spark.operators import EXTENDED, HEADLINE, all_queries
    from etl_python_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = names or HEADLINE + EXTENDED
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {exc!r}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(name, "ok" if not plan.startswith("ERROR") else "ERROR")


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    main()
