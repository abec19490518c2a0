"""Self-test of the benchmark at tiny scale (the sf0.001 fixtures as they
are, for both workloads): one pass per workload.

    python3 perfbench/selftest.py [workload ...]

Run it from the root of a checkout.  For each workload it runs
perfbench/run.py twice and checks that

- the untraced run prints every end-to-end metric of BENCHMARK.json,
  by name, with its unit;
- the traced run, with one injected failing op and one injected
  wrong-result op, prints every per-layer metric with its unit, counts
  both injected ops as failed, and reports a fail_ratio above zero.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys

RUN = [sys.executable, "perfbench/run.py", "--scale", "tiny", "--seconds", "1", "--seed", "7"]


def run(workload: str, *extra: str) -> tuple[dict, dict]:
    """(last-line result, full report) of one tiny run."""
    proc = subprocess.run(
        RUN + ["--workload", workload, *extra],
        capture_output=True,
        text=True,
        timeout=300,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} {extra}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    path = re.search(r"report=(\S+)", proc.stderr).group(1)
    with open(path) as f:
        return result, json.load(f)


def check_metrics(result: dict, declared: list[dict], where: str) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    got = result["metrics"]
    for m in declared:
        entry = got.get(m["name"])
        if entry is None:
            problems.append(f"{where}: {m['name']} missing")
        elif entry.get("unit") != m["unit"] or not isinstance(entry.get("value"), (int, float)):
            problems.append(f"{where}: {m['name']} printed as {entry}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        problems.append(f"{where}: undeclared metrics {sorted(extra)}")
    if result["attempted"] < 1:
        problems.append(f"{where}: attempted {result['attempted']}")
    return problems


def main(argv: list[str]) -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = argv or [w["name"] for w in bench["workloads"]]
    problems = []
    for w in workloads:
        plain, plain_report = run(w, "--trace", "0")
        problems += check_metrics(plain, bench["end_to_end"], f"{w} untraced")
        if plain["failed"]:
            print(f"{w}: ops failing without injection: {plain_report['failed_ops']}")

        traced, report = run(w, "--trace", "1", "--inject")
        problems += check_metrics(traced, bench["per_layer"], f"{w} traced")
        for op in ("inject_fail", "inject_wrong"):
            if op not in report["failed_ops"]:
                problems.append(f"{w}: injected {op} not counted as failed")
        if not traced["metrics"]["fail_ratio"]["value"] > 0 or traced["correct"]:
            problems.append(f"{w}: injected failures did not raise fail_ratio")
        print(f"{w}: untraced failed={plain['failed']}/{plain['attempted']}, "
              f"injected failed={traced['failed']}/{traced['attempted']}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
