"""One-command round-end verification: every gate in sequence.

Usage: ``python tools/verify_round.py [--fast]``

Gates (in order; stops on first failure, prints a summary line each):
  1. pytest (full suite)
  2. oracle sweep at sf0.01 (the driver's t2 scale)
  3. oracle sweep at sf0.1 (rounding-tie catcher — see the verify skill)
  4. bare-session inventory run at sf0.001 (driver conditions, no
     tuned conf)
  5. bench.py: runs every benched query and prints its JSON line; a
     timing record, not a regression gate (``perfbench/run.py``
     compares parent and change on one host)

``--fast`` skips gates 3 and 5 for mid-round iteration.  Timing at
~sf1 is ``tools/soak_sf1.py build`` then ``SPARK_GRAFT_SF_DIR=/tmp/sf1
python bench.py <query ...>``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(
    name: str, cmd: list[str], timeout: int, env: dict | None = None
) -> bool:
    t0 = time.time()
    print(f"==> {name}: {' '.join(cmd)}", flush=True)
    try:
        proc = subprocess.run(
            cmd, cwd=REPO, timeout=timeout, capture_output=True, text=True,
            env={**os.environ, **env} if env else None,
        )
    except subprocess.TimeoutExpired:
        print(f"FAIL {name}: timeout after {timeout}s")
        return False
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-3:])
    ok = proc.returncode == 0
    print(f"{'ok  ' if ok else 'FAIL'} {name} ({time.time()-t0:.0f}s)\n{tail}\n")
    return ok


def bare_inventory() -> bool:
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[4]').getOrCreate()\n"
        "import __spark_entry__ as e\n"
        "fails = []\n"
        "for name, fn in e.queries().items():\n"
        "    try:\n"
        "        fn(spark, '/root/testdata/sf0.001').count()\n"
        "    except Exception as ex:\n"
        "        fails.append((name, type(ex).__name__))\n"
        "print('BARE_FAILS:', fails)\n"
        "sys.exit(1 if fails else 0)\n"
    ) % REPO
    return run("bare-session inventory", [sys.executable, "-c", code], 2400)


def main() -> int:
    fast = "--fast" in sys.argv
    py = sys.executable
    gates = [
        ("pytest", [py, "-m", "pytest", "tests/", "-q"], 2400),
        (
            "oracle sf0.01",
            [py, "tools/check_correctness.py", "/root/testdata/sf0.01"],
            2400,
        ),
    ]
    if not fast:
        gates.append(
            (
                "oracle sf0.1",
                [py, "tools/check_correctness.py", "/root/testdata/sf0.1"],
                3600,
            )
        )
    for name, cmd, to in gates:
        if not run(name, cmd, to):
            return 1
    if not bare_inventory():
        return 1
    if not fast and not run("bench", [py, "bench.py"], 3600):
        return 1
    print("ALL GATES GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
