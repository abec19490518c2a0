"""One-command round-end verification: every gate in sequence.

Usage: ``python tools/verify_round.py [--fast]``

Gates (in order; stops on first failure, prints a summary line each):
  1. pytest (full suite)
  2. oracle sweep at sf0.01 (the driver's t2 scale)
  3. oracle sweep at sf0.1 (rounding-tie catcher — see the verify skill)
  4. bare-session inventory run at sf0.001 (driver conditions, no
     tuned conf)
  5. bench.py (contract + timing)
  6. sf1 soak: build /tmp/sf1 if absent, run the FULL inventory at
     10x data, bank SOAK_r{N}.json, and alarm on any warm time past
     2x the previous round's banked value (round-7 verdict item 6 —
     the soak caught two real scale bugs in round 7)

``--fast`` skips gates 3, 5 and 6 for mid-round iteration.
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
    if not fast and not bench_gate(py):
        return 1
    if not fast and not soak_gate(py):
        return 1
    print("ALL GATES GREEN")
    return 0


def load_extended_overrides(path: str | None = None) -> dict[str, float]:
    """Parse ``tools/extended_baseline.json`` into {query: seconds}.

    Round-9 verdict item 4: every override must cite the PLAN_AUDIT
    A/B that justifies it (``{"sec": float, "plan_audit_ref": str}``)
    — a bare number or a missing/empty citation raises ValueError so
    a careless re-baseline fails the gate instead of silently raising
    the alarm threshold.  Keys starting with ``_`` are commentary.
    """
    import json

    if path is None:
        path = os.path.join(REPO, "tools", "extended_baseline.json")
    try:
        with open(path, encoding="utf-8") as fh:
            raw = json.load(fh)
    except OSError:
        return {}
    out: dict[str, float] = {}
    for k, v in raw.items():
        if k.startswith("_"):
            continue
        if (
            not isinstance(v, dict)
            or not isinstance(v.get("sec"), (int, float))
            or not (v.get("plan_audit_ref") or "").strip()
        ):
            raise ValueError(
                f"extended_baseline.json override {k!r} must be "
                f'{{"sec": <float>, "plan_audit_ref": "<PLAN_AUDIT '
                f'citation>"}} — got {v!r}'
            )
        out[k] = float(v["sec"])
    return out


def check_extended(
    current: dict,
    baseline: dict,
    factor: float = 2.0,
    slack: float = 2.0,
    overrides: dict[str, float] | None = None,
    stale_noise: float = 0.3,
) -> list[str]:
    """Alarm lines for extended-group regressions (round-8 verdict
    item 4: the heavy-family bench group was banked but unguarded).

    Mirrors the soak rule: a query alarms when its time exceeds BOTH
    ``factor``x the previous round's banked value AND baseline+``slack``
    seconds (the +slack floor keeps sub-second queries from alarming on
    noise).  ``current``/``baseline`` are bench.py output docs; queries
    absent from the baseline's ``extended`` map are skipped (first
    banking has nothing to diff).

    Deliberate design tradeoffs that move a query's expected time
    (e.g. the round-9 star CC default: +1s at sf0.1, -30% at sf1) are
    re-baselined in ``tools/extended_baseline.json``; the reference is
    max(banked, override) so the alarm measures the intended design,
    not a superseded banking.  Round-9 verdict item 4 + ADVICE: every
    override needs a plan_audit_ref citation (an uncited one is itself
    an alarm), the forgiven delta is printed every run, and an
    override the newest banking has caught up to (within
    ``stale_noise`` seconds) is flagged for removal so it cannot keep
    the threshold inflated after it has served its purpose.  Tests
    pass ``overrides`` explicitly; None loads the repo file.
    """
    base = (baseline or {}).get("extended") or {}
    cur = (current or {}).get("extended") or {}
    alarms = []
    if overrides is None:
        try:
            overrides = load_extended_overrides()
        except ValueError as ex:
            alarms.append(f"extended override invalid: {ex}")
            overrides = {}
    for name, sec in cur.items():
        banked = base.get(name)
        ref = banked
        if name in overrides:
            ov = overrides[name]
            ref = ov if banked is None else max(banked, ov)
            if banked is not None and ref > banked:
                print(
                    f"note extended override: {name} reference raised "
                    f"{banked:.2f}s -> {ref:.2f}s (forgiving "
                    f"{ref - banked:+.2f}s vs banked)",
                    flush=True,
                )
            # Stale only once the banking has actually reached the
            # override (the max() then makes it a no-op).  A banked
            # time still BELOW the override (even within noise) means
            # the override is live — removing it would drop the
            # reference under current runtimes (round-10 ADVICE).
            if banked is not None and banked >= ov:
                print(
                    f"WARN extended override stale: {name} banked "
                    f"{banked:.2f}s has caught up to override {ov:.2f}s "
                    f"— remove it from tools/extended_baseline.json",
                    flush=True,
                )
        if ref is not None and sec > factor * ref and sec > ref + slack:
            alarms.append(
                f"extended regression: {name} {sec:.2f}s vs banked "
                f"{ref:.2f}s (>{factor:.0f}x and +{slack:.0f}s)"
            )
    return alarms


LAST_GREEN_BENCH = os.path.join(REPO, "tools", "bench_last_green.json")


def _extended_baseline() -> dict:
    """Per-query extended-group reference: the MIN of the newest
    parseable driver-banked ``BENCH_r*.json`` and the local last-green
    snapshot (round-14 ADVICE: the old mtime-newest selection let a
    ~2x-slower-but-passing run become the sole reference, so
    regressions could compound geometrically across gate runs; after a
    fresh clone both mtimes are checkout time and the choice was
    arbitrary).  min() makes the reference monotone-conservative: a
    slow-host banking can only LOOSEN it back to the best known
    number, never tighten past real performance."""
    import glob
    import json
    import re

    docs: list[dict] = []
    banked = sorted(
        glob.glob(os.path.join(REPO, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    for path in reversed(banked):
        try:
            with open(path, encoding="utf-8") as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            continue
        # driver-banked files nest the bench payload under "parsed"
        doc = doc.get("parsed", doc)
        if isinstance(doc, dict) and doc.get("extended"):
            docs.append(doc)
            break
    try:
        with open(LAST_GREEN_BENCH, encoding="utf-8") as fh:
            doc = json.load(fh)
        if isinstance(doc, dict) and doc.get("extended"):
            docs.append(doc)
    except (OSError, ValueError):
        pass
    merged: dict[str, float] = {}
    for doc in docs:
        for name, sec in doc["extended"].items():
            merged[name] = min(sec, merged.get(name, float("inf")))
    return {"extended": merged} if merged else {}


def _bench_contaminated(doc: dict) -> bool:
    """True when the parent run OR the standalone child banked under a
    dirty host (round-14 ADVICE: a contaminated-but-passing run must
    not become the next gate baseline)."""
    if (doc.get("env") or {}).get("contaminated"):
        return True
    standalone = doc.get("standalone") or {}
    return bool((standalone.get("env") or {}).get("contaminated"))


def bench_gate(py: str) -> bool:
    """Run bench.py, then diff the extended group against the newest
    banked round (soak-style 2x-and-+2s alarm)."""
    import json

    # -x: exact process-name match — `pgrep -f java` counts shell
    # wrappers whose command line merely mentions java
    strays = subprocess.run(
        ["pgrep", "-cx", "java"], capture_output=True, text=True
    ).stdout.strip()
    if strays not in ("", "0"):
        print(
            f"WARN bench: {strays} java process(es) already running — "
            f"timings may be load-contaminated (kill strays first)",
            flush=True,
        )
    t0 = time.time()
    print("==> bench: python bench.py", flush=True)
    try:
        # budget covers parent (wait<=180 + headline+extended) AND
        # the standalone A/B child (its own wait<=600 + headline run,
        # child subprocess capped at 1200s inside bench.py)
        proc = subprocess.run(
            [py, "bench.py"], cwd=REPO, timeout=3600,
            capture_output=True, text=True,
        )
    except subprocess.TimeoutExpired:
        print("FAIL bench: timeout after 3600s")
        return False
    if proc.returncode != 0:
        tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-3:])
        print(f"FAIL bench ({time.time()-t0:.0f}s)\n{tail}\n")
        return False
    docs = []
    for line in proc.stdout.splitlines():
        if line.startswith("{"):
            try:
                docs.append(json.loads(line))
            except ValueError:
                pass
    if not docs:
        tail = "\n".join(proc.stdout.splitlines()[-3:])
        print(f"FAIL bench: no parseable JSON line in output\n{tail}\n")
        return False
    # bench prints the full doc then the compact tail summary — gate
    # on the full one (it carries the per-query extended map + spread)
    doc = next((d for d in reversed(docs) if "spread" in d), docs[-1])
    print(
        f"ok   bench ({time.time()-t0:.0f}s) headline={doc['value']}s "
        f"extended={doc.get('extended_total', 'n/a')}s "
        f"standalone={(doc.get('standalone') or {}).get('value', 'n/a')}s\n"
        f"{json.dumps(doc)}\n"
    )
    alarms = check_extended(doc, _extended_baseline())
    for a in alarms:
        print(f"FAIL {a}")
    if not alarms:
        # snapshot the passing doc so the NEXT gate run diffs against
        # a fresh baseline even when the driver-banked BENCH_r*.json
        # payloads truncate (round 14: r12/r13 shipped parsed=None) —
        # but never a contaminated one (round-14 ADVICE: an inflated
        # baseline masks real slowdowns)
        if _bench_contaminated(doc):
            print(
                "note bench: run passed but env is contaminated — "
                "last-green snapshot NOT updated",
                flush=True,
            )
        else:
            try:
                with open(LAST_GREEN_BENCH, "w", encoding="utf-8") as fh:
                    json.dump(doc, fh)
            except OSError as ex:
                print(f"WARN bench: could not snapshot last-green ({ex})")
    return not alarms


def soak_gate(py: str) -> bool:
    import glob
    import re

    dst = os.environ.get("SOAK_DST", "/tmp/sf1")
    if not os.path.exists(os.path.join(dst, "lineitem.parquet")):
        if not run("soak build", [py, "tools/soak_sf1.py", "build"], 1800):
            return False
    banked = sorted(
        glob.glob(os.path.join(REPO, "SOAK_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    benches = glob.glob(os.path.join(REPO, "BENCH_r*.json"))
    n = 1 + max(
        (int(re.search(r"r(\d+)", os.path.basename(p)).group(1)) for p in benches),
        default=0,
    )
    out = os.path.join(REPO, f"SOAK_r{n:02d}.json")
    cmd = [py, "tools/soak_sf1.py", "run", "--full", "--out", out]
    # baseline: the newest banked file that is not this round's own
    # (re-running within a round diffs against the previous round)
    prior = [p for p in banked if p != out]
    if prior:
        cmd += ["--baseline", prior[-1]]
    elif banked:
        # only this round's file exists: diff against a copy of it
        import shutil

        prev = "/tmp/soak_prev_baseline.json"
        shutil.copy(banked[-1], prev)
        cmd += ["--baseline", prev]
    # the full sweep self-chunks into bounded child JVMs (soak_sf1.py
    # CHUNK), keeping the measured-fast 8g heap per session without
    # the end-of-sweep accumulation crashes a single long session hit
    return run("sf1 soak (full inventory)", cmd, 3600)


if __name__ == "__main__":
    sys.exit(main())
