"""Concurrent-writer txn soak (round-15 verdict item 5): optimistic
concurrency (rename-to-existing loses) is crash-injection unit-tested
in tests/test_txn.py but was never SOAKED — two genuinely racing
writers against one table at sf1 scale, with a concurrent reader, for
N cycles.

Shape: one txn table seeded from the sf1 ``orders`` (~1.5M rows,
partitioned by order year).  Writer A loops row-keyed MERGEs that
restamp a single-partition slice's ``o_clerk`` with a cycle marker
(the documented conflict recovery: catch ``ConcurrentCommitError``,
retry onto the new base).  Writer B loops ``txn_compact``.  A reader
loops ``txn_read`` and checks atomic visibility.  Gates (exit 1
otherwise):

  * zero torn reads — every read sees the full table row count AND
    exactly ONE distinct marker on the slice (a merge batch is atomic:
    a read can never see half a batch);
  * zero lost updates — the final slice marker is writer A's LAST
    successfully committed marker (intermediate markers are
    legitimately superseded; compaction must preserve content);
  * exactly one winner per version — the committed version sequence is
    strictly contiguous, and no version number was returned by BOTH
    writers;
  * the race actually happened — at least one
    ``ConcurrentCommitError`` was observed across the soak (a soak
    where the writers never collided proves nothing);
  * after a final vacuum, on-disk version dirs == the live snapshot
    (losers' orphaned staging dirs are reclaimed, nothing live is).

Usage: python tools/soak_txn.py [--cycles N] [--out FILE]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SOAK_DST", "/tmp/sf1")
TABLE = os.environ.get("SOAK_TXN_TABLE", "/tmp/sf1_txn_soak")
SLICE_YEAR = 1995
SLICE_PRED = f"o_year = {SLICE_YEAR} AND o_orderkey % 100 = 7"


def main(cycles: int = 10, out_path: str | None = None) -> int:
    from pyspark.sql import functions as F

    from etl_python_spark.session import get_spark
    from etl_python_spark.sources.txn import (
        ConcurrentCommitError,
        list_versions,
        read_commit,
        txn_compact,
        txn_merge_upsert,
        txn_read,
        vacuum,
    )

    spark = get_spark(app_name="soak_txn")

    shutil.rmtree(TABLE, ignore_errors=True)
    orders = (
        spark.read.parquet(f"{SRC}/orders.parquet")
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
    )
    txn_merge_upsert(
        spark, orders, TABLE, keys=["o_orderkey"], partition_col="o_year"
    )
    # uniform starting marker so the torn-read check ("exactly one
    # distinct marker on the slice") holds from the first read
    seed = (
        txn_read(spark, TABLE)
        .filter(SLICE_PRED)
        .withColumn("o_clerk", F.lit("A-seed"))
        .localCheckpoint(eager=True)
    )
    txn_merge_upsert(
        spark, seed, TABLE, keys=["o_orderkey"], partition_col="o_year"
    )
    n_total = txn_read(spark, TABLE).count()
    n_slice = seed.count()
    print(f"seeded {TABLE}: {n_total} rows, slice={n_slice}", flush=True)

    stop = threading.Event()
    stats = {
        "merge_commits": [],    # (marker, version)
        "compact_commits": [],  # version
        "merge_conflicts": 0,
        "compact_conflicts": 0,
        "reads": 0,
        "torn_reads": [],
        "reader_errors": [],
        "writer_errors": [],
    }
    lock = threading.Lock()

    def writer_merge():
        try:
            for c in range(1, cycles + 1):
                marker = f"A-{c}"
                src = (
                    seed.withColumn("o_clerk", F.lit(marker))
                )
                while True:
                    try:
                        v = txn_merge_upsert(
                            spark, src, TABLE,
                            keys=["o_orderkey"], partition_col="o_year",
                        )
                        with lock:
                            stats["merge_commits"].append((marker, v))
                        break
                    except ConcurrentCommitError:
                        with lock:
                            stats["merge_conflicts"] += 1
        except Exception as e:  # noqa: BLE001 — the gate
            stats["writer_errors"].append(f"merge: {e!r}")
        finally:
            stop.set()

    def writer_compact():
        while not stop.is_set():
            try:
                v = txn_compact(spark, TABLE, n_files=8)
                with lock:
                    stats["compact_commits"].append(v)
            except ConcurrentCommitError:
                with lock:
                    stats["compact_conflicts"] += 1
            except Exception as e:  # noqa: BLE001 — the gate
                stats["writer_errors"].append(f"compact: {e!r}")
                return

    def reader():
        while not stop.is_set():
            try:
                snap = txn_read(spark, TABLE)
                rows = snap.count()
                marks = [
                    r["o_clerk"]
                    for r in snap.filter(SLICE_PRED)
                    .select("o_clerk")
                    .distinct()
                    .collect()
                ]
                with lock:
                    stats["reads"] += 1
                    if rows != n_total:
                        stats["torn_reads"].append(
                            f"row count {rows} != {n_total}"
                        )
                    if len(marks) != 1:
                        stats["torn_reads"].append(
                            f"slice shows {len(marks)} distinct markers: "
                            f"{sorted(marks)[:4]}"
                        )
            except Exception as e:  # noqa: BLE001 — the gate
                stats["reader_errors"].append(repr(e))
                return

    threads = [
        threading.Thread(target=writer_merge, daemon=True),
        threading.Thread(target=writer_compact, daemon=True),
        threading.Thread(target=reader, daemon=True),
    ]
    t0 = time.time()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=3600)
    elapsed = round(time.time() - t0, 2)

    violations: list[str] = []
    if stats["writer_errors"]:
        violations.append(f"writer errored: {stats['writer_errors'][:2]}")
    if stats["reader_errors"]:
        violations.append(f"reader errored: {stats['reader_errors'][:1]}")
    if stats["torn_reads"]:
        violations.append(
            f"{len(stats['torn_reads'])} torn read(s): "
            f"{stats['torn_reads'][:2]}"
        )
    if stats["reads"] < cycles:
        violations.append(
            f"reader finished only {stats['reads']} reads over "
            f"{cycles} merge cycles — not a concurrent soak"
        )

    # lost-update check: the final slice marker is A's last commit
    final_marks = [
        r["o_clerk"]
        for r in txn_read(spark, TABLE)
        .filter(SLICE_PRED)
        .select("o_clerk")
        .distinct()
        .collect()
    ]
    last_marker = stats["merge_commits"][-1][0] if stats["merge_commits"] else None
    if final_marks != [last_marker]:
        violations.append(
            f"lost update: final slice marker {final_marks} != last "
            f"committed merge {last_marker!r}"
        )
    if len(stats["merge_commits"]) != cycles:
        violations.append(
            f"writer A committed {len(stats['merge_commits'])}/{cycles} merges"
        )

    # exactly one winner per version: contiguous committed sequence,
    # and no version claimed by both writers
    versions = list_versions(spark, TABLE)
    if versions != list(range(1, len(versions) + 1)):
        violations.append(f"version sequence not contiguous: {versions}")
    a_versions = {v for _, v in stats["merge_commits"]}
    b_versions = set(stats["compact_commits"])
    both = a_versions & b_versions
    if both:
        violations.append(
            f"versions claimed by BOTH writers (two winners): {sorted(both)}"
        )
    claimed = len(a_versions) + len(b_versions) + 2  # + seed commits
    if claimed != len(versions):
        violations.append(
            f"{len(versions)} committed versions != {claimed} claimed "
            "(a commit nobody owns, or an owned commit that vanished)"
        )
    conflicts = stats["merge_conflicts"] + stats["compact_conflicts"]
    if conflicts == 0:
        violations.append(
            "zero ConcurrentCommitErrors across the soak — the writers "
            "never actually raced; raise cycles or slow the table"
        )

    # losers' staging dirs reclaimed; the live snapshot untouched
    # (min_age 0 is safe here: both writers have joined, none in flight)
    vacuum(spark, TABLE, min_age_seconds=0)
    live = set(read_commit(spark, TABLE)["dirs"])  # manifest dir names
    leftover = {
        p.name for p in Path(TABLE).iterdir() if p.name.startswith("v-")
    }
    if leftover != live:
        violations.append(
            f"post-vacuum dirs {sorted(leftover)} != live snapshot "
            f"{sorted(live)}"
        )
    post_vacuum_marks = [
        r["o_clerk"]
        for r in txn_read(spark, TABLE)
        .filter(SLICE_PRED)
        .select("o_clerk")
        .distinct()
        .collect()
    ]
    if post_vacuum_marks != [last_marker]:
        violations.append(
            f"post-vacuum serve {post_vacuum_marks} != {last_marker!r}"
        )

    doc = {
        "table_rows": n_total,
        "slice_rows": n_slice,
        "cycles": cycles,
        "elapsed_s": elapsed,
        "merge_commits": len(stats["merge_commits"]),
        "compact_commits": len(stats["compact_commits"]),
        "merge_conflicts": stats["merge_conflicts"],
        "compact_conflicts": stats["compact_conflicts"],
        "reads": stats["reads"],
        "committed_versions": len(versions),
        "violations": violations,
    }
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1)
        print(f"banked -> {out_path}", flush=True)
    else:
        print(json.dumps(doc, indent=1))
    for v in violations:
        print(f"VIOLATION {v}", flush=True)
    return 1 if violations else 0


if __name__ == "__main__":
    args = sys.argv[1:]

    def opt(name, default=None):
        return args[args.index(name) + 1] if name in args else default

    sys.exit(
        main(
            cycles=int(opt("--cycles", "10")),
            out_path=opt("--out"),
        )
    )
