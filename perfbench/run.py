"""etlspark benchmark: one closed-loop client driving the engine's public
functions from outside, one op at a time, in a seeded order.

    python3 perfbench/run.py --workload star_sf0.1 --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout.  Workloads (see perfbench/NOTES.md):

- ``star_sf0.1``: twelve relational headline queries.
- ``lifecycle_sf0.01``: index build, cached serves, grow and takedown
  refreshes, vacuum; the only workload that writes through
  ``sources.txn``.

A run makes (or reuses) its inputs under ``.bench_build/perfbench``
from the fixtures in ``perfbench/fixtures``, sets the session up,
verifies every op once against its DuckDB oracle, then times whole
passes until ``--seconds`` have elapsed.  The last line of stdout is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A full record (environment stamp, every op sample, spans) is written to
``.bench_build/perfbench/results``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

STAR_OPS = (
    "pricing_summary",
    "faturamento_rollup",
    "top_customers_per_nation",
    "year_pivot",
    "range_condition_join",
    "preagg_join",
    "latest_order_per_customer",
    "sessionize",
    "hourly_event_counts",
    "supplier_region_share",
    "sla_leadtime",
    "sliding_event_counts",
)
DEDUP_SERVES = ("dedup_components", "dedup_keep_best", "leakage_safe_split")
ANN_SERVES = ("ivf_pq_search",)
LIFECYCLE_OPS = (
    "materialize_dedup_endgame",
    "materialize_ann_index",
    "refresh_dedup_endgame_incremental",
    "refresh_ann_index_incremental",
    "refresh_dedup_endgame_on_delete",
    "refresh_ann_index_on_delete",
    "vacuum",
) + tuple(f"cached_{q}" for q in DEDUP_SERVES + ANN_SERVES)

# ops (None: the lifecycle cycle) and the fixture scale the inputs are
# made from; --scale tiny (the self-test) reads the sf0.001 fixtures
WORKLOADS = {
    "star_sf0.1": {"ops": STAR_OPS, "fixture": "0.01", "replicas": True},
    "lifecycle_sf0.01": {"ops": None, "fixture": "0.01"},
}
TINY = {"fixture": "0.001", "replicas": False}

TIME_CAP_S = 140.0  # no timed pass may be expected to end later than this

END_TO_END = {
    "setup_s": "s",
    "batch_s": "s",
    "geomean_s": "s",
    "retained_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_share": "ratio",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.unattributed_jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.core_util": "ratio",
    "txn.commits": "count",
    "txn.bytes_written_mb": "MB",
    "txn.write_amp": "ratio",
    "txn.live_dirs": "count",
    "txn.space_mb": "MB",
    "txn.vacuum_s": "s",
    "txn.vacuum_dirs": "count",
    "refresh.grow_s": "s",
    "refresh.takedown_s": "s",
    "refresh.vs_rebuild": "ratio",
    "serve.dedup_s": "s",
    "serve.ann_s": "s",
    "lifecycle.build_s": "s",
    "lifecycle.refresh_s": "s",
    "lifecycle.serve_s": "s",
    "driver.heap_used_mb": "MB",
    "driver.peak_rss_mb": "MB",
    "driver.persistent_rdds": "count",
    "fail_ratio": "ratio",
    "trace.batch_s": "s",
    "trace.overhead_s": "s",
}
for _op in sorted(set(STAR_OPS + LIFECYCLE_OPS)):
    PER_LAYER[f"op.{_op}.s"] = "s"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def summary(xs: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it, with the sample count."""
    out = {"n": len(xs), "median": _median(xs)}
    if len(xs) >= 20:
        p = math.floor(100 * (1 - 10 / len(xs)))
        out[f"p{p}"] = sorted(xs)[math.ceil(p / 100 * len(xs)) - 1]
    return out


# -- environment -------------------------------------------------------


def env_stamp() -> dict:
    """Host conditions at start; recorded, never waited on."""
    own = os.getpid()
    jvms = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == own:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            jvms += 1
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "load1": os.getloadavg()[0],
        "stray_jvms": jvms,
        "python": sys.version.split()[0],
    }


def proc_mb(pid: int, field: str) -> float:
    """``VmRSS`` / ``VmHWM`` of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def memory(spark) -> dict:
    """Peak resident memory of this process plus the driver JVM, and
    what stays in use at the end: JVM heap after a full GC plus this
    process's resident memory.  The peak depends on when the JVM's
    collector ran, so it swings from run to run; the retained figure
    does not, and still grows with cached plans, blocks and results."""
    import gc

    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    peak = proc_mb(os.getpid(), "VmHWM") + proc_mb(jvm_pid, "VmHWM")
    gc.collect()  # drops py4j proxies, which pin their JVM objects
    for _ in range(2):
        spark._jvm.System.gc()
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    heap = (rt.totalMemory() - rt.freeMemory()) / 2**20
    rss = proc_mb(os.getpid(), "VmRSS")
    return {"peak_rss_mb": peak, "retained_mb": heap + rss, "heap_live_mb": heap, "python_rss_mb": rss}


def import_engine(root: str):
    """The engine as this checkout has it, or SystemExit."""
    sys.path.insert(0, root)
    saved = list(sys.path)
    try:
        import __spark_entry__ as entry
        import etl_python_spark
        import oracle
        import tools.check_correctness  # noqa: F401  (oracle's canonicalizer)
    except ImportError as e:
        raise SystemExit(f"perfbench: engine not importable from {root}: {e}")
    finally:
        sys.path[:] = saved  # the checker adds its own path on import
    if not os.path.abspath(etl_python_spark.__file__).startswith(root + os.sep):
        raise SystemExit(f"perfbench: engine resolved outside {root}")
    return entry, oracle


# -- session -----------------------------------------------------------


def new_session(cpus: int, tmp: str):
    from etl_python_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{tmp}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def warm(spark) -> None:
    """One trivial job: the session is ready to run queries.  Per-op
    code generation and the Python worker pool warm up in the untimed
    verify pass (query workloads) or in the cycle (lifecycle)."""
    spark.range(spark.sparkContext.defaultParallelism).count()


def setup(cpus: int, tmp: str, excluded_s: float) -> tuple[object, dict]:
    """Launch the JVM, build the session and warm it.  ``setup_s`` runs
    from process start, less ``excluded_s`` (input preparation and
    oracle digests, which are cached per checkout)."""
    t1 = time.perf_counter()
    spark = new_session(cpus, tmp)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    warm(spark)
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - T_PROCESS - excluded_s, "start_s": t2 - t1, "warm_s": t3 - t2}


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# -- ops ---------------------------------------------------------------


class Runner:
    """Runs ops one at a time and keeps one record per op execution."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.records: list[dict] = []
        self.check_s = 0.0  # oracle checks: not part of any pass's wall
        self.trace_s = 0.0  # time spent in the tracer's own calls

    @contextmanager
    def tracing(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.trace_s += time.perf_counter() - t0

    def wall(self, t0: float, check0: float) -> float:
        """Seconds since ``t0``, less the oracle checks made since."""
        return time.perf_counter() - t0 - (self.check_s - check0)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def op(self, name, build, action=None, check=None, phase="timed") -> dict:
        """``build()`` returns a DataFrame (queries) or None (maintenance
        ops); ``action`` is "noop", "collect" or None; ``check(cols,
        rows)`` returns None or why the collected result is wrong."""
        from layers import catalyst_plan_s

        tr = self.tracer
        rec = {"op": name, "phase": phase}
        if tr:
            with self.tracing():
                group = tr.begin_op(name)
        try:
            with self.span("op", op=name, phase=phase):
                t0 = time.perf_counter()
                with self.span("build"):
                    df = build()
                if action is None:  # maintenance ops return bookkeeping
                    df = None
                t1 = time.perf_counter()
                rec["build_s"] = t1 - t0
                if tr:
                    with self.tracing():
                        rec["build_jobs"] = tr.build_jobs(group)
                        if df is not None:
                            with self.span("plan"):
                                rec["plan_s"] = catalyst_plan_s(df)
                t2 = time.perf_counter()
                rows = None
                with self.span("action"):
                    if action == "noop":
                        df.write.format("noop").mode("overwrite").save()
                    elif action == "collect":
                        rows = df.collect()
                rec["action_s"] = time.perf_counter() - t2
                rec["s"] = rec["build_s"] + rec["action_s"]
            if check is not None:
                tc = time.perf_counter()
                problem = check(df.columns, rows)
                self.check_s += time.perf_counter() - tc
                if problem:
                    rec["error"] = problem
        except Exception as e:  # an op failure is a result, not a crash
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            traceback.print_exc(file=sys.stderr)
        finally:
            if tr:
                with self.tracing():
                    rec.update(tr.end_op(group))
                    rec["persistent_rdds"] = tr.persistent_rdds()
        if "error" in rec:
            print(f"perfbench: FAIL {name} ({phase}): {rec['error']}", file=sys.stderr)
        self.records.append(rec)
        return rec


def another_pass(passes, t_measure: float, seconds: float) -> bool:
    """Whether a pass as long as the typical one so far would still end
    within ``seconds`` of measuring (and within the run's time cap)."""
    now = time.perf_counter()
    typical = _median([p["wall_s"] for p in passes])
    return now + typical - t_measure <= seconds and now + typical - T_PROCESS <= TIME_CAP_S


def pass_order(names, seed: int, n: int) -> list:
    order = list(names)
    random.Random(seed * 1_000_003 + n).shuffle(order)
    return order


def query_workload(run: Runner, entry, oracle, ops, data_dir, seed, seconds, inject):
    """Pass 0 collects every op and checks it against its oracle (this
    also warms the op's plans); timed passes write to the noop sink."""
    qs = entry.queries()
    fns = {n: qs[n] for n in ops}
    expected = {n: n for n in ops}
    if inject:
        fns["inject_fail"] = _inject_fail
        first = ops[0]
        fns["inject_wrong"] = lambda s, d: _inject_wrong(qs[first](s, d))
        expected.update(inject_fail=first, inject_wrong=first)

    for name in pass_order(fns, seed, 0):
        run.op(
            name,
            lambda: fns[name](run.spark, data_dir),
            "collect",
            lambda cols, rows: oracle.check(expected[name], cols, rows),
            phase="verify",
        )
    passes = []
    t_measure = time.perf_counter()
    n = 0
    while True:
        n += 1
        t0, check0, trace0 = time.perf_counter(), run.check_s, run.trace_s
        with run.span("pass", n=n):
            for name in pass_order(fns, seed, n):
                run.op(name, lambda: fns[name](run.spark, data_dir), "noop")
        passes.append(end_pass(run, n, t0, check0, trace0))
        if not another_pass(passes, t_measure, seconds):
            return passes


def _inject_fail(spark, data_dir):
    raise RuntimeError("injected failure")


def _inject_wrong(df):
    return df.unionByName(df.limit(1))


def lifecycle_workload(run: Runner, entry, oracles, dirs, roots_dir, seed, seconds, inject):
    """Whole cycles (build, serve, grow, takedown, serve, vacuum) until
    ``seconds`` have elapsed; see NOTES.md."""
    from etl_python_spark.operators import dedup, similarity
    from etl_python_spark.sources import txn

    qs = entry.queries()
    passes = []
    t_measure = time.perf_counter()
    n = 0
    while True:
        n += 1
        root = f"{roots_dir}/cycle-{n}"
        droot, aroot = f"{root}/dedup", f"{root}/ann"
        disk = TxnDisk(run.spark, (droot, aroot)) if run.tracer else None
        rng = random.Random(seed * 1_000_003 + n)
        t0, check0, trace0 = time.perf_counter(), run.check_s, run.trace_s

        def maintain(pairs, sf_dir):
            # dedup first, then ANN, as a nightly job runs them: a
            # seeded order would move the cycle's cold start between them
            for name, fn, r in pairs:
                run.op(name, lambda: fn(run.spark, sf_dir, r))
                if disk:
                    with run.tracing():
                        disk.scan()

        def serve(variant):
            # (op name, query fn, oracle name or None); the dedup serves
            # are checked on every variant, the ANN serve on base only
            sf_dir = dirs[variant]
            ops = [(f"cached_{q}", qs[q], q) for q in DEDUP_SERVES]
            ops += [(f"cached_{q}", qs[q], q if variant == "base" else None) for q in ANN_SERVES]
            if inject and variant == "base":
                dc = qs["dedup_components"]
                ops += [
                    ("inject_fail", _inject_fail, "dedup_components"),
                    ("inject_wrong", lambda s, d: _inject_wrong(dc(s, d)), "dedup_components"),
                ]
            rng.shuffle(ops)
            for name, fn, want in ops:
                check = None
                if want is not None:
                    check = lambda c, r: oracles[variant].check(want, c, r)  # noqa: E731
                run.op(name, lambda: fn(run.spark, sf_dir), "collect", check)

        with run.span("pass", n=n):
            maintain(
                [
                    ("materialize_dedup_endgame", dedup.materialize_dedup_endgame, droot),
                    ("materialize_ann_index", similarity.materialize_ann_index, aroot),
                ],
                dirs["base"],
            )
            os.environ[dedup.DEDUP_CACHE_ENV] = droot
            os.environ[similarity.ANN_CACHE_ENV] = aroot
            try:
                serve("base")
                maintain(
                    [
                        ("refresh_dedup_endgame_incremental", dedup.refresh_dedup_endgame_incremental, droot),
                        ("refresh_ann_index_incremental", similarity.refresh_ann_index_incremental, aroot),
                    ],
                    dirs["grown"],
                )
                maintain(
                    [
                        ("refresh_dedup_endgame_on_delete", dedup.refresh_dedup_endgame_on_delete, droot),
                        ("refresh_ann_index_on_delete", similarity.refresh_ann_index_on_delete, aroot),
                    ],
                    dirs["shrunk"],
                )
                serve("shrunk")
            finally:
                del os.environ[dedup.DEDUP_CACHE_ENV]
                del os.environ[similarity.ANN_CACHE_ENV]
            removed = {}

            def vacuum():
                for r in (droot, aroot):
                    removed.update({f"{r}/{t}": d for t, d in txn.vacuum_root(run.spark, r).items()})

            rec = run.op("vacuum", vacuum)
            rec["vacuum_dirs"] = sum(len(d) for d in removed.values())
        p = end_pass(run, n, t0, check0, trace0)
        if disk:
            p["txn"] = disk.totals(vacuum_dirs=rec["vacuum_dirs"])
        passes.append(p)
        shutil.rmtree(root, ignore_errors=True)
        if not another_pass(passes, t_measure, seconds):
            return passes


def end_pass(run: Runner, n: int, t0: float, check0: float, trace0: float) -> dict:
    """One pass's record: its wall time less the oracle checks, and the
    share of it the tracer spent in its own calls."""
    heap = None
    if run.tracer:
        with run.tracing():
            heap = run.tracer.heap_used_mb()
    return {"n": n, "wall_s": run.wall(t0, check0), "trace_s": run.trace_s - trace0, "heap_used_mb": heap}


class TxnDisk:
    """What the txn tables under the cache roots hold.  Tables, versions
    and the data dirs of each commit come from ``sources.txn``; only the
    byte sizing of those dirs is done here."""

    def __init__(self, spark, roots):
        self.spark = spark
        self.roots = roots
        self.written: dict[str, int] = {}  # every committed data dir -> bytes
        self.seen: set[tuple[str, int]] = set()  # (table, version) scanned

    def _tables(self):
        from etl_python_spark.sources import txn

        for root in self.roots:
            if os.path.isdir(root):
                for t in sorted(os.listdir(root)):
                    versions = txn.list_versions(self.spark, f"{root}/{t}")
                    if versions:
                        yield f"{root}/{t}", versions

    @staticmethod
    def _du(path):
        return sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        )

    def scan(self):
        """Size the data dirs of every commit not scanned yet."""
        from etl_python_spark.sources import txn

        for table, versions in self._tables():
            for v in versions:
                if (table, v) in self.seen:
                    continue
                self.seen.add((table, v))
                for d in txn.read_commit(self.spark, table, v)["dirs"]:
                    if f"{table}/{d}" not in self.written:
                        self.written[f"{table}/{d}"] = self._du(f"{table}/{d}")

    def totals(self, vacuum_dirs: int) -> dict:
        from etl_python_spark.sources import txn

        commits = live = 0
        for table, versions in self._tables():
            commits += len(versions)
            live += len(txn.read_commit(self.spark, table)["dirs"])
        space = sum(self._du(r) for r in self.roots if os.path.isdir(r))
        written = sum(self.written.values())
        return {
            "commits": commits,
            "bytes_written_mb": written / 2**20,
            "space_mb": space / 2**20,
            "write_amp": written / space if space else 0.0,
            "live_dirs": live,
            "vacuum_dirs": vacuum_dirs,
        }


# -- metrics -----------------------------------------------------------


def op_medians(records) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for r in records:
        if r["phase"] == "timed" and "s" in r:
            by.setdefault(r["op"], []).append(r["s"])
    return {k: _median(v) for k, v in by.items()}


def batch_s(records, passes) -> float:
    """A typical pass: each op's median latency over the run's passes,
    times the number of times a pass runs it, summed.  A pass slowed by
    a short spell of host noise moves this less than its wall time."""
    counts: dict[str, int] = {}
    for r in records:
        if r["phase"] == "timed" and "s" in r:
            counts[r["op"]] = counts.get(r["op"], 0) + 1
    return sum(m * counts[op] / len(passes) for op, m in op_medians(records).items())


def end_to_end(setup, passes, records, mem) -> dict:
    meds = op_medians(records)
    return {
        "setup_s": setup["setup_s"],
        "batch_s": batch_s(records, passes),
        "geomean_s": math.exp(sum(math.log(max(v, 1e-6)) for v in meds.values()) / len(meds))
        if meds
        else 0.0,
        "retained_mb": mem["retained_mb"],
    }


def per_layer(setup, passes, records, cpus, mem) -> dict:
    from layers import EXEC_FIELDS

    timed = [r for r in records if r["phase"] == "timed"]
    n = len(passes)
    batch = batch_s(records, passes)

    def per_pass(key, rs=timed):
        return sum(r.get(key, 0.0) for r in rs) / n

    def op_sum(names, key="s"):
        return per_pass(key, [r for r in timed if r["op"] in names])

    m = {
        "session.start_s": setup["start_s"],
        "session.warm_s": setup["warm_s"],
        "operators.build_s": per_pass("build_s"),
        "operators.build_jobs": per_pass("build_jobs"),
        "catalyst.plan_s": per_pass("plan_s"),
        "exec.action_s": per_pass("action_s"),
    }
    m["operators.build_share"] = m["operators.build_s"] / batch if batch else 0.0
    for f in EXEC_FIELDS:
        m[f"exec.{f}"] = per_pass(f)
    m["exec.core_util"] = m["exec.task_run_s"] / (batch * cpus) if batch else 0.0

    txns = [p["txn"] for p in passes if "txn" in p]
    for f in ("commits", "bytes_written_mb", "write_amp", "live_dirs", "space_mb", "vacuum_dirs"):
        m[f"txn.{f}"] = _median([t[f] for t in txns]) if txns else 0.0
    m["txn.vacuum_s"] = op_sum({"vacuum"})
    build = op_sum({"materialize_dedup_endgame", "materialize_ann_index"})
    grow = op_sum({"refresh_dedup_endgame_incremental", "refresh_ann_index_incremental"})
    m["refresh.grow_s"] = grow
    m["refresh.takedown_s"] = op_sum({"refresh_dedup_endgame_on_delete", "refresh_ann_index_on_delete"})
    m["refresh.vs_rebuild"] = grow / build if build else 0.0
    m["serve.dedup_s"] = op_sum({f"cached_{q}" for q in DEDUP_SERVES})
    m["serve.ann_s"] = op_sum({f"cached_{q}" for q in ANN_SERVES})
    m["lifecycle.build_s"] = build
    m["lifecycle.refresh_s"] = grow + m["refresh.takedown_s"]
    m["lifecycle.serve_s"] = m["serve.dedup_s"] + m["serve.ann_s"]
    heaps = [p["heap_used_mb"] for p in passes if p.get("heap_used_mb") is not None]
    m["driver.heap_used_mb"] = heaps[-1] if heaps else 0.0
    m["driver.peak_rss_mb"] = mem["peak_rss_mb"]
    m["driver.persistent_rdds"] = float(max((r.get("persistent_rdds", 0) for r in records), default=0))
    m["fail_ratio"] = sum(1 for r in records if "error" in r) / len(records)
    m["trace.batch_s"] = batch
    m["trace.overhead_s"] = _median([p["trace_s"] for p in passes])
    meds = op_medians(records)
    for name in PER_LAYER:
        if name.startswith("op."):
            m[name] = meds.get(name[3:-2], 0.0)
    return m


# -- main --------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="tiny: the self-test's small inputs")
    ap.add_argument("--inject", action="store_true",
                    help="add one failing and one wrong-result op (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    env = env_stamp()
    entry, oracle_mod = import_engine(root)

    build = os.path.join(root, ".bench_build", "perfbench")
    spec = dict(WORKLOADS[args.workload])
    if args.scale == "tiny":
        spec.update(TINY)
    src = gen.fixture(spec["fixture"])
    run_dir = f"{build}/run-{os.getpid()}"
    tmp = f"{run_dir}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(env["cpus"]),
        SPARK_LOCAL_DIRS=f"{run_dir}/local",
        TMPDIR=tmp,
    )

    # inputs and oracle digests, cached per scale (the lifecycle
    # takedown set per seed); excluded from every measurement
    sql = entry.oracle_sql()
    t0 = time.perf_counter()
    if spec["ops"] is not None:
        data_dir = src
        tag = f"sf{spec['fixture']}"
        if spec["replicas"]:
            tag += f"x{gen.REPLICAS}"
            data_dir = gen.write_replica(f"{build}/data/star_{tag}", src, f"{run_dir}/build")
        cache = f"{build}/oracle/star_{tag}"
        oracle_mod.prepare(data_dir, cache, {n: sql[n] for n in spec["ops"]})
        oracle = oracle_mod.Oracle(cache, sql)
    else:
        tag = f"sf{spec['fixture']}"
        dirs = gen.write_lifecycle(f"{build}/data/life_{tag}", src, args.seed)
        oracles = {}
        for v, names in (("base", DEDUP_SERVES + ANN_SERVES), ("shrunk", DEDUP_SERVES)):
            cache = f"{build}/oracle/life_{tag}/{v if v == 'base' else f'{v}-{args.seed}'}"
            oracle_mod.prepare(dirs[v], cache, {n: sql[n] for n in names})
            oracles[v] = oracle_mod.Oracle(cache, sql)
    prep_s = time.perf_counter() - t0

    spark, set_up = setup(env["cpus"], tmp, prep_s)
    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer(spark)
    run = Runner(spark, tracer)
    try:
        if spec["ops"] is not None:
            passes = query_workload(run, entry, oracle, spec["ops"], data_dir, args.seed, args.seconds, args.inject)
        else:
            passes = lifecycle_workload(
                run, entry, oracles, dirs, f"{run_dir}/txn", args.seed, args.seconds, args.inject
            )
        mem = memory(spark)
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    records = run.records
    failed = sum(1 for r in records if "error" in r)
    if args.trace:
        metrics = per_layer(set_up, passes, records, env["cpus"], mem)
        units = PER_LAYER
    else:
        metrics = end_to_end(set_up, passes, records, mem)
        units = END_TO_END

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "env": env,
        "load1_at_end": os.getloadavg()[0],
        "run_s": time.perf_counter() - T_PROCESS,
        "input_prep_s": prep_s,
        "memory": mem,
        "setup": set_up,
        "passes": passes,
        "batch": summary([p["wall_s"] for p in passes]),
        "op_latency_pooled": summary([r["s"] for r in records if r["phase"] == "timed" and "s" in r]),
        "records": records,
        "failed_ops": sorted({r["op"] for r in records if "error" in r}),
        "metrics": metrics,
        "spans": tracer.spans if tracer else [],
    }
    os.makedirs(f"{build}/results", exist_ok=True)
    out = f"{build}/results/{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    with open(out, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={len(passes)} "
        f"failed={failed}/{len(records)} env={env} report={out}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(records),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
