"""Per-layer tracing for the traced run: spans around the calls into each
layer, and per-op Spark execution metrics read from the driver's
in-process status store.

Spans are kept in memory and written once when the run ends.  Every op
runs under its own job group, so the jobs it launches from the calling
thread are found by group.  Jobs the engine launches from its own
threads carry no group (for example the overlapped IVF x PQ fit); they
are counted as unattributed and, because ops run one at a time, still
added to the op that was running.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

MB = 1024 * 1024

# exec.* counters summed over the stages of an op's jobs
EXEC_FIELDS = (
    "jobs",
    "unattributed_jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)

CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Spans plus Spark counters for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seen_ungrouped: set[int] = set(self._ungrouped())
        self._groups = 0

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    # -- job groups and the status store -------------------------------

    def begin_op(self, name: str) -> str:
        # jobs launched between ops (untimed checks) are nobody's
        self._seen_ungrouped.update(self._ungrouped())
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self.sc.setJobGroup(group, name, False)
        return group

    def _ungrouped(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def end_op(self, group: str) -> dict:
        """exec.* counters of every job launched since ``begin_op``."""
        self.sc._jsc.clearJobGroup()
        grouped = self.job_ids(group)
        ungrouped = [j for j in self._ungrouped() if j not in self._seen_ungrouped]
        self._seen_ungrouped.update(ungrouped)
        out = dict.fromkeys(EXEC_FIELDS, 0.0)
        out["jobs"] = float(len(grouped) + len(ungrouped))
        out["unattributed_jobs"] = float(len(ungrouped))
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        no_status = self.sc._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stage_ids: set[int] = set()
        for jid in grouped + ungrouped:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["task_run_s"] += s.executorRunTime() / 1e3
                out["task_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["input_mb"] += s.inputBytes() / MB
                out["shuffle_read_mb"] += (
                    s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()
                ) / MB
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        return out

    def build_jobs(self, group: str) -> int:
        """Jobs the op launched so far (called between build and action)."""
        fresh = [j for j in self._ungrouped() if j not in self._seen_ungrouped]
        return len(self.job_ids(group)) + len(fresh)

    def persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def heap_used_mb(self) -> float:
        rt = self.spark._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / MB


def catalyst_plan_s(df) -> float:
    """Analysis + optimization + planning seconds of ``df``, read after
    forcing its physical plan.  The action re-plans its own command, so
    this measures the planning layer, not the exact time the action
    spent in it."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    ms = 0
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            ms += opt.get().durationMs()
    return ms / 1e3
