"""Measurement plumbing shared by the workloads: process-tree CPU and
RSS from /proc, span tracing around public calls, and per-span Spark
counters read from the application and SQL status stores."""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(rest[1]), []).append(int(d))
    return kids


def tree_pids() -> list[int]:
    """This process and all its live descendants (JVM, Python workers)."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


# HotSpot's JIT compiler threads ("C1 CompilerThread0", ...; the
# kernel keeps 15 characters of a thread name)
_JIT_THREAD = re.compile(r"C\d CompilerThre")


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name, rest = stat.split("(", 1)[1].rsplit(")", 1)
        if _JIT_THREAD.match(name):
            total += sum(int(x) for x in rest.split()[11:13])
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree, less the time of
    the JVM's JIT compiler threads. Compilation is a warm-up cost that a
    long job amortizes, but a run ends while the compiler is still busy
    (about a quarter of a theta-join iteration's CPU after 10 warm-up
    iterations, varying from JVM to JVM). Children that already exited
    and were reaped count through their parent's cutime/cstime, so
    nothing is counted twice."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in rest[11:15]) - _jit_ticks(p)
    return total / _CLK_TCK


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host so far, from the first
    line of /proc/stat: the time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_peak_rss_mb() -> float:
    """Sum of the per-process RSS high-water marks (VmHWM) of the tree."""
    kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as fh:
                m = re.search(r"^VmHWM:\s+(\d+)", fh.read(), re.M)
        except OSError:
            continue
        if m:
            kb += int(m.group(1))
    return kb / 1024.0


class Tracer:
    """Spans (name, start, end, parent, workload, iteration) kept in
    memory. When disabled, ``span`` only times; when enabled it also
    tags the Spark jobs run inside the span with a job group, so their
    stages can be read back from the status store afterwards."""

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, iteration: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "iteration": iteration,
            "group": f"perfbench-{iteration}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def of(self, iteration: int) -> list[dict]:
        return [s for s in self.spans if s["iteration"] == iteration]


class SparkCounters:
    """Reads job, stage and task counters for the jobs of one span (by
    job group) and session-wide counters (SQL executions, GC time,
    persistent RDDs) from the status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._no_status = getattr(self.app_store, "stageData$default$3")()
        self._no_quantiles = getattr(self.app_store, "stageData$default$5")()

    def sql_execs(self) -> int:
        return self.sql_store.executionsList().size()

    def gc_s(self) -> float:
        execs = self.app_store.executorList(False)
        return sum(execs.apply(i).totalGCTime() for i in range(execs.size())) / 1000.0

    def persistent_rdd_ids(self) -> set[int]:
        return set(int(k) for k in self.sc._jsc.getPersistentRDDs().keySet())

    def unpersist_except(self, keep: set[int]) -> None:
        """Drop cached frames and any persistent RDD not in ``keep``."""
        self.spark.catalog.clearCache()
        rdds = self.sc._jsc.getPersistentRDDs()
        for k in list(rdds.keySet()):
            if int(k) not in keep:
                rdds.get(k).unpersist(True)

    def _stages(self, group: str) -> tuple[list, int]:
        """(last attempt of every stage, number of jobs) of one job group."""
        tracker = self.sc._jsc.sc().statusTracker()
        stage_ids = set()
        jobs = tracker.getJobIdsForGroup(group)
        for jid in jobs:
            info = tracker.getJobInfo(int(jid))
            if info.isDefined():
                stage_ids.update(int(s) for s in info.get().stageIds())
        out = []
        for sid in sorted(stage_ids):
            attempts = self.app_store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            if attempts.size():
                out.append(attempts.apply(attempts.size() - 1))
        return out, len(jobs)

    def group_counters(self, group: str) -> dict:
        stages, n_jobs = self._stages(group)
        c = {
            "jobs": n_jobs,
            "tasks": 0,
            "shuffle_write_records": 0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        for st in stages:
            c["tasks"] += st.numCompleteTasks()
            c["shuffle_write_records"] += st.shuffleWriteRecords()
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return c
