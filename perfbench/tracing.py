"""Per-layer tracing from outside the program.

Spans are timed around calls into the engine's public functions; counts
come from Spark's public status surfaces, read after each traced call so
the timed window only pays for tagging the call's job group:

- ``SparkContext.statusTracker()``: the jobs of the call's job group and
  their stages and completed tasks;
- the SQL status store (``sharedState().statusStore()``, live with the UI
  disabled): the executed plans' node metrics — exchange count, shuffle
  bytes written, file bytes scanned;
- ``StreamingQuery.recentProgress`` for streaming drains.
"""

from __future__ import annotations

import itertools
import os
import re

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9][0-9,]*\.?[0-9]*) (B|KiB|MiB|GiB|TiB)")
# how far back to look for a call's executions once the store is full and
# evicting (spark.sql.ui.retainedExecutions, default 1000)
_RECENT_EXECUTIONS = 128


def parse_size(text: str) -> float:
    """Bytes in a size metric as the SQL store formats it: a bare value
    (``"216.0 B"``) or a total line followed by per-task statistics
    (``"total (min, med, max ...)\\n8.9 KiB (...)"``), whose first size
    is the total."""
    m = _SIZE.search(text.split("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


class CallStats:
    """Counts for one traced call."""

    __slots__ = ("jobs", "stages", "tasks", "exchanges", "shuffle_bytes",
                 "scan_bytes")

    def __init__(self) -> None:
        self.jobs = self.stages = self.tasks = self.exchanges = 0
        self.shuffle_bytes = self.scan_bytes = 0.0


class Tracer:
    """Tags each traced call with its own job group, then attributes the
    group's jobs, stages, tasks and plan metrics to the call."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._seq = itertools.count()
        self._executions = 0

    def begin(self) -> str:
        group = f"perfbench-{next(self._seq)}"
        self._executions = self._store.executionsCount()
        self._sc.setJobGroup(group, group, False)
        return group

    def end(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def stats(self, groups: list[str]) -> CallStats:
        out = CallStats()
        tracker = self._sc.statusTracker()
        job_ids = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        out.jobs = len(job_ids)
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stage = tracker.getStageInfo(s)
                if stage is not None and stage.numCompletedTasks:
                    out.stages += 1
                    out.tasks += stage.numCompletedTasks
        if not job_ids:
            return out
        n = self._store.executionsCount()
        k = n - self._executions
        if k <= 0:  # the store evicted as it grew: look further back
            k = min(n, _RECENT_EXECUTIONS)
        for ex in self._conv.asJava(self._store.executionsList(n - k, k)):
            jobs = {int(j) for j in self._conv.asJava(ex.jobs()).keySet()}
            if not jobs & job_ids:
                continue
            names = {m.accumulatorId(): m.name()
                     for m in self._conv.asJava(ex.metrics())}
            values = self._conv.asJava(
                self._store.executionMetrics(ex.executionId())
            )
            for acc, text in values.items():
                name = names.get(acc)
                if name == "shuffle bytes written":
                    out.exchanges += 1
                    out.shuffle_bytes += parse_size(text)
                elif name == "size of files read":
                    out.scan_bytes += parse_size(text)
        return out


# -- process memory ---------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants() -> set[int]:
    """Pids of every live descendant of this process."""
    out, stack = set(), _children(os.getpid())
    while stack:
        pid = stack.pop()
        if pid not in out:
            out.add(pid)
            stack.extend(_children(pid))
    return out


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and all its live descendants (the
    Spark JVM and its Python workers), in MiB."""
    pids = {os.getpid(), *descendants()}
    return sum(_hwm_kb(pid) for pid in pids) / 1024.0
