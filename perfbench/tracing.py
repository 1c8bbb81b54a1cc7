"""Spans around calls into the engine's layers, with Spark's own counters.

Each span runs its Spark jobs under a job group of its own.  When the span
closes, the stage rows of that group's jobs are read from the Spark driver JVM's
``AppStatusStore`` (the store behind the Spark UI, which stays disabled):
jobs, stages, tasks, executor run/CPU/GC time, shuffle, spill and
input/output bytes.  Reading per span, not once at the end, matters
because the store evicts rows beyond ``spark.ui.retained*``.

Spans are kept in memory and written out by the caller when the run ends.
With tracing off, :meth:`Tracer.span` is a no-op that sets no job group
and reads no counters.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

# Stage-row fields summed into a span's counts.
_STAGE_SUMS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    op_id: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class StageReader:
    """Reads stage rows for one job group from the JVM status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        status = jvm.org.apache.spark.status.api.v1.StageStatus
        self._statuses = jvm.java.util.ArrayList()
        self._statuses.add(status.COMPLETE)
        self._statuses.add(status.FAILED)
        # py4j cannot see Scala default arguments: fetch them explicitly.
        self._details = getattr(self._store, "stageList$default$2")()
        self._task_status = getattr(self._store, "stageList$default$5")()
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def read(self, group: str, summaries: bool = False) -> dict:
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        counts = {"jobs": len(job_ids), "stages": 0, **{k: 0 for k in _STAGE_SUMS}}
        if not stage_ids:
            return counts
        rows = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(
                    self._statuses, self._details, summaries, self._quantiles, self._task_status
                )
            )
        )
        slowest_run = -1
        straggler = 0.0
        for row in rows:
            if row["stageId"] not in stage_ids:
                continue
            counts["stages"] += 1
            for k, src in _STAGE_SUMS.items():
                counts[k] += row.get(src) or 0
            # straggler ratio (slowest task / median task) of the stage
            # with the most executor run time
            dist = (row.get("taskMetricsDistributions") or {}).get("executorRunTime")
            if dist and row["executorRunTime"] > slowest_run:
                slowest_run = row["executorRunTime"]
                straggler = dist[1] / max(dist[0], 1.0)
        if summaries:
            counts["max_task_over_median"] = straggler
        return counts


def join_output_rows(df) -> int:
    """Rows the join operators of ``df``'s executed plan produced, summed
    from their ``numOutputRows`` SQL metrics; call it after an action on
    ``df``.  For a scored join (query x corpus row, then a dot product per
    output row) this is the number of rows scored.  Adaptive query stages
    are followed into the plans they wrap; reused exchanges are not
    counted twice."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if "Join" in kind or kind == "CartesianProductExec":
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                total += metric.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total


class Tracer:
    """Records nested spans; ``enabled=False`` makes every span free."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = spark
        self._reader = StageReader(spark) if enabled else None

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None, summaries: bool = False):
        if not self.enabled:
            yield None
            return
        sc = self._spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent.span_id if parent else None,
                  op_id if op_id is not None else (parent.op_id if parent else None),
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"span-{sp.span_id}"
        sc.setJobGroup(group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"span-{parent.span_id}", parent.name, False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sp.counts = self._reader.read(group, summaries)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span timed by the caller (one without Spark jobs
        of its own group, such as the session start)."""
        if self.enabled:
            self.spans.append(Span(name, len(self.spans), None, None, start, end, {}))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it covered by child spans."""
        covered = sum(c.dur for c in self.spans if c.parent == sp.span_id)
        return sp.dur - covered

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name, "span_id": s.span_id, "parent": s.parent, "op_id": s.op_id,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "self_s": round(self.self_time(s), 6), "counts": s.counts,
            }
            for s in self.spans
        ]
