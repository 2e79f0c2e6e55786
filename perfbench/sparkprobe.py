"""Per-operation Spark layer numbers, read from outside the engine.

For one DataFrame operation this records:

- Catalyst phase times from ``queryExecution().tracker().phases()``
  (analysis runs while the DataFrame is built; optimization and
  planning run at the action);
- jobs, stages and tasks, from a job group set around the operation and
  ``statusTracker()``;
- execution time: the duration of the action's SQL executions, as the
  JVM's SQL status store records their submission and completion, less
  the optimization and planning phases that run inside them. The JVM
  records it apart from the wall time the benchmark takes around the
  action, so construction plus the action's SQL executions can be
  checked against the operation's wall time;
- shuffle bytes written and bytes spilled, summed over the executed
  plan's SQL metrics (through the adaptive plan's final stages).
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

_GROUP_IDS = itertools.count(1)
_SHUFFLE_KEYS = ("shuffleBytesWritten",)
_SPILL_KEYS = ("spillSize",)
_RECENT_EXECUTIONS = 64


@dataclass
class SparkOp:
    build_ms: float = 0.0
    action_ms: float = 0.0
    sql_ms: float = 0.0  # the action's SQL executions, from the status store
    phases_ms: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall_ms(self) -> float:
        return self.build_ms + self.action_ms

    @property
    def exec_ms(self) -> float:
        """SQL execution time not spent optimizing or planning."""
        return max(
            0.0,
            self.sql_ms
            - self.phases_ms.get("optimization", 0.0)
            - self.phases_ms.get("planning", 0.0),
        )


class Probe:
    """Runs DataFrame operations, traced or not. ``run`` returns the
    collected rows and, when traced, a filled ``SparkOp``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm

    def run(self, build, traced: bool):
        """``build()`` returns the DataFrame; the action is ``collect()``.
        Returns (DataFrame, rows, SparkOp); only a traced op carries the
        phase, job and plan numbers."""
        gid = None
        if traced:
            gid = f"perfbench-{next(_GROUP_IDS)}"
            self.sc.setJobGroup(gid, gid)
        try:
            t0 = time.perf_counter()
            df = build()
            t1, e1 = time.perf_counter(), time.time()
            rows = df.collect()
            t2, e2 = time.perf_counter(), time.time()
        finally:
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        op = SparkOp(build_ms=(t1 - t0) * 1000.0, action_ms=(t2 - t1) * 1000.0)
        if not traced:
            return df, rows, op
        qe = df._jdf.queryExecution()
        op.phases_ms = self._phases(qe)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # end events reach the stores
        op.jobs, op.stages, op.tasks = self._jobs(gid)
        op.sql_ms = self._sql_ms(float(int(e1 * 1000.0)), e2 * 1000.0)
        op.shuffle_bytes, op.spill_bytes = self._plan_bytes(qe.executedPlan())
        return df, rows, op

    def _phases(self, qe) -> dict:
        phases = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        return {str(k): float(phases.get(k).durationMs()) for k in phases.keySet()}

    def _jobs(self, gid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                sinfo = st.getStageInfo(s)
                stages += 1
                tasks += sinfo.numTasks if sinfo is not None else 0
        return len(jobs), stages, tasks

    def _sql_ms(self, lo_ms: float, hi_ms: float) -> float:
        """Time (ms) in the epoch window ``[lo_ms, hi_ms]`` covered by
        SQL executions submitted inside it. One client runs one
        operation at a time, so these are the action's executions; the
        action's are the most recent, after any that construction ran."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        recent = store.executionsList(max(0, n - _RECENT_EXECUTIONS), _RECENT_EXECUTIONS)
        spans = []
        for i in range(recent.size()):
            ex = recent.apply(i)
            sub, done = float(ex.submissionTime()), ex.completionTime()
            if lo_ms <= sub <= hi_ms and done.isDefined():
                spans.append((sub, min(hi_ms, float(done.get().getTime()))))
        return _union_ms(spans)

    def _plan_bytes(self, plan) -> tuple[int, int]:
        shuffle = spill = 0
        todo = [plan]
        while todo:
            node = todo.pop()
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if name.endswith("QueryStageExec"):  # shuffle, broadcast, result stages
                todo.append(node.plan())
                continue
            metrics = node.metrics()
            for key in _SHUFFLE_KEYS:
                m = metrics.get(key)
                if m.isDefined():
                    shuffle += int(m.get().value())
            for key in _SPILL_KEYS:
                m = metrics.get(key)
                if m.isDefined():
                    spill += int(m.get().value())
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
        return shuffle, spill


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(spans):
        lo = max(lo, end)
        if hi > lo:
            total += hi - lo
            end = hi
    return total


def unaccounted(op: SparkOp) -> int:
    """1 when construction, timed in Python, and the action's SQL
    executions, timed by the JVM (they hold the optimization and
    planning phases and the jobs), miss the op's wall time by more than
    10%. What they miss is the action's time outside any SQL
    execution: py4j calls and the result's transfer to Python."""
    parts = op.build_ms + max(
        op.sql_ms, op.phases_ms.get("optimization", 0.0) + op.phases_ms.get("planning", 0.0)
    )
    return int(abs(op.wall_ms - parts) > 0.10 * op.wall_ms)


def spark_layer(ops: list[SparkOp]) -> dict:
    """Per-op Spark layer metrics over traced ops."""
    from .common import median

    n = max(1, len(ops))
    return {
        "queries.build_ms_p50": median([o.build_ms for o in ops]),
        "spark.analysis_ms_p50": median([o.phases_ms.get("analysis", 0.0) for o in ops]),
        "spark.optimization_ms_p50": median([o.phases_ms.get("optimization", 0.0) for o in ops]),
        "spark.planning_ms_p50": median([o.phases_ms.get("planning", 0.0) for o in ops]),
        "spark.exec_ms_p50": median([o.exec_ms for o in ops]),
        "spark.jobs_per_op": sum(o.jobs for o in ops) / n,
        "spark.stages_per_op": sum(o.stages for o in ops) / n,
        "spark.tasks_per_op": sum(o.tasks for o in ops) / n,
        "spark.shuffle_bytes_per_op": sum(o.shuffle_bytes for o in ops) / n,
        "spark.spill_bytes_per_op": sum(o.spill_bytes for o in ops) / n,
    }
