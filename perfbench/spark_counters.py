"""Spark counters read from outside the package.

In a traced pass every public call runs under its own job group
(``Counters.call``).  After the call it reads:

* job ids for the group from the status tracker;
* per-stage task time, shuffle bytes and stage wall from the JVM
  status store (populated with the UI off);
* Python-node metrics (``MapInPandas``, ``FlatMapCoGroupsInPandas``,
  ``ArrowEvalPython``) from the executed plan of the Dataset that
  actually ran.  A noop write builds a fresh query execution, and under
  AQE the SQL status store keeps only the top nodes of such a write, so
  the benchmark drains a Dataset through its own query execution
  (``drain``) or collects it, and then walks that plan.

JVM ``executorCpuTime`` does not include Python-worker CPU, so kernel
cost is read from the Python-node metrics and from task wall time
(``executorRunTime``), never from JVM CPU.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# plan-node metric names of the pandas/Arrow exec nodes
PY_SENT = "pythonDataSent"
PY_RECEIVED = "pythonDataReceived"
_PY_NODE_MARKERS = ("InPandas", "ArrowEvalPython", "BatchEvalPython")


def drain(df: DataFrame) -> int:
    """Run *df* to completion through its own query execution and
    return the row count.  Equivalent to a noop write, but the executed
    plan (and its node metrics) stays reachable from ``df``."""
    return int(df._jdf.queryExecution().toRdd().count())


def _scala_map(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def python_node_metrics(df: DataFrame) -> list[dict]:
    """Metrics of every pandas/Arrow Python exec node in the executed
    plan of *df* (which must already have run).  AQE query stages are
    walked into; reused exchanges are not, so a node that ran once is
    listed once."""
    nodes = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        name = p.nodeName()
        if any(m in name for m in _PY_NODE_MARKERS):
            metrics = {k: int(v.value())
                       for k, v in _scala_map(p.metrics()).items()}
            nodes.append({"node": name, **metrics})
        children = p.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return nodes


@dataclass
class StageStats:
    stage_id: int
    task_ms: int          # Σ task wall (executorRunTime)
    shuffle_write: int
    wall_s: float         # submission → completion


@dataclass
class CallStats:
    """What one public call cost, as Spark saw it."""
    name: str
    wall_s: float = 0.0
    jobs: int = 0
    stages: list[StageStats] = field(default_factory=list)
    py_nodes: list[dict] = field(default_factory=list)

    @property
    def shuffle_bytes(self) -> int:
        return sum(s.shuffle_write for s in self.stages)

    def py_bytes(self, key: str, node_marker: str = "") -> int:
        return sum(n.get(key, 0) for n in self.py_nodes
                   if node_marker in n["node"])

    def busiest_stage(self) -> StageStats | None:
        return max(self.stages, key=lambda s: s.task_ms, default=None)


class Counters:
    """Job-group bookkeeping for one Spark session."""

    _ids = itertools.count()

    def __init__(self, spark: SparkSession, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.calls: list[CallStats] = []

    def call(self, name: str, fn, *args, plan_of=None):
        """Run ``fn(*args)`` under a fresh job group and
        record its counters.  ``plan_of(result)`` names the Dataset whose
        executed plan holds the Python-node metrics (default: the result
        itself when it is a DataFrame that has run)."""
        group = f"{self.run_id}:{name}:{next(self._ids)}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            result = fn(*args)
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        stats = CallStats(name=name, wall_s=wall)
        self._read_jobs(group, stats)
        if plan_of is not None:
            stats.py_nodes = python_node_metrics(plan_of(result))
        self.calls.append(stats)
        return result, stats

    def last(self, name: str) -> CallStats:
        return next(c for c in reversed(self.calls) if c.name == name)

    def _read_jobs(self, group: str, stats: CallStats) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stats.jobs = len(job_ids)
        stage_ids = sorted({s for j in job_ids
                            for s in (tracker.getJobInfo(j).stageIds
                                      if tracker.getJobInfo(j) else ())})
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            sub, done = sd.submissionTime(), sd.completionTime()
            wall = ((done.get().getTime() - sub.get().getTime()) / 1e3
                    if sub.isDefined() and done.isDefined() else 0.0)
            stats.stages.append(StageStats(
                stage_id=sid, task_ms=int(sd.executorRunTime()),
                shuffle_write=int(sd.shuffleWriteBytes()), wall_s=wall))


def idle_core_s(stage: StageStats | None, cores: int) -> float:
    """Core-seconds a stage left unused: cores × stage wall − Σ task
    wall.  Straggler tasks and scheduling gaps show up here."""
    if stage is None:
        return 0.0
    return cores * stage.wall_s - stage.task_ms / 1e3
