"""Spark-side counters, read from outside the package.

- Job, stage, task and failed-task counts come from
  ``SparkContext.statusTracker()`` for the jobs of one job group (the
  tracer gives every span its own group).
- Shuffle bytes written come from the status store's stage data for the
  same stages.
- Exchange count and Python-UDF row counts come from the executed
  physical plan of a DataFrame the benchmark itself executed (final
  adaptive plan, query stages unwrapped).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_bytes_written: int = 0


def group_counts(sc, group: str) -> JobCounts:
    """Counters of every job run under job group ``group``. Skipped
    stages (reused shuffle output) count as stages but run no tasks."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = JobCounts()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is None:
                continue
            out.stages += 1
            out.tasks += stage.numCompletedTasks + stage.numFailedTasks
            out.failed_tasks += stage.numFailedTasks
            if stage.numCompletedTasks:
                out.shuffle_bytes_written += int(store.lastStageAttempt(sid).shuffleWriteBytes())
    return out


def _nodes(plan):
    """Every node of a physical plan: AQE's final plan, with query stages
    unwrapped to the exchange they materialized."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _nodes(plan.executedPlan())
        return
    yield plan
    if name.endswith("QueryStageExec"):
        yield from _nodes(plan.plan())
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _metric(node, key: str) -> int:
    metrics = node.metrics()
    return int(metrics.apply(key).value()) if metrics.contains(key) else 0


@dataclass
class PlanCounts:
    exchanges: int = 0
    python_rows: int = 0


def plan_counts(df) -> PlanCounts:
    """Exchange count and rows returned by Python UDF evaluation in the
    executed plan of ``df``; call after ``df`` has been executed."""
    out = PlanCounts()
    for node in _nodes(df._jdf.queryExecution().executedPlan()):
        name = node.getClass().getSimpleName()
        if name in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            out.exchanges += 1
        elif "Python" in name or "ArrowEval" in name:
            out.python_rows += _metric(node, "pythonNumRowsReceived")
    return out
