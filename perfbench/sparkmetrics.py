"""Read Spark's own accounting of a finished action: SQL operator metrics
from an executed plan, and job times from the application status store.

Both readers take the session or DataFrame and call into the JVM through
py4j; neither needs the Spark UI (they work with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

from dataclasses import dataclass

#: metric type -> factor to the base unit (seconds for times, bytes and
#: plain counts otherwise), as SQLMetric.metricType() names them
_TYPE_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0,
               "average": 1.0}


def plan_metrics(df) -> dict[str, float]:
    """Sum every SQL metric of ``df``'s executed plan by metric key.

    Call this after an action on ``df`` itself (``df.collect()``): only
    then is ``df``'s QueryExecution the one that ran. An action that
    builds its own QueryExecution, such as ``df.count()`` or
    ``df.write.format("noop").save()``, leaves ``df``'s plan unexecuted
    and every value here reads 0.

    Adaptive plans are unwrapped to their final plan and query stages to
    the plan they ran; a reused exchange is counted once, at the
    original. Times come back in seconds, sizes in bytes.
    """
    totals: dict[str, float] = {}

    def visit(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            visit(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            visit(node.plan())
            return
        if cls == "ReusedExchangeExec":
            return
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()
            scale = _TYPE_SCALE.get(metric.metricType(), 1.0)
            key = kv._1()
            totals[key] = totals.get(key, 0.0) + metric.value() * scale
        children = node.children()
        for i in range(children.size()):
            visit(children.apply(i))

    visit(df._jdf.queryExecution().executedPlan())
    return totals


@dataclass(frozen=True)
class Job:
    job_id: int
    submitted_s: float
    completed_s: float
    tasks: int

    @property
    def wall_s(self) -> float:
        return self.completed_s - self.submitted_s


def last_job_id(spark) -> int:
    """Highest job id the status store knows, -1 before the first job."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())),
               default=-1)


def jobs_after(spark, job_id: int) -> list[Job]:
    """Finished jobs with an id above ``job_id``, in id order, with
    submission and completion times (epoch seconds, millisecond
    resolution) from the status store's ``jobsList``."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= job_id or j.completionTime().isEmpty():
            continue
        out.append(Job(
            job_id=j.jobId(),
            submitted_s=j.submissionTime().get().getTime() / 1e3,
            completed_s=j.completionTime().get().getTime() / 1e3,
            tasks=j.numCompletedTasks(),
        ))
    return sorted(out, key=lambda j: j.job_id)


def busy_s(jobs: list[Job]) -> float:
    """Wall time during which at least one of ``jobs`` was running (the
    union of their intervals, so overlapping jobs count once)."""
    total, end = 0.0, float("-inf")
    for j in sorted(jobs, key=lambda j: j.submitted_s):
        start = max(j.submitted_s, end)
        if j.completed_s > start:
            total += j.completed_s - start
        end = max(end, j.completed_s)
    return total
