"""Spark's own bookkeeping, read through the SparkContext.

``StageCollector`` diffs the application status store (jobs and stages)
around each traced operation; ``last_sql_metrics`` reads the SQL status
store's per-node metrics of the most recent execution; ``executed_plan``
and ``plan_counts`` plan a DataFrame and count the plan's nodes.  The
stores are read after the listener bus has drained, so they reflect every
finished task.
"""

from __future__ import annotations

import re

_MB = 1024.0 * 1024.0
_EXCHANGE = re.compile(r"^[\s+\-:*()\d]*\w*Exchange\b")
_PYTHON = re.compile(r"^[\s+\-:*()\d]*\w*(EvalPython|InPandas|InArrow)\w*\b")


def drain(spark) -> None:
    """Block until every posted listener event has been processed."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class StageCollector:
    """Totals of the jobs and stages that ran since ``start()``."""

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
              "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
              "spill_mb")

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self._empty = spark.sparkContext._gateway.jvm.java.util.ArrayList()
        self.totals = dict.fromkeys(self.FIELDS, 0.0)
        self._job = self._stage = -1

    def _stages(self):
        st = self.store
        return st.stageList(self._empty, False, False,
                            getattr(st, "stageList$default$4")(),
                            getattr(st, "stageList$default$5")())

    def start(self) -> None:
        drain(self.spark)
        jobs, stages = self.store.jobsList(self._empty), self._stages()
        self._job = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        self._stage = max((stages.apply(i).stageId() for i in range(stages.size())),
                          default=-1)

    def stop(self) -> dict:
        """Add the work since ``start()`` to the totals; return that delta."""
        drain(self.spark)
        d = dict.fromkeys(self.FIELDS, 0.0)
        jobs = self.store.jobsList(self._empty)
        d["jobs"] = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > self._job)
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= self._stage or s.status().toString() == "SKIPPED":
                continue
            d["stages"] += 1
            d["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            d["failed_tasks"] += s.numFailedTasks()
            d["executor_run_s"] += s.executorRunTime() / 1e3
            d["executor_cpu_s"] += s.executorCpuTime() / 1e9
            d["gc_s"] += s.jvmGcTime() / 1e3
            d["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            d["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            d["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
        for k, v in d.items():
            self.totals[k] += v
        return d


def last_sql_metrics(spark) -> list[tuple[str, str, str]]:
    """(node name, metric name, value text) of the newest SQL execution."""
    drain(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    eid = execs.apply(execs.size() - 1).executionId()
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    out = []
    for i in range(nodes.size()):
        node = nodes.apply(i)
        ms = node.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out.append((node.name(), m.name(), v.get()))
    return out


def metric_sum(metrics, node_prefix: str, metric: str) -> int:
    """Sum of an integer SQL metric over the nodes whose name starts with
    ``node_prefix`` (values like ``"1,234"``)."""
    return sum(int(v.replace(",", "")) for n, m, v in metrics
               if n.startswith(node_prefix) and m == metric)


def executed_plan(df) -> str:
    """Analyse, optimise and physically plan ``df``; return the plan text."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_counts(plan: str) -> tuple[int, int]:
    """(exchange nodes, Python evaluation nodes) in a physical plan text."""
    lines = plan.splitlines()
    return (sum(1 for ln in lines if _EXCHANGE.match(ln)),
            sum(1 for ln in lines if _PYTHON.match(ln)))
