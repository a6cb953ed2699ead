"""Spark-side counters for the traced run, read through py4j because the
Spark UI (and its REST API) is disabled by the program's session.

- jobs, stages and tasks per job group, from the status tracker;
- shuffle-write bytes, spill bytes and Python-boundary rows per SQL
  execution, from the SQL status store's final (AQE) plan graph;
- streaming micro-batches, from a benchmark-registered listener.
"""

from __future__ import annotations

import re

from pyspark.sql.streaming import StreamingQueryListener

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)\b")
_NUMBER = re.compile(r"[0-9][0-9,]*")


def _metric_value(text: str, metric_type: str) -> float:
    """First figure of a formatted SQL metric: the total, which the
    formatter prints before any (min, med, max) breakdown."""
    if metric_type == "size":
        m = _SIZE.search(text)
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0
    m = _NUMBER.search(text)
    return float(m.group(0).replace(",", "")) if m else 0.0


def group_counts(spark, groups) -> dict[str, int]:
    """Jobs, stages that ran a task, and completed tasks over job groups."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks > 0:
                    stages += 1
                    tasks += stage.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def sql_metrics(spark, first: int, last: int) -> dict[str, float]:
    """Shuffle-write bytes, spill bytes and rows out of Python-runner nodes
    over SQL executions [first, last), each accumulator counted once."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {"shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "python_rows": 0.0}
    if last <= first:
        return out
    execs = store.executionsList(first, last - first).iterator()
    while execs.hasNext():
        eid = execs.next().executionId()
        values = store.executionMetrics(eid)
        seen = set()
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            node_name = node.name()
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                acc = m.accumulatorId()
                if acc in seen:
                    continue
                seen.add(acc)
                name = m.name()
                if name == "shuffle bytes written":
                    key = "shuffle_write_bytes"
                elif name == "spill size":
                    key = "spill_bytes"
                elif name == "number of output rows" and node_name.startswith(PYTHON_NODES):
                    key = "python_rows"
                else:
                    continue
                got = values.get(acc)
                if got.isDefined():
                    out[key] += _metric_value(got.get(), m.metricType())
    return out


def plan_nodes(df) -> int:
    """Operator count of the DataFrame's executed (initial AQE) plan."""
    return len(df._jdf.queryExecution().executedPlan().treeString().splitlines())


class BatchCounter(StreamingQueryListener):
    """Counts streaming micro-batches (one progress event per batch)."""

    def __init__(self):
        self.batches = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.batches += 1

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def flush_listeners(spark) -> None:
    """Wait until the listener bus has delivered every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
