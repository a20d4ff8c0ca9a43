"""Read Spark's own SQL metrics and task counts after a job, from outside the
library: walk the executed physical plan of a collected DataFrame, descending
through AQE query stages, and fold node metrics into fixed ``spark.*`` names.
The walk only reads; it triggers no job."""

from __future__ import annotations

from collections import defaultdict
from typing import Dict

_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0 / (1 << 20),
         "sum": 1.0, "average": 1.0}

# spark metric name -> benchmark metric name
_FOLD = {"scanTime": "spark.scan_s",
         "pythonDataSent": "spark.to_python_mb",
         "pythonDataReceived": "spark.from_python_mb",
         "pythonBootTime": "spark.python_boot_s",
         "pythonInitTime": "spark.python_init_s",
         "pythonTotalTime": "spark.python_total_s",
         "shuffleBytesWritten": "spark.shuffle_write_mb",
         "shuffleWriteTime": "spark.shuffle_write_s"}

SPARK_METRICS = tuple(_FOLD.values())


def plan_metrics(df) -> Dict[str, float]:
    """Folded metrics of the plan ``df`` last executed, plus
    ``rows_into_map`` / ``rows_into_groups``: rows the map-side
    (``mapInPandas``) and grouped (``applyInPandas``) Python nodes returned."""
    out: Dict[str, float] = defaultdict(float)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name, metric = kv._1(), kv._2()
            if name in _FOLD:
                out[_FOLD[name]] += metric.value() * _UNIT.get(metric.metricType(), 1.0)
            elif name == "pythonNumRowsReceived":
                key = "rows_into_map" if cls == "MapInPandasExec" else "rows_into_groups"
                out[key] += metric.value()
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return dict(out)


def task_count(sc, group: str) -> int:
    """Tasks of every stage the jobs of one job group ran."""
    tracker = sc.statusTracker()
    tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(job_id)
        for stage_id in (job.stageIds if job else []):
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numTasks
    return tasks
