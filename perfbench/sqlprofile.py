"""Per-operator profiles read from Spark's SQL status store.

Spark keeps every SQL execution's physical plan graph and the final
values of its SQL metrics in the session's status store, also with the
web UI disabled.  This module reads them back from outside the engine:

    spark._jsparkSession.sharedState().statusStore()
        .executionsList() / .planGraph(id) / .executionMetrics(id)

A metric that several tasks reported reads as
``"total (min, med, max (stageId: taskId))\\n12.0 s (1 ms, 3 ms, 9.1 s (stage 4.0: task 17))"``;
``parse_metric`` turns either form into numbers (seconds for timings,
bytes for sizes).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "min": 60.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_QUANT = re.compile(r"^([-\d.,]+)\s*([A-Za-z]*)$")
# "<total> (<min>, <med>, <max> (stage s.a: task t))"; average metrics
# have no total
_SPLIT = re.compile(r"^(?:(.*?) )?\((.*?), (.*?), (.*?) \(stage [^)]*\)\)$")

PYTHON_SENT = "data sent to Python workers"
PYTHON_RECV = "data returned from Python workers"
PYTHON_TIME = "time to run Python workers"
# the only metric of a WholeStageCodegen node: run time of its fused
# pipeline (scan, filter, aggregate, ... inside it), not code generation
WSCG_TIME = "duration"


def _quantity(text: str) -> float:
    m = _QUANT.match(text.strip())
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def parse_metric(value: str) -> tuple[float, float | None, float | None]:
    """Metric string -> (total, med, max); med/max are None when the
    metric has a single value, and an average metric's total is its
    median."""
    last = value.strip().splitlines()[-1]
    m = _SPLIT.match(last)
    if m is None:
        return _quantity(last), None, None
    med, mx = _quantity(m.group(3)), _quantity(m.group(4))
    return (_quantity(m.group(1)) if m.group(1) else med), med, mx


@dataclass(frozen=True)
class OpMetric:
    execution: int
    node: str        # physical operator name, e.g. "HashAggregate"
    metric: str      # e.g. "time in aggregation build"
    total: float
    med: float | None
    max: float | None


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def _store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark) -> int:
    """Highest SQL execution id recorded so far (-1 when none)."""
    return max((e.executionId() for e in _iter(_store(spark).executionsList())), default=-1)


def executions_after(spark, after_id: int) -> list[int]:
    return sorted(
        e.executionId()
        for e in _iter(_store(spark).executionsList())
        if e.executionId() > after_id
    )


def profile_execution(spark, execution_id: int) -> list[OpMetric]:
    """Every (operator, metric) of one SQL execution with its value."""
    store = _store(spark)
    values = store.executionMetrics(execution_id)
    out = []
    for node in _iter(store.planGraph(execution_id).allNodes()):
        name = node.name().split(" ")[0]
        for metric in _iter(node.metrics()):
            v = values.get(metric.accumulatorId())
            if not v.isDefined():
                continue
            try:
                total, med, mx = parse_metric(v.get())
            except ValueError:
                continue  # a display format this parser does not know
            out.append(OpMetric(execution_id, name, metric.name(), total, med, mx))
    return out


def node_kinds(ops: list[OpMetric]) -> set[str]:
    """Operator names present, with every Python runner reported as
    ``PythonEval`` (ArrowEvalPython, MapInPandas, ... all carry the
    Python-worker metrics)."""
    kinds = {op.node for op in ops}
    if any(op.metric == PYTHON_SENT for op in ops):
        kinds.add("PythonEval")
    return kinds


def summarize(ops: list[OpMetric]) -> dict[str, float]:
    """Fold operator metrics into the benchmark's Spark/UDF layer metrics."""
    def total(pred) -> float:
        return sum(op.total for op in ops if pred(op))

    skew = 1.0
    for op in ops:
        # task-time skew of the worst stage: max/median task time over
        # the per-task timings that carry real work (>= 50 ms in total)
        if op.med and op.max and op.total >= 0.05 and (
            (op.node == "WholeStageCodegen" and op.metric == WSCG_TIME)
            or op.metric == PYTHON_TIME
        ):
            skew = max(skew, op.max / op.med)
    return {
        "spark.scan_s": total(lambda o: o.node == "Scan" and o.metric == "scan time"),
        "spark.wscg_task_s": total(
            lambda o: o.node == "WholeStageCodegen" and o.metric == WSCG_TIME),
        "spark.agg_build_s": total(lambda o: o.metric == "time in aggregation build"),
        "spark.shuffle_bytes": total(lambda o: o.metric == "shuffle bytes written"),
        "spark.shuffle_records": total(lambda o: o.metric == "shuffle records written"),
        "spark.spill_bytes": total(lambda o: o.metric == "spill size"),
        "spark.task_skew": skew,
        "udf.python_s": total(lambda o: o.metric == PYTHON_TIME),
        "udf.bytes_to_python": total(lambda o: o.metric == PYTHON_SENT),
        "udf.bytes_from_python": total(lambda o: o.metric == PYTHON_RECV),
    }


class JobCounter:
    """Jobs, stages run and tasks completed between two points, from
    the SparkContext status tracker (exact counts, not timings)."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.before = set(self.tracker.getJobIdsForGroup())

    def counts(self) -> dict[str, int]:
        jobs = set(self.tracker.getJobIdsForGroup()) - self.before
        stages, tasks = set(), 0
        for job in jobs:
            info = self.tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0 and sid not in stages:
                    stages.add(sid)
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
