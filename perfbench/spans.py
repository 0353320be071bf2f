"""Spans and Spark counters for the traced run (``--trace 1``).

Spans are kept in memory and written out once, at the end of the run. A
span records its name, start, end, parent and the counters read at its
boundaries:

- ``py4j``: py4j commands the driver sent, excluding ``m`` (memory/GC)
  commands, whose number depends on when Python collects proxies;
- ``jobs``/``stages``/``tasks``: from ``statusTracker()``, through a job
  group set for the span;
- plan metrics (shuffle bytes, spill, rows read) from the executed plan's
  SQL metrics, added by the caller with ``Tracer.plan_metrics``.

With tracing off, ``span`` only reads the clock, so the untraced run pays
nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class _Py4jCounter:
    """Counts the commands the gateway client sends, by command letter."""

    def __init__(self, client):
        self.counts: dict[str, int] = {}
        send = client.send_command

        def counting_send(command, *args, **kwargs):
            kind = command[:1]
            self.counts[kind] = self.counts.get(kind, 0) + 1
            return send(command, *args, **kwargs)

        client.send_command = counting_send

    def total(self) -> int:
        return sum(n for k, n in self.counts.items() if k != "m")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._py4j = (_Py4jCounter(spark.sparkContext._gateway._gateway_client)
                      if enabled else None)

    def py4j_calls(self) -> int:
        return self._py4j.total() if self._py4j else 0

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = False, **attrs):
        """Time a block. With ``spark_jobs`` (traced run only) the block's
        Spark jobs run under their own job group, and the span records
        their job, stage and task counts."""
        rec = {"id": next(self._ids), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        if not self.enabled:
            rec["start"] = time.perf_counter()
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
            return
        sc = self.spark.sparkContext
        group = f"bench-{rec['id']}"
        if spark_jobs:
            sc.setJobGroup(group, name)
        self._stack.append(rec)
        calls0 = self.py4j_calls()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls() - calls0
            self._stack.pop()
            if spark_jobs:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(_job_counts(sc, group))
            self.spans.append(rec)

    def plan_metrics(self, df) -> dict[str, int]:
        """Shuffle bytes, spill bytes and scanned rows of an executed
        DataFrame, summed over its final physical plan."""
        out = {"shuffle_bytes": 0, "spill_bytes": 0, "rows_read": 0}
        if self.enabled:
            _walk_plan(df._jdf.queryExecution().executedPlan(), out)
        return out

    def storage(self) -> dict[str, float]:
        """Pinned state now: persisted RDDs and the block-manager storage
        (memory + disk) they hold."""
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        return {"persisted_rdds": len(infos), "storage_mb": used / 2**20}

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def _job_counts(sc, group: str) -> dict[str, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in (info.stageIds if info else ()):
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# SQL metric keys summed per node class; a scan's output rows are the rows
# the plan read.
_SHUFFLE_KEYS = ("shuffleBytesWritten",)
_SPILL_KEYS = ("spillSize",)
_SCAN_NODES = ("FileSourceScanExec", "InMemoryTableScanExec",
               "BatchScanExec", "RowDataSourceScanExec", "LocalTableScanExec")


def _walk_plan(node, out: dict[str, int]) -> None:
    cls = node.getClass().getSimpleName()
    metrics = node.metrics()
    for key in _SHUFFLE_KEYS:
        if metrics.contains(key):
            out["shuffle_bytes"] += metrics.apply(key).value()
    for key in _SPILL_KEYS:
        if metrics.contains(key):
            out["spill_bytes"] += metrics.apply(key).value()
    if cls in _SCAN_NODES and metrics.contains("numOutputRows"):
        out["rows_read"] += metrics.apply("numOutputRows").value()
    if cls == "AdaptiveSparkPlanExec":
        children = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        children = [node.plan()]
    elif cls == "ReusedExchangeExec":
        children = []       # its exchange ran once and is counted there
    else:
        seq = node.children()
        children = [seq.apply(i) for i in range(seq.size())]
    for child in children:
        _walk_plan(child, out)
