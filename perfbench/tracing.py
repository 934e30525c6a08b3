"""Tracing for the per-layer run.

Spans (name, start, end, parent, trace id) are recorded in memory around
each call into a public layer of the program and written out once, at the
end of the run.  Spark-side counters are read from outside the program:

* job group -> jobs / stages / tasks through ``SparkContext.statusTracker``;
* Catalyst phase times from ``queryExecution().tracker().phases()``;
* shuffle and Python-worker SQL metrics by walking the executed plan;
* per-micro-batch ``durationMs`` through a ``StreamingQueryListener``.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {"trace_id": self.trace_id, "span_id": sid,
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


_groups = itertools.count(1)


@contextmanager
def job_group(spark, label: str):
    """Run the body under a fresh job group; yields a dict that receives the
    jobs/stages/tasks the body ran once it exits."""
    sc = spark.sparkContext
    gid = f"perfbench-{label}-{next(_groups)}"
    sc.setJobGroup(gid, label)
    out: dict = {}
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        out.update(scheduler_counts(spark, sc.statusTracker().getJobIdsForGroup(gid)))


def scheduler_counts(spark, jobs: list[int]) -> dict:
    """Jobs, stages that ran at least one task, and tasks completed."""
    st = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


_PHASES = ("analysis", "optimization", "planning")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def execute_traced(jdf) -> dict:
    """Execute a DataFrame through its own QueryExecution; its
    ``plan_metrics``."""
    qe = jdf.queryExecution()
    qe.toRdd().count()
    return plan_metrics(qe)


def plan_metrics(qe) -> dict:
    """Catalyst phase times (ms) of an executed QueryExecution and the SQL
    metrics of its final (post-AQE) physical plan: shuffle bytes written and
    rows/bytes crossing the Python-worker boundary."""
    out = {p: 0.0 for p in _PHASES}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    out.update(shuffle_bytes=0, python_rows=0, python_bytes=0)
    seen: set = set()
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        name = node.nodeName()
        metrics = node.metrics()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        if name.endswith("QueryStage"):
            todo.append(node.plan())
        if name == "Exchange" and metrics.contains("dataSize"):
            out["shuffle_bytes"] += int(metrics.apply("dataSize").value())
        if metrics.contains("pythonDataSent"):
            out["python_bytes"] += int(metrics.apply("pythonDataSent").value())
            out["python_bytes"] += int(metrics.apply("pythonDataReceived").value())
            out["python_rows"] += int(metrics.apply("pythonNumRowsReceived").value())
        todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return out


def engine_metrics(traced: dict) -> dict:
    """``plan_metrics`` output under the per-layer metric names."""
    out = {f"catalyst.{p}_ms": traced[p] for p in _PHASES}
    out["exchange.shuffle_bytes"] = traced["shuffle_bytes"]
    out["python_worker.rows"] = traced["python_rows"]
    out["python_worker.bytes"] = traced["python_bytes"]
    return out


class ProgressListener(StreamingQueryListener):
    """Collects ``durationMs`` of every micro-batch that read rows, by
    batch id."""

    def __init__(self):
        self.durations: dict[int, dict] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows > 0:
            self.durations[p.batchId] = dict(p.durationMs)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def durations_of(self, batch_ids: list[int], timeout: float = 10.0) -> list[dict]:
        """``durationMs`` of the given micro-batches; progress events arrive
        asynchronously, so wait up to ``timeout`` seconds for them."""
        deadline = time.time() + timeout
        while (any(b not in self.durations for b in batch_ids)
               and time.time() < deadline):
            time.sleep(0.05)
        return [self.durations[b] for b in batch_ids]


def jvm_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
