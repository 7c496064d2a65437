"""Readers for the traced run: py4j command counts, planned-node counts,
the status store's jobs and stages, Python-node SQL metrics, storage
info and streaming progress. Each reader turns JVM objects into plain
dicts that ``stats`` aggregates."""

from __future__ import annotations

import re
import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from stats import MB, PYTHON_METRICS


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Py4jCounter:
    """Counts commands the driver sends through the py4j gateway, by
    wrapping ``send_command`` of both connection classes."""

    def __init__(self) -> None:
        self.calls = 0
        self._lock = threading.Lock()
        self._patched: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            original = cls.send_command

            def counted(conn, command, *a, _orig=original, **kw):
                with self._lock:
                    self.calls += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = counted
            self._patched.append((cls, original))

    def uninstall(self) -> None:
        for cls, original in self._patched:
            cls.send_command = original
        self._patched.clear()


_PY_NODE = re.compile(
    r"\b(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|"
    r"AggregateInPandas|WindowInPandas|ArrowEvalPythonUDTF|BatchEvalPythonUDTF)\b"
)


def plan_node_counts(tree: str) -> dict[str, int]:
    """Node counts of a physical plan's ``treeString``. ``Exchange`` is a
    shuffle; ``BroadcastExchange`` and ``ReusedExchange`` are not."""
    counts = {"exchanges": 0, "broadcasts": 0, "python_nodes": 0, "cache_scans": 0}
    for line in tree.splitlines():
        node = re.sub(r"^[\s:+\-|]*(\*\(\d+\)\s*)?", "", line)
        if node.startswith("Exchange "):
            counts["exchanges"] += 1
        elif node.startswith("BroadcastExchange "):
            counts["broadcasts"] += 1
        elif node.startswith("InMemoryTableScan "):
            counts["cache_scans"] += 1
        elif _PY_NODE.match(node):
            counts["python_nodes"] += 1
    return counts


def drain_listeners(spark: SparkSession) -> None:
    """Block until the listener bus has delivered every event, so the
    status stores hold every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def read_jobs(spark: SparkSession) -> list[dict]:
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _iter(store.jobsList(None)):
        group = j.jobGroup()
        out.append({
            "job_id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "stage_ids": [int(x) for x in j.stageIds().mkString(",").split(",") if x],
        })
    return out


def read_stages(spark: SparkSession, stage_ids: set[int]) -> dict[int, dict]:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {}
    for sid in sorted(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage the store never saw
            continue
        d = {
            "status": s.status().toString(),
            "tasks": s.numCompleteTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "input_b": s.inputBytes(),
            "output_b": s.outputBytes(),
            "shuffle_read_b": s.shuffleReadBytes(),
            "shuffle_write_b": s.shuffleWriteBytes(),
            "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "task_p50_ms": 0.0,
            "task_max_ms": 0.0,
        }
        summary = store.taskSummary(sid, s.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            d["task_p50_ms"], d["task_max_ms"] = run.apply(0), run.apply(1)
        out[sid] = d
    return out


def read_python_executions(spark: SparkSession) -> list[dict]:
    """SQL executions that contain a Python node, with the formatted
    values of that node's metrics."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _iter(store.executionsList()):
        eid = e.executionId()
        metrics = []
        values = None
        for node in _iter(store.planGraph(eid).allNodes()):
            if not _PY_NODE.match(node.name()):
                continue
            if values is None:
                values = store.executionMetrics(eid)
            for m in _iter(node.metrics()):
                if m.name() in PYTHON_METRICS:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics.append((m.name(), v.get()))
        if metrics:
            jobs = [int(x) for x in e.jobs().keySet().mkString(",").split(",") if x]
            out.append({"jobs": jobs, "metrics": metrics})
    return out


def stored_mb(spark: SparkSession) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


class StreamProgress(StreamingQueryListener):
    """Sums micro-batch durations reported by every streaming query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches = 0
        self.trigger_ms = 0.0
        self.add_batch_ms = 0.0
        self.planning_ms = 0.0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:  # runs on the py4j callback thread
        d = event.progress.durationMs
        with self._lock:
            self.batches += 1
            self.trigger_ms += d.get("triggerExecution", 0)
            self.add_batch_ms += d.get("addBatch", 0)
            self.planning_ms += d.get("queryPlanning", 0)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> tuple[int, float, float, float]:
        with self._lock:
            return self.batches, self.trigger_ms, self.add_batch_ms, self.planning_ms
