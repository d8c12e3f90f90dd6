"""Spark counters read after the fact, adding no Spark jobs.

:class:`Collector` snapshots a session before a span and diffs it after:

* jobs, stages and tasks come from the application status store
  (``sc._jsc.sc().statusStore()``), which works with ``spark.ui.enabled``
  false; the job ids of a span are the range the DAG scheduler handed out
  while it ran;
* per-node SQL metrics come from every query execution that ended in the
  span, delivered by a ``QueryExecutionListener`` that walks the executed
  plan (final adaptive plan included) and keeps exact metric values.

Both sources are fed by Spark's asynchronous listener bus, so a snapshot
first waits for the bus to drain. Nothing here runs a job: reading the
status store and walking plans are driver-side metadata calls.
"""

from __future__ import annotations

import statistics
import threading

from py4j.protocol import Py4JJavaError
from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import SparkSession

# SQL-metric name of the bytes a Python-evaluating node sends to workers;
# any node carrying it crosses the JVM/Python boundary
PYTHON_BYTES_SENT = "pythonDataSent"

STAGE_SUMS = {
    # counter name: (StageData getter, scale to the reported unit)
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_read_records": ("shuffleReadRecords", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
}


def _seq(jseq) -> list:
    """A Scala Seq as a Python list."""
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _plan_children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    return _seq(node.children())


def walk_plan(root) -> list[dict]:
    """Pre-order list of ``{"name", "metrics", "children"}`` for a physical
    plan; ``children`` are indices into the list."""
    nodes: list[dict] = []

    def visit(node) -> int:
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        idx = len(nodes)
        nodes.append({"name": node.nodeName(), "metrics": metrics, "children": []})
        nodes[idx]["children"] = [visit(c) for c in _plan_children(node)]
        return idx

    visit(root)
    return nodes


class _ExecutionListener:
    """Py4J implementation of ``QueryExecutionListener``; keeps each ended
    execution's plan-node metrics."""

    def __init__(self) -> None:
        self.executions: list[dict] = []
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 (Java API)
        try:
            nodes = walk_plan(qe.executedPlan())
        except Exception as e:  # a listener must not kill the listener bus
            with self._lock:
                self.errors.append(f"{func_name}: {e}")
            return
        with self._lock:
            self.executions.append({"func": func_name, "duration_ns": duration_ns, "nodes": nodes})

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        with self._lock:
            self.errors.append(f"{func_name} failed")

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Collector:
    """Status-store and SQL-metric counters around spans of one session."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._listener = _ExecutionListener()
        self.errors = self._listener.errors  # plan walks that failed
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self._listener)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())  # py4j unboxes the AtomicInteger

    def snapshot(self) -> tuple[int, int]:
        """(next job id, executions seen), once the listener bus is drained."""
        self._drain()
        return self.next_job_id(), len(self._listener.executions)

    def diff(self, before: tuple[int, int]) -> tuple[dict, list[dict]]:
        """Counters accrued since ``before`` and the executions that ended."""
        (job0, exec0), (job1, exec1) = before, self.snapshot()
        jobs = []
        for jid in range(job0, job1):
            try:
                jobs.append(self._store.job(jid))
            except Py4JJavaError:  # a job with no tasks may never reach the store
                continue
        stage_ids = sorted({int(s) for j in jobs for s in _seq(j.stageIds())})
        stages = []
        for sid in stage_ids:
            try:
                stages.append(self._store.lastStageAttempt(sid))
            except Py4JJavaError:  # skipped stages are not always recorded
                continue
        stages = [s for s in stages if s.status().toString() != "SKIPPED"]
        c: dict[str, float] = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() + s.numFailedTasks() for s in stages),
            "failed_tasks": sum(s.numFailedTasks() for s in stages),
        }
        for name, (getter, scale) in STAGE_SUMS.items():
            c[name] = sum(getattr(s, getter)() for s in stages) * scale
        wait = 0.0
        skew_stage, skew_read = None, -1
        for s in stages:
            tasks = _seq(self._store.taskList(s.stageId(), s.attemptId(), 1 << 30))
            wait += sum(t.schedulerDelay() for t in tasks) * 1e-3
            if s.shuffleReadBytes() > skew_read:
                skew_stage, skew_read = tasks, s.shuffleReadBytes()
        c["scheduler_wait_s"] = wait
        c["task_skew"] = _skew(skew_stage) if skew_read > 0 else 0.0
        execs = self._listener.executions[exec0:exec1]
        c.update(python_counters(execs))
        return c, execs


def _skew(tasks) -> float:
    """Max task duration over median task duration of one stage."""
    durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
    med = statistics.median(durs) if durs else 0
    return max(durs) / med if med else 0.0


def python_counters(executions: list[dict]) -> dict:
    """JVM/Python boundary traffic summed over the Python-evaluating nodes."""
    out = {"python_rows_sent": 0, "python_bytes_sent": 0, "python_bytes_received": 0, "python_exec_s": 0.0}
    for ex in executions:
        nodes = ex["nodes"]
        for n in nodes:
            m = n["metrics"]
            if PYTHON_BYTES_SENT not in m:
                continue
            out["python_rows_sent"] += sum(input_rows(nodes, c) for c in n["children"])
            out["python_bytes_sent"] += m[PYTHON_BYTES_SENT]
            out["python_bytes_received"] += m.get("pythonDataReceived", 0)
            out["python_exec_s"] += m.get("pythonTotalTime", 0) * 1e-3
    return out


def input_rows(nodes: list[dict], idx: int) -> int:
    """Rows a node receives: the output-row count of the nearest node
    below it that counts rows (codegen wrappers and projections do not)."""
    n = nodes[idx]
    if "numOutputRows" in n["metrics"]:
        return n["metrics"]["numOutputRows"]
    return sum(input_rows(nodes, c) for c in n["children"])


def verify_yield(executions: list[dict]) -> tuple[int, int]:
    """(accepted, candidates) at the Python verify nodes fed by a join: the
    pairs that passed the exact-cosine check over the pairs sent to it."""
    accepted = candidates = 0
    for ex in executions:
        nodes = ex["nodes"]
        for n in nodes:
            if n["name"] == "MapInPandas":
                candidates += sum(input_rows(nodes, c) for c in n["children"])
                accepted += n["metrics"].get("pythonNumRowsReceived", 0)
    return accepted, candidates
