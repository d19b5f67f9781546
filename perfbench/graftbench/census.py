"""Per-operation Spark counters, read from the driver's in-process
status store (these work with the UI disabled).

- Jobs: every job id the DAG scheduler handed out while the operation
  ran. The operation's thread also sets a job group; jobs that a
  streaming query starts run on the stream's own thread and group, so
  the id range is what covers both.
- Stages, tasks, executor time and bytes: `statusStore().stageData`.
- Planning phases and Python-worker metrics: a QueryExecutionListener
  (implemented here through the py4j callback server) reads
  `QueryExecution.tracker().phases()` and `observability.plan_metrics`
  of each executed plan.
- Streaming: a StreamingQueryListener sums micro-batch progress.

Listeners are registered only while an operation is traced.
"""

from __future__ import annotations

from collections import defaultdict
from types import SimpleNamespace

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
}

# substrings of the physical operators that run Python workers
# (BatchEvalPython, ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas,
# ApplyInPandasWithState, ...)
PYTHON_NODE_HINTS = ("Python", "Pandas", "Arrow")


class _QueryListener:
    """py4j implementation of org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, sink: dict) -> None:
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        from howto_mongo_bulk_update_from_parquet_spark.observability import (
            plan_metrics)
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            self.sink[f"spark.{kv._1()}_s"] += kv._2().durationMs() / 1e3
        # the metric walk is hundreds of py4j calls: only for plans that
        # run Python workers
        plan = qe.executedPlan().toString()
        if not any(t in plan for t in PYTHON_NODE_HINTS):
            return
        metrics = plan_metrics(SimpleNamespace(
            _jdf=SimpleNamespace(queryExecution=lambda: qe)))
        for k, v in metrics.items():
            if k.endswith(".pythonNumRowsReceived"):
                self.sink["operators.python_rows"] += v
            elif k.endswith(".pythonDataSent"):
                self.sink["operators.python_bytes_sent"] += v

    def onFailure(self, func_name, qe, exc):  # noqa: N802 - Java API
        self.sink["spark.failed_queries"] += 1

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self, sink: dict) -> None:
        self.sink = sink

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        self.sink["streaming.batches"] += 1
        self.sink["streaming.add_batch_ms"] += p.durationMs.get("addBatch", 0)
        self.sink["streaming.query_planning_ms"] += p.durationMs.get(
            "queryPlanning", 0)
        rows = sum(s.numRowsTotal for s in p.stateOperators)
        mem = sum(s.memoryUsedBytes for s in p.stateOperators)
        self.sink["streaming.state_rows"] = max(
            self.sink["streaming.state_rows"], rows)
        self.sink["streaming.state_memory_bytes"] = max(
            self.sink["streaming.state_memory_bytes"], mem)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class SparkCensus:
    """Opens and closes one operation's census window."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self.sc._gateway
        ensure_callback_server_started(gw)
        self._empty = gw.jvm.java.util.ArrayList()
        self._quantiles = gw.new_array(gw.jvm.double, 0)
        self.sink: dict = defaultdict(float)
        self._qel = _QueryListener(self.sink)
        self._sql = _StreamListener(self.sink)
        self._first_job = 0

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    def start(self, op_id: int, label: str) -> None:
        self.sink.clear()
        self.spark._jsparkSession.listenerManager().register(self._qel)
        self.spark.streams.addListener(self._sql)
        self.sc.setJobGroup(f"graftbench-op-{op_id}", label)
        self._first_job = self.next_job_id()

    def stop(self, wall_s: float) -> dict:
        """Close the window: drain the listener bus, then read the
        status store for the jobs the operation started."""
        last_job = self.next_job_id()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._jsc.listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().unregister(self._qel)
        self.spark.streams.removeListener(self._sql)
        out = dict(self.sink)
        out["spark.jobs"] = last_job - self._first_job
        stages: set[int] = set()
        for jid in range(self._first_job, last_job):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:         # evicted from the status store
                continue
            sids = job.stageIds()
            stages.update(sids.apply(i) for i in range(sids.size()))
        n_stages = tasks = 0
        sums = defaultdict(float)
        for sid in stages:
            try:
                attempts = self._store.stageData(sid, False, self._empty,
                                                 False, self._quantiles)
            except Py4JJavaError:         # evicted from the status store
                continue
            ran = False
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numCompleteTasks() == 0:
                    continue               # skipped: its output was reused
                ran = True
                tasks += sd.numCompleteTasks()
                for name, (field, scale) in STAGE_FIELDS.items():
                    sums[name] += getattr(sd, field)() * scale
            n_stages += ran
        out["spark.stages"] = n_stages
        out["spark.tasks"] = tasks
        out.update(sums)
        cores = self.sc.defaultParallelism
        out["spark.core_busy_share"] = (
            sums["spark.executor_run_s"] / (wall_s * cores) if wall_s > 0
            else 0.0)
        return out
