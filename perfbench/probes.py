"""Per-layer counters for the traced run.

Everything here reads Spark's own bookkeeping from outside the package:

* :class:`StatusCounters` diffs the engine's status store (jobs from the
  DAG scheduler, stage-level task metrics from ``stageList``) and the SQL
  status store (Arrow Python-worker traffic) around one call.
* :class:`StreamProbe` is a ``StreamingQueryListener`` that summarises the
  progress events of the streaming queries started during one call.
* :func:`jvm_peak_rss_mb` reads the driver JVM's ``VmHWM``.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener

SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.input_bytes", "spark.input_records", "spark.output_bytes", "spark.output_records",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.executor_run_s", "spark.executor_cpu_s",
    "pyworker.bytes_sent", "pyworker.bytes_received",
)
STREAM_KEYS = (
    "streaming.queries", "streaming.batches", "streaming.empty_batches",
    "streaming.first_batch_s", "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.input_rows", "streaming.state_rows", "streaming.state_mem_bytes",
)
_PY_METRICS = {"data sent to Python workers": "pyworker.bytes_sent",
               "data returned from Python workers": "pyworker.bytes_received"}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")


def drain_listeners(spark: SparkSession) -> None:
    """Wait until every listener, this process's streaming listeners
    too, has handled every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _size_total(text: str) -> float:
    """Total of a formatted SQL size metric.  With one task Spark prints
    just the size; otherwise ``"total (min, med, max ...)\\n<total> (...)"``."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class StatusCounters:
    """Diff of the status stores around one call: ``begin()`` then ``end()``."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._mark: tuple[int, int, int] | None = None

    def _stages(self) -> list[dict]:
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        stages = self._jsc.statusStore().stageList(empty, False, False, quantiles, empty)
        return json.loads(self._mapper.writeValueAsString(stages))

    def _max_stage(self) -> int:
        return max((s["stageId"] for s in self._stages()), default=-1)

    def _max_execution(self) -> int:
        n = self._sql_store.executionsCount()
        if n == 0:
            return -1
        return self._sql_store.executionsList(int(n) - 1, 1).head().executionId()

    def begin(self) -> None:
        drain_listeners(self._spark)
        self._mark = (self._jsc.dagScheduler().numTotalJobs(), self._max_stage(),
                      self._max_execution())

    def end(self) -> dict[str, float]:
        drain_listeners(self._spark)
        jobs0, stage0, exec0 = self._mark
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        out["spark.jobs"] = self._jsc.dagScheduler().numTotalJobs() - jobs0
        for s in self._stages():
            if s["stageId"] <= stage0 or s["status"] == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += (s["numCompleteTasks"] + s["numFailedTasks"]
                                   + s["numKilledTasks"])
            out["spark.failed_tasks"] += s["numFailedTasks"]
            out["spark.input_bytes"] += s["inputBytes"]
            out["spark.input_records"] += s["inputRecords"]
            out["spark.output_bytes"] += s["outputBytes"]
            out["spark.output_records"] += s["outputRecords"]
            out["spark.shuffle_read_bytes"] += s["shuffleReadBytes"]
            out["spark.shuffle_write_bytes"] += s["shuffleWriteBytes"]
            out["spark.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            out["spark.executor_run_s"] += s["executorRunTime"] / 1e3
            out["spark.executor_cpu_s"] += s["executorCpuTime"] / 1e9
        out.update(self._pyworker(exec0))
        return out

    def _pyworker(self, exec0: int) -> dict[str, float]:
        out = {k: 0.0 for k in _PY_METRICS.values()}
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        n = int(self._sql_store.executionsCount())
        recent = self._sql_store.executionsList(max(0, n - 500), 500)
        for ex in conv.asJava(recent):
            if ex.executionId() <= exec0:
                continue
            ids = {m.accumulatorId(): _PY_METRICS[m.name()]
                   for m in conv.asJava(ex.metrics()) if m.name() in _PY_METRICS}
            if not ids:
                continue
            values = conv.asJava(self._sql_store.executionMetrics(ex.executionId()))
            for acc_id, text in values.items():
                if acc_id in ids:
                    out[ids[acc_id]] += _size_total(text)
        return out


def _ts(text: str) -> float:
    return datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp()


class StreamProbe(StreamingQueryListener):
    """Summarises progress events; ``take()`` returns and resets the sums
    for the queries seen since the last ``take()``."""

    def __init__(self):
        self._started: dict[str, float] = {}
        self._progress: dict[str, list] = {}

    def onQueryStarted(self, event) -> None:
        self._started[str(event.runId)] = _ts(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self._progress.setdefault(str(p.runId), []).append(
            (p.numInputRows, dict(p.durationMs), _ts(p.timestamp),
             sum(op.numRowsTotal for op in p.stateOperators),
             sum(op.memoryUsedBytes for op in p.stateOperators)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> dict[str, float]:
        out = dict.fromkeys(STREAM_KEYS, 0.0)
        out["streaming.queries"] = len(self._started)
        for run_id, batches in self._progress.items():
            out["streaming.batches"] += len(batches)
            out["streaming.empty_batches"] += sum(1 for b in batches if b[0] == 0)
            out["streaming.input_rows"] += sum(b[0] for b in batches)
            out["streaming.add_batch_s"] += sum(b[1].get("addBatch", 0) for b in batches) / 1e3
            out["streaming.wal_commit_s"] += sum(b[1].get("walCommit", 0) for b in batches) / 1e3
            first = batches[0]
            if run_id in self._started:
                out["streaming.first_batch_s"] += (
                    first[2] + first[1].get("triggerExecution", 0) / 1e3
                    - self._started[run_id])
            out["streaming.state_rows"] += batches[-1][3]
            out["streaming.state_mem_bytes"] += batches[-1][4]
        self._started.clear()
        self._progress.clear()
        return out


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident set (``VmHWM``) of the driver JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def files_since(root: str, since: float, skip: str) -> tuple[int, int]:
    """Files (and their bytes) under ``root`` modified at or after
    ``since``, outside ``skip`` (the engine's scratch space)."""
    n = size = 0
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath.startswith(skip):
            dirnames.clear()
            continue
        for name in filenames:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except FileNotFoundError:
                continue
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size
